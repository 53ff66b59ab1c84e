package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.io.{Clients, Sinks}
import graft.ops.Similarity
import graft.util.Lineage

/** Every remote client fires once per input row per batch. Spark re-runs
  * a `mapPartitions` for each plan branch that reads it and for a range
  * sort's sampling job; the operators cut a client's output where it fans
  * out, and counting stubs (an accumulator per client) check that no path
  * calls a client twice for one row.
  */
class ClientCallsSpec extends SparkSpec {
  import spark.implicits._
  import ClientCallsSpec._

  private val Rows = 40

  /** Runs `body` with a fresh accumulator and returns the calls it saw. */
  private def calls(body: LongAccumulator => Unit): Long = {
    val acc = spark.sparkContext.longAccumulator
    body(acc)
    acc.value
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("candidateFilings fetches each search URL once") {
    val deals = (0 until Rows).map(i =>
      (i.toLong, s"Target $i Inc", s"Acquirer $i Corp", "2005-06-15"))
      .toDF("main_index", "target_name", "acquirer_name", "d")
      .withColumn("announce_dt", $"d".cast("date")).drop("d")
    val n = calls { acc =>
      noop(Crawler.candidateFilings(spark, Crawler.searchJobs(deals),
        new CountingFetcher(acc, new Clients.StubFetcher)))
    }
    assert(n == Rows)
  }

  test("validatedDocs -> locateWithFallback fetches each filing once") {
    val cands = (0 until Rows).map(i =>
      (i.toLong, s"https://archive.test/tgt$i/acq$i/doc.htm"))
      .toDF("main_index", "url")
    val names = (0 until Rows).map(i => (i.toLong, s"tgt$i", s"acq$i"))
      .toDF("main_index", "norm_target", "norm_acquirer")
    val n = calls { acc =>
      val docs = Crawler.validatedDocs(spark, cands, names,
        new CountingFetcher(acc, new Clients.StubFetcher), globalRate = 1e6)
      noop(Crawler.locateWithFallback(spark, docs))
    }
    assert(n == Rows)
  }

  test("locateWithFallback classifies each missed doc once") {
    // the cascade locates every third doc; the rest go to the classifier
    val docs = (0 until Rows).map { i =>
      val content = if (i % 3 == 0) WithSection else if (i % 3 == 1) ProseOnly
        else NoSection
      (i.toLong, s"u$i", content)
    }.toDF("main_index", "url", "content")
    val missed = (0 until Rows).count(_ % 3 != 0)
    var located: Map[Long, String] = Map.empty
    val n = calls { acc =>
      located = Crawler.locateWithFallback(spark, docs,
        new CountingLlm(acc, new Clients.StubBackgroundClassifier))
        .collect().map(r => r.getLong(0) -> r.getAs[String]("via")).toMap
    }
    assert(n == missed)
    assert(located == (0 until Rows).collect {
      case i if i % 3 == 0 => i.toLong -> "heuristic"
      case i if i % 3 == 1 => i.toLong -> "llm"
    }.toMap)
  }

  test("identifyInitiators -> orderedCsv prompts each section once") {
    val sections = (0 until Rows).map(i => (i.toLong,
      s"Chordiant Software Inc proposed merger $i in 2001. More text."))
      .toDF("doc_id", "content")
    val dir = tmp("graft-calls-csv")
    val n = calls { acc =>
      Sinks.orderedCsv(Clients.identifyInitiators(spark, sections,
        new CountingLlm(acc, new Clients.StubLlmExtractor)),
        dir.resolve("out").toString, "INDEX")
    }
    assert(n == Rows)
    assert(spark.read.option("header", "true").csv(dir.resolve("out").toString)
      .count() == Rows)
  }

  test("withEmbeddings -> semanticDedup embeds each row once") {
    val texts = (0 until Rows).map(i => (i.toLong, Topics(i % Topics.size)))
      .toDF("tid", "text")
    var pairs = 0L
    val n = calls { acc =>
      val emb = Clients.withEmbeddings(spark, texts, "text",
        new CountingEmbedder(acc, new Clients.StubEmbedder()))
        .select($"tid", $"embedding".as("te"))
      pairs = Similarity.semanticDedup(emb, dim = 64, minCos = 0.99).count()
    }
    assert(n == Rows)
    // four copies of each text: six pairs per text
    assert(pairs == Topics.size * 6)
  }

  test("fetchBodies starts no job when built and runs at the width its " +
      "rate was derived from") {
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    // an upstream shuffle: planning it under AQE would run a stage
    val jobs = (0 until Rows).map(i => (i.toLong, s"https://archive.test/$i"))
      .toDF("main_index", "url").distinct()
    spark.sparkContext.addSparkListener(listener)
    val fetched = try {
      SparkTestHooks.drain(spark.sparkContext)
      started.set(0)
      val df = Crawler.fetchBodies(spark, jobs, "url", new Clients.StubFetcher,
        globalRate = 1e6)
      SparkTestHooks.drain(spark.sparkContext)
      assert(started.get() == 0)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(fetched.collect().length == Rows)
    assert(fetched.queryExecution.toRdd.getNumPartitions ==
      Crawler.fetchPartitions(spark))
  }

  test("Lineage.cut materialises once: one call per row across readers") {
    val n = calls { acc =>
      val cut = Lineage.cut(counted(acc))
      assert(acc.value == Rows)
      assert(cut.unionByName(cut).count() == 2 * Rows)
      assert(cut.orderBy($"id").as[Long].collect().toSeq == (0L until Rows))
    }
    assert(n == Rows)
  }

  /** `Rows` ids through a counting `mapPartitions`, as a client would be. */
  private def counted(acc: LongAccumulator): DataFrame =
    spark.range(Rows).as[Long].mapPartitions { rows =>
      rows.map { id => acc.add(1); id }
    }.toDF("id")
}

object ClientCallsSpec {
  final class CountingFetcher(acc: LongAccumulator, inner: Clients.Fetcher)
      extends Clients.Fetcher {
    override def fetch(url: String): String = { acc.add(1); inner.fetch(url) }
  }

  final class CountingLlm(acc: LongAccumulator, inner: Clients.LlmExtractor)
      extends Clients.LlmExtractor {
    override def extract(prompt: String): String = {
      acc.add(1); inner.extract(prompt)
    }
  }

  final class CountingEmbedder(acc: LongAccumulator, inner: Clients.Embedder)
      extends Clients.Embedder {
    override def dim: Int = inner.dim
    override def embed(texts: Seq[String]): Seq[Array[Float]] = {
      acc.add(texts.size.toLong); inner.embed(texts)
    }
  }

  val Topics: Seq[String] = Seq(
    "quarterly revenue grew on strong cloud demand",
    "the board approved a special cash dividend",
    "regulators opened an antitrust review of the deal",
    "a new factory in Ohio starts production next spring",
    "shareholders rejected the proposed executive pay plan",
    "the lender cut its outlook after rising defaults",
    "engineers recalled twelve thousand vehicles for brake faults",
    "the airline added routes to three Asian capitals",
    "drug trial results beat analyst expectations",
    "the retailer will close forty stores by winter")

  val WithSection: String = "Filler intro paragraph here.\n\n" +
    "Background of the Merger\n\n" +
    ("On June 1 the boards met to negotiate the terms in detail.\n" * 8)
  // the section phrase only mid-prose in a long paragraph: the cascade
  // rejects it, the classifier stub accepts it
  val ProseOnly: String =
    ("the parties discussed the background of the merger\n" +
      "over several spring meetings and the results\n" +
      "were recorded in the minutes of the board\n") * 5
  val NoSection: String =
    "Entirely unrelated filler prose with nothing here. " * 10
}
