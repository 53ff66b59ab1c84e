package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedPlanning

import graft.io.Sinks
import graft.ops.{Components, Similarity, UnigramTok}

/** Kernels that plan under their own conf overrides do so in a child
  * session: the caller's session conf, and every other query planned on
  * it, never see the overrides. */
class ScopedPlanningSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"

  /** A fresh session, so no conf key another suite left set can mask a
    * write. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  // a 5-chain, a triangle and an isolated pair: far under one task's
  // rows, so the min-label loop runs in its single-task scope
  private def pairs(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))).toDF("id_1", "id_2")

  private def embeddings(s: SparkSession): DataFrame = {
    val rnd = new java.util.Random(7)
    val centroids = Array.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    s.createDataFrame((0L until 60L).map { i =>
      val c = centroids((i % 3).toInt)
      (i, c.zipWithIndex.map { case (x, j) =>
        x + 0.1f * new java.util.Random(i * 31 + j).nextGaussian().toFloat
      }.toSeq)
    }).toDF("tid", "te")
  }

  test("scoped kernels and mergeUpdate leave the caller's conf unchanged; " +
      "semanticDedup leaves no job description behind") {
    val s = freshSession()
    def unchanged(what: String)(call: => Unit): Unit = {
      val conf0 = s.conf.getAll
      call
      assert(s.conf.getAll == conf0, s"$what changed the session conf")
    }
    unchanged("Components.dedupVerdicts") {
      Components.dedupVerdicts(pairs(s), iters = 4).collect()
    }
    val e = embeddings(s)
    unchanged("Similarity.knnHnsw") {
      Similarity.knnHnsw(e.select(col("tid").as("qid"), col("te").as("qe"))
        .filter(col("qid") < 5), e, dim = 16, k = 3, nCells = 8).collect()
    }
    val w = UnigramTok.words(s.createDataFrame(Seq((0L, "ababab ababab cd")))
      .toDF("doc_id", "text"), "text")
    val vocab = UnigramTok.pieceVocab(w)
    unchanged("UnigramTok.segments") {
      UnigramTok.segments(w, vocab).collect()
    }
    unchanged("UnigramTok.segmentsWithPieces") {
      UnigramTok.segmentsWithPieces(w, vocab).collect()
    }
    val dir = Files.createTempDirectory("graft-scoped-merge").toString
    Sinks.writeBucketed(s.createDataFrame((0L until 250L)
      .map(i => (i, s"v0-$i"))).toDF("main_index", "content"), dir,
      "main_index")
    unchanged("Sinks.mergeUpdate") {
      Sinks.mergeUpdate(s, dir, "main_index",
        s.createDataFrame(Seq((42L, "v1-42"))).toDF("main_index", "content"),
        "content")
    }
    assert(s.read.parquet(dir).count() == 250)
    unchanged("Similarity.semanticDedup") {
      Similarity.semanticDedup(e, dim = 16, minCos = 0.9).collect()
    }
    assert(s.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("a scoped kernel on one thread never changes the plans or conf of " +
      "queries another thread plans on the same session") {
    val conf0 = spark.conf.getAll
    val p = pairs(spark)
    val w = UnigramTok.words(spark.createDataFrame(
      Seq((0L, "ababab ababab cd"))).toDF("doc_id", "text"), "text")
    val done = new AtomicBoolean(false)
    @volatile var failure: Option[Throwable] = None
    val kernel = new Thread(() =>
      try (1 to 3).foreach { _ =>
        Components.dedupVerdicts(p, iters = 4).collect()
        UnigramTok.segments(w, UnigramTok.pieceVocab(w)).collect()
      } catch { case t: Throwable => failure = Some(t) }
      finally done.set(true))
    kernel.start()
    var planned = 0
    try while (!done.get) {
      val plan = spark.range(0, 1000).groupBy(col("id") % 7).count()
        .queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
        s"planned non-adaptively while a scope was open:\n$plan")
      assert(spark.conf.getAll == conf0)
      planned += 1
    } finally kernel.join()
    failure.foreach(throw _)
    assert(planned > 0)
  }

  test("the child is reused while the parent's conf holds, and rebuilt " +
      "with the parent's new value once it changes") {
    val s = freshSession()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def scoped(): SparkSession = {
      var child: SparkSession = null
      val out = ScopedPlanning.run(s, Map(Aqe -> "false")) { adopt =>
        val df = adopt(s.range(3).toDF())
        child = df.sparkSession
        df.localCheckpoint()
      }
      assert(out.sparkSession eq s)
      assert(out.count() == 3)
      child
    }
    s.conf.set(key, "1234")
    val first = scoped()
    assert(first ne s)
    assert(first.conf.get(Aqe) == "false")
    assert(first.conf.get(key) == "1234")
    assert(scoped() eq first)
    s.conf.set(key, "5678")
    val second = scoped()
    assert(second ne first)
    assert(second.conf.get(key) == "5678")
    assert(s.conf.get(Aqe) == "true")
  }

  test("no operator under ops/ or io/ writes the session conf or the job " +
      "description") {
    val banned = Seq(".conf.set(", ".conf.unset(", "setJobDescription(")
    val roots = Seq("src/main/scala/graft/ops", "src/main/scala/graft/io")
      .map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)))
    val hits = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    }.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
