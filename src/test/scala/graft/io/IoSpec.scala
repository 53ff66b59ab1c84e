package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def sections = Seq(
    (0L, "Chordiant Software Inc proposed the merger in 2000. More text."),
    (1L, "Prime Response Inc received an offer in 2001. Details follow."),
    (2L, "no orgs here at all, just lowercase words in 1999."))
    .toDF("doc_id", "content")

  test("X2 identifier stage: stub LLM -> from_json -> enum-checked record") {
    val out = Clients.identifyInitiators(spark, sections).collect()
    assert(out.length == 3)
    val r0 = out.head
    assert(r0.getLong(0) == 0L)
    assert(r0.getString(1) == "Chordiant Software Inc")
    assert(r0.getString(2) == "2000")
    assert(Clients.initiationTypes.contains(r0.getString(3)))
    assert(r0.getString(4).nonEmpty)
    // deterministic: same inputs -> same records
    val again = Clients.identifyInitiators(spark, sections).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("X3 embeddings via pluggable embedder preserve all columns") {
    val out = Clients.withEmbeddings(spark, sections, "content")
    assert(out.columns.toSeq == Seq("doc_id", "content", "embedding"))
    val rows = out.orderBy($"doc_id").collect()
    assert(rows.length == 3)
    assert(rows.head.getSeq[Float](2).length == 64)
  }

  test("S5/S7: bucketed write + point lookup prunes partitions") {
    val dir = tmp("bucketed")
    val df = (0L until 350L).map(i => (i, s"content-$i")).toDF("main_index", "content")
    Sinks.writeBucketed(df, dir, "main_index")
    // partition dirs exist
    assert(Files.exists(Paths.get(dir, "bucket=0")))
    assert(Files.exists(Paths.get(dir, "bucket=300")))
    val hit = Sinks.pointLookup(spark, dir, "main_index", 215L)
    assert(hit.collect().map(_.getAs[String]("content")).toSeq == Seq("content-215"))
    // partition pruning visible in the physical plan
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("bucket") && plan.contains("215"))
  }

  test("S8: merge-update rewrites only touched buckets") {
    val dir = tmp("merge")
    val df = (0L until 250L).map(i => (i, s"v0-$i")).toDF("main_index", "content")
    Sinks.writeBucketed(df, dir, "main_index")
    val updates = Seq((42L, "v1-42"), (137L, "v1-137")).toDF("main_index", "content")
    val conf0 = spark.conf.getAll
    Sinks.mergeUpdate(spark, dir, "main_index", updates, "content")
    // dynamic overwrite rides the write option; the session conf is untouched
    assert(spark.conf.getAll == conf0)
    val after = spark.read.parquet(dir)
    assert(after.filter($"main_index" === 42L).collect()
      .head.getAs[String]("content") == "v1-42")
    assert(after.filter($"main_index" === 43L).collect()
      .head.getAs[String]("content") == "v0-43")
    assert(after.count() == 250)
  }

  test("S9: ordered csv with header") {
    val dir = tmp("csv")
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("INDEX", "URL")
    Sinks.orderedCsv(df, dir, "INDEX")
    val file = Files.list(Paths.get(dir)).iterator()
    val csv = scala.jdk.CollectionConverters.IteratorHasAsScala(file).asScala
      .find(_.toString.endsWith(".csv")).get
    val lines = Files.readAllLines(csv)
    assert(lines.get(0) == "INDEX,URL")
    assert(lines.get(1).startsWith("1,"))
    assert(lines.get(3).startsWith("3,"))
  }

  test("S10: filesystem dump, one named file per record") {
    val dir = tmp("dump")
    val df = Seq((5L, "Alpha Inc", "Beta Corp", "http://x/5.txt", "body text"))
      .toDF("main_index", "company_a", "company_b", "url", "content")
    Sinks.dumpFiles(df, dir)
    val f = Paths.get(dir, "5_Alpha Inc_&_Beta Corp.txt")
    assert(Files.exists(f))
    assert(Files.readString(f) == "URL: http://x/5.txt\n\nbody text")
  }

  test("JSONL shards: declared-schema roundtrip preserves rows; shard " +
      "count pinned; reader prunes to the selected columns") {
    val dir = tmp("jsonl")
    val df = (0L until 100L).map(i => (i, s"lang${i % 3}", s"text body $i"))
      .toDF("doc_id", "lang", "text")
    Sinks.writeJsonlShards(df, dir, numShards = 4)
    assert(Sinks.dataFileCount(dir, ".json") == 4)
    val back = Sinks.readJsonl(spark, dir,
      "doc_id LONG, lang STRING, text STRING")
    assert(back.count() == 100)
    assert(back.orderBy($"doc_id").as[(Long, String, String)].collect()
      .sameElements(df.orderBy($"doc_id").as[(Long, String, String)].collect()))
    // declared schema => the scan reads only requested fields, no
    // inference job; ReadSchema must carry just doc_id
    val pruned = back.select($"doc_id")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<doc_id:bigint>"))
  }

  test("compaction: 64 fragment files -> 8 balanced files, rows intact") {
    val in = tmp("compact-in"); val out = tmp("compact-out")
    val df = (0L until 640L).map(i => (i, i % 64)).toDF("id", "b")
    df.repartition(64, $"b").write.mode("overwrite")
      .partitionBy("b").parquet(in)
    assert(Sinks.dataFileCount(in) == 64)
    val n = Sinks.compact(spark, in, out, numFiles = 8)
    assert(n == 640)
    assert(Sinks.dataFileCount(out) == 8)
    // balanced: no file carries more than 2x the mean (round-robin)
    val sizes = spark.read.parquet(out)
      .groupBy(input_file_name()).count().as[(String, Long)].collect()
    assert(sizes.length == 8 && sizes.forall(_._2 <= 160))
  }

  test("S1: deal CSV reader names 4 columns, keeps 150 passthrough") {
    val dir = tmp("deals")
    val csv = Seq(
      "1080793020,1/8/2001,Prime Response Inc,Chordiant Software Inc" +
        "," * 150,
      "1080793021,2/9/2001,CyBear Inc(Andryx Corp),Johnson & Johnson" +
        "," * 150).mkString("\n")
    Files.writeString(Paths.get(dir, "deals.csv"), csv)
    val deals = Sources.deals(spark, s"$dir/deals.csv")
    assert(deals.schema.fieldNames.take(4).toSeq ==
      Seq("deal_id", "announce_date", "target_name", "acquirer_name"))
    assert(deals.schema.fieldNames.length == 154 + 2) // + main_index, announce_dt
    val rows = deals.orderBy($"main_index").collect()
    assert(rows.head.getAs[String]("target_name") == "Prime Response Inc")
    assert(rows.head.getAs[java.sql.Date]("announce_dt").toString == "2001-01-08")
  }
}
