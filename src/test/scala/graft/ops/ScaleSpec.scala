package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("spread plans one REPARTITION_BY_NUM shuffle at the session width") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ShuffleExchangeExec}
    // a width apart from the cores, so the test sees the conf being read
    val ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "7")
    assert(Scale.width(ns) == 7)
    val df = Scale.spread(ns.range(100).toDF("k"), col("k"))
    val shuffles = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.map(e => (e.shuffleOrigin, e.numPartitions)) ==
      Seq((REPARTITION_BY_NUM, 7)), df.queryExecution.sparkPlan.toString)
  }

  test("bucketed tables join without an exchange") {
    val a = (0L until 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (0L until 1000L).map(i => (i, s"b$i")).toDF("k", "vb")
    Scale.writeBucketedTable(a, "bk_a", "k", 8)
    Scale.writeBucketedTable(b, "bk_b", "k", 8)
    val joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(1500)}")
    assert(joined.count() == 1000)
    spark.sql("DROP TABLE bk_a"); spark.sql("DROP TABLE bk_b")
  }

  test("salted join produces the same result as a plain join") {
    // heavy skew: 90% of rows share one key
    val large = (0L until 2000L)
      .map(i => (if (i % 10 == 0) i % 7 else 42L, s"row$i"))
      .toDF("k", "payload")
    val small = Seq((42L, "hot"), (1L, "one"), (3L, "three"))
      .toDF("k", "dim")
    val plain = large.join(small, "k")
    val salted = Scale.saltedJoin(large, small, "k", saltBuckets = 8)
    assert(salted.count() == plain.count())
    val pc = plain.groupBy($"k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sc = salted.groupBy($"k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pc == sc)
  }

  test("LSH geometry widens: 2^12 buckets shrink candidate counts, " +
      "plane family is prefix-stable") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.util.Tables.t(spark, dir, "embeddings")
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val tt = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    // plane prefix property: widening the family preserves existing planes,
    // so an index's bucket bits stay meaningful under a width migration
    val p6 = Similarity.lshPlanes(64)
    val p12 = Similarity.lshPlanes(64, numPlanes = 12)
    assert(p12.take(6).map(_.toSeq) sameElements p6.map(_.toSeq))
    // candidate volume: the per-query scored-pair count must shrink
    // (structurally ~2^-6) when the bucket space grows 6 -> 12 planes
    def candidates(numPlanes: Int): Long = {
      val tb = tt.withColumn("bucket",
        Similarity.lshBucket($"te", 64, numPlanes))
      val qb = q.withColumn("bucket",
        explode(Similarity.lshProbeBuckets($"qe", 64, 2, numPlanes)))
      qb.join(tb, "bucket").filter($"qid" =!= $"tid").count()
    }
    val c6 = candidates(6)
    val c12 = candidates(12)
    assert(c12 < c6, s"expected fewer candidates at 2^12 buckets: $c12 >= $c6")
    // wider geometry must still return valid top-k rows
    val wide = Similarity.knnLsh(q, tt, dim = 64, k = 3, nProbe = 2,
      numPlanes = 12)
    assert(wide.groupBy($"qid").count().collect().forall(_.getLong(1) <= 3))
  }

  test("MinHash banding geometry: more bands (looser threshold) can only " +
      "grow the candidate set") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.util.Tables.t(spark, dir, "documents")
      .filter(length(graft.ops.Dedup.normalized($"text")) >= 5)
    // maxBucketSize is effectively off: the subset relation is a theorem
    // only cap-free (a 2-row sub-band bucket can exceed the cap while its
    // 4-row parent stays under it, dropping pairs from the looser
    // geometry) — with the cap out of the way, any 4-row band agreement
    // implies both sub-band agreements, so c4 must be a subset of c8
    def cands(bands: Int): Set[(Long, Long)] =
      Dedup.minhashCandidates(docs, "doc_id", "text", k = 5,
        maxBucketSize = 1 << 20, numHashes = 16, numBands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c4 = cands(4)  // 4 rows per band (the oracle-gated default)
    val c8 = cands(8)  // 2 rows per band (looser threshold)
    assert(c4.subsetOf(c8), s"missing: ${(c4 -- c8).take(5)}")
    intercept[IllegalArgumentException] {
      Dedup.lshBuckets(Dedup.minhashSignatures(docs, "doc_id", "text"),
        "doc_id", numHashes = 16, numBands = 5)
    }
  }

  test("range-sorted write emits globally ordered files without coalesce(1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    val df = (0L until 500L).reverse.map(i => (i, s"v$i")).toDF("k", "v")
    Scale.rangeSortedWrite(df, dir, "k", partitions = 4)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq.sorted
    assert(files.size > 1 && files.size <= 4)
    // each file internally sorted; file boundaries are range-ordered
    val perFile = files.map { f =>
      java.nio.file.Files.readAllLines(f).asScala.drop(1)
        .map(_.split(",")(0).toLong).toSeq
    }.filter(_.nonEmpty)
    perFile.foreach(ks => assert(ks == ks.sorted))
  }

  test("dedup/decontaminate APPLY gates never force-broadcast the drop " +
      "side: with broadcast priced out (the corpus-scale drop regime) " +
      "every gate plans a shuffled left-anti and still runs") {
    // At production dup rates (20-50% of a web corpus) the drop set is
    // billions of ids; a broadcast() hint on it would force every
    // executor to build that hash relation. The gates carry NO hint, so
    // pricing broadcast out (threshold -1 on both the static planner and
    // AQE) simulates exactly what AQE does when the runtime size of the
    // drop side is too large — the left-anti must degrade to a shuffled
    // join, not fail or silently broadcast anyway.
    val ns = spark.newSession()
    graft.GraftFunctions.register(ns)
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val dir = sf("sf0.001")
    for (q <- Seq("d6c_dedup_apply", "d6e_dedup_apply_best",
        "d8c_decontaminate_apply", "mm_image_dedup_apply",
        "multimodal_dedup_apply")) {
      val df = graft.SparkEntry.queries(q)(ns, dir)
      df.collect() // finalize the adaptive plan before reading it
      val p = df.queryExecution.executedPlan.toString
      val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
      assert(anti.nonEmpty, s"$q: expected a left-anti join:\n${p.take(1500)}")
      assert(anti.exists(l => !l.contains("Broadcast")),
        s"$q: the drop-side anti-join must survive as a shuffled join " +
          s"when broadcast is priced out:\n${anti.mkString("\n")}")
    }
  }

  test("unhinted drop anti-join: broadcast and shuffled strategies agree " +
      "row-for-row at a 40% drop rate") {
    // the strategy choice must never change the result: same fixture,
    // broadcast allowed vs priced out, identical survivor sets
    def run(s: org.apache.spark.sql.SparkSession): Seq[Long] = {
      val docs = s.range(0, 5000).withColumnRenamed("id", "doc_id")
      val drops = s.range(0, 5000).filter(col("id") % 5 < 2) // 40% dups
        .withColumnRenamed("id", "doc_id")
      docs.join(drops, Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val base = run(spark)
    val shuffled = run(ns)
    assert(base.size == 3000 && base == shuffled)
  }
}
