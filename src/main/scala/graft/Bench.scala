package graft
import scala.util.control.NonFatal

/** Benchmark main (driver contract): times every registered query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A warm-up action runs
  * first so session/codegen/parquet-footer costs don't land on whichever
  * query happens to run first.
  */
object Bench {
  /** Seconds `body` took, or what it threw: a query that fails is
    * recorded as a failure, never as a time. */
  def timed(body: => Any): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case NonFatal(e) => Left(e) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // warm-up: touch every table + exercise codegen once on the flagship
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    graft.util.Tables.events(spark, sfDir).count()
    SparkEntry.queries("q1_agg")(spark, sfDir).count()
    // JIT/codegen warm-up for the custom-kernel queries: a single cold run
    // pays ~7s of JIT compilation (measured), which is compile cost, not
    // query cost. Run the kernel-heavy queries once at the tiny sf0.001
    // scale so the timed sf runs measure steady-state throughput.
    val tiny = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (tiny.isDirectory && tiny.getPath != sfDir) {
      Seq("pipeline_extract", "d3_minhash_lsh", "d5_embedding_neardup",
        "knn_lsh", "x2_identify", "ta_text_profile").foreach { q =>
        try { SparkEntry.queries(q)(spark, tiny.getPath).count() }
        catch { // NonFatal only: an OOM/linkage error in warm-up must not
                // resurface confusingly in the timed runs
          case NonFatal(e) =>
            System.err.println(s"[bench] warm-up of $q failed: $e")
        }
      }
    }

    // Timed runs: `reps` full interleaved passes over the query set, keep
    // the per-query minimum. A single-pass bench couples each query's time
    // to whatever GC/JIT state its alphabetical predecessor left behind
    // (±25% observed, and one 4.8x outlier) — min-of-reps across passes
    // isolates steady-state per-query cost without forking JVMs.
    val reps = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt).getOrElse(3))
    // Family-filter mode: SPARK_GRAFT_BENCH_FILTER is a comma-separated
    // list of query-name prefixes (e.g. "knn_,d"). When set, only matching
    // queries are timed — run in a FRESH JVM to measure a family's cost
    // isolated from the full suite's working set. Used to attribute
    // round-over-round drift: isolated ≈ prior round ⇒ shared-JVM
    // working-set cost; isolated still slow ⇒ real per-query regression.
    // SPARK_GRAFT_BENCH_EXACT=1 makes each filter entry an EXACT query
    // name instead of a prefix — the scripts/bench_families.py
    // orchestrator uses this so a name that happens to prefix another
    // (knn_lsh / knn_lsh_deleted) can't be timed in two batches.
    val filterPrefixes = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val exactNames = sys.env.get("SPARK_GRAFT_BENCH_EXACT").contains("1")
    val named = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      filterPrefixes.forall(_.exists(p =>
        if (exactNames) n == p else n.startsWith(p)))
    }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // a query that threw in any pass is listed with its error and gets no
    // time: it is neither rerun nor counted in the min, median or total
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (_ <- 1 to reps; (name, fn) <- named if !failed.contains(name))
      timed(fn(spark, sfDir).count()) match {
        case Right(sec) => times(name) = sec :: times(name)
        case Left(e) =>
          System.err.println(s"[bench] $name failed: $e")
          failed(name) = e.toString.linesIterator.nextOption()
            .getOrElse("").take(200)
      }
    val ok = named.map(_._1).filterNot(failed.contains)
    // headline = min-of-reps (steady state); median emitted alongside so
    // round-over-round deltas can separate signal from scheduler noise
    def median(xs: List[Double]): Double = {
      val s = xs.sorted; s((s.length - 1) / 2)
    }
    val results = ok.map(name => name -> times(name).min)
    def jmap(m: Seq[(String, Any)]) = m
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    val med = jmap(ok.map(name => name -> median(times(name))))
    val failedJson = jmap(failed.toSeq.map { case (k, e) =>
      k -> Verify.jsonString(e) })
    val total = results.map(_._2).sum
    val filterTag = filterPrefixes.map(ps =>
      ",\"filter\":\"" + ps.mkString(",") + "\"").getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps$filterTag,"queries":$qs,"queries_median":$med,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // the driver's artifact keeps only a truncated log tail; persist the
    // COMPLETE line so every per-query min+median stays readable
    // round-over-round (best effort — the bench must not fail on I/O).
    // Filtered runs land in a separate file so they never masquerade as
    // the full-suite comparator.
    try {
      val out = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(out)
      val fname = if (filterPrefixes.isDefined) "filtered_latest.json"
                  else "full_latest.json"
      java.nio.file.Files.writeString(out.resolve(fname), line)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not persist full line: $e")
    }
    // FINAL line: a compact self-sufficient summary. A capture that keeps
    // only a ~2,000-char stdout tail (the round artifacts under
    // history/BENCH_rN.json did) never holds the full 292-query line
    // above ("parsed": null every round). This line — total, per-family
    // subtotals, worst-5 queries — is sized well under the cap and printed
    // LAST so the tail always contains one parseable record; orchestrators
    // that want the complete per-query data take the FIRST metric line
    // (bench_families.py does).
    // Its metric name is "total_summary" — distinct from the full line's —
    // so no consumer can mistake the worst-5 "queries" map for complete
    // per-query data; and it prints AFTER spark.stop() with sbt's
    // [success] banner suppressed (build.sbt showSuccess := false), so it
    // is the process's final stdout line and a last-line parser works.
    def family(n: String): String = {
      val head = n.takeWhile(_ != '_')
      if (head.length <= 3 && head.exists(_.isDigit))
        head.takeWhile(!_.isDigit) else head
    }
    // top-24 families + an "other" rollup: the line must stay well
    // under the driver's 2,000-char tail capture as families grow
    val famsAll = results.groupBy(r => family(r._1))
      .map { case (f, rs) => f -> math.rint(rs.map(_._2).sum * 100) / 100 }
      .toSeq.sortBy(-_._2)
    val fams =
      if (famsAll.size <= 25) famsAll
      else famsAll.take(24) :+ ("other" ->
        math.rint(famsAll.drop(24).map(_._2).sum * 100) / 100)
    val worst = results.sortBy(-_._2).take(5)
      .map { case (k, v) => k -> math.rint(v * 100) / 100 }
    val summary =
      s"""{"metric":"total_summary","value":${math.rint(total * 100) / 100},""" +
      s""""unit":"sec","reps":$reps$filterTag,"n_queries":${results.size},""" +
      s""""queries":${jmap(worst)},"families":${jmap(fams)},""" +
      s""""failed":$failedJson,""" +
      s""""note":"worst-5 in queries; full per-query data in """ +
      s"""bench/full_latest.json","sf":"$sfDir"}"""
    spark.stop()
    println(summary)
  }
}
