package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale-curve probe for the kNN routes: one JSON line per run, at the
  * sf dir given (ScaleGen writes the k-fold replicas).
  *
  * `runMain graft.tools.CurveProbe <sfDir> hnsw [nCells]` times the
  * HNSW family's two phases separately — CONSTRUCTION (writeHnswIndex:
  * depth cap, per-level cell-restricted lists, sidecar commits) and
  * SEARCH (knnHnswIndexed over the 50-query batch) — with recall@5
  * against the exact scan. nCells is the IVF sizing knob the
  * construction posture scales with (per-node candidate volume =
  * nProbe*n/nCells at every level): the curve runs 16 at 1x and
  * ~16*sqrt(k) at kx, the standard sqrt(n) cell rule, so the measured
  * growth reflects the deployed sizing, not a frozen 16-cell layout.
  *
  * `semdedup [nCells] [nod5]` times the index-path semantic dedup
  * against the exact all-pairs join (see [[semDedupProbe]]); `route`
  * records the semanticDedup router's decision (see [[routeProbe]]). */
object CurveProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    try args.lift(1) match {
      case Some("hnsw") => hnswProbe(spark, dir, args)
      case Some("semdedup") => semDedupProbe(spark, dir, args)
      case Some("route") => routeProbe(spark, dir)
      case _ => sys.error("usage: CurveProbe <sfDir> " +
        "{hnsw [nCells] | semdedup [nCells] [nod5] | route}")
    } finally spark.stop()
  }

  /** Router-decision evidence (r17 verdict ask #1's done-criterion): the
    * n-driven semanticDedup dispatch evaluated against the REAL corpus
    * count at this dir and the 20x/100x multiples the r17 crossover was
    * measured at — one line proving the router picks brute at 1x and
    * index at >= 20x, with the cutoff and its anchors in the record. */
  private def routeProbe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val cutoff = graft.ops.Similarity.SemDedupRouteCutoff
    def r(m: Long) = graft.ops.Similarity.semanticDedupRoute(m)
    // and the end-to-end operator exercises the same decision: run it
    // at 1x and report the route it took (pairs > 0 proves the branch
    // actually executed, not just the dispatch function)
    val tt = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("tid"), col("embedding").as("te"))
    val pairs1x =
      graft.ops.Similarity.semanticDedup(tt, dim = 64, minCos = 0.3).count()
    println(s"""{"probe":"semdedup_route","sf":"$dir","cutoff":$cutoff,""" +
      s""""n_1x":$n,"route_1x":"${r(n)}","pairs_1x":$pairs1x,""" +
      s""""n_20x":${n * 20},"route_20x":"${r(n * 20)}",""" +
      s""""n_100x":${n * 100},"route_100x":"${r(n * 100)}",""" +
      s""""anchors":"bench/scale_curve_r17.json semdedup_vs_brute"}""")
  }

  /** `semdedup <nCells>`: the d5d_semdedup_hnsw pipeline shape at
    * scale, WITHOUT the gate's in-query verdict-floor baseline (which
    * is itself the all-pairs d5 cost): build the graph store over the
    * full corpus, run the ALL-queries descent, pair + threshold +
    * distinct — the index-path embedding near-dup whose brute-force
    * twin grows quadratically. Prints build wall, dedup (search +
    * pair) wall min-of-3, and the candidate-pair count. */
  private def semDedupProbe(spark: SparkSession, dir: String,
      args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val nCells = args.lift(2).map(_.toInt).getOrElse(16)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("te"))
      .localCheckpoint()
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val n = t.count()
    val path = graft.util.TempDirs.create("semdedup-curve") + "/g"
    val t0 = System.nanoTime()
    graft.ops.Similarity.writeHnswIndex(t, path, dim = 64,
      nCells = nCells)
    val build = (System.nanoTime() - t0) / 1e9
    var dedup = Double.MaxValue
    var pairs = 0L
    for (_ <- 1 to 3) {
      val t1 = System.nanoTime()
      pairs = graft.ops.Similarity.knnHnswIndexed(spark, path, q, k = 5)
        .filter(col("cos") > 0.3)
        .select(least(col("qid"), col("tid")).as("id_1"),
          greatest(col("qid"), col("tid")).as("id_2"))
        .distinct().count()
      dedup = math.min(dedup, (System.nanoTime() - t1) / 1e9)
    }
    // the quadratic baseline the index path replaces — the d5 gate's
    // exact all-pairs join at the same threshold, min-of-3 (skippable
    // with a 4th arg "nod5": at 100x the 2e10-pair product is hours of
    // wall by construction — THAT is the payoff being measured — so
    // the 100x d5 point is extrapolated from the measured exponent)
    val runD5 = !args.lift(3).contains("nod5")
    var d5 = Double.MaxValue
    var d5Pairs = -1L
    // min-of-3 at small n isolates scheduler noise; past ~20k vectors
    // the quadratic term dominates any noise and a single run suffices
    val d5Reps = if (n > 20000) 1 else 3
    if (runD5) for (_ <- 1 to d5Reps) {
      val t2 = System.nanoTime()
      val a = e.select(col("vec_id").as("id_1"), col("embedding").as("qe"))
        .withColumn("qn",
          graft.ops.Similarity.scaledDot(col("qe"), col("qe")))
      val b = e.select(col("vec_id").as("id_2"), col("embedding").as("te"))
        .withColumn("tn",
          graft.ops.Similarity.scaledDot(col("te"), col("te")))
      d5Pairs = a.join(b, col("id_1") < col("id_2"))
        .withColumn("cos",
          graft.ops.Similarity.scaledDot(col("qe"), col("te"))
            .cast("double") /
            sqrt((col("qn") * col("tn")).cast("double")))
        .filter(col("cos") > 0.3)
        .count()
      d5 = math.min(d5, (System.nanoTime() - t2) / 1e9)
    }
    val d5Part = if (runD5)
      s""","d5_brute_sec":$d5,"d5_pairs":$d5Pairs""" else ""
    println(s"""{"query":"d5d_semdedup_hnsw","sf":"$dir","n":$n,""" +
      s""""n_cells":$nCells,"build_sec":$build,""" +
      s""""dedup_sec":$dedup,"pairs":$pairs$d5Part}""")
  }

  private def hnswProbe(spark: SparkSession, dir: String,
      args: Array[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val nCells = args.lift(2).map(_.toInt).getOrElse(16)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("te"))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val n = t.count()
    val path = graft.util.TempDirs.create("hnsw-curve") + "/g"
    val t0 = System.nanoTime()
    graft.ops.Similarity.writeHnswIndex(t, path, dim = 64,
      nCells = nCells)
    val build = (System.nanoTime() - t0) / 1e9
    // search = min-of-3 (the bench convention): the first pass pays the
    // construction's lingering checkpoint blocks / GC state, which is
    // JVM pollution, not search cost — the gate's fresh-JVM min-of-3
    // confirms the steady-state number
    var search = Double.MaxValue
    var got: org.apache.spark.sql.DataFrame = null
    var rows = 0L
    for (_ <- 1 to 3) {
      val t1 = System.nanoTime()
      got = graft.ops.Similarity.knnHnswIndexed(spark, path, q, k = 5)
        .select(col("qid"), col("tid")).localCheckpoint()
      rows = got.count()
      search = math.min(search, (System.nanoTime() - t1) / 1e9)
    }
    // checkpoint-cadence A/B (r15 verdict ask #7): the per-hop
    // localCheckpoint is the documented fix for the fused-plan blowup,
    // but each cut costs a materialization round-trip and depth grows
    // ~log_7 n — measure cutting every 2nd hop (per level) and every
    // 3rd against the default at this scale, same store, min-of-3
    def searchAt(cadence: Int): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to 3) {
        val t1 = System.nanoTime()
        graft.ops.Similarity.knnHnswIndexed(spark, path, q, k = 5,
            hopsPerCheckpoint = cadence)
          .select(col("qid"), col("tid")).localCheckpoint().count()
        best = math.min(best, (System.nanoTime() - t1) / 1e9)
      }
      best
    }
    val searchCk2 = searchAt(2)
    val searchCk3 = searchAt(3)
    // recall@5 against the exact scan — the quality axis of the scale
    // point: deeper geometry must not trade recall for the growth win
    val bf = graft.ops.Similarity.knnBruteForce(q, t, k = 5)
      .select(col("qid"), col("tid"))
    val hits = got.join(bf, Seq("qid", "tid")).count()
    val possible = bf.count()
    // LAST (it builds a second store, polluting JVM/page-cache state
    // for anything timed after it): append a fixed-size batch (~100 vectors, scale-independent) into
    // a second store built without it: if the append's wall grows with
    // the corpus, its candidate scan is corpus-bounded — the quantity
    // the (lvl, home) partition pruning exists to pin down
    val pathA = graft.util.TempDirs.create("hnsw-curve-app") + "/g"
    val batch = t.orderBy(col("tid")).limit(100).localCheckpoint()
    val base = t.join(batch.select(col("tid")), Seq("tid"), "left_anti")
      .localCheckpoint()
    graft.ops.Similarity.writeHnswIndex(base, pathA, dim = 64,
      nCells = nCells)
    val tA = System.nanoTime()
    graft.ops.Similarity.appendHnswIndex(spark, pathA, batch)
    val append = (System.nanoTime() - tA) / 1e9
    val cap = graft.ops.Similarity.hnswCap(n)
    println(s"""{"query":"knn_hnsw","sf":"$dir","n":$n,""" +
      s""""n_cells":$nCells,"cap":$cap,"build_sec":$build,""" +
      s""""search_sec":$search,"search_ckpt2_sec":$searchCk2,""" +
      s""""search_ckpt3_sec":$searchCk3,"append100_sec":$append,""" +
      s""""result_rows":$rows,""" +
      s""""recall_hits":$hits,"recall_possible":$possible}""")
  }
}
