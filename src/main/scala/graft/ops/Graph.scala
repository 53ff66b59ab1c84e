package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics kernels over a weighted directed edge list
  * `(src, dst, w, outw)` where `outw` is the total outgoing weight of
  * `src`. Implemented from the public algorithms (PageRank: Page et al.
  * 1999, "The PageRank Citation Ranking") in exact fixed-point integer
  * arithmetic; the `graph_pagerank` gate's DuckDB oracle replays the
  * three unrolled iterations bit-identically, and GraphSpec checks the
  * kernel against an in-memory reference loop.
  *
  * Reference scope: the reference engine (MergeExtractor) has no graph
  * surface — this is extension tier for training-data pipelines, where
  * the same shapes rank documents by citation/link structure.
  */
object Graph {
  /** Total rank mass in fixed-point units (1e12). */
  val Scale = 1000000000000L

  /** Damping factor as an integer percentage (85/100). */
  val DampingPct = 85L

  /** Largest oriented edge set the triangle kernel will build a Bloom
    * pre-gate for: 12 bits/edge caps the bitset literal at 2^28 bits
    * (32 MiB). The literal rides the stage's task binary, which Spark
    * broadcasts ONCE per executor — not per task — so the cost is one
    * ~32 MiB transfer per stage against a wedge-shuffle reduction
    * measured at 20x (bench/scale_curve_r12.json: crossing this
    * threshold at 5x data made the query 7x slower per unit). Beyond
    * it the closing join runs unfiltered: a multi-hundred-MB bitset
    * would evict executor cache for less than the shuffle it saves. */
  val MaxBloomEdges: Long = (1L << 28) / 12

  /** Edge count above which triangleCounts keeps its two |E|-row
    * checkpoint frames DISK_ONLY instead of promoting them to the
    * default deserialized level: two deser frames at ~60 B/row must
    * sit well inside the session's unified pool beside the closing
    * join's execution memory. The anchor is MEASURED at 8 GiB: 24M
    * edges (the 20x curve point) ran green in r15 under deser levels;
    * 120M OOM'd twice, two modes attributed in
    * bench/scale_curve_r16.json — so 32M-at-8GiB, scaled LINEARLY by
    * the JVM's max heap (the unified pool is a fixed fraction of
    * heap, so edge capacity is linear in it). A 64 GiB executor keeps
    * the deser fast path to ~256M edges instead of paying the
    * measured +37% DISK_ONLY wall tax on mid-size graphs; tiny test
    * heaps floor at 1M so unit graphs always take the fast path.
    * Arithmetic order matters: heap is divided down FIRST (as a
    * double) so the product cannot overflow Long — 32e6 * maxMemory
    * overflows negative above a ~268 GiB heap, which would silently
    * pin the threshold to the 1M floor and force the DISK_ONLY path
    * (+37% measured wall tax) on exactly the large-memory hosts the
    * linear scaling exists for. */
  val MaxDeserEdges: Long = math.max(1L * 1000 * 1000,
    (32.0e6 * (Runtime.getRuntime.maxMemory.toDouble /
      (8L * 1024 * 1024 * 1024))).toLong)

  /** Per-partition row budget for the closing join's SHUFFLE_HASH
    * build side (the oriented edge set). A shuffled-hash build does
    * NOT spill, so it is only safe while each partition's hash
    * relation sits inside a task's share of execution memory: at
    * ~60 B/row (two longs in an UnsafeHashedRelation) and the unified
    * pool's default 0.6 fraction, an 8 GiB / 32-core local session
    * gives ~150 MB per concurrent task — 2M rows with headroom.
    * Scaled linearly by heap-per-core (the [[MaxDeserEdges]] anchor
    * discipline), floored at 64k so tiny test heaps still take the
    * measured-faster SHJ on unit graphs. Past the budget the join is
    * left unhinted and falls back to spillable sort-merge. */
  val MaxShjBuildRowsPerPart: Long = {
    val heapPerCore = Runtime.getRuntime.maxMemory.toDouble /
      math.max(1, Runtime.getRuntime.availableProcessors)
    val anchor = (8.0 * 1024 * 1024 * 1024) / 32 // 8 GiB / 32 cores
    math.max(64L * 1024, (2.0e6 * (heapPerCore / anchor)).toLong)
  }

  /** Wedge rows one closing-join pass may shuffle. The wedge exchange
    * is the triangle kernel's dominant transient: ~36 B/row of
    * compressed shuffle spill measured on the scale curve (20x: 820M
    * wedges ~ 30 GB; 100x: 4.1B wedges ~ 150 GB — more than this
    * host's 79 GB of free disk, the r16 wall). 1.75B rows/pass ~ 63 GB
    * keeps any single pass inside that budget while leaving every
    * measured gate and curve point <= 40x (1.64B wedges) on the
    * unchanged single-pass plan. The wedge volume is known from the
    * degree table BEFORE any wedge materializes, so pass count
    * P = ceil(wedges / this) is decided up front; passes slice the
    * oriented edge set on hash(src), so wedge generation (edge-sized
    * inputs, cheap) re-runs per pass but each closing exchange carries
    * only ~1/P of the wedge volume, and per-node counts accumulate
    * additively across the src-disjoint slices — bit-identical to the
    * single-pass result.
    *
    * The budget is DERIVED from the shuffle directory's usable space
    * (the same anchor discipline [[MaxDeserEdges]] got for heap): at
    * the measured 36 B/wedge-row, a pass may occupy 80% of what the
    * spill disk has free — the measured anchor is 63 GB-of-79-GB-free
    * (r17's 100x run: 1.75B rows/pass completed with peak transient
    * ~21 GB of block-manager spill on this host). The r17 constant is
    * kept as a FLOOR: on this host the derived value reproduces it
    * (so every gate and curve point keeps its committed plan, P=1
    * through 40x), while a 2 TB-local-disk executor derives ~44B
    * rows/pass instead of running ~30 needless slices over a
    * trillion-wedge graph. Slicing below the floor never helps — a
    * pass that small re-runs wedge generation for less transient than
    * the r17 run proved safe on the smallest disk measured. */
  val MaxWedgeRowsPerPass: Long = {
    val floor = 1750L * 1000 * 1000
    val dir = sys.props.get("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(',').head))
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    val usable =
      try new java.io.File(dir).getUsableSpace catch { case _: Exception => 0L }
    math.max(floor, (usable * 0.8 / 36.0).toLong)
  }

  /** K-CORE of an undirected pair graph by iterative peeling: drop
    * every node of degree < k (and its edges), recompute degrees,
    * repeat — the fixpoint is the maximal subgraph in which every node
    * keeps degree >= k. On a near-dup graph the k-core separates
    * genuinely interlinked duplicate clusters from pendant chains of
    * borderline pairs (the members an aggressive dedup keeps an eye on
    * vs one-off fuzz matches).
    *
    * Determinism & the oracle contract: each peel round is a pure
    * function of the previous edge set, so a `rounds`-deep unroll is
    * TRUNCATION-EQUAL across engines even when the fixpoint needs
    * fewer (later rounds are no-ops) — the early exit below fires
    * exactly when a round removes nothing (the surviving set is always
    * a subset, so equal counts mean equal sets), leaving the result
    * identical to the full unroll.
    *
    * Scale shape: each round is one degree aggregation plus two
    * semi-joins, all on 8-byte node ids; localCheckpoint per round
    * keeps the plan constant-size (the [[Components]] lineage
    * discipline). Rounds needed = longest pendant chain / 2, bounded
    * by graph diameter.
    *
    * @return (node, deg) for every surviving node with its in-core
    *         degree (>= k once converged). */
  def kcore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = pairs
      .select(least(col("id_1"), col("id_2")).as("a"),
        greatest(col("id_1"), col("id_2")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var n = edges.count()
    var round = 0
    var converged = n == 0L
    while (round < rounds && !converged) {
      val deg = edges.select(col("a").as("n"))
        .union(edges.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("c"))
      val keep = deg.filter(col("c") >= k).select(col("n"))
      val next = edges
        .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
      val m = next.count()
      converged = m == n
      edges = next
      n = m
      round += 1
    }
    edges.select(col("a").as("node")).union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }

  /** Exact-integer PageRank over a weighted edge view in which EVERY
    * node has out-edges (true for any symmetrized graph — co-purchase,
    * co-citation, mutual-link), so no dangling-mass term is needed.
    *
    * Per iteration, with floor division at exactly two points (mirrored
    * by the oracle's `//`, safe because all quantities are nonnegative):
    *
    *   contrib(v) = sum over edges (u,v): (pr(u) * w) div outw(u)
    *   pr'(v)     = (15 * (Scale div N)) div 100
    *                + (85 * contrib(v)) div 100
    *
    * Scale posture: each iteration is one shuffle-join of the rank table
    * (keyed by node) against the edge list (keyed by src) plus one
    * aggregation by dst — the standard distributed PageRank shape. The
    * rank table is localCheckpoint-ed per round so the logical plan stays
    * constant-size across iterations (the Components.propagate lineage
    * discipline); on a cluster the same cut is a reliable checkpoint.
    * Rank mass decays slightly each round from the floors — deterministic
    * and identical on both engines.
    *
    * @param edges (src, dst, w, outw); every src also appears as a dst.
    * @return (node, pr) for every node that appears as an edge src.
    */
  /** Per-node TRIANGLE participation counts over an undirected pair
    * graph — the local clustering signal (how tightly a node's
    * neighborhood interlinks) that complements PageRank's global
    * centrality; on a co-purchase/co-citation graph, triangle-dense
    * nodes sit inside genuine communities rather than hub fans.
    *
    * Algorithm: the standard DEGREE-ORDERED edge orientation (each
    * undirected edge points from its lower-(degree, id) endpoint to the
    * higher one — a total order, so the oriented graph is acyclic and
    * every triangle has exactly ONE node with two out-edges). Wedges
    * enumerate at that node only, and a wedge (u→v, u→w) closes iff
    * the oriented edge v→w exists — each triangle found exactly once,
    * no double counting, no orientation-dependent result (the triangle
    * SET is orientation-invariant, which is why an id-ordered SQL twin
    * gates this degree-ordered implementation verbatim).
    *
    * Scale posture: degree ordering is the skew defence — a hub of
    * degree d contributes wedges only for its out-edges, and max
    * out-degree under this orientation is O(sqrt(E)) (a node with
    * out-degree k has k neighbours of degree >= its own, so
    * k * deg <= 2E with k <= deg), turning the worst-case hub wedge
    * explosion O(d^2) into O(E). Every join is an equi-join on 8-byte
    * keys; the closing-edge probe ships (v, w) id pairs only.
    *
    * Wedge-shuffle pre-gate: the closing probe is the dominant shuffle
    * — O(sum of C(outdeg, 2)) wedge rows, of which only the true
    * triangles (a few percent on real graphs) survive the join. When
    * the oriented edge set is small enough for a ~12-bits-per-edge
    * bitset (<= [[MaxBloomEdges]]; one bounded count decides), a Bloom
    * over (src, dst) built by [[Bloom.buildBits]] filters wedges
    * MAP-SIDE before the exchange, cutting the shuffle to triangles +
    * the ~1% false-positive tail. The exact join still runs after, so
    * the result is bit-identical with or without the pre-gate (false
    * negatives are impossible) — which is what the id-ordered DuckDB
    * twin checks. Beyond the threshold the plain shuffle join runs
    * unfiltered: a multi-GB bitset literal would hurt more than the
    * shuffle it saves, and the sort-merge path is the honest shape at
    * that scale.
    *
    * @param pairs undirected edges as (id_1, id_2) in any orientation,
    *              duplicates and self-loops tolerated (normalized away)
    * @return (node, n_tri) for every node in >= 1 triangle
    */
  def triangleCounts(pairs: DataFrame): DataFrame =
    triangleCounts(pairs, MaxBloomEdges)

  /** Fixed-slicing variant: run the closing join in at least
    * `minClosingPasses` src-sliced passes regardless of the wedge
    * volume (an operator pinning the per-pass transient to a known
    * fraction of local disk, or a gate exercising the sliced path at a
    * scale where the budget alone would choose P = 1). Bit-identical
    * to the single-pass plan at any pass count. */
  def triangleCounts(pairs: DataFrame, minClosingPasses: Int): DataFrame =
    triangleCounts(pairs, MaxBloomEdges,
      minClosingPasses = minClosingPasses)

  /** Threshold-parameterized variant so a spec can pin the Bloom-gated
    * and ungated paths against each other (pass 0 to force the plain
    * join, Long.MaxValue to force the pre-gate). */
  private[ops] def triangleCounts(
      pairs: DataFrame, maxBloomEdges: Long,
      maxWedgeRowsPerPass: Long = MaxWedgeRowsPerPass,
      minClosingPasses: Int = 1): DataFrame = {
    // EDGE-COUNT-CONDITIONAL checkpoint storage for the two
    // edge-proportional frames (und ~ oriented ~ |E| rows each, 120M
    // at the 100x curve point) — attributed at 100x/8g in
    // bench/scale_curve_r16.json, two OOM modes in sequence:
    //  1. default deserialized MEMORY_AND_DISK: the row-object blocks
    //     outgrow the unified pool, and because every downstream stage
    //     is a concurrent 32-task full scan, the blocks under
    //     iteration are reader-pinned and cannot drop to disk when
    //     execution asks — the map-side partial aggs starve at their
    //     initial 256 KB hash map (UNABLE_TO_ACQUIRE_MEMORY);
    //  2. MEMORY_AND_DISK_SER: blocks that spilled at write time are
    //     RE-INFLATED whole on every read (BlockManager
    //     maybeCacheDiskBytesInMemory allocates the full serialized
    //     block per reading task; 32 concurrent re-inflations = raw
    //     heap OOM).
    // So: und lands DISK_ONLY first (streamed reads, write-safe and
    // read-safe at ANY |E| — no re-cache path), its count (= |E|, and
    // oriented's count too: the orientation is 1:1, so this action
    // also serves the Bloom gate below) decides the level for the hot
    // scans — small graphs PROMOTE to the default deserialized level
    // and keep the r15 wall (DISK_ONLY everywhere measured +37% at
    // 1x), big graphs stay on disk where the 100 TB posture wants
    // these intermediates anyway.
    val diskOnly = org.apache.spark.storage.StorageLevel.DISK_ONLY
    // Spread the dedup exchange itself (the checkpoint write, both
    // degree scans and the wedge explode run on its partitions). Keyed
    // on the agg keys, it feeds the distinct without a second exchange;
    // it gives up the partial-agg combine of exact duplicates, and the
    // raw pair rows are still the smallest exchange in the kernel by 30x
    // (wedges dominate). (`Scale` here is the PageRank fixed-point unit.)
    val undDisk = graft.ops.Scale.spread(pairs
      .select(least(col("id_1"), col("id_2")).as("a"),
        greatest(col("id_1"), col("id_2")).as("b"))
      .filter(col("a") =!= col("b")), col("a"), col("b"))
      .distinct()
      .localCheckpoint(true, diskOnly)
    val eCount = undDisk.count()
    // <= MaxDeserEdges: two deser |E|-row frames (~60 B/row each) must
    // sit WELL inside an 8 GiB session's unified pool beside the
    // closing join's execution memory; 24M edges (the 20x point) ran
    // green at 8 GiB in r15 under deser levels, 120M did not
    val smallGraph = eCount <= MaxDeserEdges
    // small-graph promote is a LAZY persist over the disk checkpoint —
    // the first consumer's scan populates the deser cache while
    // streaming from disk, so no dedicated materialization pass is
    // added (an eager re-checkpoint here measured +16% at 20x in the
    // same-day A/B)
    val und = if (smallGraph)
      undDisk.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else undDisk
    // deg is joined TWICE below (a-side and b-side); without a cut the
    // whole degree aggregation runs twice — exchange reuse does not fire
    // across the two renamed references (r18 profile: two identical
    // 364k-row agg stages, ~0.8 s each). One eager cut computes it once,
    // and the exact post-cut stats let the planner broadcast it when
    // small instead of guessing from the scan estimate.
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // orient each edge toward the higher (degree, id); carry the dst's
    // degree so wedge enumeration can order the two out-edges without a
    // second lookup
    val oriented = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("ddst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("ddst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddst").as("ddst"))
      .localCheckpoint(true,
        if (smallGraph)
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        else diskOnly)
    // Bloom pre-gate on the closing edge (see scaladoc): filter wedges
    // before they reach the exchange feeding the exact join. eCount
    // was measured on und above (orientation is 1:1). Built ONCE here
    // (one pass over the edge set) and reused by every closing pass.
    val bloomBits =
      if (eCount > 0 && eCount <= maxBloomEdges) {
        val mBits = {
          var m = 1L << 20
          while (m < 12L * eCount) m <<= 1
          m.toInt
        }
        Some(Bloom.buildBits(
          oriented, Seq(col("src"), col("dst")), mBits, k = 6))
      } else None
    // wedge enumeration over a (possibly src-sliced) oriented edge set:
    // a slice's out-edges are complete per src, so its wedge set is
    // exactly the wedges whose center falls in the slice
    def gatedWedges(orientedSlice: DataFrame): DataFrame = {
      // the explode inflates edge rows into wedge rows inside the
      // stage after this exchange; one spread serves both join sides
      // (self-join over the same repartition subtree)
      val o = graft.ops.Scale.spread(orientedSlice, col("src"))
      val x = o.select(col("src"), col("dst").as("v"),
        col("ddst").as("dv"))
      val y = o.select(col("src"), col("dst").as("w"),
        col("ddst").as("dw"))
      val wedges = x.join(y, Seq("src"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .select(col("src").as("u"), col("v"), col("w"))
      bloomBits.fold(wedges)(bits => wedges.filter(
        Bloom.mightContain(Seq(col("v"), col("w")), bits, k = 6)))
    }
    // SPILL-FRIENDLY CLOSING JOIN AT ANY SCALE: the wedge stream is the
    // dominant exchange (sum of C(outdeg, 2) rows — 820M at the 20x
    // curve point vs 41M at 1x), and a FIXED exchange width makes each
    // closing-sort task's working set grow linearly with the graph
    // (25M rows/task at 20x under 32 partitions — the r14 curve's
    // 8 GiB cliff: the fused sort+SMJ+partial-agg stage GC-thrashes in
    // the spill readers and dies with a raw heap OOM, attributed from
    // the stage-75 stack). The wedge volume is KNOWN from the
    // out-degree table before any wedge materializes, so the exchange
    // width scales with it (~2M wedge rows per partition, floored at
    // the session default, capped at 4096); repartitioning on the join
    // keys IS the join's own exchange, so no extra shuffle is added,
    // and at 1x the width clamps to the session default — plan
    // unchanged.
    val degRow = oriented.groupBy(col("src"))
      .agg(count(lit(1)).as("k"))
      .agg(coalesce(sum((col("k") * (col("k") - 1) / 2).cast("long")),
        lit(0L)).as("w"),
        coalesce(sum(col("k")), lit(0L)).as("e"))
      .head
    val wedgeRows = degRow.getLong(0)
    val edgeRows = degRow.getLong(1)
    val closeR = oriented.select(col("src").as("v"), col("dst").as("w"))
    // one closing pass over a wedge slice: join, then one traversal of
    // the (expensive) join output — exploding the member array replaces
    // the former 3-branch union, which re-ran the SMJ once per
    // projected corner (exchange reuse does not reuse the join itself)
    def closingCounts(orientedSlice: DataFrame, sliceWedges: Long)
        : DataFrame = {
      // the spread width, grown with the wedge volume (see above)
      val nPart = math.max(
        graft.ops.Scale.width(orientedSlice.sparkSession).toLong,
        math.min(4096L, sliceWedges / 2000000L + 1)).toInt
      val gated = gatedWedges(orientedSlice)
      // SHUFFLE_HASH on the edge side (guide §3.1): the closing probe is
      // a pure equi-join where the wedge stream dominates; sort-merge
      // pays an O(n log n) sort of BOTH the wedge slice and the edge set
      // per pass. The hash build side is the oriented edge set at the
      // wedge-scaled width — per-partition build is |E|/nPart rows, and
      // when nPart grows with the wedge volume that stays bounded. The
      // hint is BUDGET-GATED (r19, r18 ADVICE): on a low-wedge,
      // high-|V| graph (degree ~1) nPart stays at the session width
      // while |E| grows with |V|, and a shuffled-hash build does not
      // spill — past [[MaxShjBuildRowsPerPart]] per-partition rows the
      // join is left unhinted, so the planner's spillable sort-merge
      // (or a broadcast, if the edge set is estimated tiny) applies.
      // Same rows out either way — join strategy only. Every gate and
      // curve point has |E|/nPart orders of magnitude under the budget,
      // so those plans keep the measured-faster SHJ unchanged.
      val closeRH =
        if (edgeRows / math.max(1, nPart) <= MaxShjBuildRowsPerPart)
          closeR.hint("shuffle_hash")
        else closeR
      val tri = gated.repartition(nPart, col("v"), col("w"))
        .join(closeRH.repartition(nPart, col("v"), col("w")),
          Seq("v", "w"))
      tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    }
    // DISK-BOUNDED TRANSIENT (r16 wall): the closing exchange's spill
    // is ~36 B/wedge-row; past [[MaxWedgeRowsPerPass]] a single
    // exchange would outgrow a host's local disk (100x: 4.1B rows ~
    // 150 GB vs 79 GB free — the only from-scratch point that could
    // not run). The wedge volume is known BEFORE any wedge
    // materializes, so slice the oriented edge set on hash(src) into P
    // sequential passes: wedge generation re-runs per pass from the
    // checkpointed edge frames (edge-sized inputs, cheap), each pass
    // shuffles ~1/P of the wedge volume, and the node-sized per-pass
    // counts — eagerly checkpointed so the pass's shuffle lineage is
    // unreachable and the ContextCleaner (nudged by System.gc()) can
    // drop its files before the next pass starts — sum to exactly the
    // single-pass counts (wedge centers partition by src, counting is
    // additive). P = 1 at every gate scale and every measured curve
    // point <= 40x: the plan there is byte-for-byte the r16 plan.
    val passes = math.max(math.max(1, minClosingPasses).toLong,
      (wedgeRows + maxWedgeRowsPerPass - 1) / maxWedgeRowsPerPass).toInt
    if (passes <= 1) closingCounts(oriented, wedgeRows)
    else {
      // CONCURRENT passes under the same disk budget (r19, guide §1.2):
      // when P was forced ABOVE what the budget requires (the sliced
      // gate: minClosingPasses = 3 over megabyte wedges), running the
      // passes sequentially serializes three small job chains for no
      // transient benefit — the budget that decided P bounds the LIVE
      // wedge spill, so up to floor(budget / perPassWedges) passes may
      // run at once and the peak transient still fits. At true scale
      // perPassWedges ~ the budget by construction, so conc = 1 and
      // the sequential disk-bounded behavior (plus its ContextCleaner
      // GC nudge) is byte-identical. Counts are an additive aggregate
      // over checkpointed per-pass partials: union order is fixed by
      // pass index and the final sum is order-independent, so the
      // result is bit-identical at any concurrency.
      val perPass = math.max(1L, wedgeRows / passes)
      val conc = math.max(1L, math.min(passes.toLong,
        maxWedgeRowsPerPass / perPass)).toInt
      def onePass(p: Int): DataFrame = {
        val part = closingCounts(
          oriented.filter(
            pmod(hash(col("src")), lit(passes)) === lit(p)),
          wedgeRows / passes).localCheckpoint(true)
        // nudge ContextCleaner to free the pass's shuffle files — but
        // only when the per-pass transient is actually disk-relevant
        // (~3.6 GB at 100M wedge rows); a forced-slicing run at gate
        // scale would otherwise pay full-JVM GC pauses to reclaim
        // megabytes
        if (conc <= 1 && wedgeRows / passes > 100L * 1000 * 1000)
          System.gc()
        part
      }
      val partials =
        if (conc <= 1) (0 until passes).map(onePass)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          try {
            val fs = (0 until passes)
              .map(p => scala.concurrent.Future(onePass(p)))
            fs.map(scala.concurrent.Await.result(_,
              scala.concurrent.duration.Duration.Inf))
          } finally pool.shutdown()
        }
      partials.reduce(_.unionByName(_))
        .groupBy(col("node")).agg(sum(col("n_tri")).as("n_tri"))
    }
  }

  /** INCREMENTAL triangle counts — fold an undirected edge delta into
    * persisted per-node counts EXACTLY (unlike the continuous PageRank
    * fold, triangle counts are discrete, so incremental == from-scratch
    * bit for bit; the gate's oracle is the full-graph twin verbatim).
    *
    * Inclusion-exclusion over the delta-edge multiplicity m of each new
    * triangle (every new triangle contains >= 1 delta edge):
    *   A: per delta edge, common neighbours in the MERGED graph — each
    *      new triangle counted m times;
    *   B: per unordered pair of delta edges sharing a node, the closing
    *      edge probed in the merged graph — counted C(m,2) times;
    *   C: triangles entirely within the delta — counted C(m,3) times.
    * m - C(m,2) + C(m,3) = 1 for m in 1..3, so A - B + C counts each
    * new triangle exactly once per member node.
    *
    * THE PROBE STRUCTURE IS ADJACENCY-LIST, NOT EDGE-JOIN (r14): the
    * merged NEIGHBOUR LIST of every delta ENDPOINT is assembled once
    * (one pruned aggregation — old edges touching a delta endpoint,
    * collected per node), then A is a per-delta-edge array_intersect of
    * the two endpoint lists and B is an array_contains probe — both
    * whole-stage-codegen scalar work on delta-sized rows, no wedge
    * candidate set ever materializes and no Bloom/degree machinery is
    * needed at all. r13's edge-join formulation enumerated min-degree
    * × delta candidate rows (4.2M at sf0.1's 3% delta) and re-paid a
    * merged degree aggregation + a 4 MiB Bloom build per refresh; the
    * adjacency form replaces all of it with one delta-endpoint-pruned
    * pass. Re-inserted edges (already live) are dropped from the delta
    * first, so replays are no-ops.
    *
    * Skew bound: a hub endpoint's neighbour list is one array row
    * (degree × 8 B — 8 MB at degree 10^6); graphs beyond that need the
    * degree-capped ingestion the curation ops provide. The intersect
    * cost is hash-set linear in the two list lengths.
    *
    * @param prevCounts (node, n_tri) over the old graph
    * @param oldPairs   old undirected edges (id_1, id_2), any orientation
    * @param deltaPairs new undirected edges, any orientation
    * @return (node, n_tri) over old ∪ delta, nodes in >= 1 triangle */
  def incrementalTriangles(prevCounts: DataFrame, oldPairs: DataFrame,
      deltaPairs: DataFrame): DataFrame = {
    val old = canonPairs(oldPairs).localCheckpoint()
    val delta = canonPairs(deltaPairs)
      .join(old, Seq("a", "b"), "left_anti") // re-inserts are no-ops
      .localCheckpoint()
    // merged adjacency of the DELTA ENDPOINTS only: the old graph is
    // pruned to rows touching an endpoint (broadcast semi-join — the
    // old side never shuffles in full), then collected per node
    val ends = delta.select(col("a").as("n"))
      .unionByName(delta.select(col("b").as("n"))).distinct()
    val oldSym = old.select(col("a").as("x"), col("b").as("y"))
      .unionByName(old.select(col("b").as("x"), col("a").as("y")))
    val deltaSym = delta.select(col("a").as("x"), col("b").as("y"))
      .unionByName(delta.select(col("b").as("x"), col("a").as("y")))
    val adjm = oldSym.unionByName(deltaSym)
      .join(ends.withColumnRenamed("n", "x"), Seq("x"), "left_semi")
      .groupBy(col("x").as("n")).agg(collect_list(col("y")).as("adj"))
    foldTriangles(prevCounts, delta, adjm)
  }

  /** Canonical undirected edge normalization shared by every triangle
    * entry point: (a < b), self-loops and duplicates dropped. */
  private def canonPairs(p: DataFrame): DataFrame = p
    .select(least(col("id_1"), col("id_2")).as("a"),
      greatest(col("id_1"), col("id_2")).as("b"))
    .filter(col("a") =!= col("b"))
    .distinct()

  /** The inclusion-exclusion FOLD CORE shared by [[incrementalTriangles]]
    * (which assembles the endpoint adjacency from the in-memory merged
    * graph) and [[incrementalTrianglesStored]] (which reads it from the
    * store's adj/ sidecar): all three terms are delta-proportional
    * scalar/array work — no candidate set, no old-edge shuffle.
    *
    * @param delta canonical delta edges (a < b, distinct), disjoint
    *              from the old graph
    * @param adjm  (n, adj) MERGED-graph neighbour lists covering every
    *              delta endpoint, each neighbour exactly once */
  private def foldTriangles(prevCounts: DataFrame, delta: DataFrame,
      adjm: DataFrame): DataFrame = {
    val deltaSym = delta.select(col("a").as("x"), col("b").as("y"))
      .unionByName(delta.select(col("b").as("x"), col("a").as("y")))
    // A: common merged-neighbours of the delta edge's endpoints — one
    // array_intersect per delta edge (both lists cover the merged
    // graph, so closures through old AND delta edges are all found)
    val aTri = delta
      .join(adjm.select(col("n").as("a"), col("adj").as("adjA")), "a")
      .join(adjm.select(col("n").as("b"), col("adj").as("adjB")), "b")
      .select(col("a"), col("b"),
        explode(array_intersect(col("adjA"), col("adjB"))).as("w"))
    // B: delta edges (s, p) and (s, q) sharing s, p < q, closing edge
    // (p, q) probed in the merged graph — p is itself a delta endpoint,
    // so its merged list is already in adjm
    val bTri = deltaSym.select(col("x").as("s"), col("y").as("p"))
      .join(deltaSym.select(col("x").as("s"), col("y").as("q")), "s")
      .filter(col("p") < col("q"))
      .join(adjm.select(col("n").as("p"), col("adj")), "p")
      .filter(array_contains(col("adj"), col("q")))
      .select(col("s"), col("p"), col("q"))
    // C: triangles entirely within the delta (u < v < w by canonical
    // id order over canonical edges — each counted exactly once)
    val cTri = delta.select(col("a").as("u"), col("b").as("v"))
      .join(delta.select(col("a").as("v"), col("b").as("w")), "v")
      .join(delta.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"))
      .select(col("u"), col("v"), col("w"))
    // explode, not a 3-way self-union: the triangle enumeration (the
    // expensive join) evaluates ONCE per table, and the exploded rows
    // still combine map-side
    def perNode(t: DataFrame, cols: Seq[String], sign: Int) =
      t.select(explode(array(cols.map(col): _*)).as("node"))
        .groupBy(col("node")).agg((count(lit(1)) * sign).as("d"))
    val contribs = Seq(
      perNode(aTri, Seq("a", "b", "w"), 1),
      perNode(bTri, Seq("s", "p", "q"), -1),
      perNode(cTri, Seq("u", "v", "w"), 1))
      .reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("d")).as("d"))
    prevCounts.select(col("node"), col("n_tri"))
      .join(contribs, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("n_tri"), lit(0L)) + coalesce(col("d"), lit(0L)))
          .as("n_tri"))
      .filter(col("n_tri") > 0)
  }

  // ------------------------------------------------------------------
  // PERSISTED TRIANGLE STORE — the delta-proportional refresh path.
  //
  // r13's incrementalTriangles re-paid three LINEAR passes per refresh
  // (canonicalize the old pairs, rebuild the merged degree table,
  // rebuild the 4 MiB closing-probe Bloom + an eager merged.count()),
  // which capped the measured win over full recompute at ~15% even
  // though the fold's ENUMERATIONS were delta-proportional. This store
  // persists what a refresh needs, and every sidecar is ADDITIVE under
  // edge inserts:
  //   edges/  canonical (id_1 < id_2) distinct — APPEND-ONLY files, the
  //           ground truth (rebuilds/compaction read it), so
  //           canon(oldPairs) disappears from the refresh;
  //   adj/    (n, adj array<long>) symmetric neighbour-list INCREMENT
  //           rows — an append adds one row per delta endpoint holding
  //           its NEW neighbours; readers prune to the endpoints they
  //           need (broadcast semi-join — no shuffle of the store),
  //           then flatten the increments. The refresh's A term is an
  //           array_intersect of two endpoint lists, its B term an
  //           array_contains probe — no degree table, no Bloom, no
  //           candidate materialization (see incrementalTriangles);
  //   meta/   one row (edge_count) — rolls forward arithmetically;
  //   counts/ (node, n_tri) — the fold's output, swapped whole (it IS
  //           the query result, linear by definition).
  // What a refresh touches of the old graph: ONE pruned scan of adj/
  // (column-pruned, shuffle-free; bucketing adj/ by a hash of n is the
  // sub-linear path when deltas are tiny against a huge store) and one
  // pruned scan for the re-insert check. Skew bound: a hub's adjacency
  // is one array row per append (degree × 8 B) — the curation ops'
  // degree capping is the upstream defence for pathological hubs.
  // ------------------------------------------------------------------

  /** Build the store fresh at `path` (must be empty/new): full
    * triangleCounts plus the roll-forward sidecars. Fenced like
    * [[BandIndex]]: epoch claimed before the raw writes, threaded
    * through the sidecar swaps — a concurrent writer fails loudly. */
  def writeTriangleStore(spark: org.apache.spark.sql.SparkSession,
      path: String, pairs: DataFrame): Unit = {
    import graft.util.Sidecars
    import spark.implicits._
    val und = canonPairs(pairs).localCheckpoint()
    val undSym = und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
    val eCount = und.count()
    var e = Sidecars.claim(spark, path, Some(0L)) // fresh store only
    und.select(col("a").as("id_1"), col("b").as("id_2"))
      .write.parquet(path + "/edges")
    undSym.groupBy(col("x").as("n")).agg(collect_list(col("y")).as("adj"))
      .write.parquet(path + "/adj")
    e = Sidecars.swap(spark, path, "meta",
      Seq(eCount).toDF("edge_count"), single = true, expectedEpoch = Some(e))
    Sidecars.swap(spark, path, "counts",
      triangleCounts(und.select(col("a").as("id_1"), col("b").as("id_2"))),
      expectedEpoch = Some(e))
  }

  /** Prune the adj/ increments to one flattened merged list per node in
    * `ends`, including the delta's own contribution — the only pass a
    * refresh makes over old-graph data (shuffle-free scan: `ends` is
    * delta-sized and broadcasts). */
  private def adjFor(spark: org.apache.spark.sql.SparkSession,
      path: String, ends: DataFrame, deltaSym: DataFrame): DataFrame = {
    val oldAdj = spark.read.parquet(path + "/adj")
      .select(col("n").as("x"), col("adj"))
      .join(ends.withColumnRenamed("n", "x"), Seq("x"), "left_semi")
      .select(col("x"), explode(col("adj")).as("y"))
    oldAdj.unionByName(deltaSym)
      .groupBy(col("x").as("n")).agg(collect_list(col("y")).as("adj"))
  }

  /** Resolve (delta, merged endpoint adjacency) against the store —
    * everything [[foldTriangles]] needs, all delta-proportional:
    * re-inserts drop via an array_contains probe against the pruned old
    * adjacency (an edge (a,b) is live iff b is in a's stored list), and
    * the merged neighbour lists come from the same pruned scan plus the
    * delta's own contribution. */
  private def resolveDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaPairs: DataFrame): (DataFrame, DataFrame) = {
    val deltaC = canonPairs(deltaPairs).localCheckpoint()
    val endsC = deltaC.select(col("a").as("x"))
      .unionByName(deltaC.select(col("b").as("x"))).distinct()
    // re-insert check against the stored lists of the delta's `a`
    // endpoints (canonical edges: a < b, so a's list suffices)
    val oldAdjA = spark.read.parquet(path + "/adj")
      .select(col("n").as("x"), col("adj"))
      .join(endsC, Seq("x"), "left_semi")
      .select(col("x").as("a"), explode(col("adj")).as("b"))
      .filter(col("b") > col("a")) // keep only canonical-direction rows
    val delta = deltaC
      .join(oldAdjA, Seq("a", "b"), "left_anti")
      .localCheckpoint()
    val deltaSym = delta.select(col("a").as("x"), col("b").as("y"))
      .unionByName(delta.select(col("b").as("x"), col("a").as("y")))
    val ends = delta.select(col("a").as("n"))
      .unionByName(delta.select(col("b").as("n"))).distinct()
    (delta, adjFor(spark, path, ends, deltaSym))
  }

  /** READ-ONLY delta refresh against the store: fold `deltaPairs` into
    * the persisted counts and return the refreshed (node, n_tri) —
    * hash-equal to a from-scratch count over old ∪ delta (the
    * `graph_triangles_incremental` gate's full-graph twin), with every
    * per-refresh pass delta-proportional (see the store banner). */
  def incrementalTrianglesStored(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaPairs: DataFrame): DataFrame = {
    val (delta, adjm) = resolveDelta(spark, path, deltaPairs)
    foldTriangles(graft.util.Sidecars.read(spark, path, "counts"), delta, adjm)
  }

  /** APPEND the delta to the store: fold the counts AND roll every
    * sidecar forward (edge files appended, adjacency increments
    * appended, edge_count bumped) so the NEXT refresh is just as
    * delta-proportional. Fencing follows the BandIndex discipline: the
    * fold materializes before any mutation, the epoch claim fences the
    * raw appends, the counts swap is the last commit. An all-reinsert
    * (empty) delta is REFUSED loudly — appends are not monoid merges,
    * and a crashed append's verbatim retry must never double-count
    * (the heal for a torn append is a rebuild via
    * [[writeTriangleStore]], the BandIndex.compact posture).
    * Returns the refreshed counts (as committed). */
  def appendTriangleStore(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaPairs: DataFrame): DataFrame = {
    import graft.util.Sidecars
    import spark.implicits._
    val e0 = Sidecars.fenceEpoch(spark, path) // transaction start
    val (delta, adjm) = resolveDelta(spark, path, deltaPairs)
    val nDelta = delta.count()
    require(nDelta > 0,
      s"appendTriangleStore: empty delta at $path (every edge already " +
        "live) — replay of a crashed append? rebuild via writeTriangleStore")
    // materialize BEFORE mutating: the fold reads adj/ lazily, and an
    // appended increment must never leak into its own old-graph view
    val newCounts = foldTriangles(
      graft.util.Sidecars.read(spark, path, "counts"),
      delta, adjm).localCheckpoint()
    val oldEdgeCount = graft.util.Sidecars.read(spark, path, "meta")
      .collect()(0).getLong(0)
    var e = Sidecars.claim(spark, path, Some(e0)) // fence the raw appends
    delta.select(col("a").as("id_1"), col("b").as("id_2"))
      .write.mode("append").parquet(path + "/edges")
    delta.select(col("a").as("x"), col("b").as("y"))
      .unionByName(delta.select(col("b").as("x"), col("a").as("y")))
      .groupBy(col("x").as("n")).agg(collect_list(col("y")).as("adj"))
      .write.mode("append").parquet(path + "/adj")
    e = Sidecars.swap(spark, path, "meta",
      Seq(oldEdgeCount + nDelta).toDF("edge_count"),
      single = true, expectedEpoch = Some(e))
    Sidecars.swap(spark, path, "counts", newCounts, expectedEpoch = Some(e))
    newCounts
  }

  def pagerank(edges: DataFrame, iters: Int): DataFrame =
    pagerankFrom(edges, prevRanks = None, iters)

  /** INCREMENTAL refresh — the d6f pattern applied to the rank table:
    * fold an edge delta into PERSISTED ranks by warm-starting the same
    * exact-integer iteration over the merged edge view from the stored
    * values (new nodes start at the merged graph's uniform init). A
    * warm start re-converges in delta-proportional iterations where a
    * cold start pays the full count — GraphSpec measures exactly that
    * (warm reaches the cold fixpoint's neighbourhood in fewer rounds).
    *
    * Gate contract: PageRank values are a continuous fixpoint, so —
    * unlike d6f's discrete component labels — a truncated warm
    * trajectory is NOT bit-equal to a truncated cold one; the
    * `graph_pagerank_incremental` oracle therefore replays this exact
    * warm-start lineage (old ranks, then `iters` merged-graph rounds)
    * rather than pretending the two truncations coincide. */
  def pagerankWarm(edges: DataFrame, prevRanks: DataFrame,
      iters: Int): DataFrame =
    pagerankFrom(edges, Some(prevRanks), iters)

  private def pagerankFrom(edges: DataFrame, prevRanks: Option[DataFrame],
      iters: Int): DataFrame = {
    val eo = edges.select(col("src"), col("dst"), col("w"), col("outw"))
      .localCheckpoint()
    val nodes = eo.select(col("src").as("node")).distinct().localCheckpoint()
    val n = nodes.count() // one scalar — bounded driver collect
    require(n > 0, "pagerank over an empty graph")
    val init = Scale / n
    val base = (15L * init) / 100L
    var pr = prevRanks match {
      case None => nodes.withColumn("pr", lit(init))
      case Some(prev) => // warm start: stored rank where known, init else
        nodes.join(prev.select(col("node"), col("pr").as("prev_pr")),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("prev_pr"), lit(init)).as("pr"))
    }
    for (i <- 1 to iters) {
      val contrib = eo.join(pr, eo("src") === pr("node"))
        .select(col("dst"), expr("(pr * w) div outw").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("contrib"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($DampingPct * coalesce(contrib, 0)) div 100")).as("pr"))
      // Materialize every CheckpointEvery rounds, not every round: the
      // un-checkpointed stretch fuses into ONE job (Spark executes the
      // chained rank->edges joins as a single DAG — no recomputation,
      // lazy evaluation runs each round once), while the periodic
      // checkpoint still bounds plan depth and lineage for large
      // iteration counts. Checkpoint-per-round cost three full
      // materializations on the 3-round gate for no plan benefit.
      if (i % CheckpointEvery == 0 && i < iters) pr = pr.localCheckpoint()
    }
    pr
  }

  /** Rounds between lineage checkpoints in the iterative kernels: deep
    * enough to fuse short unrolls into one job, shallow enough that a
    * 100-round run never accumulates an unbounded plan. */
  val CheckpointEvery = 8
}
