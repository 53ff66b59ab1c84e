package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedPlanning

/** Connected components over a near-dup pair graph — the step that turns
  * pairwise dedup output into an actionable keep/drop set (pick one
  * canonical document per duplicate cluster), as in the C4/RefinedWeb-style
  * curation pipelines the reference's corpus tooling feeds.
  *
  * The kernel is min-label propagation: every node starts labeled with its
  * own id, and each round every node takes the minimum label among itself
  * and its neighbors. After k rounds a node's label is the minimum id
  * within k hops, so once k reaches the largest component diameter the
  * labels are exactly the per-component minimum — the canonical
  * representative. A fixed unroll keeps the computation deterministic and
  * oracle-replicable; [[unconvergedCount]] proves (under the driver gate)
  * that the chosen k actually converged on the corpus, which is the same
  * stopping test a production fixpoint loop would run per round.
  *
  * Scale shape: the edge set is the OUTPUT of the bounded dedup miners
  * (candidates per bucket are capped, so |edges| is linear-ish in corpus
  * size, far below the document table), and each round is one shuffle
  * join + one shuffle aggregation on 8-byte keys. At 100 TB the same
  * rounds run with the labels checkpointed every few iterations to cut
  * lineage, and the loop stops when a round changes nothing — min-label
  * rounds needed = component diameter, and near-dup clusters are shallow
  * (dup chains, not paths through the whole corpus).
  */
object Components {

  /** Symmetrized (src, dst) view of an (id_1, id_2) pair set. */
  private def symmetrized(pairs: DataFrame): DataFrame =
    pairs.select(col("id_1").as("src"), col("id_2").as("dst"))
      .union(pairs.select(col("id_2").as("src"), col("id_1").as("dst")))

  /** Target rows per task of the round loops' edge frames. Sized for
    * the WORK the rounds do per row, not for shuffle bytes (guide §2.5
    * "partition by work, not bytes"): each min-label/star round joins
    * and re-aggregates the full symmetrized view at ~1-2 us/row, so
    * 256k rows ~ 0.3-0.5 s/task — an order of magnitude over the fixed
    * task overhead. The original 4M-row (64 MB) byte band starved
    * DENSE pair graphs: the multimodal gate's ~450k-edge graph ran
    * every round in 1-2 tasks (measured +1 s vs its AQE-coalesced ~4
    * partitions). Partitioning is derived from the DATA, never a
    * constant width, and only ever SHRINKS an over-split producer. */
  private val SymRowsPerTask = 256L * 1000

  /** The symmetrized view sized by its own row count (r19, guide §2.5
    * "partition by work"): a checkpointed edge frame inherits its
    * PRODUCER's partitioning — the d3 pair cache's 32 files union-double
    * to a 64-65-task map stage per propagation round, each task carrying
    * ~250 ms of fixed overhead for KB-sized data (QProfile r19: three
    * such stages = 2.9 s of d6's 4.9 s stage wall). The edge count is
    * already materialized (edges is an eager checkpoint), so the width
    * ceil(2|E| / [[SymRowsPerTask]]) is one cheap count job; it only
    * ever SHRINKS over-split inputs (clamped at the current partition
    * count — widening under-split shuffles is AQE's job), so a
    * corpus-scale graph keeps its producer's size-derived split and the
    * plan is unchanged there. */
  private def sizedSym(edges: DataFrame): DataFrame = {
    val sym = symmetrized(edges)
    // union of two projections over the eager checkpoint: exchange-free,
    // so .rdd is pure physical planning (the Scale.isUnderSplit gate)
    val cur = sym.rdd.getNumPartitions
    val rows = 2L * edges.count()
    val width = math.max(1L,
      math.min(cur.toLong, (rows + SymRowsPerTask - 1) / SymRowsPerTask))
    // coalesce, not repartition: a narrow merge of the checkpointed
    // blocks — no exchange, no extra materialization job
    if (width >= cur) sym else sym.coalesce(width.toInt)
  }

  /** [[sizedSym]]'s width rule for a generic checkpointed frame: the
    * row-derived partition count its consumers should run at (never
    * wider than the current split). */
  private def sizedWidth(cur: Int, rows: Long): Int = math.max(1L,
    math.min(cur.toLong, (rows + SymRowsPerTask - 1) / SymRowsPerTask))
    .toInt

  /** Planning overrides for a single-task round loop (r19, guide
    * §1.2/§2.4 — the knnHnswWith descent treatment applied to the label
    * rounds): inside the loop every frame is an eagerly checkpointed
    * LogicalRDD with exact stats, so adaptive planning has no decision
    * left to make — but it still charged one stage-job per exchange and
    * re-ran the small-side broadcasts every round. The shuffle width is
    * pinned to the loop's width (1) so the non-adaptive exchanges do
    * not default to the session's full width on KB rounds (r18 measured
    * THAT as a 4x explosion when AQE was turned off globally). Applied
    * in a child session through [[ScopedPlanning]]; every round
    * checkpoints, so results are bit-identical — plan surgery only. */
  private val StaticSingleTask = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1")

  /** Per-node component labels after `iters` min-label rounds:
    * (id, rep) with rep = min id within `iters` hops — the component
    * minimum once `iters` covers the component diameter.
    *
    * Each round references the previous labels twice (neighbor lookup +
    * self union), so without a lineage cut the logical plan doubles per
    * round — 2^iters copies of the upstream pair-mining subtree, which
    * stalls the optimizer long before execution. localCheckpoint per
    * round keeps the plan constant-size; at cluster scale the same cut is
    * a reliable checkpoint every few rounds. */
  def minLabelComponents(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs.select(col("id_1"), col("id_2")).localCheckpoint()
    propagate(sizedSym(edges), iters)
  }

  /** The propagation rounds over an already-materialized symmetrized edge
    * view (shared by [[minLabelComponents]] and [[componentStats]], which
    * needs `sym` again for its extra round). */
  private def propagate(sym: DataFrame, iters: Int): DataFrame = {
    // sym is a checkpoint-backed union at the sizedSym width: its .rdd
    // probe is pure physical planning. The static scope applies ONLY in
    // the single-task regime (w == 1, i.e. 2|E| <= SymRowsPerTask):
    // there the loop is pure driver-job floor and the scope halves the
    // jobs (d6 2.86->2.08, d6b 2.69->1.86, d6e 3.77->2.83, d6f
    // 4.08->3.37 same-batch); at any wider w the rounds carry real
    // parallel work and AQE's runtime view measured BETTER (multimodal
    // dense graph at w=4: +0.6 s under the static scope) — so wide
    // graphs keep adaptive planning.
    if (sym.rdd.getNumPartitions == 1)
      ScopedPlanning.run(sym.sparkSession, StaticSingleTask) { adopt =>
        propagateRounds(adopt(sym), iters)
      }
    else propagateRounds(sym, iters)
  }

  private def propagateRounds(sym: DataFrame, iters: Int): DataFrame = {
    // every edge endpoint appears as src in the symmetrized view
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep"))
      .localCheckpoint()
    // one min-label round as a PLAN over the previous labels: the self
    // row rides the same union/aggregation carrying the input label in
    // `prev` (each id contributes exactly one non-null prev, min() just
    // picks it), so convergence is readable off the round's own output
    // — no join of next against labels is ever needed
    def oneRound(prevLabels: DataFrame): DataFrame = {
      val viaEdges = sym
        .join(prevLabels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("rep"),
          lit(null).cast("long").as("prev"))
      val self = prevLabels.select(col("id"), col("rep"),
        col("rep").as("prev"))
      viaEdges.union(self)
        .groupBy(col("id"))
        .agg(min(col("rep")).as("rep"), min(col("prev")).as("prev"))
    }
    // TWO rounds per lineage cut + convergence action (r18, guide §1.2
    // "the distributed algorithm" at local latency): each driver-side
    // job carries ~60-100 ms of planning/scheduling floor regardless of
    // the (tiny) per-round data, and the d3 pair graph needs 14 rounds
    // (measured), so the round loop is job-latency-bound. Chaining two
    // rounds into one fused plan halves the jobs; `prev` then carries
    // the label BEFORE THE CHUNK'S LAST round, so the check still tests
    // exactly "did the last round change anything". Results are
    // bit-identical to the one-round loop FOR EVERY INPUT: labels are
    // monotone non-increasing, so the only divergence — running one
    // extra round past the fixpoint before detecting it — is a no-op
    // round, and the `iters` bound is never exceeded.
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val step = math.min(2, iters - round)
      var cur = labels
      for (_ <- 1 to step) cur = oneRound(cur.select(col("id"), col("rep")))
      val next = cur.localCheckpoint() // lineage cut: constant-size plan
      converged = next.filter(col("rep") =!= col("prev")).count() == 0L
      labels = next.select(col("id"), col("rep"))
      round += step
    }
    if (sys.env.contains("GRAFT_DEBUG_ROUNDS"))
      System.err.println(s"[propagate] rounds=$round converged=$converged")
    labels
  }

  /** The keep/drop verdict per clustered doc: its component representative
    * (minimum doc id in the cluster) and whether this doc IS the keeper.
    * Docs in no near-dup pair are implicitly keepers and not emitted —
    * joining this back anti/semi against the corpus is the drop step. */
  def dedupVerdicts(pairs: DataFrame, iters: Int): DataFrame =
    minLabelComponents(pairs, iters)
      .select(col("id"), col("rep"), (col("id") === col("rep")).as("keep"))

  /** Quality-aware keep/drop verdicts: per component keep the member with
    * the HIGHEST quality (ties -> min id) — a production near-dup cluster
    * keeps its best member, not its lowest id (the cluster's docs differ
    * in boilerplate/truncation even when near-identical in content).
    * `quality` is (id, quality) per doc. The argmax is a groupBy over a
    * struct max — one shuffle on the 8-byte rep, no per-component window
    * sort, no unbounded buffers. Docs in no pair are implicitly keepers
    * and not emitted, like [[dedupVerdicts]]. */
  def bestMemberVerdicts(pairs: DataFrame, quality: DataFrame,
      iters: Int): DataFrame = {
    val scored = minLabelComponents(pairs, iters).join(quality, "id")
    // lexicographic struct max: highest quality, then highest -id = min id
    val best = scored
      .groupBy(col("rep"))
      .agg(max(struct(col("quality"), (-col("id")).as("nid"))).as("b"))
      .select(col("rep"), (-col("b.nid")).as("best_id"))
    scored.join(best, "rep")
      .select(col("id"), col("rep"), col("quality"),
        (col("id") === col("best_id")).as("keep"))
  }

  /** Two-phase STAR CONTRACTION (the alternating large-star/small-star
    * algorithm of Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): each round hooks every node onto the minimum of its closed
    * neighborhood, so component diameters roughly HALVE per round and the
    * fixpoint arrives in O(log n) rounds — the scale answer to min-label
    * propagation's diameter-bound round count (a 10^6-long dup chain
    * needs ~20 star rounds, not 10^6 label rounds).
    *
    * large-star: every neighbor v > u connects to m(u) = min(N(u) ∪ u).
    * small-star: every neighbor v <= u (v != m) connects to m(u).
    * Both phases are one groupBy-min plus one join on 8-byte node ids —
    * no unbounded per-node buffers — and the loop localCheckpoints per
    * round (constant-size plan, same as propagate). Terminates when a
    * round leaves the edge set unchanged; at the fixpoint the edges form
    * one star per component centered at its minimum id, so labels read
    * off directly. Throws loudly if `maxRounds` is hit unconverged
    * (maxRounds is a guard rail, not a truncation: 24 covers components
    * of ~2^24 diameter). Returns (id, rep) like [[minLabelComponents]]. */
  def starContraction(pairs: DataFrame, maxRounds: Int = 24): DataFrame = {
    // ONE pinned src-keyed exchange per phase (r19, guide §2.4): the
    // dedup aggregate (HashPartitioning(src) satisfies
    // ClusteredDistribution(src, dst)), the next phase's groupBy(src)
    // min, and its src equi-join all ride it — the unkeyed form planned
    // a (src,dst) distinct exchange PLUS a (src) aggregation exchange
    // per phase, each a separate AQE stage job (the round loop is
    // job-floor-bound: 72 jobs for 2.4 s of stage wall, measured).
    // Width derived from the carried edge count, never a constant.
    def sym(e: DataFrame, w: Int): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))
        .repartition(w, col("src")).distinct()
    // m(u) over the CURRENT symmetric edge set
    def mins(e: DataFrame): DataFrame =
      e.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("src"), col("__mn")).as("m"))
    def phase(e: DataFrame, large: Boolean, w: Int): DataFrame = {
      val joined = e.join(mins(e), "src")
      val hooked =
        if (large)
          joined.filter(col("dst") > col("src"))
            .select(col("dst").as("src"), col("m").as("dst"))
        else
          joined.filter(col("dst") <= col("src") && col("dst") =!= col("m"))
            .select(col("dst").as("src"), col("m").as("dst"))
            .union(joined.select(col("src"), col("m").as("dst")))
      sym(hooked, w)
    }
    // materialize the pair input once and size the initial distinct's
    // map side by row count (r19, the [[sizedSym]] rationale): the pair
    // cache's 32 files union-double into a 64-task map stage of ~KB
    // data otherwise (QProfile r19: 0.9 s wall / 24.8 s task time on
    // 36k rows). coalesce is narrow — no extra exchange.
    val sessionPar =
      pairs.sparkSession.sessionState.conf.numShufflePartitions
    var edges = {
      val e0 = pairs.select(col("id_1").as("src"), col("id_2").as("dst"))
        .localCheckpoint()
      sym(e0, sizedWidth(sessionPar, 2L * e0.count())).localCheckpoint()
    }
    var n = edges.count() // carried across rounds: one count job per round
    var round = 0
    var converged = false
    // (the propagate single-task scope was tried here too and measured
    // SLOWER — d6d 3.89->4.55 same-batch even on the single-task d3
    // graph: the star loop's convergence machinery (count + exceptAll)
    // profits from adaptive planning — so the star rounds stay adaptive)
    while (round < maxRounds && !converged) {
      // the phase width rides the carried count: edge sets only shrink,
      // so the round's exchanges stay sized to the data they move
      val w = sizedWidth(sessionPar, 2L * n)
      val next = phase(phase(edges, large = true, w), large = false, w)
        .localCheckpoint()
      // set equality over the two materialized DISTINCT edge sets: equal
      // cardinality plus one-sided difference emptiness suffices (and
      // saves an except job per round vs the symmetric check); the
      // cardinality short-circuit also keeps the except job off every
      // round where the counts already differ
      val m = next.count()
      converged = m == n && next.exceptAll(edges).isEmpty
      edges = next
      n = m
      round += 1
    }
    require(converged,
      s"star contraction did not converge within $maxRounds rounds")
    // fixpoint edge set = one star per component centered at the minimum
    mins(edges).select(col("src").as("id"), col("m").as("rep"))
  }

  /** Keep/drop verdicts via star contraction — same output contract as
    * [[dedupVerdicts]] (and the same oracle: both compute the exact
    * per-component minima). */
  def starVerdicts(pairs: DataFrame): DataFrame =
    starContraction(pairs)
      .select(col("id"), col("rep"), (col("id") === col("rep")).as("keep"))

  /** INCREMENTAL components — fold a delta pair batch into previously
    * computed labels without re-walking the old graph, the ingestion
    * shape of a continuously-deduped corpus (new docs arrive, their
    * near-dup pairs are mined, and cluster membership must update
    * delta-proportionally, not corpus-proportionally).
    *
    * Contraction argument for EXACTNESS: collapsing each old component
    * onto its min-id representative preserves connectivity, so running
    * min-label over the delta edges REWRITTEN onto representatives (new
    * nodes stand for themselves) yields, per merged super-component, the
    * min over its member reps — which is the min member id of the merged
    * full component, i.e. exactly the label a fresh run over old ∪ delta
    * edges computes. Old nodes inherit through their rep; untouched
    * components keep their labels verbatim (their rep never appears in
    * the super-graph). Contraction can only shorten paths, so the super
    * graph's diameter never exceeds the fresh graph's and the same
    * `iters` bound converges (the fixpoint early-exit in [[propagate]]
    * still guards it).
    *
    * Scale shape: every join here is delta-sized except the final
    * rep-remap, which joins the label table against the (tiny, bounded
    * by delta) changed-rep map — broadcast in practice. Nothing touches
    * the old EDGE set at all. */
  def incrementalComponents(prevLabels: DataFrame, newPairs: DataFrame,
      iters: Int): DataFrame = {
    val edges = newPairs.select(col("id_1"), col("id_2")).localCheckpoint()
    val prev = prevLabels.select(col("id"), col("rep"))
    val mapped = edges
      .join(prev.select(col("id").as("id_1"), col("rep").as("__r1")),
        Seq("id_1"), "left")
      .join(prev.select(col("id").as("id_2"), col("rep").as("__r2")),
        Seq("id_2"), "left")
      .select(coalesce(col("__r1"), col("id_1")).as("id_1"),
        coalesce(col("__r2"), col("id_2")).as("id_2"))
      .filter(col("id_1") =!= col("id_2"))
    val superL = minLabelComponents(mapped, iters)
    val updatedOld = prev
      .join(superL.select(col("id").as("rep"), col("rep").as("__nr")),
        Seq("rep"), "left")
      .select(col("id"), coalesce(col("__nr"), col("rep")).as("rep"))
    val newNodes = superL
      .join(prev.select(col("id")), Seq("id"), "left_anti")
    updatedOld.unionByName(newNodes)
  }

  /** Number of nodes whose label would still change given one more round —
    * 0 iff `iters` rounds reached the fixpoint on this graph. Emitted
    * alongside component stats so convergence is gate-checkable, not
    * assumed. */
  def componentStats(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs.select(col("id_1"), col("id_2")).localCheckpoint()
    val sym = sizedSym(edges)
    val at = propagate(sym, iters)
    val next = sym.join(at.withColumnRenamed("id", "dst"), "dst")
      .select(col("src").as("id"), col("rep"))
      .union(at.select(col("id"), col("rep")))
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))
    val changed = at.withColumnRenamed("rep", "rep_k")
      .join(next.withColumnRenamed("rep", "rep_k1"), "id")
      .filter(col("rep_k") =!= col("rep_k1"))
    at.agg(
      count(lit(1)).as("n_nodes"),
      countDistinct(col("rep")).as("n_components"))
      .crossJoin(changed.agg(count(lit(1)).as("n_unconverged")))
  }
}
