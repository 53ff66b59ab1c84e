package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedPlanning

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — driver north star.
  *
  * Two paths:
  *  - brute-force cosine top-k (the correctness baseline): broadcast the
  *    query set, score every target with a pure-Catalyst higher-order-fn
  *    dot product, window top-k. At scale this is one map-side pass over
  *    the target table — no shuffle except the final per-query top-k.
  *  - LSH (random-hyperplane signs) bucketing: targets partition into
  *    2^NumPlanes buckets; each query only scores its own bucket. The
  *    scale path: candidate count drops by ~2^NumPlanes while recall is
  *    tunable via plane count / multi-probe.
  *
  * Scoring uses quantized fixed-point arithmetic (`round(x*y*1e6)` summed
  * as BIGINT) so scores are exactly reproducible across engines (the DuckDB
  * oracle computes the identical quantity) and across partitionings —
  * float-sum order sensitivity is eliminated.
  */
object Similarity {

  /** Fixed-point (1e-6) dot product, exact and order-independent — the
    * custom ScaledDot expression (direct ArrayData loop, codegen'd). */
  def scaledDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.internal.column(
      org.apache.spark.sql.graft.ScaledDot(
        org.apache.spark.sql.graft.internal.expression(a),
        org.apache.spark.sql.graft.internal.expression(b)))

  /** Cosine from fixed-point dot/norms (deterministic across engines).
    * For pairwise scans prefer [[knnBruteForce]], which precomputes each
    * side's norm once instead of per pair. */
  def cosineScaled(a: Column, b: Column): Column =
    scaledDot(a, b).cast("double") /
      sqrt((scaledDot(a, a) * scaledDot(b, b)).cast("double"))

  /** Brute-force cosine top-k: `queries`(qid, qe) x `targets`(tid, te).
    * Norms are computed once per vector (map-side), not once per pair.
    * Returns (qid, rank, tid, cos). */
  def knnBruteForce(queries: DataFrame, targets: DataFrame, k: Int): DataFrame = {
    val q = queries.withColumn("qn", scaledDot(col("qe"), col("qe")))
    // spread the scan-shaped stream side of the broadcast theta-join:
    // the whole per-pair cosine kernel otherwise runs at the 1-file
    // scan's parallelism (r19; identity on wide or exchange-bearing
    // inputs — Scale.isUnderSplit self-gates)
    val t = Scale.spreadNarrowScan(targets)
      .withColumn("tn", scaledDot(col("te"), col("te")))
    val scored = broadcast(q).join(t, col("qid") =!= col("tid"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("cos"))
  }

  /** Per-dimension max-abs over the target set — the scale vector for
    * symmetric int8 quantization. One exploded aggregation shuffling
    * (pos, partial max) only; the collect is bounded by `dim`, a design
    * constant (the centroid-collect boundedness class). */
  def sq8Scales(targets: DataFrame, vec: String, dim: Int): Array[Double] = {
    val rows = targets
      .select(posexplode(col(vec)).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(max(abs(col("x").cast("double"))).as("m"))
      .collect()
    val out = new Array[Double](dim)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** Symmetric int8 quantization against a per-dimension scale vector:
    * q_i = round(x_i * 127.0 / s_i) (HALF_UP — DuckDB's ROUND rounds the
    * same way, so quantized codes replay exactly); constant-zero
    * dimensions quantize to 0. Shrinks a float corpus 4x — the memory
    * move that keeps a 100 TB ANN index resident — while every
    * downstream distance is EXACT integer math. */
  def sq8Quantize(v: Column, scales: Array[Double]): Column =
    zip_with(v, typedlit(scales.toSeq), (x, s) =>
      when(s === 0.0, lit(0))
        .otherwise(round(x.cast("double") * lit(127.0) / s).cast("int")))

  /** Exact integer dot product of two int8 code arrays (max |term sum|
    * ~ 127^2 * dim — well inside long range). */
  def sq8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, t) => acc + t)

  /** Brute-force cosine top-k over int8-quantized vectors — the scalar-
    * quantization ANN baseline: 4x less memory traffic per scan than the
    * float path, bit-deterministic ranking. Scales derive from the
    * TARGET distribution and quantize both sides; dot and both norms are
    * EXACT integer sums (each <= 127^2 * dim, products well inside
    * double precision), so the cosine is one exactly-rounded IEEE
    * divide/sqrt both engines reproduce. Norms are computed once per
    * vector (map-side), not once per pair.
    * Returns (qid, rank, tid, dot, cos). */
  def knnSq8(queries: DataFrame, targets: DataFrame, dim: Int,
      k: Int): DataFrame = {
    val scales = sq8Scales(targets, "te", dim)
    val q = queries.select(col("qid"), sq8Quantize(col("qe"), scales).as("qq"))
      .withColumn("qn", sq8Dot(col("qq"), col("qq")))
    // spread before the quantize+dot kernels (the knnBruteForce note)
    val t = Scale.spreadNarrowScan(targets)
      .select(col("tid"), sq8Quantize(col("te"), scales).as("tq"))
      .withColumn("tn", sq8Dot(col("tq"), col("tq")))
    val scored = broadcast(q).join(t, col("qid") =!= col("tid"))
      .withColumn("dot", sq8Dot(col("qq"), col("tq")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("dot"), col("cos"))
  }

  /** Persist the int8-quantized index at rest: codes + integer norms,
    * 4x smaller than the float vectors — the representation a resident
    * 100 TB ANN scan actually reads. Returns the per-dim scales that
    * MUST travel with the index (queries quantize against them); each
    * scale is a widened float, so a float[] round-trip is exact. */
  def writeSq8Index(targets: DataFrame, path: String,
      dim: Int): Array[Double] = {
    val scales = sq8Scales(targets, "te", dim)
    targets.select(col("tid"), sq8Quantize(col("te"), scales).as("tq"))
      .withColumn("tn", sq8Dot(col("tq"), col("tq")))
      .write.mode("overwrite").parquet(path)
    scales
  }

  /** Search the persisted int8 index: the scan touches only codes and
    * precomputed norms (never the float vectors); ranking is identical
    * to [[knnSq8]], so the same oracle gates both. */
  def knnSq8Indexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, scales: Array[Double], k: Int): DataFrame = {
    // tombstone-aware (deleteFromSq8Index), the knnIvfIndexed convention
    // spread the coded scan (identity when the tombstone anti-join
    // already widened the plan — isUnderSplit self-gates on exchanges)
    val t = Scale.spreadNarrowScan(
      withoutTombstones(spark, path, spark.read.parquet(path)))
    val q = broadcast(queries
      .select(col("qid"), sq8Quantize(col("qe"), scales).as("qq"))
      .withColumn("qn", sq8Dot(col("qq"), col("qq"))))
    val scored = q.join(t, col("qid") =!= col("tid"))
      .withColumn("dot", sq8Dot(col("qq"), col("tq")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("dot"), col("cos"))
  }

  /** PRODUCT QUANTIZATION codebooks: the embedding splits into `m`
    * subspaces of dim/m dims; each subspace's codebook is the IVF seed
    * layout ([[ivfSeedCentroids]] — every 7th of the first 7*nCells
    * targets by id, a pure function of the table) SLICED to that
    * subspace, so the DuckDB twin replays every codebook entry from the
    * embeddings table alone. Returns codebooks(s)(i) = entry i of
    * subspace s — an m x nCells x (dim/m) float block, driver-resident
    * by design (the centroid-collect boundedness class). */
  def pqCodebooks(targets: DataFrame, dim: Int, m: Int,
      nCells: Int): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val seeds = ivfSeedCentroids(targets, nCells)
    val subDim = dim / m
    Array.tabulate(m)(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim)))
  }

  private def subVec(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  /** Per-query ADC lookup tables: tabs(s)(i) = fixed-point dot of the
    * query's subvector s with codebook entry i — an m x nCells integer
    * table built ONCE per query, map-side on the broadcast side. */
  private def adcTables(v: Column, cbs: Array[Array[Array[Float]]],
      subDim: Int): Column =
    array(cbs.zipWithIndex.map { case (cb, s) =>
      array(cb.map(c =>
        scaledDot(subVec(v, s, subDim), typedLit(c))).toIndexedSeq: _*)
    }.toIndexedSeq: _*)

  /** ADC score = sum over subspaces of the table entry the target's code
    * selects — m array lookups per target, all integer. Expects columns
    * `tabs` (from [[adcTables]]) and `codes` (from [[pqEncode]]). */
  private def adcSum(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("tabs"), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)

  /** Persist a PQ index at rest: the CODES (m ints per vector — what a
    * resident 100 TB coded scan actually reads; the float vectors never
    * need to be loaded again for ADC) plus the codebook sidecar
    * (`<path>.codebooks`) so the index is self-contained — the
    * writeIvfCentroids convention. Returns the codebooks for the build
    * session; a fresh driver reloads them with [[readPqCodebooks]]. */
  def writePqIndex(targets: DataFrame, path: String, dim: Int,
      m: Int = 4, nCells: Int = 16): Array[Array[Array[Float]]] = {
    val cbs = pqCodebooks(targets, dim, m, nCells)
    val subDim = dim / m
    targets.select(col("tid"), pqEncode(col("te"), cbs, subDim).as("codes"))
      .write.mode("overwrite").parquet(path)
    val spark = targets.sparkSession
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.flatMap { case (entry, cell) =>
        entry.zipWithIndex.map { case (v, pos) => (sub, cell, pos, v) }
      }
    }.toSeq.toDF("sub", "cell", "pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path.codebooks")
    cbs
  }

  /** Reload the PQ codebook sidecar — m x nCells x subDim floats, a
    * bounded driver collect (the same size as training them). */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(s"$path.codebooks")
      .select(col("sub"), col("cell"), col("pos"), col("c")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val nCells = rows.map(_.getInt(1)).max + 1
    val subDim = rows.map(_.getInt(2)).max + 1
    val out = Array.ofDim[Float](m, nCells, subDim)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
      r.getFloat(3))
    out
  }

  /** ADC search against the persisted PQ index: the scan reads codes
    * only (never float vectors); per-query lookup tables come from the
    * (possibly sidecar-reloaded) codebooks; ranking is identical to
    * [[knnPq]], so the same oracle gates both. */
  def knnPqIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      cbs: Array[Array[Array[Float]]], queries: DataFrame, dim: Int,
      k: Int): DataFrame = {
    val m = cbs.length
    val subDim = dim / m
    // tombstone-aware (deleteFromPqIndex), the knnIvfIndexed convention
    val t = withoutTombstones(spark, path, spark.read.parquet(path))
    val q = broadcast(queries.select(col("qid"),
      adcTables(col("qe"), cbs, subDim).as("tabs")))
    val scored = q.join(t, col("qid") =!= col("tid"))
      .withColumn("adc", adcSum(m))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("adc"))
  }

  /** Persist the per-dimension SQ8 scales beside the int8 index
    * (`<path>.scales`) so it, too, survives a driver restart without
    * retraining — the writeIvfCentroids convention. */
  def writeSq8Scales(spark: org.apache.spark.sql.SparkSession,
      scales: Array[Double], path: String): Unit = {
    import spark.implicits._
    scales.zipWithIndex.map { case (v, pos) => (pos, v) }.toSeq
      .toDF("pos", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$path.scales")
  }

  /** Reload the SQ8 scales sidecar (dim-sized driver collect). */
  def readSq8Scales(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Double] = {
    val rows = spark.read.parquet(s"$path.scales")
      .select(col("pos"), col("s")).collect()
    val out = new Array[Double](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** Exact fixed-point-cosine re-rank of candidate (qid, tid) pairs —
    * the shared rerank tail every coded/pruned ANN path funnels into
    * (mirrors the oracle's shared score-tail SQL). Only the candidates'
    * float vectors are read: refine/N of the corpus at any scale. */
  private def exactRerank(cand: DataFrame, queries: DataFrame,
      targets: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.withColumn("qn", scaledDot(col("qe"), col("qe"))))
    val t = targets.withColumn("tn", scaledDot(col("te"), col("te")))
    val scored = cand.join(q, Seq("qid")).join(t, Seq("tid"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("cos"))
  }

  /** PQ code array: per subspace, the index of the nearest codebook
    * entry (max fixed-point dot, ties to the lowest index — the
    * [[nearestCell]] convention). m codes of log2(nCells) bits replace
    * dim floats — at m=4, nCells=16 a 64-dim float vector compresses
    * 128x, the shrink that keeps a 100 TB corpus's codes in memory. */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Float]]],
      subDim: Int): Column = {
    require(codebooks.forall(_.forall(_.length == subDim)),
      s"codebook entries must all be $subDim-dimensional")
    org.apache.spark.sql.graft.internal.column(
      org.apache.spark.sql.graft.PqEncode(
        org.apache.spark.sql.graft.internal.expression(v), codebooks))
  }

  /** PQ ANN search by ASYMMETRIC DISTANCE COMPUTATION: the query stays
    * float and precomputes, per subspace, its fixed-point dot with every
    * codebook entry (an m x nCells table built once per query, map-side
    * on the broadcast side); each target then costs m array lookups —
    * `adc = sum_s table[s][code_s]` — instead of dim multiplies, over
    * codes 128x smaller than the floats. All integer math, so ranking
    * (adc desc, tid) is bit-deterministic and the DuckDB twin replays
    * it exactly. Exhaustive over targets by design (the PQ-scoring
    * baseline); compose with the IVF cell filter for the pruned
    * IVF-PQ shape. Returns (qid, rank, tid, adc). */
  def knnPq(queries: DataFrame, targets: DataFrame, dim: Int, k: Int,
      m: Int = 4, nCells: Int = 16,
      targetFilter: Option[Column] = None): DataFrame = {
    // filtered search: codebooks still train on the FULL target set (the
    // shared index layout — the knnIvf targetFilter convention); the
    // predicate restricts only the coded scan
    val cbs = pqCodebooks(targets, dim, m, nCells)
    val subDim = dim / m
    // spread before the encode + ADC kernels (the knnBruteForce note)
    val t = Scale.spreadNarrowScan(targetFilter.fold(targets)(targets.filter))
      .select(col("tid"), pqEncode(col("te"), cbs, subDim).as("codes"))
    val q = broadcast(queries.select(col("qid"),
      adcTables(col("qe"), cbs, subDim).as("tabs")))
    val scored = q.join(t, col("qid") =!= col("tid"))
      .withColumn("adc", adcSum(m))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("adc"))
  }

  /** PQ search with EXACT RE-RANKING — the production PQ shape (ADC
    * alone is a candidate generator, not a ranker): the coded scan
    * retrieves the `refine` best targets per query by ADC, and only
    * those candidates' FLOAT vectors are read back and re-scored with
    * the exact fixed-point cosine. At 100 TB the float reads drop to
    * refine/N of the index while the scan touches only the ~50x-smaller
    * codes; recall@5 measured at 87% on the real embedding distribution
    * with the default geometry (vs ~15% for raw ADC — the knn_recall_pq
    * gate prices both points). Returns (qid, rank, tid, cos) — the
    * [[knnBruteForce]] shape, so the shared score tail gates it. */
  def knnPqRerank(queries: DataFrame, targets: DataFrame, dim: Int, k: Int,
      m: Int = 8, nCells: Int = 32, refine: Int = 100,
      targetFilter: Option[Column] = None): DataFrame = {
    val cand = knnPq(queries, targets, dim, refine, m, nCells, targetFilter)
      .select(col("qid"), col("tid"))
    exactRerank(cand, queries, targets, k)
  }

  /** IVF-PQ — the coarse cell filter composed with the PQ coded scan,
    * the standard billion-scale ANN layout: the coarse quantizer
    * ([[ivfSeedCentroids]], nProbe of nCells cells probed) prunes the
    * corpus to ~nProbe/nCells; PQ codes score the survivors at m integer
    * lookups each ([[adcSum]]); the `refine` best per query re-rank on
    * exact float cosine ([[exactRerank]]). At 100 TB the scan reads only
    * probed cells' CODES (both prunings multiply: nProbe/nCells of the
    * rows x ~50x smaller payload) and float reads are refine/N. Coarse
    * and product quantizers are independent deterministic seed layouts,
    * so the DuckDB twin replays cells, codes, tables, and both rankings
    * exactly. Measured recall@5 on the sf0.01 corpus (knn_recall_pq
    * gate): 41% for the default geometry vs 43% for uncoded IVF-Lloyd
    * (knn_recall) — the coded scan costs ~2 points; recall is set by the
    * coarse nProbe/nCells knob, which is the point of the composition.
    * Returns (qid, rank, tid, cos) — the [[knnBruteForce]] shape, gated
    * by the shared score tail. */
  def knnIvfPq(queries: DataFrame, targets: DataFrame, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 2, m: Int = 8, pqCells: Int = 32,
      refine: Int = 50): DataFrame = {
    val coarse = ivfSeedCentroids(targets, nCells)
    val cbs = pqCodebooks(targets, dim, m, pqCells)
    val subDim = dim / m
    // spread before the cell-assign + encode kernels (knnBruteForce note)
    val t = Scale.spreadNarrowScan(targets).select(col("tid"),
      nearestCell(col("te"), coarse).as("cell0"),
      pqEncode(col("te"), cbs, subDim).as("codes"))
    val q = broadcast(queries
      .withColumn("cell0", explode(probeCells(col("qe"), coarse, nProbe)))
      .select(col("qid"), col("cell0"),
        adcTables(col("qe"), cbs, subDim).as("tabs")))
    // a target has exactly one cell0, so the cell join yields each
    // (qid, tid) at most once — no pair dedup needed before the window
    val adc = q.join(t, Seq("cell0")).filter(col("qid") =!= col("tid"))
      .withColumn("adc", adcSum(m))
    val wa = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("tid"))
    val cand = adc.withColumn("rk0", row_number().over(wa))
      .filter(col("rk0") <= refine)
      .select(col("qid"), col("tid"))
    exactRerank(cand, queries, targets, k)
  }

  /** HARD-NEGATIVE MINING for contrastive training: per query vector,
    * the k most-cosine-similar targets with a DIFFERENT label — the
    * near-miss negatives that make an embedding model's loss informative
    * (random negatives are too easy to carry gradient). Same fixed-point
    * cosine and deterministic tie-break as [[knnBruteForce]]; the label
    * inequality replaces the self-exclusion (a query's own label class
    * is excluded wholesale). `queries` = (qid, qe, qlabel), `targets` =
    * (tid, te, tlabel). Returns (qid, rank, tid, tlabel, cos). */
  def hardNegatives(queries: DataFrame, targets: DataFrame,
      k: Int): DataFrame = {
    val q = queries.withColumn("qn", scaledDot(col("qe"), col("qe")))
    // NOT spread: the mining query batch is tiny by construction and the
    // pinned exchange measured slower than the 1-split scan (r19 A/B:
    // 0.33 -> 0.45 s spread)
    val t = targets.withColumn("tn", scaledDot(col("te"), col("te")))
    val scored = broadcast(q).join(t, col("qlabel") =!= col("tlabel"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("tlabel"), col("cos"))
  }

  /** A4: per-group vector mean as exploded (group, pos, mean_val) rows —
    * exact fixed-point sums so the result is engine-reproducible
    * (tools/createqueryembed.py:494-502). */
  def vectorMeanExploded(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg((sum(round(col("v").cast("double") * 1e6).cast("long"))
        .cast("double") / 1e6 / count(lit(1)).cast("double")).as("mean_val"))

  /** A4: contrastive query centroid — instruction + positive-mean minus
    * 1.5x negative-mean, L2-normalized (createqueryembed.py:494-502). */
  def contrastiveQuery(instr: Column, posMean: Column, negMean: Column): Column = {
    val combined = zip_with(zip_with(instr, posMean, (i, p) => i + p),
      negMean, (ip, n) => ip - n * 1.5)
    val norm = sqrt(aggregate(transform(combined, x => x * x), lit(0.0),
      (acc, x) => acc + x))
    transform(combined, x => x / norm)
  }

  // Random-hyperplane LSH: fixed seeded planes so bucket assignment is
  // stable across runs/executors (no runtime randomness). Plane components
  // are float (and projections fixed-point ScaledDot sums), so the bucket
  // of every vector is bit-exact reproducible in any engine — the DuckDB
  // oracle recomputes identical buckets from the same plane literals.
  //
  // `numPlanes` is a caller knob (default 6 = 64 buckets, the oracle-gated
  // geometry): at 100 TB, 2^6 buckets is a parallelism and bucket-size
  // floor, so the scale path is widening to 2^12+ — same plane family
  // (seeded prefix property: plane j is identical for every numPlanes,
  // because the generator draws planes in order from one seed), so an
  // index built at one width stays consistent with its own queries.
  val NumPlanes = 6
  def lshPlanes(dim: Int, numPlanes: Int = NumPlanes): Array[Array[Float]] = {
    val rnd = new java.util.Random(42)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Bucket id in [0, 2^numPlanes): sign bits of fixed-point hyperplane
    * projections (exact — no float-sum order sensitivity). */
  def lshBucket(v: Column, dim: Int, numPlanes: Int = NumPlanes): Column = {
    val ps = lshPlanes(dim, numPlanes)
    (0 until numPlanes).map { j =>
      when(scaledDot(v, typedLit(ps(j))) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Multi-probe bucket set: the vector's own bucket plus the `nProbe`-1
    * single-bit-flip neighbor buckets whose planes have the smallest
    * |projection| — the classic multi-probe ordering (a vector near a
    * hyperplane is the one whose true neighbors fall on the other side of
    * it). Everything is fixed-point and the plane set is seeded, so the
    * probe set is bit-reproducible across engines (the DuckDB twin derives
    * the identical flips by ranking |projection|). Buckets are distinct by
    * construction (each flip differs from the home bucket in one bit). */
  def lshProbeBuckets(v: Column, dim: Int, nProbe: Int,
      numPlanes: Int = NumPlanes): Column = {
    val ps = lshPlanes(dim, numPlanes)
    val projs = (0 until numPlanes).map(j => scaledDot(v, typedLit(ps(j))))
    val own = projs.zipWithIndex.map { case (p, j) =>
      when(p > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    if (nProbe <= 1) array(own)
    else {
      // sort planes by (|projection| asc, plane idx asc) — struct sort —
      // and flip the home bucket's bit for the nProbe-1 nearest boundaries
      val byDist = projs.zipWithIndex.map { case (p, j) =>
        struct(abs(p).as("a"), lit(j).as("j"))
      }
      val flips = transform(
        slice(array_sort(array(byDist: _*)), 1, nProbe - 1),
        s => own.bitwiseXOR(
          call_function("shiftleft", lit(1L), s.getField("j"))))
      concat(array(own), flips)
    }
  }

  /** Deterministic IVF seed centroids: every 7th of the first `7*nCells`
    * target vectors by id — a pure function of the table, which is what
    * lets the DuckDB oracle recompute the identical cell layout with a
    * `row_number() % 7` window. */
  def ivfSeedCentroids(targets: DataFrame, nCells: Int): Array[Array[Float]] =
    targets.select(col("tid"), col("te")).orderBy(col("tid"))
      .limit(nCells * 7).collect()
      .zipWithIndex.collect { case (r, i) if i % 7 == 0 =>
        r.getSeq[Float](1).toArray }
      .take(nCells)

  /** Seed centroids refined with `iters` Lloyd steps — each step is one
    * distributed assignment pass plus a tiny driver-side mean update
    * (centroid matrix is KxD floats; collecting it is not a driver-side
    * data loop). The mean update is FIXED-POINT (1e-6-quantized sums in
    * long, double division, float rounding) so the refined centroids —
    * and therefore every assignment, probe set, and ranking — are exactly
    * reproducible in any engine: the `knn_ivf_lloyd` DuckDB oracle
    * replays both refinement rounds. Empty cells keep their previous
    * centroid. */
  def ivfCentroids(targets: DataFrame, nCells: Int,
      iters: Int = 2): Array[Array[Float]] =
    lloydSteps(targets, ivfSeedCentroids(targets, nCells), iters)

  /** REBALANCE after drift — the corrective action the
    * `knn_centroid_drift` trigger schedules: the same fixed-point Lloyd
    * refinement, but seeded from the FROZEN build-time centroids and
    * trained over the post-append corpus (warm re-cluster, so stable
    * cells barely move while drifted ones re-center). Deterministic
    * like the cold path, so the `knn_ivf_rebalanced` twin replays both
    * build-time rounds and both re-center rounds exactly. */
  def ivfRecenter(targets: DataFrame, seed: Array[Array[Float]],
      iters: Int = 2): Array[Array[Float]] =
    lloydSteps(targets, seed, iters)

  private def lloydSteps(targets: DataFrame, seed: Array[Array[Float]],
      iters: Int): Array[Array[Float]] = {
    var centroids = seed
    (0 until iters).foreach { _ =>
      val cs = centroids
      val assigned = targets.withColumn("cell", nearestCell(col("te"), cs))
      val means = assigned
        .select(col("cell"), posexplode(col("te")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(round(col("v").cast("double") * 1e6).cast("long"))
          .cast("double") / 1e6 / count(lit(1)).cast("double")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centroids = next
    }
    centroids
  }

  /** Index of the nearest centroid by fixed-point dot product (exact);
    * ties break to the lowest cell index, mirroring the oracle's
    * `row_number() OVER (ORDER BY d DESC, cell)`. */
  private[ops] def nearestCell(v: Column, centroids: Array[Array[Float]]): Column = {
    // max of (d, -cell) = highest dot, then lowest cell
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(scaledDot(v, typedLit(c)).as("d"), lit(-i).as("neg_cell"))
    }
    (-array_max(array(scored: _*)).getField("neg_cell")).cast("int")
  }

  /** Indices of the `nProbe` highest-scoring cells (same exact ordering). */
  private[ops] def probeCells(v: Column, centroids: Array[Array[Float]],
      nProbe: Int): Column = {
    // ascending sort of (-d, cell) = d desc, cell asc
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct((-scaledDot(v, typedLit(c))).as("nd"), lit(i).as("cell"))
    }
    slice(array_sort(array(scored: _*)), 1, nProbe).getField("cell")
  }

  /** IVF ANN search: queries(qid, qe) x targets(tid, te). `targetFilter`
    * is the filtered-search hook: centroids still train on the FULL
    * target set (the index layout a vector store shares across every
    * predicate), and the metadata predicate restricts only the
    * probed-cell candidate set — per-row cell assignment commutes with
    * the filter, so filtering survivors equals filtering candidates. */
  def knnIvf(queries: DataFrame, targets: DataFrame, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 2, lloydIters: Int = 0,
      targetFilter: Option[Column] = None): DataFrame = {
    val centroids =
      if (lloydIters == 0) ivfSeedCentroids(targets, nCells)
      else ivfCentroids(targets, nCells, lloydIters)
    val tb0 = targetFilter.fold(targets)(targets.filter)
    val tb = tb0.withColumn("cell", nearestCell(col("te"), centroids))
      .withColumn("tn", scaledDot(col("te"), col("te")))
    val qb = broadcast(queries
      .withColumn("cell", explode(probeCells(col("qe"), centroids, nProbe)))
      .withColumn("qn", scaledDot(col("qe"), col("qe"))))
    val scored = qb.join(tb, Seq("cell")).filter(col("qid") =!= col("tid"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("cos"))
  }

  /** Persist an IVF index at rest: targets assigned to their cell and
    * written `partitionBy(cell)` with precomputed norms. At scale this is
    * the ANN path: the index is built once, and every query batch reads
    * only its probed cells' partitions (see [[knnIvfIndexed]]). With
    * `lloydIters` > 0 the cell layout uses the Lloyd-refined centroids —
    * the best-recall path benefits the index at rest, not just the
    * in-memory search. Returns the centroids to keep with the index
    * (queries must probe with the same centroids the index was built
    * with). */
  def writeIvfIndex(targets: DataFrame, path: String,
      nCells: Int, lloydIters: Int = 0): Array[Array[Float]] = {
    val centroids =
      if (lloydIters == 0) ivfSeedCentroids(targets, nCells)
      else ivfCentroids(targets, nCells, lloydIters)
    writeIvfIndexWith(targets, path, centroids)
    centroids
  }

  /** Index layout under caller-supplied centroids — the rewrite step of
    * a rebalance (re-assign every vector under the re-centered cells). */
  def writeIvfIndexWith(targets: DataFrame, path: String,
      centroids: Array[Array[Float]]): Unit =
    targets.withColumn("cell", nearestCell(col("te"), centroids))
      .withColumn("tn", scaledDot(col("te"), col("te")))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Persist the centroid matrix BESIDE the index (`<path>.centroids`)
    * so the index is self-contained at rest: a fresh driver — or another
    * engine — can reload probe state without retraining. Row-major
    * (cell, pos, c) float cells; exact float round-trip through parquet. */
  def writeIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, pos) => (cell, pos, v) }
    }.toSeq.toDF("cell", "pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path.centroids")
  }

  /** Reload the centroid sidecar written by [[writeIvfCentroids]] —
    * a KxD driver-side collect, the same bound as training them. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] = {
    val rows = spark.read.parquet(s"$path.centroids")
      .select(col("cell"), col("pos"), col("c")).collect()
    val nCells = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Float](nCells, dim)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getFloat(2))
    out
  }

  /** APPEND a new vector batch to a persisted IVF index without a
    * rebuild — the index-freshness move a continuously-ingesting 100 TB
    * corpus needs: cells come from the centroids FROZEN at build time (no
    * re-clustering, so existing partitions are never rewritten) and the
    * batch lands as new files inside its cell partitions
    * (`mode(append)` + `partitionBy` — partition discovery picks them up
    * on the next scan, and probe-set partition pruning applies to old and
    * new files alike). Centroid drift under sustained append is the
    * documented trade: periodic re-build re-balances cells; between
    * builds, recall degrades only as far as the data distribution does. */
  def appendIvfIndex(batch: DataFrame, path: String,
      centroids: Array[Array[Float]]): Unit =
    batch.withColumn("cell", nearestCell(col("te"), centroids))
      .withColumn("tn", scaledDot(col("te"), col("te")))
      .write.mode("append").partitionBy("cell").parquet(path)

  /** DELETE vectors from a persisted IVF index WITHOUT rewriting cell
    * partitions: the vec_ids land in a tombstone sidecar
    * (`<path>.tombstones`, the centroid-sidecar convention — NOT inside
    * the partitioned dir, where a foreign subdir would break partition
    * discovery) that [[knnIvfIndexed]] anti-joins at probe time. IVF
    * scoring has no corpus-level stats (unlike BM25's N/avgdl), so the
    * tombstones alone make delete+query identical to an index built
    * without the deleted vectors. The deferred rewrite is
    * [[compactIvfIndex]]. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    tombstoneVectors(spark, path, ids)

  /** LSH sibling of [[deleteFromIvfIndex]] — the layouts share the
    * `tid`-keyed tombstone sidecar; only the partition column differs,
    * which deletion never touches. */
  def deleteFromLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    tombstoneVectors(spark, path, ids)

  /** PQ / SQ8 siblings: the flat code stores carry the same tid-keyed
    * tombstone sidecar; [[compactFlatIndex]] is their rewrite. */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    tombstoneVectors(spark, path, ids)
  def deleteFromSq8Index(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit =
    tombstoneVectors(spark, path, ids)

  /** Anti-join an index scan against its tombstone sidecar when one
    * exists (shared by every tid-keyed index layout). */
  private def withoutTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame): DataFrame = {
    val tomb = new org.apache.hadoop.fs.Path(path + ".tombstones")
    if (tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(tomb))
      df.join(broadcast(spark.read.parquet(tomb.toString)),
        Seq("tid"), "left_anti")
    else df
  }

  private def tombstoneVectors(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    if (ids.isEmpty) return
    val found = spark.read.parquet(path)
      .filter(col("tid").isInCollection(ids))
      .select(col("tid")).distinct().count()
    require(found == ids.distinct.size,
      s"delete batch names ${ids.distinct.size} vec_ids but only $found " +
        "are in the index")
    ids.distinct.toDF("tid")
      .coalesce(1).write.mode("append").parquet(path + ".tombstones")
  }

  /** COMPACT a tombstoned IVF index: rewrite ONLY the cell partitions
    * containing deleted vectors (dynamic partition overwrite — untouched
    * cells keep their files), drop emptied cells and the tombstone
    * sidecar. Search results are unchanged (the compacted gate reuses
    * the deleted gate's twin); the win is the dropped anti-join and the
    * reclaimed files. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactVectorIndex(spark, path, "cell")

  /** LSH sibling of [[compactIvfIndex]] — same rewrite, partitioned by
    * `bucket` instead of `cell`. */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactVectorIndex(spark, path, "bucket")

  /** Compact a FLAT (unpartitioned) code store — the PQ/SQ8 layouts:
    * with no partition column there is nothing to rewrite selectively,
    * so compaction is a full store rewrite minus the tombstoned ids.
    * Bounded by the store itself, which for these layouts is the point:
    * codes are 8-50x smaller than the float vectors, so the rewrite
    * reads and writes only the shrunken payload. */
  def compactFlatIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tomb = new org.apache.hadoop.fs.Path(path + ".tombstones")
    val fs = tomb.getFileSystem(conf)
    if (!fs.exists(tomb)) return
    val dead = spark.read.parquet(tomb.toString)
    val survivors = spark.read.parquet(path)
      .join(dead, Seq("tid"), "left_anti")
      .localCheckpoint() // never overwrite a path being read
    survivors.write.mode("overwrite").parquet(path)
    survivors.unpersist()
    fs.delete(tomb, true)
  }

  private def compactVectorIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, partCol: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tomb = new org.apache.hadoop.fs.Path(path + ".tombstones")
    val fs = tomb.getFileSystem(conf)
    if (!fs.exists(tomb)) return
    val dead = spark.read.parquet(tomb.toString)
    val idx = spark.read.parquet(path)
    val touched = idx.join(dead, "tid")
      .select(col(partCol)).distinct().collect().map(_.get(0)).toSeq
    if (touched.nonEmpty) {
      val survivors = idx
        .filter(col(partCol).isInCollection(touched))
        .join(dead, Seq("tid"), "left_anti")
        .repartition(col(partCol))
        .localCheckpoint() // never overwrite a path being read
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      val alive = survivors.select(col(partCol)).distinct()
        .collect().map(_.get(0)).toSet
      touched.filterNot(alive).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(path + s"/$partCol=$v"), true)
      }
      survivors.unpersist()
    }
    fs.delete(tomb, true)
  }

  /** ANN search against a persisted IVF index. The distinct probe-cell
    * set of the query batch (at most nCells values — a tiny driver-side
    * collect, like the centroids themselves) becomes a LITERAL partition
    * filter on the index scan, so the source statically prunes every
    * unprobed cell: the scan reads ~nProbe/nCells of the index regardless
    * of its total size. */
  def knnIvfIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Array[Array[Float]], queries: DataFrame, k: Int,
      nProbe: Int = 2, targetFilter: Option[Column] = None): DataFrame = {
    val probed = queries
      .withColumn("cell", explode(probeCells(col("qe"), centroids, nProbe)))
    val cells = probed.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSeq
    // filtered vector search: writeIvfIndex preserves every target
    // column, so a metadata predicate composes with the probe-cell
    // partition pruning — both reach the parquet scan (partition filter
    // + pushed data filter), the knnLshIndexed convention
    val tb1 = spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*))
    // tombstone-aware: vectors deleted by deleteFromIvfIndex drop out of
    // the probed candidate set; after compactIvfIndex the sidecar is
    // gone and so is this join
    val tombPath = new org.apache.hadoop.fs.Path(path + ".tombstones")
    val tb0 =
      if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(tombPath))
        tb1.join(broadcast(spark.read.parquet(tombPath.toString)),
          Seq("tid"), "left_anti")
      else tb1
    val tb = targetFilter.fold(tb0)(tb0.filter)
    val qb = broadcast(probed
      .withColumn("qn", scaledDot(col("qe"), col("qe"))))
    val scored = qb.join(tb, Seq("cell")).filter(col("qid") =!= col("tid"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("cos"))
  }

  /** Persist an LSH index at rest: targets written `partitionBy(bucket)`
    * with precomputed norms (buckets are deterministic — fixed seeded
    * planes — so no sidecar state is needed beyond the dim). */
  def writeLshIndex(targets: DataFrame, path: String, dim: Int,
      numPlanes: Int = NumPlanes): Unit =
    targets.withColumn("bucket", lshBucket(col("te"), dim, numPlanes))
      .withColumn("tn", scaledDot(col("te"), col("te")))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Append a batch to a persisted LSH index. Unlike IVF there is no
    * trained state to freeze: buckets are pure functions of the vector
    * (fixed seeded planes), so an appended index is BIT-IDENTICAL to a
    * from-scratch rebuild — which is exactly what the knn_lsh_updated
    * gate proves by reusing the full-recompute twin verbatim. */
  def appendLshIndex(batch: DataFrame, path: String, dim: Int,
      numPlanes: Int = NumPlanes): Unit =
    batch.withColumn("bucket", lshBucket(col("te"), dim, numPlanes))
      .withColumn("tn", scaledDot(col("te"), col("te")))
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** ANN search against a persisted LSH index: the query batch's distinct
    * probed buckets (at most 2^NumPlanes values) become a literal
    * partition filter, so the scan statically prunes every unprobed
    * bucket. `nProbe` defaults to 2 (multi-probe) since round 4 — callers
    * wanting the cheaper single-probe semantics pass nProbe = 1.
    * `numPlanes` must match the width the index was built with. */
  def knnLshIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, dim: Int, k: Int, nProbe: Int = 2,
      numPlanes: Int = NumPlanes,
      targetFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val qb0 = queries.withColumn("bucket",
      explode(lshProbeBuckets(col("qe"), dim, nProbe, numPlanes)))
    val buckets = qb0.select(col("bucket")).distinct().collect()
      .map(_.getLong(0)).toSeq
    // filtered vector search: writeLshIndex preserves every target column,
    // so a metadata predicate composes with the bucket partition pruning —
    // both reach the parquet scan (partition filter + pushed data filter)
    val tb1 = spark.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*))
    // tombstone-aware (deleteFromLshIndex), the knnIvfIndexed convention
    val tombPath = new org.apache.hadoop.fs.Path(path + ".tombstones")
    val tb0 =
      if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(tombPath))
        tb1.join(broadcast(spark.read.parquet(tombPath.toString)),
          Seq("tid"), "left_anti")
      else tb1
    val tb = targetFilter.fold(tb0)(tb0.filter)
    val qb = broadcast(qb0.withColumn("qn", scaledDot(col("qe"), col("qe"))))
    val scored = qb.join(tb, Seq("bucket")).filter(col("qid") =!= col("tid"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) verdicts: semantic
    * dedup by k-means clustering then within-cluster cosine pruning —
    * near-duplicates in embedding space land in the same Voronoi cell, so
    * the quadratic pair term is bounded by the cell-size distribution
    * (sum of m_c^2), never n^2. A vector is dropped when an earlier
    * (lower-id) SAME-CELL vector is >= `minCos` similar — keep-first, the
    * d1/d6 canonical convention (the paper's keep-farthest-from-centroid
    * is a policy choice on the same candidate structure). Reuses the
    * gated IVF machinery: deterministic seed centroids + fixed-point
    * Lloyd refinement + fixed-point cosine, so every cluster boundary and
    * similarity reproduces bit-for-bit in the SQL twin.
    *
    * Scale shape: centroids are a KxD driver-side float matrix (the IVF
    * convention, not a data collect); assignment is a map stage; the
    * pair join shuffles once on the cell id. `nCells` is the knob that
    * bounds cell population (SemDeDup's published runs use ~11k clusters
    * for 1.3e9 docs — nCells grows with N, keeping cells self-joinable).
    * `targets` must be (tid, te). Returns (tid, cell, keep). */
  def semDedupVerdicts(targets: DataFrame, nCells: Int, lloydIters: Int,
      minCos: Double): DataFrame = {
    val centroids = ivfCentroids(targets, nCells, lloydIters)
    val tb = targets.withColumn("cell", nearestCell(col("te"), centroids))
      .withColumn("tn", scaledDot(col("te"), col("te")))
    val a = tb.select(col("tid").as("id_1"), col("cell"),
      col("te").as("e1"), col("tn").as("n1"))
    val b = tb.select(col("tid").as("id_2"), col("cell"),
      col("te").as("e2"), col("tn").as("n2"))
    val drops = a.join(b, Seq("cell")).filter(col("id_1") < col("id_2"))
      .withColumn("cos", scaledDot(col("e1"), col("e2")).cast("double") /
        sqrt((col("n1") * col("n2")).cast("double")))
      .filter(col("cos") >= minCos)
      .select(col("id_2").as("tid")).distinct()
    tb.join(drops.withColumn("__dup", lit(1)), Seq("tid"), "left")
      .select(col("tid"), col("cell"), col("__dup").isNull.as("keep"))
  }

  /** Corpus size below which [[semanticDedup]] routes to the exact
    * all-pairs branch. MEASURED anchor, not a guess
    * (bench/scale_curve_r17.json `semdedup_vs_brute` +
    * bench/scale_curve_r18.json `semdedup_reanchor_shallow_schedule`,
    * min-of-3 per point, perturbed corpus): under the r18 shallow
    * beam schedule, at n=10k the quadratic all-pairs join wins
    * outright (15.2 s vs 18.4 s for the index MINING term alone); at
    * n=40k (cap 5, the unchanged deep schedule) mining wins the
    * steady-state comparison (28.9 s vs 30.6 s — the repeated cost;
    * the build amortizes across every consumer of the same store)
    * with the gap widening at the measured exponents (20x->100x:
    * all-pairs x23.4 ~ the n^2 prediction, mining x6.7); at n=200k
    * the index wins 2.2x even paying the build from scratch. Below
    * 10k the fixed per-level plan overhead of the graph path
    * dominates while the quadratic join still underutilizes the
    * cores. 20k sits between the measured bracketing points, brute
    * winning BOTH terms on the low side and the steady-state term on
    * the high side flipping decisively with n^2 growth above it. */
  val SemDedupRouteCutoff: Long = 20000

  /** The pure routing decision, factored out so artifacts/tests can
    * interrogate the policy without building anything. */
  def semanticDedupRoute(n: Long,
      routeCutoff: Long = SemDedupRouteCutoff): String =
    if (n < routeCutoff) "brute" else "index"

  /** COST-ROUTED semantic dedup — ONE entry point that picks the
    * execution strategy from the measured r17 crossover instead of
    * making the caller choose (the r17 verdict's top ask: "the whole
    * point of measuring a crossover is an operator that routes on
    * it"). Returns near-duplicate pairs (id_1 < id_2, cos) over
    * `minCos`; `targets` must be (tid, te).
    *
    *  - n < `routeCutoff`: the EXACT all-pairs branch — the d5 gate's
    *    fixed-point cosine theta-join verbatim, every qualifying pair
    *    emitted. Quadratic, and measurably the fastest thing at small
    *    n (see [[SemDedupRouteCutoff]]).
    *  - n >= cutoff: the HNSW-index branch — the d5d gate's shape:
    *    every vector queries the in-memory layered graph, top-`k`
    *    neighbours over the threshold become undirected pairs.
    *    O(n*k) candidates instead of O(n^2) evaluations AND an
    *    output that stays linear in n (the all-pairs output is
    *    itself quadratic on a near-dup-heavy corpus: 159.5M pairs at
    *    n=200k on the r17 curve).
    *
    * The two branches return DIFFERENT pair sets by design (nearest-
    * dup mining vs exhaustive enumeration); the d5d gate's in-gate
    * REQUIRE pins their dedup-VERDICT agreement at >= 90%, which is
    * the quantity a dedup pipeline consumes. The decision is logged
    * to stderr. `forceRoute` pins a branch for gates and A/Bs; the
    * n-driven default is the production path. */
  def semanticDedup(targets: DataFrame, dim: Int, minCos: Double,
      k: Int = 5, routeCutoff: Long = SemDedupRouteCutoff,
      forceRoute: Option[String] = None): DataFrame = {
    val n = targets.count()
    val route = forceRoute.getOrElse(semanticDedupRoute(n, routeCutoff))
    val why = forceRoute.map(_ => "forced")
      .getOrElse(s"n=$n ${if (n < routeCutoff) "<" else ">="} cutoff=$routeCutoff")
    System.err.println(s"[graft.semanticDedup] route=$route ($why, " +
      s"anchors: bench/scale_curve_r17.json semdedup_vs_brute)")
    route match {
      case "brute" =>
        // spread the stream side of the all-pairs theta-join when the
        // input is an under-split scan — the O(n^2/2) cosine kernel
        // otherwise runs in one BroadcastNestedLoopJoin task (the d5
        // gate's measured r19 failure mode); identity on wide inputs
        val a = graft.ops.Scale.spreadNarrowScan(
          targets.select(col("tid").as("id_1"), col("te").as("qe"))
            .withColumn("qn", scaledDot(col("qe"), col("qe"))))
        val b = targets.select(col("tid").as("id_2"), col("te").as("be"))
          .withColumn("bn", scaledDot(col("be"), col("be")))
        a.join(b, col("id_1") < col("id_2"))
          .withColumn("cos", scaledDot(col("qe"), col("be")).cast("double") /
            sqrt((col("qn") * col("bn")).cast("double")))
          .filter(col("cos") > minCos)
          .select(col("id_1"), col("id_2"), col("cos"))
      case "index" =>
        val q = targets.select(col("tid").as("qid"), col("te").as("qe"))
        knnHnsw(q, targets, dim, k)
          .filter(col("cos") > minCos)
          .select(least(col("qid"), col("tid")).as("id_1"),
            greatest(col("qid"), col("tid")).as("id_2"), col("cos"))
          .distinct()
      case other =>
        throw new IllegalArgumentException(
          s"semanticDedup: unknown route '$other' (brute|index)")
    }
  }

  /** Per-target Voronoi cell over the gated IVF machinery (deterministic
    * seed centroids + fixed-point Lloyd + fixed-point nearest-cell), as a
    * public building block for cluster-keyed curation (cluster-balanced
    * sampling, cluster stats). `targets` must be (tid, te); returns the
    * input plus an int `cell` column. Assignment is a pure map stage —
    * the KxD centroid matrix rides the closure, never a shuffle. */
  def cellAssignments(targets: DataFrame, nCells: Int,
      lloydIters: Int): DataFrame = {
    val centroids = ivfCentroids(targets, nCells, lloydIters)
    targets.withColumn("cell", nearestCell(col("te"), centroids))
  }

  /** Nearest-cell assignment under FROZEN caller-held centroids — the
    * column-level face of nearestCell for the append/drift path, where
    * the centroids must be the build-time ones, not a recompute. */
  def cellFor(v: Column, centroids: Array[Array[Float]]): Column =
    nearestCell(v, centroids)

  /** SEMANTIC decontamination: flag corpus vectors whose cosine to ANY
    * benchmark vector clears `minCos` — the embedding-space complement of
    * the n-gram d8 gate (catches paraphrased benchmark leakage that
    * shares no 8-gram). `corpus` is (tid, te), `bench` is (bid, be).
    * Returns (tid, max_cos, contaminated) for every corpus vector.
    *
    * Scale shape: benchmark sets are small by construction (validation
    * suites, not corpora), so the bench side broadcasts and the scan is
    * one map-side nested loop per corpus partition; norms are computed
    * once per vector. The groupBy collapses |bench| scored rows back to
    * one row per corpus doc with map-side partial aggregation, so the
    * only shuffle carries one row per doc — the floor for any per-doc
    * verdict. Fixed-point dots keep the verdict bit-reproducible. */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      minCos: Double): DataFrame = {
    val c = corpus.withColumn("tn", scaledDot(col("te"), col("te")))
    val b = bench.withColumn("bn", scaledDot(col("be"), col("be")))
    c.join(broadcast(b), col("tid") =!= col("bid"))
      .withColumn("cos", scaledDot(col("te"), col("be")).cast("double") /
        sqrt((col("tn") * col("bn")).cast("double")))
      .groupBy(col("tid"))
      .agg(max(col("cos")).as("max_cos"))
      .withColumn("contaminated", col("max_cos") >= minCos)
  }

  /** LSH ANN: score candidates in the query's probed buckets (its own plus
    * the nProbe-1 nearest single-bit-flip neighbors — multi-probe trades a
    * small candidate-count increase for recall that plane count alone
    * can't buy). Targets live in exactly one bucket and probe buckets are
    * distinct, so no candidate-pair dedup is needed. Returns
    * (qid, rank, tid, cos) — rank within retrieved candidates.
    * `nProbe` defaults to 2 (multi-probe) since round 4 — callers wanting
    * the cheaper single-probe semantics pass nProbe = 1 explicitly. */
  def knnLsh(queries: DataFrame, targets: DataFrame, dim: Int,
      k: Int, nProbe: Int = 2, numPlanes: Int = NumPlanes): DataFrame = {
    val qb = broadcast(queries
      .withColumn("bucket",
        explode(lshProbeBuckets(col("qe"), dim, nProbe, numPlanes)))
      .withColumn("qn", scaledDot(col("qe"), col("qe"))))
    val tb = targets.withColumn("bucket", lshBucket(col("te"), dim, numPlanes))
      .withColumn("tn", scaledDot(col("te"), col("te")))
    val scored = qb.join(tb, Seq("bucket")).filter(col("qid") =!= col("tid"))
      .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
        sqrt((col("qn") * col("tn")).cast("double")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("tid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("tid"), col("cos"))
  }

  // ------------------------------------------------------------------
  // HNSW-FAMILY LAYERED NAVIGABLE GRAPH — the graph-ANN operating point
  // (Malkov & Yashunin 2016, arXiv:1603.09320) re-expressed for Spark's
  // execution model. The canonical HNSW is a sequential pointer-chase
  // with RANDOM level draws; this implementation keeps the structure
  // that makes it work — exponentially-thinning layers, per-node
  // nearest-neighbour lists, greedy coarse-to-fine descent — and makes
  // every piece DETERMINISTIC and relational:
  //  - level(tid) is a modular rule (trailing base-7 zeros of the id,
  //    capped at hnswCap(n) = floor(log_7 n)), so layer DEPTH GROWS
  //    with the corpus (~log_7 n levels, expected n/7^l nodes at
  //    level >= l) and both engines assign identical layers;
  //  - each level-l node's M-list = its top-M exact-cosine neighbours
  //    among level->=l nodes homed in its top-p_l probe cells (the
  //    gated seed-centroid machinery), with p_l = min(nCells,
  //    nProbe * 7^l): the probe radius WIDENS exactly as fast as the
  //    layer thins, so upper layers keep the long-range routing links
  //    canonical HNSW gets from its global insert search while
  //    per-node candidate volume stays <= the base layer's
  //    (nProbe * n / nCells) at EVERY level — total construction cost
  //    <= 7/6 of the base layer's sum-of-cell-pair products, the
  //    SemDedup/IVF posture with nCells as the scaling knob
  //    (nCells ~ sqrt(n) keeps construction ~n^1.5). NO level is built
  //    by a global cross join (the r14 fixed-3-tier geometry built
  //    level 1 = n/7 of the corpus all-pairs, O(n^2/49); retired).
  //  - search is a FIXED-UNROLL beam descent: entry = best node of the
  //    top OCCUPIED layer — its size is < 7 under the cap rule
  //    (7^cap <= n < 7^(cap+1), so a dense id space holds < 7
  //    multiples of 7^cap), making the entry scan O(1) in the corpus —
  //    then per level a constant number of expand-and-prune hops (each
  //    hop: beam JOIN adjacency, exact re-score, window top-b). Fixed
  //    unrolls make the whole search replayable in the DuckDB twin
  //    (the pagerank-iteration convention) — a while-converged loop
  //    would not be. Depth (and so total hops) grows ~log_7 n.
  // Scale shape: the adjacency is (lvl, src, dst, cos) rows at rest,
  // partitioned by lvl; each hop broadcasts the beam (queries x b rows)
  // and equi-joins it against adjacency then targets — per-hop work is
  // beam-bounded, never corpus-bounded. Recall is gated against the
  // brute-force twin (knn_recall_hnsw) with the IVF-Lloyd floor.
  //
  // PERSISTED STORE + MAINTENANCE (the knn_ivf_*/d3_index_* matrix
  // applied to the graph). Sidecars under the store root, every commit
  // reader-atomic and epoch-fenced via graft.util.Sidecars (immutable
  // version-named dirs; two overlapping maintenance transactions
  // conflict loudly at the first commit):
  //   vectors   (tid, te, tn, lvl, home)  partitioned (lvl, home);
  //                                       additive on append — entry
  //                                       reads prune to lvl=top,
  //                                       append candidate scans to
  //                                       the batch's probed cells
  //   adj       (lvl, src, dst, cos)      partitioned by lvl
  //   adjpatch  (lvl, src, dst, cos)      REPLACEMENT lists for srcs
  //                                       touched since the last build/
  //                                       compact — readers take patch
  //                                       over base per (lvl, src)
  //   centroids (cell, pos, c)            construction device, FROZEN
  //                                       at build (appends assign
  //                                       against it; compact retrains)
  //   meta      (n, cap, max_lvl, dim, n_cells, m, n_probe)
  //   tombs     (tid)                     mark-deleted: routing keeps
  //                                       them, ranking excludes them
  // AUTO-COMPACTION POLICY: compact when adjpatch rows exceed 25% of
  // the base adjacency OR tombstones exceed 10% of n
  // ([[HnswMaxPatchFrac]]/[[HnswMaxTombFrac]], [[autoCompactHnswIndex]]
  // — run it after each maintenance batch; it no-ops until the debt
  // crosses). Pinned by the knn_hnsw_drift gate: recall after a
  // frozen-centroid append sequence holds a floor, the debt trips the
  // trigger, and the healed store equals a fresh build.
  // ------------------------------------------------------------------

  /** Depth cap of the layer hierarchy for an n-vector corpus: the
    * largest L with 7^L <= n (0 for n < 7), i.e. floor(log_7 n) — the
    * Malkov-Yashunin expected depth, derived from an exact integer
    * comparison so any engine replays it without float-log hazards. */
  def hnswCap(n: Long): Int = {
    require(n > 0, "HNSW over an empty corpus")
    var l = 0
    var p = 7L
    while (p <= n && l < 20) { l += 1; p *= 7 }
    l
  }

  private def pow7(l: Int): Long = {
    var p = 1L
    var i = 0
    while (i < l) { p *= 7; i += 1 }
    p
  }

  /** Deterministic HNSW level of a node id: the count of trailing
    * base-7 zeros of tid, capped at `cap` — the 1/7-geometric layer
    * thinning (expected n/7^l ids at level >= l), modular so the
    * oracle replays it. tid = 0 (divisible by every power) lands on
    * the cap. The searcher's entry layer is always the max OCCUPIED
    * level (from the data / the meta sidecar), never the rule alone:
    * a sparse id space with no level->=1 ids gets maxOcc = 0 and the
    * entry degrades to an exact base-layer scan instead of an empty
    * beam (the r14 trap where a corpus without a level-2 id silently
    * returned zero rows). */
  def hnswLevel(tid: Column, cap: Int): Column =
    if (cap <= 0) lit(0)
    else (cap - 1 to 1 by -1).foldLeft(
      when(pmod(tid, lit(pow7(cap))) === 0, lit(cap))) { (c, l) =>
        c.when(pmod(tid, lit(pow7(l))) === 0, lit(l))
    }.otherwise(lit(0))

  /** Probe width of construction level l: min(nCells, nProbe * 7^l).
    * Widening the probe radius exactly as fast as the layer thins
    * keeps per-node candidate volume <= nProbe*n/nCells (the base
    * layer's) at every level, and makes a near-top layer effectively
    * globally connected once the width saturates at nCells — the
    * long-range links, at sum-of-cell-pair cost. */
  def hnswProbeWidth(l: Int, nProbe: Int, nCells: Int): Int = {
    var p = nProbe.toLong
    var i = 0
    while (i < l && p < nCells) { p *= 7; i += 1 }
    math.min(nCells.toLong, p).toInt
  }

  /** Layered adjacency (lvl, src, dst, cos) for levels 0..hnswCap(n):
    * per level, each surviving node keeps its top-`m` exact-cosine
    * neighbours among surviving nodes homed in one of its top-p_l
    * probe cells (ties: lowest dst id), and the bidirectional union is
    * re-pruned to 2m per src — the HNSW paper's discipline (an
    * asymmetric top-M graph strands queries whose cluster is popular
    * but not probing outward). One cell-keyed candidate join per
    * level; no level is ever built globally. */
  def hnswAdjacency(targets: DataFrame, dim: Int, nCells: Int = 16,
      m: Int = 8, nProbe: Int = 2): DataFrame =
    hnswAdjacencyWith(targets, ivfSeedCentroids(targets, nCells),
      hnswCap(targets.count()), nCells, m, nProbe)

  /** Construction under explicit centroids + depth — the shared kernel
    * of build, append (frozen centroids), and compaction (retrained). */
  private def hnswAdjacencyWith(targets: DataFrame,
      cs: Array[Array[Float]], cap: Int, nCells: Int, m: Int,
      nProbe: Int): DataFrame = {
    val pMax = hnswProbeWidth(cap, nProbe, nCells)
    val base = targets.select(col("tid"), col("te"),
        hnswLevel(col("tid"), cap).as("lvl"),
        nearestCell(col("te"), cs).as("home"),
        probeCells(col("te"), cs, pMax).as("probes"),
        scaledDot(col("te"), col("te")).as("nrm"))
      .localCheckpoint()
    // ONE level-tagged exchange pair for ALL levels (r18, guide §2.4):
    // the per-level shape paid a top-m window exchange plus a bi-prune
    // exchange per level — 2(cap+1) exchanges per build. Tagging every
    // candidate with its level and partitioning by (lvl, src) runs the
    // SAME per-level top-m and 2m prune (the windows partition by
    // (lvl, src), so ranking within a level is untouched and every twin
    // replays verbatim) through exactly two exchanges total; the dedup
    // aggregate rides the second one (HashPartitioning(lvl, src)
    // satisfies its clustering).
    val scoredAll = (0 to cap).map { l =>
      val nodes = base.filter(col("lvl") >= l)
      val pL = hnswProbeWidth(l, nProbe, nCells)
      val vSide = nodes.select(col("tid").as("src"), col("te").as("se"),
        col("nrm").as("sn"),
        explode(slice(col("probes"), 1, pL)).as("cell"))
      val uSide = nodes.select(col("tid").as("dst"), col("te").as("de"),
        col("nrm").as("dn"), col("home").as("cell"))
      vSide.join(uSide, Seq("cell")).drop("cell")
        .filter(col("src") =!= col("dst"))
        .withColumn("cos", scaledDot(col("se"), col("de")).cast("double") /
          sqrt((col("sn") * col("dn")).cast("double")))
        .select(lit(l).as("lvl"), col("src"), col("dst"), col("cos"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("lvl"), col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val fwd = scoredAll.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(col("lvl"), col("src"), col("dst"), col("cos"))
    val bi = fwd.unionByName(
        fwd.select(col("lvl"), col("dst").as("src"),
          col("src").as("dst"), col("cos")))
      .repartition(col("lvl"), col("src"))
      .distinct()
    bi.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 * m)
      .select(col("lvl"), col("src"), col("dst"), col("cos"))
  }

  /** Top-`m` forward lists (src, dst, cos) from candidate pairs carrying
    * (se, sn) x (de, dn) vector/norm columns; ties to the lowest dst. */
  private def hnswFwdTopM(paired: DataFrame, m: Int): DataFrame = {
    val scored = paired.filter(col("src") =!= col("dst"))
      .withColumn("cos", scaledDot(col("se"), col("de")).cast("double") /
        sqrt((col("sn") * col("dn")).cast("double")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select(col("src"), col("dst"), col("cos"))
  }

  /** Beam descent over a prebuilt layered adjacency. `targets` must
    * carry (tid, te, lvl). Entry: the single best layer-`maxOcc` node
    * per query — an exact scan of the top OCCUPIED layer (tiny by the
    * cap rule; non-empty by construction whenever maxOcc is derived
    * from the data). Then per level maxOcc-1..1: `hops1`
    * expand-and-prune hops at beam width `beam1`; level 0: `hops0`
    * hops at `beam0`. Every hop re-scores with the same fixed-point
    * cosine the final ranking uses, ties to the lowest tid — fully
    * deterministic. `exclude` (tombstoned ids) drops from the FINAL
    * ranking only: mark-deleted nodes still route, the canonical HNSW
    * deletion. Returns (qid, rank, tid, cos); self-matches excluded at
    * the final ranking only (the query's own node is the best possible
    * descent seed).
    *
    * Recall knob AT DEPTH: the r16 100x sweep
    * (bench/scale_curve_r16.json) measured base-layer knobs
    * (beam0/hops0, construction nProbe) FLAT while widening the
    * UPPER-layer frontier recovered every miss (beam1 8 -> 24 +
    * hops1 2 -> 3: recall 88% -> 100% at ~+30% search wall) — at
    * depth, the level-by-level basin choice is the binding decision,
    * the canonical efSearch story relocated to the routing layers.
    * `beam1`/`hops1`/`beam0` = 0 (the default) is AUTO, and the
    * schedule is DEPTH-SPLIT on the r16/r18 measurements:
    *  - maxOcc >= 5 (the measured 20x/100x regime, unchanged so those
    *    curve points stand): beam1 = 4*maxOcc, hops1 = 3, beam0 = 16
    *    — the r16 sweep showed the UPPER-layer basin choice binding
    *    and base knobs flat.
    *  - maxOcc < 5 (shallow corpora — every gate corpus): beam1 = 24,
    *    hops1 = 3, beam0 = 64. At shallow depth the geometry inverts:
    *    2 upper levels hold ~2% of a 2k corpus, so the BASE beam is
    *    the effective efSearch — the r18 1x sweep measured beam0
    *    16/32/64 -> recall@5 84%/90%/95% at flat-to-better wall
    *    (~3 s either way; the pinned 16-wide base + 8/2 upper
    *    schedule was the 76% cell in the r17 curve) while hops0 4->6
    *    bought nothing. The twins replay the same widened unroll. */
  def hnswBeam0Auto(maxOcc: Int): Int = if (maxOcc >= 5) 16 else 64

  def knnHnswWith(queries: DataFrame, targets: DataFrame,
      adjacency: DataFrame, k: Int, maxOcc: Int, beam1: Int = 0,
      hops1: Int = 0, beam0: Int = 0, hops0: Int = 4,
      exclude: Option[DataFrame] = None,
      keep: Option[DataFrame] = None,
      hopsPerCheckpoint: Int = 0): DataFrame = {
    val beam1Eff =
      if (beam1 > 0) beam1 else if (maxOcc >= 5) 4 * maxOcc else 24
    val hops1Eff = if (hops1 > 0) hops1 else 3
    val beam0Eff = if (beam0 > 0) beam0 else hnswBeam0Auto(maxOcc)
    // ENTRY IDS FIRST, on the raw frame: for the indexed path `targets`
    // is the (lvl, home)-partitioned vectors store, so the top-layer
    // filter statically prunes to the (tiny) lvl=maxOcc partition at
    // the scan instead of filtering a full materialization
    val entryIds = targets.filter(col("lvl") === maxOcc)
      .select(col("tid")).localCheckpoint()
    // materialize once: every hop's re-score joins against the target
    // vectors — without the cut each hop re-scans and re-norms them.
    // (One corpus scan per QUERY BATCH is the local operating point; a
    // standing 100 TB deployment amortizes it by bucketing the vector
    // store on tid so beam re-scores become shuffle-free lookups.)
    val t = targets.select(col("tid"), col("te"), col("lvl"),
      scaledDot(col("te"), col("te")).as("tn")).localCheckpoint()
    val q = broadcast(queries.select(col("qid"), col("qe"),
      scaledDot(col("qe"), col("qe")).as("qn")))
    // Hop plan shape (r18, guide §2.4): the candidate set is
    // repartitioned by `qid` ONCE and three operators ride that single
    // exchange — the (qid,tid) dedup aggregate (HashPartitioning(qid)
    // satisfies ClusteredDistribution(qid,tid)), the broadcast joins
    // (partitioning-preserving; `t` is a checkpointed frame with
    // propagated stats, so the planner broadcasts it while it is small
    // and falls back to a partitioned join at corpus scale), and the
    // per-query top-width window. The former shape paid a distinct
    // exchange on (qid,tid) PLUS a window exchange on (qid) per hop —
    // measured 4 AQE stage-jobs per hop at gate scale, halved by this.
    // Candidate SET and ranking order are unchanged, so every descent
    // twin replays bit-identically.
    // HOP EXCHANGE WIDTH FROM THE KNOWN CANDIDATE VOLUME (r19, guide
    // §2.5): a hop's candidate set is bounded by construction — at most
    // nQ x beamWidth x (2m+1) rows (every beam node expands to its
    // <=2m neighbours plus itself) — so the exchange width is computed
    // from that bound (~128k rows/task, the band where the per-task
    // scoring work dwarfs task overhead) instead of letting AQE
    // discover the same number with a stage-job per hop. One query
    // batch at gate scale pins to 1-2 tasks; a 2k-query dedup sweep
    // pins to ~17; a million-query production batch grows to the
    // session width. nQ is one count of the (small, broadcast) query
    // side, paid once per search.
    val hopRowsPerTask = 128L * 1000
    val sessionParH =
      queries.sparkSession.sessionState.conf.numShufflePartitions
    val nQ = queries.count()
    def wHop(width: Int): Int = {
      val rows = nQ * width * 17L
      math.max(1L, math.min(sessionParH.toLong,
        (rows + hopRowsPerTask - 1) / hopRowsPerTask)).toInt
    }
    // EXPLICIT scale-gated broadcasts for the static descent (r19): the
    // non-adaptive scope below plans from static stats, and a
    // checkpointed LogicalRDD reports the session default size — so the
    // re-score join against t and the expansion join against the
    // level's adjacency, which AQE used to convert to broadcasts at
    // runtime, would degrade to session-wide sort-merge chains (three
    // exchanges per hop, QProfile: 33-task SMJ stages over a few
    // hundred rows). Broadcast t in the SHALLOW regime (maxOcc < 5 ⇔
    // corpus ≲ 7^5 ≈ 17k vectors — single-digit MB at the pipeline's
    // embedding widths; a deep corpus streams t exactly as before),
    // and broadcast the beam side of the expansion join while
    // nQ x beamWidth stays bounded (≤400k rows ≈ 10 MB of (qid, tid)
    // pairs — the beam is width-bounded by construction, so this is a
    // row-count fact, not a guess).
    val tB = if (maxOcc < 5) broadcast(t) else t
    // 32k rows: the per-hop driver-side hash build of a broadcast beam
    // measured NET-NEGATIVE at 128k rows (d5d 4.0 -> 6.1 s isolated —
    // ten 3 MB builds per search) and net-positive at the point-lookup
    // scale (50 queries x 64 beam); the corpus-as-queries sweeps keep
    // the shuffled expansion join
    val beamSmall =
      nQ * math.max(math.max(beam1Eff, beam0Eff), 1).toLong <= 32000L
    def prune(cand: DataFrame, width: Int): DataFrame = {
      val c = cand.repartition(wHop(width), col("qid")).distinct()
      val scored = c.join(tB, Seq("tid")).join(q, Seq("qid"))
        .withColumn("cos", scaledDot(col("qe"), col("te")).cast("double") /
          sqrt((col("qn") * col("tn")).cast("double")))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("tid"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= width)
        .select(col("qid"), col("tid"), col("cos"))
    }
    def hop(beamDf: DataFrame, lvl: Int, width: Int): DataFrame = {
      val adjL = adjacency.filter(col("lvl") === lvl)
        .select(col("src").as("tid"), col("dst"))
      val beamKeyed = beamDf.select(col("qid"), col("tid"))
      val expanded = beamKeyed.unionByName(
        (if (beamSmall) broadcast(beamKeyed) else beamKeyed)
          .join(adjL, Seq("tid"))
          .select(col("qid"), col("dst").as("tid")))
      prune(expanded, width)
    }
    // entry: exact argmax over the (tiny) top occupied layer
    val entry = prune(q.select(col("qid")).crossJoin(entryIds), 1)
    // localCheckpoint every `hopsPerCheckpoint` hops: the beam is tiny
    // (queries x width rows) but an UNCUT multi-hop lineage compounds
    // into one enormous fused plan whose optimization + codegen
    // dominates the search (measured 4x the hop compute at sf0.1 when
    // never cut) — the pagerank CheckpointEvery discipline applied at
    // hop width. `hopsPerCheckpoint` sets the cut cadence; 0 = AUTO:
    // the r16 CurveProbe A/B (fresh JVM, min-of-3, same store) measured
    // per-hop cutting fastest at shallow depth (1x/cap 3: 3.51 s vs
    // 3.68 s at cadence 2) but cadence 2 fastest once the descent is
    // deep (20x/cap 5: 5.50 vs 5.97; 100x/cap 6: 9.24 vs 10.48, -12%)
    // — each cut costs a materialization round-trip and hop count
    // grows ~2 log_7 n, so the round-trip tax overtakes the fused-plan
    // tax with depth. Cutting is plan surgery only: results are
    // bit-identical at any cadence, so gates/twins are unaffected.
    val cadence =
      if (hopsPerCheckpoint > 0) hopsPerCheckpoint
      else if (maxOcc >= 5) 2 else 1
    var hopsSinceCut = 0
    def cut(df: DataFrame): DataFrame = {
      hopsSinceCut += 1
      if (hopsSinceCut % cadence == 0) df.localCheckpoint()
      else df
    }
    // DESCENT RUNS NON-ADAPTIVE (r19, guide §1.2/§2.4): every frame a
    // hop touches is an eagerly checkpointed LogicalRDD with EXACT
    // stats (t, adjacency, the beam cuts), the hop exchange width is
    // computed above from the candidate bound, and per-qid skew is
    // impossible (each query contributes at most width x (2m+1)
    // candidate rows by construction) — so AQE has no decision left to
    // improve, but each hop materialization still paid one stage-job
    // per exchange PLUS re-broadcasts of t/q (broadcast reuse never
    // crosses the per-hop queries): 54 driver jobs for 4.8 s of task
    // time at gate scale, wall job-floor-bound. With adaptive planning
    // off in the descent's child session ([[ScopedPlanning]]) each hop
    // is ONE job. Every hop frame grows from the adopted entry beam, so
    // the whole descent plans in the child; the final ranking is
    // materialized there; results are bit-identical (plan surgery only).
    ScopedPlanning.run(queries.sparkSession,
        Map("spark.sql.adaptive.enabled" -> "false")) { adopt =>
      var beam = adopt(entry)
      for (l <- maxOcc - 1 to 1 by -1; _ <- 1 to hops1Eff)
        beam = cut(hop(beam, l, beam1Eff))
      for (_ <- 1 to hops0) beam = cut(hop(beam, 0, beam0Eff))
      // FILTERED SEARCH is the keep side (the post-filter discipline:
      // out-of-predicate nodes still ROUTE — dropping them from the
      // beams would strand descents whose region is dense in filtered
      // nodes — and only the final ranking restricts to the allowed
      // set; widen beam0 when the predicate is very selective). The
      // beam side is tiny (queries x beam0), so the semi-join never
      // shuffles more than the beam.
      val allowed = keep.fold(beam)(ids => beam.join(
        ids.select(col("tid")), Seq("tid"), "left_semi"))
      val survivors = exclude.fold(allowed)(dead => allowed.join(
        broadcast(dead.select(col("tid"))), Seq("tid"), "left_anti"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("tid"))
      survivors.filter(col("qid") =!= col("tid"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("rank"), col("tid"), col("cos"))
        .localCheckpoint()
    }
  }

  /** One pass over the corpus for (size, max UNCAPPED trailing-base-7
    * level, unrolled to 20): cap = hnswCap(n) and maxOcc = min(maxTz,
    * cap) — identical to max over rows of the capped level, since the
    * cap is a constant — without a second action. */
  private def hnswCorpusStats(targets: DataFrame): (Long, Int) = {
    val r = targets.agg(count(lit(1)).as("n"),
      max(hnswLevel(col("tid"), 20)).as("mx")).head()
    require(r.getLong(0) > 0, "HNSW over an empty corpus")
    (r.getLong(0), r.getInt(1))
  }

  /** In-memory build + search (the gate shape): depth cap and entry
    * layer derived from the corpus itself. */
  def knnHnsw(queries: DataFrame, targets: DataFrame, dim: Int, k: Int,
      nCells: Int = 16, m: Int = 8, nProbe: Int = 2): DataFrame = {
    val (n, maxTz) = hnswCorpusStats(targets)
    val cap = hnswCap(n)
    val tl = targets.select(col("tid"), col("te"),
      hnswLevel(col("tid"), cap).as("lvl")).localCheckpoint()
    knnHnswWith(queries, tl,
      hnswAdjacencyWith(targets, ivfSeedCentroids(targets, nCells), cap,
        nCells, m, nProbe).localCheckpoint(),
      k, math.min(maxTz, cap))
  }

  private def hnswCentroidsDf(spark: org.apache.spark.sql.SparkSession,
      cs: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cs.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, pos) => (cell, pos, v) }
    }.toSeq.toDF("cell", "pos", "c")
  }

  private def hnswCentroidsOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] = {
    val rows = graft.util.Sidecars.read(spark, path, "centroids")
      .select(col("cell"), col("pos"), col("c")).collect()
    val nCells = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Float](nCells, dim)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getFloat(2))
    out
  }

  private def hnswMetaDf(spark: org.apache.spark.sql.SparkSession,
      n: Long, cap: Int, maxLvl: Int, dim: Int, nCells: Int, m: Int,
      nProbe: Int): DataFrame = {
    import spark.implicits._
    Seq((n, cap, maxLvl, dim, nCells, m, nProbe))
      .toDF("n", "cap", "max_lvl", "dim", "n_cells", "m", "n_probe")
  }

  /** Build + persist the layered graph store at `path` (see the store
    * banner): self-contained — a fresh driver reloads and searches
    * from the sidecars alone. Every sidecar commit is reader-atomic
    * and epoch-fenced ([[graft.util.Sidecars]]); `meta` commits LAST
    * (the commit point — a reader that resolves the new meta resolves
    * siblings at least as new). Rebuilding an existing store drops its
    * tombs and accumulated adjpatch. */
  def writeHnswIndex(targets: DataFrame, path: String, dim: Int,
      nCells: Int = 16, m: Int = 8, nProbe: Int = 2): Unit =
    buildHnswStore(targets.sparkSession, targets, path, dim, nCells, m,
      nProbe, None)

  private def buildHnswStore(spark: org.apache.spark.sql.SparkSession,
      targets: DataFrame, path: String, dim: Int, nCells: Int, m: Int,
      nProbe: Int, expectedEpoch: Option[Long]): Unit = {
    import graft.util.Sidecars
    val (n, maxTz) = hnswCorpusStats(targets)
    val cap = hnswCap(n)
    val maxOcc = math.min(maxTz, cap)
    val cs = ivfSeedCentroids(targets, nCells)
    // withColumn (not select): caller metadata columns (labels,
    // timestamps) ride along into the store, so filtered search can
    // predicate on them — the writeIvfIndex every-column convention
    val vecs = targets
      .withColumn("tn", scaledDot(col("te"), col("te")))
      .withColumn("lvl", hnswLevel(col("tid"), cap))
      .withColumn("home", nearestCell(col("te"), cs))
      .localCheckpoint()
    val adj = hnswAdjacencyWith(targets, cs, cap, nCells, m, nProbe)
    // vectors at rest partition by (lvl, home): the search's top-layer
    // entry prunes to the lvl=maxOcc partition, and an append's
    // candidate scan prunes to the batch's probed home cells — both
    // reads become corpus-size-independent at the scan
    // repartition ON the partition columns before the partitioned
    // write (the s8/mergeUpdate lesson): without it every one of the
    // session's tasks emits a file into every (lvl, home) dir it holds
    // rows of — up to tasks x (cap+1) x nCells tiny files, whose
    // per-file open cost then dominates every store scan (measured 4x
    // on the 20x search before this exchange)
    val e1 = Sidecars.swapStaged(spark, path, "vectors",
      expectedEpoch) { p =>
      vecs.repartition(col("lvl"), col("home"))
        .write.mode("overwrite").partitionBy("lvl", "home").parquet(p)
    }
    val e2 = Sidecars.swapStaged(spark, path, "adj", Some(e1)) { p =>
      adj.write.mode("overwrite").partitionBy("lvl").parquet(p)
    }
    val e3 = Sidecars.swap(spark, path, "centroids",
      hnswCentroidsDf(spark, cs), single = true, Some(e2))
    Sidecars.swap(spark, path, "meta",
      hnswMetaDf(spark, n, cap, maxOcc, dim, nCells, m, nProbe),
      single = true, Some(e3))
    Sidecars.drop(spark, path, "adjpatch")
    Sidecars.drop(spark, path, "tombs")
  }

  /** The store's current adjacency: base rows for srcs the patch does
    * not name, the patch's replacement rows otherwise. The patched-src
    * set is delta-sized (touched lists only) — broadcast anti-join. */
  private def hnswEffectiveAdj(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import graft.util.Sidecars
    val base = Sidecars.read(spark, path, "adj")
      .select(col("lvl").cast("int").as("lvl"), col("src"), col("dst"),
        col("cos"))
    Sidecars.tryPath(spark, path, "adjpatch")
      .map(spark.read.parquet) match {
      case Some(p0) =>
        val p = p0.select(col("lvl"), col("src"), col("dst"), col("cos"))
        base.join(
          broadcast(p.select(col("lvl"), col("src")).distinct()),
          Seq("lvl", "src"), "left_anti").unionByName(p)
      case None => base
    }
  }

  /** APPEND a vector batch to a persisted HNSW store without a
    * rebuild: levels come from the FROZEN depth cap, cell homes/probes
    * from the FROZEN build-time centroids (the appendIvfIndex
    * convention — drift is rebalanced by compaction/rebuild), each new
    * node's per-level top-M list is computed against the CURRENT
    * corpus (old + new) through the same cell-restricted candidate
    * join as the build, and every touched neighbour list (new srcs
    * plus old srcs gaining a reversed edge) is re-pruned to 2m and
    * committed as a REPLACEMENT row-set in the `adjpatch` sidecar — no
    * base adjacency file is rewritten, and the write volume tracks the
    * accumulated patch, not the corpus.
    *
    * Transaction: fence epoch read at entry; the first swap's claim
    * arbitrates BEFORE any mutation (two overlapping appends: one
    * winner; the loser fails loudly pre-mutation — SimilaritySpec
    * races this). Commit order is LINKS BEFORE NODES: adjpatch swaps
    * first, then vectors append additively into the current version,
    * then meta swaps as the commit point. A vector row therefore only
    * ever becomes visible AFTER its adjacency is committed — an
    * appended id can never be picked as an edgeless entry node by a
    * racing reader (the empty-beam trap: a new id with cap trailing
    * base-7 zeros lands on the top layer, and an entry with no
    * adjacency rows strands the whole descent at 1 row). The inverse
    * transient — patch rows naming not-yet-visible dst ids — is
    * harmless by construction: every beam hop inner-joins candidates
    * against the vectors store before scoring, so ghost dsts drop
    * before ranking. Crash between the patch swap and the vector
    * append leaves exactly those ghost links (searches degrade
    * gracefully, never starve); re-appending the SAME batch then
    * passes the overlap check and heals the store (touched lists are
    * recomputed and re-replaced). Crash after the vector append but
    * before meta leaves a fully-linked store under the old meta
    * (searches correct at the old entry level); that replay is refused
    * by the overlap check and compaction heals. */
  def appendHnswIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame): Unit = {
    import graft.util.Sidecars
    val e0 = Sidecars.fenceEpoch(spark, path)
    val meta = Sidecars.read(spark, path, "meta").collect()(0)
    val (n0, cap, maxOcc0) =
      (meta.getLong(0), meta.getInt(1), meta.getInt(2))
    val (nCells, m, nProbe) =
      (meta.getInt(4), meta.getInt(5), meta.getInt(6))
    val cs = hnswCentroidsOf(spark, path)
    val vectors = Sidecars.read(spark, path, "vectors")
    val pMax = hnswProbeWidth(cap, nProbe, nCells)
    val newNodes = batch
      .withColumn("tn", scaledDot(col("te"), col("te")))
      .withColumn("lvl", hnswLevel(col("tid"), cap))
      .withColumn("home", nearestCell(col("te"), cs))
      .withColumn("probes", probeCells(col("te"), cs, pMax))
      .localCheckpoint()
    val statsRow = newNodes.agg(count(lit(1)).as("n"),
      max(col("lvl")).as("mx")).head()
    val nNew = statsRow.getLong(0)
    require(nNew > 0, "empty append batch")
    val maxLvlNew = statsRow.getInt(1)
    val dup = newNodes.join(vectors.select(col("tid")), Seq("tid")).count()
    require(dup == 0,
      s"append batch holds $dup ids already in the HNSW store (a " +
        "replay, or a crashed append's unlinked leftovers — compact " +
        "to heal)")
    val oldAdj = hnswEffectiveAdj(spark, path)
    // forward lists of the new nodes, per level, against old + new.
    // Candidates can only match inside the batch's probed home cells
    // (the join key IS the home), so the old-corpus side prunes to
    // those (lvl, home) partitions — the append's read volume tracks
    // the probed cells, not the store
    val batchCells = newNodes.select(explode(col("probes")).as("c"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val candPool = vectors
      .filter(col("home").isInCollection(batchCells))
      .select(col("tid").as("dst"),
        col("te").as("de"), col("tn").as("dn"), col("lvl").as("dlvl"),
        col("home"))
      .unionByName(newNodes.select(col("tid").as("dst"),
        col("te").as("de"), col("tn").as("dn"), col("lvl").as("dlvl"),
        col("home")))
    val fwdNew = (0 to cap).map { l =>
      val pL = hnswProbeWidth(l, nProbe, nCells)
      val vSide = newNodes.filter(col("lvl") >= l)
        .select(col("tid").as("src"), col("te").as("se"),
          col("tn").as("sn"),
          explode(slice(col("probes"), 1, pL)).as("cell"))
      val uSide = candPool.filter(col("dlvl") >= l)
        .select(col("dst"), col("de"), col("dn"), col("home").as("cell"))
      hnswFwdTopM(vSide.join(uSide, Seq("cell")).drop("cell"), m)
        .select(lit(l).as("lvl"), col("src"), col("dst"), col("cos"))
    }.reduce(_ unionByName _).localCheckpoint()
    val biNew = fwdNew.unionByName(fwdNew.select(col("lvl"),
      col("dst").as("src"), col("src").as("dst"), col("cos")))
    val touched = biNew.select(col("lvl"), col("src")).distinct()
      .localCheckpoint()
    // replacement lists: old rows of touched srcs + the new edges,
    // re-pruned to 2m — identical to re-running the build's prune over
    // the union (untouched srcs keep their lists verbatim, so the
    // patch materializes only what changed)
    val w = Window.partitionBy(col("lvl"), col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val replaced = oldAdj.join(broadcast(touched), Seq("lvl", "src"))
      .select(col("lvl"), col("src"), col("dst"), col("cos"))
      .unionByName(biNew).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 * m)
      .select(col("lvl"), col("src"), col("dst"), col("cos"))
    val oldPatch = Sidecars.tryPath(spark, path, "adjpatch")
      .map(spark.read.parquet)
    val accumulated = oldPatch.fold(replaced)(p =>
      p.select(col("lvl"), col("src"), col("dst"), col("cos"))
        .join(broadcast(touched), Seq("lvl", "src"), "left_anti")
        .unionByName(replaced))
      .localCheckpoint()
    val maxOcc1 = math.max(maxOcc0, maxLvlNew)
    // COMMIT, links before nodes (see the docstring): the adjpatch
    // swap's claim fences the whole read-compute span above, THEN the
    // vectors append makes the new ids visible (already linked), THEN
    // meta commits the new n / entry level
    val e1 = Sidecars.swap(spark, path, "adjpatch", accumulated,
      expectedEpoch = Some(e0))
    val e2 = Sidecars.claim(spark, path, Some(e1))
    newNodes.drop("probes").repartition(col("lvl"), col("home"))
      .write.mode("append")
      .partitionBy("lvl", "home")
      .parquet(Sidecars.appendPath(spark, path, "vectors"))
    Sidecars.swap(spark, path, "meta",
      hnswMetaDf(spark, n0 + nNew, cap, maxOcc1, meta.getInt(3),
        nCells, m, nProbe), single = true, Some(e2))
  }

  /** Tombstone vector ids in a persisted HNSW store: a `tombs` sidecar
    * the search excludes from the FINAL ranking only — mark-deleted
    * nodes keep routing (their lists and in-edges stay), the canonical
    * HNSW deletion, so no adjacency row is touched. Physical removal
    * is [[compactHnswIndex]]. Epoch-fenced like every store mutation. */
  def deleteFromHnswIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit = {
    import graft.util.Sidecars
    import spark.implicits._
    require(ids.nonEmpty, "empty delete batch")
    val e0 = Sidecars.fenceEpoch(spark, path)
    val distinctIds = ids.distinct
    val found = Sidecars.read(spark, path, "vectors")
      .filter(col("tid").isInCollection(distinctIds)).count()
    require(found == distinctIds.size,
      s"delete batch names ${distinctIds.size} vec_ids but only " +
        s"$found are in the HNSW store")
    // relational fold: union the previous tombs sidecar with the batch
    // WITHOUT collecting through the driver — accumulated deletes
    // between compactions are unbounded in principle, and the swap is
    // the only maintenance write in the ANN families, so no write
    // volume may transit the driver
    val batchDf = distinctIds.toDF("tid")
    val folded = Sidecars.tryPath(spark, path, "tombs")
      .map(p => spark.read.parquet(p).select(col("tid"))
        .unionByName(batchDf).distinct())
      .getOrElse(batchDf)
    Sidecars.swap(spark, path, "tombs", folded, single = true, Some(e0))
  }

  /** COMPACT a persisted HNSW store: rebuild vectors + adjacency from
    * the SURVIVING vectors (tombstones applied), retraining centroids
    * and re-deriving the depth cap from the post-delete corpus, then
    * drop the tombs and the accumulated adjpatch. A graph node's list
    * depends on the whole corpus, so unlike the IVF layout there is no
    * partition-local rewrite that restores the canonical graph —
    * compaction IS the deferred full rebuild (the compactFlatIndex
    * convention, bounded by the standard construction cost), and the
    * gate pins the strongest semantics available: a compacted store
    * equals an index that NEVER HELD the deleted vectors. Epoch-
    * threaded end to end: a concurrent writer fails at its claim. */
  def compactHnswIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import graft.util.Sidecars
    val e0 = Sidecars.fenceEpoch(spark, path)
    val meta = Sidecars.read(spark, path, "meta").collect()(0)
    val tombs = Sidecars.tryPath(spark, path, "tombs")
    val patch = Sidecars.tryPath(spark, path, "adjpatch")
    if (tombs.isEmpty && patch.isEmpty) return
    val vectors = Sidecars.read(spark, path, "vectors")
      .drop("tn", "lvl", "home") // computed at rebuild; metadata rides
    val survivors = tombs.fold(vectors)(t =>
      vectors.join(broadcast(spark.read.parquet(t)), Seq("tid"),
        "left_anti")).localCheckpoint()
    buildHnswStore(spark, survivors, path, meta.getInt(3),
      meta.getInt(4), meta.getInt(5), meta.getInt(6), Some(e0))
  }

  /** Maintenance debt of a persisted HNSW store: corpus size, base
    * adjacency volume, accumulated patch volume, tombstone count —
    * the inputs of the auto-compaction policy. One cheap count per
    * sidecar (patch/tombs are delta-sized). */
  final case class HnswDebt(n: Long, baseAdjRows: Long, patchRows: Long,
      tombRows: Long) {
    def patchFrac: Double =
      if (baseAdjRows == 0) 0.0 else patchRows.toDouble / baseAdjRows
    def tombFrac: Double =
      if (n == 0) 0.0 else tombRows.toDouble / n
    def compactDue(maxPatchFrac: Double = HnswMaxPatchFrac,
        maxTombFrac: Double = HnswMaxTombFrac): Boolean =
      patchFrac > maxPatchFrac || tombFrac > maxTombFrac
  }

  /** AUTO-COMPACTION TRIGGER CONSTANTS (the knn_centroid_drift /
    * knn_ivf_rebalanced convention applied to the graph): compact when
    * replacement lists exceed a quarter of the base adjacency (reads
    * then re-prune a patch comparable to the base, and append recall
    * under frozen centroids has drifted for that long) or tombstones
    * exceed a tenth of the corpus (a tenth of every final beam is
    * dead weight). Pinned by the knn_hnsw_drift gate. */
  val HnswMaxPatchFrac = 0.25
  val HnswMaxTombFrac = 0.10

  def hnswDebt(spark: org.apache.spark.sql.SparkSession,
      path: String): HnswDebt = {
    import graft.util.Sidecars
    val n = Sidecars.read(spark, path, "meta").collect()(0).getLong(0)
    val base = Sidecars.read(spark, path, "adj").count()
    val patch = Sidecars.tryPath(spark, path, "adjpatch")
      .map(p => spark.read.parquet(p).count()).getOrElse(0L)
    val tombs = Sidecars.tryPath(spark, path, "tombs")
      .map(p => spark.read.parquet(p).count()).getOrElse(0L)
    HnswDebt(n, base, patch, tombs)
  }

  /** Compact iff the store's maintenance debt crosses policy — the
    * operator-facing heal that does NOT need the operator to remember
    * the thresholds. Deliberately NOT called inline by append/delete:
    * a compaction is a full rebuild, so it belongs at the maintenance
    * schedule (call this after each ingest batch; it no-ops until the
    * debt crosses), not hidden inside an ingest call whose latency it
    * would multiply. Returns whether a compaction ran. */
  def autoCompactHnswIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxPatchFrac: Double = HnswMaxPatchFrac,
      maxTombFrac: Double = HnswMaxTombFrac): Boolean = {
    val due = hnswDebt(spark, path).compactDue(maxPatchFrac, maxTombFrac)
    if (due) compactHnswIndex(spark, path)
    due
  }

  /** Search the persisted store. Resolution order is meta (the commit
    * point) -> adjacency/patch -> vectors; appends commit LINKS BEFORE
    * NODES (adjpatch, then vectors, then meta), so a reader racing an
    * append can never pick an appended-but-unlinked vector as its
    * entry (the empty-beam trap) — the only transient it can observe
    * is patch rows naming not-yet-visible dst ids, which drop
    * harmlessly at the hop's inner score-join against the vectors
    * store. Tombstoned ids route but never rank.
    *
    * Beam geometry (`beam1`/`hops1`/`beam0`/`hops0`) is caller-tunable
    * — defaults match [[knnHnswWith]]. Because filtered search and
    * tombstones post-filter the FINAL beam, a selective `targetFilter`
    * or a large tombstone set can starve results below k at the
    * default width; with `autoWiden` (default on) the base beam is
    * widened by the inverse of the allowed fraction —
    * beam0 * ceil(n / |keep minus tombs|), capped at n — so the
    * EXPECTED number of in-predicate beam members stays ~beam0 under
    * uniform mixing. Pass `autoWiden = false` to pin exact widths
    * (the gates do, for oracle replayability). */
  def knnHnswIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int,
      targetFilter: Option[Column] = None, beam1: Int = 0,
      hops1: Int = 0, beam0: Int = 0, hops0: Int = 4,
      autoWiden: Boolean = true, hopsPerCheckpoint: Int = 0): DataFrame = {
    import graft.util.Sidecars
    val meta = Sidecars.read(spark, path, "meta").collect()(0)
    val n = meta.getLong(0)
    // resolve the AUTO base width from the store's depth cap BEFORE the
    // selectivity widening, so the widening factor scales the same base
    // the unfiltered search would use
    val beam0Base = if (beam0 > 0) beam0 else hnswBeam0Auto(meta.getInt(2))
    val adj = hnswEffectiveAdj(spark, path)
    val all = Sidecars.read(spark, path, "vectors")
    val vectors = all.select(col("tid"), col("te"), col("lvl"))
    val dead = Sidecars.tryPath(spark, path, "tombs")
      .map(spark.read.parquet)
    // FILTERED SEARCH (the knn_ivf/lsh filtered convention applied to
    // the graph): the store preserves metadata columns, the predicate
    // restricts the FINAL ranking only — out-of-predicate nodes still
    // route, the same post-filter discipline as tombstones (dropping
    // them from the beams would strand descents through filtered-dense
    // regions). The predicate reaches the parquet scan as a pushed
    // data filter when deriving the allowed-id set.
    val keep = targetFilter.map(p => all.filter(p).select(col("tid")))
    val beam0Eff =
      if (!autoWiden || (keep.isEmpty && dead.isEmpty)) beam0Base
      else {
        // widening factor from the ACTUAL allowed fraction (keep
        // minus tombstones) — one count over an id projection; the
        // pushed predicate keeps the scan narrow
        val allowed = (keep, dead) match {
          case (Some(kp), Some(d)) =>
            kp.join(broadcast(d.select(col("tid"))), Seq("tid"),
              "left_anti").count()
          case (Some(kp), None) => kp.count()
          case (None, Some(d)) => n - d.select(col("tid")).count()
          case (None, None) => n
        }
        if (allowed <= 0) beam0Base
        else math.min(n,
          beam0Base.toLong * math.ceil(n.toDouble / allowed).toLong).toInt
      }
    knnHnswWith(queries, vectors, adj, k, meta.getInt(2), beam1, hops1,
      beam0Eff, hops0, exclude = dead, keep = keep,
      hopsPerCheckpoint = hopsPerCheckpoint)
  }
}
