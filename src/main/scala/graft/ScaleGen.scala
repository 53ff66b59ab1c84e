package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver's sf0.1 testdata for the
  * EMPIRICAL scale curve (bench-only — correctness gates stay on the
  * driver's own parquet): `runMain graft.ScaleGen <srcDir> <outDir> <k>`
  * writes each table as k key-offset replicas, so row counts,
  * distinct-key counts, and join fan-outs all scale by k while
  * per-entity shapes (lines per order, words per doc) stay fixed —
  * the way a corpus actually grows.
  *
  *  - Foreign keys offset consistently (orders/lineitem share the
  *    orderkey offset, etc.), so every join keeps its selectivity.
  *  - region/nation stay single-copy (bounded dimensions at any scale).
  *  - documents TEXT is made genuinely distinct per replica by a
  *    bijective letter rotation (translate) plus a replica suffix —
  *    verbatim-replicated text would let every doc collide into one
  *    k-sized near-dup cluster and the MinHash/LSH/component gates
  *    would then measure a k²-pair artifact of the replication instead
  *    of the operator (real corpora grow with proportionally more
  *    DISTINCT content). Within a replica, duplicate/near-dup structure
  *    is preserved exactly (the rotation is a bijection).
  *  - embeddings replicate with offset ids and unperturbed vectors:
  *    ANN scan/train cost is row-count-driven, not distinctness-driven.
  *  - events keep their time range (density grows k-fold — streaming
  *    state and window fan-in scale, the dimension under test).
  */
object ScaleGen {
  private val Off = 1000000000L // exceeds every sf0.1 key domain

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, kStr) = args.take(3)
    val k = kStr.toInt
    // 100 caps the key offset at 1e11 (well inside long) and the text
    // mutation's bijective distinctness (letter rotation x digit
    // rotation = 260 distinct maps, see below)
    require(k >= 1 && k <= 100, s"replication factor $k out of range")
    // optional 4th arg: comma-separated table subset — the 100x curve
    // points only need the tables their probe reads (embeddings for
    // HNSW, lineitem for triangles), and generating 120M lineitem rows
    // nobody reads would dominate the generation wall
    val tables = args.lift(3).map(_.split(',').toSet)
    def wanted(t: String) = tables.forall(_.contains(t))
    val spark = GraftSession.build()

    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: => DataFrame, t: String): Unit =
      if (wanted(t)) df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    /** k replicas of `df` with the named long/int key columns offset by
      * i*Off (replica 0 verbatim), optionally text-mutated per replica. */
    def replicate(df: DataFrame, keyCols: Seq[String],
        mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        val shifted = keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Off)))
        mutate(shifted, i)
      }.reduce(_ unionByName _)

    write(src("region"), "region")
    write(src("nation"), "nation")
    write(replicate(src("customer"), Seq("c_custkey")), "customer")
    write(replicate(src("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(src("part"), Seq("p_partkey")), "part")
    write(replicate(src("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(src("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(src("events"), Seq("event_id", "user_id")), "events")
    // bijective per-replica mutation: letter rotation by i mod 26
    // crossed with digit rotation by i / 26 — 260 distinct bijections,
    // so every shingle differs across replicas up to k = 100 (a letter
    // rotation alone repeats every 26, which at k > 26 would hand the
    // near-dup gates cross-replica clusters that are replication
    // artifacts); within-replica structure is untouched
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    write(replicate(src("documents"), Seq("doc_id"),
      mutate = (d, i) =>
        if (i == 0) d
        else {
          val la = i % 26
          val dg = (i / 26) % 10
          d.withColumn("text",
            concat(translate(col("text"), alpha + digits,
              (alpha.drop(la) + alpha.take(la)) +
                (digits.drop(dg) + digits.take(dg))), lit(s" r$i")))
        }),
      "documents")
    // embeddings replicate unperturbed by default (ANN COST is
    // row-count-driven). For RECALL curves that is the wrong corpus
    // past small k: every vector gains k-1 EXACT twins, each node's
    // 2m-slot neighbour list saturates with its own twin clique
    // (k-1 >> 2m at 100x), and measured recall collapses to a
    // twin-retrieval artifact that no knob moves (r16 curve: flat
    // 82% at 100x under beam0 16->64 AND construction nProbe 2->4).
    // The optional 5th arg 'perturb' adds a deterministic hash-based
    // +-0.03 ABSOLUTE per-dimension offset per replica (~3% only for
    // unit-scale components; the testdata embeddings are unit-norm
    // so component scale is ~1/sqrt(dim) and the offset is relatively
    // larger per-component, still cos ~0.999 overall) — twins become
    // near-dups
    // (cos ~0.999), list saturation breaks, and recall measures
    // navigation again, the way a real corpus grows with distinct
    // near-neighbour mass.
    val perturb = args.lift(4).contains("perturb")
    write(replicate(src("embeddings"), Seq("vec_id"),
      mutate = (d, i) =>
        if (!perturb || i == 0) d
        else d.withColumn("embedding", expr(
          "transform(embedding, (x, p) -> CAST(x + 0.03 * " +
            s"(pmod(hash(vec_id, p, $i), 1000) - 500) / 500.0 " +
            "AS FLOAT))"))),
      "embeddings")

    println(s"""{"scaled":"$outDir","k":$k,"src":"$srcDir"}""")
    spark.stop()
  }
}
