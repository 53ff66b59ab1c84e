package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftFunctions._
import graft.ops.{Assemble, Normalize, Rank, Scale, TextImpl}

/** The flagship lineage (SURVEY.md §3): document -> chunk -> header cascade
  * -> hybrid rank -> top-1 -> window assembly -> dedup -> validate/enrich ->
  * extracted section. Everything is `DataFrame => DataFrame`; the external
  * scorers (embedder/reranker) default to the hermetic deterministic stubs
  * and are swappable via [[graft.io.Clients]].
  *
  * Scale posture: per-document logic is per-row column logic; the only
  * shuffles are the per-doc window (top-1 + passage frame) and the
  * enrichment aggregations, all keyed by doc_id — at 100 TB this partitions
  * by doc_id and nothing is driver-side.
  */
object Pipeline {

  /** The reference's rerank query (config/rerank_query.txt), used by the
    * deterministic stub scorers. */
  val RerankQuery: String =
    "Identify which passage contains the actual beginning of a narrative " +
      "section titled \"Background of the Offer\" or a similarly worded " +
      "section describing a timeline of events, meetings, or decisions " +
      "leading up to a merger, acquisition, or transaction."

  val EmbedDim = 64

  /** Chunk documents: (doc_id, company_a, company_b, content) ->
    * (doc_id, chunk_idx, chunk). */
  def chunk(docs: DataFrame, chunkSize: Int = 2048, overlap: Int = 400): DataFrame =
    docs.select(col("doc_id"),
      chunk_split(col("content"), chunkSize, overlap))

  /** T3-T7: cascade over chunks with the two-phase phrase strategy —
    * full phrase list first; docs with zero candidates retried with the
    * bare "Background" exact-line match (src/crawler/Processor.py:266-269).
    */
  def candidates(chunks: DataFrame): DataFrame = {
    // cheap -> expensive cascade ordering (SURVEY §4): every cascade path
    // requires CascadeImpl.GateTerm, so this codegen'd contains() prunes
    // most chunks before the heuristic expression runs
    val probable = chunks.filter(
      contains(lower(col("chunk")), lit(graft.ops.CascadeImpl.GateTerm)))
    // Both phases in ONE pass over the chunks (no duplicated cascade
    // subtree): p2 (bare-"Background" exact-line match) is cheap, and a
    // per-doc window decides whether phase 2 applies (only when phase 1
    // found nothing anywhere in the doc).
    // p2 is only consulted when p1 missed (coalesce below + doc-level
    // window guard), so gate it behind p1.isNull: codegen short-circuits
    // the conditional and subexpression elimination shares the p1 eval —
    // the full-phrase cascade runs once per chunk, not twice.
    val p1 = background_passage(col("chunk"), backgroundOnly = false)
    val scored = probable.select(col("doc_id"), col("chunk_idx"),
      p1.as("p1"),
      when(p1.isNull, background_passage(col("chunk"), backgroundOnly = true))
        .otherwise(lit(null).cast("string")).as("p2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    scored
      .withColumn("__has1",
        max(when(col("p1").isNotNull, 1).otherwise(0)).over(w))
      .filter(col("p1").isNotNull || (col("__has1") === 0 && col("p2").isNotNull))
      .select(col("doc_id"), col("chunk_idx"),
        coalesce(col("p1"), col("p2")).as("passage"))
  }

  /** T8/T9/O3: hybrid-score candidates and keep the deterministic top-1 per
    * doc. Single-candidate docs pass through unchanged (the reference skips
    * scoring for them — same winner either way). */
  def rank(cands: DataFrame): DataFrame = {
    val qvec = typedLit(TextImpl.pseudoEmbedding(RerankQuery, EmbedDim))
    val scored = cands
      .withColumn("cos",
        Rank.cosine(pseudo_embedding(col("passage"), EmbedDim), qvec))
      .withColumn("rerank", Rank.pseudoRerank(lit(RerankQuery), col("passage")))
      .withColumn("hybrid", Rank.hybrid(col("cos"), col("rerank")))
    Rank.top1(scored, "doc_id", "hybrid", "chunk_idx")
  }

  /** Full extraction: docs(doc_id, company_a, company_b, content) ->
    * (doc_id, content) extracted sections. */
  def extractSections(docs: DataFrame, chunkSize: Int = 2048,
      overlap: Int = 400): DataFrame = {
    val names = docs.select(col("doc_id"), col("company_a"), col("company_b"))
    // One shuffle by doc_id right after the chunk Generator: every consumer
    // (cascade window, passage window, enrichment paragraph join) needs
    // doc_id partitioning anyway, and sharing one Exchange lets Spark's
    // ReuseExchange evaluate the chunker ONCE instead of once per consumer
    // — the scale-correct alternative to caching the chunk table.
    val chunks = Scale.spread(chunk(docs, chunkSize, overlap), col("doc_id"))
    val winners = rank(candidates(chunks))
    val assembled = Assemble.assemblePassage(chunks, winners)
      .join(names, Seq("doc_id"))
    val validated = assembled.withColumn("ok",
      Assemble.tokensPresent(Assemble.squash(col("passage_text")),
        col("company_a"), col("company_b")))
    val direct = validated.filter(col("ok"))
      .select(col("doc_id"),
        concat(Assemble.headerLine(col("company_a"), col("company_b")),
          col("passage_text")).as("content"))
    val enriched = Assemble.enrich(
      validated.filter(!col("ok"))
        .select(col("doc_id"), col("passage_text"),
          col("company_a"), col("company_b")),
      chunks)
    direct.unionByName(enriched)
  }
}
