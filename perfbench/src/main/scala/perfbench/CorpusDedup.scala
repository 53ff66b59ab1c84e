package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Clients, Sinks}
import graft.ops.{Components, Dedup, Similarity}

/** A corpus with planted near-duplicates: a sixth of the documents have a
  * near-exact copy (MinHash must drop it), another sixth a word-shuffled
  * paraphrase (only the embedding dedup must pair it).
  * minhashDedupPairs -> dedupVerdicts -> kept corpus (JSONL shards) ->
  * withEmbeddings -> semanticDedup on its default route -> pair shards.
  * Shuffles, iterative rounds and lineage cuts do the work. */
final class CorpusDedup extends Workload {
  private val CcIters = 16
  private val MinCos = 0.97
  private var corpus: String = _
  private var kind: Map[Long, String] = Map.empty      // id -> A | B | -
  private var cluster: Map[Long, Long] = Map.empty     // id -> base doc

  def items: Int = kind.size

  def load(spark: SparkSession, inputs: Path): Unit = {
    corpus = inputs.resolve("corpus.jsonl").toString
    Workload.touch(Sinks.readJsonl(spark, corpus, "id BIGINT, text STRING"))
    val rows = Workload.tsv(inputs.resolve("truth.tsv"))
    kind = rows.map(r => r(0).toLong -> r(1)).toMap
    cluster = rows.map(r => r(0).toLong -> r(2).toLong).toMap
  }

  def run(pass: Pass): Unit = {
    val (spark, t) = (pass.spark, pass.trace)
    val docs = Sinks.readJsonl(spark, corpus, "id BIGINT, text STRING")
    val pairs = t.layer("Dedup.minhash")(
      Dedup.minhashDedupPairs(docs, "id", "text"))
    val verdicts = t.layer("Components.verdicts")(
      Components.dedupVerdicts(pairs, CcIters))
    t.span("Sinks.write")(Sinks.writeJsonlShards(
      docs.join(verdicts.filter(!col("keep")).select("id"), Seq("id"),
        "left_anti"),
      pass.out("kept"), 4))
    val kept = Sinks.readJsonl(spark, pass.out("kept"), "id BIGINT, text STRING")
    val emb = t.layer("Clients.embed")(Clients.withEmbeddings(spark, kept, "text")
      .select(col("id").as("tid"), col("embedding").as("te")))
    val similar = t.layer("Similarity.semdedup")(
      Similarity.semanticDedup(emb, graft.Pipeline.EmbedDim, MinCos))
    t.span("Sinks.write")(
      Sinks.writeJsonlShards(similar, pass.out("similar"), 1))
    if (t.traced) pass.count("Dedup.minhash.precision")(pairs.count()
      .toDouble / Dedup.minhashCandidates(docs, "id", "text").count())
  }

  /** The HNSW index is traced here only, never timed in this workload's
    * passes (it would dominate them): one build plus one query batch over
    * the kept corpus's embeddings, recall@5 against the exact answer. */
  override def tracedOnly(pass: Pass): Unit = {
    val emb = Clients.withEmbeddings(pass.spark,
      Sinks.readJsonl(pass.spark, pass.out("kept"), "id BIGINT, text STRING"),
      "text").select(col("id").as("tid"), col("embedding").as("te"))
      .localCheckpoint()
    val queries = emb.filter(col("tid") % 20 === 0)
      .select((col("tid") + 1000000L).as("qid"), col("te").as("qe"))
    val knn = pass.trace.layer("Similarity.knn")(
      Similarity.knnHnsw(queries, emb, graft.Pipeline.EmbedDim, 5))
    pass.count("Similarity.knn.recall_at_5") {
      def top(df: DataFrame) = df.select("qid", "tid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = top(Similarity.knnBruteForce(queries, emb, 5))
      (top(knn) & exact).size.toDouble / exact.size
    }
  }

  /** Kept set: every document except the non-minimum members of a
    * near-exact cluster. Similar pairs: every planted paraphrase pair, and
    * no pair with a dropped document. Other pairs above the threshold are
    * legitimate for the stub embedder; their share shows as precision. */
  def check(pass: Pass): Int = {
    val spark = pass.spark
    val kept = Sinks.readJsonl(spark, pass.out("kept"), "id BIGINT, text STRING")
      .select("id").collect().map(_.getLong(0)).toSet
    val pairs = Sinks.readJsonl(spark, pass.out("similar"),
      "id_1 BIGINT, id_2 BIGINT, cos DOUBLE").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val members = cluster.groupBy(_._2).map { case (b, ms) => b -> ms.keys.toSeq }
    val wantKept = kind.keySet.filter(id =>
      kind(id) != "A" || members(cluster(id)).min == id)
    val planted = members.values.collect { case ms if kind(ms.head) == "B" =>
      (ms.min, ms.max) }.toSet
    pass.count("Similarity.semdedup.precision")(
      (pairs & planted).size.toDouble / math.max(1, pairs.size))
    val bad = (planted -- pairs).flatMap(p => Seq(p._1, p._2)) ++
      pairs.flatMap(p => Seq(p._1, p._2)).filterNot(kept)
    kind.keys.count { id =>
      val wrong = kept(id) != wantKept(id) || bad(id)
      if (wrong) pass.mismatch(s"doc $id (${kind(id)}): kept=${kept(id)}, " +
        s"want ${wantKept(id)}, in a wrong or missing pair: ${bad(id)}")
      wrong
    }
  }
}
