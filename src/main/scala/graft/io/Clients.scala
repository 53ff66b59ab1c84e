package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.TextImpl
import graft.util.Lineage

/** Pluggable external-service traits (SURVEY.md §2.8 X1-X4) with
  * deterministic stub implementations so the whole engine runs hermetically
  * (SURVEY §7.5). Real deployments swap in HTTP/LLM-backed instances; the
  * integration point is always `mapPartitions` with a lazily-constructed
  * per-partition client (never per-row connections), mirroring the
  * reference's per-process model loading
  * (src/seperator/SeperatorHandler.py:37-39).
  *
  * A client's output is cut once ([[graft.util.Lineage.cut]]) where it
  * fans out: Spark re-runs a `mapPartitions` for every plan branch that
  * reads it and for a range sort's sampling job, so an uncut fan-out
  * makes the same remote call several times per row. A frame read once
  * is not cut, since every cut costs a job.
  */
object Clients {

  /** S3: document fetcher (EDGAR archive GET in the reference). */
  trait Fetcher extends Serializable {
    def fetch(url: String): String
  }

  /** X3: embedding client (text-embedding-3-large in the reference). */
  trait Embedder extends Serializable {
    def embed(texts: Seq[String]): Seq[Array[Float]]
    def dim: Int
  }

  /** T9: cross-encoder reranker (bge-reranker-v2-m3 in the reference);
    * scores already sigmoid-mapped to [0,1]. */
  trait Reranker extends Serializable {
    def score(query: String, texts: Seq[String]): Seq[Double]
  }

  /** X1/X2: LLM structured extraction returning tool-call JSON args. */
  trait LlmExtractor extends Serializable {
    def extract(prompt: String): String
  }

  /** Deterministic stub: EDGAR-shaped JSON for search URLs, a small HTML
    * page for everything else — the whole crawl lineage runs hermetically. */
  class StubFetcher extends Fetcher {
    override def fetch(url: String): String =
      if (url.contains("search-index")) {
        val h = math.abs(TextImpl.fnv1a64(url) % 1000000L)
        val cik = f"000$h%07d"
        s"""{"hits": {"total": {"value": 2}, "hits": [
           |  {"_source": {"ciks": ["$cik"], "adsh": "000$h-26-00001$h"}},
           |  {"_source": {"ciks": ["$cik"], "adsh": "000$h-26-00002$h"}}]},
           | "aggregations": {"entity_filter": {"buckets": [
           |  {"key": "Stub Entity Corp  (CIK $cik)"}]}}}""".stripMargin
      } else {
        s"<html><body><p>Document for $url</p></body></html>"
      }
  }

  class StubEmbedder(val dim: Int = 64) extends Embedder {
    override def embed(texts: Seq[String]): Seq[Array[Float]] =
      texts.map(TextImpl.pseudoEmbedding(_, dim))
  }

  class StubReranker extends Reranker {
    override def score(query: String, texts: Seq[String]): Seq[Double] =
      texts.map { t =>
        val sim = graft.expr.FuzzImpl.partialRatioStr(query, t) / 100.0
        1.0 / (1.0 + math.exp(-(sim * 8.0 - 4.0)))
      }
  }

  /** X2 stub: deterministic initiator extraction — first ORG entity, first
    * date-like token, enum picked by a stable content hash, first sentence
    * as reason. Emits the same JSON shape as the reference's tool call
    * (src/identifier/InitiatorIdentifier.py:80-83, schema
    * src/dependencies/config.py:167-208). */
  class StubLlmExtractor extends LlmExtractor {
    private val types = Seq("Acquirer-Initiated Deal", "Target-Initiated Deal",
      "Third-Party-Initiated Deal", "Mutual")
    override def extract(prompt: String): String = {
      val orgs = TextImpl.extractOrgs(prompt)
      val initiator = orgs.headOption.getOrElse("Unknown")
      val date = "\\b(19|20)\\d{2}\\b".r.findFirstIn(prompt).getOrElse("unknown")
      // enum pick keyed on prompt length (not a content hash): equally
      // deterministic, and ANSI-SQL-expressible so the whole X2 lineage
      // (mapPartitions -> from_json -> enum filter -> sort) oracle-checks
      val t = types(math.floorMod(prompt.length, types.length))
      val reason = prompt.split("(?<=[.!?])\\s+").headOption
        .map(_.take(200)).getOrElse("")
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", " ") + "\""
      s"""{"initiator": ${q(initiator)}, "date_of_initiation": ${q(date)}, """ +
        s""""type_of_initiation": ${q(t)}, "stated_reasons": ${q(reason)}}"""
    }
  }

  /** X1 stub: the determine_background_section fallback classifier
    * (src/crawler/Processor.py:309-395; tool schema config.py:71-140).
    * The gate matches the full section-title phrase list (not the bare
    * word "background"), so oracle queries don't silently depend on the
    * corpus vocabulary lacking that word. */
  class StubBackgroundClassifier extends LlmExtractor {
    override def extract(prompt: String): String = {
      val has = graft.ops.CascadeImpl.containsStartPhrase(prompt)
      val header = if (has) "Background of the Merger" else ""
      s"""{"hasSection": $has, "matchHeader": "$header", "confidence": ${if (has) 0.9 else 0.1}}"""
    }
  }

  /** X1 result schema (config.py:71-140). */
  val hasSectionSchema: StructType = StructType(Seq(
    StructField("hasSection", BooleanType),
    StructField("matchHeader", StringType),
    StructField("confidence", DoubleType)))

  /** X1: LLM fallback classification for docs the heuristic cascade missed
    * — prompt-size gate, mapPartitions classify, from_json parse, keep docs
    * the model says contain the section (Processor.py:309-395; prompt gate
    * 343-345). */
  def classifyHasSection(spark: SparkSession, docs: DataFrame,
      llm: LlmExtractor = new StubBackgroundClassifier,
      minPromptChars: Int = 200): DataFrame = {
    import spark.implicits._
    val gated = docs.filter(length(col("content")) >= minPromptChars)
    val classified = gated.select(col("main_index"), col("content"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        lazy val client = llm
        rows.map { case (id, content) => (id, client.extract(content)) }
      }.toDF("main_index", "json")
      .withColumn("r", from_json(col("json"), hasSectionSchema))
      .select(col("main_index"), col("r.hasSection").as("has_section"),
        col("r.matchHeader").as("match_header"),
        col("r.confidence").as("confidence"))
    docs.join(classified.filter(col("has_section")), Seq("main_index"), "left_semi")
  }

  /** Tool-call result schema (config.py:167-208). */
  val initiatorSchema: StructType = StructType(Seq(
    StructField("initiator", StringType),
    StructField("date_of_initiation", StringType),
    StructField("type_of_initiation", StringType),
    StructField("stated_reasons", StringType)))

  val initiationTypes: Seq[String] = Seq("Acquirer-Initiated Deal",
    "Target-Initiated Deal", "Third-Party-Initiated Deal", "Mutual")

  /** X2 + J5 + O1: the Identifier stage — extracted sections -> LLM
    * structured extraction (mapPartitions, per-partition client) ->
    * from_json -> enum-checked 4-field record, sorted by index
    * (src/identifier/InitiatorIdentifier.py:52-83,166). Runs the LLM when
    * called: its output is cut before the sort, whose range sampling (and
    * that of any later sort, such as `Sinks.orderedCsv`'s) would otherwise
    * prompt every section again. */
  def identifyInitiators(spark: SparkSession, sections: DataFrame,
      llm: LlmExtractor = new StubLlmExtractor): DataFrame = {
    import spark.implicits._
    val raw: Dataset[(Long, String)] =
      sections.select(col("doc_id"), col("content")).as[(Long, String)]
        .mapPartitions { rows =>
          lazy val client = llm // per-partition lazy init
          rows.map { case (id, content) => (id, client.extract(content)) }
        }
    val records = raw.toDF("INDEX", "json")
      .withColumn("parsed", from_json(col("json"), initiatorSchema))
      .select(col("INDEX"),
        col("parsed.initiator").as("INITIATOR"),
        col("parsed.date_of_initiation").as("DATE_OF_INITIATION"),
        col("parsed.type_of_initiation").as("TYPE_OF_INITIATION"),
        col("parsed.stated_reasons").as("REASON"))
      .filter(col("TYPE_OF_INITIATION").isin(initiationTypes: _*))
    Lineage.cut(records).orderBy(col("INDEX"))
  }

  /** X3 integration: add an embedding column via a pluggable embedder,
    * batched per partition. */
  def withEmbeddings(spark: SparkSession, df: DataFrame, textCol: String,
      embedder: Embedder = new StubEmbedder()): DataFrame = {
    import spark.implicits._
    val cols = df.columns
    val withVec = df.select(to_json(struct(cols.map(col): _*)).as("row_json"),
      col(textCol).as("__text")).as[(String, String)]
      .mapPartitions { rows =>
        lazy val client = embedder
        rows.grouped(64).flatMap { batch =>
          val vecs = client.embed(batch.map(_._2))
          batch.zip(vecs).map { case ((rowJson, _), v) => (rowJson, v) }
        }
      }.toDF("row_json", "embedding")
    val parsed = withVec.select(
      from_json(col("row_json"), df.schema).as("r"), col("embedding"))
    parsed.select((cols.map(c => col(s"r.$c")) :+ col("embedding")): _*)
  }
}
