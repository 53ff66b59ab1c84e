package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ops.Assemble

/** One pass of a workload: its fresh output directory and its tracer. */
final class Pass(val spark: SparkSession, val dir: Path, val trace: Tracer) {
  def out(name: String): String = dir.resolve(name).toString
  /** Ratios and counts taken at layer boundaries, evaluated after the
    * pass's timer has stopped (traced passes only). */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, () => Double]
  def count(name: String)(value: => Double): Unit = counts(name) = () => value
  private var mismatches = 0
  /** Reports the first few wrong items of a pass on stderr. */
  def mismatch(what: => String): Unit = {
    if (mismatches < 3) System.err.println(s"[perfbench] wrong output: $what")
    mismatches += 1
  }
}

/** A benchmark workload: inputs are read once in [[load]] (part of
  * set-up); [[run]] is one full batch ending in the sinks a user would
  * call; [[check]] compares a pass's outputs with the generator's truth
  * and returns how many of the [[items]] are missing or wrong. */
trait Workload {
  def items: Int
  def load(spark: SparkSession, inputs: Path): Unit
  /** Brings state shared across passes (a pre-seeded sink) back to its
    * start, outside the timer. */
  def reset(pass: Pass): Unit = ()
  def run(pass: Pass): Unit
  /** A traced pass's extra layer calls that are not part of the batch. */
  def tracedOnly(pass: Pass): Unit = ()
  def check(pass: Pass): Int
}

object Workload {
  def apply(name: String): Workload = name match {
    case "deals_many" => new DealsMany
    case "corpus_dedup" => new CorpusDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Reads every row of a frame without keeping it: the first read of an
    * input during set-up. */
  def touch(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def tsv(path: Path): Seq[Array[String]] =
    Files.readAllLines(path, UTF_8).asScala.toSeq.map(_.split("\t", -1))

  /** Flat JSON objects, one a line, as field -> text. */
  def jsonLines(path: Path): Seq[Map[String, String]] = {
    Files.readAllLines(path, UTF_8).asScala.toSeq.map { line =>
      Json.mapper.readTree(line).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  /** Rows of an ordered-CSV sink, as written by `Sinks.orderedCsv`. */
  def readCsv(spark: SparkSession, dir: String): Array[Row] =
    spark.read.option("header", "true").option("multiLine", "true")
      .csv(dir).collect()

  /** `Pipeline.extractSections`, untraced. Traced, the same lineage
    * composed from its public layers, each cut at its boundary so its
    * time is its own: chunk -> cascade -> rank -> passage -> enrich. */
  def extract(pass: Pass, docs: DataFrame): DataFrame = {
    val t = pass.trace
    if (!t.traced) return Pipeline.extractSections(docs)
    val names = docs.select(col("doc_id"), col("company_a"), col("company_b"))
    val width = pass.spark.conf.get("spark.sql.shuffle.partitions").toInt
    val chunks = t.layer("Pipeline.chunk")(
      Pipeline.chunk(docs).repartition(width, col("doc_id")))
    val cands = t.layer("Pipeline.cascade")(Pipeline.candidates(chunks))
    val winners = t.layer("Pipeline.rank")(Pipeline.rank(cands))
    val validated = t.layer("Assemble.passage")(
      Assemble.assemblePassage(chunks, winners).join(names, Seq("doc_id"))
        .withColumn("ok", Assemble.tokensPresent(
          Assemble.squash(col("passage_text")),
          col("company_a"), col("company_b"))))
    val sections = t.layer("Assemble.enrich") {
      val direct = validated.filter(col("ok")).select(col("doc_id"),
        concat(Assemble.headerLine(col("company_a"), col("company_b")),
          col("passage_text")).as("content"))
      direct.unionByName(Assemble.enrich(
        validated.filter(!col("ok")).select(col("doc_id"),
          col("passage_text"), col("company_a"), col("company_b")),
        chunks))
    }
    pass.count("Pipeline.cascade.cands_per_chunk")(
      cands.count().toDouble / chunks.count())
    pass.count("Assemble.enrich_share")(
      validated.filter(!col("ok")).count().toDouble / validated.count())
    sections
  }
}
