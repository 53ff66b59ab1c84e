package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Crawler
import graft.io.{Clients, Sinks, Sources}
import graft.ops.{Assemble, Rank}

/** Serves the generated HTML filings: the archive URL's accession number
  * names the file. */
final class DirFetcher(dir: String) extends Clients.Fetcher {
  override def fetch(url: String): String = {
    val adsh = url.substring(url.lastIndexOf('/') + 1).stripSuffix(".txt")
    new String(Files.readAllBytes(Paths.get(dir, adsh + ".html")), UTF_8)
  }
}

/** Hundreds of deals in the reference's 154-column CSV, short HTML
  * filings, and a section sink pre-seeded with a fifth of the deals. Three
  * stages, each reading the last one's sink as the reference's separate
  * batch processes do: searchJobs -> resume -> validatedDocs ->
  * locateWithFallback -> docs sink; extractSections -> section sink;
  * identifyInitiators over the section sink -> orderedCsv, then a
  * mergeUpdate patch of a tenth of the rows.
  * Per-deal overhead, joins, the LLM fallback and the sink's reads,
  * appends and in-place patches do the work. */
final class DealsMany extends Workload {
  private val PatchMark = "[reviewed]\n"
  private val searchSchema = "main_index BIGINT, url STRING"
  private var inputs: Path = _
  private var snapshot: Path = _
  private var fetcher: DirFetcher = _
  private var search: DataFrame = _
  // main_index -> (path, initiator, year, patched)
  private var truth: Map[Long, (String, String, String, Boolean)] = Map.empty
  private var seeded: Map[Long, String] = Map.empty
  private var names: Map[Long, (String, String)] = Map.empty

  def items: Int = truth.size

  def load(spark: SparkSession, in: Path): Unit = {
    inputs = in
    snapshot = in.resolve("sink")
    fetcher = new DirFetcher(in.resolve("docs").toString)
    // the batch's input is the deal CSV; the search index and the filings
    // stand for remote services and the sink for state, read in the passes
    Workload.touch(Sources.deals(spark, in.resolve("deals.csv").toString))
    search = Sinks.readJsonl(spark, in.resolve("search.jsonl").toString,
      searchSchema)
    val rows = Workload.tsv(in.resolve("truth.tsv"))
    truth = rows.map(r => r(0).toLong -> (r(1), r(2), r(3), r(4) == "1")).toMap
    names = rows.map(r => r(0).toLong -> (r(5), r(6))).toMap
    seeded = Workload.jsonLines(in.resolve("seeded.jsonl"))
      .map(m => m("main_index").toLong -> m("content")).toMap
  }

  override def reset(pass: Pass): Unit = {
    val files = Files.walk(snapshot)
    try files.forEach { p =>
      val to = pass.dir.resolve("sink").resolve(snapshot.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally files.close()
  }

  def run(pass: Pass): Unit = {
    val (spark, t) = (pass.spark, pass.trace)
    val (docsSink, sink) = (pass.out("docs"), pass.out("sink"))
    // crawler stage: deals -> jobs not yet in the sink -> validated,
    // located filings -> docs sink
    val todo = t.layer("Crawler.jobs")(Crawler.resume(
      Crawler.searchJobs(Sources.deals(spark, inputs.resolve("deals.csv")
        .toString)),
      Sinks.doneIndices(spark, sink, "main_index")))
    val cands = search.join(todo.select("main_index"), Seq("main_index"),
      "left_semi")
    def validated = Crawler.validatedDocs(spark, cands,
      todo.select("main_index", "norm_target", "norm_acquirer"), fetcher,
      globalRate = 1e9)
    // one filing per deal, the first by URL, as the engine's own end-to-end
    // spec does: validatedDocs pairs every fetched body with every
    // candidate URL of its deal (see Crawler.validate.docs_per_deal)
    val docs = t.layer("Crawler.validate")(Rank.top1(
      validated.withColumn("__p", lit(1.0)), "main_index", "__p", "url")
      .drop("__p"))
    val located = t.layer("Crawler.locate")(
      Crawler.locateWithFallback(spark, docs))
    t.span("Sinks.write")(Sinks.writeBucketed(located.join(
      todo.select("main_index", "target_name", "acquirer_name"),
      Seq("main_index")), docsSink, "main_index"))
    // separator stage: docs sink -> sections appended to the sink
    val sections = Workload.extract(pass, spark.read.parquet(docsSink)
      .select(col("main_index").as("doc_id"),
        col("target_name").as("company_a"),
        col("acquirer_name").as("company_b"), col("content")))
    t.span("Sinks.write")(Sinks.writeBucketed(
      sections.withColumnRenamed("doc_id", "main_index"), sink, "main_index"))
    // identifier stage over the whole sink, then the in-place patch
    val out = t.layer("Clients.identify")(Clients.identifyInitiators(spark,
      spark.read.parquet(sink)
        .select(col("main_index").as("doc_id"), col("content"))))
    t.span("Sinks.csv")(Sinks.orderedCsv(out, pass.out("initiators"), "INDEX"))
    val updates = spark.read.parquet(sink)
      .filter(col("main_index") % 10 === 7)
      .select(col("main_index"), concat(lit(PatchMark), col("content"))
        .as("content"))
    t.span("Sinks.patch")(
      Sinks.mergeUpdate(spark, sink, "main_index", updates, "content"))
    if (t.traced) {
      pass.count("Sinks.files_written")(
        (dataFiles(Paths.get(sink)) -- dataFiles(snapshot)).size +
          dataFiles(Paths.get(docsSink)).size +
          Sinks.dataFileCount(pass.out("initiators"), ".csv"))
      pass.count("Sinks.patch.rewrite_amp") {
        val rows = spark.read.parquet(sink)
        val marked = rows.filter(col("content").startsWith(PatchMark))
        rows.join(marked.select("bucket").distinct(), "bucket").count()
          .toDouble / marked.count()
      }
      pass.count("Crawler.validate.pass_ratio")(
        docs.count().toDouble / cands.count())
      pass.count("Crawler.validate.docs_per_deal") {
        val v = validated
        v.count().toDouble / v.select("main_index").distinct().count()
      }
      pass.count("Crawler.locate.llm_share")(
        located.filter(col("via") === "llm").count().toDouble / located.count())
    }
  }

  private def dataFiles(root: Path): Set[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(root.relativize).toSet
    finally s.close()
  }

  /** Each deal's path: dropped deals leave no doc, the rest of the new
    * ones are located by the heuristic or by the LLM fallback as designed;
    * resumed rows stay (patched or not), direct and enriched sections are
    * appended with their prompt shape, LLM-located deals add no section;
    * every sink row has one initiator row with the expected initiator and
    * year, and exactly the tenth chosen for the patch carries its mark. */
  def check(pass: Pass): Int = {
    val spark = pass.spark
    def byIndex(dir: String, c: String) = spark.read.parquet(dir)
      .select("main_index", c).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)) }
    val via = byIndex(pass.out("docs"), "via")
    val sink = byIndex(pass.out("sink"), "content")
    val csv = Workload.readCsv(spark, pass.out("initiators"))
      .groupBy(_.getAs[String]("INDEX").toLong)
    def okSection(id: Long, path: String, content: String): Boolean = {
      val (a, b) = names(id)
      path match {
        case "resumed" => content == seeded(id)
        case "direct" => content.startsWith(
          s"The following provides details about the events leading up to " +
            s"the merger deal between $a & $b:\n")
        case "enriched" => content.startsWith(Assemble.EnrichPreamble)
        case _ => false
      }
    }
    val bad = truth.count { case (id, (path, initiator, year, patched)) =>
      val wantVia = path match {
        case "direct" | "enriched" => Some("heuristic")
        case "llm" => Some("llm")
        case _ => None
      }
      val stored = path == "resumed" || wantVia.contains("heuristic")
      val wrong = via.get(id).map(_.toSeq) != wantVia.map(Seq(_)) || ((sink.get(id), csv.get(id)) match {
        case (None, None) => stored
        case (Some(Array(c)), Some(Array(r))) =>
          !stored || c.startsWith(PatchMark) != patched ||
            !okSection(id, path, c.stripPrefix(PatchMark)) ||
            r.getAs[String]("INITIATOR") != initiator ||
            r.getAs[String]("DATE_OF_INITIATION") != year
        case _ => true
      })
      if (wrong) pass.mismatch(s"deal $id ($path): via=${via.get(id).map(_.toSeq)}, " +
        s"sink=${sink.get(id).map(_.map(_.take(120)).toSeq)}, csv=" +
        csv.get(id).map(_.map(r => (r.getAs[String]("INITIATOR"),
          r.getAs[String]("DATE_OF_INITIATION"))).toSeq))
      wrong
    }
    bad + (via.keySet ++ sink.keySet ++ csv.keySet).count(k => !truth.contains(k))
  }
}
