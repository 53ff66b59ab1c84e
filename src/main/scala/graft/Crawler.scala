package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions._
import graft.io.{Clients, Sources, TokenBucket}
import graft.ops.{Normalize, Rank}

/** The crawler stage (SURVEY.md §3.1) as a declarative lineage:
  * deals -> date-window jobs (F2/F6) -> anti-join resume (J4) -> rate-limited
  * fetch (S2/S4, mapPartitions) -> EDGAR JSON parse + fuzzy entity filter
  * (J2/F15) -> archive URL construction + dedup (F16/U2) -> document fetch +
  * clean (S3, F7-F12) -> both-names validation (F13/J3).
  *
  * External HTTP is behind [[Clients.Fetcher]]; the default stub makes the
  * whole flow hermetic. At scale each fetch partition holds a
  * `globalRate/numPartitions` token bucket, so the aggregate stays under
  * the EDGAR cap with zero cross-executor coordination.
  */
object Crawler {

  val FormTypes = Seq("PREM14A", "S-4", "SC 14D9", "SC TO-T")
  val DateMargin = 4
  val GlobalRatePerSec = 5.0

  /** Jobs: per deal, the F2 date window (clamped at 2001-01-01 like
    * CrawlerSupport.py:47,65-66), normalized names (F5), and the EDGAR
    * full-text-search URL (F6). */
  def searchJobs(deals: DataFrame): DataFrame =
    deals.select(
      col("main_index"), col("target_name"), col("acquirer_name"),
      Normalize.companyName(col("target_name")).as("norm_target"),
      Normalize.companyName(col("acquirer_name")).as("norm_acquirer"),
      greatest(month_shift_reset(col("announce_dt"), -DateMargin,
        rollForward = false), lit("2001-01-01").cast("date")).as("win_lo"),
      month_shift_reset(col("announce_dt"), DateMargin, rollForward = true)
        .as("win_hi"))
      .withColumn("search_url", concat(
        lit("https://efts.sec.gov/LATEST/search-index?q=%22"),
        Normalize.urlEncodeSpaces(col("target_name")), lit("%22%20%22"),
        Normalize.urlEncodeSpaces(col("acquirer_name")), lit("%22"),
        lit("&dateRange=custom&startdt="),
        date_format(col("win_lo"), "yyyy-MM-dd"),
        lit("&enddt="), date_format(col("win_hi"), "yyyy-MM-dd"),
        lit("&forms="), lit(FormTypes.mkString("%2C"))))

  /** J4: drop jobs whose index already exists in the sink. */
  def resume(jobs: DataFrame, done: DataFrame): DataFrame =
    jobs.join(done, Seq("main_index"), "left_anti")

  /** S2+S4: fetch each job's URL under a per-partition token bucket and
    * return (main_index, `urlCol`, body): the URL stays with its body, so
    * a job with several URLs never needs a join to tell them apart. */
  def fetchBodies(spark: SparkSession, jobs: DataFrame, urlCol: String,
      fetcher: Clients.Fetcher, globalRate: Double = GlobalRatePerSec): DataFrame = {
    import spark.implicits._
    // partition count from the OPTIMIZED physical plan (queryExecution
    // .toRdd) — `df.rdd` would build and cache a separate deserialized
    // RDD lineage of the whole DataFrame just to read one number
    val n = math.max(1, jobs.queryExecution.toRdd.getNumPartitions)
    val rate = TokenBucket.perPartitionRate(globalRate, n)
    jobs.select(col("main_index"), col(urlCol).as("__url"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        lazy val bucket = new TokenBucket(rate)
        lazy val client = fetcher
        rows.map { case (idx, url) =>
          bucket.acquire()
          (idx, url, client.fetch(url))
        }
      }.toDF("main_index", urlCol, "body")
  }

  /** S2 parse + J2: explode hits; entity-filter buckets fuzzy-matching
    * either company (partial_ratio > 90, CrawlerSupport.py:138-147) gate
    * the hits to those entities' CIKs (F15); jobs with no matching entity
    * fall back to the unfiltered hit list (CrawlerSupport.py:247-314).
    * Archive URLs built (F16) and deduped (U2). */
  def candidateFilings(spark: SparkSession, jobs: DataFrame,
      fetcher: Clients.Fetcher = new Clients.StubFetcher): DataFrame = {
    val bodies = fetchBodies(spark, jobs, "search_url", fetcher)
      .drop("search_url")
      .join(jobs.select(col("main_index"), col("norm_target"),
        col("norm_acquirer")), Seq("main_index"))
      .withColumn("parsed", from_json(col("body"), Sources.edgarHitsSchema))

    // J2 fuzzy entity gate: CIKs of entity buckets matching either name
    val matchedCiks = bodies
      .select(col("main_index"), col("norm_target"), col("norm_acquirer"),
        explode(col("parsed.aggregations.entity_filter.buckets.key"))
          .as("entity"))
      .filter(
        fuzz_partial_ratio(lower(col("entity")), col("norm_target")) > 90 ||
        fuzz_partial_ratio(lower(col("entity")), col("norm_acquirer")) > 90)
      .select(col("main_index"),
        Sources.cikFromEntity(col("entity")).cast("long").as("cik"))
      .distinct()

    val hits = bodies
      .withColumn("total_hits", col("parsed.hits.total.value"))
      .select(col("main_index"), explode(col("parsed.hits.hits")).as("hit"))
      .select(col("main_index"), col("hit._source.ciks").as("ciks"),
        col("hit._source.adsh").as("adsh"))
      .withColumn("hit_cik", element_at(col("ciks"), -1).cast("long"))

    val jobsWithMatch = matchedCiks.select("main_index").distinct()
    val gated = hits
      .join(matchedCiks.withColumnRenamed("cik", "hit_cik"),
        Seq("main_index", "hit_cik"), "left_semi")
    val fallback = hits
      .join(jobsWithMatch, Seq("main_index"), "left_anti")
    gated.unionByName(fallback)
      .withColumn("url", Sources.filingUrl(col("ciks"), col("adsh")))
      .dropDuplicates("main_index", "url")
      .select(col("main_index"), col("url"))
  }

  /** S3 + F7-F13: fetch candidate docs, clean, and keep only docs whose
    * 11k-char header probe contains both normalized names (J3).
    * `globalRate` is the aggregate fetch cap (EDGAR's 5 req/s in
    * production; hermetic tests pass a high rate). */
  def validatedDocs(spark: SparkSession, candidates: DataFrame,
      names: DataFrame, fetcher: Clients.Fetcher,
      globalRate: Double = GlobalRatePerSec): DataFrame = {
    val bodies = fetchBodies(spark, candidates, "url", fetcher, globalRate)
      .join(names, Seq("main_index"))
    val cleaned = bodies.withColumn("content",
      Normalize.cleanDocument(col("body")))
    cleaned
      .withColumn("header", Normalize.headerProbe(col("content")))
      .filter(Normalize.bothNamesPresent(col("header"),
        col("norm_target"), col("norm_acquirer")) ||
        // F14 hyphen fallback
        Normalize.bothNamesPresent(col("header"),
          Normalize.hyphenToSpace(col("norm_target")),
          Normalize.hyphenToSpace(col("norm_acquirer"))))
      .select(col("main_index"), col("url"), col("content"))
  }

  /** X1 composition (src/crawler/Processor.py:470-480): docs where the
    * heuristic cascade finds no Background candidate go to the LLM fallback
    * classifier; docs it accepts rejoin the located set. Returns
    * (main_index, url, content, via) with via in {"heuristic", "llm"}. */
  def locateWithFallback(spark: SparkSession, docs: DataFrame,
      llm: Clients.LlmExtractor = new Clients.StubBackgroundClassifier): DataFrame = {
    val chunks = Pipeline.chunk(
      docs.select(col("main_index").as("doc_id"), col("content")))
    val located = Pipeline.candidates(chunks)
      .select(col("doc_id").as("main_index")).distinct()
    val hit = docs.join(located, Seq("main_index"), "left_semi")
      .withColumn("via", lit("heuristic"))
    val missed = docs.join(located, Seq("main_index"), "left_anti")
    val rescued = Clients.classifyHasSection(spark, missed, llm)
      .withColumn("via", lit("llm"))
    hit.unionByName(rescued)
  }

  /** J2 as a standalone operator: entity labels x company names fuzzy
    * match via the FuzzPartialRatio expression (threshold 90). */
  def fuzzyEntityFilter(entities: DataFrame, labelCol: String,
      nameCol: String, threshold: Double = 90.0): DataFrame =
    entities.filter(
      fuzz_partial_ratio(lower(col(labelCol)), lower(col(nameCol))) > threshold)
}
