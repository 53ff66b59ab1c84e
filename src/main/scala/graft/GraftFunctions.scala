package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.{BackgroundPassage, ChunkSplit, CompanyNameNorm, DedupLines, ExtractOrgs, FuzzPartialRatio, FuzzRatio, GunzipText, GzipPayload, HtmlToText, JpegColorDHash, JpegDHash, MonthShiftReset, NfkcAscii, NormalizeQuotes, PngDHash, PseudoEmbedding, ScaledDot, SimHash64, WavEnergyWindows, WavFingerprint, Y4mLumaSumArray, internal}

/** Column-API + SQL surface for the engine's custom Catalyst expressions.
  *
  * All of these are native `Expression`s (codegen-friendly; no Scala UDF
  * boxing): nodes in org.apache.spark.sql.graft, algorithms in graft.expr.
  * SQL names are registered per-session via [[GraftFunctions.register]]
  * (idempotent).
  */
object GraftFunctions {
  private def col(e: Expression): Column = internal.column(e)
  private def ex(c: Column): Expression = internal.expression(c)

  /** rapidfuzz-style normalized Indel similarity, 0..100. */
  def fuzz_ratio(a: Column, b: Column): Column = col(FuzzRatio(ex(a), ex(b)))

  /** rapidfuzz-style best-window similarity, 0..100. */
  def fuzz_partial_ratio(a: Column, b: Column): Column =
    col(FuzzPartialRatio(ex(a), ex(b)))

  /** NFKC normalize + drop non-ASCII (reference F10). */
  def nfkc_ascii(c: Column): Column = col(NfkcAscii(ex(c)))

  /** Month shift with day-reset-to-1 fallback semantics (reference F2). */
  def month_shift_reset(d: Column, months: Int, rollForward: Boolean): Column =
    col(MonthShiftReset(ex(d), Literal(months), Literal(rollForward)))

  /** Generator: split text into ordered (chunk_idx, chunk) rows (T1). */
  def chunk_split(c: Column, chunkSize: Int = 2048, overlap: Int = 400): Column =
    col(ChunkSplit(ex(c), chunkSize, overlap))

  /** T3-T6 header cascade -> promoted passage or null. */
  def background_passage(c: Column, backgroundOnly: Boolean): Column =
    col(BackgroundPassage(ex(c), backgroundOnly))

  /** F5 company-name normalization. */
  def company_name_norm(c: Column): Column = col(CompanyNameNorm(ex(c)))

  /** F7 HTML -> text. */
  def html_to_text(c: Column): Column = col(HtmlToText(ex(c)))

  /** U3 order-preserving line dedup. */
  def dedup_lines(c: Column): Column = col(DedupLines(ex(c)))

  /** X4 test-grade ORG extraction. */
  def extract_orgs(c: Column): Column = col(ExtractOrgs(ex(c)))

  /** T8 hermetic deterministic embedding stub. */
  def pseudo_embedding(c: Column, dim: Int): Column =
    col(PseudoEmbedding(ex(c), dim))

  /** 64-bit SimHash near-dup fingerprint. */
  def simhash64(c: Column): Column = col(SimHash64(ex(c)))

  private def lit(e: Expression): Any = e match {
    case Literal(v, _) => v
    case other => throw new IllegalArgumentException(
      s"expected literal argument, got $other")
  }

  /** Every SQL name the engine exposes, with its expression builder.
    * [[register]] and [[GraftExtensions]] both install this table. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "fuzz_ratio" -> (es => FuzzRatio(es.head, es(1))),
      "fuzz_partial_ratio" -> (es => FuzzPartialRatio(es.head, es(1))),
      "nfkc_ascii" -> (es => NfkcAscii(es.head)),
      "month_shift_reset" -> (es => MonthShiftReset(es.head, es(1), es(2))),
      "chunk_split" -> (es => ChunkSplit(es.head,
        lit(es(1)).asInstanceOf[Int], lit(es(2)).asInstanceOf[Int])),
      "background_passage" -> (es =>
        BackgroundPassage(es.head, lit(es(1)).asInstanceOf[Boolean])),
      "company_name_norm" -> (es => CompanyNameNorm(es.head)),
      "html_to_text" -> (es => HtmlToText(es.head)),
      "dedup_lines" -> (es => DedupLines(es.head)),
      "normalize_quotes" -> (es => NormalizeQuotes(es.head)),
      "extract_orgs" -> (es => ExtractOrgs(es.head)),
      "pseudo_embedding" -> (es =>
        PseudoEmbedding(es.head, lit(es(1)).asInstanceOf[Int])),
      "simhash64" -> (es => SimHash64(es.head)),
      "scaled_dot" -> (es => ScaledDot(es.head, es(1))),
      // media codec surface: decode/hash opaque binary payloads in SQL
      "png_dhash" -> (es => PngDHash(es.head)),
      "wav_fingerprint" -> (es => WavFingerprint(es.head)),
      "wav_energy_windows" -> (es =>
        WavEnergyWindows(es.head, lit(es(1)).asInstanceOf[Int])),
      "y4m_luma_sums" -> (es => Y4mLumaSumArray(es.head)),
      "jpeg_dhash" -> (es => JpegDHash(es.head)),
      "jpeg_color_dhash" -> (es => JpegColorDHash(es.head)),
      "gzip_payload" -> (es => GzipPayload(es.head)),
      "gunzip_text" -> (es => GunzipText(es.head)))

  /** Register SQL names for `spark.sql` use; safe to call repeatedly. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // cost-based conjunct ordering (idempotent to re-add)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.ReorderCostlyConjuncts)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.ReorderCostlyConjuncts
    }
  }
}
