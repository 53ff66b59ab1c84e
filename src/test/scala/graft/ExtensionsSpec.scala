package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The SQL-callable surface of the custom expressions plus the
  * injection-based wiring (GraftExtensions). The shared test session is
  * registered via GraftFunctions.register; sessions built with
  * `.withExtensions(new GraftExtensions)` get the same surface.
  */
class ExtensionsSpec extends SparkSpec {

  test("custom expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT fuzz_ratio('alpha corp', 'alpha corporation') AS fr,
        |       nfkc_ascii('café Ａ') AS folded,
        |       simhash64('the quick brown fox') AS sh,
        |       company_name_norm('acme widget corp') AS cn
        |""".stripMargin).collect().head
    assert(r.getDouble(0) > 60.0 && r.getDouble(0) < 100.0)
    assert(r.getString(1) == "caf A")
    assert(r.getString(3) == "acme widget")
  }

  test("media codec surface is callable from SQL: gzip round-trips, " +
      "perceptual hashes match the kernel entry points") {
    import spark.implicits._
    val df = Seq((7L, "the quick brown fox decodes media in SQL"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("codec_docs")
    val r = spark.sql(
      "SELECT gunzip_text(gzip_payload(text)) AS back FROM codec_docs")
    assert(r.collect().head.getString(0) ==
      "the quick brown fox decodes media in SQL")
    // hash functions over real payload bytes (fixture-synthesized here,
    // arbitrary binary columns in production)
    val pay = Seq((graft.ops.Jpeg.dedupJpegPayloadOf(7L),
        graft.ops.Jpeg.dedupJpegColorPayloadOf(7L),
        graft.ops.Multimodal.dedupPngPayloadOf(7L),
        graft.ops.Multimodal.dedupWavPayloadOf(7L)))
      .toDF("jpg", "cjpg", "png", "wav")
    pay.createOrReplaceTempView("codec_payloads")
    val h = spark.sql(
      """SELECT jpeg_dhash(jpg) AS jd, jpeg_color_dhash(cjpg) AS cd,
        |       png_dhash(png) AS pd, wav_fingerprint(wav) AS wf
        |FROM codec_payloads""".stripMargin).collect().head
    assert(h.getLong(0) ==
      graft.ops.Jpeg.jpegDHash(graft.ops.Jpeg.dedupJpegPayloadOf(7L)))
    assert(h.getLong(1) ==
      graft.ops.Jpeg.jpegColorDHash(graft.ops.Jpeg.dedupJpegColorPayloadOf(7L)))
    assert(h.getLong(2) ==
      graft.ops.Multimodal.pngDHash(graft.ops.Multimodal.dedupPngPayloadOf(7L)))
    assert(h.getLong(3) ==
      graft.ops.Multimodal.wavFingerprint(
        graft.ops.Multimodal.dedupWavPayloadOf(7L)))
  }

  test("chunk_split generator works in SQL lateral view") {
    val rows = spark.sql(
      """SELECT doc_id, chunk_idx, chunk
        |FROM (SELECT 1 AS doc_id,
        |             'aaaa bbbb cccc dddd eeee ffff gggg hhhh' AS text)
        |LATERAL VIEW chunk_split(text, 12, 4) AS chunk_idx, chunk
        |""".stripMargin).collect()
    assert(rows.length > 1)
    assert(rows.forall(_.getString(2).length <= 12))
  }

  test("GraftExtensions injects exactly the functions register installs") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    val s = spark.newSession()
    def names = s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet
    val builtin = names
    GraftFunctions.register(s)
    val installed = names -- builtin
    assert(installed.nonEmpty)
    assert(injected.sorted.toSeq == installed.toSeq.sorted)
  }

  test("register is idempotent for the optimizer rule") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.ReorderCostlyConjuncts) == 1)
  }
}
