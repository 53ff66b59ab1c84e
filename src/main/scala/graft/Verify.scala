package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in an oracle SQL string would otherwise make
    * check.py's json.load fail and silently zero the correctness gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — local dev loop
    // only (the driver always runs the full 2-arg form)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    // same session as Bench: SQL names + the conjunct-reorder rule (the
    // rule must be result-invisible — running the oracle gate with it
    // active is the standing proof)
    val spark = GraftSession.build()
    // The registered HNSW DuckDB twins hardcode the layer-depth cap at
    // 3 = hnswCap(500), the sf0.01 gate corpus — the Spark side derives
    // depth from the data, so at any OTHER corpus size the twin would
    // silently build a shallower/deeper graph and the gate would fail
    // as a confusing hash divergence instead of a geometry signal.
    // Assert the coupling HERE (the oracle-dump path is the only place
    // the twins are consumed; Bench legitimately runs at other scales).
    // substring match, not a prefix list: d5d_semdedup_hnsw's twin also
    // embeds knnHnswSql with the hardcoded cap — any future twin that
    // mentions hnsw in its name is guarded automatically
    val hnswGated = SparkEntry.oracleSql.keys.filter(_.contains("hnsw"))
    if (hnswGated.exists(selected)) {
      val nEmb = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      val capHere = graft.ops.Similarity.hnswCap(nEmb)
      require(capHere == 3,
        s"HNSW oracle twins are generated for depth cap 3 (the 500-row " +
          s"sf0.01 gate corpus) but $sfDir holds $nEmb embeddings -> " +
          s"hnswCap = $capHere; regenerate knnHnswSql/knnHnswAppendedSql " +
          "with cap = " + capHere + " before gating at this scale")
      // the widened twin additionally hardcodes the auto-widening
      // factor: beam0 640 = 64 (the shallow-cap AUTO base) *
      // ceil(n / |label % 10 = 0|), exactly 10 at the 50-of-500 gate
      // corpus (the Spark side caps at n=500; any replayed width >= n
      // is identical)
      if (selected("knn_hnsw_filtered_widened")) {
        val nKeep = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter("label % 10 = 0").count()
        val factor = math.ceil(nEmb.toDouble / nKeep).toLong
        require(factor == 10,
          s"knn_hnsw_filtered_widened's twin replays a 640-wide base " +
            s"beam (widening factor 10) but $sfDir gives " +
            s"ceil($nEmb/$nKeep) = $factor; regenerate the twin with " +
            s"beam0 = ${64 * factor} before gating at this scale")
      }
    }
    // create outDir up front: if the prefix filter selects zero queries
    // (or every selected one fails) the oracle_sql.json write below must
    // still land rather than NoSuchFileException-ing the whole dump
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
