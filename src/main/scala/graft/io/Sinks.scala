package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S5-S10: sinks and keyed access (SURVEY.md §2.1). The reference buckets
  * Mongo collections by `main_index // 100` (DatabaseHandler.py:24-34);
  * here that becomes `partitionBy("bucket")` parquet, which gives partition
  * pruning for point lookups (S7) and cheap partition overwrite for updates
  * (S8).
  */
object Sinks {

  def bucketCol(index: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (floor(index / 100) * 100).cast("long")

  /** S5/S6: bucketed parquet append. A narrow (under-split) input is
    * spread BY BUCKET first so the per-bucket files are written by
    * parallel tasks instead of one task opening every bucket's writer
    * sequentially (r18 profile: ~1 s single-task write stage at gate
    * scale); file count is unchanged and wide inputs pass through. */
  def writeBucketed(df: DataFrame, path: String, indexCol: String): Unit =
    graft.ops.Scale.spreadNarrowScan(
        df.withColumn("bucket", bucketCol(col(indexCol))),
        Seq(col("bucket")))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(path)

  /** S7: point lookup with explicit bucket predicate -> partition pruning
    * (only `bucket=k` directories are scanned). */
  def pointLookup(spark: SparkSession, path: String, indexCol: String,
      index: Long): DataFrame =
    spark.read.parquet(path)
      .filter(col("bucket") === (index / 100) * 100 && col(indexCol) === index)

  /** J4: resume set — indices already present in the sink. */
  def doneIndices(spark: SparkSession, path: String, indexCol: String): DataFrame =
    spark.read.parquet(path).select(col(indexCol)).distinct()

  /** Touched-bucket count above which [[mergeUpdate]] exchanges the
    * merged rows by bucket before the dynamic-partition overwrite: at
    * 128 buckets x 32 write tasks the unexchanged worst case is ~4k
    * small files — past that the commit and read-back go file-count-
    * bound (the r14 20x s8 finding); below it the exchange is pure
    * overhead (the r14 1x +35% regression). */
  val MaxUnpartitionedBuckets = 128

  /** S8: merge-update — overwrite only the partitions containing updated
    * rows (dynamic partition overwrite), reference patchabbrev $set. */
  def mergeUpdate(spark: SparkSession, path: String, indexCol: String,
      updates: DataFrame, updateCol: String): Unit = {
    val touched = updates.withColumn("bucket", bucketCol(col(indexCol)))
    val bucketList = touched.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val current = spark.read.parquet(path)
      .filter(col("bucket").isin(bucketList: _*))
    val merged = current.alias("c")
      .join(touched.select(col(indexCol).as("__k"),
        col(updateCol).as("__v")), col(indexCol) === col("__k"), "left")
      .withColumn(updateCol,
        when(col("__k").isNotNull, col("__v")).otherwise(col(updateCol)))
      .drop("__k", "__v")
    // materialize BEFORE the overwrite commits: both `current` and
    // (commonly) `updates` lazily scan `path`, and a task retried after
    // the dynamic-overwrite commit would re-read replaced files.
    // localCheckpoint cuts every live lineage to `path` first; its
    // footprint is the touched buckets, not the table.
    // repartition BY BUCKET first when the patch is BROAD: without it
    // every shuffle task writes one file into every bucket it happens
    // to hold rows of — up to (tasks x touched buckets) small files
    // per patch, which is what made the s8 roundtrip the steepest
    // scale-curve entry at 20x (file-count-bound commit + read-back,
    // not rewrite volume). One exchange of the touched-bucket rows
    // buys one file per rewritten bucket. For a NARROW patch the
    // worst-case file count is already bounded (tasks x buckets stays
    // in the low thousands) and the exchange costs more than the files
    // — r14 measured +35% on the 1x roundtrip from an unconditional
    // repartition — so it is skipped below the bucket threshold.
    // narrow patches (<= threshold buckets) formerly skipped any exchange
    // — r14 measured +35% from an UNPINNED repartition(bucket), which
    // AQE coalesced to one partition (all cost, no parallelism). The
    // pinned by-bucket spread is different: it only fires when the
    // merged rows are under-split, is not AQE-coalescible, and hands the
    // dynamic-partition writer parallel tasks at the same file count
    // (r18 profile: the overwrite was a ~1 s single-task stage).
    // NARROWNESS IS DECIDED WITHOUT TOUCHING `merged` (r19, r18 ADVICE):
    // probing the join's RDD under AQE eagerly materializes its query
    // stages — every narrow patch ran the join's upstream once for the
    // probe and again for the real localCheckpoint. `merged` is a
    // (broadcast) join over `current`, so its planned width IS
    // `current`'s — probe the exchange-free scan instead, and skip the
    // exchange entirely when the patch touches a single bucket (hash-
    // partitioning one key value buys zero parallel writers, pure cost).
    val cores = spark.sparkContext.defaultParallelism
    val spreadNarrow = bucketList.length >= 2 &&
      graft.ops.Scale.isUnderSplit(current, cores)
    val materialized =
      (if (bucketList.length > MaxUnpartitionedBuckets)
        merged.repartition(col("bucket"))
      else if (spreadNarrow) merged.repartition(cores, col("bucket"))
      else merged)
        .localCheckpoint()
    // the write option, not the session conf: the caller's conf stays
    // untouched, and InsertIntoHadoopFsRelationCommand reads the option
    // first
    try materialized.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)
    finally materialized.unpersist()
  }

  /** S9: ordered CSV with header (single file, reference output.csv /
    * outputUnion.csv shape). */
  def orderedCsv(df: DataFrame, path: String, sortCol: String): Unit =
    df.orderBy(col(sortCol)).coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSONL export — the LLM-pipeline interchange format (one JSON object
    * per line, sharded): `numShards` evenly-sized files so a downstream
    * trainer's data loader can fan out over shards. Spark's json sink IS
    * JSONL (one object per line); the repartition pins the shard count. */
  def writeJsonlShards(df: DataFrame, path: String, numShards: Int): Unit =
    df.repartition(numShards)
      .write.mode(SaveMode.Overwrite).json(path)

  /** JSONL ingest with an explicit schema — never schema-inference (an
    * inference pass would double-scan 100 TB and can drift types between
    * runs; a declared schema also lets the reader prune columns). */
  def readJsonl(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Small-file compaction — the maintenance pass every long-lived 100 TB
    * table needs once streaming/incremental ingest has fragmented it
    * (file-open overhead and scheduler pressure scale with file count,
    * not bytes). Rewrites the directory into `numFiles` round-robin
    * balanced files; with an explicit partition count AQE will not
    * re-coalesce it. Returns the row count written. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      numFiles: Int): Long = {
    val df = spark.read.parquet(inPath)
    df.repartition(numFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    spark.read.parquet(outPath).count()
  }

  /** Data-file count of a sink directory (driver-side listing — bounded
    * by file count, which is exactly what compaction manages). */
  def dataFileCount(path: String, suffix: String = ".parquet"): Int = {
    val stream = Files.walk(Paths.get(path))
    try {
      val it = stream.iterator()
      var n = 0
      while (it.hasNext) {
        if (it.next().getFileName.toString.endsWith(suffix)) n += 1
      }
      n
    } finally stream.close()
  }

  /** S10: one text file per record, named `{idx}_{A}_&_{B}.txt` with a URL
    * header line (tools/dumpdata.py:4-31); `foreachPartition` writer. */
  def dumpFiles(df: DataFrame, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    df.select(col("main_index"), col("company_a"), col("company_b"),
      col("url"), col("content"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          val safe = (s: String) => s.replaceAll("[/\\\\:]", "_")
          val name = s"${r.getLong(0)}_${safe(r.getString(1))}_&_" +
            s"${safe(r.getString(2))}.txt"
          val body = s"URL: ${r.getString(3)}\n\n${r.getString(4)}"
          Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))
        }
      }
  }
}
