package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale techniques for the 100 TB posture that don't show up in the
  * operator inventory itself: co-located bucketed joins (no exchange at
  * read time) and deterministic salting for skewed keys.
  */
object Scale {

  /** The width of per-row work: the session's shuffle partitions, which
    * `GraftSession` sets to the cores. AQE coalesces an exchange by
    * bytes, but the stages these exchanges feed cost per row (chunk
    * kernels, pair explodes, Jaccard confirms, image decodes, triangle
    * wedges, HNSW hops): a few MB of ids or KB-sized rows would be
    * packed into one or two tasks while the kernel above them runs for
    * seconds. This is the one place that decides that width; an
    * adaptive policy for it changes this function and no call site. */
  def width(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Hash-repartition `df` on `keys` at [[width]]. A
    * `REPARTITION_BY_NUM` exchange is one AQE does not coalesce, so the
    * per-row work after it runs on every core at any scale; results are
    * row-identical. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(width(df.sparkSession), keys: _*)

  /** Spread an UNDER-SPLIT source before per-row kernel work (r18,
    * guide §2.5 "partition by work, not bytes"): a tiny parquet table is
    * one file with one row group, so Spark's split planning gives the
    * scan ONE task no matter the config — and every expensive per-row
    * kernel projected before the first exchange (signature hashing,
    * media decode, multi-distinct aggregation) then runs serially on
    * one core (measured r18: table_stats spent 5.0 of its 5.2 s in a
    * 3-task scan stage; the triangle pairs build 1.4 s in 3 tasks).
    * The fix is partition-count-derived, not a constant: when the
    * planned scan parallelism is under half the cluster's cores, pay
    * one round-robin exchange of the (by construction small) input to
    * spread the kernel; a source already split wider than cores — every
    * real table at the 100 TB posture — passes through IDENTITY, plan
    * untouched, so this never adds a corpus-scale shuffle. Results are
    * row-identical (pure repartition). */
  def spreadNarrowScan(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (isUnderSplit(df, cores)) df.repartition(cores) else df
  }

  /** Planned-parallelism probe, SAFE-GATED (r18 ADVICE): `df.rdd` is
    * pure physical planning only on an exchange-and-subquery-free plan
    * (scan/filter/project — every spread call site's shape). Under AQE a
    * plan containing exchanges answers `.rdd` by eagerly materializing
    * its query stages — the probe itself runs the upstream
    * broadcast/shuffle jobs, whose work is then thrown away. Such
    * inputs are treated as wide (no spread): a plan that already
    * carries an exchange got its width from that exchange/AQE, not
    * from an under-split scan, so the spread has nothing to fix there;
    * callers that KNOW their exchange-bearing frame is narrow decide
    * from their own metadata (Sinks.mergeUpdate keys on the touched-
    * bucket count and probes the pre-join scan instead). */
  private[graft] def isUnderSplit(df: DataFrame, cores: Int): Boolean = {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    val plan = df.queryExecution.sparkPlan
    val probeSafe = !plan.exists(p => p.isInstanceOf[Exchange] ||
      p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
    probeSafe && df.rdd.getNumPartitions * 2 <= cores
  }

  /** Key-clustered variant of [[spreadNarrowScan]] for narrow inputs
    * feeding a PARTITIONED WRITE: round-robin would scatter every
    * partition value across all tasks (tasks x values small files —
    * guide §6's anti-pattern), so spread by the partition key instead —
    * file count stays one per (value, holding task) while the writers
    * parallelize. Pinned width: an AQE-coalescible exchange of a few MB
    * collapses back to one task, which is the measured r14 failure mode
    * of the unpinned form. Identity on already-wide inputs. */
  def spreadNarrowScan(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (isUnderSplit(df, cores)) df.repartition(cores, keys: _*) else df
  }

  /** Write a table bucketed+sorted on the join key: repeated joins on that
    * key then need no shuffle (both sides read pre-partitioned).
    * `path` makes it an external table at that location (keeps temp
    * runs out of the default warehouse dir). */
  def writeBucketedTable(df: DataFrame, table: String, key: String,
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Salted join for skewed keys: the skewed (large) side gets a
    * deterministic salt in [0, n); the small side is replicated n ways.
    * No runtime randomness — the salt is a hash of the whole row, so plans
    * are reproducible and AQE-friendly. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    val salted = large.withColumn("__salt",
      pmod(xxhash64(large.columns.map(col): _*), lit(saltBuckets.toLong)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Repartition by key range for an ordered sink at scale (S9 without a
    * single-task coalesce: one sorted file per range partition). */
  def rangeSortedWrite(df: DataFrame, path: String, key: String,
      partitions: Int): Unit =
    df.repartitionByRange(partitions, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").option("header", "true").csv(path)
}
