package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming stance (SURVEY.md §2.9): the reference is batch-only;
  * its streaming-shaped concerns map to
  *  - J4 incremental resume  -> `dropDuplicates` on the key with a watermark,
  *  - S9 append sink         -> append output mode,
  *  - windowed tallies       -> watermark + tumbling window agg,
  *  - session analysis       -> `flatMapGroupsWithState` custom state.
  */
object StreamOps {

  /** Streaming view of the driver's events table. The table has shipped
    * with two physical `ts` encodings — TIMESTAMP(NANOS) (readable only as
    * a long under the nanosAsLong legacy conf) and TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (surfaces as NTZ). A FileStreamSource needs an
    * explicit schema, so probe the on-disk type with one batch footer read
    * and normalize either shape to TimestampType (watermarks require it;
    * the session timezone is pinned to UTC so the NTZ cast is identity).
    * The nanosAsLong conf is set by [[graft.GraftSession.build]], which
    * builds every session; this read writes no conf. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tsType = spark.read.parquet(dir).schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).parquet(s"$dir")
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** EXACTLY-ONCE foreachBatch merge into an at-rest aggregate view —
    * the production sink shape for streams whose store has no native
    * transactional merge (plain parquet): each micro-batch's partial
    * aggregates fold into the previous view, and the result commits
    * with an APPLIED-BATCH HIGH-WATER MARK so replays are provable
    * no-ops. Structured Streaming's recovery contract is
    * at-least-once into foreachBatch (the last uncommitted batch is
    * re-delivered with the SAME batchId after a crash/restart); this
    * sink turns that into exactly-once by making (data, mark) one
    * atomic unit: the merged view is staged TOGETHER with a one-row
    * `_batchmark` table INSIDE the staged directory (underscore paths
    * are invisible to parquet discovery, so reads of the view skip
    * it) and [[graft.util.Sidecars.swapStaged]]'s single rename
    * commits both at once — no crash point can apply data without
    * advancing the mark or vice versa. A batch with
    * batchId <= the committed mark is skipped (returns false).
    *
    * Scale shape: the staged rewrite is of the VIEW (bounded by the
    * group count), never the corpus; `partitionCols` keeps the view
    * bucket-partitioned at rest so downstream point reads prune. The
    * view directory is `<root>/view`. */
  def mergeBatchExactlyOnce(spark: SparkSession, root: String,
      base: DataFrame, partials: DataFrame, batchId: Long,
      keys: Seq[String], countCol: String, measures: Seq[String],
      partitionCols: Seq[String] = Seq.empty): Boolean = {
    // resolve the committed view version (reader-atomic: versions
    // appear in one rename, so a racing reader/replayer never sees the
    // absent-directory window)
    val viewPath = graft.util.Sidecars.tryPath(spark, root, "view")
    val applied = viewPath match {
      case Some(vp) =>
        spark.read.parquet(vp + "/_batchmark")
          .agg(max(col("batch_id"))).collect()(0).getLong(0)
      case None => -1L
    }
    if (batchId <= applied) return false // replay: already committed
    val prev = viewPath.map(spark.read.parquet(_)).getOrElse(base)
    val merged = graft.ops.Incremental.mergeAggView(
      prev, partials, keys, countCol, measures)
    graft.util.Sidecars.swapStaged(spark, root, "view") { next =>
      val w = merged.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(next)
      import spark.implicits._
      Seq(batchId).toDF("batch_id").coalesce(1)
        .write.parquet(next + "/_batchmark")
    }
    true
  }

  /** J4 streaming: once-per-key append via watermark + dedup. Uses
    * `dropDuplicatesWithinWatermark` because plain `dropDuplicates` only
    * evicts state when the event-time column is part of the keys — with a
    * bare business key the state map would grow without bound. The
    * within-watermark variant expires each key once the watermark passes
    * its event time + delay, so state is truly bounded (the dedup
    * guarantee correspondingly holds for duplicates arriving within the
    * watermark window — the right trade on an unbounded stream). */
  def dedupByKey(events: DataFrame, keyCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming near-dup suppression: the streaming counterpart of the
    * batch dedup family — state is keyed by the 64-bit SimHash of the
    * normalized text (a per-row scalar, no shuffle beyond the dedup
    * exchange). `dropDuplicatesWithinWatermark` bounds state to keys seen
    * within the watermark horizon (eviction actually happens, unlike
    * `dropDuplicates` on a non-event-time key), which is what makes this
    * viable on an unbounded 100 TB-scale ingest stream; duplicates farther
    * apart than the watermark are handled by the batch dedup family over
    * the at-rest table. Exact simhash equality collapses byte-identical
    * normalized text; near-duplicate (Hamming-ball) matching at stream
    * time would need band keys — see Dedup.simhashPairs for the batch
    * shape. */
  def nearDupDedup(docs: DataFrame, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__simhash",
      graft.GraftFunctions.simhash64(
        graft.ops.Dedup.normalized(col(textCol))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__simhash")

  /** Streaming ingestion dedup against the AT-REST fingerprint store —
    * the d7 incremental-dedup shape executed as a stream, which is how a
    * 100 TB corpus actually ingests: every arriving doc is checked
    * against everything ever stored WITHOUT scanning the store per batch
    * (a stream-static anti-join: the static side is a parquet relation
    * the join reads by key like any batch join, per micro-batch), and
    * against the in-flight stream itself via
    * `dropDuplicatesWithinWatermark` on the fingerprint (state bounded
    * by the watermark horizon, the [[nearDupDedup]] trade). `batch`
    * must carry an event-time `ts` column and `fpCol`; `store` holds the
    * at-rest fingerprints. Emits only genuinely-new rows — the set of
    * surviving fingerprints is arrival-order-independent (which MEMBER
    * of an in-batch duplicate group survives is not, the streaming
    * caveat shared with nearDupDedup). */
  def incrementalDedup(batch: DataFrame, store: DataFrame,
      fpCol: String, watermark: String = "1 hour"): DataFrame =
    batch.join(store.select(col(fpCol)), Seq(fpCol), "left_anti")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(fpCol)

  /** Watermarked tumbling-window counts + exact-decimal sums (append mode
    * emits only finalized windows). */
  def windowedAgg(events: DataFrame, windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp,
    n_events: Int)

  /** Per-user SCD2 state: the OPEN version (its opening event's time/id
    * and value). */
  case class Scd2State(since: Long, sinceId: Long, v: String)
  case class Scd2Version(user_id: Long, valid_from_us: Long,
      event_id: Long, status: String, valid_to_us: Long)

  /** STREAMING SCD2 — the history table maintained as stream state: each
    * user's state holds the one OPEN version; an arriving observation
    * with a different value CLOSES it (emitting the finished
    * [valid_from, valid_to) row downstream — append-mode, immutable) and
    * opens the next. The closed-version stream is exactly the batch
    * [[graft.ops.Incremental.scd2]] rows with a non-open valid_to, which
    * is what gates it. Same run-collapse semantics: consecutive equal
    * values extend the open version; ties order by (event time,
    * event_id) — rows within a micro-batch are sorted on exactly that
    * key, so one-batch execution replays the batch operator bit-for-bit.
    * State is one row per user, ever — bounded by construction. */
  def scd2Stream(spark: SparkSession,
      events: DataFrame): Dataset[Scd2Version] = {
    import spark.implicits._
    events.withWatermark("ts", "1 hour")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Version](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[Scd2State]) =>
          def micros(t: Timestamp): Long =
            t.getTime * 1000 + (t.getNanos / 1000) % 1000
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var closed = List.empty[Scd2Version]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = micros(e.ts)
            cur match {
              case Some(s) if s.v == e.event_type => () // run continues
              case Some(s) =>
                closed ::= Scd2Version(user, s.since, s.sinceId, s.v, t)
                cur = Some(Scd2State(t, e.event_id, e.event_type))
              case None =>
                cur = Some(Scd2State(t, e.event_id, e.event_type))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  /** Custom sessionization with `flatMapGroupsWithState`: a session closes
    * after `gapMs` of event-time inactivity; an event-time timeout emits a
    * session once the watermark passes its last event + gap. Sub-millisecond
    * timestamp precision is preserved via the Timestamp nanos field. */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import spark.implicits._
    events.withWatermark("ts", s"${gapMs / 1000} seconds")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def micros(t: Timestamp): Long =
            t.getTime * 1000 + (t.getNanos / 1000) % 1000
          def stamp(us: Long): Timestamp = {
            val t = new Timestamp(us / 1000)
            t.setNanos(((us % 1000000) * 1000).toInt)
            t
          }
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, stamp(s.start), stamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            val gapUs = gapMs * 1000
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  closed ::= Session(user, stamp(s.start), stamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(math.max(s.last / 1000 + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }
}
