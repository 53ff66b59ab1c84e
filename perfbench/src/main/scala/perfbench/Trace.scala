package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-layer totals of one traced pass. Task figures come from the
  * listener, keyed by the job tag the span sets around its calls. */
final class LayerStats {
  var wallNs = 0L
  var childNs = 0L
  var gcMs = 0L
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var confKeysChanged = 0
}

/** Task metrics per job tag. Every tag this benchmark sets starts with
  * [[Tracer.TagPrefix]]; jobs without one are counted under "untagged". */
final class TagListener extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]
  val byTag: mutable.Map[String, LayerStats] = mutable.Map.empty
  @volatile var jobsStarted = 0

  private def stats(tag: String): LayerStats = byTag.synchronized {
    byTag.getOrElseUpdate(tag, new LayerStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .getOrElse("")
    val tag = tags.split(",").find(_.startsWith(Tracer.TagPrefix))
      .map(_.stripPrefix(Tracer.TagPrefix)).getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
    val s = stats(tag)
    s.synchronized(s.jobs += 1)
    jobsStarted += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, "untagged")
    val s = stats(tag)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def reset(): Unit = byTag.synchronized(byTag.clear())
}

/** Spans around the calls into each layer. Untraced, a span is just its
  * body and [[layer]] returns the frame unevaluated. Traced, a span tags
  * its jobs and records wall time, self time (wall minus child spans) and
  * JVM GC time, and [[layer]] materialises the frame at the layer
  * boundary so the next layer's span does not absorb its work. Spans stay
  * in memory; the benchmark writes them out once, at the end. */
final class Tracer(spark: SparkSession, val traced: Boolean,
    listener: TagListener) {
  val spans: mutable.Map[String, LayerStats] = mutable.LinkedHashMap.empty
  private val open = mutable.Stack.empty[(String, Long)]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    listener.reset()
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val parentTag = open.headOption.map(_._1)
      parentTag.foreach(t => sc.removeJobTag(Tracer.TagPrefix + t))
      sc.addJobTag(Tracer.TagPrefix + name)
      open.push((name, 0L))
      val conf0 = spark.conf.getAll
      val gc0 = gcMs
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        val (_, childNs) = open.pop()
        sc.removeJobTag(Tracer.TagPrefix + name)
        parentTag.foreach(t => sc.addJobTag(Tracer.TagPrefix + t))
        if (open.nonEmpty) {
          val (p, c) = open.pop()
          open.push((p, c + wall))
        }
        val s = spans.getOrElseUpdate(name, new LayerStats)
        s.wallNs += wall
        s.childNs += childNs
        s.gcMs += gcMs - gc0
        s.confKeysChanged += Leaks.confChanged(spark, conf0).size
      }
    }

  /** One layer call: traced, its output is cut at the boundary (the cut
    * blocks are released with every other persisted block between
    * passes). */
  def layer(name: String)(df: => DataFrame): DataFrame =
    span(name)(if (traced) df.localCheckpoint() else df)

  /** Folds the listener's per-tag task figures into the spans, after all
    * events of the pass have been delivered. The outermost span gets the
    * totals of every job in the pass. */
  def collect(outer: String): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    listener.byTag.synchronized {
      listener.byTag.foreach { case (tag, t) =>
        (spans.get(tag).filter(_ => tag != outer) ++ spans.get(outer)).foreach { s =>
          s.jobs += t.jobs; s.tasks += t.tasks; s.taskMs += t.taskMs
          s.shuffleBytes += t.shuffleBytes; s.spillBytes += t.spillBytes
        }
      }
    }
    listener.reset()
  }
}

object Tracer {
  val TagPrefix = "perfbench:"
}
