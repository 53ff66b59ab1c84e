package graft.tools

import org.apache.spark.scheduler._

/** Per-stage profiler for a declared query (guide §1 "measure first",
  * empirical view): runs `name`(sfDir).count() `reps` times and prints,
  * for the LAST rep (steady state — JIT/codegen warm), every stage's
  * wall, summed task time, task count, shuffle read/write bytes and
  * records, plus job/stage totals. Maps where a query's seconds go:
  * scheduling overhead (many tiny stages), shuffle volume, or compute.
  *
  * Usage: runMain graft.tools.QProfile <sfDir> <q1,q2,...> [reps=2]
  */
object QProfile {
  case class StageRow(id: Int, attempt: Int, name: String, tasks: Int,
    wallMs: Long, taskMs: Long, shRead: Long, shWrite: Long,
    recRead: Long, recWrite: Long, spillB: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.build()

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add(StageRow(si.stageId, si.attemptNumber(),
          si.name.take(60), si.numTasks,
          (for (a <- si.completionTime; b <- si.submissionTime)
            yield a - b).getOrElse(-1L),
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (r <- 1 to reps) {
        val isLast = r == reps
        if (isLast) {
          stages.clear(); jobs.set(0)
          spark.sparkContext.addSparkListener(listener)
        }
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[qprofile] $name rep$r wall=$wall%.2fs rows=$n")
        if (isLast) {
          // let straggling stage-completed events drain
          Thread.sleep(500)
          spark.sparkContext.removeSparkListener(listener)
          import scala.jdk.CollectionConverters._
          val rows = stages.asScala.toSeq.sortBy(-_.wallMs)
          println(f"[qprofile] $name: jobs=${jobs.get} stages=${rows.size} " +
            f"sumStageWall=${rows.map(_.wallMs).sum / 1e3}%.2fs " +
            f"sumTaskTime=${rows.map(_.taskMs).sum / 1e3}%.2fs " +
            f"sumTasks=${rows.map(_.tasks).sum} " +
            f"shRead=${rows.map(_.shRead).sum / 1e6}%.1fMB " +
            f"shWrite=${rows.map(_.shWrite).sum / 1e6}%.1fMB " +
            f"spill=${rows.map(_.spillB).sum / 1e6}%.1fMB")
          for (s <- rows.take(25))
            println(f"  stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2fs " +
              f"task=${s.taskMs / 1e3}%7.2fs n=${s.tasks}%3d " +
              f"shR=${s.shRead / 1e6}%8.2fMB shW=${s.shWrite / 1e6}%8.2fMB " +
              f"recR=${s.recRead}%9d recW=${s.recWrite}%9d ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
