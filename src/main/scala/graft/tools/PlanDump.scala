package graft.tools

/** Dumps `.explain("formatted")` for named queries to files — the r18
  * optimization round's evidence trail (plans/r18/<q>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * With no query list, dumps every declared query. Plans are captured
  * WITHOUT executing the query (AQE plans show isFinalPlan=false; the
  * static shape — Exchange count, join strategy, PushedFilters — is what
  * the optimization evidence needs).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), plan)
        println(s"[plandump] $n -> ${n}_$suffix.txt (${plan.length} chars)")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
