package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftFunctions

/** One benchmark JVM. It builds the session, registers the engine's
  * functions and reads the inputs once (set-up, timed from JVM start),
  * then runs the pass schedule: one cold pass, a fixed warm-up, a fixed
  * window whose median is `warm_s`, and (with `--traced N`) N traced
  * passes for the per-layer numbers. Before every pass the JVM is brought
  * to the same state, outside the timer.
  * The report is one JSON object written to `--report`.
  *
  * Run it through run.py, which builds it, generates the inputs and
  * composes the metrics. */
object Main {

  final case class PassRecord(phase: String, wallS: Double, cpuS: Double,
      failed: Int, error: Option[String], confChanged: Set[String],
      persistedMbLeft: Double, jobs: Int, compiles: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opt("work"))
    val cores = opt("cores").toInt
    val report = Json.mapper.createObjectNode()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def since(ms: Long) = (System.currentTimeMillis() - ms) / 1e3

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // room for every class a pass generates: at the default 100 entries a
      // deals_many pass recompiles all of its ~210 classes every time, its
      // generated code never reaches compiled JIT tiers and warm passes
      // swing by a quarter between runs (README.md, "Benchmark session")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    report.put("session_s", since(jvmStart))
    val t1 = System.currentTimeMillis()
    GraftFunctions.register(spark)
    report.put("register_s", since(t1))
    val t2 = System.currentTimeMillis()
    val workload = Workload(opt("workload"))
    workload.load(spark, Paths.get(opt("inputs")))
    report.put("read_s", since(t2))
    report.put("setup_s", since(jvmStart))

    val listener = new TagListener
    spark.sparkContext.addSparkListener(listener)
    val confAtStart = spark.conf.getAll
    val schedule = Seq("cold") ++
      Seq.fill(opt("warmup").toInt)("warmup") ++
      Seq.fill(opt("window").toInt)("window") ++
      Seq.fill(opt("traced").toInt)("traced")
    val records = mutable.ArrayBuffer.empty[PassRecord]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    for ((phase, k) <- schedule.zipWithIndex) {
      val dir = Files.createDirectories(work.resolve(s"pass-$k"))
      val tracer = new Tracer(spark, phase == "traced", listener)
      val pass = new Pass(spark, dir, tracer)
      workload.reset(pass)
      // let the context cleaner drop what the last pass's garbage held
      System.gc(); Thread.sleep(100); System.gc()
      val jobs0 = listener.jobsStarted
      val compiles0 = Leaks.codegenCompiles
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val error =
        try { tracer.span("pass")(workload.run(pass)); None }
        catch { case NonFatal(e) => Some(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val jobs = listener.jobsStarted - jobs0
      val compiles = Leaks.codegenCompiles - compiles0
      // leaks the pass left behind, then the clean-up that removes them
      val changed = Leaks.confChanged(spark, confAtStart)
      val persistedMb = Leaks.persistedMb(spark)
      tracer.collect("pass")
      val failed = error match {
        case None =>
          try workload.check(pass)
          catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] check of pass $k: $e"); workload.items }
        case Some(_) => workload.items
      }
      if (phase == "traced" && error.isEmpty)
        try {
          workload.tracedOnly(pass)
          tracer.collect("")
          layers += Leaks.layerMetrics(tracer, pass, jobs)
        }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] layer counts of pass $k: $e") }
      Leaks.restore(spark, confAtStart)
      Leaks.release(spark)
      deleteTree(dir)
      records += PassRecord(phase, wall, cpu, failed, error, changed,
        persistedMb, jobs, compiles)
      System.err.println(f"[perfbench] pass $k%d $phase%s: $wall%.3f s, " +
        s"$failed failed" + error.fold("")(e => s", error: $e"))
    }
    report.put("items", workload.items)
    report.put("peak_rss_mb", Leaks.peakRssMb())
    val passes = report.putArray("passes")
    records.foreach { r =>
      val o = passes.addObject()
      o.put("phase", r.phase).put("wall_s", r.wallS).put("cpu_s", r.cpuS)
        .put("failed", r.failed).put("jobs", r.jobs)
        .put("codegen_compiles", r.compiles)
        .put("conf_keys_changed", r.confChanged.size)
        .put("conf_changed", r.confChanged.toSeq.sorted.mkString(","))
        .put("persisted_mb_left", r.persistedMbLeft)
      r.error.foreach(o.put("error", _))
    }
    val traced = report.putArray("traced")
    layers.foreach { m =>
      val o = traced.addObject()
      m.foreach { case (k, v) => o.put(k, v) }
    }
    spark.stop()
    Json.mapper.writeValue(Paths.get(opt("report")).toFile, report)
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** The state a pass may leave behind, and how the benchmark clears it. */
object Leaks {
  /** Session conf keys added or changed since `start`. */
  def confChanged(spark: SparkSession, start: Map[String, String]): Set[String] = {
    val now = spark.conf.getAll
    (now.keySet ++ start.keySet).filter(k => now.get(k) != start.get(k))
  }

  def restore(spark: SparkSession, start: Map[String, String]): Unit =
    confChanged(spark, start).foreach { k =>
      start.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }

  /** Generated classes compiled so far in this JVM (cache misses of
    * Spark's codegen cache). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Memory and disk held by persisted or checkpointed RDD blocks. */
  def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val kb = status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }
    kb.getOrElse(0.0) / 1024.0
  }

  /** The per-layer figures of one traced pass. */
  def layerMetrics(t: Tracer, pass: Pass, passJobs: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    t.spans.foreach { case (name, s) =>
      val wall = s.wallNs / 1e9
      out(s"$name.wall_s") = wall
      out(s"$name.self_s") = (s.wallNs - s.childNs) / 1e9
      out(s"$name.jobs") = s.jobs
      out(s"$name.tasks") = s.tasks
      out(s"$name.task_s") = s.taskMs / 1e3
      out(s"$name.busy_cores") = if (wall > 0) s.taskMs / 1e3 / wall else 0.0
      out(s"$name.shuffle_mb") = s.shuffleBytes / 1e6
      out(s"$name.spill_mb") = s.spillBytes / 1e6
      out(s"$name.gc_s") = s.gcMs / 1e3
      out(s"$name.conf_keys_changed") = s.confKeysChanged
    }
    out("pass.jobs") = passJobs
    pass.counts.foreach { case (k, f) => out(k) = f() }
    out.toMap
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper
}
