package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` starts it once per run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile> [corpusDir]
  *
  * It runs one workload against the engine, times it, checks the outputs
  * it can check with Spark, and writes one JSON record to `outFile`. All
  * arithmetic on the record (percentiles, attribution, metric names) is in
  * `perfbench/metrics.py`, so it is unit-tested without a JVM.
  *
  * Standard output is never parsed: Spark prints INFO start-up lines there
  * before its log level can be set. The process ends with `halt`, so that
  * no non-daemon thread the engine leaves behind can keep the JVM alive.
  */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: String, outFile: String, corpusDir: String)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5), if (argv.length > 6) argv(6) else "")
    val rec = new Record
    rec.put("workload", a.workload)
    rec.put("seed", a.seed)
    rec.put("trace", a.trace)
    var code = 0
    try {
      a.workload match {
        case "pipeline_week" => PipelineWeek.run(a, rec)
        case "analytics_mix" => Analytics.run(a, rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case t: Throwable =>
        val sw = new java.io.StringWriter
        t.printStackTrace(new java.io.PrintWriter(sw))
        rec.put("error", sw.toString)
        code = 3
    }
    rec.put("peak_rss_mb", peakRssMb())
    rec.put("provenance", provenance())
    try Record.write(rec, a.outFile)
    finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(s => try s.stop() catch { case _: Throwable => () })
      Runtime.getRuntime.halt(code)
    }
  }

  /** A fresh session with the engine's configuration, sized to the
    * benchmark host: local[4], 4 shuffle partitions. */
  def session(workDir: String): SparkSession = {
    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .config("spark.local.dir", s"$workDir/spark-local")
        .config("spark.sql.shuffle.partitions", Cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.installCacheBackstop(spark)
    spark
  }

  /** Seconds since the JVM started — the first set-up of a run is
    * measured from process start, not from `main`. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** The host's CPU counters (`/proc/stat`) at one instant: a window
    * between two probes gives the share of the host's CPU time the
    * hypervisor stole meanwhile. */
  def probe(): Record = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val host = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    Record.obj("host_jiffies" -> host.sum, "host_steal_jiffies" -> host.lift(7).getOrElse(0L))
  }

  private def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Runs one measured operation of a workload as span `id` of `layer`.
    * Its wall time and the CPU time the JVM spent in it go into the
    * record's `ops`. Then a full collection leaves only the heap the
    * engine still holds; the run's `peak_live_heap_mb` is the largest of
    * these. The collection runs between operations, outside both times. */
  def op[T](rec: Record, trace: Trace, spark: SparkSession, layer: String, id: String)(body: => T): T = {
    val cpu0 = cpuMs()
    val (r, ms) = trace.span(spark, layer, id)(body)
    rec.add("ops", "name" -> id, "ms" -> ms, "cpu_ms" -> (cpuMs() - cpu0))
    val (_, gcMs) = timed(System.gc())
    val live = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    rec.put("peak_live_heap_mb", math.max(live, Option(rec.get("peak_live_heap_mb")).fold(0.0)(_.asInstanceOf[Double])))
    rec.put("forced_gc_ms", Option(rec.get("forced_gc_ms")).fold(0.0)(_.asInstanceOf[Double]) + gcMs)
    r
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def provenance(): JMap[String, Any] = {
    val p = new JMap[String, Any]
    p.put("java", System.getProperty("java.version"))
    p.put("jvm", System.getProperty("java.vm.name"))
    p.put("spark", org.apache.spark.SPARK_VERSION)
    p.put("scala", scala.util.Properties.versionNumberString)
    p.put("max_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    p.put("available_processors", Runtime.getRuntime.availableProcessors)
    p.put("master", s"local[$Cores]")
    p.put("shuffle_partitions", Cores)
    p
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(diskBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) 0L
    else f.length
}

/** Ordered JSON object the record is built from. */
final class Record extends JMap[String, Any] {
  def list(key: String): JList[Any] = {
    if (!containsKey(key)) put(key, new JList[Any])
    get(key).asInstanceOf[JList[Any]]
  }
  def add(key: String, fields: (String, Any)*): Unit = list(key).add(Record.obj(fields: _*))
}

object Record {
  def obj(fields: (String, Any)*): Record = {
    val m = new Record
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def write(rec: Record, path: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val tmp = new java.io.File(path + ".tmp")
    mapper.writeValue(tmp, rec)
    tmp.renameTo(new java.io.File(path))
  }
}
