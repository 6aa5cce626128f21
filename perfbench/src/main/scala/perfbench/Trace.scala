package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Spans are the benchmark's own calls into a
  * layer; each carries a job group `<layer>|<span id>` that every Spark job
  * submitted inside it (gold-pool threads included: Spark's local properties
  * are inherited by threads created inside the span) is tagged with. The
  * listener keeps raw per-job and per-stage numbers; attribution to layers
  * and pipeline stages is done in `metrics.py`.
  *
  * When tracing is off `Trace.span` only runs its body, and no listener is
  * installed, so the untraced run measures the engine alone.
  */
final class Trace(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6
  private def wallToMs(epochMs: Long): Double =
    nowMs - (System.currentTimeMillis() - epochMs)

  private val jobs = new ConcurrentHashMap[Int, Record]
  private val stages = new ConcurrentHashMap[Int, Record]
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Record]
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Record]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new Record
      j.put("job", e.jobId)
      j.put("group", Option(e.properties).map(_.getProperty(Trace.GroupKey)).orNull)
      j.put("start_ms", wallToMs(e.time))
      j.put("stage_ids", e.stageIds.asJava)
      jobs.put(e.jobId, j)
      e.stageInfos.foreach(s => stages.computeIfAbsent(s.stageId, _ => stageRecord(s)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.put("end_ms", wallToMs(e.time))
        j.put("ok", e.jobResult == JobSucceeded)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val r = stages.computeIfAbsent(s.stageId, _ => stageRecord(s))
      r.put("tasks", s.numTasks)
      r.put("completed", s.completionTime.isDefined && s.failureReason.isEmpty)
      Option(s.taskMetrics).foreach { m =>
        r.put("cpu_ms", m.executorCpuTime / 1e6)
        r.put("run_ms", m.executorRunTime.toDouble)
        r.put("gc_ms", m.jvmGCTime.toDouble)
        r.put("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        r.put("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        r.put("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        r.put("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
    // streaming progress reaches every SparkContext listener, also for
    // queries the engine runs on a child session (`spark.newSession()`),
    // which a session's own StreamingQueryListener would not see
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progress.add(progressRecord(p.progress))
      case _ => ()
    }
  }

  private def progressRecord(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Record = {
    val r = new Record
    r.put("start_ms", wallToMs(java.time.Instant.parse(p.timestamp).toEpochMilli))
    r.put("batch", p.batchId)
    r.put("rows", p.numInputRows)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Seq("addBatch", "walCommit", "commitOffsets", "triggerExecution").foreach(k =>
      r.put(k, d.getOrElse(k, 0L)))
    r.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
    r
  }

  /** The engine frames (`graft.` classes) of the call site Spark recorded
    * for the stage; the pipeline attribution reads its Pipeline.scala line. */
  private def stageRecord(s: StageInfo): Record = {
    val r = new Record
    r.put("stage", s.stageId)
    r.put("name", s.name)
    r.put("frames", s.details.split("\n").map(_.trim).filter(_.contains("graft.")).take(12).toSeq.asJava)
    r
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Runs `body` as span `id` of `layer`; returns its result and wall ms. */
  def span[T](spark: SparkSession, layer: String, id: String)(body: => T): (T, Double) = {
    if (!enabled) return Main.timed(body)
    val group = s"$layer|$id"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.GroupKey)
    sc.setJobGroup(group, group)
    val start = nowMs
    try {
      val (r, ms) = Main.timed(body)
      spans.add(Record.obj("layer" -> layer, "id" -> id, "start_ms" -> start, "end_ms" -> nowMs))
      (r, ms)
    } finally {
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
  }

  /** Waits for the listener bus to drain, then writes everything recorded
    * so far into the record. */
  def flush(spark: SparkSession, rec: Record): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10e9.toLong
    while (jobs.values.asScala.exists(!_.containsKey("end_ms")) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    // a stage is listed by every job that reuses its output, but it ran
    // (and is counted) in the first job that lists it
    val owned = new java.util.HashSet[Integer]
    jobs.values.asScala.toSeq.sortBy(_.get("job").asInstanceOf[Int]).foreach { j =>
      val ids = j.remove("stage_ids").asInstanceOf[java.util.List[Int]].asScala
      val mine = ids.filter(id => owned.add(id)).flatMap(id => Option(stages.get(id)))
      j.put("stages", mine.asJava)
      rec.list("jobs").add(j)
    }
    jobs.clear()
    stages.clear()
    spans.asScala.foreach(rec.list("spans").add(_))
    spans.clear()
    progress.asScala.foreach(rec.list("progress").add(_))
    progress.clear()
  }
}

object Trace {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}
