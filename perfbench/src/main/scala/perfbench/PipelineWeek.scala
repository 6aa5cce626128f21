package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pipeline

/** `pipeline_week`: `Pipeline.run` for 7 consecutive load dates, then
  * date 3 again, in one fresh JVM with no warm-up (a daily batch pays the
  * cold start every day). Date d is generated with seed + d: with one seed
  * every date's bronze would be identical.
  */
object PipelineWeek {
  val Days = 7
  val RerunDay = 3
  val GoldTables = Seq("dim_courier", "dim_location", "dim_date", "dim_shipment_status",
    "fact_shipment", "fact_tracking_event", "fact_courier_metrics")

  def date(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d - 1L).toString

  def run(a: Main.Args, rec: Record): Unit = {
    val n = sys.props("perfbench.shipments").toLong
    val trace = new Trace(a.trace)
    val root = s"${a.workDir}/lake"

    val spark = Main.session(a.workDir)
    rec.put("setup_s", Main.sinceJvmStart())
    trace.install(spark)
    rec.put("window_start", Main.probe())

    val week = (1 to Days).map { d =>
      d -> Main.op(rec, trace, spark, "Pipeline", s"day$d") {
        Pipeline.run(spark, root, date(d), n, a.seed + d)
      }
    }.toMap
    val rerun = Main.op(rec, trace, spark, "Pipeline", s"rerun$RerunDay") {
      Pipeline.run(spark, root, date(RerunDay), n, a.seed + RerunDay)
    }
    rec.put("window_end", Main.probe())

    trace.span(spark, "check", "pipeline") { check(spark, root, n, week, rerun, rec) }

    Seq("bronze", "silver", "gold").foreach(layer =>
      rec.add("disk", "layer" -> layer, "bytes" -> Main.diskBytes(new java.io.File(s"$root/$layer"))))
    rec.put("shipments_per_day", n)
    rec.put("days", Days)
    trace.flush(spark, rec)
    trace.uninstall(spark)
  }

  private def rows(rs: Seq[Pipeline.StageResult], stage: String): Long =
    rs.find(_.stage == stage).map(_.rows).getOrElse(-1L)

  /** Row identities per date, courier metrics against a direct groupBy,
    * and the re-run's idempotence (same counts, at most 2 snapshots). Each
    * table is counted for all dates in one job. */
  private def check(spark: SparkSession, root: String, n: Long,
      week: Map[Int, Seq[Pipeline.StageResult]], rerun: Seq[Pipeline.StageResult],
      rec: Record): Unit = {
    def ok(name: String, pass: Boolean, detail: String): Unit =
      rec.add("checks", "name" -> name, "ok" -> pass, "detail" -> detail)
    val days = (1 to Days).map(date)
    def perDay(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy(col("load_date").cast("string")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def gold(t: String) =
      days.map(d => Pipeline.readGold(spark, root, d, t).withColumn("load_date", lit(d))).reduce(_ unionByName _)
    val bronze = perDay(spark.read.text(days.map(d => s"$root/bronze/shipments/$d"): _*)
      .select(regexp_extract(input_file_name(), "shipments/([0-9-]+)/", 1).as("load_date")))
    val silver = spark.read.parquet(s"$root/silver/shipments")
    val silverRows = perDay(silver)
    val goldRows = Seq("fact_shipment", "fact_tracking_event", "dim_date").map(t => t -> perDay(gold(t))).toMap
    val direct = silver.groupBy(col("load_date"), col("courier")).agg(
        countDistinct(col("tracking_number")).as("total_shipments"),
        sum(when(col("status") === "DELIVERED", 1L).otherwise(0L)).as("delivered_shipments"),
        round(avg(col("delivery_days")), 2).as("avg_delivery_days"))
      .withColumn("delivery_success_pct",
        round(col("delivered_shipments").cast("double") / col("total_shipments") * 100, 2))
    val goldMetrics = gold("fact_courier_metrics").select(direct.columns.map(col).toSeq: _*)
    val differing = perDay(direct.exceptAll(goldMetrics).unionByName(goldMetrics.exceptAll(direct)))
    (1 to Days).foreach { d =>
      val rs = if (d == RerunDay) rerun else week(d)
      val day = date(d)
      val b = bronze.getOrElse(day, 0L)
      ok(s"day$d.bronze_rows", b == n, s"bronze=$b expected=$n")
      val sr = silverRows.getOrElse(day, 0L)
      ok(s"day$d.silver_rows", sr == rows(rs, "silver") && sr > n, s"silver=$sr stage=${rows(rs, "silver")}")
      Seq("fact_shipment", "fact_tracking_event").foreach { t =>
        val c = goldRows(t).getOrElse(day, 0L)
        ok(s"day$d.$t", c == sr && rows(rs, s"gold/$t") == c, s"$t=$c silver=$sr")
      }
      val dates = goldRows("dim_date").getOrElse(day, 0L)
      ok(s"day$d.dim_date", dates == 1L, s"dim_date=$dates")
      val diff = differing.getOrElse(day, 0L)
      ok(s"day$d.fact_courier_metrics", diff == 0L, s"rows differing=$diff")
    }
    val before = week(RerunDay).map(r => r.stage -> r.rows).toMap
    val after = rerun.map(r => r.stage -> r.rows).toMap
    ok("rerun.counts", before == after, s"before=$before after=$after")
    GoldTables.foreach { t =>
      val dir = new java.io.File(s"$root/gold/${date(RerunDay)}/$t")
      val snaps = Option(dir.listFiles).map(_.count(f => f.isDirectory && f.getName.startsWith("d-"))).getOrElse(0)
      ok(s"rerun.snapshots.$t", snaps >= 1 && snaps <= 2, s"snapshots=$snaps")
    }
  }
}
