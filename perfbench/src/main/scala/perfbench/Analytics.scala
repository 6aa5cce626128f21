package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.serve.PredictionLog

/** `analytics_mix`: one pass over a fixed list of registry queries on a
  * corpus generated from the seed, each query's result written as parquet
  * so `run.py` can check it against the query's DuckDB oracle SQL. The
  * serving queries' answers are then appended to a prediction log, as
  * `ServeApi` logs each answer, and the log is read back and checked.
  */
object Analytics {
  val LogAppends = 6
  val LogDate = "2024-06-01"
  /** (route, query, key column, answer column) of each logged answer. */
  val Logged = Seq(("tracking", "p03_serve_tracking", "tracking_number", "delivery_status"),
    ("country", "p04_serve_country", "destination_country", "avg_delivery_days"))

  /** Ready = every corpus table resolved with its schema. */
  def prepare(spark: SparkSession, corpus: String): Unit =
    graft.io.Corpus.tableNames.foreach(t => spark.read.parquet(s"$corpus/$t.parquet").schema)

  def run(a: Main.Args, rec: Record): Unit = {
    // `name:layer` pairs; the layer names the span the query runs in
    val names = sys.props("perfbench.queries").split(",").toSeq.map { q =>
      val Array(name, layer) = q.split(":")
      name -> layer
    }
    val trace = new Trace(a.trace)
    val out = s"${a.workDir}/results"
    val logDir = s"${a.workDir}/prediction_log"
    val spark = Main.session(a.workDir)
    import spark.implicits._
    prepare(spark, a.corpusDir)
    rec.put("setup_s", Main.sinceJvmStart())
    trace.install(spark)
    val queries = SparkEntry.queries
    rec.put("window_start", Main.probe())
    names.foreach { case (q, layer) =>
      Main.op(rec, trace, spark, layer, q) {
        queries(q)(spark, a.corpusDir).write.mode("overwrite").parquet(s"$out/$q")
      }
    }
    val answers = trace.span(spark, "io", "answers") {
      Logged.map { case (route, q, key, answer) =>
        val row = spark.read.parquet(s"$out/$q").select(key, answer).collect().headOption
        (route, row.map(r => String.valueOf(r.get(0))).getOrElse("none"),
          row.map(r => String.valueOf(r.get(1))).getOrElse("none"))
      }
    }._1
    val appended = (0 until LogAppends).map { i =>
      val (route, key, answer) = answers(i % answers.size)
      Main.op(rec, trace, spark, "io", s"log$i") {
        PredictionLog.append(Seq((route, key, answer, LogDate))
          .toDF("route", "lookup_key", "prediction", "log_date"), logDir)
      }
      (route, key, answer)
    }
    rec.put("window_end", Main.probe())

    val logged = trace.span(spark, "check", "prediction_log") {
      PredictionLog.read(spark, logDir).select("route", "lookup_key", "prediction", "log_date")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.get(3).toString)).toSeq
    }._1
    val expected = appended.map { case (r, k, p) => (r, k, p, LogDate) }
    rec.add("checks", "name" -> "io.prediction_log", "ok" -> (logged.sorted == expected.sorted),
      "detail" -> s"rows=${logged.size} expected=${expected.size}")
    val oracle = SparkEntry.oracleSql
    rec.put("oracle_sql", names.flatMap { case (q, _) => oracle.get(q).map(q -> _) }.toMap.asJava)
    rec.put("results_dir", out)
    trace.flush(spark, rec)
    trace.uninstall(spark)
  }
}
