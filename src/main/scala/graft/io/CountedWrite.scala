package graft.io

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Row counts taken by the write itself. A row counter rides along as the
  * last operator before the writer (`Dataset.observe`), so the number
  * comes out of the pass that already runs — no second job scans the
  * output to count it, and no read-back re-infers its schema.
  */
object CountedWrite {

  /** Runs `write` on `df` and returns the number of rows it wrote. Each
    * call observes through its own [[Observation]], so a retried or
    * concurrent write never reads another write's count. */
  def apply(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = new Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }
}
