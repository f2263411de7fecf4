package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Filter-with-audit (ref: Preprocessor.py:13-21 apply_filter's
  * before/after row logging) the Spark-idiomatic way: `df.observe`
  * metrics, read back by [[graft.obs.Capture]] — counts ride along the
  * single lazy plan instead of forcing extra `count()` jobs per stage
  * (each of which would rescan the input).
  */
object Audit {

  /** Tag the current row count of the plan under `name`; zero extra jobs. */
  def observed(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("rows"))
}
