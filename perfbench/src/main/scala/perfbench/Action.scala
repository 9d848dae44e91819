package perfbench

import org.apache.spark.sql.DataFrame

/** The timed action. A `noop`-format write materialises every output column
  * of the frame's own plan; a `count()` would let Catalyst prune the
  * columns (and with them windows, joins and aggregates) that nothing
  * downstream reads. The op tag rides in the write options so the trace can
  * attribute the action's query execution to its operation. */
object Action {
  val TagOption = "perfbench.op"

  def run(df: DataFrame, tag: String): Unit =
    df.write.format("noop").mode("overwrite").option(TagOption, tag).save()
}
