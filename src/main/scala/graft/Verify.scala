package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness: oracle_sql.json is written FIRST (a hung or crashed query
  * must not zero the whole round's correctness record), each query runs
  * under a watchdog (Guard), and per-query failures are isolated. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only run queries whose name starts with the prefix
    // (local iteration aid; the driver always passes exactly 2 args)
    val prefix = if (args.length > 2) args(2) else ""
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
      try {
        val done = Guard.timed(spark, name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        if (done.isEmpty)
          System.err.println(s"[verify] $name failed: watchdog timeout")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
