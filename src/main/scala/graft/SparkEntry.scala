package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Query names are grouped by SURVEY §2 operator family; each module
  * contributes a [[QueryPack]] (queries + DuckDB oracle SQL).
  *
  * Pin contract: every function here that receives a session (`entry`,
  * `warm` and each value of `queries`) first calls [[Session.pin]], so a
  * session built elsewhere gets the oracle-parity confs before any table is
  * read. Nothing below this layer sets them.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    graft.queries.FlagshipPack,
    graft.queries.SourcesPack,
    graft.queries.ProjectionPack,
    graft.queries.JoinsPack,
    graft.queries.AggPack,
    graft.queries.WindowPack,
    graft.queries.SortSetPack,
    graft.queries.FunctionsPack,
    graft.queries.CustomComputePack,
    graft.queries.TextPack,
    graft.queries.DedupPack,
    graft.queries.AnnPack,
    graft.queries.MultimodalPack,
    graft.queries.StreamingPack,
    graft.queries.MlPack,
    graft.queries.TemporalPack,
    graft.queries.ScalePack,
    graft.queries.TypedPack,
    graft.queries.GraphPack,
    graft.queries.CurationPack,
    graft.queries.ExtendedPack,
    graft.queries.BreadthPack,
    graft.queries.TpchPack,
    graft.queries.TpchPack2,
    graft.queries.StatsTestsPack
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Session.pin(spark)
    pipeline.Flagship.refined(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = packs.flatMap(_.queries)
    val m = all.toMap
    require(m.size == all.size,
      s"duplicate query names across packs: ${
        all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }.mkString(", ")}")
    m.map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) => Session.pin(s); fn(s, d) }
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracleSql).toMap

  /** Pre-populate per-dataset verification state (memoized ground-truth
    * scans) so timed runs measure operators, not their checkers. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    Session.pin(spark)
    packs.foreach(_.warm(spark, sfDir))
  }
}
