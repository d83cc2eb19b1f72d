package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 to a runnable
  * DataFrame; `oracleSql` carries the equivalent plain-ANSI DuckDB SQL (the
  * oracle DuckDB has no spatial extension, so spatial results are projected
  * to numerics the oracle recomputes with scalar math).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A spatial index join + spatial aggregation: order points against part
    * boxes, per-brand envelope + revenue — the engine's signature shape. */
  def entry(spark: SparkSession): DataFrame = {
    GraftExtensions.install(spark)
    import graft.functions.GraftFunctions.st
    val dir = "/root/testdata/sf0.001"
    val pts = Tables.t(spark, dir, "orders")
      .withColumn("pt", st.point(
        ((col("o_orderkey") % 100) * 20 + (col("o_orderkey") % 13)).cast("double"),
        ((col("o_custkey") % 50) * 20 + (col("o_custkey") % 11)).cast("double")))
    val boxes = Tables.t(spark, dir, "part")
      .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
      .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
      .withColumn("box", st.makeEnvelope(col("bxmin"), col("bymin"),
        col("bxmin") + (col("p_partkey") % 7 + 1).cast("double"),
        col("bymin") + (col("p_size") % 5 + 1).cast("double")))
    pts.join(boxes, st.intersects(col("pt"), col("box")))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_hits"),
        st.asText(st.envelopeAgg(col("pt"))).as("hit_envelope"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
  }

  /** Every gate query. Each one installs graft on the session it is
    * handed (a no-op once installed), so the gate builders need not. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.RelationalQueries.queries ++
      graft.queries.SpatialQueries.queries ++
      graft.queries.JoinQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.IoQueries.queries ++
      graft.queries.StreamingQueries.queries).map { case (name, gate) =>
      name -> ((s: SparkSession, dir: String) => {
        GraftExtensions.install(s)
        gate(s, dir)
      })
    }

  def oracleSql: Map[String, String] =
    Map[String, String]() ++
      graft.queries.RelationalQueries.oracles ++
      graft.queries.SpatialQueries.oracles ++
      graft.queries.JoinQueries.oracles ++
      graft.queries.PipelineQueries.oracles ++
      graft.queries.IoQueries.oracles ++
      graft.queries.StreamingQueries.oracles
}
