package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * `queries` holds one entry per implemented operator from SURVEY.md §2
  * (names keyed by the §2 op ids), plus the LLM-pipeline extension
  * operators. `oracleSql` holds the DuckDB-equivalent SQL for every
  * SQL-expressible query; sampling/LSH queries are deliberately omitted
  * from the oracle map (driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on sf=0.001: revenue by region × market segment —
    * a 5-table star join (region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem)
    * where all dimension sides broadcast and only the fact scan shuffles
    * for the final aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val r = broadcast(Tables.region(spark, dir))
    val n = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("c_mktsegment"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("c_mktsegment"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ AggregateQueries.queries ++
      FunctionQueries.queries ++ GraphQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries ++ StreamQueries.queries ++
      WarehouseQueries.queries ++ BpeQueries.queries ++
      MlPrepQueries.queries ++ SqlFacadeQueries.queries ++
      PretrainQueries.queries

  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ AggregateQueries.oracleSql ++
      FunctionQueries.oracleSql ++ GraphQueries.oracleSql ++
      TextQueries.oracleSql ++ VectorQueries.oracleSql ++ StreamQueries.oracleSql ++
      WarehouseQueries.oracleSql ++ MlPrepQueries.oracleSql ++
      SqlFacadeQueries.oracleSql ++ BpeQueries.oracleSql ++
      PretrainQueries.oracleSql

  /** Build every stored artifact ([[graft.sources.Fixtures]]) of `dir`
    * that does not exist yet, so that no query's first run pays for it.
    */
  def ensureFixtures(s: SparkSession, dir: String): Unit = {
    VectorQueries.ensureFixtures(s, dir)
    GraphQueries.ensureFixtures(s, dir)
    WarehouseQueries.ensureFixtures(s, dir)
    TextQueries.ensureFixtures(s, dir)
    PretrainQueries.ensureFixtures(s, dir)
  }
}
