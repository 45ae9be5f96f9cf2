package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The replica's SQL surface. The reference's analytical lifecycle is ANSI
  * SQL over a cataloged replica (Athena/Glue — SURVEY.md §3.1 E3); here the
  * same contract is the Spark session catalog: register every landed table
  * once, then `spark.sql(...)` answers arbitrary queries with full Catalyst
  * optimization (pushdown, pruning, join reorder, AQE).
  */
object Catalog {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register all fixture tables as temp views over `dir`. `events` gets
    * the layout-normalized view from [[Tables.events]]. Staged per session
    * (about 20 registry rows call this, and each registration re-infers 10
    * parquet schemas); a call with another dir re-points every view.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    Staged(spark, "catalog.views", dir) {
      tableNames.foreach { t =>
        val df = if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)
        df.createOrReplaceTempView(t)
      }
    }

  /** One-call SQL-over-replica: register + query. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(query)
  }
}
