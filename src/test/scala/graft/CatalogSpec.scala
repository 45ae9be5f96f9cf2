package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL-over-replica surface (reference lifecycle E3) + extensions install. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  test("registerAll exposes every fixture table to spark.sql") {
    Catalog.registerAll(spark, dir)
    Catalog.tableNames.foreach { t =>
      assert(spark.sql(s"SELECT * FROM $t LIMIT 1").count() === 1L, t)
    }
  }

  test("registerAll A, B, A leaves the views on A (last dir wins)") {
    val other = dir.replace("sf0.001", "sf0.01")
    val count = () => spark.sql("SELECT count(*) FROM orders").head.getLong(0)
    Catalog.registerAll(spark, dir)
    val small = count()
    Catalog.registerAll(spark, other)
    assert(count() > small, "sf0.01 must have more orders than sf0.001")
    Catalog.registerAll(spark, dir)
    assert(count() === small)
  }

  test("arbitrary SQL over the replica runs with full optimization") {
    val df = Catalog.sql(spark, dir,
      """SELECT n_name, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_orders DESC LIMIT 5""".stripMargin)
    assert(df.count() === 5L)
  }

  test("GraftExtensions wiring applies cleanly; cosine_sim callable from SQL") {
    // the live session, built with the extensions, answers SQL
    Catalog.registerAll(spark, dir)
    // the extensions class itself must install into a fresh extensions set
    // (its filesystem install reads the SparkContext the session started)
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
    val r = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM embeddings LIMIT 1")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-9)
  }
}
