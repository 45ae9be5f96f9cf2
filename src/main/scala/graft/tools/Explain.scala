package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.functions.col

/** Dev tool: dump the formatted physical plan of every registered query
  * (or the ones named in args) — the `.explain("formatted")` review loop.
  *
  * Usage: sbt "runMain graft.tools.Explain <sfDir> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession.build(4)
    spark.sparkContext.setLogLevel("ERROR")
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    SparkEntry.all.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      println(s"\n===== ${q.name} =====")
      try {
        if (q.name == "sink_bucketed_join") {
          // run once to (re)create the bucketed tables, then show the plan
          // with broadcast DISABLED — the zero-Exchange co-located SMJ is
          // the property bucketing buys; at fixture scale Catalyst would
          // otherwise (rightly) broadcast the small side and hide it.
          q.fn(spark, sfDir).collect()
          GraftSession.withConfs(spark, graft.ops.Sources.noBroadcastConfs) {
            println(fmt(spark.table("graft_buckets.lineitem_b")
              .join(spark.table("graft_buckets.orders_b"),
                col("l_orderkey") === col("o_orderkey"))
              .select("o_orderpriority")))
          }
        } else if (q.name == "sink_zorder_layout") {
          // the registered fn returns a RE-READ of the landed files (scan +
          // output sort — nothing to see); the plan that matters is the
          // LAYOUT side that feeds the writer: range-partition by zkey +
          // intra-partition sort, no global single-partition sort
          println(fmt(graft.ops.Sources.zorderOrders(spark, sfDir)
            .repartitionByRange(8, col("zkey"))
            .sortWithinPartitions(col("zkey"))))
        } else if (q.name == "stream_schema_evolution") {
          // the registered fn is a foreachBatch loop; the per-micro-batch
          // plan is the evolved-schema upsert — mergeSchema read of the
          // new generation, left_anti against the stored replica's keys,
          // unionByName(allowMissingColumns) to null-fill old rows
          val o = graft.Tables(spark, sfDir, "orders")
          val state = o.select(col("o_orderkey"), col("o_totalprice"))
          val incoming = o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice"),
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit("note-"),
                col("o_orderkey")).as("o_note"))
          val kept = state.join(
            incoming.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
          println(fmt(incoming.unionByName(kept, allowMissingColumns = true)))
        } else if (q.name == "graph_scc_functional") {
          // the registered fn runs the pointer-doubling loop EAGERLY, so
          // the final plan shows only the census over the checkpointed
          // state; the plan that matters is ONE doubling round — r17's
          // size-conditioned broadcast must plan it as a BHJ statically
          // (no exchanges) where r16's stats-less checkpoint forced SMJ
          println(fmt(q.fn(spark, sfDir))) // census plan (also r17-hinted)
          val st = spark.range(4).selectExpr(
            "id AS u", "id + 1 AS jump", "id AS mn").localCheckpoint(true)
          val j = st.selectExpr("u AS ju", "jump AS jj", "mn AS jmn")
          println("----- one doubling round (state provably small -> broadcast) -----")
          println(fmt(st.join(org.apache.spark.sql.functions.broadcast(j),
            col("jump") === col("ju"))
            .select(col("u"), col("jj").as("jump"),
              org.apache.spark.sql.functions.least(col("mn"), col("jmn")).as("mn"))))
        } else if (q.name == "join_bloom_pruned") {
          // the registered fn returns a re-read of landed parquet; the
          // plan that matters is the joined side under the runtime-filter
          // configs — bloom_filter_agg subquery + might_contain at the scan
          println(GraftSession.withConfs(spark, graft.ops.Joins.bloomConfs) {
            fmt(graft.ops.Joins.bloomProneJoin(spark, sfDir))
          })
        } else println(fmt(q.fn(spark, sfDir)))
      }
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
