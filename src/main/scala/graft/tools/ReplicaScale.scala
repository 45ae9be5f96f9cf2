package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Replica-suite table-count stress (r10 verdict #7): the reference
  * maintains ~100 tables per replica; `pipeline_replica_suite` runs the
  * full orchestration over 3 feeds. This tool runs the SAME loop shape —
  * one cursor per table, three watermark rounds, append-only deltas,
  * cursor advanced only after the append lands — over T synthetic feeds
  * (orders sliced by key mod T, so total data volume is CONSTANT across
  * T and the measurement isolates per-table orchestration overhead), and
  * reports wall-time vs table count. The claim under test: driver cost is
  * O(tables) scalars per round (a cursor file read + an append job), so
  * wall-time grows linearly in T with a small slope and per-table cost
  * does not grow. Results land in SCALE.md.
  *
  * Usage: runMain graft.tools.ReplicaScale [T ...]   (default 5 25 50)
  */
object ReplicaScale {
  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(5, 25, 50)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graft.util.sweepStaleScratch()
    val spark = graft.GraftSession.build(cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect()

    def epochDay(c: org.apache.spark.sql.Column) =
      datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
    val orders = graft.Tables(spark, sfDir, "orders")
      .withColumn("commit_day", epochDay(col("o_orderdate")))
    // cache the source once: the stress measures orchestration, not
    // repeated parquet decode of the same file
    orders.cache().count()
    val watermarks = Seq("1997-01-01", "1999-01-01", "2002-01-01")
      .map(d => java.time.LocalDate.parse(d).toEpochDay)

    val results = counts.map { t =>
      val scratch = graft.util.tempDir(s"graft_replscale_${t}_")
      val cursors = (0 until t).map(i =>
        i -> new graft.cdc.Cursor(s"$scratch/cursor_$i")).toMap
      val t0 = System.nanoTime()
      watermarks.foreach { w =>
        (0 until t).foreach { i =>
          val since = cursors(i).read().getOrElse(Long.MinValue)
          orders.filter(col("o_orderkey") % t === i &&
              col("commit_day") > since && col("commit_day") <= w)
            .drop("commit_day")
            .write.mode("append").parquet(s"$scratch/replica/table_$i")
          cursors(i).advance(w)
        }
      }
      // closing audit, same shape as the suite: per-table landed counts
      val landed = (0 until t).map(i =>
        spark.read.parquet(s"$scratch/replica/table_$i").count()).sum
      val sec = (System.nanoTime() - t0) / 1e9
      val perTableRound = sec / (t * watermarks.size)
      println(f"""{"replica_scale":$t,"sec":$sec%.1f,"rows_landed":$landed,"sec_per_table_round":$perTableRound%.3f}""")
      (t, sec, perTableRound)
    }
    // linear-fit slope of sec vs T — the O(tables) claim in one number
    val n = results.size.toDouble
    val sx = results.map(_._1.toDouble).sum
    val sy = results.map(_._2).sum
    val sxy = results.map(r => r._1 * r._2).sum
    val sxx = results.map(r => r._1.toDouble * r._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    println(f"""{"replica_scale":"summary","slope_sec_per_table":$slope%.3f,"points":${results.size}}""")
    spark.stop()
  }
}
