package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming semantics (SURVEY.md §5.5): watermark late-row drop via
  * MemoryStream injection, and session-window gap boundaries.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark drops rows later than the delay after watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .count()
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wm_test").start()

    // batch 1: on-time rows up to 12:00 → watermark becomes 11:50
    mem.addData((ts("2024-01-01 10:10:00"), "a"), (ts("2024-01-01 12:00:00"), "a"))
    q.processAllAvailable()
    // batch 2: a late row in the 10:00 window (before watermark) + fresh row
    mem.addData((ts("2024-01-01 10:20:00"), "a"), (ts("2024-01-01 13:00:00"), "a"))
    q.processAllAvailable()
    // batch 3: advance watermark past 13:00 so remaining windows finalize
    mem.addData((ts("2024-01-01 15:00:00"), "a"))
    q.processAllAvailable()
    q.stop()

    val counts = spark.table("wm_test")
      .select(col("window.start").cast("string"), col("count"))
      .as[(String, Long)].collect().toMap
    // the late 10:20 row must NOT be counted: 10:00 window closed at count=1
    assert(counts("2024-01-01 10:00:00") === 1L)
    assert(counts("2024-01-01 12:00:00") === 1L)
  }

  test("session window: gap > 30min opens a new session, <= 30min extends it") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:29:59")), // extends (gap < 30min)
      (1L, ts("2024-01-01 11:00:00")), // 30:01 gap → new session
      (2L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 10:30:00"))  // exactly the gap → still merges
    ).toDF("user_id", "ts")
    val sessions = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
      .select(col("user_id"), col("count"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(sessions(1L) === Seq(1L, 2L)) // sessions of 2 events and 1 event
    assert(sessions(2L) === Seq(2L)) // boundary-equal gap merges (inclusive)
  }

  test("restart recovery: window state, source offsets and sink log survive a stop") {
    // hand-built two-file feed so each recovery property is visible in the
    // INTERMEDIATE output, not just the end state the oracle certifies:
    //   early: 10:05, 11:30  → run-1 watermark 11:20 → only w10 emits
    //   late:  11:45, 13:30  → run-2 spans w11 across the restart
    import java.nio.file.{Files, Paths}
    val src = graft.util.tempDir("graft_restart_spec_src_")
    val ckpt = graft.util.tempDir("graft_restart_spec_ckpt_")
    val out = graft.util.tempDir("graft_restart_spec_out_")
    def land(name: String, rows: Seq[(Long, String)]): Unit = {
      val scratch = graft.util.tempDir("graft_restart_spec_scratch_")
      rows.map { case (id, t) => (id, ts(t).getTime * 1000000L) }
        .toDF("event_id", "ts")
        .withColumn("user_id", lit(1L)).withColumn("event_type", lit("e"))
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val listing = Files.list(Paths.get(scratch))
      val f = try listing.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
              finally listing.close()
      Files.move(Paths.get(f), Paths.get(s"$src/$name"))
    }
    def runOnce(): Unit = {
      val agg = ops.Streaming.eventsStream(spark, src, ntz = false)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("w"), col("n"))
      val q = agg.writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    land("early.parquet", Seq((1L, "2024-01-01 10:05:00"), (2L, "2024-01-01 11:30:00")))
    runOnce()
    val after1 = spark.read.parquet(out).select(col("w").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(after1 === Map("2024-01-01 10:00:00" -> 1L),
      "run 1 must emit only the window closed under max(early) - 10min")
    land("late.parquet", Seq((3L, "2024-01-01 11:45:00"), (4L, "2024-01-01 13:30:00")))
    runOnce()
    val after2 = spark.read.parquet(out).select(col("w").cast("string"), col("n"))
      .as[(String, Long)].collect()
    assert(after2.length === after2.map(_._1).distinct.length,
      "restart must not re-emit run-1 windows (sink commit log)")
    assert(after2.toMap === Map(
      "2024-01-01 10:00:00" -> 1L, // unchanged: early file not re-read
      "2024-01-01 11:00:00" -> 2L  // spans the restart: 11:30 from run-1 STATE
    ), "spanning window must carry run-1 state; 13:00 stays open under wm")
  }

  test("AvailableNow file stream over staged events equals batch counts") {
    val staged = ops.Streaming.stage(spark, SparkTestBase.sfDir, 1)
    val stream = ops.Streaming.eventsStream(spark, staged)
      .groupBy(col("event_type")).count()
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("avail_now_test")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("avail_now_test").as[(String, Long)].collect().toMap
    val batch = Tables.events(spark, SparkTestBase.sfDir)
      .groupBy(col("event_type")).count().as[(String, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("stream_chained_windows: two stateful operators, internally consistent") {
    val rows = SparkEntry.queries("stream_chained_windows")(spark, SparkTestBase.sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val maxB = r.getLong(1); val total = r.getLong(2); val buckets = r.getLong(3)
      assert(buckets >= 1 && buckets <= 12, "at most twelve 5-min buckets/hour")
      assert(maxB <= total && total <= maxB * buckets,
        "hourly sum must bound between max and max*buckets")
    }
    // the chained result re-derives from batch: hourly sum over 5-min counts
    // equals the plain hourly event count for finalized hours
    val batchHourly = Tables.events(spark, SparkTestBase.sfDir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("h"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val h = r.getAs[java.time.LocalDateTime](0)
      val key = f"${h.getYear}%04d-${h.getMonthValue}%02d-${h.getDayOfMonth}%02d ${h.getHour}%02d"
      assert(batchHourly(key) === r.getLong(2), s"hourly total mismatch at $key")
    }
  }

  test("stream_chained_windows: a warm run reuses the generated code of the run before") {
    // each streaming query run executes on a clone of the session; with
    // per-session artifact isolation every clone's tasks compile the same
    // classes again under a fresh executor classloader (25 a run here)
    def run(): Unit =
      SparkEntry.queries("stream_chained_windows")(spark, SparkTestBase.sfDir).collect()
    run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    run()
    val warm = compiles.getCount - before
    assert(warm <= 12, s"$warm classes compiled on a warm run")
  }

  test("stream_changelog_checkpoint: per-batch .changelog files land, RocksDB metrics reported, results provider-independent") {
    val (df, ckpt, progresses) =
      ops.Streaming.changelogCheckpointRun(spark, SparkTestBase.sfDir)
    // 1. provider independence: byte-equal to the batch recompute
    val streamed = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    val batch = Tables.events(spark, SparkTestBase.sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("c"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq === batch.toSeq)
    // 2. changelog checkpointing actually engaged: the state dir holds
    //    per-version .changelog deltas (full-snapshot mode writes only
    //    .zip uploads); >= 2 because two staged files forced two data
    //    micro-batches
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    val files = try walk.iterator().asScala.map(_.toString).toVector
      finally walk.close()
    val changelogs = files.filter(_.endsWith(".changelog"))
    assert(changelogs.size >= 2,
      s"expected per-batch changelog files under $ckpt/state, found: " +
        files.filter(_.contains("/state/")).take(20).mkString(", "))
    // 3. the provider surfaced its custom metrics in the progress events
    val custom = progresses.flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.asScala.keys)
    assert(custom.exists(_.toLowerCase.contains("rocksdb")),
      s"no RocksDB custom metrics in progress; saw: ${custom.distinct.mkString(", ")}")
  }

  test("stream_table_cdf_deletes: delete rows are key-only, batch CDF reads fail loudly") {
    val rows = SparkEntry.queries("stream_table_cdf_deletes")(spark, SparkTestBase.sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.contains("insert") && rows.contains("delete"),
      s"feed must carry both change types: ${rows.keySet}")
    assert(rows("delete")._1 > 0 && rows("delete")._1 < rows("insert")._1)
    // the staged table dir is deterministic; a direct feed read shows the
    // delete rows carry the row id and NULL payload columns
    val tableDir = s"${graft.util.catalogWarehouse}/marts/cdf"
    val name = "t_cdf_nullcheck"
    val q = spark.readStream.format("graft.sources.ManifestSink")
      .option("path", tableDir).option("changeFeed", "true").load()
      .filter(col("_change_type") === "delete")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dels = spark.table(name).collect()
    assert(dels.nonEmpty)
    dels.foreach { r =>
      assert(!r.isNullAt(0), "delete row must carry the row id")
      assert(r.isNullAt(1) && r.isNullAt(2),
        s"delete row must NULL the non-key payload: $r")
    }
    // batch CDF (r12): a full-history range read returns exactly what the
    // stream delivered — the two surfaces share one change-set planner
    val batch = spark.read.format("graft.sources.ManifestSink")
      .option("path", tableDir).option("changeFeed", "true").load()
      .groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch("insert") === rows("insert")._1)
    assert(batch("delete") === rows("delete")._1)
    // an out-of-range version still fails loudly — silently clamping
    // would under-deliver changes without any downstream signal
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink")
        .option("path", tableDir).option("changeFeed", "true")
        .option("endingVersion", "999").load().count()
    }
    assert(e.getMessage != null)
  }

  test("startingVersion seeds only the INITIAL offset; a checkpointed restart resumes from its own log (r12)") {
    import spark.implicits._
    val dir = graft.util.tempDir("graft_startver_")
    val fmt = "graft.sources.ManifestSink"
    def commit(from: Long, until: Long): Unit =
      (from until until).map(i => Tuple1(i)).toDF("k")
        .write.format(fmt).option("path", dir).mode("append").save()
    commit(0, 5)    // v1
    commit(10, 15)  // v2
    commit(20, 25)  // v3
    val ckpt = graft.util.tempDir("graft_startver_ck_")
    val out = graft.util.tempDir("graft_startver_out_")
    def drain(startVer: String): Seq[Long] = {
      // file sink: the one that supports checkpoint RECOVERY (the memory
      // sink refuses restarts), so the second run is a true resume
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("startingVersion", startVer).load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted
    }
    // fresh checkpoint: the option is honored — v1 never delivered
    assert(drain("2") === (10L until 15L) ++ (20L until 25L))
    commit(30, 35)  // v4, after the first drain
    // restart against the SAME checkpoint with an absurd startingVersion:
    // it must be IGNORED (the offset log owns the position) — the sink
    // accumulates exactly v4's rows on top, no replay, no skip, no dupes
    assert(drain("99") ===
      (10L until 15L) ++ (20L until 25L) ++ (30L until 35L))
  }
}
