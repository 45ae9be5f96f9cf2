package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{Catalog, ScaleStress, SparkEntry, util}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** ×100 certification of the STATEFUL STREAMING tier (r11 verdict #3).
  *
  * The batch tier is ×100-certified (graft.ScaleStress, SCALE.md); the
  * stream rows — the most expensive bench family — were only proven to
  * ×10. This tool drives the three judge-named stateful rows at ×K
  * events/orders with the two state-side instruments a 100 TB operator
  * actually watches:
  *
  *  - RocksDB state-store metrics from StreamingQueryProgress
  *    (`stateOperators`: numRowsTotal, memoryUsedBytes, and the
  *    provider's custom rocksdbSstFileSize), via a session-wide
  *    [[StreamingQueryListener]] — the registry query fns run UNCHANGED;
  *  - the checkpoint itself: the tool pins
  *    `spark.sql.streaming.checkpointLocation` to a fresh dir per run
  *    (instead of Spark's self-deleting temp checkpoints) and walks it
  *    afterwards for `*.changelog` / snapshot-`.zip` counts and state
  *    bytes on disk. Changelog checkpointing is enabled session-wide so
  *    the RocksDB rows exercise the incremental-commit path they'd run
  *    at scale.
  *
  * What "passes": wall-clock and state size grow ≲ linearly in K, and
  * state ROWS track the key count of the operator (dedup: distinct
  * event ids; interval join: rows inside the watermark window), never
  * some super-linear blowup — results recorded in SCALE.md §stress.
  *
  * Usage: runMain graft.tools.StreamScale [factor] [query...]
  */
object StreamScale {

  /** Per-run peak of the state-operator telemetry (one streaming query
    * may report several progress events; peaks are the honest summary
    * for AvailableNow runs whose last batch carries the full state).
    */
  private final class Peaks {
    @volatile var rows = 0L
    @volatile var memBytes = 0L
    @volatile var sstBytes = 0L
    def reset(): Unit = { rows = 0L; memBytes = 0L; sstBytes = 0L }
  }

  val defaultQueries: Seq[String] = Seq(
    "stream_dedup_rocksdb", "stream_stream_join", "stream_table_cdf_deletes")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val queries = if (args.length > 1) args.drop(1).toSeq else defaultQueries
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    util.sweepStaleScratch()
    val spark = graft.GraftSession.build(cpus.toInt)
    // incremental state commits — the 100 TB RocksDB posture under test
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val peaks = new Peaks
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty) {
          peaks.rows = math.max(peaks.rows, ops.map(_.numRowsTotal).sum)
          peaks.memBytes = math.max(peaks.memBytes, ops.map(_.memoryUsedBytes).sum)
          peaks.sstBytes = math.max(peaks.sstBytes, ops.map { o =>
            o.customMetrics.asScala.collect {
              case (k, v) if k.toLowerCase.contains("sstfilesize") =>
                v.longValue
            }.sum
          }.sum)
        }
      }
    })

    // only the tables the targeted stream rows read are ×K'd; the rest of
    // the fixture lands real-sized so any query resolves against the dir
    val scaledDir = util.tempDir(s"graft_sstress_x${factor}_")
    val t0 = System.nanoTime()
    ScaleStress.buildScaled(spark, baseDir, scaledDir, factor,
      only = Set("events", "orders"))
    println(f"""{"sstress":"build","factor":$factor,"sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")

    final case class RunStats(sec: Double, outRows: Long, stateRows: Long,
        stateMem: Long, sst: Long, ckBytes: Long, changelogs: Long, zips: Long)

    def walkCheckpoint(root: String): (Long, Long, Long) = {
      val p = Paths.get(root)
      if (!Files.isDirectory(p)) return (0L, 0L, 0L)
      var bytes = 0L; var logs = 0L; var zips = 0L
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        bytes += Files.size(f)
        val n = f.getFileName.toString
        if (n.endsWith(".changelog")) logs += 1
        if (n.endsWith(".zip")) zips += 1
      } finally s.close()
      (bytes, logs, zips)
    }

    def run(name: String, dir: String): RunStats = {
      val ck = util.tempDir(s"graft_sstress_ck_")
      spark.conf.set("spark.sql.streaming.checkpointLocation", ck)
      peaks.reset()
      val s0 = System.nanoTime()
      val out = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - s0) / 1e9
      // progress events arrive on a listener-bus thread; drain it
      Thread.sleep(500)
      val (ckBytes, logs, zips) = walkCheckpoint(ck)
      RunStats(sec, out, peaks.rows, peaks.memBytes, peaks.sstBytes,
        ckBytes, logs, zips)
    }

    val rows = queries.map { q =>
      val base = run(q, baseDir)
      val scaled = run(q, scaledDir)
      val ratio = scaled.sec / math.max(base.sec, 1e-9)
      val stateRatio =
        scaled.stateRows.toDouble / math.max(base.stateRows.toDouble, 1.0)
      println(
        f"""{"sstress":"$q","base_sec":${base.sec}%.2f,"x${factor}_sec":${scaled.sec}%.2f,"ratio":$ratio%.1f,""" +
          s""""base_state_rows":${base.stateRows},"x${factor}_state_rows":${scaled.stateRows},""" +
          f""""state_rows_ratio":$stateRatio%.1f,""" +
          s""""base_state_mem":${base.stateMem},"x${factor}_state_mem":${scaled.stateMem},""" +
          s""""base_sst_bytes":${base.sst},"x${factor}_sst_bytes":${scaled.sst},""" +
          s""""base_ck_bytes":${base.ckBytes},"x${factor}_ck_bytes":${scaled.ckBytes},""" +
          s""""base_changelog_files":${base.changelogs},"x${factor}_changelog_files":${scaled.changelogs},""" +
          s""""base_snapshot_zips":${base.zips},"x${factor}_snapshot_zips":${scaled.zips},""" +
          s""""base_out_rows":${base.outRows},"x${factor}_out_rows":${scaled.outRows}}""")
      (q, ratio)
    }
    // COUNT-ONLY re-measure of the dedup row (r12 verdict #6): same
    // source → watermark → dropDuplicates chain on RocksDB, but into a
    // noop sink, so the ratio certifies the state machinery rather than
    // the driver-resident memory-sink dump the registry row needs for
    // its oracle. Reported alongside the memory-sink number.
    if (queries.contains("stream_dedup_rocksdb")) {
      def runNoop(dir: String): RunStats = {
        val ck = util.tempDir(s"graft_sstress_ck_")
        spark.conf.set("spark.sql.streaming.checkpointLocation", ck)
        peaks.reset()
        val s0 = System.nanoTime()
        val out = graft.ops.Streaming.dedupRocksNoopSink(spark, dir)
        val sec = (System.nanoTime() - s0) / 1e9
        Thread.sleep(500)
        val (ckBytes, logs, zips) = walkCheckpoint(ck)
        RunStats(sec, out, peaks.rows, peaks.memBytes, peaks.sstBytes,
          ckBytes, logs, zips)
      }
      val base = runNoop(baseDir)
      val scaled = runNoop(scaledDir)
      val ratio = scaled.sec / math.max(base.sec, 1e-9)
      val stateRatio =
        scaled.stateRows.toDouble / math.max(base.stateRows.toDouble, 1.0)
      println(
        f"""{"sstress":"stream_dedup_rocksdb_countonly","base_sec":${base.sec}%.2f,"x${factor}_sec":${scaled.sec}%.2f,"ratio":$ratio%.1f,""" +
          s""""base_state_rows":${base.stateRows},"x${factor}_state_rows":${scaled.stateRows},""" +
          f""""state_rows_ratio":$stateRatio%.1f,""" +
          s""""base_state_mem":${base.stateMem},"x${factor}_state_mem":${scaled.stateMem},""" +
          s""""base_sst_bytes":${base.sst},"x${factor}_sst_bytes":${scaled.sst},""" +
          s""""base_ck_bytes":${base.ckBytes},"x${factor}_ck_bytes":${scaled.ckBytes},""" +
          s""""base_changelog_files":${base.changelogs},"x${factor}_changelog_files":${scaled.changelogs},""" +
          s""""base_snapshot_zips":${base.zips},"x${factor}_snapshot_zips":${scaled.zips},""" +
          s""""base_out_rows":${base.outRows},"x${factor}_out_rows":${scaled.outRows}}""")
    }
    val worst = rows.maxBy(_._2)
    println(f"""{"sstress":"summary","factor":$factor,"n":${rows.size},"worst":"${worst._1}","worst_ratio":${worst._2}%.1f}""")
    spark.stop()
  }
}
