package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Runtime-METRIC guards (round-10 verdict #3): PlanShapeSpec pins plan
  * SHAPE (zero Exchange nodes, a might_contain probe in the plan text,
  * pruned partition counts) — but at 100 TB the plan can be right and the
  * bytes still wrong (a silent v2 fallback re-planning an exchange back
  * in, a probe that never kills a row). These specs assert what actually
  * EXECUTED: shuffle bytes moved (SparkListener task metrics, scoped to
  * our own jobs via a job group so a concurrently-running suite can't
  * pollute the count) and rows delivered by scans/filters (SQL metrics
  * off the executed plan).
  */
class RuntimeMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  /** Accumulates shuffle bytes ONLY for tasks belonging to jobs started
    * under `group` — suites share one SparkContext, so an unscoped
    * listener would count whatever another suite happens to run.
    */
  private final class MetricsProbe(group: String) extends SparkListener {
    private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val jobIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytesRead = new AtomicLong(0)
    val shuffleBytesWritten = new AtomicLong(0)
    val tasksPerStage = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    @volatile var jobsStarted = 0
    @volatile var jobsEnded = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null &&
          group == e.properties.getProperty("spark.jobGroup.id")) {
        jobIds.add(e.jobId)
        e.stageIds.foreach(stageIds.add(_))
        jobsStarted += 1
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobIds.contains(e.jobId)) jobsEnded += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(e.stageId) && e.taskMetrics != null) {
        shuffleBytesRead.addAndGet(
          e.taskMetrics.shuffleReadMetrics.remoteBytesRead +
            e.taskMetrics.shuffleReadMetrics.localBytesRead)
        shuffleBytesWritten.addAndGet(
          e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        tasksPerStage.merge(e.stageId, 1, (a, b) => a + b)
      }
  }

  /** Run `body` under a fresh job group, wait for its listener events to
    * drain (job-end count catches up to job-start), return the probe.
    */
  private def measured[T](body: => T): (T, MetricsProbe) = {
    val group = "graft-metrics-" + java.util.UUID.randomUUID()
    val probe = new MetricsProbe(group)
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    sc.setJobGroup(group, "runtime-metrics probe")
    try {
      val r = body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((probe.jobsStarted == 0 || probe.jobsStarted != probe.jobsEnded)
          && System.nanoTime() < deadline) Thread.sleep(50)
      // task-end events precede job-end on the bus; one more beat so the
      // last stage's metrics are definitely folded in
      Thread.sleep(100)
      (r, probe)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(probe)
    }
  }

  /** Flatten an executed plan THROUGH adaptive wrappers and query stages —
    * plain .collect stops at stage boundaries under AQE.
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  test("join_storage_partitioned moves ZERO shuffle bytes at runtime") {
    GraftSession.withConfs(spark, ops.Joins.spjConfs) {
      // first run stages the SPJ layout (repartition jobs) and warms the
      // path; the MEASURED run is the join alone. The action is
      // foreachPartition, not count() — count's own final aggregation
      // ships one partial counter per partition through an exchange
      // (measured: 472 B), which would mask a true zero for the JOIN.
      assert(ops.Joins.spjJoin(spark, dir).count() > 0)
      val (_, probe) = measured(ops.Joins.spjJoin(spark, dir)
        .foreachPartition((it: Iterator[org.apache.spark.sql.Row]) => { it.size; () }))
      assert(probe.jobsStarted > 0, "probe saw no jobs — measurement broken")
      assert(probe.shuffleBytesWritten.get() == 0 &&
        probe.shuffleBytesRead.get() == 0,
        s"KeyGroupedPartitioning join still shuffled: wrote " +
          s"${probe.shuffleBytesWritten.get()} B, read ${probe.shuffleBytesRead.get()} B")
    }
  }

  test("sink_bucketed_join moves ZERO shuffle bytes at runtime (no-broadcast SMJ)") {
    // creating the bucketed tables IS allowed to shuffle; the measured
    // join of the two landed tables is not
    SparkEntry.queries("sink_bucketed_join")(spark, dir).count()
    GraftSession.withConfs(spark, ops.Sources.noBroadcastConfs) {
      val join = spark.table("graft_buckets.lineitem_b")
        .join(spark.table("graft_buckets.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .select("o_orderpriority")
      // foreachPartition, not count(): see the SPJ test above
      val (_, probe) = measured(join
        .foreachPartition((it: Iterator[org.apache.spark.sql.Row]) => { it.size; () }))
      assert(probe.jobsStarted > 0, "probe saw no jobs — measurement broken")
      assert(probe.shuffleBytesWritten.get() == 0 &&
        probe.shuffleBytesRead.get() == 0,
        s"bucketed join still shuffled: wrote ${probe.shuffleBytesWritten.get()} B, " +
          s"read ${probe.shuffleBytesRead.get()} B")
    }
  }

  test("join_runtime_bloom_filter: the probe KILLS fact rows before the exchange") {
    GraftSession.withConfs(spark, ops.Joins.bloomConfs) {
      val df = ops.Joins.bloomFilterJoin(spark, dir)
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val bloomFilters = nodes.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("might_contain") => f
      }
      assert(bloomFilters.nonEmpty,
        "no might_contain FilterExec in the executed plan")
      val filt = bloomFilters.head
      val scanRows = flatten(filt).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.headOption.getOrElse(fail("no FileSourceScanExec under the bloom filter"))
      val filtRows = filt.metrics("numOutputRows").value
      // urgent orders ≈ 1/5 of keys: the probe must cut the fact side
      // hard, not merely exist in the plan
      assert(scanRows > 0 && filtRows < scanRows / 2,
        s"bloom probe barely filtered: $filtRows of $scanRows scan rows survived")
    }
  }

  test("sink_stats_file_pruning: the scan DELIVERS only the matching band's rows") {
    // same staged layout as the registered row (4 single-file key-band
    // commits), but the measured read carries NO global sort: the
    // registered query's orderBy runs the scan TWICE inside one SQL
    // execution (the range partitioner's sampling pass), doubling
    // numOutputRows (measured: 750 = 2×375) and masking the per-read
    // number this spec is about.
    val fmt = "graft.sources.ManifestSink"
    val t = util.tempDir("graft_skipmetric_")
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val maxk0 = o.agg(org.apache.spark.sql.functions.max(col("o_orderkey")))
      .head.getLong(0)
    val q1 = maxk0 / 4
    def land(lo: Long, hi: Long, mode: String): Unit =
      o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
        .coalesce(1).write.format(fmt).option("path", t).mode(mode).save()
    land(Long.MinValue, q1, "overwrite")
    land(q1, 2 * q1, "append")
    land(2 * q1, 3 * q1, "append")
    land(3 * q1, Long.MaxValue, "append")
    val df = spark.read.format(fmt).option("path", t).load()
      .filter(col("o_orderkey") <= q1)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    val scanRows = nodes.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("numOutputRows").value
    }.headOption.getOrElse(fail("no BatchScanExec in the executed plan"))
    val total = o.count()
    // row-EXACT assertion: the scan delivered precisely the matching
    // file's rows — any extra file read would add its rows to
    // numOutputRows, since manifest file pruning happens before Spark's
    // re-filter (keyspace quarters are NOT row quarters; TPC-H orderkeys
    // are sparse-low, so a threshold like "< total/2" proves nothing)
    val expected = o.filter(col("o_orderkey") <= q1).count()
    assert(expected < total, "fixture degenerate: one band holds everything")
    assert(scanRows == expected,
      s"manifest min-max pruning ineffective: scan delivered $scanRows rows, " +
        s"the matching band holds $expected of $total")
  }

  test("join_skew_aqe: OptimizeSkewedJoin actually SPLITS the hot partition at runtime") {
    // plan-shape already pins the skew=true marker; this pins execution:
    // the join stage must run MORE tasks than the static shuffle
    // partition count — the extra tasks ARE the split replicas of the
    // hot partition. A marker that never splits would pass the plan
    // check and fail here.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (_, probe) = measured(
      SparkEntry.queries("join_skew_aqe")(spark, dir).count())
    assert(probe.jobsStarted > 0, "probe saw no jobs")
    import scala.jdk.CollectionConverters._
    val maxTasks = probe.tasksPerStage.values.asScala.map(_.toInt).max
    assert(maxTasks > parts,
      s"no stage exceeded the static partition count $parts " +
        s"(stage task counts: ${probe.tasksPerStage.asScala.toSeq.sortBy(_._1).mkString(", ")}) — the skewed partition was never split")
  }
}
