package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.cdc.{Merge, Replica}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The replica poll (`graft.cdc.Replica`): deliveries are gated whole on
  * their `until`, folded onto the newest complete version, landed, and
  * only then recorded in the cursor.
  */
class ReplicaSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // (user_id, ts, action, value, event_id)
  private def feed(rows: (Long, String, String, Double, Long)*): DataFrame =
    rows.toSeq.toDF("user_id", "ts_s", "action", "value", "event_id")
      .selectExpr("user_id", "cast(ts_s as timestamp_ntz) as ts", "action", "value", "event_id")

  private def replica(root: String) = new Replica(Seq("user_id"), "ts", "event_id", root)

  private def rows(df: DataFrame): Set[(Long, Double, Long)] =
    df.select("user_id", "value", "event_id").as[(Long, Double, Long)].collect().toSet

  private def versionDirs(root: String): Set[String] = {
    val ls = Files.list(Paths.get(root))
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("v")).toSet
    finally ls.close()
  }

  private def us(ts: String): Long =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  private val d1 = feed(
    (1L, "2024-01-01 00:00:00", "U", 1.0, 1L),
    (2L, "2024-01-02 00:00:00", "U", 5.0, 2L))
  // key 3's change is late: its ts is below the cursor d1 leaves behind
  private val d2 = feed(
    (1L, "2024-01-04 00:00:00", "U", 2.0, 3L),
    (3L, "2024-01-01 12:00:00", "U", 7.0, 4L),
    (2L, "2024-01-05 00:00:00", "D", 0.0, 5L))
  private val (until1, until2) = (us("2024-01-03 00:00:00"), us("2024-01-06 00:00:00"))

  test("a late change below the cursor in delivery 2 is folded, not dropped") {
    val r = replica(util.tempDir("graft_replica_late_"))
    assert(r.poll(d1, until1))
    assert(r.poll(d2, until2))
    assert(rows(r.snapshot(spark)) === Set((1L, 2.0, 3L), (3L, 7.0, 4L)))
    assert(rows(r.snapshot(spark)) ===
      rows(Merge.fold(d1.unionByName(d2), Seq("user_id"), "ts", "event_id")))
  }

  test("a re-delivery is skipped without a job and leaves the versions and the snapshot unchanged") {
    val root = util.tempDir("graft_replica_redeliver_")
    val r = replica(root)
    assert(r.poll(d1, until1))
    assert(r.poll(d2, until2))
    val (dirs, snap) = (versionDirs(root), rows(r.snapshot(spark)))
    assert(dirs === Set("v2"))
    val sc = spark.sparkContext
    val group = "replica_redelivery"
    sc.setJobGroup(group, "re-deliveries, then one marker job")
    try {
      assert(!r.poll(d1, until1))
      assert(!r.poll(d2, until2))
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    // the status store takes job events in order: once the marker job is
    // listed, every job the re-deliveries ran would be listed too
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(group).length === 1)
    assert(versionDirs(root) === dirs)
    assert(rows(r.snapshot(spark)) === snap)
  }

  test("source guard: main code constructs a Cursor only in Replica and pipeline_replica_suite") {
    val direct = SparkTestBase.occurrences("src/main/scala", "new Cursor(")
    assert(direct === Map("src/main/scala/graft/cdc/Replica.scala" -> 1),
      s"cursor built outside Replica (poll through graft.cdc.Replica): $direct")
    val cdc = "src/main/scala/graft/ops/Cdc.scala"
    val qualified = SparkTestBase.occurrences("src/main/scala", "new graft.cdc.Cursor(")
    assert(qualified.keySet.subsetOf(Set(cdc)) && qualified.getOrElse(cdc, 0) <= 1,
      s"cursor built outside Replica (poll through graft.cdc.Replica): $qualified")
    // the one Cdc cursor belongs to the appending multi-table suite row
    val text = SparkTestBase.source(cdc)
    val at = text.indexOf("new graft.cdc.Cursor(")
    if (at >= 0) {
      val row = text.lastIndexOf("    Q(\n", at)
      assert(text.substring(row, at).contains("\"pipeline_replica_suite\""),
        "the Cdc cursor is not in pipeline_replica_suite")
    }
  }
}
