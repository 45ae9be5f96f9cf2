package graft

import java.nio.file.Files

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession.withConfs]] leaves the session's explicit conf exactly as
  * it found it; no registry row that scopes a conf leaks it into the next
  * row; no new hand-rolled session builder or conf restore appears
  * outside [[GraftSession]]; and engine sessions share the executors'
  * session state unless a deployment says otherwise.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  private def explicit(key: String): Option[String] = spark.conf.getAll.get(key)

  test("withConfs: a key unset before the body is unset after it") {
    // registered with a default (STATIC): conf.getOption would report it
    // as set, and restoring that would pin the default explicitly
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    var inside: Option[String] = None
    GraftSession.withConfs(spark, Seq(key -> "dynamic")) { inside = explicit(key) }
    assert(inside === Some("dynamic"))
    assert(explicit(key) === None)
  }

  test("withConfs: an explicitly set key gets its prior value back") {
    val key = "spark.sql.shuffle.partitions"
    val prior = explicit(key)
    assert(prior.isDefined, "GraftSession.build sets the width explicitly")
    GraftSession.withConfs(spark, Seq(key -> "7")) {
      assert(explicit(key) === Some("7"))
    }
    assert(explicit(key) === prior)
  }

  test("withConfs: both restores hold when the body throws") {
    val unsetKey = "spark.sql.sources.partitionOverwriteMode"
    val setKey = "spark.sql.shuffle.partitions"
    spark.conf.unset(unsetKey)
    val prior = explicit(setKey)
    val e = intercept[IllegalStateException] {
      GraftSession.withConfs(spark, Seq(unsetKey -> "dynamic", setKey -> "7")) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(explicit(unsetKey) === None)
    assert(explicit(setKey) === prior)
  }

  test("withConfs: nested scopes restore in order (stream width wrapper around a row that pins 4)") {
    val key = "spark.sql.shuffle.partitions"
    val prior = explicit(key)
    val root = Files.createTempDirectory("graft_session_width_")
    try {
      // 200 MB input: the wrapper sizes the stream to max(4, 200/32) = 6
      val raf = new java.io.RandomAccessFile(root.resolve("big.bin").toFile, "rw")
      try raf.setLength(200L << 20) finally raf.close()
      var seen: Seq[Option[String]] = Nil
      val row = ops.Streaming.withStreamStatePartitions { (s, _) =>
        val outer = explicit(key)
        val pinned = GraftSession.withConfs(s, ops.Streaming.fourStatePartitions)(explicit(key))
        seen = Seq(outer, pinned, explicit(key))
        s.range(1).toDF()
      }
      row(spark, root.toString)
      assert(seen === Seq(Some("6"), Some("4"), Some("6")),
        "inner pin must restore the wrapper's width, not the session's")
      assert(explicit(key) === prior)
    } finally util.deleteRecursively(root)
  }

  /** Every registry row whose conf scoping runs through
    * [[GraftSession.withConfs]] in its own body (or in
    * `Graph.connectedComponents`, which `pipeline_training_mix` calls).
    */
  private val confScopedRows = Seq(
    "join_bloom_pruned", "join_cbo_reorder", "sql_cbo_join_reorder",
    "join_runtime_bloom_filter", "join_storage_partitioned",
    "sql_scripting_repeat", "sql_scripting_for", "sql_scripting_while",
    "join_skew_aqe", "join_aqe_bhj_conversion",
    "scan_variant_shredded", "sink_partition_overwrite_dynamic",
    "scan_parquet_agg_pushdown",
    "stream_changelog_checkpoint", "stream_state_reader",
    "stream_observed_metrics", "stream_dedup_rocksdb",
    "stream_transform_with_state", "stream_tws_initial_state",
    "stream_cep_sequence", "stream_state_reader_tws",
    "stream_restart_recovery", "stream_tws_liststate",
    "stream_tws_mapstate", "stream_tws_timers", "stream_tws_ttl",
    "pipeline_training_mix")

  test("no conf-scoped row leaks session conf into the next row") {
    // rows that write through the catalog mount it for good; mount first
    // so the snapshot compares only what a row scopes
    GraftSession.mountCatalog(spark)
    val leaks = confScopedRows.flatMap { name =>
      val before = spark.conf.getAll
      SparkEntry.queries(name)(spark, dir)
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      changed.toSeq.sorted.map(k => s"$name: $k ${before.get(k)} -> ${after.get(k)}")
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  test("source guard: conf reads for restoring live only in GraftSession") {
    for (needle <- Seq("conf.get(", "conf.getOption(")) {
      val hits = SparkTestBase.filesContaining("src/main/scala", needle)
      assert(hits.subsetOf(Set("src/main/scala/graft/GraftSession.scala")),
        s"`$needle` outside GraftSession (scope confs with GraftSession.withConfs): $hits")
    }
  }

  test("source guard: SparkSession builders live only in GraftSession and the local-cluster tools") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder()"
    val allowed = Set(
      "src/main/scala/graft/GraftSession.scala",
      "src/main/scala/graft/GraftExtensions.scala", // doc comment
      "src/main/scala/graft/tools/LocalClusterSmoke.scala",
      "src/main/scala/graft/tools/ReplicaSoak.scala")
    val hits = SparkTestBase.filesContaining("src", needle)
    assert(hits.subsetOf(allowed),
      s"session builder outside GraftSession (use GraftSession.build): ${hits -- allowed}")
  }

  test("source guard: SQL function names are bound only by GraftExtensions") {
    // native kernels are built as columns (Bridge.column); a per-call
    // session registration re-registers the name on every use
    for (needle <- Seq("createOrReplaceTempFunction", "udf.register")) {
      val hits = SparkTestBase.filesContaining("src/main/scala", needle)
      assert(hits.isEmpty,
        s"`$needle` in main code (bind SQL names in GraftExtensions): $hits")
    }
  }

  test("engine sessions and their clones run without artifact isolation; an explicit value wins") {
    val key = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.get(key) === "false")
    assert(spark.newSession().conf.get(key) === "false")
    val unset = new SparkConf(false)
    GraftExtensions.shareSessionState(unset)
    assert(unset.get(key) === "false")
    val explicit = new SparkConf(false).set(key, "true")
    GraftExtensions.shareSessionState(explicit)
    assert(explicit.get(key) === "true")
  }

  test("source guard: artifact isolation is configured only by GraftExtensions") {
    val hits = SparkTestBase.filesContaining("src/main/scala", "spark.sql.artifact.isolation")
    assert(hits === Set("src/main/scala/graft/GraftExtensions.scala"),
      s"artifact isolation set outside GraftExtensions.shareSessionState: $hits")
  }
}
