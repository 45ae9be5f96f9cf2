package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 (optimization round 2) invariants: the storage-agnostic
  * stream-state width probe (VERDICT r16 what's-wrong #3 / next-round #9)
  * and the compact per-query `heavy` bench line (next-round #2).
  */
class Round17Spec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestBase.spark

  test("dirBytes: recursive over nested directories (the r16 probe was top-level-only)") {
    val root = java.nio.file.Files.createTempDirectory("graft_r17_probe_")
    try {
      val sub = java.nio.file.Files.createDirectories(root.resolve("t=1/part=a"))
      java.nio.file.Files.write(root.resolve("top.bin"), Array.fill[Byte](1000)(1))
      java.nio.file.Files.write(sub.resolve("nested.bin"), Array.fill[Byte](2345)(2))
      assert(Streaming.dirBytes(spark, root.toString) === Some(3345L),
        "byte sum must include files below the top level")
    } finally graft.util.deleteRecursively(root)
  }

  test("dirBytes: None (not zero) when the path cannot be probed") {
    assert(Streaming.dirBytes(spark, "/nonexistent/graft_r17_nowhere").isEmpty)
  }

  test("withStreamStatePartitions: failed probe falls back to the session default, never floor 4") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    var seen: String = null
    val fn = Streaming.withStreamStatePartitions { (s, _) =>
      seen = s.conf.get(key)
      s.range(1).toDF()
    }
    fn(spark, "/nonexistent/graft_r17_nowhere")
    assert(seen === prev,
      s"unprobeable dir must keep the session width $prev, saw $seen")
    assert(spark.conf.get(key) === prev)
  }

  test("withStreamStatePartitions: successful probe sizes 1 per 32 MB with floor 4 and restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val root = java.nio.file.Files.createTempDirectory("graft_r17_width_")
    try {
      // 80 MB in a SUBDIRECTORY: width = max(4, 80MB/32MB) = 4... use
      // 200 MB to clear the floor: max(4, 200/32) = 6
      val sub = java.nio.file.Files.createDirectories(root.resolve("nested"))
      val f = sub.resolve("big.bin").toFile
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(200L << 20) finally raf.close()
      var seen: String = null
      val fn = Streaming.withStreamStatePartitions { (s, _) =>
        seen = s.conf.get(key)
        s.range(1).toDF()
      }
      fn(spark, root.toString)
      assert(seen === "6", s"200 MB input must size to 6 partitions, saw $seen")
      assert(spark.conf.get(key) === prev, "conf must be restored after fn")
    } finally graft.util.deleteRecursively(root)
  }

  test("firstRunMap: flags memo-style first-run cost, ignores codegen warmup") {
    val rows = Seq(
      ("memo_row", 0.04, true, 1.90),   // ratio 47×, abs 1.86 → flagged
      ("warm_row", 0.30, true, 0.70),   // abs 0.4 < 0.5 → not flagged
      ("flat_row", 1.00, true, 1.40),   // ratio 1.4 < 2 → not flagged
      ("both_row", 0.60, true, 1.30))   // ratio 2.2, abs 0.7 → flagged
    assert(graft.Bench.firstRunMap(rows).toMap ===
      Map("memo_row" -> 1.90, "both_row" -> 1.30))
  }

  test("heavyLine: top-N by seconds, name-sorted, compact JSON") {
    val rows = (1 to 60).map(i => (f"q$i%03d", i * 0.01))
    val line = graft.Bench.heavyLine(rows)
    assert(line.startsWith("""{"metric":"heavy","values":{"""))
    assert(line.endsWith("}}"))
    val keys = "\"(q[0-9]+)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(keys.size === graft.Bench.heavyCount)
    // the 40 heaviest of 60 are q021..q060; emitted in name order
    assert(keys === (21 to 60).map(i => f"q$i%03d"))
    assert(line.contains("\"q060\":0.6000"))
    assert(line.length < 2048, s"heavy line must stay tail-capture small, was ${line.length}")
    // a comma-decimal default locale must not change the JSON
    val default = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(graft.Bench.heavyLine(rows) === line)
    } finally java.util.Locale.setDefault(default)
  }
}
