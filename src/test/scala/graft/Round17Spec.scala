package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Bench report helpers: the first-run flag map and the compact
  * per-query `heavy` bench line.
  */
class Round17Spec extends AnyFunSuite {
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
