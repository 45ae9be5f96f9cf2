package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Prints per-query timings (one long JSON line) and
  * then a SHORT `{"metric":"total",...}` JSON object on its own, final line —
  * the driver captures the tail of stdout, so the parseable summary must be
  * last (a 140-query map pushed the metric prefix out of the captured tail in
  * rounds 1–2). Because even the tail-most detail line overflowed the driver's
  * capture window at 181 queries (BENCH_r04 `tail` starts mid-dict), the full
  * detail map is ALSO persisted to `BENCH_DETAIL.json` in the working
  * directory so round-over-round per-query comparison survives the artifact.
  *
  * Timing protocol (r9): queries run in sorted-name order (Map hash order
  * changed per round, making per-query deltas incomparable), each query
  * runs THREE times; batch rows report the MIN (first pass absorbs janino
  * codegen + shuffle warmup; one contended run can never set the number),
  * `stream_*` rows report the MEDIAN (their micro-batch machinery swings
  * both ways).
  *
  * Contention defense (r11, verdict #1): the FULL run no longer shares one
  * JVM across all ~550 queries. Rounds 6, 8 and 10 each produced a cluster
  * of phantom regressions (r10: 28 queries ≥1.5× their isolated cost —
  * sql_tpch_q10 reported 3.29 s vs 0.52 s args-isolated) from shared-JVM
  * heap/GC/codegen-cache pressure that min-of-3 cannot defeat: by the
  * 500th query the old-gen is full of 549 queries' cached relations and
  * every run of a late query pays someone else's GC. So driver mode (no
  * args) now SHARDS the registry into [[chunkCount]] chunks (dealt
  * round-robin over the sorted names since r12, so no single family —
  * e.g. the 57 `sql_*` rows — monopolizes one child's heap; see
  * [[runDriverMode]]) and runs each in a FORKED child JVM, sequentially
  * (cores are never oversubscribed — exactly one child owns the machine at
  * a time), inheriting this JVM's flags/classpath/env. Each child starts
  * cold (fresh heap, fresh codegen cache), runs its ~70 queries with the
  * unchanged min-of-3 protocol, and writes its fragment JSON; the parent
  * merges fragments into one BENCH_DETAIL.json. A chunk whose child dies
  * or loses its fragment is re-run in-process — a harness hiccup may cost
  * contended numbers for that chunk but can never lose rows. Args-scoped
  * isolation mode (bare query names as args) is unchanged — still the
  * single-JVM adjudication tool.
  */
object Bench {
  /** ~70 queries per chunk at the current registry size: small enough that
    * late queries don't inherit 500 queries of heap history, large enough
    * that per-chunk session init (~5 s) stays <2% of the run.
    */
  private val chunkCount = 8

  def main(args: Array[String]): Unit = {
    args.toList match {
      case "--chunk" :: outFile :: names if names.nonEmpty =>
        runChild(outFile, names.toSet)
      case Nil => runDriverMode()
      case only => // isolation/adjudication mode: unchanged single JVM
        val (detail, total, results, failed) = runInProcess(only.toSet)
        println(detail)
        println(summaryLine(total, results.size, failed.size))
    }
  }

  /** Child: time the given queries, write the fragment, print nothing the
    * driver could mistake for the final summary (parent owns stdout).
    */
  private def runChild(outFile: String, names: Set[String]): Unit = {
    val (_, _, results, failed) = runInProcess(names)
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fr = firstRunMap(results)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val frag =
      s"""{"queries":$qs,"failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"first_run":$fr}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      frag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Measurement-honesty guard (VERDICT r16 what's-wrong #2 / next-round
    * #10): several rows serve from a per-(session, dir) memo built on
    * iteration 1 — min-of-3 then reports only the serve cost and the
    * declared computation disappears from every per-query number. Flag
    * every row whose FIRST run cost ≥2× its reported min and ≥0.5 s more
    * in absolute terms (memo builds and any other one-time staging; plain
    * codegen warmup stays under the absolute bar) and carry the first-run
    * seconds alongside, so a reader can separate "the computation got
    * faster" from "the bookkeeping moved it to iteration 1".
    */
  private[graft] def firstRunMap(
      results: Seq[(String, Double, Boolean, Double)]): Seq[(String, Double)] =
    results.collect {
      case (k, rep, _, first) if first >= 2 * rep && first - rep >= 0.5 =>
        (k, first)
    }

  /** Parent (driver mode): fork one child JVM per chunk, sequentially.
    *
    * Chunk assembly (r12, verdict #1a): queries are DEALT round-robin over
    * the sorted name list instead of split into contiguous slices. The r11
    * contiguous split put every `sql_*` row (57 TPC-H-class queries) into
    * ONE child JVM, recreating in miniature the shared-heap contention the
    * fork design exists to kill — the driver's run manufactured ~7 phantom
    * ≥2× "regressions" confined to that chunk (sql_tpch_q18 5.75 s chunked
    * vs 0.67 s isolated). Dealing spreads every heavy family evenly across
    * children; within a chunk the names stay sorted so run order remains
    * comparable round-over-round.
    *
    * Adjudication (r13, verdict #1 — supersedes the r12 prior-artifact
    * compare): suspects are judged against a ROLLING HISTORY, not just the
    * immediately-prior BENCH_DETAIL.json. The prior artifact is often
    * itself a contended same-session run, so drift could ratchet invisibly
    * (r12: `dedup_minhash_recall_eval` 1.62 s → 2.92 s with no code change,
    * never adjudicated because the mid-round artifact already carried the
    * elevated value). Now `BENCH_HISTORY.json` keeps the last
    * [[historyDepth]] rounds' per-query seconds (seeded from
    * BENCH_DETAIL.json on first run); a row is a suspect when it exceeds
    * 2× the MINIMUM across that history and ≥0.3 s absolute (down from
    * 0.75 s — the old floor exempted family-wide drift of cheap rows).
    * A FAMILY trigger also fires: for each name-prefix family with ≥3
    * rows, if the family's sum over common keys exceeds 1.5× the history
    * minimum of that sum, the family's worst absolute riser is isolated
    * as a representative even if no single row crossed 2×. Each suspect
    * gets ONE fully-isolated forked re-run; isolated numbers land in the
    * artifact as `"adjudicated"`. The contended number stays in `queries`
    * (the artifact never lies about what the run measured); the
    * adjudicated map is the evidence that separates real regressions from
    * harness contention. Finally this run's numbers are appended to the
    * history ring.
    */
  private def runDriverMode(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.queries.keys.toSeq.sorted
    // rolling per-ROUND history (oldest first), keyed by round id (r13
    // verdict #1: an unkeyed append-ring let ≥3 same-round bench runs
    // rotate every PRIOR round's floor out — exactly the drift-laundering
    // the ring was built to stop; now intra-round runs REPLACE the
    // current round's entry, so the floor always spans historyDepth
    // DISTINCT rounds). Seeded from the prior BENCH_DETAIL.json when no
    // history file exists yet; read BEFORE this run overwrites either
    // file.
    val cur = currentRound()
    val keyed = readHistory(
      java.nio.file.Paths.get("BENCH_HISTORY.json"),
      java.nio.file.Paths.get("BENCH_DETAIL.json"), cur)
    val history = keyed.map(_._2)
    val chunks = names.zipWithIndex.groupBy(_._2 % chunkCount)
      .toSeq.sortBy(_._1).map(_._2.map(_._1))
    val scratch = java.nio.file.Files.createTempDirectory("graft-bench-")
    // (name -> seconds, name-order preserved by re-sorting at merge)
    val merged = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val firstRuns = scala.collection.mutable.LinkedHashMap[String, Double]()
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val frag = scratch.resolve(s"chunk-$i.json")
      val ok = forkChunk(chunk, frag)
      val parsed: Option[(Map[String, Double], Seq[String])] =
        if (ok && java.nio.file.Files.exists(frag)) parseFragment(frag)
        else None
      parsed match {
        case Some((qs, fs)) =>
          merged ++= qs; failed ++= fs
          firstRuns ++= parseFirstRun(frag)
          System.err.println(
            s"[bench] chunk ${i + 1}/${chunks.size}: ${qs.size} queries, " +
              f"${qs.values.sum}%.1f s, ${fs.size} failed")
        case None =>
          // never lose rows: re-run the chunk in-process (numbers for this
          // chunk may be contended by parent-JVM state; still min-of-3)
          System.err.println(
            s"[bench] chunk ${i + 1}/${chunks.size}: fork failed, re-running in-process")
          val (_, _, rs, fs) = runInProcess(chunk.toSet)
          rs.foreach { case (k, v, _, _) => merged += k -> v }
          firstRuns ++= firstRunMap(rs)
          failed ++= fs
      }
    }
    val ordered = merged.toSeq.sortBy(_._1)
    val qs = ordered.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = ordered.map(_._2).sum
    // ---- adjudication (see scaladoc above): rolling-min row trigger +
    // family trigger. Cap of 16 bounds added wall-clock; a healthy run
    // adjudicates 0 rows, a contended one buys its evidence.
    val histMin: Map[String, Double] =
      history.flatten.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).min }
    val rowSuspects = ordered.collect {
      case (k, v) if v >= 0.3 && histMin.get(k).exists(p => v > 2 * p) =>
        (k, v, histMin(k))
    }
    val familySuspects = familyRisers(ordered, history, rowSuspects.map(_._1).toSet)
    val suspects = (rowSuspects ++ familySuspects)
      .sortBy { case (_, v, p) => p - v }.take(16)
    // Each suspect re-runs in a fresh fork TOGETHER with a warm, known-
    // stable sentinel row (r13 verdict #2: a cold-JVM isolated number
    // compared against warm in-chunk history can neither confirm nor
    // refute sub-second drift — the sentinel's time in the SAME child
    // JVM carries the cold-JIT/session constant, so
    // `adjudicated_norm = isolated / sentinel` is the contention-free,
    // JVM-state-free ratio a reader can compare across rounds).
    val adjudicated = suspects.flatMap { case (k, v, p) =>
      System.err.println(
        f"[bench] adjudicating $k: $v%.2f s this run vs $p%.2f s history-min")
      val frag = scratch.resolve(s"adj-$k.json")
      val pair = if (k == sentinel) Seq(k) else Seq(k, sentinel)
      val ok = forkChunk(pair, frag)
      val parsed =
        if (ok && java.nio.file.Files.exists(frag)) parseFragment(frag)
        else None
      val iso = parsed.flatMap(_._1.get(k))
      val sent = parsed.flatMap(_._1.get(sentinel))
      iso.foreach { sec =>
        val norm = sent.filter(_ > 0).map(sv => sec / sv)
        System.err.println(
          f"[bench] adjudicated $k: isolated $sec%.2f s" +
            norm.map(n => f", sentinel-norm $n%.2f").getOrElse(""))
      }
      iso.map(sec => (k, sec, sent.filter(_ > 0).map(sec / _)))
    }
    val adjJson = adjudicated
      .map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val adjNormJson = adjudicated
      .collect { case (k, _, Some(n)) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val frJson = firstRuns.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"detail","queries":$qs,"sf":"$sfDir","failed":[${failed.sorted.map("\"" + _ + "\"").mkString(",")}],"adjudicated":$adjJson,"adjudicated_norm":$adjNormJson,"first_run":$frJson,"round":$cur}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // intra-round runs merge by per-query MIN (round 15): plain
    // replacement let a CONTENDED later run overwrite the same round's
    // clean entry, weakening the next round's adjudication floor. A min
    // within one round cannot launder cross-round drift — the key stays
    // the round — and a mid-round regression still surfaces next round
    // against the faster pre-change measurement, which is the point.
    val prevCur = keyed.find(_._1 == cur).map(_._2).getOrElse(Map.empty)
    writeHistory(java.nio.file.Paths.get("BENCH_HISTORY.json"),
      (keyed.filterNot(_._1 == cur) :+
        (cur -> mergeRoundEntry(prevCur, ordered.toMap)))
        .sortBy(_._1).takeRight(historyDepth))
    // child fragments + stdout logs all live under scratch — remove it so
    // driver-mode runs leave nothing in the system temp dir (ADVICE r12)
    util.deleteRecursively(scratch)
    println(detail)
    // r17 (VERDICT r16 #2): the full detail line overflows the driver's
    // stdout tail capture at 691 queries, so PERF_r16 had no per-query
    // data at all (`n_common: 0`). Emit a COMPACT second line — the 40
    // most expensive per-query timings — directly before the final total
    // line; both fit the captured tail together. Additions-only: the
    // detail line and the trailing `{"metric":"total"}` line are
    // unchanged, and `queries` values here are the same min-of-3 numbers.
    println(heavyLine(ordered))
    println(summaryLine(total, ordered.size, failed.size))
  }

  /** Top-[[heavyCount]] per-query seconds as one compact JSON line (4
    * decimals — 0.1 ms — keeps 40 entries under ~1.6 KB so the driver's
    * tail capture retains this line plus the total line).
    */
  private[graft] val heavyCount = 40
  private[graft] def heavyLine(ordered: Seq[(String, Double)]): String = {
    val top = ordered.sortBy(-_._2).take(heavyCount).sortBy(_._1)
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    val vals = top.map { case (k, v) =>
      "\"" + k + "\":" + "%.4f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    s"""{"metric":"heavy","values":$vals}"""
  }

  /** Rounds of per-query history retained for the rolling adjudication
    * floor. Three rounds ride out one-off contended rounds without letting
    * a permanently-slower row escape forever (after 3 rounds the elevated
    * value becomes the new floor and a real fix shows up as headroom).
    */
  private[graft] val historyDepth = 3

  /** Same-round history merge: per-query MIN of the round's runs (a key
    * present in only one run keeps that run's value). See runDriverMode's
    * comment for why min-within-round is safe and replacement was not.
    */
  private[graft] def mergeRoundEntry(prev: Map[String, Double],
      now: Map[String, Double]): Map[String, Double] =
    (prev.keySet ++ now.keySet).map { k =>
      k -> math.min(prev.getOrElse(k, Double.MaxValue),
        now.getOrElse(k, Double.MaxValue))
    }.toMap

  /** Family trigger: group rows by name prefix (up to the first `_`), and
    * for every family with ≥3 rows whose current sum over COMMON keys
    * exceeds 1.5× the minimum historical sum over the same keys, nominate
    * the family's worst absolute riser (vs its own history-min) that is
    * not already a row-level suspect. Catches coordinated sub-2× drift of
    * cheap rows (r12: agg_/cdc_/dq_ families at 1.5–2.4× escaped the
    * per-row gate entirely).
    */
  private[graft] def familyRisers(
      ordered: Seq[(String, Double)],
      history: Seq[Map[String, Double]],
      alreadySuspect: Set[String]): Seq[(String, Double, Double)] = {
    if (history.isEmpty) return Nil
    val histMin: Map[String, Double] =
      history.flatten.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).min }
    ordered.groupBy(_._1.takeWhile(_ != '_')).toSeq.sortBy(_._1).flatMap {
      case (_, rows) if rows.size < 3 => None
      case (fam, rows) =>
        // per history round, compare sums over the keys both sides carry
        val ratios = history.flatMap { round =>
          val common = rows.filter { case (k, _) => round.contains(k) }
          val histSum = common.map { case (k, _) => round(k) }.sum
          val curSum = common.map(_._2).sum
          if (common.size >= 3 && histSum > 0) Some(curSum / histSum) else None
        }
        // trigger on the MIN ratio: current must beat every retained round
        if (ratios.nonEmpty && ratios.min > 1.5) {
          val risers = rows.collect {
            case (k, v) if !alreadySuspect(k) && histMin.contains(k) =>
              (k, v, histMin(k))
          }
          if (risers.isEmpty) None
          else {
            val rep = risers.maxBy { case (_, v, p) => v - p }
            System.err.println(
              f"[bench] family $fam sum ratio ${ratios.min}%.2f > 1.5; " +
                s"nominating ${rep._1} as representative")
            Some(rep)
          }
        } else None
    }
  }

  /** The sentinel query forked alongside every adjudication suspect: a
    * cheap, code-stable window row whose isolated time calibrates the
    * child JVM's cold-start constant (see runDriverMode).
    */
  private[graft] val sentinel = "win_lag_lead"

  /** The round id this run belongs to. The driver closes round N in two
    * steps — CORRECTNESS_rN.json first, THEN the bench — so a plain
    * filename-max+1 keys the driver's own final bench as round N+1 and
    * BENCH_HISTORY holds the same round under two ids (r14 verdict,
    * What's wrong #1). Resolution: when the CORRECTNESS max is AHEAD of
    * the BENCH max, this run IS that correctness round's closing bench;
    * only when the two artifact families agree (mid-round builder runs)
    * is the round max+1. Falls back to 1 on a bare checkout.
    */
  private[graft] def currentRound(
      cwd: java.nio.file.Path = java.nio.file.Paths.get(".")): Int =
    try {
      val patB = "BENCH_r0*([0-9]+)\\.json".r
      val patC = "CORRECTNESS_r0*([0-9]+)\\.json".r
      val s = java.nio.file.Files.list(cwd)
      val names =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toSeq
        } finally s.close()
      val maxB = names.collect { case patB(n) => n.toInt }.maxOption.getOrElse(0)
      val maxC = names.collect { case patC(n) => n.toInt }.maxOption.getOrElse(0)
      if (maxB == 0 && maxC == 0) 1
      else if (maxC > maxB) maxC // driver's closing bench for round maxC
      else math.max(maxB, maxC) + 1
    } catch { case _: Throwable => 1 }

  /** Rolling history (oldest first), one `(round, per-query seconds)`
    * entry per DISTINCT round. `BENCH_HISTORY.json` is JSON-lines:
    * `{"round":N,"queries":{...}}` per retained round. Legacy unkeyed
    * lines (the pre-r14 append-ring) are collapsed into ONE entry keyed
    * `currentRound − 1` holding the per-query MIN across them — they
    * were all same-round reruns, and min is the floor semantics the
    * ring exists for. When the file is absent, seed from the prior
    * round's BENCH_DETAIL.json (keyed by its `round` field when
    * present, else `currentRound − 1`). Empty when neither file parses:
    * a true first run adjudicates nothing.
    */
  private[graft] def readHistory(histPath: java.nio.file.Path,
      detailPath: java.nio.file.Path,
      currentRound: Int): Seq[(Int, Map[String, Double])] = {
    def queriesObj(s: String): Map[String, Double] = {
      val i = s.indexOf("\"queries\"")
      if (i < 0) Map.empty
      else {
        val start = s.indexOf("{", i)
        val end = s.indexOf("}", start)
        if (start < 0 || end < 0) Map.empty
        else "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r
          .findAllMatchIn(s.substring(start, end + 1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    def roundOf(s: String): Option[Int] =
      "\"round\"\\s*:\\s*([0-9]+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    try {
      if (java.nio.file.Files.exists(histPath)) {
        val lines = java.nio.file.Files.readAllLines(histPath,
          java.nio.charset.StandardCharsets.UTF_8)
        import scala.jdk.CollectionConverters._
        val parsed = lines.asScala.toSeq
          .map(l => (roundOf(l), queriesObj(l)))
          .filter(_._2.nonEmpty)
        val keyed = parsed.collect { case (Some(r), qs) => r -> qs }
        val legacy = parsed.collect { case (None, qs) => qs }
        val collapsed =
          if (legacy.isEmpty) Seq.empty
          else Seq((currentRound - 1) ->
            legacy.flatten.groupBy(_._1)
              .map { case (k, kvs) => k -> kvs.map(_._2).min })
        // a keyed entry wins over the legacy collapse at the same round
        val keyedRounds = keyed.map(_._1).toSet
        (keyed ++ collapsed.filterNot(c => keyedRounds(c._1)))
          .sortBy(_._1).takeRight(historyDepth)
      } else if (java.nio.file.Files.exists(detailPath)) {
        val s = new String(java.nio.file.Files.readAllBytes(detailPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val qs = queriesObj(s)
        if (qs.isEmpty) Nil
        else Seq(roundOf(s).getOrElse(currentRound - 1) -> qs)
      } else Nil
    } catch { case _: Throwable => Nil }
  }

  private[graft] def writeHistory(p: java.nio.file.Path,
      rounds: Seq[(Int, Map[String, Double])]): Unit = {
    val body = rounds.map { case (r, qs) =>
      qs.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(s"""{"round":$r,"queries":{""", ",", "}}")
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(p,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Fork one child with this JVM's own flags + classpath; child stdout is
    * redirected to a log file NEXT TO the fragment (ADVICE r11: INHERIT
    * passed it into the parent's stdout, where a stray child println could
    * corrupt the driver-parsed tail; ADVICE r12: a system-temp file per
    * chunk leaked — the sibling log lives in the run's scratch dir, which
    * the parent deletes after the merge) so only the parent ever writes
    * stdout. Child stderr still flows through for progress. Returns false
    * on spawn failure or nonzero exit.
    */
  private def forkChunk(chunk: Seq[String], frag: java.nio.file.Path): Boolean =
    try {
      val javaBin = java.nio.file.Paths
        .get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      cmd.addAll(jvmArgs) // --add-opens, -Xmx, … — Spark 4 needs these
      // sbt `run / fork := true` launches us as a plain `java -cp`, so
      // java.class.path is complete; union in URLClassLoader entries as a
      // belt-and-braces for in-process launchers whose property holds
      // only their bootstrap jar
      val clUrls = Iterator
        .iterate(Thread.currentThread.getContextClassLoader)(_.getParent)
        .takeWhile(_ != null)
        .collect { case u: java.net.URLClassLoader => u.getURLs.toSeq }
        .flatten
        .flatMap(u => scala.util.Try(
          java.nio.file.Paths.get(u.toURI).toString).toOption)
        .toSeq
      val cp = (sys.props("java.class.path")
        .split(java.io.File.pathSeparatorChar).toSeq ++ clUrls)
        .distinct.mkString(java.io.File.pathSeparator)
      cmd.add("-cp"); cmd.add(cp)
      cmd.add("graft.Bench"); cmd.add("--chunk"); cmd.add(frag.toString)
      chunk.foreach(cmd.add)
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(false)
      pb.redirectOutput(
        frag.resolveSibling(frag.getFileName.toString + ".out").toFile)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.start().waitFor() == 0
    } catch { case _: Throwable => false }

  /** Minimal parser for the child fragment (flat {"queries":{...},"failed":[...]}
    * with string keys and double values — no nesting, written by us).
    */
  private def parseFragment(p: java.nio.file.Path)
      : Option[(Map[String, Double], Seq[String])] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val qPat = "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r
      val qsBody = s.substring(s.indexOf("{", s.indexOf("\"queries\"")),
        s.indexOf("}", s.indexOf("\"queries\"")) + 1)
      val qs = qPat.findAllMatchIn(qsBody)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val fBody = s.substring(s.indexOf("[", s.indexOf("\"failed\"")),
        s.indexOf("]", s.indexOf("\"failed\"")) + 1)
      val fs = "\"([A-Za-z0-9_]+)\"".r.findAllMatchIn(fBody)
        .map(_.group(1)).toSeq
      Some((qs, fs))
    } catch { case _: Throwable => None }

  /** Optional `first_run` map of a child fragment (absent pre-r17). */
  private def parseFirstRun(p: java.nio.file.Path): Map[String, Double] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      val i = s.indexOf("\"first_run\"")
      if (i < 0) Map.empty
      else {
        val body = s.substring(s.indexOf("{", i), s.indexOf("}", i) + 1)
        "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  private def summaryLine(total: Double, n: Int, nFailed: Int): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$n,"n_failed":$nFailed,"sf":"$sfDir"}"""
  }

  /** The unchanged r9 timing core: min-of-3 (median for stream_*) over the
    * given subset, sorted-name order, inside THIS JVM.
    */
  private def runInProcess(only: Set[String])
      : (String, Double, Seq[(String, Double, Boolean, Double)], Seq[String]) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // one-time sweep of scratch dirs left by pre-round-3 runs (before the
    // runRoot shutdown hook existed) so long-lived sandboxes stay tidy
    util.sweepStaleScratch()
    val spark = GraftSession.build(cpus.toInt)
    // JVM/session warmup (codegen, shuffle machinery) so first-query
    // timing reflects the query, not session init
    spark.range(1000000).selectExpr("sum(id)").collect()
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val runs = Seq(time(fn), time(fn), time(fn))
        val sorted = runs.sortBy(_._1)
        val rep = if (name.startsWith("stream_")) sorted(1) else sorted.head
        val ok = runs.forall(_._2)
        // first AS-EXECUTED run — carries any one-time staging a memo
        // absorbs before min-of-3 discards it (see firstRunMap)
        (name, rep._1, ok, runs.head._1)
      }
    spark.stop()
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failed = results.collect { case (k, _, false, _) => k }
    val fr = firstRunMap(results)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"detail","queries":$qs,"sf":"$sfDir","failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"first_run":$fr}"""
    (detail, total, results, failed)
  }
}
