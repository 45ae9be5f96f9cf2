package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-6 batch-2 rows: bitmap distinct equals
  * exact distinct, NOT-IN 3VL null poisoning empties the result, moving
  * median matches a local reference, IVM merge equals recompute, and
  * collation grouping folds case variants. DuckDB value parity is the
  * driver gate's job; these pin cross-implementation invariants.
  */
class AnalyticsExtrasSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir
  // interpreted eval only: no whole-stage or expression codegen
  private val interpretedOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("agg_bitmap_distinct equals exact countDistinct per group") {
    val got = q("agg_bitmap_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("join_null_aware_anti: poisoned NOT IN is empty, clean matches anti join") {
    val rows = q("join_null_aware_anti").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) == 0L), "null-poisoned NOT IN must yield 0")
    val highBalNations = Tables(spark, dir, "supplier")
      .filter(col("s_acctbal") > 5000).select(col("s_nationkey")).distinct()
    val want = Tables(spark, dir, "customer")
      .join(highBalNations,
        col("c_nationkey") === col("s_nationkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ts_moving_median matches a local trailing-median reference") {
    val ev = Tables.events(spark, dir)
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .select(col("user_id"), col("ts"), col("event_id"), col("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      sorted.indices.map { i =>
        val frame = sorted.slice(math.max(0, i - 6), i + 1).map(_._4).sorted
        val n = frame.length
        val med = (frame((n + 1) / 2 - 1) + frame(n / 2)) / 2.0
        sorted(i)._3 -> med
      }
    }.toMap
    val got = q("ts_moving_median").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == want)
  }

  test("pipeline_incremental_agg equals one-shot recompute") {
    val got = q("pipeline_incremental_agg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Tables.events(spark, dir)
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("fn_collation_lcase folds the synthesized case variants") {
    val rows = q("fn_collation_lcase").collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables(spark, dir, "customer").count())
    // grouping by the collated mixed-case column must not split segments
    val nSegments = Tables(spark, dir, "customer")
      .select(lower(col("c_mktsegment"))).distinct().count()
    assert(rows.length.toLong == nSegments)
  }

  test("pipeline_training_mix respects the per-language budget and fill order") {
    val rows = q("pipeline_training_mix").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, g) =>
      val byFill = g.sortBy(t => (-t._4, t._1)) // q_int desc, doc_id asc
      // running totals are consistent with the fill order
      var cum = 0L
      byFill.foreach { case (_, _, nTok, _, cumTok) =>
        assert(cum < 3000L, s"$lang doc admitted after budget exhausted")
        cum += nTok
        assert(cumTok == cum, s"$lang cum mismatch")
      }
      // only the LAST admitted doc may overshoot the budget
      assert(byFill.init.forall(_._5 <= 3000L) || byFill.size == 1, lang)
    }
    // the mix contains no exact duplicates (dedup stage really ran)
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("sim_pq_topk recall@5 vs exact int8 L2 clears the refine floor") {
    def q8(v: Seq[Float]): Array[Long] =
      v.map(x => math.max(-127L, math.min(127L, math.floor(x * 254.0 + 0.5).toLong))).toArray
    val vecs = Tables(spark, dir, "embeddings").collect()
      .map(r => r.getLong(0) -> q8(r.getSeq[Float](1))).toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = vecs.keys.filter(_ % 50 == 0).map { qid =>
      qid -> vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, v) => (l2(vecs(qid), v), nid) }
        .sorted.take(5).map(_._2).toSet
    }.toMap
    val got = q("sim_pq_topk").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(got.keySet == exact.keySet)
    val hits = exact.map { case (qid, want) => (got(qid) & want).size }.sum
    val recall = hits.toDouble / (exact.size * 5)
    // measured 0.60 at sf0.001 (tiny 4-code codebooks) / 0.72 at sf0.01;
    // floor set under the small-fixture figure
    assert(recall >= 0.5, s"recall@5 $recall")
  }

  test("sim_ann_ivf_quantized recall@5 clears the nProbe=2 floor") {
    def u8(v: Seq[Float]): Array[Long] =
      v.map(x => math.max(-127L, math.min(127L,
        math.floor(x * 254.0 + 0.5).toLong)) + 127L).toArray
    val vecs = Tables(spark, dir, "embeddings").collect()
      .map(r => r.getLong(0) -> u8(r.getSeq[Float](1))).toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = vecs.keys.filter(_ % 50 == 0).map { qid =>
      qid -> vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, v) => (l2(vecs(qid), v), nid) }
        .sorted.take(5).map(_._2).toSet
    }.toMap
    val got = q("sim_ann_ivf_quantized").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(got.keySet == exact.keySet)
    val hits = exact.map { case (qid, want) => (got(qid) & want).size }.sum
    val recall = hits.toDouble / (exact.size * 5)
    // measured 0.42 at sf0.001 / 0.50 at sf0.01 with 2 of 10 cells probed
    assert(recall >= 0.35, s"recall@5 $recall")
  }

  test("win_percent_rank_cume values are tie-stable ratios in [0,1]") {
    val rows = q("win_percent_rank_cume")
      .collect().map(r => (r.getString(1), r.get(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, pr, cd) =>
      pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0 })
    // tie stability: same (priority, date) => same pct_rank and cume
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.length == 1)
      assert(g.map(_._4).distinct.length == 1)
    }
  }

  test("MedMad kernel matches brute-force doubled median/MAD, eval == codegen") {
    import org.apache.spark.sql.graftbridge.Bridge
    import spark.implicits._
    def brute(v: Seq[Long]): (Long, Long) = {
      val s = v.sorted
      val n = s.length
      val med2 = s((n + 1) / 2 - 1) + s(n / 2)
      val d = v.map(x => math.abs(2 * x - med2)).sorted
      (med2, d((n + 1) / 2 - 1) + d(n / 2))
    }
    val cases = Seq(
      Seq(5L), Seq(3L, 9L), Seq(1L, 2L, 100L),
      Seq(-7L, 0L, 0L, 4L), Seq.tabulate(15)(i => (i * 37 % 11).toLong))
    val df = cases.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "arr")
      .withColumn("mm", Bridge.column(
        graft.functions.MedMad(Bridge.expressionOf(col("arr")))))
    val got = df.orderBy(col("id")).collect()
      .map(r => (r.getSeq[Long](2)(0), r.getSeq[Long](2)(1)))
    assert(got.toSeq == cases.map(brute))
    // interpreted eval must agree with the codegen'd path
    GraftSession.withConfs(spark, interpretedOnly) {
      val interp = df.orderBy(col("id")).collect()
        .map(r => (r.getSeq[Long](2)(0), r.getSeq[Long](2)(1)))
      assert(interp.toSeq == got.toSeq)
    }
  }

  test("agg_gini_concentration: gini in [0,1e6], uniform toy data gives ~0") {
    val rows = q("agg_gini_concentration").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getLong(3)
      assert(g >= 0 && g <= 1000000, s"gini out of range: $g")
    }
    // invariant: a perfectly equal distribution has G = (n-1)/n - ... ≈ 0;
    // rank formula on n equal values gives exactly 2·(n+1)/2/n − (n+1)/n = 0
    import spark.implicits._
    val equal = Seq.tabulate(10)(i => (0, i.toLong, 100L))
      .toDF("grp", "key", "cents")
    val ranked = equal.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("cents"), col("key"))))
    val g = ranked.groupBy(col("grp"))
      .agg(expr("""CAST(floor((CAST(2 AS DOUBLE) * CAST(sum(rn * cents) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
                  - (CAST(count(*) AS DOUBLE) + 1) / CAST(count(*) AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT)""").as("g"))
      .collect()(0).getLong(1)
    assert(g == 0L)
  }

  test("ts_autocorr_lag: lag-0 identity sanity and bounded estimates") {
    val rows = q("ts_autocorr_lag").collect()
    assert(rows.length == 5)
    // |r_k| can exceed 1 slightly for the truncated-sum estimator only in
    // degenerate series; on the fixture it must stay within [-1, 1] e6
    rows.foreach { r =>
      val ac = r.getLong(5)
      assert(ac >= -1000000 && ac <= 1000000, s"autocorr out of range: $ac")
    }
  }

  test("sim_maxsim_late_interaction: MaxSim >= plain sub-vector-aligned dot") {
    // MaxSim picks the best doc sub-vector per query sub-vector, so it
    // dominates the aligned (i==j) sub-vector dot, which is the full
    // quantized dot product. Verify on one query/doc pair recomputed
    // driver-side.
    val rows = q("sim_maxsim_late_interaction").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) <= 3))
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def q8(v: Array[Float]): Array[Long] =
      v.map(x => math.max(-127L, math.min(127L, math.floor(x.toDouble * 254.0 + 0.5).toLong)))
    val qid = rows.head.getLong(0); val did = rows.head.getLong(2)
    val qv = q8(emb(qid)); val dv = q8(emb(did))
    val maxsim = (0 until 8).map { i =>
      (0 until 8).map { j =>
        (0 until 8).map(k => qv(8 * i + k) * dv(8 * j + k)).sum
      }.max
    }.sum
    assert(rows.head.getLong(3) === maxsim, "top-1 score must match local replay")
    val aligned = (0 until 64).map(k => qv(k) * dv(k)).sum
    assert(maxsim >= aligned, "MaxSim must dominate the aligned dot")
    // the native LongMaxSim kernel: interpreted eval must agree with codegen
    GraftSession.withConfs(spark, interpretedOnly) {
      val interp = q("sim_maxsim_late_interaction").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(interp.toSeq === rows.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
    }
  }

  test("ts_rolling_corr: values bounded, first window degenerate-guarded") {
    val rows = q("ts_rolling_corr").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val c = r.getLong(2)
        assert(c >= -1000000 && c <= 1000000, s"corr out of [-1,1]: $c")
      }
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 7, "window rows in [1,7]")
    }
  }

  test("win_sequence_pattern: funnel count matches a driver-side regex replay") {
    val rows = q("win_sequence_pattern").collect()
    assert(rows.nonEmpty)
    // replay one user's sequence locally from the raw events
    val uid = rows.head.getLong(0)
    val seq = Tables.events(spark, dir)
      .filter(col("user_id") === uid)
      // ts is TIMESTAMP_NTZ → java.time.LocalDateTime in collected rows
      .select(col("ts"), col("event_id"), substring(col("event_type"), 1, 1))
      .collect()
      .sortBy(r => (r.getAs[java.time.LocalDateTime](0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        r.getAs[java.time.LocalDateTime](0).getNano / 1000L, r.getLong(1)))
      .map(_.getString(2)).mkString
    val expected = "cv*p".r.findAllIn(seq).length
    assert(rows.head.getLong(2) == expected)
    assert(rows.head.getLong(1) == seq.length)
  }

  test("ts_lttb_downsample: endpoints kept, one point per bucket, global max survives") {
    val pts = q("ts_lttb_downsample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pts.length == 10)
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "purchase",
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).otherwise(0L)).as("y"))
      .select(expr("CAST(datediff(d, to_date('2024-01-01')) AS BIGINT)").as("x"),
        col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // endpoints are always selected
    assert((pts.head._2, pts.head._3) == daily.head)
    assert((pts.last._2, pts.last._3) == daily.last)
    // x strictly increasing (one pick per bucket, in order)
    assert(pts.map(_._2).sliding(2).forall(p => p(0) < p(1)))
    // the global peak forms the largest triangle in its bucket against any
    // neighborhood, so LTTB must keep it (shape preservation — the
    // property uniform sampling lacks)
    val peak = daily.maxBy(p => (p._2, -p._1))
    assert(pts.exists(p => (p._2, p._3) == peak), s"peak $peak dropped")
  }

  test("embed_silhouette_simplified: scores within [-1e6, 1e6]") {
    val rows = q("embed_silhouette_simplified").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getLong(2)
      assert(s >= -1000000L && s <= 1000000L, s"label ${r.getInt(0)}: $s")
    }
  }

  test("multimodal_image_phash: same-group equal-size docs pair with small hamming") {
    val pairs = q("multimodal_image_phash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty)
    // hamming bound is enforced by construction
    assert(pairs.forall(_._3 <= 6))
    // within a group of 4 consecutive ids the base raster is identical and
    // only one cell is perturbed per doc: adjacent same-group pairs must
    // appear (near-dup recall on the planted groups)
    val sameGroup = pairs.filter(p => p._1 / 4 == p._2 / 4)
    assert(sameGroup.nonEmpty, "no within-group near-dup pair surfaced")
  }

  test("stat_linreg_multi: correlations bounded and R2 in [0, 1e6]") {
    val r = q("stat_linreg_multi").collect().head
    Seq(1, 2, 3).foreach { i =>
      assert(math.abs(r.getLong(i)) <= 1000000L, s"corr col $i out of range")
    }
    val r2 = r.getLong(6)
    assert(r2 >= 0L && r2 <= 1000000L, s"R2 $r2 out of [0, 1e6]")
  }

  test("embed_mmr_rerank: first pick is the exact top-1; 5 distinct picks per query") {
    val mmr = q("embed_mmr_rerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQuery = mmr.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (qid, rows) =>
      assert(rows.length == 5, s"query $qid has ${rows.length} picks")
      assert(rows.map(_._3).distinct.length == 5, s"query $qid repeats a pick")
    }
    // with an empty selected set the MMR score is pure relevance, so rank 1
    // must equal the brute-force top-1
    val top1 = q("sim_cosine_topk").collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    byQuery.foreach { case (qid, rows) =>
      val first = rows.find(_._2 == 1L).get._3
      assert(first == top1(qid), s"query $qid: MMR rank-1 $first != exact top-1 ${top1(qid)}")
    }
  }

  test("graph_modularity_greedy: Q in [-1e6, 1e6] and degree mass conserved") {
    val rows = q("graph_modularity_greedy").collect()
    assert(rows.nonEmpty)
    val q6 = rows.head.getLong(4)
    assert(q6 >= -1000000L && q6 <= 1000000L, s"modularity $q6 out of range")
    // every node lands in exactly one community: member and degree mass
    // over communities must equal the graph's node count and degree sum
    val hist = q("graph_degree_histogram").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nNodes = hist.map(_._2).sum
    val degSum = hist.map { case (d, n) => d * n }.sum
    assert(rows.map(_.getLong(1)).sum == nNodes, "member mass not conserved")
    assert(rows.map(_.getLong(3)).sum == degSum, "degree mass not conserved")
  }

  test("multimodal_audio_vad: segment counts consistent with active frames") {
    val rows = q("multimodal_audio_vad").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (nf, na, ns, lr) =>
      assert(na <= nf)
      assert(ns <= na, "more segments than active frames")
      assert(lr <= na, "longest run exceeds active count")
      assert((ns == 0) == (na == 0), "segments iff active frames")
      if (ns > 0) assert(lr * ns >= na, "runs can't cover active frames")
    }
    // the planted burst pattern guarantees real speech in most docs
    assert(rows.count(_._2 > 0) > rows.length / 2)
  }
}
