package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral guards for the round-11 additions — properties the DuckDB
  * hash oracle can't see (it would agree with a same-on-both-sides bug).
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  test("text_cdc_chunking: chunking partitions every doc; dup mass is bounded") {
    val out = SparkEntry.queries("text_cdc_chunking")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == toks.keySet, "every doc must chunk")
    out.foreach { case (d, (n, dup, dupToks)) =>
      // chunks partition the token stream: 1 <= chunks <= tokens, marked
      // duplicates are a subset, duplicated mass can't exceed the doc
      assert(n >= 1 && n <= toks(d), s"doc $d: $n chunks of ${toks(d)} tokens")
      assert(dup <= n, s"doc $d: $dup dup chunks of $n")
      assert(dupToks <= toks(d), s"doc $d: dup_tokens $dupToks > ${toks(d)} tokens")
    }
    // the fixture's near-dup structure must surface: SOME chunk recurs
    assert(out.values.map(_._2).sum > 0, "no duplicated chunk anywhere — census inert")
  }

  test("text_cdc_chunking: boundaries re-synchronize after an insertion (the CDC property)") {
    // positional chunking would shift every boundary after an insertion;
    // content-defined chunking loses at most the chunks touching the edit.
    // Synthesize the comparison through the SAME portable hash + cut rule.
    import spark.implicits._
    val text = Tables(spark, dir, "documents")
      .orderBy(col("doc_id")).select(col("text")).as[String].head()
    def chunks(t: String): Seq[String] = {
      val df = Seq(t).toDF("text")
      df.select(
          posexplode(arrays_zip(
            split(col("text"), " "),
            transform(graft.functions.PortableTokenHashes(col("text")),
              h => h.bitwiseAND((1L << 31) - 1)))).as(Seq("pos", "z")))
        .select(col("pos"), col("z.0").as("tok"), col("z.1").as("th"))
        .withColumn("cut", when(col("th") % 16 === 0, 1L).otherwise(0L))
        .withColumn("chunk_id", coalesce(sum(col("cut")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("pos"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
        .groupBy(col("chunk_id"))
        .agg(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)")).as("c"))
        .orderBy(col("chunk_id")).as[(Long, String)].collect().map(_._2).toSeq
    }
    val base = chunks(text)
    val edited = chunks("zzInsertedTokenzz " + text)
    assert(base.size >= 3, s"doc too short for the property: ${base.size} chunks")
    // only the chunk containing the edit may change: everything after the
    // first content-defined boundary survives verbatim (compare DISTINCT
    // chunk sets — the fixture docs repeat short chunks like "batch")
    val lost = base.distinct.toSet -- edited.toSet
    assert(lost.size <= 1,
      s"insertion destroyed ${lost.size} distinct chunks of ${base.distinct.size} — boundaries did not re-synchronize")
    assert(edited.drop(1) == base.drop(1) || edited.size == base.size + 1,
      "tail chunks shifted instead of re-synchronizing")
  }

  test("text_minhash_bbit: b-bit agreement dominates full agreement; estimator pinned to bounds") {
    val rows = SparkEntry.queries("text_minhash_bbit")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (full, bbit, jhat) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // equal signature values have equal low bits — never the reverse
      assert(bbit >= full, s"b-bit agreement $bbit < full $full: $r")
      assert(jhat >= 0 && jhat <= 1000000, s"estimator out of bounds: $r")
      // identical signatures estimate exactly 1.0 after bias correction
      if (bbit == 16) assert(jhat == 1000000, s"all-16 b-bit match must estimate 1e6: $r")
    }
  }

  test("cdc_schema_evolution_feed: the pre-evolution generation lands in the default bucket") {
    val rows = SparkEntry.queries("cdc_schema_evolution_feed")(spark, dir).collect()
    val byPrio = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPrio.contains("UNKNOWN") && byPrio("UNKNOWN") > 0,
      "gen1 rows (no priority column) must surface under the coalesce default")
    assert(byPrio.values.sum ==
      Tables(spark, dir, "orders").count(),
      "generations must partition the feed exactly — nothing lost or doubled")
  }

  test("sink_parquet_codecs: content is codec-invariant, files genuinely differ") {
    val rows = SparkEntry.queries("sink_parquet_codecs")(spark, dir).collect()
    assert(rows.length == 3)
    val tuples = rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).distinct
    assert(tuples.length == 1,
      s"codec changed the content: ${rows.mkString("; ")}")
  }

  test("pipeline_grpo_group_advantage: advantages are group-centered and unit-scaled") {
    val rows = SparkEntry.queries("pipeline_grpo_group_advantage")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    val byGrp = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byGrp.foreach { case (g, advs) =>
      val n = advs.length
      if (advs.exists(_ != 0)) {
        // z-scores sum to 0 exactly in rationals; e6 rounding leaves ≤ n/2
        assert(math.abs(advs.sum) <= n, s"group $g advantages not centered: ${advs.toSeq}")
        // and their squares sum to (n-1)·1e12 up to rounding
        val ss = advs.map(a => a.toDouble * a).sum
        assert(math.abs(ss - (n - 1) * 1e12) < 1e8,
          s"group $g advantages not unit-scaled: sum sq $ss for n=$n")
      }
    }
  }

  test("pipeline_domain_mix_doremi: weights form a smoothed distribution") {
    val rows = SparkEntry.queries("pipeline_domain_mix_doremi")(spark, dir).collect()
    val d = rows.length
    val ws = rows.map(_.getLong(4))
    // sums to 1e6 up to one integer-division truncation per domain
    assert(math.abs(ws.sum - 1000000L) <= 2L * d,
      s"weights sum to ${ws.sum}, expected ~1e6 over $d domains")
    // the uniform smoothing floor holds for every domain
    ws.foreach(w => assert(w >= 200000L / d,
      s"weight $w under the α/D floor of ${200000L / d}"))
  }

  test("ts_haar_energy: level-1 energy matches a direct per-user recompute") {
    import spark.implicits._
    val out = SparkEntry.queries("ts_haar_energy")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val series = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
      .select(col("user_id"), col("c")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap
    assert(out.nonEmpty)
    out.foreach { case (u, (e1, e2, e3)) =>
      val s0 = series(u).take(series(u).length / 8 * 8)
      def fold(v: Vector[Long]): (Vector[Long], Long) = {
        val pairs = v.grouped(2).toVector
        (pairs.map(p => p(0) + p(1)), pairs.map(p => { val d = p(0) - p(1); d * d }).sum)
      }
      val (a1, d1) = fold(s0); val (a2, d2) = fold(a1); val (_, d3) = fold(a2)
      assert((e1, e2, e3) == ((d1, d2, d3)), s"user $u: got ($e1,$e2,$e3) want ($d1,$d2,$d3)")
    }
  }

  test("scan_avro_roundtrip: lossless, one container per task, deterministic layout") {
    val df = SparkEntry.queries("scan_avro_roundtrip")(spark, dir)
    assert(df.count() == Tables(spark, dir, "orders").count(),
      "avro roundtrip lost or duplicated rows")
    // the write leg landed exactly one part-p<pid>.avro per partition
    // (re-running overwrites, never accumulates — the SpjStage posture);
    // dig the staged dir out of the read plan's file index
    val files = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.flatMap(_.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.inputFiles)
    assert(files.nonEmpty && files.forall(_.matches(".*part-p\\d+\\.avro")),
      s"unexpected layout: ${files.take(5).mkString(", ")}")
  }

  test("pipeline_eval_decontam: eval rows never counted; dropped+kept partitions train") {
    val rows = SparkEntry.queries("pipeline_eval_decontam")(spark, dir).collect()
    val trainTotal = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 50 =!= 0).count()
    assert(rows.map(_.getLong(1)).sum == trainTotal,
      "census must cover exactly the training split")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"dropped+kept must partition train: $r")
    }
  }

  test("pipeline_ccnet_ppl_buckets: terciles are balanced and score-ordered") {
    val rows = SparkEntry.queries("pipeline_ccnet_ppl_buckets")(spark, dir).collect()
    assert(rows.length == 3, s"expected 3 buckets, got ${rows.length}")
    val n = Tables(spark, dir, "documents").count()
    rows.foreach(r => assert(math.abs(r.getLong(1) - n / 3) <= 1,
      s"bucket imbalance: $r vs n/3=${n / 3}"))
    // bucket k's max score never exceeds bucket k+1's min (ties aside,
    // the rank tiebreak allows equal scores to straddle a boundary)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(2),
        s"buckets out of order: ${a} then ${b}")
    }
  }

  test("sort_keyset_pagination: pages are disjoint, contiguous, and the cursor predicate reaches the scan") {
    val rows = SparkEntry.queries("sort_keyset_pagination")(spark, dir).collect()
    val p1 = rows.filter(_.getLong(2) == 1L).map(r => (String.valueOf(r.get(0)), r.getLong(1)))
    val p2 = rows.filter(_.getLong(2) == 2L).map(r => (String.valueOf(r.get(0)), r.getLong(1)))
    assert(p1.length == 100 && p2.length == 100)
    assert(p1.toSet.intersect(p2.toSet).isEmpty, "pages overlap")
    assert(p1.max._1 <= p2.min._1 || (p1.max._1 == p2.min._1),
      "page 2 must start at or after page 1's end")
    // the whole point of keyset over OFFSET: the cursor predicate is
    // sargable and lands in the parquet scan as a pushed filter
    val base = Tables(spark, dir, "orders")
      .select(col("o_orderdate").as("d"), col("o_orderkey").as("k"))
    val cursorPlan = base
      .filter(col("d") > lit(java.sql.Date.valueOf("1995-01-01")) ||
        (col("d") === lit(java.sql.Date.valueOf("1995-01-01")) && col("k") > lit(42L)))
      .queryExecution.executedPlan.toString
    assert(cursorPlan.contains("PushedFilters") && cursorPlan.contains("Or(GreaterThan(o_orderdate"),
      s"keyset predicate not pushed:\n${cursorPlan.take(800)}")
  }

  test("feat_target_encoding_loo: encoding excludes the row's own target") {
    import spark.implicits._
    val rows = SparkEntry.queries("feat_target_encoding_loo")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCust = rows.groupBy(_._2)
    byCust.foreach { case (c, rs) =>
      if (rs.length > 1) {
        val s = rs.map(_._3).sum
        rs.foreach { case (k, _, t, loo) =>
          assert(loo == (s - t) / (rs.length - 1),
            s"order $k cust $c: loo $loo != ${(s - t) / (rs.length - 1)}")
          // leakage check: a row with an extreme target must see an
          // encoding that does NOT contain it — computable as exact bound
          assert(loo * (rs.length - 1) <= s - t + (rs.length - 2).max(0),
            s"encoding appears to include the row's own target: $k")
        }
      }
    }
  }

  test("pipeline_rejection_sampling_bon: selects the group argmax with non-negative margin") {
    val rows = SparkEntry.queries("pipeline_rejection_sampling_bon")(spark, dir).collect()
    val best = Tables(spark, dir, "documents")
      .select((col("doc_id") / 4).cast("long").as("g"), col("n_chars").as("r"))
      .groupBy(col("g")).agg(max(col("r")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == best.size, "one selection per group")
    rows.foreach { r =>
      assert(r.getLong(2) == best(r.getLong(0)),
        s"group ${r.getLong(0)}: selected ${r.getLong(2)}, argmax is ${best(r.getLong(0))}")
      assert(r.getLong(3) >= 0, s"negative selection margin: $r")
    }
  }

  test("eval_length_controlled_winrate: macro average is the equal-weight bucket mean") {
    val rows = SparkEntry.queries("eval_length_controlled_winrate")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 3)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1), s"wins exceed pairs: $r"))
    val expected = rows.map(r => r.getLong(2) * 1000000L / r.getLong(1)).sum / rows.length
    rows.foreach(r => assert(r.getLong(3) == expected,
      s"macro ${r.getLong(3)} != recomputed $expected"))
  }

  test("dq_fk_inference: declared FKs contain fully; the reversed pair does not") {
    val rows = SparkEntry.queries("dq_fk_inference")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(4))).toMap
    assert(rows("lineitem.l_orderkey") == 1000000L, "l_orderkey ⊆ o_orderkey must hold")
    assert(rows("orders.o_custkey") == 1000000L, "o_custkey ⊆ c_custkey must hold")
    assert(rows("lineitem.l_partkey") == 1000000L, "l_partkey ⊆ p_partkey must hold")
    // the deliberately reversed pair: fixtures carry orders with no
    // lineitems, so reverse containment is partial — and must equal the
    // independently recomputed value
    val expect = {
      val o = Tables(spark, dir, "orders").select(col("o_orderkey")).distinct()
      val contained = o.join(
        Tables(spark, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")).distinct(),
        Seq("o_orderkey"), "left_semi").count()
      contained * 1000000L / o.count()
    }
    assert(rows("orders.o_orderkey") == expect && expect < 1000000L,
      s"reverse containment ${rows("orders.o_orderkey")} should be the partial $expect")
  }

  test("win_water_filling_alloc: conservation, demand cap, and max-min fairness") {
    val rows = SparkEntry.queries("win_water_filling_alloc")(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    rows.foreach { case (_, d, a) =>
      assert(a >= 0 && a <= d, s"allocation $a outside [0, demand $d]")
    }
    rows.groupBy(_._1).foreach { case (cls, rs) =>
      val totD = rs.map(_._2).sum; val totA = rs.map(_._3).sum
      assert(totA == math.min(5000L, totD),
        s"class $cls: allocated $totA, budget-conservation expects ${math.min(5000L, totD)}")
      // max-min property: any order NOT fully served gets at least as
      // much as every other order's allocation minus the ±1 remainder unit
      val unsat = rs.filter(r => r._3 < r._2).map(_._3)
      if (unsat.nonEmpty) {
        val lvl = unsat.min
        assert(rs.forall(_._3 <= lvl + 1),
          s"class $cls: someone got more than an unsatisfied order's level $lvl")
      }
    }
  }

  test("stat_diff_in_diff: cells partition the events; the estimate matches its own cells") {
    val r = SparkEntry.queries("stat_diff_in_diff")(spark, dir).head()
    val (n11, s11, n10, s10) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (n01, s01, n00, s00) = (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    assert(n11 + n10 + n01 + n00 == Tables.events(spark, dir).count(),
      "the four cells must partition the event stream")
    assert(Seq(n11, n10, n01, n00).forall(_ > 0), "degenerate cell")
    val expect = (BigInt(1000000) * s11 / n11 - BigInt(1000000) * s10 / n10) -
      (BigInt(1000000) * s01 / n01 - BigInt(1000000) * s00 / n00)
    assert(BigInt(r.getLong(8)) == expect,
      s"did ${r.getLong(8)} != cell recompute $expect")
  }

  test("eval_judge_position_bias: far bands are order-stable, the close band flips") {
    val rows = SparkEntry.queries("eval_judge_position_bias")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // bands 1 and 2 (|dq| > 2): no bonus, verdicts identical in both orders
    Seq(1L, 2L).filter(rows.contains).foreach { b =>
      val (n, cons, _) = rows(b)
      assert(cons == n, s"band $b should be fully order-consistent: $cons of $n")
    }
    // band 0 (close pairs): the position bonus flips STRICTLY-close
    // verdicts, so consistency must be below 100% and the first slot
    // must win MORE than half of all judgments — the bias signature
    val (n0, cons0, first0) = rows(0L)
    assert(cons0 < n0, "close band shows no position sensitivity — bonus inert")
    assert(first0 > n0, s"first slot won $first0 of ${2 * n0} judgments — no bias detected")
  }
}
