package graft

import graft.text.{MinHash, SimHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHash/SimHash properties (SURVEY.md §5.3): determinism, self-similarity,
  * Jaccard estimate bounds, disjoint-docs separation.
  */
class TextDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different words about spark catalyst optimizer internals plans"),
    (4L, "completely different words about spark catalyst optimizer internals plans"), // exact dup of 3
    (5L, "unrelated corpus entry concerning weather patterns rain sun clouds wind")
  ).toDF("doc_id", "text")

  test("exact duplicates get estimated jaccard 1.0") {
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 3L && b == 4L && j == 1.0 })
  }

  test("near-duplicates are found with high estimated jaccard") {
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", minEstJaccard = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nd = pairs.find { case (a, b, _) => a == 1L && b == 2L }
    assert(nd.isDefined && nd.get._3 >= 0.5)
  }

  test("disjoint documents never pair") {
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text", minEstJaccard = 0.05).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.contains((1L, 5L)) && !pairs.contains((3L, 5L)))
  }

  test("portable family: same qualitative behavior as the crc32 family") {
    // exact dup at jaccard 1.0, near-dup found high, disjoint never paired
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text",
        minEstJaccard = 0.05, portable = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 3L && b == 4L && j == 1.0 })
    val nd = pairs.find { case (a, b, _) => a == 1L && b == 2L }
    assert(nd.isDefined && nd.get._3 >= 0.5)
    assert(!pairs.exists { case (a, b, _) => (a, b) == ((1L, 5L)) || (a, b) == ((3L, 5L)) })
  }

  test("portable token hashes: deterministic, empty token folds to 0, all < P") {
    val hs = Seq((1L, "abc  def")).toDF("doc_id", "text")
      .select(MinHash.portableTokenHashes(col("text")).as("hs"))
      .head.getSeq[Long](0)
    assert(hs.length === 3)      // "abc", "" (double space), "def"
    assert(hs(1) === 0L)         // empty token = fold zero
    assert(hs.forall(h => h >= 0 && h < MinHash.P))
    // reference fold for "abc": ((0*131+97)*131+98)*131+99 mod P
    val ref = "abc".foldLeft(0L)((acc, c) => (acc * 131 + c) % MinHash.P)
    assert(hs(0) === ref)
  }

  test("signatures are deterministic across evaluations") {
    val s1 = docs.select(MinHash.signature(MinHash.shingles(col("text"))).as("sig")).collect()
    val s2 = docs.select(MinHash.signature(MinHash.shingles(col("text"))).as("sig")).collect()
    assert(s1.map(_.getSeq[Long](0)).toSeq === s2.map(_.getSeq[Long](0)).toSeq)
  }

  test("shingles of short texts are empty, not an error") {
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    val sh = short.select(MinHash.shingles(col("text"), 3).as("sh")).head.getSeq[String](0)
    assert(sh.isEmpty)
  }

  test("simhash: identical docs share fingerprint; hamming to near-dup is small") {
    val fps = docs.select(col("doc_id"), SimHash.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), SimHash.simhash(col("hs")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(3L) === fps(4L))
    val hammingNear = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val hammingFar = java.lang.Long.bitCount(fps(1L) ^ fps(5L))
    assert(hammingNear < hammingFar)
  }

  test("simhash forms agree: HOF, aggregate, and native expression") {
    val hof = docs.select(col("doc_id"), SimHash.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), SimHash.simhash(col("hs")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = SimHash.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = docs
      .select(col("doc_id"), SimHash.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), graft.functions.SimHashFingerprint(col("hs")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg === hof)
    assert(native === hof)
  }

  test("simhash forms agree on null text and null token-hash elements") {
    val withNull = Seq((1L, "alpha beta gamma"), (2L, null: String))
      .toDF("doc_id", "text")
    def fpMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> Option(r.getAs[java.lang.Long]("fp"))).toMap
    val hof = fpMap(withNull
      .select(col("doc_id"), SimHash.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), SimHash.simhash(col("hs")).as("fp")).collect())
    val agg = fpMap(SimHash.fingerprints(withNull, "doc_id", "text").collect())
    val native = fpMap(withNull
      .select(col("doc_id"), SimHash.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"),
        graft.functions.SimHashFingerprint(col("hs")).as("fp")).collect())
    assert(hof(2L).isEmpty && agg(2L).isEmpty && native(2L).isEmpty,
      "null text must yield NULL fingerprint in all three forms")
    assert(agg === hof)
    assert(native === hof)
    // a null ELEMENT votes 0 (is skipped) in both per-row forms
    val arr: Seq[java.lang.Long] =
      Seq(java.lang.Long.valueOf(0x0f0fL), null, java.lang.Long.valueOf(0x0f0fL))
    val df = Seq(Tuple1(arr)).toDF("hs")
    val h = df.select(SimHash.simhash(col("hs")).as("fp")).head.getLong(0)
    val n = df.select(
      graft.functions.SimHashFingerprint(col("hs")).as("fp")).head.getLong(0)
    assert(h === n)
    assert(h === 0x0f0fL, "two identical votes must win with the null skipped")
  }

  test("simhash_fp interpreted eval matches codegen result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val hashes: Array[java.lang.Long] =
      Array(0x0f0f0f0fL, 0x0f0f0f0fL, -1L).map(java.lang.Long.valueOf)
    val e = graft.functions.SimHashFingerprint(
      Literal.create(hashes.map(_.longValue), ArrayType(LongType)))
    val interp = e.eval(null).asInstanceOf[Long]
    val viaDf = Seq(Tuple1(hashes.map(_.longValue).toSeq)).toDF("hs")
      .select(graft.functions.SimHashFingerprint(col("hs")).as("fp"))
      .head.getLong(0)
    assert(interp === viaDf)
    // majority of 3 with two 0x0f0f0f0f votes: low nibbles win, -1 alone loses
    assert(interp === 0x0f0f0f0fL)
  }

  test("simhash banding: full recall at hamming <= 6 (pigeonhole over 7 bands)") {
    // adversarial fingerprint pairs: distance exactly 6 with the flipped
    // bits spread to straddle any fixed half-split — the case the old
    // two-half bucketing missed
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 200).map { _ =>
      val base = rnd.nextLong()
      val flips = rnd.shuffle((0 until SimHash.Bits).toList).take(6)
      (base, flips.foldLeft(base)((f, b) => f ^ (1L << b)))
    }
    val df = pairs.toDF("fp_a", "fp_b")
      .select(SimHash.bands(col("fp_a")).as("ba"), SimHash.bands(col("fp_b")).as("bb"))
      .select(size(array_intersect(col("ba"), col("bb"))).as("shared"))
    assert(df.filter(col("shared") < 1).count() === 0L)
  }

  test("portable simhash: 62-bit fps, identical docs collide, near-dups within threshold") {
    val fps = SimHash.fingerprints(docs, "doc_id", "text",
        bits = SimHash.PortableBits, hashFn = SimHash.portableTokenHashes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 62-bit family: all fingerprints are non-negative and < 2^62
    fps.values.foreach(fp => assert(fp >= 0L && fp < (1L << SimHash.PortableBits)))
    assert(fps(3L) === fps(4L), "identical docs must share a fingerprint")
    val hammingNear = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val hammingFar = java.lang.Long.bitCount(fps(1L) ^ fps(5L))
    assert(hammingNear < hammingFar)
  }

  test("portable token hash matches the reference character fold") {
    val hs = Seq(Tuple1("abc")).toDF("text")
      .select(SimHash.portableTokenHashes(col("text")).as("hs"))
      .head.getSeq[Long](0)
    def fold(m: Long) = "abc".foldLeft(0L)((acc, c) => (acc * m + c) % MinHash.P)
    assert(hs(0) === fold(137) * (1L << 31) + fold(131))
  }

  test("native portable token hashes match the HOF form on edge cases") {
    // r7: the registry row hashes with the codegen'd expression
    // (graft.functions.PortableTokenHashes); the declarative HOF form is
    // the reference. Split semantics (trailing/doubled spaces → empty
    // tokens), empty string, and multi-token strings must agree exactly.
    val texts = Seq("abc", "a b", "a  b", "a ", " a", "", "xy z zz",
      "the quick brown fox")
    val df = texts.map(Tuple1(_)).toDF("text")
    val hof = df.select(SimHash.portableTokenHashes(col("text")).as("hs"))
      .collect().map(_.getSeq[Long](0))
    val native = df.select(
        graft.functions.PortableTokenHashes(col("text")).as("hs"))
      .collect().map(_.getSeq[Long](0))
    assert(native.toSeq === hof.toSeq)
  }

  test("native fold's low half equals MinHash.portableTokenHashes") {
    val texts = Seq("abc def", "a", "", "x  y ", "the quick brown fox")
    val df = texts.map(Tuple1(_)).toDF("text")
    val hof = df.select(MinHash.portableTokenHashes(col("text")).as("hs"))
      .collect().map(_.getSeq[Long](0))
    val masked = df.select(
        transform(graft.functions.PortableTokenHashes(col("text")),
          h => h.bitwiseAND((1L << 31) - 1)).as("hs"))
      .collect().map(_.getSeq[Long](0))
    assert(masked.toSeq === hof.toSeq)
  }

  test("native portable token hashes: interpreted eval matches codegen") {
    val e = graft.functions.PortableTokenHashes(
      org.apache.spark.sql.catalyst.expressions.Literal("ab cd "))
    val interp = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val viaDf = Seq(Tuple1("ab cd ")).toDF("text")
      .select(graft.functions.PortableTokenHashes(col("text")))
      .head.getSeq[Long](0)
    assert(interp.toSeq === viaDf.toSeq)
  }

  test("portable banding: full recall at hamming <= 6 over 62 bits") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 200).map { _ =>
      val base = rnd.nextLong() & ((1L << SimHash.PortableBits) - 1)
      val flips = rnd.shuffle((0 until SimHash.PortableBits).toList).take(6)
      (base, flips.foldLeft(base)((f, b) => f ^ (1L << b)))
    }
    val df = pairs.toDF("fp_a", "fp_b")
      .select(
        SimHash.bands(col("fp_a"), SimHash.NBands, SimHash.PortableBits).as("ba"),
        SimHash.bands(col("fp_b"), SimHash.NBands, SimHash.PortableBits).as("bb"))
      .select(size(array_intersect(col("ba"), col("bb"))).as("shared"))
    assert(df.filter(col("shared") < 1).count() === 0L)
  }

  test("simhash band widths cover all fingerprint bits exactly once") {
    // reconstruct the fingerprint from its bands: OR of band << offset
    val fp = 0xDEADBEEFL
    val row = Seq(Tuple1(fp)).toDF("fp")
      .select(explode(SimHash.bands(col("fp"))).as("b"))
      .select(col("b.band_id"), col("b.band"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val widths = {
      val base = SimHash.Bits / SimHash.NBands
      val extra = SimHash.Bits % SimHash.NBands
      (0 until SimHash.NBands).map(i => if (i < extra) base + 1 else base)
    }
    val offsets = widths.scanLeft(0)(_ + _)
    val rebuilt = (0 until SimHash.NBands).map(i => row(i) << offsets(i)).reduce(_ | _)
    assert(rebuilt === fp)
  }

  test("candidate-verify: pairs are a candidate subset with exact jaccard >= tau") {
    val dir = SparkTestBase.sfDir
    val verified = SparkEntry.queries("dedup_candidate_verify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified.nonEmpty)
    assert(verified.values.forall(_ >= 0.35))
    // precision leg: exact 3-gram jaccard recomputed on the driver
    val texts = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def gramSet(t: String): Set[Seq[String]] =
      t.split(" ", -1).toSeq.sliding(3).filter(_.length == 3).toSet
    verified.foreach { case ((a, b), j) =>
      val (ga, gb) = (gramSet(texts(a)), gramSet(texts(b)))
      val exact = ga.intersect(gb).size.toDouble / ga.union(gb).size
      assert(math.abs(exact - j) < 1e-12, s"pair ($a,$b)")
    }
    // recall leg: every verified pair came from the LSH candidate set
    val cand = MinHash.nearDupPairs(
        graft.Tables(spark, dir, "documents"), "doc_id", "text",
        k = 16, bands = 8, minEstJaccard = 0.2, portable = true)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.keySet.subsetOf(cand))
  }
}
