package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash/LSH near-duplicate detection over token shingles — the standard
  * web-scale dedup pipeline (shingle → k seeded min-hashes → band →
  * bucket-join), built entirely from codegen'd built-ins: `crc32` as the
  * base hash, affine reseeding `(a_j·h + b_j) mod P`, `array_min` per seed.
  * Fully deterministic — no RNG at runtime (SURVEY.md §2.11).
  *
  * Scale: the signature is computed per-row with zero shuffles; the ONLY
  * shuffle is the band-bucket self-join, whose intermediate is bounded by
  * bucket sizes (vs. O(n²) all-pairs). Band count/row count trade recall
  * for cost: b bands of r rows catch pairs with Jaccard ≳ (1/b)^(1/r).
  */
object MinHash {

  /** Large prime modulus for the affine hash family. */
  val P: Long = 2038074743L

  /** Deterministic seed pairs (a_j, b_j), j = 0..k-1. Public so the DuckDB
    * oracle for the portable family can inline the same literals.
    */
  def seeds(k: Int): Seq[(Long, Long)] =
    (0 until k).map { j =>
      val a = (1103515245L * (j + 1) + 12345L) % P
      val b = (69069L * (j + 7) + 1234567L) % P
      (if (a == 0) 1L else a, b)
    }

  /** Token n-gram shingles of a text column (space-tokenized). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    // guard: sequence(0, negative) would generate a DESCENDING range
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o + 1)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-token crc32 hashes. Alias this before feeding [[shingleHashes]] —
    * one crc32 per token total, instead of n per shingle.
    */
  def tokenCrcs(text: Column): Column = transform(split(text, " "), t => crc32(t))

  /** Numeric n-gram shingle hashes from pre-computed token hashes: the
    * shingle at i hashes as a position-weighted combination of its tokens'
    * crc32s — no string concatenation, no per-shingle crc32. Duplicates are
    * kept (array_min is multiset-invariant) unless `distinct`.
    */
  def shingleHashes(crcs: Column, n: Int = 3, distinct: Boolean = false,
      modP: Boolean = true): Column = {
    val weights = Seq(1000003L, 999979L, 999961L, 999959L, 999953L)
    // without modP the combination stays < 2^54 (crc32 < 2^32, weights
    // < 2^20): a ~54-bit gram identity whose collision rate is negligible
    // for exact Jaccard counting; with modP it fits the affine MinHash
    // family (a·h + b must not overflow a long)
    val raw = when(size(crcs) >= n,
      transform(
        sequence(lit(0), size(crcs) - n),
        i => {
          val c = (0 until n).map(o => element_at(crcs, i + o + 1) * weights(o)).reduce(_ + _)
          if (modP) c % P else c
        }))
      .otherwise(array().cast("array<bigint>"))
    if (distinct) array_distinct(raw) else raw
  }

  /** k-wide MinHash signature of a string shingle array. */
  def signature(sh: Column, k: Int = 16): Column =
    array(seeds(k).map { case (a, b) =>
      array_min(transform(sh, s => (lit(a) * crc32(s) + lit(b)) % P))
    }: _*)

  /** k-wide MinHash signature of a numeric shingle-hash array
    * ([[shingleHashes]]) — the hot path: pure long arithmetic per element.
    */
  def signatureFromHashes(sh: Column, k: Int = 16): Column =
    array(seeds(k).map { case (a, b) =>
      array_min(transform(sh, h => (lit(a) * h + lit(b)) % P))
    }: _*)

  /** LSH band keys: `bands` hashes, each over `k/bands` consecutive
    * signature rows.
    */
  def bandKeys(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band_id"), xxhash64(lit(b), slice(sig, b * r + 1, r)).as("band_hash"))
    }: _*)
  }

  // ---------------------------------------------------------------------
  // Portable hash family: every step is plain integer arithmetic over
  // character codes, so a DuckDB oracle can recompute the ENTIRE pipeline
  // (token hash → shingle hash → signature → band key → candidate pairs)
  // bit-for-bit. Collisions are slightly more likely than crc32/xxhash64
  // (band space is mod P ≈ 2^31, not 2^64) but collisions only add
  // low-jaccard candidates that the est_jaccard filter drops IDENTICALLY
  // in both engines — determinism, not collision-freedom, is what the
  // correctness gate needs. The crc32/xxhash64 family above remains for
  // callers that want the cheapest codegen'd hashes and no oracle.
  // ---------------------------------------------------------------------

  /** Portable per-token hashes: fold of character codes,
    * `h = fold(acc * 131 + code) mod P` — the same fold `list_reduce`
    * expresses in DuckDB. Empty tokens hash to 0 (the fold's zero) on both
    * engines; the `length >= 1` guard dodges Spark's descending
    * `sequence(1, 0)` surprise.
    */
  def portableTokenHashes(text: Column): Column =
    transform(split(text, " "), t =>
      aggregate(
        when(length(t) >= 1,
          transform(sequence(lit(1), length(t)), i => ascii(t.substr(i, lit(1))).cast("long")))
          .otherwise(array().cast("array<bigint>")),
        lit(0L),
        (acc, c) => (acc * 131L + c) % P))

  /** Portable LSH band keys: polynomial fold of the band's signature rows
    * seeded by the band id, `fold(acc * 1000003 + v) mod P` (acc < P, so
    * the product stays < 2^51 — no overflow).
    */
  def portableBandKeys(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        aggregate(slice(sig, b * r + 1, r), lit(b.toLong),
          (acc, v) => (acc * 1000003L + v) % P).as("band_hash"))
    }: _*)
  }

  /** Candidate near-duplicate pairs with estimated Jaccard (fraction of
    * agreeing signature positions). `df` must carry (`idCol`, `textCol`).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 8, minEstJaccard: Double = 0.2,
      portable: Boolean = false): DataFrame = {
    // Each stage aliases its result before the next references it many
    // times: HOF expressions are codegen-fallback, so a nested
    // bandKeys(signature(shingles(...))) tree would re-evaluate the shingle
    // computation once PER REFERENCE (~k·bands× per row). CollapseProject
    // keeps multi-referenced non-trivial aliases materialized, making each
    // level a single evaluation. (Measured: 210s → ~2s at sf0.1.)
    // the native fold expression computes BOTH 31-bit character folds
    // packed (hi·2^31 + lo); MinHash's portable token hash IS the low
    // half (m = 131), so one mask per TOKEN replaces the interpreted
    // per-CHARACTER HOF — value-identical (TextDedupSpec parity test)
    val tokHash = if (portable)
      transform(graft.functions.PortableTokenHashes(col(textCol)),
        h => h.bitwiseAND((1L << 31) - 1))
    else tokenCrcs(col(textCol))
    // fanout before the signature computation: token hashing + shingling
    // + k-way minhash is the CPU of every caller, and the single-file
    // fixture scan would run it in ONE task (guide §2.5)
    val crcs = graft.util.fanout(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"), tokHash.as("crcs"))
    val sh = crcs.select(col("doc"), shingleHashes(col("crcs")).as("sh"))
    val sigs = sh.select(col("doc"), signatureFromHashes(col("sh"), k).as("sig"))
      .persist() // reused by both join sides + signature re-attachment
    try {
      val bk = if (portable) portableBandKeys(col("sig"), k, bands)
               else bandKeys(col("sig"), k, bands)
      val exploded = sigs
        .select(col("doc"), explode(bk).as("b"))
        .select(col("doc"), col("b.band_id"), col("b.band_hash"))
      // pair on ids only — signatures re-attach after pair dedup, so the
      // band shuffle carries 3 longs per row, not 2·k-wide arrays
      val a = exploded.select(col("band_id"), col("band_hash"), col("doc").as("doc_a"))
      val b = exploded.select(col("band_id"), col("band_hash"), col("doc").as("doc_b"))
      val pairs = a.join(b, Seq("band_id", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      pairs
        .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .withColumn("est_jaccard",
          aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / k)
        .filter(col("est_jaccard") >= minEstJaccard)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
        // eager localCheckpoint materializes while the cache is hot; its
        // blocks are reclaimed by the ContextCleaner once unreferenced —
        // unlike persist(), which pins the plan in the CacheManager forever
        .localCheckpoint(true)
    } finally sigs.unpersist(false)
  }
}
