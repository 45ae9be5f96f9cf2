package graft.ops

import graft.{Q, Staged, Tables, util}
import graft.text.{MinHash, SimHash}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.11 text-analysis / dedup operators for the LLM-data-pipeline charter
  * extension, over the `documents` fixture. Everything is per-row HOF work
  * plus at most one keyed shuffle — the shapes that survive a 100 TB corpus:
  * exact dedup is a hash groupBy, near-dup is banded LSH (never all-pairs),
  * n-gram Jaccard is blocked by source before pairing.
  */
object TextOps {

  private def toks: Column = split(col("text"), " ")

  /** The 5-round BPE training loop on the deterministic ~1/4 hash sample
    * of the English sub-corpus (see [[text_bpe_train_merges]] for why the
    * sample + per-round parquet checkpoints are the 100 TB shape).
    * Returns (merge_rank, pair, pair_count_at_selection, vocab_after) —
    * `withVocab = false` skips the per-round countDistinct jobs for
    * callers that only need the ordered pairs (the encoder).
    *
    * Staged per (session, vocab flag): the trainer is deterministic, so
    * every consumer — the trainer row, the encoder, the BPE budget row —
    * shares ONE 5-round training run per session instead of re-learning
    * the same merges, the way a production tokenizer is trained once and
    * applied everywhere.
    */
  private def bpeTrain(s: SparkSession, dir: String, withVocab: Boolean)
      : Seq[(Long, String, Long, Long)] =
    Staged(s, s"text.bpe.$withVocab", dir)(bpeTrainBuild(s, dir, withVocab))

  private def bpeTrainBuild(s: SparkSession, dir: String, withVocab: Boolean)
      : Seq[(Long, String, Long, Long)] = {
    val bigramsOf = (tk: Column) => transform(
      sequence(lit(1), size(tk) - 1),
      i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1)))
    var corpus = Tables(s, dir, "documents")
      .filter(col("lang") === "en" &&
        (col("doc_id") % 1000003L) * 2654435761L % 4L === 0L)
      .select(col("doc_id"), col("text"))
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    for (rank <- 1 to 5) {
      val tk = split(col("text"), " ")
      // the argmax winner collects FIRST (1 row to the driver — the
      // standard driver-coordinated loop), so the rewrite can run as a
      // LINEAR regex pass with the pair as literals instead of the
      // per-token fold (quadratic in doc length) joined against the
      // 1-row top — semantics identical (see bpeEncodedCorpus's
      // equivalence argument; the DuckDB oracle still replays the fold)
      val winner = corpus.select(tk.as("tk")).filter(size(col("tk")) >= 2)
        .select(explode(bigramsOf(col("tk"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .collect().head
      val Array(pa, pb) = winner.getString(0).split(" ", 2)
      val pat = "(?<=^|[ ])" + java.util.regex.Pattern.quote(pa) + "[ ]" +
        java.util.regex.Pattern.quote(pb) + "(?=[ ]|$)"
      val repl = java.util.regex.Matcher.quoteReplacement(pa + "_" + pb)
      val next = corpus.select(col("doc_id"),
        regexp_replace(col("text"), pat, repl).as("text"))
      val ckpt = graft.util.tempDir(s"graft_bpe_r${rank}_")
      next.write.mode("overwrite").parquet(ckpt)
      corpus = s.read.parquet(ckpt)
      val vocab =
        if (!withVocab) 0L
        else corpus
          .select(explode(split(col("text"), " ")).as("tok"))
          .agg(countDistinct(col("tok"))).collect().head.getLong(0)
      rows += ((rank.toLong, winner.getString(0), winner.getLong(1), vocab))
    }
    rows.toSeq
  }

  /** The full English corpus with [[bpeTrain]]'s learned merges applied
    * in rank order — the encoder's map-only production pass (merge table
    * as driver literals, 5 passes chained lazily into one stage). Each
    * pass is a LINEAR regex scan, not the trainer's per-token fold: the
    * fold rebuilds the document string token by token (quadratic in doc
    * length — measured 17 s at sf0.1), while a boundary-anchored
    * left-to-right `regexp_replace` of "pa pb" → "pa_pb" is one O(len)
    * pass with IDENTICAL semantics. Equivalence argument: both consume
    * matches strictly left to right, and a merge can never enable
    * another merge at the same position within the same pass — the
    * merged token "pa_pb" ends in pb, never in pa (pb is non-empty), so
    * no new left-token occurrence is created where the scan already
    * passed. The DuckDB oracle still replays the fold (list_reduce), so
    * the hash gate certifies the equivalence on every doc at sf0.01;
    * Round15Spec proves decode(encode(text)) == text on top.
    */
  private[graft] def bpeEncodedCorpus(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val merges = bpeTrain(s, dir, withVocab = false)
      .sortBy(_._1).map(_._2)
    var applied = Tables(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("text"))
    merges.foreach { pair =>
      val Array(pa, pb) = pair.split(" ", 2)
      val pat = "(?<=^|[ ])" + java.util.regex.Pattern.quote(pa) + "[ ]" +
        java.util.regex.Pattern.quote(pb) + "(?=[ ]|$)"
      val repl = java.util.regex.Matcher.quoteReplacement(pa + "_" + pb)
      applied = applied.select(col("doc_id"),
        regexp_replace(col("text"), pat, repl).as("text"))
    }
    applied
  }

  /** The trainer's sample CTE (no WITH): the same hash quarter of the
    * English sub-corpus as [[bpeTrain]].
    */
  private val bpeSampleCte: String =
    """c0 AS (SELECT doc_id, text FROM documents
      |            WHERE lang = 'en'
      |              AND (doc_id % 1000003) * 2654435761 % 4 = 0)""".stripMargin

  /** Unrolled 5-round trainer CTEs: pK = round-K winning pair, cK =
    * sample corpus after K merges, and (when `withVocab`) vK = vocab size
    * after the round-K rewrite. No leading WITH / trailing comma.
    */
  private def bpeRoundsSql(withVocab: Boolean): String =
    (1 to 5).map { k =>
      val vocabCte =
        if (!withVocab) ""
        else s""",
           |v$k AS (
           |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM (
           |    SELECT unnest(string_split(text, ' ')) AS tok FROM c$k) u)""".stripMargin
      s"""p$k AS (
         |  SELECT pair, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(
         |             range(1, len(string_split(text, ' '))),
         |             i -> string_split(text, ' ')[i] || ' ' ||
         |                  string_split(text, ' ')[i + 1])) AS pair
         |    FROM c${k - 1} WHERE len(string_split(text, ' ')) >= 2) t
         |  GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1),
         |c$k AS (
         |  SELECT doc_id, list_reduce(string_split(text, ' '),
         |    (acc, x) -> CASE
         |      WHEN regexp_extract(acc, '([^ ]*)${"$"}', 1) = split_part(p$k.pair, ' ', 1)
         |       AND x = split_part(p$k.pair, ' ', 2)
         |      THEN acc || '_' || x ELSE acc || ' ' || x END) AS text
         |  FROM c${k - 1}, p$k)$vocabCte""".stripMargin
    }.mkString(",\n")

  /** The encoder's merge-application CTEs e0..e5 (mirrors
    * [[bpeEncodedCorpus]] via the oracle-side fold — see the equivalence
    * argument there): e0 = the full English corpus, eK = e{K-1} with the
    * round-K winning pair merged. Shared by the encode row and the BPE
    * budget row. No leading WITH / trailing comma.
    */
  private lazy val bpeApplyCtes: String = {
    val applies = (1 to 5).map { k =>
      s"""e$k AS (
         |  SELECT doc_id, list_reduce(string_split(text, ' '),
         |    (acc, x) -> CASE
         |      WHEN regexp_extract(acc, '([^ ]*)${"$"}', 1) = split_part(p$k.pair, ' ', 1)
         |       AND x = split_part(p$k.pair, ' ', 2)
         |      THEN acc || '_' || x ELSE acc || ' ' || x END) AS text
         |  FROM e${k - 1}, p$k)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
       |$applies""".stripMargin
  }

  /** Marker-token vocabularies for the n-gram/stopword language heuristic. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "des"),
    "de" -> Seq("der", "die", "und"),
    "zh" -> Seq("de5", "le5", "shi4"))

  private def markerCount(ts: Seq[String]): Column =
    size(filter(toks, t => t.isin(ts.map(lit): _*)))

  private def markerCountSql(ts: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${ts.map(t => s"'$t'").mkString(", ")})))"

  /** DuckDB mirror of the PORTABLE MinHash pipeline (k=16, bands=8, r=2,
    * 3-gram shingles, est_jaccard ≥ 0.2): token hashes are the same
    * character fold, signatures the same affine family with the literal
    * seeds from [[MinHash.seeds]], band keys the same polynomial fold —
    * so the candidate-pair SET matches exactly; hash collisions (possible
    * at mod-P width) occur identically in both engines.
    */
  private def minhashOracleSql: String =
    s"""$minhashCandCtes
       |SELECT doc_a, doc_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The MinHash candidate chain (token fold → shingles → signatures →
    * band buckets → candidate pairs → est_jaccard) as a reusable WITH
    * prefix: `text_neardup_minhash` selects from `est` directly;
    * `dedup_candidate_verify` chains the exact-Jaccard verification pass
    * on top of the same candidate set.
    */
  private def minhashCandCtes: String = minhashCandCtes("documents", "")

  /** Same chain with a custom source relation and optional leading CTEs
    * (the cascade row runs MinHash over exact-dedup survivors). */
  private def minhashCandCtes(src: String, pre: String): String = {
    val P = MinHash.P
    val sigExprs = MinHash.seeds(16).map { case (a, b) =>
      s"list_min(list_transform(sh, h -> ($a * h + $b) % $P))"
    }.mkString("[\n           ", ",\n           ", "\n         ]")
    s"""WITH ${pre}hs AS (
       |  SELECT doc_id,
       |         list_transform(string_split(text, ' '), t ->
       |           list_reduce(
       |             list_prepend(CAST(0 AS BIGINT),
       |               list_transform(generate_series(1, length(t)),
       |                 i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
       |             (acc, c) -> (acc * 131 + c) % $P)) AS hs
       |  FROM $src),
       |sh AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, len(hs) - 3),
       |           i -> (hs[i+1]*1000003 + hs[i+2]*999979 + hs[i+3]*999961) % $P) AS sh
       |  FROM hs WHERE len(hs) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |         $sigExprs AS sig
       |  FROM sh WHERE len(sh) >= 1),
       |bandrows AS (
       |  SELECT doc_id, j AS band_id,
       |         list_reduce(list_prepend(j, sig[j*2+1 : j*2+2]),
       |           (acc, v) -> (acc * 1000003 + v) % $P) AS band_hash
       |  FROM sig, range(0, 8) t(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandrows a JOIN bandrows b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b,
       |         len(list_filter(generate_series(1, 16), j -> sa.sig[j] = sb.sig[j])) / 16.0 AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = doc_a
       |  JOIN sig sb ON sb.doc_id = doc_b)""".stripMargin
  }

  /** DuckDB mirror of the PORTABLE SimHash pipeline (62-bit fingerprints,
    * 7 bands, hamming ≤ 6): token hashes are the same two character folds
    * concatenated `hi·2^31 + lo`, the fingerprint the same per-bit
    * majority vote (strict `> 0` on the ±1 sum, i.e. `2·ones > n`), band
    * masks/offsets the same widths-differ-by-one split — so the candidate
    * set and Hamming distances match exactly.
    */
  private def simhashOracleSql: String = {
    val P = MinHash.P
    def fold(m: Long) =
      s"""list_reduce(
         |             list_prepend(CAST(0 AS BIGINT),
         |               list_transform(generate_series(1, length(t)),
         |                 i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
         |             (acc, c) -> (acc * $m + c) % $P)""".stripMargin
    val bits = SimHash.PortableBits
    val bitTerms = (0 until bits).map { b =>
      s"(CASE WHEN sum(2 * ((h >> $b) & 1) - 1) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" +\n         ")
    val base = bits / SimHash.NBands
    val extra = bits % SimHash.NBands
    val widths = (0 until SimHash.NBands).map(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val offsetList = offsets.init.mkString("[", ", ", "]")
    val maskList = widths.map(w => (1L << w) - 1).mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(list_transform(string_split(text, ' '), t ->
       |           (${fold(137)}) * ${1L << 31} +
       |           (${fold(131)}))) AS h
       |  FROM documents),
       |fp AS (
       |  SELECT doc_id,
       |         $bitTerms AS fp
       |  FROM tok GROUP BY doc_id),
       |bandrows AS (
       |  SELECT doc_id, fp, j AS band_id,
       |         (fp >> $offsetList[j+1]) & $maskList[j+1] AS band
       |  FROM fp, range(0, ${SimHash.NBands}) t(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |  FROM bandrows a JOIN bandrows b
       |    ON a.band_id = b.band_id AND a.band = b.band AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= ${SimHash.GuaranteedHamming}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val defs: Seq[Q] = Seq(
    Q(
      "text_cdc_chunking",
      // Content-defined chunking (round-11, FastCDC at token granularity):
      // chunk boundaries are decided by token CONTENT (portable token-hash
      // % 16 == 0), not position, so an insertion early in a document
      // shifts every byte offset yet downstream boundaries re-synchronize
      // — the property that lets chunk-level dedup catch near-identical
      // docs that whole-doc hashing misses and positional n-grams only
      // partially cover. Per doc: chunk count, chunks whose text recurs
      // anywhere in the corpus, and the duplicated token mass. Scale: the
      // boundary pass shuffles (doc_id, pos, hash) — 24 B/token; the
      // frequency join ships chunk STRINGS here (the oracle's collision
      // audit, house style of text_substring_dedup_spans) where a real
      // 100 TB run ships xxhash64(chunk) — 8 B/chunk. The oracle replays
      // the char-fold hash, the cut rule and the chunking bit-for-bit.
      (s, dir) => {
        val P = graft.text.MinHash.P
        // native fold (low 31-bit half == the portable char fold; parity
        // spec-tested in TextDedupSpec) — one codegen'd pass per token
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(arrays_zip(
              split(col("text"), " "),
              transform(
                graft.functions.PortableTokenHashes(s, col("text")),
                h => h.bitwiseAND((1L << 31) - 1)))).as(Seq("pos", "z")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("z.0").as("tok"), col("z.1").as("th"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val chunks = toks
          .withColumn("cut", when(col("th") % 16 === 0, 1L).otherwise(0L))
          // a cut ends the chunk AT this token: the next token starts a
          // new chunk, so the id is the cumsum of cuts STRICTLY BEFORE
          .withColumn("chunk_id", coalesce(
            sum(col("cut")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .groupBy(col("doc_id"), col("chunk_id"))
          .agg(
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"))
              .as("chunk_str"),
            count(lit(1)).as("n_tok"))
        val freq = chunks.groupBy(col("chunk_str"))
          .agg(count(lit(1)).as("cnt"))
        chunks.join(freq, Seq("chunk_str"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_chunks"),
            sum(when(col("cnt") > 1, col("n_tok")).otherwise(0L)).as("dup_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
              |hs AS (
              |  SELECT doc_id, ts,
              |         list_transform(ts, t ->
              |           list_reduce(
              |             list_prepend(CAST(0 AS BIGINT),
              |               list_transform(generate_series(1, length(t)),
              |                 i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
              |             (acc, c) -> (acc * 131 + c) % ${graft.text.MinHash.P})) AS hs
              |  FROM d),
              |tok AS (
              |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i + 1] AS tok,
              |         CASE WHEN hs[i + 1] % 16 = 0 THEN 1 ELSE 0 END AS cut
              |  FROM hs, unnest(range(0, len(ts))) AS u(i)),
              |ch AS (
              |  SELECT doc_id, pos, tok,
              |         CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              |           AS chunk_id
              |  FROM tok),
              |chunks AS (
              |  SELECT doc_id, chunk_id,
              |         string_agg(tok, ' ' ORDER BY pos) AS chunk_str,
              |         CAST(count(*) AS BIGINT) AS n_tok
              |  FROM ch GROUP BY doc_id, chunk_id),
              |freq AS (
              |  SELECT chunk_str, count(*) AS cnt FROM chunks GROUP BY chunk_str)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              |       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
              |       CAST(sum(CASE WHEN cnt > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens
              |FROM chunks JOIN freq USING (chunk_str)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_minhash_bbit",
      // b-bit MinHash (round-11, Li & König): store only the low b=4 bits
      // of each of the k=16 signature positions — a 4× signature
      // compression (the at-scale lever: signature storage dominates
      // MinHash state at corpus size), at the cost of random collisions
      // inflating raw agreement by 1/2^b. The row emits, per LSH
      // candidate pair, the full-width agreement count, the b-bit
      // agreement count, and the bias-CORRECTED b-bit Jaccard estimate
      // Ĵ = (q − 2⁻ᵇ)/(1 − 2⁻ᵇ) in exact e6 integer arithmetic (clamped
      // at 0 below the random baseline). Same portable hash family as
      // text_neardup_minhash, so the oracle replays signatures, bands,
      // candidates and both estimators bit-for-bit.
      (s, dir) => {
        import graft.text.MinHash
        val k = 16
        val docs = Tables(s, dir, "documents")
        val tokHash = transform(
          graft.functions.PortableTokenHashes(s, col("text")),
          h => h.bitwiseAND((1L << 31) - 1))
        val crcs = docs.select(col("doc_id").as("doc"), tokHash.as("crcs"))
        val sh = crcs.select(col("doc"), MinHash.shingleHashes(col("crcs")).as("sh"))
        val sigs = sh.select(col("doc"),
          MinHash.signatureFromHashes(col("sh"), k).as("sig"))
        val bk = MinHash.portableBandKeys(col("sig"), k, bands = 8)
        val exploded = sigs.select(col("doc"), explode(bk).as("b"))
          .select(col("doc"), col("b.band_id"), col("b.band_hash"))
        val pairs = exploded.select(col("band_id"), col("band_hash"), col("doc").as("doc_a"))
          .join(exploded.select(col("band_id"), col("band_hash"), col("doc").as("doc_b")),
            Seq("band_id", "band_hash"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b")).distinct()
        pairs
          .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sig_a")), "doc_a")
          .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sig_b")), "doc_b")
          .withColumn("matched_full",
            aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
              lit(0L), (acc, v) => acc + v))
          .withColumn("matched_bbit",
            aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x % 16 === y % 16, 1L).otherwise(0L)),
              lit(0L), (acc, v) => acc + v))
          .filter(col("matched_full") >= 4) // = the 0.2·k candidate floor
          .withColumn("jhat_bbit_e6",
            expr("greatest(matched_bbit * 1000000 div 16 - 62500, CAST(0 AS BIGINT)) * 16 div 15"))
          .select(col("doc_a"), col("doc_b"), col("matched_full"),
            col("matched_bbit"), col("jhat_bbit_e6"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""$minhashCandCtes,
              |m AS (
              |  SELECT doc_a, doc_b,
              |         CAST(len(list_filter(generate_series(1, 16),
              |           j -> sa.sig[j] = sb.sig[j])) AS BIGINT) AS matched_full,
              |         CAST(len(list_filter(generate_series(1, 16),
              |           j -> sa.sig[j] % 16 = sb.sig[j] % 16)) AS BIGINT) AS matched_bbit
              |  FROM cand
              |  JOIN sig sa ON sa.doc_id = doc_a
              |  JOIN sig sb ON sb.doc_id = doc_b)
              |SELECT doc_a, doc_b, matched_full, matched_bbit,
              |       greatest(matched_bbit * 1000000 // 16 - 62500, 0) * 16 // 15
              |         AS jhat_bbit_e6
              |FROM m WHERE matched_full >= 4
              |ORDER BY doc_a, doc_b""".stripMargin)
    ),
    Q(
      "pipeline_dedup_incremental",
      // Incremental corpus dedup (round-9): a NEW batch is deduplicated
      // against an existing corpus using only the corpus's stored DIGEST
      // set — the 100 TB operational shape, where rescanning yesterday's
      // text per ingest is unpayable but a digest table is a few bytes
      // per doc. Corpus = doc_id < 400 (its sha256 set is the stored
      // state), batch = the rest; a batch doc survives iff its digest is
      // (a) not in the store — one anti-join on 256-bit digests, no text
      // shuffled — and (b) first within the batch (min doc_id per
      // digest). Output counts prove both legs fired.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("h"))
        val store = docs.filter(col("doc_id") < 400).select(col("h")).distinct()
        val batch = docs.filter(col("doc_id") >= 400)
        val vsStore = batch.join(store, Seq("h"), "left_anti")
        val kept = vsStore.groupBy(col("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("batch_copies"))
        kept.agg(
          count(lit(1)).as("n_kept"),
          sum(col("batch_copies")).as("n_batch_after_store"),
          min(col("keep_id")).as("first_kept"),
          max(col("keep_id")).as("last_kept"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents),
             |store AS (SELECT DISTINCT h FROM docs WHERE doc_id < 400),
             |batch AS (SELECT * FROM docs WHERE doc_id >= 400),
             |vs AS (SELECT * FROM batch WHERE h NOT IN (SELECT h FROM store)),
             |kept AS (
             |  SELECT h, CAST(min(doc_id) AS BIGINT) AS keep_id,
             |         CAST(count(*) AS BIGINT) AS batch_copies
             |  FROM vs GROUP BY h)
             |SELECT CAST(count(*) AS BIGINT) AS n_kept,
             |       CAST(sum(batch_copies) AS BIGINT) AS n_batch_after_store,
             |       CAST(min(keep_id) AS BIGINT) AS first_kept,
             |       CAST(max(keep_id) AS BIGINT) AS last_kept
             |FROM kept""".stripMargin)
    ),
    Q(
      "text_exact_dedup",
      // Exact dedup on normalized text: hash-groupBy, min doc_id keeps.
      // One shuffle on the 256-bit digest — at 100 TB the digest (not the
      // document) is what moves.
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy(sha2(lower(trim(col("text"))), 256).as("text_hash"))
          .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("keeper_doc_id"))
      },
      Some("""SELECT sha256(lower(trim(text))) AS text_hash,
             |       min(doc_id) AS keeper_doc_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin)
    ),
    Q(
      "text_neardup_minhash",
      // MinHash/LSH candidate pairs, fully DuckDB-oracled (r5): the
      // portable hash family (character-fold token hash, polynomial band
      // fold — all integer arithmetic mod P) lets the oracle recompute
      // shingle hashes, signatures, band buckets, the candidate join and
      // the est_jaccard filter bit-for-bit. Same plan shape as the crc32
      // family: zero shuffles until the band-bucket self-join, which
      // carries 3 longs per row. TextDedupSpec keeps the recall/bounds
      // property tests for both families.
      (s, dir) => MinHash.nearDupPairs(
          Tables(s, dir, "documents"), "doc_id", "text", k = 16, bands = 8,
          minEstJaccard = 0.2, portable = true)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(minhashOracleSql)
    ),
    Q(
      "dedup_candidate_verify",
      // The production near-dup shape in full: LSH for RECALL, exact
      // verification for PRECISION. MinHash band candidates (the same
      // portable chain as text_neardup_minhash) are re-scored with exact
      // 3-gram Jaccard and only pairs ≥ 0.35 survive — LSH alone
      // over-reports (banding admits sub-threshold pairs), exact-only
      // under-scales (all-pairs). Grams are semi-joined down to candidate
      // docs before the verify join, so the expensive pass touches
      // O(candidates) texts, never the corpus; the verify shuffle carries
      // 54-bit gram hashes, never strings. Exact count arithmetic → the
      // jaccard doubles are bitwise-identical cross-engine.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cand = MinHash.nearDupPairs(docs, "doc_id", "text",
            k = 16, bands = 8, minEstJaccard = 0.2, portable = true)
          .select(col("doc_a"), col("doc_b"))
        // tokenCrcs in its OWN projection — inlined into the shingle
        // lambda it re-evaluates per gram position (O(tokens²)/doc)
        val grams = docs
          .select(col("doc_id"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"),
            explode(MinHash.shingleHashes(col("crcs"), 3,
              distinct = true, modP = false)).as("gram"))
        // semi-join the gram table down to candidate members first: at
        // scale candidates are a tiny fraction of the corpus, so the
        // verify join never scans non-candidate grams
        val members = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        val cgrams = grams.join(members, Seq("doc_id"), "left_semi")
          .localCheckpoint(false)
        val sizes = cgrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val common = cand
          .join(cgrams.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
          .join(cgrams.select(col("doc_id").as("doc_b"), col("gram")),
            Seq("doc_b", "gram"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
        common
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (col("common").cast("double") /
              (col("na") + col("nb") - col("common")).cast("double")).as("jaccard"))
          .filter(col("jaccard") >= 0.35)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""$minhashCandCtes,
              |cand2 AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.2),
              |grams AS (
              |  SELECT doc_id,
              |         unnest(list_distinct(list_transform(
              |           range(1, len(string_split(text, ' ')) - 1),
              |           i -> string_split(text, ' ')[i] || ' ' ||
              |                string_split(text, ' ')[i+1] || ' ' ||
              |                string_split(text, ' ')[i+2]))) AS gram
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
              |common AS (
              |  SELECT c.doc_a, c.doc_b, count(*) AS common
              |  FROM cand2 c
              |  JOIN grams a ON a.doc_id = c.doc_a
              |  JOIN grams b ON b.doc_id = c.doc_b AND b.gram = a.gram
              |  GROUP BY 1, 2),
              |scored AS (
              |  SELECT m.doc_a, m.doc_b,
              |         CAST(m.common AS DOUBLE) /
              |         CAST(sa.n_grams + sb.n_grams - m.common AS DOUBLE) AS jaccard
              |  FROM common m
              |  JOIN sizes sa ON sa.doc_id = m.doc_a
              |  JOIN sizes sb ON sb.doc_id = m.doc_b)
              |SELECT doc_a, doc_b, jaccard FROM scored
              |WHERE jaccard >= 0.35
              |ORDER BY doc_a, doc_b""".stripMargin)
    ),
    Q(
      "dedup_threshold_sweep",
      // Dedup operating curve (round-10): before committing a near-dup
      // threshold, sweep it — the same LSH-candidate + exact-Jaccard
      // chain as `dedup_candidate_verify`, but scored ONCE and evaluated
      // at seven thresholds via the cross-multiplied integer test
      // 100·common ≥ t·(union), so the whole sweep is one extra
      // O(pairs × 7) fanout and ZERO floats. Per threshold: surviving
      // pairs and docs that would be removed (min-id representative
      // kept). This is how the dedup rate / retention trade-off gets
      // chosen on a real corpus — from data, not a default.
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val cand = MinHash.nearDupPairs(docs, "doc_id", "text",
            k = 16, bands = 8, minEstJaccard = 0.2, portable = true)
          .select(col("doc_a"), col("doc_b"))
        val grams = docs
          .select(col("doc_id"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"),
            explode(MinHash.shingleHashes(col("crcs"), 3,
              distinct = true, modP = false)).as("gram"))
        val members = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        val cgrams = grams.join(members, Seq("doc_id"), "left_semi")
          .localCheckpoint(false)
        val sizes = cgrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val scored = cand
          .join(cgrams.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
          .join(cgrams.select(col("doc_id").as("doc_b"), col("gram")),
            Seq("doc_b", "gram"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), "doc_b")
        val th = Seq(20L, 30L, 40L, 50L, 60L, 70L, 80L).toDF("t")
        scored.crossJoin(broadcast(th))
          .filter(lit(100L) * col("common") >=
            col("t") * (col("na") + col("nb") - col("common")))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_b")).as("n_removed"))
          .orderBy(col("t"))
      },
      Some(s"""$minhashCandCtes,
              |cand2 AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.2),
              |grams AS (
              |  SELECT doc_id,
              |         unnest(list_distinct(list_transform(
              |           range(1, len(string_split(text, ' ')) - 1),
              |           i -> string_split(text, ' ')[i] || ' ' ||
              |                string_split(text, ' ')[i+1] || ' ' ||
              |                string_split(text, ' ')[i+2]))) AS gram
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
              |scored AS (
              |  SELECT c.doc_a, c.doc_b, count(*) AS common,
              |         max(sa.n_grams) AS na, max(sb.n_grams) AS nb
              |  FROM cand2 c
              |  JOIN grams a ON a.doc_id = c.doc_a
              |  JOIN grams b ON b.doc_id = c.doc_b AND b.gram = a.gram
              |  JOIN sizes sa ON sa.doc_id = c.doc_a
              |  JOIN sizes sb ON sb.doc_id = c.doc_b
              |  GROUP BY c.doc_a, c.doc_b),
              |th AS (SELECT unnest([20, 30, 40, 50, 60, 70, 80]) AS t)
              |SELECT CAST(t AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n_pairs,
              |       CAST(count(DISTINCT doc_b) AS BIGINT) AS n_removed
              |FROM scored, th
              |WHERE 100 * common >= t * (na + nb - common)
              |GROUP BY t ORDER BY t""".stripMargin)
    ),
    Q(
      "dedup_fuzzy_blocked",
      // Blocked edit-distance fuzzy dedup (round-9): typo-level duplicate
      // detection (entity resolution's workhorse) — candidate pairs are
      // generated ONLY within a blocking key, then scored with exact
      // Levenshtein ≤ 1. The block key is (brand, length band): edit
      // distance ≤ 1 IMPLIES |Δlength| ≤ 1, so the probe side explodes to
      // its three neighboring lengths and the band becomes part of the
      // EQUI-join key (the same |Δ|≤1→explode rewrite Graph.scala uses
      // for candidate edges) — no answer change, ~100× fewer candidate
      // pairs than brand-only blocking (measured 7.5 s → sub-second at
      // sf0.1). The quadratic is bounded by the largest block, never the
      // corpus (at 100 TB you salt oversized blocks — join_skew_salted
      // owns that pattern). Spark's codegen'd levenshtein matches
      // DuckDB's unit-cost semantics (fn_levenshtein pins this).
      // Per-brand rollup keeps output O(blocks).
      (s, dir) => {
        // score the NAME VOCABULARY, not the rows: Levenshtein runs once
        // per distinct (brand, name-pair) — Zipf makes the vocabulary
        // orders smaller than the table (64 names vs 20k rows at sf0.1;
        // brand-only row-level blocking benched 7.5 s, this shape <1 s) —
        // then matched name pairs expand back through the rows by
        // multiplicity. Both orderings kept in `matched` so the (key_a <
        // key_b) expansion counts each part pair exactly once.
        val p = Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        val names = p.select(col("p_brand"), col("p_name")).distinct()
        val matched = names
          .join(names.select(col("p_brand"), col("p_name").as("name_b")),
            Seq("p_brand"))
          .filter(levenshtein(col("p_name"), col("name_b")) <= 1)
        p.join(matched, Seq("p_brand", "p_name"))
          .select(col("p_brand"), col("p_partkey").as("key_a"),
            col("p_name").as("name_a"), col("name_b"))
          .join(p.select(col("p_brand"), col("p_name").as("name_b"),
            col("p_partkey").as("key_b")), Seq("p_brand", "name_b"))
          .filter(col("key_a") < col("key_b"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("key_a")).as("n_left_dups"),
            sum(when(col("name_a") === col("name_b"), 1L).otherwise(0L))
              .as("n_exact"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT a.p_brand, CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(count(DISTINCT a.p_partkey) AS BIGINT) AS n_left_dups,
             |       CAST(sum(CASE WHEN a.p_name = b.p_name THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             | AND levenshtein(a.p_name, b.p_name) <= 1
             |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin)
    ),
    Q(
      "pipeline_dedup_cascade",
      // The production dedup FUNNEL in one row (round-9): exact (md5
      // keeper) → MinHash near-dup (portable family, est ≥ 0.5, drop the
      // doc_b side of every candidate pair), reporting survivor counts
      // per stage — the shape every corpus pipeline runs: cheap exact
      // pass first so the expensive LSH stage only sees unique texts.
      // Each stage is an already-proven scale-safe primitive
      // (text_exact_dedup's hash shuffle, text_neardup_minhash's banded
      // join); the cascade adds ONE semi-join between them. O(stages)
      // output rows.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val keep = docs.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val survivors = docs
          .join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text"))
        val removed = MinHash.nearDupPairs(survivors, "doc_id", "text",
            k = 16, bands = 8, minEstJaccard = 0.5, portable = true)
          .select(col("doc_b")).distinct()
        val st0 = docs.agg(count(lit(1)).as("n_docs"))
          .select(lit("0_input").as("stage"), col("n_docs"))
        val st1 = survivors.agg(count(lit(1)).as("n_docs"))
          .select(lit("1_exact").as("stage"), col("n_docs"))
        val st2 = survivors
          .join(removed, survivors("doc_id") === removed("doc_b"), "left_anti")
          .agg(count(lit(1)).as("n_docs"))
          .select(lit("2_neardup").as("stage"), col("n_docs"))
        st0.unionByName(st1).unionByName(st2).orderBy(col("stage"))
      },
      Some(s"""${minhashCandCtes("survivors",
               """keep AS (
                 |  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
                 |  FROM documents GROUP BY md5(text)),
                 |survivors AS (
                 |  SELECT d.doc_id, d.text FROM documents d
                 |  JOIN keep k ON d.doc_id = k.doc_id),
                 |""".stripMargin)},
              |removed AS (
              |  SELECT DISTINCT doc_b FROM est WHERE est_jaccard >= 0.5)
              |SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs
              |FROM documents
              |UNION ALL
              |SELECT '1_exact', CAST(count(*) AS BIGINT) FROM survivors
              |UNION ALL
              |SELECT '2_neardup',
              |       CAST((SELECT count(*) FROM survivors)
              |            - (SELECT count(*) FROM removed) AS BIGINT)
              |ORDER BY stage""".stripMargin)
    ),
    Q(
      "pipeline_shard_manifest",
      // Training-shard manifest (round-9): pack documents into
      // fixed-token-budget shards PER LANGUAGE (the layout trainers
      // consume: language-homogeneous shards of ~equal token mass) and
      // emit the manifest — shard_id from the cumulative token count's
      // start offset, so a doc belongs to the shard its FIRST token
      // lands in. One partitioned window (lang) — no global sequence
      // needed, which is exactly what keeps it scale-safe: shard
      // numbering never crosses the language boundary (the global
      // variant would use sort_global_sequence's range-partitioned
      // offsets). Budget 20k tokens/shard; exact integer arithmetic.
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .withColumn("cum", sum(col("toks")).over(w))
          .withColumn("shard_id", expr("(cum - toks) DIV 20000"))
          .groupBy(col("lang"), col("shard_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("lang"), col("shard_id"))
      },
      Some("""WITH t AS (
             |  SELECT lang, doc_id,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             |         CAST(sum(len(string_split(text, ' ')))
             |           OVER (PARTITION BY lang ORDER BY doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM documents)
             |SELECT lang, (cum - toks) // 20000 AS shard_id,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(toks) AS BIGINT) AS n_tokens,
             |       CAST(min(doc_id) AS BIGINT) AS first_doc,
             |       CAST(max(doc_id) AS BIGINT) AS last_doc
             |FROM t GROUP BY 1, 2 ORDER BY lang, shard_id""".stripMargin)
    ),
    Q(
      "text_neardup_simhash",
      // SimHash fingerprints + banded candidate pairs with Hamming distance,
      // fully DuckDB-oracled (r6) via the PORTABLE hash family: 62-bit token
      // hashes from two character folds (SimHash.portableTokenHashes), the
      // one-pass explode+HashAggregate vote (SimHash.fingerprints — the
      // scale path: shuffle carries 31 packed lane-sums per (doc×partition),
      // never token arrays), then 7 bit-bands which by pigeonhole guarantee
      // FULL recall at hamming ≤ 6 (k+1 bands cover distance ≤ k) while
      // each 8–9-bit band still blocks into 256–512 buckets. The oracle
      // replays token-fold → per-bit majority vote → band buckets → Hamming
      // pairs bit-for-bit. The 64-bit xxhash64/native-expression family
      // (graft.functions.SimHashFingerprint) remains the cheapest-codegen
      // path and stays spec-pinned in TextDedupSpec.
      (s, dir) => {
        // lazy localCheckpoint: both join sides and every band read ONE
        // materialized fingerprint table — without it the whole
        // token-fold/vote pipeline runs twice (once per join side)
        val fp = SimHash.fingerprints(Tables(s, dir, "documents"),
            "doc_id", "text", bits = SimHash.PortableBits,
            // the NATIVE fold expression (one fused Java loop per row);
            // value-identical to SimHash.portableTokenHashes, ~2.5× cheaper
            // at sf0.1 — the HOF form interprets a Column tree per character
            hashFn = c => graft.functions.PortableTokenHashes(s, c))
          .withColumnRenamed("doc", "doc_id")
          .localCheckpoint(false)
        val ex = fp.select(col("doc_id"), col("fp"),
            explode(SimHash.bands(col("fp"), SimHash.NBands, SimHash.PortableBits)).as("h"))
          .select(col("doc_id"), col("fp"), col("h.band_id"), col("h.band"))
        // the join's INPUTS are tiny (5k docs × 7 bands) but its OUTPUT is
        // huge (10.4M rows at sf0.1 — the corpus shares vocabulary, so band
        // values cluster in a few hot (band_id, band) buckets). r9 (r8
        // verdict #2): the old `broadcast(b)` beat the skewed SMJ locally,
        // but the build side is O(docs) — at 100 TB a corpus-sized
        // broadcast must fit every executor, a scale-killer. Bounded
        // replacement: SALT the join keys (the join_skew_salted shape) —
        // the probe side keeps ONE deterministic salt per row, the build
        // side replicates across all SALTS values, and the equi-join keys
        // gain the salt, so a hot band bucket fans out over SALTS×
        // shuffle partitions while every colliding pair still meets
        // exactly once. Shuffle volume is SALTS × O(docs·bands) rows of
        // (two longs + a fingerprint) — bounded by the corpus row count,
        // never by pair count, and no broadcast anywhere. The SHUFFLE_HASH
        // hint keeps it a hash join: SMJ would sort both sides for no
        // benefit (measured 4.56 s → 1.68 s at sf0.1, vs 1.88 s for the
        // unbounded-broadcast shape it replaces).
        val SALTS = 16
        val a = ex.select(col("band_id"), col("band"), col("doc_id").as("doc_a"), col("fp").as("fp_a"))
          .withColumn("salt", pmod(xxhash64(col("doc_a")), lit(SALTS)))
        val b = ex.select(col("band_id"), col("band"), col("doc_id").as("doc_b"), col("fp").as("fp_b"))
          .withColumn("salt", explode(array((0 until SALTS).map(lit): _*)))
        a.hint("SHUFFLE_HASH").join(b, Seq("band_id", "band", "salt"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            expr("bit_count(fp_a ^ fp_b)").cast("long").as("hamming"))
          // Hamming filter BEFORE the pair-dedup: on a homogeneous corpus
          // the 8–9-bit bands collide heavily (measured 10.4M join rows /
          // 7.3M distinct pairs from 5k docs at sf0.1, 551k of them within
          // hamming 6), so the distinct's exchange must see the 5%
          // survivors, not every banded collision. Same result set —
          // hamming is a function of the pair — 13× less shuffled.
          .filter(col("hamming") <= SimHash.GuaranteedHamming)
          .distinct()
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(simhashOracleSql)
    ),
    Q(
      "text_ngram_jaccard",
      // Exact token-3-gram Jaccard for pairs blocked by source (the
      // blocking key is what makes exact pairwise feasible at scale; the
      // unblocked path is text_neardup_minhash). count arithmetic only →
      // bitwise-equal doubles.
      (s, dir) => {
        // grams join on 54-bit hashes, not strings: distinct-set identity
        // is preserved (collision odds ~1e-8) and the self-join shuffle
        // carries longs instead of 3-token strings
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"), col("source"),
            explode(MinHash.shingleHashes(col("crcs"), 3, distinct = true, modP = false))
              .as("gram"))
        val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val a = grams.select(col("source"), col("doc_id").as("doc_a"), col("gram"))
        val b = grams.select(col("source"), col("doc_id").as("doc_b"), col("gram"))
        a.join(b, Seq("source", "gram")).filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (col("common").cast("double") / (col("na") + col("nb") - col("common")))
              .as("jaccard"))
          .filter(col("jaccard") >= 0.05)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, source,
             |         unnest(list_distinct(list_transform(
             |           range(1, len(string_split(text, ' ')) - 1),
             |           i -> string_split(text, ' ')[i] || ' ' ||
             |                string_split(text, ' ')[i+1] || ' ' ||
             |                string_split(text, ' ')[i+2]))) AS gram
             |  FROM documents),
             |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
             |  FROM grams a JOIN grams b ON a.source = b.source AND a.gram = b.gram
             |  WHERE a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       CAST(common AS DOUBLE) / (na.n_grams + nb.n_grams - common) AS jaccard
             |FROM pairs
             |JOIN sizes na ON na.doc_id = doc_a
             |JOIN sizes nb ON nb.doc_id = doc_b
             |WHERE CAST(common AS DOUBLE) / (na.n_grams + nb.n_grams - common) >= 0.05
             |ORDER BY doc_a, doc_b""".stripMargin)
    ),
    Q(
      "text_contamination_ngram",
      // Benchmark decontamination — the GPT-3/Pile method: a training
      // document is contaminated when any of its token 5-grams also
      // appears in the held-out eval set (here: doc_id % 37 == 0 plays
      // the benchmark). The eval gram set is SMALL by construction, so it
      // broadcasts and the corpus never shuffles — at 100 TB the corpus
      // side stays map-only: gram-hash, broadcast-hash-join, partial
      // count. Grams join on 54-bit hashes (collision odds ~1e-8), the
      // oracle on the gram strings themselves — same trade as
      // text_ngram_jaccard.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val grams = docs
          .select(col("doc_id"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"),
            explode(MinHash.shingleHashes(col("crcs"), 5, distinct = true, modP = false))
              .as("gram"))
        val evalGrams = grams.filter(col("doc_id") % 37 === 0)
          .select(col("gram")).distinct()
        val hits = grams.filter(col("doc_id") % 37 =!= 0)
          .join(broadcast(evalGrams), Seq("gram"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        docs.filter(col("doc_id") % 37 =!= 0)
          .select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .withColumn("contaminated", col("n_hits") > 0)
          .orderBy(col("doc_id"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(string_split(text, ' ')) - 3),
             |    i -> string_split(text, ' ')[i] || ' ' ||
             |         string_split(text, ' ')[i+1] || ' ' ||
             |         string_split(text, ' ')[i+2] || ' ' ||
             |         string_split(text, ' ')[i+3] || ' ' ||
             |         string_split(text, ' ')[i+4]))) AS gram
             |  FROM documents),
             |eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0),
             |hits AS (
             |  SELECT g.doc_id, count(*) AS n_hits
             |  FROM grams g JOIN eval_grams e USING (gram)
             |  WHERE g.doc_id % 37 <> 0
             |  GROUP BY 1)
             |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
             |       coalesce(h.n_hits, 0) > 0 AS contaminated
             |FROM documents d LEFT JOIN hits h USING (doc_id)
             |WHERE d.doc_id % 37 <> 0
             |ORDER BY d.doc_id""".stripMargin)
    ),
    Q(
      "text_paragraph_dedup",
      // SUB-document exact dedup (the Dolma/C4 paragraph technique):
      // documents often share boilerplate passages even when the whole
      // doc is unique, so dedup runs at paragraph granularity — here
      // sentence units split on '. ' (the fixture carries no newlines).
      // First occurrence (min (doc_id, pos)) is the keeper; every later
      // copy counts as a duplicate. The shuffle key is the 256-bit
      // paragraph digest, never the text, and per-doc stats come back in
      // one count/sum pass — at 100 TB this is two keyed shuffles of
      // hashes + small structs.
      (s, dir) => {
        val paras = Tables(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), "\\. ")).as(Seq("pos", "para")))
          .filter(length(trim(col("para"))) > 0)
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            sha2(col("para"), 256).as("ph"))
        val firsts = paras.groupBy(col("ph"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
        paras.join(firsts, "ph")
          .withColumn("is_dup",
            !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_paras"),
            sum(col("is_dup").cast("long")).as("n_dup_paras"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH paras AS (
             |  SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos, sha256(para) AS ph
             |  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS para,
             |               generate_subscripts(string_split(text, '. '), 1) AS pos
             |        FROM documents) t
             |  WHERE length(trim(para)) > 0),
             |firsts AS (
             |  SELECT ph, min(ROW(doc_id, pos)) AS first FROM paras GROUP BY ph)
             |SELECT p.doc_id, count(*) AS n_paras,
             |       CAST(sum(CASE WHEN ROW(p.doc_id, p.pos) = f.first
             |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_paras
             |FROM paras p JOIN firsts f USING (ph)
             |GROUP BY p.doc_id
             |ORDER BY p.doc_id""".stripMargin)
    ),
    Q(
      "text_langid",
      // Language-ID by marker-token counts with a fixed priority order —
      // an n-gram-heuristic classifier expressible on both engines.
      (s, dir) => {
        val counts = markers.map { case (l, ts) => l -> markerCount(ts) }
        val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
        // fold from the last language so earlier ones win ties
        val g2 = counts.reverse.foldLeft(lit("und"): Column) {
          case (acc, (l, c)) => when(c === best && best > 0, l).otherwise(acc)
        }
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang").as("labeled_lang"),
            counts.head._2.cast("long").as("n_en_markers"),
            g2.as("lang_guess"))
          .withColumn("agrees", col("lang_guess") === col("labeled_lang"))
          .orderBy(col("doc_id"))
      },
      {
        val cs = markers.map { case (l, ts) => l -> markerCountSql(ts) }
        val best = s"greatest(${cs.map(_._2).mkString(", ")})"
        val guess = cs.reverse.foldLeft("'und'") {
          case (acc, (l, c)) => s"CASE WHEN $c = $best AND $best > 0 THEN '$l' ELSE $acc END"
        }
        Some(s"""SELECT doc_id, lang AS labeled_lang,
                |       CAST(${cs.head._2} AS BIGINT) AS n_en_markers,
                |       $guess AS lang_guess,
                |       ($guess = lang) AS agrees
                |FROM documents ORDER BY doc_id""".stripMargin)
      }
    ),
    Q(
      "text_langid_confusion",
      // Language-ID error analysis (round-9): the full confusion matrix
      // of the marker classifier against the labeled language, plus
      // per-cell share of the label's row — which languages leak into
      // which is what you tune marker lists BY (text_langid reports
      // per-doc agreement; this aggregates it into the matrix every
      // model-debugging loop starts from). Same classifier expressions,
      // one contingency aggregate, O(langs²) output.
      (s, dir) => {
        val counts = markers.map { case (l, ts) => l -> markerCount(ts) }
        val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
        val g2 = counts.reverse.foldLeft(lit("und"): Column) {
          case (acc, (l, c)) => when(c === best && best > 0, l).otherwise(acc)
        }
        val cells = Tables(s, dir, "documents")
          .select(col("lang").as("labeled"), g2.as("guessed"))
          .groupBy(col("labeled"), col("guessed"))
          .agg(count(lit(1)).as("n"))
        val rowTot = cells.groupBy(col("labeled")).agg(sum(col("n")).as("row_n"))
        cells.join(broadcast(rowTot), "labeled")
          .select(col("labeled"), col("guessed"), col("n"),
            expr("CAST(floor(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
              .as("row_share_e6"))
          .orderBy(col("labeled"), col("guessed"))
      },
      {
        val cs = markers.map { case (l, ts) => l -> markerCountSql(ts) }
        val best = s"greatest(${cs.map(_._2).mkString(", ")})"
        val guess = cs.reverse.foldLeft("'und'") {
          case (acc, (l, c)) => s"CASE WHEN $c = $best AND $best > 0 THEN '$l' ELSE $acc END"
        }
        Some(s"""WITH cells AS (
                |  SELECT lang AS labeled, $guess AS guessed,
                |         CAST(count(*) AS BIGINT) AS n
                |  FROM documents GROUP BY 1, 2),
                |rt AS (SELECT labeled, CAST(sum(n) AS BIGINT) AS row_n
                |       FROM cells GROUP BY 1)
                |SELECT labeled, guessed, n,
                |       CAST(floor(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS row_share_e6
                |FROM cells JOIN rt USING (labeled)
                |ORDER BY labeled, guessed""".stripMargin)
      }
    ),
    Q(
      "text_quality_score",
      // Heuristic quality scoring: length, mean token length, stopword
      // ratio — pure arithmetic, identical on both engines.
      (s, dir) => {
        val nTok = size(toks).cast("double")
        val avgLen = length(col("text")).cast("double") / nTok
        val stopRatio = markerCount(markers.head._2).cast("double") / nTok
        val score =
          lit(0.4) * least(nTok / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - abs(avgLen - 5.0) / 5.0) +
            lit(0.3) * stopRatio
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            nTok.cast("long").as("n_tokens"),
            util.r2(avgLen).as("avg_token_len"),
            util.r2(stopRatio).as("stopword_ratio"),
            util.r2(score).as("quality_score"))
          .orderBy(col("doc_id"))
      },
      {
        val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
        val avgLen = s"CAST(length(text) AS DOUBLE) / $nTok"
        val stopRatio = s"CAST(${markerCountSql(markers.head._2)} AS DOUBLE) / $nTok"
        val score = s"0.4 * least($nTok / 100.0, 1.0) + 0.3 * (1.0 - abs($avgLen - 5.0) / 5.0) + 0.3 * $stopRatio"
        Some(s"""SELECT doc_id,
                |       CAST($nTok AS BIGINT) AS n_tokens,
                |       ${util.r2sql(avgLen)} AS avg_token_len,
                |       ${util.r2sql(stopRatio)} AS stopword_ratio,
                |       ${util.r2sql(score)} AS quality_score
                |FROM documents ORDER BY doc_id""".stripMargin)
      }
    ),
    Q(
      "text_token_count",
      // Whitespace tokens, regex word tokens, and a BPE-ish length/4
      // subword estimate.
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(toks).cast("long").as("ws_tokens"),
            expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long").as("word_tokens"),
            expr("(length(text) + 3) div 4").as("bpe_est_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens,
             |       (length(text) + 3) // 4 AS bpe_est_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_pack_sequences",
      // Sequence packing for training: stream each source's docs (in
      // stable doc_id order) into fixed 2048-token context windows —
      // bin = cumulative-tokens-before-me div budget, the greedy packing
      // every LLM data loader runs before batching. One window cumsum
      // partitioned by source (each source sorts independently after one
      // shuffle), then a two-phase aggregate per bin: at 100 TB both
      // steps are the standard distributed window/agg shapes, and the
      // output is O(corpus_tokens / budget), not O(docs).
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        Tables(s, dir, "documents")
          .withColumn("tok", expr("(length(text) + 3) div 4"))
          .withColumn("cum", sum(col("tok")).over(w))
          .withColumn("bin", expr("(cum - tok) div 2048"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("bin_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("source"), col("bin"))
      },
      Some("""SELECT source, bin, count(*) AS n_docs,
             |       CAST(sum(tok) AS BIGINT) AS bin_tokens,
             |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM (SELECT source, doc_id, tok,
             |             (CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) - tok) // 2048 AS bin
             |      FROM (SELECT source, doc_id, (length(text) + 3) // 4 AS tok
             |            FROM documents) t1) t2
             |GROUP BY source, bin ORDER BY source, bin""".stripMargin)
    ),
    Q(
      "text_fingerprint",
      // Positional document fingerprint: Σ (pos·(len(tok)+1)·φ) mod p —
      // order-sensitive, overflow-free, bitwise-identical cross-engine.
      (s, dir) => {
        val fp = aggregate(
          transform(sequence(lit(1), size(toks)),
            i => (i.cast("long") * (length(element_at(toks, i)) + 1).cast("long")
              * 2654435761L) % 1000000007L),
          lit(0L), (acc, v) => acc + v)
        Tables(s, dir, "documents")
          .select(col("doc_id"), fp.as("fingerprint"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       CAST(list_sum(list_transform(
             |         range(1, len(string_split(text, ' ')) + 1),
             |         i -> (i * (length(string_split(text, ' ')[i]) + 1) * 2654435761) % 1000000007))
             |       AS BIGINT) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_winnowing_fingerprints",
      // Winnowing (the MOSS fingerprint-selection algorithm): from every
      // window of w=4 consecutive 3-gram hashes keep the minimum (ties →
      // rightmost), guaranteeing any shared substring of ≥ w+k-1 tokens
      // yields a shared selected fingerprint — position-aware plagiarism/
      // overlap detection that MinHash's bag-of-shingles view can't give.
      // Selection is pure integer logic over the portable mod-P gram
      // hashes (the minhash oracle family), so the oracle replays it
      // exactly. Per-doc work only until the final sort: density ~2/(w+1)
      // fingerprints per gram, so the output (and any downstream
      // fingerprint index) is ~2.5× smaller than the gram stream. At
      // 100 TB each doc's selection is a self-contained map-side task.
      (s, dir) => {
        val P = MinHash.P
        // native fused token-hash loop (low 31-bit fold of the packed
        // pair — value-identical to MinHash.portableTokenHashes, parity
        // spec-pinned in TextDedupSpec); the interpreted per-character
        // HOF would dominate this row's cost
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"),
            transform(graft.functions.PortableTokenHashes(s, col("text")),
              h => h.bitwiseAND((1L << 31) - 1)).as("hs"))
          .filter(size(col("hs")) >= 3)
          .select(col("doc_id"), posexplode(expr(
            s"transform(sequence(0, size(hs) - 3), i -> " +
              s"(element_at(hs, i+1)*1000003 + element_at(hs, i+2)*999979 + " +
              s"element_at(hs, i+3)*999961) % ${P}L)")).as(Seq("pos", "gh")))
        // windowed one-pass argmin: min(struct(gh, -pos)) over the w-row
        // frame is lexicographic — (min hash, rightmost position among
        // ties) per window start — so ONE exchange+sort on doc_id serves
        // both the per-window selection and the start-bound (max pos over
        // the doc), with no 4× explode and no join-back. The SQL oracle
        // keeps the two-phase explode form; both are pure integer logic,
        // so the selected set is identical by construction.
        val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val sel = grams
          .withColumn("mn", min(struct(col("gh"), (-col("pos")).as("np")))
            .over(wd.rowsBetween(0, 3)))
          .withColumn("maxpos", max(col("pos"))
            .over(Window.partitionBy(col("doc_id"))))
          // window starts exist only where a full w-window fits
          .filter(col("maxpos") >= 3 && col("pos") <= col("maxpos") - 3)
        sel.select(col("doc_id"),
            (-col("mn.np")).cast("long").as("sel_pos"), col("mn.gh").as("fp"))
          .distinct()
          .orderBy(col("doc_id"), col("sel_pos"))
      },
      Some(s"""WITH hs AS (
              |  SELECT doc_id,
              |         list_transform(string_split(text, ' '), t ->
              |           list_reduce(
              |             list_prepend(CAST(0 AS BIGINT),
              |               list_transform(generate_series(1, length(t)),
              |                 i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
              |             (acc, c) -> (acc * 131 + c) % ${MinHash.P})) AS hs
              |  FROM documents),
              |garr AS (
              |  SELECT doc_id,
              |         list_transform(generate_series(0, len(hs) - 3),
              |           i -> (hs[i+1]*1000003 + hs[i+2]*999979 + hs[i+3]*999961) % ${MinHash.P}) AS garr
              |  FROM hs WHERE len(hs) >= 3),
              |grams AS (
              |  SELECT doc_id, unnest(garr) AS gh,
              |         generate_subscripts(garr, 1) - 1 AS pos
              |  FROM garr),
              |mp AS (SELECT doc_id, max(pos) AS maxpos FROM grams
              |       GROUP BY doc_id HAVING max(pos) >= 3),
              |winrows AS (
              |  SELECT g.doc_id, g.gh, g.pos, unnest(generate_series(
              |           greatest(g.pos - 3, 0), least(g.pos, m.maxpos - 3))) AS ws
              |  FROM grams g JOIN mp m ON g.doc_id = m.doc_id),
              |minh AS (
              |  SELECT doc_id, ws, min(gh) AS minh
              |  FROM winrows GROUP BY doc_id, ws),
              |sel AS (
              |  SELECT w.doc_id, w.ws, max(w.pos) AS sel_pos, min(w.gh) AS fp
              |  FROM winrows w JOIN minh m
              |    ON w.doc_id = m.doc_id AND w.ws = m.ws AND w.gh = m.minh
              |  GROUP BY w.doc_id, w.ws)
              |SELECT DISTINCT doc_id, sel_pos, fp FROM sel
              |ORDER BY doc_id, sel_pos""".stripMargin)
    ),
    Q(
      "text_token_stats",
      // Top-5 tokens per language: explode → two-phase count → grouped
      // top-k window.
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("token").asc)
        Tables(s, dir, "documents")
          .select(col("lang"), explode(toks).as("token"))
          .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy(col("lang"), col("rnk"))
      },
      Some("""SELECT lang, token, n, rnk FROM (
             |  SELECT lang, token, count(*) AS n,
             |         row_number() OVER (PARTITION BY lang
             |                            ORDER BY count(*) DESC, token ASC) AS rnk
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
             |        FROM documents) t
             |  GROUP BY lang, token) r
             |WHERE rnk <= 5
             |ORDER BY lang, rnk""".stripMargin)
    ),
    Q(
      "fn_levenshtein",
      // Fuzzy string matching for entity resolution: edit distance over
      // pairs blocked by (p_brand, p_size) — blocking bounds the pair
      // count exactly like the dedup tiers.
      (s, dir) => {
        val p = Tables(s, dir, "part")
          .select(col("p_brand"), col("p_size"), col("p_partkey"), col("p_name"))
        val a = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("key_a"), col("p_name").as("name_a"))
        val b = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("key_b"), col("p_name").as("name_b"))
        a.join(b, Seq("p_brand", "p_size")).filter(col("key_a") < col("key_b"))
          .select(col("key_a"), col("key_b"),
            levenshtein(col("name_a"), col("name_b")).cast("long").as("edit_dist"))
          .filter(col("edit_dist") <= 15)
          .orderBy(col("key_a"), col("key_b"))
      },
      Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             | AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 15
             |ORDER BY key_a, key_b""".stripMargin)
    ),
    Q(
      "pipeline_corpus_clean",
      // The LLM tier composed end-to-end: quality-filter → exact dedup →
      // per-language corpus stats. One declarative plan — Catalyst fuses
      // the filter into the scan, the dedup is one digest-keyed shuffle,
      // the stats one more; this is the training-data cleaning pass as it
      // would run over 100 TB.
      (s, dir) => {
        val nTok = size(toks).cast("double")
        val stopRatio = markerCount(markers.head._2).cast("double") / nTok
        val quality =
          lit(0.4) * least(nTok / 100.0, lit(1.0)) +
            lit(0.3) * (lit(1.0) - abs(length(col("text")).cast("double") / nTok - 5.0) / 5.0) +
            lit(0.3) * stopRatio
        Tables(s, dir, "documents")
          .withColumn("q", quality)
          .filter(col("q") >= 0.3)
          .groupBy(sha2(lower(trim(col("text"))), 256).as("h"), col("lang"))
          .agg(min(col("doc_id")).as("keeper"), first(col("q")).as("q"),
            min(size(toks)).cast("long").as("n_tokens"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tokens")).as("total_tokens"),
            util.r2(avg(col("q"))).as("avg_quality"))
          .orderBy(col("lang"))
      },
      {
        val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
        val stopRatio = s"CAST(${markerCountSql(markers.head._2)} AS DOUBLE) / $nTok"
        val quality = s"0.4 * least($nTok / 100.0, 1.0) + 0.3 * (1.0 - abs(CAST(length(text) AS DOUBLE) / $nTok - 5.0) / 5.0) + 0.3 * $stopRatio"
        Some(s"""WITH scored AS (
                |  SELECT *, $quality AS q FROM documents WHERE $quality >= 0.3),
                |dedup AS (
                |  SELECT sha256(lower(trim(text))) AS h, lang,
                |         min(doc_id) AS keeper, any_value(q) AS q,
                |         CAST(min(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                |  FROM scored GROUP BY 1, 2)
                |SELECT lang, count(*) AS n_docs_kept,
                |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                |       ${util.r2sql("avg(q)")} AS avg_quality
                |FROM dedup GROUP BY lang ORDER BY lang""".stripMargin)
      }
    ),
    Q(
      "text_bpe_pair_counts",
      // BPE vocabulary training, iteration zero: count adjacent token
      // pairs across the corpus and rank the merge candidates — the inner
      // loop of byte-pair-encoding tokenizer training, which at corpus
      // scale is exactly this shuffle (pair → count) repeated per merge.
      // Bigrams are formed per document with a positional transform (no
      // self-join), the count is map-side combinable, and only the top-20
      // merge candidates leave the aggregation. Deterministic tiebreak on
      // the pair string.
      (s, dir) => {
        // the token array is ALIASED first: a `split` referenced inside
        // the transform lambda re-evaluates per bigram position (HOF
        // lambdas are interpreted, no CSE) — O(tokens²) per doc; the
        // materialized column makes bigram formation O(tokens)
        val bigrams = transform(
          sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1)))
        Tables(s, dir, "documents")
          .select(toks.as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(explode(bigrams).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20)
      },
      Some("""SELECT pair, count(*) AS n FROM (
             |  SELECT unnest(list_transform(
             |           range(1, len(string_split(text, ' '))),
             |           i -> string_split(text, ' ')[i] || ' ' ||
             |                string_split(text, ' ')[i + 1])) AS pair
             |  FROM documents
             |  WHERE len(string_split(text, ' ')) >= 2) t
             |GROUP BY pair
             |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin)
    ),
    Q(
      "text_bpe_merge_apply",
      // BPE training, the OTHER half: take the winning pair from the count
      // step and APPLY the merge to every document's token stream — the
      // write path of one tokenizer-training iteration. True left-to-right
      // non-overlapping BPE semantics fall out of a single string fold:
      // merging rewrites the last token's spelling ("a"→"a_a"), so an
      // already-merged token can't merge again ([a a a a] → [a_a a_a], not
      // [a_a_a a]) — no lookahead, no per-token state. The fold is per-row
      // (zero shuffle over the corpus; the 1-row winning pair broadcasts),
      // which is exactly how a 100 TB corpus applies each merge: one
      // map-only pass per vocabulary step, the pair table never moves.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val bigrams = transform(
          sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1)))
        val top = docs.select(toks.as("tk")).filter(size(col("tk")) >= 2)
          .select(explode(bigrams).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc).limit(1)
          .select(split(col("pair"), " ").getItem(0).as("pa"),
            split(col("pair"), " ").getItem(1).as("pb"))
        docs.crossJoin(broadcast(top))
          .select(col("doc_id"), toks.as("tk"), col("pa"), col("pb"))
          .withColumn("merged", aggregate(
            expr("slice(tk, 2, size(tk) - 1)"),
            element_at(col("tk"), 1),
            (acc, x) => when(
              regexp_extract(acc, "([^ ]*)$", 1) === col("pa") && (x === col("pb")),
              concat(acc, lit("_"), x)).otherwise(concat(acc, lit(" "), x))))
          .select(col("doc_id"), size(col("tk")).cast("long").as("tok_before"),
            size(split(col("merged"), " ")).cast("long").as("tok_after"),
            substring(col("merged"), 1, 60).as("merged_prefix"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH pc AS (
             |  SELECT pair FROM (
             |    SELECT unnest(list_transform(
             |             range(1, len(string_split(text, ' '))),
             |             i -> string_split(text, ' ')[i] || ' ' ||
             |                  string_split(text, ' ')[i + 1])) AS pair
             |    FROM documents
             |    WHERE len(string_split(text, ' ')) >= 2) t
             |  GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1),
             |m AS (
             |  SELECT d.doc_id,
             |         len(string_split(d.text, ' ')) AS tok_before,
             |         list_reduce(string_split(d.text, ' '),
             |           (acc, x) -> CASE
             |             WHEN regexp_extract(acc, '([^ ]*)$', 1) = split_part(pc.pair, ' ', 1)
             |              AND x = split_part(pc.pair, ' ', 2)
             |             THEN acc || '_' || x ELSE acc || ' ' || x END) AS merged
             |  FROM documents d, pc)
             |SELECT doc_id, tok_before,
             |       len(string_split(merged, ' ')) AS tok_after,
             |       substr(merged, 1, 60) AS merged_prefix
             |FROM m ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_bpe_train_merges",
      // BPE training, the LOOP (round-14, verdict #4): five full merge
      // iterations over the English sub-corpus — each round is one
      // pair-count shuffle, a 1-row argmax broadcast (count desc, pair
      // asc tie-break: deterministic by construction), and one map-only
      // rewrite of every token stream, exactly the tokenizer-training
      // kernel (Sennrich et al.) that text_bpe_pair_counts and
      // text_bpe_merge_apply each demonstrated one half of. The output
      // is the merge TABLE a tokenizer ships: (merge_rank, winning pair,
      // its count at selection time, vocab size after the merge).
      // Between rounds the rewritten corpus is checkpointed to parquet —
      // at 100 TB that materialization is mandatory anyway (each merge
      // is one pass over the corpus; chaining N interpreted rewrites
      // lazily would recompute round 1 N times), and it is what makes
      // the loop restartable mid-vocabulary. The learner trains on a
      // DETERMINISTIC ~1/4 hash sample of the English sub-corpus —
      // every production tokenizer trains its merge table on a sample
      // (the merges stabilize long before the full corpus is seen), and
      // the hash coin keeps the sample, hence the merge table,
      // reproducible run-to-run and engine-to-engine. Scale per round:
      // the pair shuffle carries (pair, count) partials (map-side
      // combined), the argmax is O(1) to the driver, the rewrite never
      // shuffles; APPLYING the learned merges to the full corpus is the
      // map-only text_bpe_merge_apply pass.
      (s, dir) => {
        import s.implicits._
        bpeTrain(s, dir, withVocab = true)
          .toDF("merge_rank", "pair", "pair_count", "vocab_size")
          .orderBy(col("merge_rank"))
      },
      Some {
        val out = (1 to 5).map(k =>
          s"SELECT CAST($k AS BIGINT) AS merge_rank, pair, n AS pair_count, v AS vocab_size FROM p$k, v$k")
          .mkString("\nUNION ALL\n")
        s"""WITH $bpeSampleCte,
           |${bpeRoundsSql(withVocab = true)}
           |$out
           |ORDER BY merge_rank""".stripMargin
      }
    ),
    Q(
      "text_bpe_encode",
      // BPE ENCODE to ids (r14 verdict #3 — the serving half of the
      // tokenizer): apply text_bpe_train_merges' learned merge table in
      // RANK ORDER to the full English corpus (each merge is the same
      // greedy left-to-right fold the trainer rewrites with, so
      // train-time and encode-time segmentation agree by construction),
      // then map final tokens to dense vocab ids (row_number over the
      // sorted vocab — the id assignment a tokenizer ships) and emit per
      // doc (n_tokens, sha256 of the comma-joined id sequence). The id
      // SEQUENCE is what a training loader consumes; the sha pins every
      // position of it, so one transposed/dropped token hash-fails.
      // Round15Spec proves decode(encode(text)) == text on the fixture.
      // Scale: training reruns the sample-side loop (5 bounded shuffles);
      // the APPLY is the production path — the merge table is a driver
      // constant folded into ONE map-only pass over the corpus (the 5
      // rewrites chain lazily, no intermediate materialization), the
      // vocab window runs over O(vocab) distinct tokens, and the id join
      // broadcasts the vocab exactly like a real tokenizer's merges
      // table rides in executor memory.
      (s, dir) => {
        val applied = bpeEncodedCorpus(s, dir)
        val toks = applied.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val vocab = toks.select(col("tok")).distinct()
          .withColumn("id", row_number().over(
            Window.orderBy(col("tok"))).cast("long"))
        toks.join(broadcast(vocab), "tok")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            concat_ws(",", transform(
              array_sort(collect_list(struct(col("pos"), col("id")))),
              x => x.getField("id").cast("string"))).as("ids"))
          .select(col("doc_id"), col("n_tokens"),
            sha2(col("ids"), 256).as("ids_sha"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $bpeSampleCte,
           |${bpeRoundsSql(withVocab = false)},
           |$bpeApplyCtes,
           |tok AS (
           |  SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS tok
           |  FROM (SELECT doc_id, text,
           |               unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
           |        FROM e5) x),
           |vocab AS (
           |  SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS id
           |  FROM (SELECT DISTINCT tok FROM tok) u)
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |       sha256(string_agg(v.id::VARCHAR, ',' ORDER BY t.pos)) AS ids_sha
           |FROM tok t JOIN vocab v ON v.tok = t.tok
           |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin
      }
    ),
    Q(
      "pipeline_dataset_diff",
      // Dataset-version diff by CONTENT identity (round-14): the
      // training-data release audit — what changed between corpus v1
      // and v2, classified added / removed / changed / unchanged per
      // language. Unlike the CDC/table-changes tier (which diffs by row
      // KEY against a commit log), this diffs by doc id + text sha —
      // the shape used when v2 arrives as a re-export with no lineage
      // (the common case for third-party corpora). v2 is staged
      // deterministically from v1: every 19th doc dropped, every
      // (non-dropped) 13th doc's text perturbed, and every 17th doc
      // re-added as a NEW id (the near-dup trap a naive key diff calls
      // "added" but a content-hash pass can link back — n_added_dups
      // counts exactly those). Scale: both sides reduce to (id, lang,
      // sha) projections before the full-outer join — the diff never
      // moves document text, only 64-byte hashes.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""WITH v1 AS (
          |  SELECT doc_id, lang, sha2(text, 256) AS sha, text FROM documents),
          |v2 AS (
          |  SELECT doc_id, lang,
          |         CASE WHEN doc_id % 13 = 0
          |              THEN sha2(concat(text, ' [rev2]'), 256)
          |              ELSE sha2(text, 256) END AS sha
          |  FROM documents WHERE doc_id % 19 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1000000000, lang, sha2(text, 256)
          |  FROM documents WHERE doc_id % 17 = 0),
          |j AS (
          |  SELECT coalesce(a.lang, b.lang) AS lang,
          |         CASE WHEN a.doc_id IS NULL THEN 'added'
          |              WHEN b.doc_id IS NULL THEN 'removed'
          |              WHEN a.sha <> b.sha THEN 'changed'
          |              ELSE 'unchanged' END AS kind,
          |         b.sha AS bsha
          |  FROM (SELECT doc_id, lang, sha FROM v1) a
          |  FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
          |v1sha AS (SELECT DISTINCT sha FROM v1)
          |SELECT lang, kind, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CASE WHEN kind = 'added'
          |                 AND bsha IN (SELECT sha FROM v1sha)
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_added_dups
          |FROM j GROUP BY lang, kind ORDER BY lang, kind""".stripMargin)
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id, lang, sha256(text) AS sha, text FROM documents),
             |v2 AS (
             |  SELECT doc_id, lang,
             |         CASE WHEN doc_id % 13 = 0
             |              THEN sha256(concat(text, ' [rev2]'))
             |              ELSE sha256(text) END AS sha
             |  FROM documents WHERE doc_id % 19 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000000, lang, sha256(text)
             |  FROM documents WHERE doc_id % 17 = 0),
             |j AS (
             |  SELECT coalesce(a.lang, b.lang) AS lang,
             |         CASE WHEN a.doc_id IS NULL THEN 'added'
             |              WHEN b.doc_id IS NULL THEN 'removed'
             |              WHEN a.sha <> b.sha THEN 'changed'
             |              ELSE 'unchanged' END AS kind,
             |         b.sha AS bsha
             |  FROM (SELECT doc_id, lang, sha FROM v1) a
             |  FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
             |v1sha AS (SELECT DISTINCT sha FROM v1)
             |SELECT lang, kind, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CASE WHEN kind = 'added'
             |                 AND bsha IN (SELECT sha FROM v1sha)
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_added_dups
             |FROM j GROUP BY lang, kind ORDER BY lang, kind""".stripMargin)
    ),
    Q(
      "text_heaps_law",
      // Heaps'-law vocabulary growth fit (round-14): V(N) ≈ k·N^β — the
      // curve that answers "how much NEW vocabulary does the next
      // terabyte buy" (β near 1 → vocabulary still exploding, keep
      // crawling; β ≪ 1 → diminishing returns; the planning sibling of
      // stat_chao1_vocab's asymptote estimate). The corpus is swept in
      // doc_id order at 10 decile checkpoints: cumulative token count N
      // from per-doc counts, cumulative vocabulary V as tokens whose
      // FIRST-occurrence doc is inside the prefix (one min-fold per
      // token — no per-checkpoint rescan), then a closed-form OLS of
      // ln V on ln N with each ln e6-floored before the integer
      // regression sums. Scale: first-occurrence is one shuffle on the
      // token; the checkpoint cross joins are O(10·vocab) and
      // O(10·docs); at 100 TB the decile boundaries come from a
      // doc_id quantile sketch instead of the exact ntile.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""WITH toks AS (
          |  SELECT doc_id, tok
          |  FROM documents
          |  LATERAL VIEW explode(split(text, ' ')) t AS tok),
          |firstocc AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fd
          |             FROM toks GROUP BY tok),
          |dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
          |       FROM toks GROUP BY doc_id),
          |cps AS (
          |  SELECT tile, CAST(max(doc_id) AS BIGINT) AS cp FROM (
          |    SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS tile FROM dc)
          |  GROUP BY tile),
          |nn AS (
          |  SELECT p.tile, p.cp, CAST(sum(d.c) AS BIGINT) AS n_tokens
          |  FROM cps p JOIN dc d ON d.doc_id <= p.cp
          |  GROUP BY p.tile, p.cp),
          |vv AS (
          |  SELECT p.tile, CAST(count(*) AS BIGINT) AS vocab
          |  FROM cps p JOIN firstocc f ON f.fd <= p.cp
          |  GROUP BY p.tile),
          |pts AS (
          |  SELECT nn.tile, nn.cp, nn.n_tokens, vv.vocab,
          |         CAST(floor(ln(CAST(nn.n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lx,
          |         CAST(floor(ln(CAST(vv.vocab AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ly
          |  FROM nn JOIN vv ON nn.tile = vv.tile),
          |fit AS (
          |  SELECT CAST(count(*) AS BIGINT) AS np, CAST(sum(lx) AS BIGINT) AS sx,
          |         CAST(sum(ly) AS BIGINT) AS sy,
          |         CAST(sum(lx * ly) AS BIGINT) AS sxy,
          |         CAST(sum(lx * lx) AS BIGINT) AS sxx
          |  FROM pts)
          |SELECT CAST(pts.tile AS BIGINT) AS decile, pts.cp AS cp_doc_id,
          |       pts.n_tokens, pts.vocab,
          |       CAST(floor((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          |            / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          |            * 1000000 + 0.5) AS BIGINT) AS heaps_beta_e6
          |FROM pts CROSS JOIN fit
          |ORDER BY decile""".stripMargin)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |firstocc AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fd
             |             FROM toks GROUP BY tok),
             |dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c
             |       FROM toks GROUP BY doc_id),
             |cps AS (
             |  SELECT tile, CAST(max(doc_id) AS BIGINT) AS cp FROM (
             |    SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS tile FROM dc) t
             |  GROUP BY tile),
             |nn AS (
             |  SELECT p.tile, p.cp, CAST(sum(d.c) AS BIGINT) AS n_tokens
             |  FROM cps p JOIN dc d ON d.doc_id <= p.cp
             |  GROUP BY p.tile, p.cp),
             |vv AS (
             |  SELECT p.tile, CAST(count(*) AS BIGINT) AS vocab
             |  FROM cps p JOIN firstocc f ON f.fd <= p.cp
             |  GROUP BY p.tile),
             |pts AS (
             |  SELECT nn.tile, nn.cp, nn.n_tokens, vv.vocab,
             |         CAST(floor(ln(CAST(nn.n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lx,
             |         CAST(floor(ln(CAST(vv.vocab AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ly
             |  FROM nn JOIN vv ON nn.tile = vv.tile),
             |fit AS (
             |  SELECT CAST(count(*) AS BIGINT) AS np, CAST(sum(lx) AS BIGINT) AS sx,
             |         CAST(sum(ly) AS BIGINT) AS sy,
             |         CAST(sum(lx * ly) AS BIGINT) AS sxy,
             |         CAST(sum(lx * lx) AS BIGINT) AS sxx
             |  FROM pts)
             |SELECT CAST(pts.tile AS BIGINT) AS decile, pts.cp AS cp_doc_id,
             |       pts.n_tokens, pts.vocab,
             |       CAST(floor((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |            / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             |            * 1000000 + 0.5) AS BIGINT) AS heaps_beta_e6
             |FROM pts CROSS JOIN fit
             |ORDER BY decile""".stripMargin)
    ),
    Q(
      "pipeline_eval_holdout",
      // Eval-set preparation end-to-end: exact dedup → benchmark
      // decontamination (any shared token 5-gram with the held-out
      // sample disqualifies) → deterministic 5% train/val split by
      // multiplicative hash → per-(source, split) corpus accounting.
      // The fourth lifecycle row: where pipeline_training_mix ASSEMBLES
      // a mix, this guards the measurement — leaked eval grams or an
      // RNG split would silently inflate benchmark numbers at any
      // scale. Same scale shapes as the component tiers: hash-keyed
      // dedup shuffle, broadcast gram semi-join (the corpus side stays
      // map-only), and a split that is pure key arithmetic — no RNG, no
      // driver state, reproducible under any partitioning.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val dedup = docs.withColumn("rn", row_number().over(
            Window.partitionBy(sha2(lower(trim(col("text"))), 256))
              .orderBy(col("doc_id"))))
          .filter(col("rn") === 1).drop("rn")
        val grams = dedup
          .select(col("doc_id"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"),
            explode(MinHash.shingleHashes(col("crcs"), 5, distinct = true, modP = false))
              .as("gram"))
        val evalGrams = grams.filter(col("doc_id") % 37 === 0)
          .select(col("gram")).distinct()
        val contaminated = grams.filter(col("doc_id") % 37 =!= 0)
          .join(broadcast(evalGrams), Seq("gram"))
          .select(col("doc_id")).distinct()
        val clean = dedup.filter(col("doc_id") % 37 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
        clean
          // r9 ScaleStress fix: fold doc_id into a bounded residue BEFORE
          // the Knuth multiply — (doc_id * 2654435761) overflows ANSI
          // BIGINT once ids exceed ~3.5e9, which a 100 TB corpus hits;
          // (id % 1000003) * k maxes at ~2.7e15, safe at any id scale
          .withColumn("split",
            when(((col("doc_id") % 1000003L) * 2654435761L) % 20 === 0, "val")
              .otherwise("train"))
          .withColumn("tok", expr("(length(text) + 3) div 4"))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
          .orderBy(col("source"), col("split"))
      },
      Some("""WITH dedup AS (
             |  SELECT * FROM (
             |    SELECT d.*, row_number() OVER (PARTITION BY lower(trim(text))
             |                                   ORDER BY doc_id) AS rn
             |    FROM documents d) t WHERE rn = 1),
             |grams AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(string_split(text, ' ')) - 3),
             |    i -> string_split(text, ' ')[i] || ' ' ||
             |         string_split(text, ' ')[i+1] || ' ' ||
             |         string_split(text, ' ')[i+2] || ' ' ||
             |         string_split(text, ' ')[i+3] || ' ' ||
             |         string_split(text, ' ')[i+4]))) AS gram
             |  FROM dedup),
             |eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0),
             |contam AS (
             |  SELECT DISTINCT g.doc_id FROM grams g JOIN eval_grams e USING (gram)
             |  WHERE g.doc_id % 37 <> 0),
             |clean AS (
             |  SELECT * FROM dedup
             |  WHERE doc_id % 37 <> 0
             |    AND doc_id NOT IN (SELECT doc_id FROM contam))
             |SELECT source,
             |       CASE WHEN ((doc_id % 1000003) * 2654435761) % 20 = 0 THEN 'val' ELSE 'train' END AS split,
             |       count(*) AS n_docs,
             |       CAST(sum((length(text) + 3) // 4) AS BIGINT) AS tokens
             |FROM clean GROUP BY 1, 2 ORDER BY source, split""".stripMargin)
    ),
    Q(
      "pipeline_training_mix",
      // The full training-data assembly line as ONE row: integer quality
      // gate → exact dedup → near-dup closure (connected components over
      // the blocked candidate graph) → per-language token-budget fill in
      // quality order. This is the pipeline a 100 TB corpus actually runs
      // to produce a training mix, composed from the engine's own tiers:
      // every stage is a keyed shuffle or an iterative join (components),
      // the corpus text never moves after the scoring scan, and the
      // greedy fill is one window pass per language. All arithmetic is
      // BIGINT (integer quality score, token counts, running totals) so
      // the greedy selection order — and therefore WHICH docs make the
      // mix — is bit-identical in both engines; a float score could flip
      // a rank at the budget boundary and change the output set.
      (s, dir) => {
        val toksM = split(col("text"), " ")
        val stopArr = array(Seq("the", "and", "of", "a", "to", "in", "is").map(lit): _*)
        val scored = Tables(s, dir, "documents")
          .withColumn("n_tokens", size(toksM).cast("long"))
          .withColumn("stop_hits",
            size(filter(toksM, t => array_contains(stopArr, t))).cast("long"))
          .withColumn("q_int",
            least(col("n_tokens"), lit(80L)) * 100 + least(col("stop_hits"), lit(10L)) * 50)
          .filter(col("q_int") >= 3000)
        // exact dedup keeps the min-id row per normalized text; the hash
        // (not the text) is the shuffle key
        val keepers = scored
          .withColumn("rn", row_number().over(
            Window.partitionBy(sha2(lower(trim(col("text"))), 256))
              .orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            col("n_tokens"), col("q_int"))
          // r17 (guide §2.4, VERDICT r16 next-round #3): keepers feeds FIVE
          // subtrees (probe + build sides of the candidate join, the CC
          // node set twice, and the reps join) — uncheckpointed, each one
          // replayed the scan → token-score lambdas → dedup window. One
          // lazy checkpoint runs that stage once; the loop and the final
          // window read materialized blocks.
          .localCheckpoint(false)
        // near-dup closure over the survivor set: same blocking band as the
        // dedup tier (source, |Δ n_chars| ≤ 1 via explode-to-equi-join),
        // components by iterative min-label propagation
        val probe = keepers.select(col("source"),
          explode(array(col("n_chars") - 1, col("n_chars"), col("n_chars") + 1)).as("nc"),
          col("doc_id").as("src"))
        val build = keepers.select(col("source"), col("n_chars").as("nc"),
          col("doc_id").as("dst"))
        val edges = probe.join(build, Seq("source", "nc"))
          .filter(col("src") =!= col("dst")).select(col("src"), col("dst"))
        val comp = Graph.connectedComponents(keepers.select(col("doc_id")), edges)
        val reps = keepers.join(comp, "doc_id").filter(col("doc_id") === col("comp"))
        // greedy budget fill: 3000 tokens per language, best quality first;
        // a doc is kept iff the budget is not exhausted BEFORE it
        val order = Window.partitionBy(col("lang"))
          .orderBy(col("q_int").desc, col("doc_id").asc)
        reps
          .withColumn("cum_before", coalesce(
            sum(col("n_tokens")).over(order.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .filter(col("cum_before") < 3000)
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("q_int"),
            (col("cum_before") + col("n_tokens")).as("cum_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE scored AS (
             |  SELECT doc_id, lang, source, n_chars, text,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |         CAST(len(list_filter(string_split(text, ' '),
             |              t -> t IN ('the','and','of','a','to','in','is'))) AS BIGINT) AS stop_hits
             |  FROM documents),
             |gated AS (
             |  SELECT *, least(n_tokens, 80) * 100 + least(stop_hits, 10) * 50 AS q_int
             |  FROM scored
             |  WHERE least(n_tokens, 80) * 100 + least(stop_hits, 10) * 50 >= 3000),
             |keepers AS (
             |  SELECT doc_id, lang, source, n_chars, n_tokens, q_int FROM (
             |    SELECT *, row_number() OVER (PARTITION BY lower(trim(text))
             |                                 ORDER BY doc_id) AS rn
             |    FROM gated) WHERE rn = 1),
             |edges AS (
             |  SELECT a.doc_id AS src, b.doc_id AS dst
             |  FROM keepers a JOIN keepers b
             |    ON a.source = b.source
             |   AND abs(a.n_chars - b.n_chars) <= 1
             |   AND a.doc_id <> b.doc_id),
             |reach(doc, r) AS (
             |  SELECT doc_id, doc_id FROM keepers
             |  UNION
             |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.doc),
             |labeled AS (
             |  SELECT doc AS doc_id, min(r) AS component FROM reach GROUP BY doc),
             |reps AS (
             |  SELECT k.* FROM keepers k
             |  JOIN labeled l ON k.doc_id = l.doc_id AND k.doc_id = l.component),
             |filled AS (
             |  SELECT doc_id, lang, n_tokens, q_int,
             |         coalesce(sum(n_tokens) OVER (
             |           PARTITION BY lang ORDER BY q_int DESC, doc_id ASC
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |  FROM reps)
             |SELECT doc_id, lang, n_tokens, q_int,
             |       CAST(cum_before + n_tokens AS BIGINT) AS cum_tokens
             |FROM filled WHERE cum_before < 3000 ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_corpus_profile",
      (s, dir) => {
        Tables(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            util.r2(avg(col("n_chars"))).as("avg_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"), col("source"))
      },
      Some(s"""SELECT lang, source, count(*) AS n_docs,
              |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
              |       ${util.r2sql("avg(n_chars)")} AS avg_chars,
              |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
              |FROM documents GROUP BY lang, source
              |ORDER BY lang, source""".stripMargin)
    ),
    Q(
      "text_shingle_containment",
      // Directional containment C(A⊆B) = |A∩B| / |A| over token-3-gram
      // sets: catches SUBSET duplicates (a doc quoted inside a longer one)
      // that symmetric Jaccard scores low — the second dedup axis a
      // training corpus needs. Same source-blocked pair shape and 54-bit
      // gram hashes as text_ngram_jaccard; integer-count division only,
      // so the doubles are bitwise-equal cross-engine.
      (s, dir) => {
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"), col("source"),
            explode(MinHash.shingleHashes(col("crcs"), 3, distinct = true, modP = false))
              .as("gram"))
        val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val a = grams.select(col("source"), col("doc_id").as("doc_a"), col("gram"))
        val b = grams.select(col("source"), col("doc_id").as("doc_b"), col("gram"))
        a.join(b, Seq("source", "gram")).filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (col("common").cast("double") / col("na")).as("c_a_in_b"),
            (col("common").cast("double") / col("nb")).as("c_b_in_a"))
          .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.1)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, source,
             |         unnest(list_distinct(list_transform(
             |           range(1, len(string_split(text, ' ')) - 1),
             |           i -> string_split(text, ' ')[i] || ' ' ||
             |                string_split(text, ' ')[i+1] || ' ' ||
             |                string_split(text, ' ')[i+2]))) AS gram
             |  FROM documents),
             |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
             |pairs AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
             |  FROM grams a JOIN grams b ON a.source = b.source AND a.gram = b.gram
             |  WHERE a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       CAST(common AS DOUBLE) / na.n_grams AS c_a_in_b,
             |       CAST(common AS DOUBLE) / nb.n_grams AS c_b_in_a
             |FROM pairs
             |JOIN sizes na ON na.doc_id = doc_a
             |JOIN sizes nb ON nb.doc_id = doc_b
             |WHERE greatest(CAST(common AS DOUBLE) / na.n_grams,
             |               CAST(common AS DOUBLE) / nb.n_grams) >= 0.1
             |ORDER BY doc_a, doc_b""".stripMargin)
    ),
    Q(
      "text_df_vocab",
      // Vocabulary with document frequencies — the integer half of tf-idf
      // (the idf logarithm is deliberately NOT computed here: libm log is
      // not guaranteed bit-identical across engines, and df/n_docs carries
      // the same information exactly). distinct (doc, token) then one
      // count per token; integer counts only.
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"), explode(toks).as("token"))
          .distinct()
          .groupBy(col("token"))
          .agg(count(lit(1)).as("doc_freq"))
          .filter(col("doc_freq") >= 5)
          .orderBy(col("token"))
      },
      Some("""SELECT token, count(*) AS doc_freq FROM (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             |  FROM documents) t
             |GROUP BY token HAVING count(*) >= 5
             |ORDER BY token""".stripMargin)
    ),
    Q(
      "text_tfidf_topk",
      // tf-idf top terms per document — the standard corpus-relevance
      // primitive, composed from the same pieces as text_df_vocab: per-doc
      // term frequency (one shuffle keyed by (doc, token)), document
      // frequency over the same counts (one shuffle keyed by token, df ≥ 5
      // as in text_df_vocab), then score = tf * ln(n_docs / df). The df
      // vocabulary and the one-row doc count are broadcast, so the corpus
      // shuffles exactly twice and never moves text — scale-safe. Ranking
      // is over the r2-ROUNDED score (tie-break token asc): both engines
      // rank the identical rounded value, so a 1-ulp libm-log divergence
      // can't flip ranks — the only residual risk is the same
      // rounding-boundary class every r2 operator already carries.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(toks).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("token"))
          .agg(count(lit(1)).as("doc_freq"))
          .filter(col("doc_freq") >= 5)
        val nDocs = docs.agg(count_distinct(col("doc_id")).as("n_docs"))
        val scored = tf
          .join(broadcast(dfreq), Seq("token"))
          .crossJoin(broadcast(nDocs))
          .withColumn("tfidf",
            util.r2(col("tf") *
              log(col("n_docs").cast("double") / col("doc_freq"))))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token"))
        scored
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("tfidf"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some(s"""WITH tfc AS (
              |  SELECT doc_id, token, count(*) AS tf FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
              |    FROM documents) t
              |  GROUP BY doc_id, token),
              |dfreq AS (
              |  SELECT token, count(*) AS doc_freq FROM tfc
              |  GROUP BY token HAVING count(*) >= 5),
              |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              |scored AS (
              |  SELECT t.doc_id, t.token, t.tf,
              |         ${util.r2sql("t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.doc_freq)")} AS tfidf
              |  FROM tfc t JOIN dfreq d USING (token) CROSS JOIN nd n),
              |ranked AS (
              |  SELECT doc_id, token, tf, tfidf,
              |         row_number() OVER (PARTITION BY doc_id
              |                            ORDER BY tfidf DESC, token) AS rk
              |  FROM scored)
              |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf, tfidf
              |FROM ranked WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin)
    ),
    Q(
      "text_chunk_windows",
      // Training-sample chunking: overlapping token windows (size 32,
      // stride 24) per document — the batch op that turns a cleaned corpus
      // into fixed-length training samples. Pure per-row explode (window
      // starts are an arithmetic sequence; chunk_id derives from the
      // start, so no ordinality dependence), chunks pinned by sha256 so
      // the gate verifies full chunk CONTENT without shipping it.
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(1, greatest(size(split(text, ' ')) - 31, 1), 24)"))
              .as("start_tok"))
          .select(col("doc_id"),
            ((col("start_tok") - 1) / 24).cast("long").as("chunk_id"),
            col("start_tok").cast("long").as("start_tok"),
            expr("slice(split(text, ' '), start_tok, 32)").as("chunk"))
          .select(col("doc_id"), col("chunk_id"), col("start_tok"),
            size(col("chunk")).cast("long").as("chunk_len"),
            sha2(concat_ws(" ", col("chunk")), 256).as("chunk_sha"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |st AS (
             |  SELECT doc_id, toks,
             |         unnest(range(1, greatest(len(toks) - 31, 1) + 1, 24)) AS start_tok
             |  FROM t)
             |SELECT doc_id,
             |       CAST((start_tok - 1) // 24 AS BIGINT) AS chunk_id,
             |       CAST(start_tok AS BIGINT) AS start_tok,
             |       CAST(len(toks[start_tok : start_tok + 31]) AS BIGINT) AS chunk_len,
             |       sha256(array_to_string(toks[start_tok : start_tok + 31], ' ')) AS chunk_sha
             |FROM st ORDER BY doc_id, chunk_id""".stripMargin)
    ),
    Q(
      "text_pii_scrub",
      // PII redaction pass (training-corpus hygiene): emails and
      // phone-shaped tokens are regex-replaced with typed placeholders.
      // The fixture text is synthetic-clean, so deterministic PII is first
      // INJECTED from doc_id (the same construction on both engines) —
      // what's verified is the scrub itself: per-row regex work, no
      // shuffle, and the scrubbed text is compared by sha256 so the full
      // redacted string is pinned without shipping it through the gate.
      (s, dir) => {
        val emailRe = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
        val phoneRe = "\\d{3}-\\d{4}"
        val noisy = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val scrubbed = regexp_replace(
          regexp_replace(noisy, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            regexp_count(noisy, lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(noisy, lit(phoneRe)).cast("long").as("n_phones"),
            length(scrubbed).cast("long").as("scrubbed_len"),
            sha2(scrubbed, 256).as("scrubbed_sha"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH noisy AS (
             |  SELECT doc_id,
             |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
             |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(t, '\d{3}-\d{4}')) AS BIGINT) AS n_phones,
             |       CAST(length(regexp_replace(regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'), '\d{3}-\d{4}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len,
             |       sha256(regexp_replace(regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'), '\d{3}-\d{4}', '<PHONE>', 'g')) AS scrubbed_sha
             |FROM noisy ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_repetition_ratio",
      // Repetition signals (C4/Gopher-style quality filter): duplicate-token
      // ratio and top-token fraction per document. One explode + two-level
      // aggregation — the shuffle carries (doc_id, token) counts, never the
      // text, so the shape holds on a 100 TB corpus.
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"), explode(toks).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
          .groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max(col("n")).as("top_n"))
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("n_distinct").cast("long").as("n_distinct"),
            util.r2(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_ratio"),
            util.r2(col("top_n").cast("double") / col("n_tokens")).as("top_token_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
              |cnt AS (
              |  SELECT doc_id, tok, count(*) AS n FROM tk GROUP BY doc_id, tok),
              |agg AS (
              |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
              |         count(*) AS n_distinct, max(n) AS top_n
              |  FROM cnt GROUP BY doc_id)
              |SELECT doc_id, n_tokens, n_distinct,
              |       ${util.r2sql("1.0 - CAST(n_distinct AS DOUBLE) / n_tokens")} AS dup_ratio,
              |       ${util.r2sql("CAST(top_n AS DOUBLE) / n_tokens")} AS top_token_frac
              |FROM agg ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_gopher_quality",
      // Gopher-style hard quality gates: word-count window, mean word
      // length window, short-word fraction cap, stopword presence — each
      // flag emitted plus the conjunction, all per-row HOF arithmetic
      // (no shuffle; at scale this is a free pre-filter before dedup).
      (s, dir) => {
        val nTok = size(toks).cast("double")
        val meanLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
          .cast("double") / nTok
        val shortFrac = size(filter(toks, t => length(t) <= 2)).cast("double") / nTok
        val hasStop = markerCount(markers.head._2) > 0
        val okWords = nTok >= 10 && nTok <= 10000
        val okLen = meanLen >= lit(2.0) && meanLen <= lit(10.0)
        val okShort = shortFrac <= lit(0.4)
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            nTok.cast("long").as("n_words"),
            util.r2(meanLen).as("mean_word_len"),
            util.r2(shortFrac).as("short_word_frac"),
            okWords.as("ok_words"), okLen.as("ok_len"),
            okShort.as("ok_short"), hasStop.as("has_stopword"),
            (okWords && okLen && okShort && hasStop).as("passes"))
          .orderBy(col("doc_id"))
      },
      {
        val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
        val meanLen = s"CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE) / $nTok"
        val shortFrac = s"CAST(len(list_filter(string_split(text, ' '), t -> length(t) <= 2)) AS DOUBLE) / $nTok"
        val hasStop = s"${markerCountSql(markers.head._2)} > 0"
        val okWords = s"($nTok >= 10 AND $nTok <= 10000)"
        val okLen = s"($meanLen >= 2.0 AND $meanLen <= 10.0)"
        val okShort = s"($shortFrac <= 0.4)"
        Some(s"""SELECT doc_id,
                |       CAST($nTok AS BIGINT) AS n_words,
                |       ${util.r2sql(meanLen)} AS mean_word_len,
                |       ${util.r2sql(shortFrac)} AS short_word_frac,
                |       $okWords AS ok_words, $okLen AS ok_len,
                |       $okShort AS ok_short, $hasStop AS has_stopword,
                |       ($okWords AND $okLen AND $okShort AND $hasStop) AS passes
                |FROM documents ORDER BY doc_id""".stripMargin)
      }
    ),
    Q(
      "text_dup_ngram_char_frac",
      // Gopher's duplicate-n-gram CHARACTER fraction (round-13): the
      // repetition gate text_repetition_ratio does not cover — not "how
      // many tokens repeat" but "what fraction of the document's
      // CHARACTERS sits inside word-4-grams that occur more than once in
      // the doc" (dup_ngram_char_frac, the gate that kills boilerplate
      // and template spam that unique-token ratios miss because every
      // token is common but the PHRASES loop). Exact integers: each
      // 4-gram carries its own character length (3 separators included),
      // duplicated-gram chars = Σ over grams with count>1 of count·len.
      // Scale: explode + two keyed aggregates; the shuffle carries
      // (doc, gram-hash-sized) cells, never the text, and the final
      // fraction is one e6 pin per doc.
      (s, dir) => {
        // hoist the tokenization out of the lambda: `split(text)` INSIDE
        // the transform body re-tokenized the whole document once PER
        // GRAM — O(tokens²) character work per doc (guide §1.2 per-task
        // work). Aliasing it in its own projection evaluates it once per
        // row; fanout spreads the gram explode off the single-file
        // scan's one task (guide §2.5).
        val grams = graft.util.fanout(Tables(s, dir, "documents")
            .select(col("doc_id"),
              length(col("text")).cast("long").as("n_chars"),
              split(col("text"), " ").as("ts")))
          .select(col("doc_id"), col("n_chars"),
            explode(expr(
              """transform(sequence(0, size(ts) - 4),
                |  i -> concat_ws(' ', slice(ts, i + 1, 4)))"""
                .stripMargin)).as("gram"))
        grams
          .groupBy(col("doc_id"), col("n_chars"), col("gram"))
          .agg(count(lit(1)).as("cnt"),
            (length(col("gram")) + lit(1)).cast("long").as("glen"))
          .groupBy(col("doc_id"), col("n_chars"))
          .agg(sum(when(col("cnt") > 1, col("cnt") * col("glen")).otherwise(0L))
            .as("dup_chars"))
          .select(col("doc_id"), col("n_chars"), col("dup_chars"),
            expr("""CAST(floor(least(CAST(dup_chars AS DOUBLE) / n_chars, 1.0)
                    * 1000000 + 0.5) AS BIGINT)""").as("dup_char_frac_e6"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             |         unnest(list_transform(
             |           range(1, len(string_split(text, ' ')) - 2),
             |           i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS gram
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt,
             |         CAST(length(gram) + 1 AS BIGINT) AS glen
             |  FROM g GROUP BY doc_id, n_chars, gram),
             |d AS (
             |  SELECT doc_id, n_chars,
             |         CAST(sum(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END) AS BIGINT) AS dup_chars
             |  FROM c GROUP BY doc_id, n_chars)
             |SELECT doc_id, n_chars, dup_chars,
             |       CAST(floor(least(CAST(dup_chars AS DOUBLE) / n_chars, 1.0)
             |            * 1000000 + 0.5) AS BIGINT) AS dup_char_frac_e6
             |FROM d ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "pipeline_padding_waste",
      // Padding-efficiency audit for length-bucketed batching
      // (round-13): the GPU-utilization question every training loader
      // answers before picking a batching policy — if sequences are
      // padded to their LENGTH BUCKET's ceiling (multiples of 64 tokens)
      // instead of one global maximum, how much compute is padding?
      // Per bucket: docs, real tokens, padded tokens, bucket waste
      // fraction, plus each bucket's waste under the global-max policy —
      // the two policies' costs side by side, from the SAME scan.
      // Everything is integer arithmetic off one token count per doc
      // (e6-pinned fractions); the global max broadcasts as a 1-row
      // aggregate. Scale: one map-side length pass + one bucket
      // aggregate — shuffle carries O(buckets) rows.
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("len"))
        val g = d.groupBy(
            (ceil(col("len").cast("double") / 64) * 64).cast("long").as("bucket_len"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_tokens"))
        val mx = d.agg(max(col("len")).as("max_len"))
        g.crossJoin(broadcast(mx))
          .select(col("bucket_len"), col("n_docs"), col("sum_tokens"),
            (col("bucket_len") * col("n_docs")).as("sum_padded"),
            expr("""CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
                    / (bucket_len * n_docs)) * 1000000 + 0.5) AS BIGINT)""")
              .as("bucket_waste_e6"),
            expr("""CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
                    / (max_len * n_docs)) * 1000000 + 0.5) AS BIGINT)""")
              .as("globalpad_waste_e6"))
          .orderBy(col("bucket_len"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
             |  FROM documents),
             |g AS (
             |  SELECT CAST(ceil(CAST(len AS DOUBLE) / 64) * 64 AS BIGINT) AS bucket_len,
             |         CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(len) AS BIGINT) AS sum_tokens
             |  FROM d GROUP BY 1),
             |mx AS (SELECT CAST(max(len) AS BIGINT) AS max_len FROM d)
             |SELECT bucket_len, n_docs, sum_tokens,
             |       bucket_len * n_docs AS sum_padded,
             |       CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
             |            / (bucket_len * n_docs)) * 1000000 + 0.5) AS BIGINT) AS bucket_waste_e6,
             |       CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
             |            / (max_len * n_docs)) * 1000000 + 0.5) AS BIGINT) AS globalpad_waste_e6
             |FROM g, mx ORDER BY bucket_len""".stripMargin)
    ),
    Q(
      "pipeline_padding_waste_bpe",
      // Padding-efficiency audit on REAL subword token counts (r15
      // verdict #3, closing the r14 #3 residual): pipeline_padding_waste
      // buckets on whitespace tokens, but a training loader budgets
      // against what the TOKENIZER emits — so this row re-runs the same
      // two-policy audit (64-multiple length buckets vs global max) on
      // text_bpe_encode's per-doc BPE token counts over the English
      // corpus, carrying the whitespace count per bucket side by side
      // (`sum_tokens_ws`) so the estimator bias is visible in-row. The
      // answer CHANGES under the real counts — merges shrink exactly
      // the frequent-collocation docs, re-binning them across bucket
      // boundaries (Round16Spec pins a measurable divergence from the
      // whitespace-count audit on the same corpus). The merge table is
      // staged once per session (bpeTrain memo), so this row costs one
      // map-only encode pass + an O(buckets) aggregate — the same scan
      // shape as the whitespace row, which is the point: real token
      // accounting is NOT more expensive, it just needs the trained
      // merges in executor memory like any tokenizer apply step.
      (s, dir) => {
        val enc = bpeEncodedCorpus(s, dir)
        val ws = Tables(s, dir, "documents")
          .filter(col("lang") === "en")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_len"))
        val d = enc.select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("len"))
          .join(ws, "doc_id")
        val g = d.groupBy(
            (ceil(col("len").cast("double") / 64) * 64).cast("long")
              .as("bucket_len"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_tokens"),
            sum(col("ws_len")).as("sum_tokens_ws"))
        val mx = d.agg(max(col("len")).as("max_len"))
        g.crossJoin(broadcast(mx))
          .select(col("bucket_len"), col("n_docs"), col("sum_tokens"),
            col("sum_tokens_ws"),
            (col("bucket_len") * col("n_docs")).as("sum_padded"),
            expr("""CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
                    / (bucket_len * n_docs)) * 1000000 + 0.5) AS BIGINT)""")
              .as("bucket_waste_e6"),
            expr("""CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
                    / (max_len * n_docs)) * 1000000 + 0.5) AS BIGINT)""")
              .as("globalpad_waste_e6"))
          .orderBy(col("bucket_len"))
      },
      Some(
        s"""WITH $bpeSampleCte,
           |${bpeRoundsSql(withVocab = false)},
           |$bpeApplyCtes,
           |d AS (
           |  SELECT e5.doc_id,
           |         CAST(len(string_split(e5.text, ' ')) AS BIGINT) AS len,
           |         CAST(len(string_split(w.text, ' ')) AS BIGINT) AS ws_len
           |  FROM e5 JOIN documents w ON w.doc_id = e5.doc_id),
           |g AS (
           |  SELECT CAST(ceil(CAST(len AS DOUBLE) / 64) * 64 AS BIGINT) AS bucket_len,
           |         CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(len) AS BIGINT) AS sum_tokens,
           |         CAST(sum(ws_len) AS BIGINT) AS sum_tokens_ws
           |  FROM d GROUP BY 1),
           |mx AS (SELECT CAST(max(len) AS BIGINT) AS max_len FROM d)
           |SELECT bucket_len, n_docs, sum_tokens, sum_tokens_ws,
           |       bucket_len * n_docs AS sum_padded,
           |       CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
           |            / (bucket_len * n_docs)) * 1000000 + 0.5) AS BIGINT) AS bucket_waste_e6,
           |       CAST(floor((1.0 - CAST(sum_tokens AS DOUBLE)
           |            / (max_len * n_docs)) * 1000000 + 0.5) AS BIGINT) AS globalpad_waste_e6
           |FROM g, mx ORDER BY bucket_len""".stripMargin)
    ),
    Q(
      "text_pack_sequences_bpe",
      // Sequence packing on REAL subword counts (round-16, the packing
      // analogue of pipeline_padding_waste_bpe): text_pack_sequences
      // streams docs into fixed context windows using a chars/4 token
      // estimate, but the loader that actually fills a context window
      // budgets against what the tokenizer emits — and merges shrink
      // exactly the frequent-collocation docs, so the BIN BOUNDARIES
      // move: docs pack tighter, bins hold more docs, and the last bin
      // per source lands elsewhere (Round16Spec pins that the packing
      // differs from the whitespace-count packing of the same corpus).
      // The 64-token budget is sized to the fixture's ~50-token docs so
      // boundary movement is observable at test scale; the plan is
      // budget-independent (production uses 2048/4096/8192 unchanged).
      // The whitespace token sum rides along per bin (`bin_tokens_ws`)
      // so the estimator bias is visible in-row. Same plan shape as the
      // estimate row — one window cumsum per source + one aggregate —
      // plus the session-staged merge table (bpeTrain memo): real
      // token accounting costs one map-only encode pass, exactly like
      // a production loader applying a trained tokenizer.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val enc = bpeEncodedCorpus(s, dir)
        val src = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("ws_tok"))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        enc.select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("tok"))
          .join(src, "doc_id")
          .withColumn("cum", sum(col("tok")).over(w))
          .withColumn("bin", expr("(cum - tok) div 64"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("bin_tokens"),
            sum(col("ws_tok")).as("bin_tokens_ws"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy(col("source"), col("bin"))
      },
      Some(
        s"""WITH $bpeSampleCte,
           |${bpeRoundsSql(withVocab = false)},
           |$bpeApplyCtes,
           |d AS (
           |  SELECT e5.doc_id, w.source,
           |         CAST(len(string_split(e5.text, ' ')) AS BIGINT) AS tok,
           |         CAST(len(string_split(w.text, ' ')) AS BIGINT) AS ws_tok
           |  FROM e5 JOIN documents w ON w.doc_id = e5.doc_id),
           |b AS (
           |  SELECT source, doc_id, tok, ws_tok,
           |         (CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) - tok) // 64 AS bin
           |  FROM d)
           |SELECT source, bin, count(*) AS n_docs,
           |       CAST(sum(tok) AS BIGINT) AS bin_tokens,
           |       CAST(sum(ws_tok) AS BIGINT) AS bin_tokens_ws,
           |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin)
    ),
    Q(
      "text_oov_rate",
      // Tokenizer vocabulary coverage (round-13): per-document
      // out-of-vocabulary rate against the corpus's own top-20 tokens
      // (count desc, token asc tiebreak — fully deterministic). This is
      // the fertility/coverage pre-flight a tokenizer change runs before
      // retraining: a vocab swap that spikes OOV on one language or
      // source shows up here, not three days into training. The vocab is
      // O(20) and BROADCAST; the corpus-side pass is one explode + one
      // hash aggregate, so the shuffle carries (doc, token) counts, and
      // at 100 TB the vocab side is a metadata-sized build exactly like
      // a real tokenizer's merges table.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tok = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(toks).as("tok"))
        val vocab = tok.groupBy(col("tok"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cnt").desc, col("tok"))))
          .filter(col("rk") <= 20)
          .select(col("tok"), lit(1L).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            expr("CAST(floor(CAST(n_oov AS DOUBLE) / n_tokens * 1000000 + 0.5) AS BIGINT)")
              .as("oov_frac_e6"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |vocab AS (
             |  SELECT tok FROM (
             |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
             |    FROM tok GROUP BY tok) WHERE rk <= 20),
             |g AS (
             |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
             |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
             |  GROUP BY t.doc_id)
             |SELECT doc_id, n_tokens, n_oov,
             |       CAST(floor(CAST(n_oov AS DOUBLE) / n_tokens * 1000000 + 0.5) AS BIGINT) AS oov_frac_e6
             |FROM g ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_policy_gate",
      // Content-policy blocklist gate (r12 verdict #2): the
      // Dolma/RefinedWeb-shape step every production corpus runs before
      // training — count WORD-BOUNDARY blocklist hits per document,
      // threshold the hit FRACTION, and emit pass/flag/reject. The list
      // is inlined so DuckDB replays it verbatim: "slow" (frequent in the
      // fixture vocabulary), "low" (appears ONLY as a substring of
      // "slow" — the word-boundary `\b` must count it 0; OperatorSpec
      // pins the substring≠word cases on constructed strings), "leak"
      // (absent). Thresholds are evaluated with cross-multiplied integer
      // arithmetic (100·hits vs pct·tokens) — zero floats, so the verdict
      // is bitwise-identical on any engine. Purely map-side per document
      // (one regexp pass + one split), no shuffle before the final sort:
      // at 100 TB this is a free pre-filter fused into the scan.
      (s, dir) => {
        val pat = "\\b(slow|low|leak)\\b"
        val hits = regexp_count(col("text"), lit(pat))
        val nTok = size(split(col("text"), " ")).cast("long")
        Tables(s, dir, "documents")
          .select(col("doc_id"), nTok.as("n_tokens"), hits.cast("long").as("n_hits"))
          .select(col("doc_id"), col("n_tokens"), col("n_hits"),
            floor(col("n_hits").cast("double") / col("n_tokens") * 1000000 + 0.5)
              .cast("long").as("hit_frac_e6"),
            when(col("n_hits") * 100 >= col("n_tokens") * 5, "reject")
              .when(col("n_hits") * 100 >= col("n_tokens") * 2, "flag")
              .otherwise("pass").as("verdict"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |         CAST(len(regexp_extract_all(text, '\b(slow|low|leak)\b')) AS BIGINT) AS n_hits
             |  FROM documents)
             |SELECT doc_id, n_tokens, n_hits,
             |       CAST(floor(CAST(n_hits AS DOUBLE) / n_tokens * 1000000 + 0.5) AS BIGINT) AS hit_frac_e6,
             |       CASE WHEN n_hits * 100 >= n_tokens * 5 THEN 'reject'
             |            WHEN n_hits * 100 >= n_tokens * 2 THEN 'flag'
             |            ELSE 'pass' END AS verdict
             |FROM g ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_license_detect",
      // License / boilerplate detection for code corpora (r12 verdict
      // #3): the StarCoder/The-Stack compliance primitive that gates code
      // into a training mix. Two detector tiers, SPDX tag first: (1) the
      // machine-readable `SPDX-License-Identifier: <id>` line anywhere in
      // the HEADER ZONE (first 160 chars — where real tools look, so a
      // tag quoted deep in a document body doesn't relicense it), (2)
      // distinctive license phrases (MIT / Apache-2.0 / GPL / BSD) in the
      // same zone. The fixture corpus carries no headers, so the query
      // STAGES them deterministically — doc_id % 10 picks which header is
      // prepended — making both tiers and the 'none' fall-through
      // observable and DuckDB-replayable. Emits (doc, license, method,
      // evidence phrase + 1-based position). Map-side only: one regexp +
      // a few substring probes per document, no shuffle before the sort.
      (s, dir) => {
        val hdr = expr("""CASE CAST(doc_id % 10 AS INT)
          WHEN 0 THEN 'SPDX-License-Identifier: Apache-2.0\n'
          WHEN 1 THEN 'MIT License: Permission is hereby granted, free of charge\n'
          WHEN 2 THEN 'Licensed under the Apache License, Version 2.0\n'
          WHEN 3 THEN 'This program is free software under the GNU General Public License\n'
          WHEN 4 THEN 'Redistribution and use in source and binary forms\n'
          ELSE '' END""")
        val zone = substring(concat(hdr, col("text")), 1, 160)
        val spdx = regexp_extract(zone,
          "SPDX-License-Identifier: ([A-Za-z0-9.+-]+)", 1)
        val phrases = Seq(
          ("MIT", "Permission is hereby granted, free of charge"),
          ("Apache-2.0", "Licensed under the Apache License"),
          ("GPL-3.0-or-later", "GNU General Public License"),
          ("BSD-3-Clause", "Redistribution and use in source and binary forms"))
        val phraseLicense = phrases.foldRight(lit("none")) {
          case ((id, p), els) => when(instr(zone, p) > 0, id).otherwise(els)
        }
        val phraseEvidence = phrases.foldRight(lit("")) {
          case ((_, p), els) => when(instr(zone, p) > 0, p).otherwise(els)
        }
        val phrasePos = phrases.foldRight(lit(0)) {
          case ((_, p), els) => when(instr(zone, p) > 0, instr(zone, p)).otherwise(els)
        }
        Tables(s, dir, "documents")
          .select(col("doc_id"), zone.as("zone"), spdx.as("spdx"),
            phraseLicense.as("pl"), phraseEvidence.as("pe"), phrasePos.as("pp"))
          .select(col("doc_id"),
            when(col("spdx") =!= "", col("spdx")).otherwise(col("pl")).as("license"),
            when(col("spdx") =!= "", "spdx")
              .when(col("pl") =!= "none", "phrase")
              .otherwise("none").as("method"),
            when(col("spdx") =!= "",
                concat(lit("SPDX-License-Identifier: "), col("spdx")))
              .otherwise(col("pe")).as("evidence"),
            when(col("spdx") =!= "",
                instr(col("zone"), "SPDX-License-Identifier:"))
              .otherwise(col("pp")).cast("long").as("evidence_pos"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH staged AS (
             |  SELECT doc_id,
             |         substr(CASE CAST(doc_id % 10 AS INT)
             |           WHEN 0 THEN 'SPDX-License-Identifier: Apache-2.0' || chr(10)
             |           WHEN 1 THEN 'MIT License: Permission is hereby granted, free of charge' || chr(10)
             |           WHEN 2 THEN 'Licensed under the Apache License, Version 2.0' || chr(10)
             |           WHEN 3 THEN 'This program is free software under the GNU General Public License' || chr(10)
             |           WHEN 4 THEN 'Redistribution and use in source and binary forms' || chr(10)
             |           ELSE '' END || text, 1, 160) AS zone
             |  FROM documents),
             |det AS (
             |  SELECT doc_id, zone,
             |         regexp_extract(zone, 'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1) AS spdx,
             |         CASE WHEN strpos(zone, 'Permission is hereby granted, free of charge') > 0 THEN 'MIT'
             |              WHEN strpos(zone, 'Licensed under the Apache License') > 0 THEN 'Apache-2.0'
             |              WHEN strpos(zone, 'GNU General Public License') > 0 THEN 'GPL-3.0-or-later'
             |              WHEN strpos(zone, 'Redistribution and use in source and binary forms') > 0 THEN 'BSD-3-Clause'
             |              ELSE 'none' END AS pl,
             |         CASE WHEN strpos(zone, 'Permission is hereby granted, free of charge') > 0 THEN 'Permission is hereby granted, free of charge'
             |              WHEN strpos(zone, 'Licensed under the Apache License') > 0 THEN 'Licensed under the Apache License'
             |              WHEN strpos(zone, 'GNU General Public License') > 0 THEN 'GNU General Public License'
             |              WHEN strpos(zone, 'Redistribution and use in source and binary forms') > 0 THEN 'Redistribution and use in source and binary forms'
             |              ELSE '' END AS pe,
             |         CASE WHEN strpos(zone, 'Permission is hereby granted, free of charge') > 0 THEN strpos(zone, 'Permission is hereby granted, free of charge')
             |              WHEN strpos(zone, 'Licensed under the Apache License') > 0 THEN strpos(zone, 'Licensed under the Apache License')
             |              WHEN strpos(zone, 'GNU General Public License') > 0 THEN strpos(zone, 'GNU General Public License')
             |              WHEN strpos(zone, 'Redistribution and use in source and binary forms') > 0 THEN strpos(zone, 'Redistribution and use in source and binary forms')
             |              ELSE 0 END AS pp
             |  FROM staged)
             |SELECT doc_id,
             |       CASE WHEN spdx <> '' THEN spdx ELSE pl END AS license,
             |       CASE WHEN spdx <> '' THEN 'spdx'
             |            WHEN pl <> 'none' THEN 'phrase' ELSE 'none' END AS method,
             |       CASE WHEN spdx <> '' THEN 'SPDX-License-Identifier: ' || spdx
             |            ELSE pe END AS evidence,
             |       CAST(CASE WHEN spdx <> '' THEN strpos(zone, 'SPDX-License-Identifier:')
             |            ELSE pp END AS BIGINT) AS evidence_pos
             |FROM det ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_ngram_lm_score",
      // Perplexity-proxy quality score (the CCNet/KenLM gate, integer-
      // exact): a word-bigram model is trained on the corpus itself —
      // count(w1,w2) over count(w1·) — and each document is scored by its
      // MEAN conditional bigram probability in integer MILLI units
      // ((1000·cnt2) div cnt1, exact in both engines), so the only float
      // op is the final per-doc division. Low scores = improbable word
      // sequences = boilerplate/gibberish, the standard LM-filter signal,
      // with none of the libm log() cross-engine drift a log-prob sum
      // would hit. Scale: bigram formation is a positional transform (no
      // self-join); the model is a map-side-combinable count keyed by
      // bigram; the score join shuffles on the bigram key — at 100 TB the
      // model would first be pruned to a top-V vocabulary and BROADCAST,
      // turning the score pass into a map-only job over the corpus.
      (s, dir) => {
        val docsB = Tables(s, dir, "documents")
          .select(col("doc_id"), toks.as("tk"))
          .filter(size(col("tk")) >= 2)
        val bigrams = docsB
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("tk")) - 1),
            i => struct(element_at(col("tk"), i).as("w1"),
              element_at(col("tk"), i + 1).as("w2")))).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val model = bigrams.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("cnt2"))
        val prefix = model.groupBy(col("w1")).agg(sum(col("cnt2")).as("cnt1"))
        val pMilli = model.join(prefix, "w1")
          .select(col("w1"), col("w2"), expr("(1000 * cnt2) div cnt1").as("p_milli"))
        bigrams.join(pMilli, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_milli")).as("p_sum"))
          .select(col("doc_id"), col("n_bigrams"),
            util.r2(col("p_sum").cast("double") / col("n_bigrams").cast("double"))
              .as("lm_score"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tk AS (
              |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
              |  WHERE len(string_split(text, ' ')) >= 2),
              |bg AS (
              |  SELECT doc_id,
              |         unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
              |         unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
              |  FROM tk),
              |m AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY 1, 2),
              |pre AS (SELECT w1, sum(cnt2) AS cnt1 FROM m GROUP BY 1),
              |pm AS (SELECT m.w1, m.w2, (1000 * m.cnt2) // pre.cnt1 AS p_milli
              |       FROM m JOIN pre ON m.w1 = pre.w1),
              |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
              |              CAST(sum(pm.p_milli) AS BIGINT) AS p_sum
              |       FROM bg JOIN pm ON bg.w1 = pm.w1 AND bg.w2 = pm.w2
              |       GROUP BY 1)
              |SELECT doc_id, n_bigrams,
              |       ${util.r2sql("CAST(p_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)")} AS lm_score
              |FROM sc ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_ngram_novelty",
      // N-gram novelty per document (round-9): what fraction of a doc's
      // 3-grams has NEVER appeared in an earlier (lower-id) document —
      // the dataset-freshness / memorization screen that separates new
      // content from recombinations of what the corpus already holds
      // (the per-doc dual of the corpus-level contamination row).
      // first-seen is a min-groupBy over 54-bit gram hashes (the
      // ngram_jaccard trade: shuffle longs, never strings). NO join back
      // to the gram table: n_novel(doc) is just the count of grams whose
      // first-seen doc IS doc, read straight off the first-seen aggregate
      // — so the only O(grams) exchange is the one min-groupBy, and the
      // final join is per-DOC aggregate × per-DOC aggregate (O(docs)
      // rows). The naive join-back shape shuffled every gram twice and
      // benched 12.5 s at sf0.1; this one is the same answer from one
      // gram-keyed shuffle.
      (s, dir) => {
        // lazy localCheckpoint: both aggregates read ONE materialized
        // gram table instead of re-running the CRC+shingle scan twice.
        // tokenCrcs gets its OWN projection: inlined into the shingle
        // lambda it would re-split and re-crc the whole doc at every
        // gram position (O(tokens²) per doc — measured 5.4 s vs 0.9 s
        // at sf0.1); a separate select evaluates it once per row and
        // CollapseProject keeps it (multi-referenced, non-cheap).
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"),
            explode(MinHash.shingleHashes(col("crcs"), 3,
              distinct = true, modP = false)).as("gram"))
          .localCheckpoint(false)
        val perDoc = grams.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        val novelPerDoc = grams.groupBy(col("gram"))
          .agg(min(col("doc_id")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel_raw"))
        perDoc.join(novelPerDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_novel_raw"), lit(0L)).as("n_novel"))
          .withColumn("novelty_e6", expr(
            "CAST(floor(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id,
             |         unnest(list_distinct(list_transform(
             |           range(1, len(string_split(text, ' ')) - 1),
             |           i -> string_split(text, ' ')[i] || ' ' ||
             |                string_split(text, ' ')[i+1] || ' ' ||
             |                string_split(text, ' ')[i+2]))) AS gram
             |  FROM documents),
             |fs AS (SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc
             |       FROM grams GROUP BY gram)
             |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |       CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |       CAST(floor(CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             |            / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS novelty_e6
             |FROM grams g JOIN fs ON g.gram = fs.gram
             |GROUP BY g.doc_id
             |ORDER BY g.doc_id""".stripMargin)
    ),
    Q(
      "text_url_canonicalize",
      // URL canonicalization dedup (round-9): the Common-Crawl-style
      // first dedup pass — the SAME page arrives as HTTPS://Host:443/p/?
      // utm_campaign=x#frag and https://host/p/ and must collapse BEFORE
      // any content hashing. Each doc synthesizes its messy URL
      // deterministically; canonicalization is pure string built-ins
      // (lowercase scheme+host, strip the default :443 port, drop utm_*
      // tracking params keeping real ones, drop the fragment), then the
      // exact-dedup keeper rule (min doc_id) groups on the canonical
      // form. One hash shuffle of canonical strings — the text_exact_dedup
      // shape with normalization in front.
      (s, dir) => {
        val messy = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
          .withColumn("url", expr(
            """concat('HTTPS://', upper(source), '.Example.COM:443/p/',
              |CAST(doc_id % 25 AS STRING), '/?utm_source=feed&id=',
              |CAST(doc_id % 100 AS STRING), '&utm_campaign=x#frag')""".stripMargin))
        val canon = messy.withColumn("canonical", expr(
          """regexp_replace(
            |  regexp_replace(
            |    regexp_replace(
            |      concat(lower(parse_url(url, 'PROTOCOL')), '://',
            |             lower(parse_url(url, 'HOST')), parse_url(url, 'PATH'),
            |             '?', parse_url(url, 'QUERY')),
            |      'utm_[a-z]+=[^&]*&?', ''),
            |    '[?&]$', ''),
            |  ':443/', '/')""".stripMargin))
        canon.groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
          .orderBy(col("canonical"))
      },
      Some("""WITH messy AS (
             |  SELECT doc_id,
             |         'HTTPS://' || upper(source) || '.Example.COM:443/p/' ||
             |         CAST(doc_id % 25 AS VARCHAR) || '/?utm_source=feed&id=' ||
             |         CAST(doc_id % 100 AS VARCHAR) || '&utm_campaign=x#frag' AS url
             |  FROM documents),
             |canon AS (
             |  SELECT doc_id,
             |         regexp_replace(
             |           regexp_replace(
             |             regexp_replace(
             |               lower(split_part(url, '://', 1)) || '://' ||
             |               lower(split_part(split_part(url, '://', 2), '/', 1)) ||
             |               '/' || split_part(split_part(split_part(url, '://', 2), '/', 2), '?', 1) ||
             |               '/' || split_part(split_part(split_part(url, '://', 2), '/', 3), '?', 1) ||
             |               '/?' || split_part(split_part(url, '?', 2), '#', 1),
             |               'utm_[a-z]+=[^&]*&?', '', 'g'),
             |             '[?&]$', ''),
             |           ':443/', '/') AS canonical
             |  FROM messy)
             |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(min(doc_id) AS BIGINT) AS keeper
             |FROM canon GROUP BY canonical ORDER BY canonical""".stripMargin)
    ),
    Q(
      "text_tokenizer_fertility",
      // Tokenizer fertility per language (round-9): subword-tokens per
      // whitespace word — THE metric multilingual tokenizer reports lead
      // with (high fertility = the language pays more context budget per
      // word; the reason byte-fallback BPE beats char fallback). The
      // subword count is the engine's BPE-estimate (length-based, the
      // text_token_count discipline); fertility is e6-pinned from two
      // exact corpus sums per language. One O(langs) aggregate.
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("words"),
            expr("""CAST(aggregate(split(text, ' '), 0L,
                   |  (acc, t) -> acc + CAST((length(t) + 3) div 4 AS BIGINT))
                   |AS BIGINT)""".stripMargin).as("subwords"))
          .groupBy(col("lang"))
          .agg(sum(col("words")).as("n_words"),
            sum(col("subwords")).as("n_subwords"))
          .withColumn("fertility_e6", expr(
            "CAST(floor(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (
             |  SELECT lang,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             |         CAST(list_sum(list_transform(string_split(text, ' '),
             |                t -> (length(t) + 3) // 4)) AS BIGINT) AS subwords
             |  FROM documents)
             |SELECT lang, CAST(sum(words) AS BIGINT) AS n_words,
             |       CAST(sum(subwords) AS BIGINT) AS n_subwords,
             |       CAST(floor(CAST(sum(subwords) AS DOUBLE)
             |            / CAST(sum(words) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS fertility_e6
             |FROM d GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "text_langid_eval",
      // Classifier EVALUATION as a first-class operator (round-9): the
      // confusion matrix + per-class precision/recall of the engine's own
      // language-ID heuristic against the labeled lang column — the eval
      // loop any classifier deployment runs before trusting predictions
      // (the langid row emits predictions; this row says whether to
      // believe them). Confusion cells are one two-phase agg over
      // O(langs²) cells; precision/recall are e6-pinned ratios from exact
      // marginals. The same pattern as sim_ann_recall_eval /
      // dedup_minhash_recall_eval — measurement rows for every
      // approximate structure the engine ships.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = markers.map { case (l, ts) => l -> markerCount(ts) }
        val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
        val guess = counts.reverse.foldLeft(lit("und"): Column) {
          case (acc, (l, c)) => when(c === best && best > 0, l).otherwise(acc)
        }
        Tables(s, dir, "documents")
          .select(col("lang").as("actual"), guess.as("predicted"))
          .groupBy(col("actual"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .withColumn("row_tot", sum(col("n")).over(
            Window.partitionBy(col("actual"))))
          .withColumn("col_tot", sum(col("n")).over(
            Window.partitionBy(col("predicted"))))
          .select(col("actual"), col("predicted"), col("n"),
            expr("""CASE WHEN actual = predicted THEN
                    CAST(floor(CAST(n AS DOUBLE) / CAST(row_tot AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                    END""").as("recall_e6"),
            expr("""CASE WHEN actual = predicted THEN
                    CAST(floor(CAST(n AS DOUBLE) / CAST(col_tot AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                    END""").as("precision_e6"))
          .orderBy(col("actual"), col("predicted"))
      },
      {
        val cs = markers.map { case (l, ts) => l -> markerCountSql(ts) }
        val best = s"greatest(${cs.map(_._2).mkString(", ")})"
        val guess = cs.reverse.foldLeft("'und'") {
          case (acc, (l, c)) => s"CASE WHEN $c = $best AND $best > 0 THEN '$l' ELSE $acc END"
        }
        Some(s"""WITH pred AS (
                |  SELECT lang AS actual, $guess AS predicted FROM documents),
                |cells AS (
                |  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
                |  FROM pred GROUP BY 1, 2),
                |m AS (
                |  SELECT actual, predicted, n,
                |         CAST(sum(n) OVER (PARTITION BY actual) AS BIGINT) AS row_tot,
                |         CAST(sum(n) OVER (PARTITION BY predicted) AS BIGINT) AS col_tot
                |  FROM cells)
                |SELECT actual, predicted, n,
                |       CASE WHEN actual = predicted THEN
                |         CAST(floor(CAST(n AS DOUBLE) / CAST(row_tot AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                |       END AS recall_e6,
                |       CASE WHEN actual = predicted THEN
                |         CAST(floor(CAST(n AS DOUBLE) / CAST(col_tot AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                |       END AS precision_e6
                |FROM m ORDER BY actual, predicted""".stripMargin)
      }
    ),
    Q(
      "text_keyword_rake",
      // RAKE keyword scoring (round-9, Rose et al. 2010): split each doc
      // into candidate phrases at stopword boundaries, then score every
      // word by degree/frequency — degree rewards words that travel in
      // long phrases (multi-word concepts), frequency alone is just a
      // stopword-ish popularity count. The phrase segmentation is one
      // running count-of-stopwords window per doc (phrase id = stops seen
      // so far); word stats are a two-phase agg over (word, phrase-len)
      // rows; the score is the exact rational deg·1e6 div freq ranked
      // under a support floor. Shuffle carries O(tokens) once — the
      // corpus-profile shape, no pairwise anything.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val stops = Seq("the", "a", "of", "and", "to", "in", "is")
        val tok = Tables(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .withColumn("stop", col("w").isin(stops.map(lit): _*))
        val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val phrased = tok
          .withColumn("phrase_id",
            sum(when(col("stop"), 1L).otherwise(0L)).over(wDoc))
          .filter(!col("stop"))
        val withLen = phrased
          .withColumn("plen", count(lit(1)).over(
            Window.partitionBy(col("doc_id"), col("phrase_id"))))
        withLen.groupBy(col("w"))
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
          .filter(col("freq") >= 5)
          .withColumn("score_e6", expr("(deg * 1000000) div freq"))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("score_e6").desc, col("w"))).cast("long"))
          .filter(col("rnk") <= 20)
          .select(col("rnk"), col("w"), col("freq"), col("deg"), col("score_e6"))
          .orderBy(col("rnk"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
             |         unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, pos, w,
             |         w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is') AS stop
             |  FROM tok),
             |ph AS (
             |  SELECT doc_id, pos, w, stop,
             |         CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END)
             |              OVER (PARTITION BY doc_id ORDER BY pos
             |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phrase_id
             |  FROM st),
             |nw AS (SELECT doc_id, w, phrase_id FROM ph WHERE NOT stop),
             |wl AS (
             |  SELECT doc_id, w, phrase_id,
             |         CAST(count(*) OVER (PARTITION BY doc_id, phrase_id) AS BIGINT) AS plen
             |  FROM nw),
             |sc AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen) AS BIGINT) AS deg
             |  FROM wl GROUP BY w HAVING count(*) >= 5),
             |r AS (
             |  SELECT w, freq, deg, (deg * 1000000) // freq AS score_e6
             |  FROM sc)
             |SELECT CAST(row_number() OVER (ORDER BY score_e6 DESC, w) AS BIGINT) AS rnk,
             |       w, freq, deg, score_e6
             |FROM r
             |QUALIFY rnk <= 20
             |ORDER BY rnk""".stripMargin)
    ),
    Q(
      "pipeline_mixture_temperature",
      // Temperature-scaled language mixing (round-9): the mT5/XLM-R
      // recipe — sample language l with probability p_l^α / Σ p^α,
      // α = 0.5, so low-resource languages are up-sampled without
      // drowning the head. √n per language is pinned to an e3 integer
      // BEFORE normalization (one libm sqrt per LANGUAGE, not per row),
      // the mixture share and a 10 k-doc epoch quota derive from those
      // pinned integers, and the whole op is one O(languages) aggregate
      // — at 100 TB this costs a count pass, nothing more.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("s_e3", expr(
            "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
          .withColumn("share_e6", expr(
            "CAST(floor(CAST(s_e3 AS DOUBLE) / CAST(sum(s_e3) OVER () AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
          .withColumn("epoch_quota", expr("(share_e6 * 10000) div 1000000"))
          .select(col("lang"), col("n_docs"), col("s_e3"), col("share_e6"),
            col("epoch_quota"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
             |s AS (
             |  SELECT lang, n_docs,
             |         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS s_e3
             |  FROM c)
             |SELECT lang, n_docs, s_e3,
             |       CAST(floor(CAST(s_e3 AS DOUBLE) / CAST(sum(s_e3) OVER () AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS share_e6,
             |       CAST(floor(CAST(s_e3 AS DOUBLE) / CAST(sum(s_e3) OVER () AS DOUBLE) * 1000000 + 0.5) AS BIGINT) * 10000 // 1000000 AS epoch_quota
             |FROM s ORDER BY lang""".stripMargin)
    ),
    Q(
      "pipeline_curriculum_order",
      // Curriculum scheduling (round-9): emit the corpus in the order a
      // curriculum-learning run would consume it — easy→hard tiers by
      // token count, and WITHIN each tier a round-robin interleave across
      // sources so no source clumps (clumped sources make the loss curve
      // sawtooth and bias early training). Entirely rank arithmetic on
      // exact integers: ntile for tiers over the (n_tokens, doc_id) total
      // order, per-(tier, source) row_number for the robin position, one
      // final global sequence — which at 100 TB is the range-partitioned
      // sort the engine already pins in sort_global_sequence, not a
      // single-partition window.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val tiered = d.withColumn("tier",
          ntile(5).over(Window.orderBy(col("n_tokens"), col("doc_id")))
            .cast("long"))
        tiered
          .withColumn("rr", row_number().over(
            Window.partitionBy(col("tier"), col("source"))
              .orderBy(col("doc_id"))).cast("long"))
          .withColumn("pos", row_number().over(
            Window.orderBy(col("tier"), col("rr"), col("source"), col("doc_id")))
            .cast("long"))
          .select(col("pos"), col("tier"), col("doc_id"), col("source"),
            col("n_tokens"))
          .orderBy(col("pos"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |tiered AS (
             |  SELECT doc_id, source, n_tokens,
             |         CAST(ntile(5) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS tier
             |  FROM d),
             |rr AS (
             |  SELECT doc_id, source, n_tokens, tier,
             |         CAST(row_number() OVER (PARTITION BY tier, source ORDER BY doc_id) AS BIGINT) AS rr
             |  FROM tiered)
             |SELECT CAST(row_number() OVER (ORDER BY tier, rr, source, doc_id) AS BIGINT) AS pos,
             |       tier, doc_id, source, n_tokens
             |FROM rr ORDER BY pos""".stripMargin)
    ),
    Q(
      "pipeline_dataset_card",
      // DATASET CARD generation (round-9): the per-language summary table
      // every released training corpus ships — doc/token/char volumes,
      // corpus share, exact-duplicate rate, source diversity — computed
      // as ONE declarative pass so the card is a query, not a notebook.
      // Duplicate rate is docs-minus-distinct-texts per language (the
      // exact-dedup identity: each text's first copy is unique, the rest
      // are dups); everything is exact integers, shares e6-pinned. Scale:
      // one two-phase agg keyed by (lang, text-hash) then by lang — the
      // shuffle carries digests and counters, never text; output is
      // O(languages).
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables(s, dir, "documents")
        val perText = d
          .groupBy(col("lang"), sha2(col("text"), 256).as("th"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
            sum(size(split(col("text"), " ")).cast("long")).as("toks"))
        perText
          .groupBy(col("lang"))
          .agg(sum(col("n")).as("n_docs"),
            sum(col("toks")).as("n_tokens"),
            sum(col("chars")).as("n_chars"),
            (sum(col("n")) - count(lit(1))).as("n_dup_docs"))
          .join(d.groupBy(col("lang"))
            .agg(count_distinct(col("source")).as("n_sources")), "lang")
          .withColumn("share_e6", expr(
            "CAST(floor(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
          .withColumn("mean_chars", expr("n_chars div n_docs"))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
            col("mean_chars"), col("n_dup_docs"), col("n_sources"),
            col("share_e6"))
          .orderBy(col("lang"))
      },
      Some("""WITH pt AS (
             |  SELECT lang, sha256(text) AS th, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(n_chars) AS BIGINT) AS chars,
             |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
             |  FROM documents GROUP BY 1, 2),
             |agg AS (
             |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
             |         CAST(sum(toks) AS BIGINT) AS n_tokens,
             |         CAST(sum(chars) AS BIGINT) AS n_chars,
             |         CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs
             |  FROM pt GROUP BY lang),
             |src AS (
             |  SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS n_sources
             |  FROM documents GROUP BY lang)
             |SELECT agg.lang, n_docs, n_tokens, n_chars,
             |       n_chars // n_docs AS mean_chars,
             |       n_dup_docs, n_sources,
             |       CAST(floor(CAST(n_docs AS DOUBLE)
             |                  / CAST(sum(n_docs) OVER () AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS share_e6
             |FROM agg JOIN src ON agg.lang = src.lang
             |ORDER BY agg.lang""".stripMargin)
    ),
    Q(
      "dedup_minhash_recall_eval",
      // DEDUP-INDEX EVALUATION as a first-class operator (round-9): the
      // text-side twin of sim_ann_recall_eval — per-source recall of the
      // MinHash/LSH candidate generator against a source-blocked EXACT
      // 3-gram-Jaccard ground truth (≥ 0.35, the candidate_verify
      // threshold). This is the measurement a pipeline runs before
      // trusting banded LSH to not silently miss near-dups. Both legs
      // are the engine's own pipelines (identical hash family / gram
      // blocking); the hit set is one semi join on the pair key; recall
      // is e6-pinned. Scale: the exact leg is feasible only because it's
      // source-blocked — which is exactly how a production recall audit
      // bounds its truth set; the LSH leg is the unblocked production
      // path being measured.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // tokenize+shingle ONCE: grams feeds three subtrees (both sides of
        // the truth self-join and the per-doc sizes); uncheckpointed, each
        // re-ran the per-doc tokenization (guide §2.4 — and the fanout
        // spreads the gram compute off the one-task fixture scan, §2.5)
        val grams = graft.util.fanout(docs.select(col("doc_id"), col("source"), col("text")))
          .select(col("doc_id"), col("source"), MinHash.tokenCrcs(col("text")).as("crcs"))
          .select(col("doc_id"), col("source"),
            explode(MinHash.shingleHashes(col("crcs"), 3, distinct = true, modP = false))
              .as("gram"))
          .localCheckpoint(false)
        val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val a = grams.select(col("source"), col("doc_id").as("doc_a"), col("gram"))
        val b = grams.select(col("source"), col("doc_id").as("doc_b"), col("gram"))
        val truth = a.join(b, Seq("source", "gram")).filter(col("doc_a") < col("doc_b"))
          .groupBy(col("source"), col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), "doc_b")
          .filter(col("common").cast("double") /
            (col("na") + col("nb") - col("common")) >= 0.35)
          .select(col("source"), col("doc_a"), col("doc_b"))
        val cand = MinHash.nearDupPairs(docs, "doc_id", "text",
            k = 16, bands = 8, minEstJaccard = 0.2, portable = true)
          .select(col("doc_a"), col("doc_b"))
        // single pass over truth (guide §2.4, the dq_fk_inference shape):
        // nearDupPairs emits DISTINCT pairs, so a LEFT join against the
        // flagged candidate set is row-preserving and count(flag) equals
        // the old semi-join hit count — the truth self-join (the row's
        // dominant cost) now runs once instead of twice, and n_truth /
        // n_hits come from ONE aggregation instead of two plus a re-join
        truth.join(cand.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
          .select(col("source"), col("n_truth"),
            col("n_hits").as("hits"),
            expr("""CAST(floor(CAST(n_hits AS DOUBLE)
                    / CAST(n_truth AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
              .as("recall_e6"))
          .orderBy(col("source"))
      },
      Some(s"""$minhashCandCtes,
              |mh AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.2),
              |grams AS (
              |  SELECT doc_id, source,
              |         unnest(list_distinct(list_transform(
              |           range(1, len(string_split(text, ' ')) - 1),
              |           i -> string_split(text, ' ')[i] || ' ' ||
              |                string_split(text, ' ')[i+1] || ' ' ||
              |                string_split(text, ' ')[i+2]))) AS gram
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
              |tpairs AS (
              |  SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              |  FROM grams a JOIN grams b ON a.source = b.source AND a.gram = b.gram
              |  WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2, 3),
              |truth AS (
              |  SELECT source, doc_a, doc_b
              |  FROM tpairs
              |  JOIN sizes na ON na.doc_id = doc_a
              |  JOIN sizes nb ON nb.doc_id = doc_b
              |  WHERE CAST(common AS DOUBLE) / (na.n_grams + nb.n_grams - common) >= 0.35),
              |hits AS (
              |  SELECT t.source, CAST(count(*) AS BIGINT) AS n_hits
              |  FROM truth t JOIN mh ON t.doc_a = mh.doc_a AND t.doc_b = mh.doc_b
              |  GROUP BY 1)
              |SELECT t.source, CAST(count(*) AS BIGINT) AS n_truth,
              |       CAST(coalesce(any_value(h.n_hits), 0) AS BIGINT) AS hits,
              |       CAST(floor(CAST(coalesce(any_value(h.n_hits), 0) AS DOUBLE)
              |                  / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS recall_e6
              |FROM truth t LEFT JOIN hits h ON t.source = h.source
              |GROUP BY t.source
              |ORDER BY t.source""".stripMargin)
    ),
    Q(
      "text_collocation_pmi",
      // PMI-scored bigram collocations (round-9): which adjacent word
      // pairs co-occur far above chance — the phrase-mining primitive
      // behind tokenizer-vocab extensions and stop-phrase lists. The PMI
      // ordering is computed WITHOUT log: rank by the exact rational
      // c(xy)·N / (c(x)·c(y)) (log is monotone), e6-prescaled and
      // integer-divided so both engines rank identical BIGINTs — no libm
      // anywhere. Bigrams come from a map-side zip of each token array
      // with its own tail (no posexplode self-join: the pair never
      // crosses a partition); unigram/bigram counts are two-phase aggs;
      // the support floor (count ≥ 5) shrinks the ranked set to
      // vocabulary scale (Heaps-law sublinear) before the single top-20
      // window. Overflow headroom: c(xy)·N·1e6 needs c(xy)·N < 9·10^12 —
      // at larger corpora drop the prescale a decade per 10× tokens (the
      // PageRank fixed-point discipline).
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables(s, dir, "documents").select(split(col("text"), " ").as("t"))
        val tok = t.select(explode(col("t")).as("w"))
        val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val ntot = tok.agg(count(lit(1)).as("n"))
        val bi = t.select(explode(expr(
          """filter(zip_with(t, slice(t, 2, greatest(size(t) - 1, 0)),
            |       (a, b) -> IF(b IS NULL, NULL, struct(a AS w1, b AS w2))),
            |       x -> x IS NOT NULL)""".stripMargin)).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
        bi.filter(col("cxy") >= 5)
          .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
          .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
          .crossJoin(broadcast(ntot))
          .select(col("w1"), col("w2"), col("cxy"),
            expr("(cxy * n * 1000000) div (c1 * c2)").as("pmi_ratio_e6"))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("pmi_ratio_e6").desc, col("w1"), col("w2"))))
          .filter(col("rnk") <= 20)
          .select(col("rnk").cast("long").as("rnk"), col("w1"), col("w2"),
            col("cxy"), col("pmi_ratio_e6"))
          .orderBy(col("rnk"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tok AS (
             |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS ord,
             |         unnest(toks) AS w
             |  FROM t),
             |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
             |bi AS (
             |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS cxy
             |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
             |  GROUP BY 1, 2),
             |sc AS (
             |  SELECT bi.w1, bi.w2, bi.cxy,
             |         CAST((bi.cxy * n.n * 1000000) // (u1.c * u2.c) AS BIGINT) AS pmi_ratio_e6
             |  FROM bi CROSS JOIN n
             |  JOIN uni u1 ON u1.w = bi.w1
             |  JOIN uni u2 ON u2.w = bi.w2
             |  WHERE bi.cxy >= 5),
             |r AS (
             |  SELECT CAST(row_number() OVER (ORDER BY pmi_ratio_e6 DESC, w1, w2) AS BIGINT) AS rnk,
             |         w1, w2, cxy, pmi_ratio_e6
             |  FROM sc)
             |SELECT rnk, w1, w2, cxy, pmi_ratio_e6 FROM r
             |WHERE rnk <= 20 ORDER BY rnk""".stripMargin)
    ),
    Q(
      "text_entropy_unigram",
      // Character-level Shannon entropy per document (round-9) — the
      // cheapest gibberish/compression-quality screen a corpus filter
      // runs (random bytes ≈ 8 bits, English ≈ 4, repeated filler → 0).
      // Identity: H = log2(L) − (Σ c·log2(c))/L with c = per-char counts
      // and L = doc length — all counts exact integers, the two log2
      // calls are the only doubles and the expression text is identical
      // in both engines (tfidf precedent: libm drift hides under r2).
      // The char explode shuffles (doc_id, char) counts — bounded by
      // alphabet size per doc, not text size; at 100 TB this is a
      // map-side-combined two-phase agg like any other. split('') is
      // ONE linear pass per doc; the earlier indexed
      // substring(text, i, 1) re-scanned UTF-8 offsets from the start
      // per character (O(len²)/doc — 1.9 s vs 0.5 s at sf0.1). The
      // zero-width end match emits one trailing '' — dropped by the
      // length filter, never counted on either engine.
      (s, dir) => {
        val chars = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), "")).as("ch"))
          .filter(length(col("ch")) > 0)
        chars.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("len"),
            sum(col("c").cast("double") * log(2.0, col("c").cast("double")))
              .as("clog"))
          .select(col("doc_id"), col("len"),
            util.r2(log(2.0, col("len").cast("double"))
              - col("clog") / col("len").cast("double")).as("entropy_bits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH chars AS (
              |  SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
              |                                       i -> substring(text, i, 1))) AS ch
              |  FROM documents),
              |cnt AS (
              |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
              |  FROM chars GROUP BY doc_id, ch),
              |agg AS (
              |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS len,
              |         sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clog
              |  FROM cnt GROUP BY doc_id)
              |SELECT doc_id, len,
              |       ${util.r2sql("log2(CAST(len AS DOUBLE)) - clog / CAST(len AS DOUBLE)")} AS entropy_bits
              |FROM agg ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_zipf_slope",
      // Zipf rank-frequency slope of the corpus vocabulary (round-9):
      // the macro-statistic that distinguishes natural language (slope
      // ≈ −1) from templated/generated filler — OLS of ln(freq) on
      // ln(rank) over the token frequency table. Token counting is the
      // standard two-phase agg; ranking the vocabulary uses ONE ordered
      // window over the collapsed (token, freq) domain — vocabulary-
      // sized, not corpus-sized, which is what makes the statistic
      // computable at 100 TB (vocab grows ~ Heaps' law, sublinearly).
      // All sums feed the shared exact-moments OLS formula text.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val freq = Tables(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy(col("tok")).agg(count(lit(1)).as("f"))
        val ranked = freq
          .withColumn("r", row_number().over(
            Window.orderBy(col("f").desc, col("tok"))).cast("long"))
          .select(log(col("r").cast("double")).as("x"),
            log(col("f").cast("double")).as("y"))
        ranked.agg(count(lit(1)).as("n_vocab"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
          .select(col("n_vocab"),
            util.r2((col("sxy") - col("sx") * col("sy") / col("n_vocab").cast("double"))
              / (col("sxx") - col("sx") * col("sx") / col("n_vocab").cast("double")))
              .as("zipf_slope"))
      },
      Some(s"""WITH toks AS (
              |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
              |freq AS (
              |  SELECT tok, CAST(count(*) AS BIGINT) AS f
              |  FROM toks WHERE length(tok) > 0 GROUP BY tok),
              |pts AS (
              |  SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE)) AS x,
              |         ln(CAST(f AS DOUBLE)) AS y
              |  FROM freq),
              |m AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
              |         sum(x) AS sx, sum(y) AS sy,
              |         sum(x * x) AS sxx, sum(x * y) AS sxy
              |  FROM pts)
              |SELECT n_vocab,
              |       ${util.r2sql("(sxy - sx * sy / CAST(n_vocab AS DOUBLE)) / (sxx - sx * sx / CAST(n_vocab AS DOUBLE))")} AS zipf_slope
              |FROM m""".stripMargin)
    ),
    Q(
      "pipeline_lang_rebalance",
      // Language-rebalance planning (round-9): the per-language keep-rates
      // that downsample a skewed corpus to the floor language's size —
      // the mix-planning step that runs BEFORE sample_hash_deterministic
      // executes the drop. All rates derive from two O(langs) aggregates
      // (per-lang counts + the floor), e6-pinned; nothing touches
      // document text, so the plan costs one count pass at any corpus
      // size.
      (s, dir) => {
        val c = Tables(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(expr("CAST(count(*) AS BIGINT)").as("n_docs"),
            expr("CAST(sum(n_chars) AS BIGINT)").as("n_chars"))
        val t = c.agg(expr("CAST(min(n_docs) AS BIGINT)").as("floor_docs"))
        c.crossJoin(t)
          .select(col("lang"), col("n_docs"),
            expr("""CAST(floor(CAST(floor_docs AS DOUBLE)
                    / CAST(n_docs AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
              .as("keep_rate_e6"),
            col("floor_docs").as("expected_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(n_chars) AS BIGINT) AS n_chars
             |  FROM documents GROUP BY lang),
             |t AS (SELECT CAST(min(n_docs) AS BIGINT) AS floor_docs FROM c)
             |SELECT lang, n_docs,
             |       CAST(floor(CAST(floor_docs AS DOUBLE)
             |            / CAST(n_docs AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS keep_rate_e6,
             |       floor_docs AS expected_kept
             |FROM c, t ORDER BY lang""".stripMargin)
    ),
    Q(
      "text_feature_hashing",
      // The hashing trick (round-9): tokens → fixed 16-bucket count vector
      // with NO vocabulary pass — the stateless featurizer that gives every
      // doc an identical-width sparse vector regardless of corpus size
      // (the reason it scales: no global dictionary to build, broadcast,
      // or version). Token hashes come from the native fused-fold
      // expression (codegen'd, one Java loop per token); bucket = low
      // 31-bit fold mod 16, so the oracle replays the identical integer
      // chain. Output is the sparse (doc, bucket, count) triplet form —
      // the shape a downstream `pivot` or VectorAssembler densifies.
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.PortableTokenHashes(s, col("text"))).as("packed"))
        toks
          // low half of the packed double-fold IS the m=131 portable hash
          .withColumn("bucket", pmod(col("packed") % 2147483648L, lit(16L)))
          .groupBy(col("doc_id"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("doc_id"), col("bucket"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
              |  FROM documents),
              |h AS (
              |  SELECT doc_id,
              |         list_reduce(
              |           list_prepend(CAST(0 AS BIGINT),
              |             list_transform(generate_series(1, length(t)),
              |               i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
              |           (acc, c) -> (acc * 131 + c) % ${MinHash.P}) AS hv
              |  FROM toks)
              |SELECT doc_id, hv % 16 AS bucket, CAST(count(*) AS BIGINT) AS cnt
              |FROM h GROUP BY doc_id, bucket
              |ORDER BY doc_id, bucket""".stripMargin)
    ),
    Q(
      "pipeline_rejection_sampling_bon",
      // Best-of-N rejection sampling (round-11): the post-training data
      // factory — per prompt group (doc_id div 4, the GRPO staging), keep
      // the response with the HIGHEST reward (n_chars proxy), with a
      // deterministic doc_id tiebreak, and emit the selection margin over
      // the group mean in exact cross-multiplied integers (margin_xN =
      // r_best·n − Σr, positive unless the group is constant). The kept
      // set is what SFT trains on next round. Scale: one window rank per
      // group + one grouped sum — the same two-pass shape as GRPO, no
      // response text moves until the final projection.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") / 4).cast("long").as("grp"),
            col("n_chars").as("r"))
        val w = Window.partitionBy(col("grp"))
          .orderBy(col("r").desc, col("doc_id").asc)
        val g = docs.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"))
        docs.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .join(g, Seq("grp"))
          .select(col("grp"), col("doc_id").as("best_doc"), col("r").as("best_r"),
            (col("r") * col("n") - col("sr")).as("margin_xn"))
          .orderBy(col("grp"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 4 AS grp, n_chars AS r FROM documents),
             |g AS (
             |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(r) AS BIGINT) AS sr FROM d GROUP BY grp),
             |b AS (
             |  SELECT grp, doc_id AS best_doc, r AS best_r FROM (
             |    SELECT *, row_number() OVER (PARTITION BY grp
             |      ORDER BY r DESC, doc_id ASC) AS rk FROM d) t
             |  WHERE rk = 1)
             |SELECT grp, best_doc, best_r, best_r * n - sr AS margin_xn
             |FROM b JOIN g USING (grp) ORDER BY grp""".stripMargin)
    ),
    Q(
      "eval_judge_position_bias",
      // Pairwise-judge position-bias audit (round-11): every LLM-judge
      // protocol must be run in BOTH presentation orders, because judges
      // prefer the first slot when candidates are close — this row
      // measures exactly that. The deterministic judge model: each doc
      // carries a quality score q (distinct-token count); a judgment of
      // (first, second) picks first iff q_first + bonus >= q_second,
      // with a position bonus that fires only when |Δq| ≤ 2 — so
      // far-apart pairs are order-stable and close pairs flip with
      // order, the empirical signature real judge audits see. Census per
      // |Δq| band: pairs, order-consistent verdicts, first-slot wins
      // across both orders (= 2·pairs − consistent when biased). Exact
      // integer counting; the oracle replays the judge verbatim. Scale:
      // one positional self-join on pair id, one aggregate — the audit
      // costs two judgments per pair by design, not by inefficiency.
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") / 2).cast("long").as("pair"),
            (col("doc_id") % 2).as("side"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("q"))
        val a = d.filter(col("side") === 0).select(col("pair"), col("q").as("qa"))
        val b = d.filter(col("side") === 1).select(col("pair"), col("q").as("qb"))
        a.join(b, "pair")
          .withColumn("band", expr(
            "CASE WHEN abs(qa - qb) <= 2 THEN 0 WHEN abs(qa - qb) <= 8 THEN 1 ELSE 2 END")
            .cast("long"))
          // order AB: A sits first; order BA: B sits first. bonus = 1
          // only within the close band.
          .withColumn("bonus", when(expr("abs(qa - qb) <= 2"), 1L).otherwise(0L))
          .withColumn("a_wins_ab", expr("CASE WHEN qa + bonus >= qb THEN 1 ELSE 0 END").cast("long"))
          .withColumn("a_wins_ba", expr("CASE WHEN qa >= qb + bonus THEN 1 ELSE 0 END").cast("long"))
          .withColumn("consistent", expr("CASE WHEN a_wins_ab = a_wins_ba THEN 1 ELSE 0 END").cast("long"))
          .withColumn("first_slot_wins",
            expr("a_wins_ab + (1 - a_wins_ba)")) // B first in BA: B wins there iff a loses
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("consistent")).as("consistent"),
            sum(col("first_slot_wins")).as("first_slot_wins"))
          .orderBy(col("band"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 2 AS pair, doc_id % 2 AS side,
             |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q
             |  FROM documents),
             |p AS (
             |  SELECT a.pair, a.q AS qa, b.q AS qb,
             |         CASE WHEN abs(a.q - b.q) <= 2 THEN 0
             |              WHEN abs(a.q - b.q) <= 8 THEN 1 ELSE 2 END AS band,
             |         CASE WHEN abs(a.q - b.q) <= 2 THEN 1 ELSE 0 END AS bonus
             |  FROM d a JOIN d b ON a.pair = b.pair AND a.side = 0 AND b.side = 1),
             |j AS (
             |  SELECT band,
             |         CASE WHEN qa + bonus >= qb THEN 1 ELSE 0 END AS a_wins_ab,
             |         CASE WHEN qa >= qb + bonus THEN 1 ELSE 0 END AS a_wins_ba
             |  FROM p)
             |SELECT CAST(band AS BIGINT) AS band,
             |       CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(sum(CASE WHEN a_wins_ab = a_wins_ba THEN 1 ELSE 0 END) AS BIGINT)
             |         AS consistent,
             |       CAST(sum(a_wins_ab + (1 - a_wins_ba)) AS BIGINT) AS first_slot_wins
             |FROM j GROUP BY band ORDER BY band""".stripMargin)
    ),
    Q(
      "eval_length_controlled_winrate",
      // Length-controlled pairwise winrate (round-11): raw winrates
      // reward verbosity — the AlpacaEval lesson. Pairs = (doc 2i vs doc
      // 2i+1); "A wins" on the deterministic quality proxy (more distinct
      // tokens, doc_id tiebreak). Rows: per LENGTH-DELTA BUCKET
      // (sign of len(A)−len(B) → -1/0/+1), the pair count and A-wins
      // count, PLUS the equal-weight macro average across buckets in e6
      // integers — the Simpson's-paradox-proof number a leaderboard
      // should publish (a verbose model wins the +1 bucket and the naive
      // pooled rate, but not the macro average). Exact counting end to
      // end. Scale: a positional self-pairing (doc_id parity) — one
      // shuffle on pair id, one tiny aggregate.
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") / 2).cast("long").as("pair"),
            (col("doc_id") % 2).as("side"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("q"),
            col("n_chars").as("len"))
        val a = d.filter(col("side") === 0)
          .select(col("pair"), col("q").as("qa"), col("len").as("la"),
            col("doc_id").as("ida"))
        val b = d.filter(col("side") === 1)
          .select(col("pair"), col("q").as("qb"), col("len").as("lb"))
        val scored = a.join(b, "pair")
          .withColumn("bucket", expr(
            "CASE WHEN la > lb THEN 1 WHEN la < lb THEN -1 ELSE 0 END").cast("long"))
          .withColumn("a_wins", expr(
            "CASE WHEN qa > qb OR (qa = qb) THEN 1 ELSE 0 END").cast("long"))
        val buckets = scored.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("a_wins")).as("a_wins"))
        val macroAvg = buckets
          .agg(expr("sum(a_wins * 1000000 div n_pairs) div count(1)")
            .as("macro_winrate_e6"))
        buckets.crossJoin(broadcast(macroAvg))
          .select(col("bucket"), col("n_pairs"), col("a_wins"),
            col("macro_winrate_e6"))
          .orderBy(col("bucket"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 2 AS pair, doc_id % 2 AS side,
             |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q,
             |         n_chars AS len
             |  FROM documents),
             |p AS (
             |  SELECT a.pair,
             |         CASE WHEN a.len > b.len THEN 1
             |              WHEN a.len < b.len THEN -1 ELSE 0 END AS bucket,
             |         CASE WHEN a.q >= b.q THEN 1 ELSE 0 END AS a_wins
             |  FROM d a JOIN d b ON a.pair = b.pair AND a.side = 0 AND b.side = 1),
             |bk AS (
             |  SELECT CAST(bucket AS BIGINT) AS bucket,
             |         CAST(count(*) AS BIGINT) AS n_pairs,
             |         CAST(sum(a_wins) AS BIGINT) AS a_wins
             |  FROM p GROUP BY bucket),
             |m AS (
             |  SELECT CAST(sum(a_wins * 1000000 // n_pairs) // count(*) AS BIGINT)
             |           AS macro_winrate_e6
             |  FROM bk)
             |SELECT bucket, n_pairs, a_wins, macro_winrate_e6
             |FROM bk, m ORDER BY bucket""".stripMargin)
    ),
    Q(
      "pipeline_eval_decontam",
      // Train/eval decontamination (round-11): the Dolma/FineWeb release
      // gate — any training document sharing an 8-token gram with the
      // eval set is DROPPED, not merely flagged (text_contamination_ngram
      // is the detector; this is the enforcement pipeline with its
      // retention audit). Eval = every 50th doc; train = the rest.
      // Spark side joins on 64-bit gram hashes (xxhash64 — 8 B through
      // the shuffle, never strings); the oracle joins on gram STRINGS,
      // which doubles as the collision audit (house style). Census per
      // language: trained/dropped/kept — the numbers a dataset card
      // publishes. Scale: eval grams are a tiny distinct set (semi-join
      // build side); train grams stream map-side into the semi-join;
      // nothing pairwise, nothing quadratic.
      (s, dir) => {
        val L = 8
        val docs = Tables(s, dir, "documents")
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("lang"),
            explode(expr(
              s"""CASE WHEN size(toks) >= $L THEN
                 |  transform(sequence(0, size(toks) - $L),
                 |    i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $L))))
                 |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin)).as("gh"))
        val eval0 = docs.filter(col("doc_id") % 50 === 0)
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        val evalGrams = grams(eval0).select(col("gh")).distinct()
        val contaminated = grams(train)
          .join(evalGrams, Seq("gh"), "left_semi")
          .select(col("doc_id")).distinct()
        train.join(contaminated.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
             |g AS (
             |  SELECT doc_id, lang,
             |         array_to_string(ts[i + 1:i + 8], ' ') AS gram
             |  FROM tok, unnest(range(0, greatest(len(ts) - 7, 0))) AS u(i)),
             |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
             |cont AS (
             |  SELECT DISTINCT doc_id FROM g
             |  WHERE doc_id % 50 <> 0 AND gram IN (SELECT gram FROM eg))
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_train,
             |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             |       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
             |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
             |FROM documents WHERE doc_id % 50 <> 0
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "pipeline_ccnet_ppl_buckets",
      // CCNet-style perplexity bucketing (round-11): rank the corpus by a
      // deterministic per-doc fluency proxy (scaled mean token length —
      // the bucketing PIPELINE is the operator; swap in a real LM score
      // at will) and split into head/middle/tail TERCILES by exact rank
      // — head feeds training as-is, middle gets re-scored, tail is
      // dropped. Census per bucket: docs, score range, token mass. Exact
      // integer ranks over a total order (score, doc_id), bucket =
      // (3·(rank−1)) div N — no float quantiles, so the cut is identical
      // on any engine and any partitioning. Scale: one global sort-rank
      // (TakeOrdered-free, the sort is the operator) + one aggregate.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            col("n_chars"))
          .withColumn("score", expr("n_chars * 1000000 div n_tok"))
        val n = docs.count()
        val w = Window.orderBy(col("score"), col("doc_id"))
        docs
          .withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("bucket", expr(s"(3 * (rank - 1)) div CAST($n AS BIGINT)"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score"),
            sum(col("n_tok")).as("tokens"))
          .orderBy(col("bucket"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |         n_chars,
             |         n_chars * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT) AS score
             |  FROM documents),
             |r AS (
             |  SELECT *, CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS rank,
             |         (SELECT CAST(count(*) AS BIGINT) FROM d) AS n
             |  FROM d)
             |SELECT (3 * (rank - 1)) // n AS bucket,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(min(score) AS BIGINT) AS min_score,
             |       CAST(max(score) AS BIGINT) AS max_score,
             |       CAST(sum(n_tok) AS BIGINT) AS tokens
             |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),
    Q(
      "pipeline_grpo_group_advantage",
      // GRPO group-relative advantage (round-11): the policy-gradient
      // normalization modern RLHF-free post-training runs — G sampled
      // responses per prompt, advantage = (r − mean_G)/std_G, no value
      // network. Groups = doc_id div 4 (4 "responses" per prompt), reward
      // = n_chars (a deterministic stand-in; the shape is the operator).
      // All moments are EXACT integer sums; the final normalization is
      // division/sqrt only — IEEE correctly-rounded ops over exact
      // inputs, so the e6-pinned advantage is bit-identical cross-engine
      // (the eval_bleu_corpus lesson: no exp/ln anywhere). Degenerate
      // groups (n<2 or zero variance) pin advantage to 0 rather than
      // NaN/Inf. Scale: one partial-agg shuffle of 3 longs per group,
      // then a broadcast-size map join back onto responses — the same
      // two-pass shape at any corpus size; nothing quadratic in G.
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") / 4).cast("long").as("grp"),
            col("n_chars").as("r"))
        val g = docs.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("r")).as("s"),
            sum(col("r") * col("r")).as("q"))
        docs.join(broadcast(g), Seq("grp"))
          .withColumn("adv_e6", expr(
            """CASE WHEN n < 2 OR q * n = s * s THEN CAST(0 AS BIGINT)
              |ELSE CAST(floor(
              |  (CAST(r AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              |  / sqrt((CAST(q AS DOUBLE)
              |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              |         / CAST(n - 1 AS DOUBLE))
              |  * 1000000 + 0.5) AS BIGINT) END""".stripMargin))
          .select(col("doc_id"), col("grp"), col("r"), col("adv_e6"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 4 AS grp, n_chars AS r FROM documents),
             |g AS (
             |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(r) AS BIGINT) AS s,
             |         CAST(sum(r * r) AS BIGINT) AS q
             |  FROM d GROUP BY grp)
             |SELECT doc_id, grp, r,
             |       CASE WHEN n < 2 OR q * n = s * s THEN CAST(0 AS BIGINT)
             |       ELSE CAST(floor(
             |         (CAST(r AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |         / sqrt((CAST(q AS DOUBLE)
             |                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |                / CAST(n - 1 AS DOUBLE))
             |         * 1000000 + 0.5) AS BIGINT) END AS adv_e6
             |FROM d JOIN g USING (grp) ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "pipeline_domain_mix_doremi",
      // DoReMi-lite domain reweighting (round-11): per training domain,
      // excess signal = max(domain mean − corpus mean, 0) computed as the
      // cross-multiplied EXACT integer max(sum_d·N − total·n_d, 0) (per-doc
      // length is the deterministic loss stand-in), then mixture weight =
      // (1−α)·excess/Σexcess + α/D with a uniform smoothing floor α=0.2 —
      // all in e6 integer arithmetic. Cross-multiplied products reach
      // sum·N ≈ 10^17 at a ×100 corpus and beyond at real scale, so the
      // arithmetic runs in DECIMAL(38,0)/HUGEINT (the
      // pipeline_epoch_shuffle overflow posture). Scale: one two-level
      // aggregation (domain, then corpus scalars broadcast back) — the
      // whole computation is O(domains) after the first map-side combine.
      (s, dir) => {
        val byDom = Tables(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_len"))
        val tot = byDom.agg(sum(col("n_docs")).as("nn"), sum(col("sum_len")).as("tt"))
        val ex = byDom.crossJoin(broadcast(tot))
          .withColumn("excess", expr(
            """greatest(CAST(sum_len AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0))
              |         - CAST(tt AS DECIMAL(38,0)) * CAST(n_docs AS DECIMAL(38,0)),
              |         CAST(0 AS DECIMAL(38,0)))""".stripMargin))
        val totEx = ex.agg(sum(col("excess")).as("sum_ex"), count(lit(1)).as("d"))
        ex.crossJoin(broadcast(totEx))
          .withColumn("weight_e6", expr(
            """CASE WHEN sum_ex = 0 THEN 1000000 div d
              |ELSE (CAST(800000 AS DECIMAL(38,0)) * excess) div sum_ex
              |     + 200000 div d END""".stripMargin))
          .select(col("lang"), col("source"), col("n_docs"),
            col("excess").cast("string").as("excess_x"), col("weight_e6"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH dom AS (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(n_chars) AS BIGINT) AS sum_len
             |  FROM documents GROUP BY lang, source),
             |tot AS (
             |  SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
             |         CAST(sum(sum_len) AS BIGINT) AS tt FROM dom),
             |ex AS (
             |  SELECT lang, source, n_docs,
             |         greatest(sum_len::HUGEINT * nn::HUGEINT
             |                  - tt::HUGEINT * n_docs::HUGEINT, 0::HUGEINT) AS excess
             |  FROM dom, tot),
             |te AS (SELECT sum(excess) AS sum_ex, CAST(count(*) AS BIGINT) AS d FROM ex)
             |SELECT lang, source, n_docs,
             |       CAST(excess AS VARCHAR) AS excess_x,
             |       CAST(CASE WHEN sum_ex = 0 THEN 1000000 // d
             |            ELSE (800000::HUGEINT * excess) // sum_ex + 200000 // d END
             |            AS BIGINT) AS weight_e6
             |FROM ex, te ORDER BY lang, source""".stripMargin)
    ),
    Q(
      "pipeline_preference_pairs",
      // Preference-pair construction (round-10): the RLHF/DPO data shape —
      // per prompt, pair the best completion (chosen) with the worst
      // (rejected) under a quality score, carry the score margin, and
      // drop prompts whose candidates all tie (margin 0 teaches nothing)
      // or that have a single candidate. Prompt groups are simulated as
      // doc_id % 50 (the fixture's stand-in for "N completions per
      // prompt"); the score is integer text arithmetic (1000·bytes +
      // 7·spaces — identical formula text both engines, no float). ONE
      // keyed shuffle: groupBy(prompt) with max_by/min_by over a
      // (score, doc_id) struct — the pair extraction never sorts within
      // groups and never joins completions against each other, so at
      // 100 TB cost is a two-phase aggregate over completions, O(prompts)
      // output.
      (s, dir) => {
        val scored = Tables(s, dir, "documents").select(
          col("doc_id"),
          (col("doc_id") % 50).as("prompt_id"),
          (octet_length(col("text")) * 1000L +
            (octet_length(col("text")) -
              octet_length(regexp_replace(col("text"), " ", ""))) * 7L)
            .cast("long").as("score"))
        scored.groupBy(col("prompt_id"))
          .agg(
            max_by(col("doc_id"), struct(col("score"), col("doc_id")))
              .as("chosen_id"),
            min_by(col("doc_id"), struct(col("score"), col("doc_id")))
              .as("rejected_id"),
            (max(col("score")) - min(col("score"))).as("margin"),
            count(lit(1)).as("n_candidates"))
          .filter(col("margin") > 0 && col("n_candidates") >= 2)
          .orderBy(col("prompt_id"))
      },
      Some("""WITH scored AS (
             |  SELECT doc_id, doc_id % 50 AS prompt_id,
             |         CAST(strlen(text) * 1000
             |              + (strlen(text)
             |                 - strlen(replace(text, ' ', ''))) * 7
             |              AS BIGINT) AS score
             |  FROM documents),
             |ranked AS (
             |  SELECT *,
             |    row_number() OVER (PARTITION BY prompt_id
             |                       ORDER BY score DESC, doc_id DESC) AS rb,
             |    row_number() OVER (PARTITION BY prompt_id
             |                       ORDER BY score ASC, doc_id ASC) AS rw
             |  FROM scored)
             |SELECT prompt_id,
             |       max(CASE WHEN rb = 1 THEN doc_id END) AS chosen_id,
             |       max(CASE WHEN rw = 1 THEN doc_id END) AS rejected_id,
             |       CAST(max(score) - min(score) AS BIGINT) AS margin,
             |       CAST(count(*) AS BIGINT) AS n_candidates
             |FROM ranked GROUP BY prompt_id
             |HAVING max(score) - min(score) > 0 AND count(*) >= 2
             |ORDER BY prompt_id""".stripMargin)
    ),
    Q(
      "pipeline_span_corruption",
      // T5-style span corruption accounting (round-10): the denoising
      // objective's data shape — ~15% of token POSITIONS are masked by a
      // deterministic per-(doc, position) hash, consecutive masked
      // positions collapse into one sentinel span, and the encoder/
      // decoder lengths follow: input = kept + sentinels, target =
      // masked + sentinels. The mask hash is pre-mod multiplicative
      // BIGINT arithmetic (the Geo-overflow lesson: reduce BEFORE the
      // 2.6e9 multiplier so a 1e9-doc corpus can't overflow Long).
      // Spark side runs the whole span fold INSIDE one row via the
      // `aggregate` HOF over token positions — zero explode, zero
      // shuffle, a single codegen'd map pass at any corpus size; the
      // oracle replays it as an unnest + lag window, a genuinely
      // independent formulation of the same run-length algebra.
      (s, dir) => {
        val m = "(((((doc_id * 1000003 + t) % 1000000007) * 2654435761) " +
          "% 1000000007) % 100) < 15"
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            expr(s"""aggregate(
              sequence(0, size(split(text, ' ')) - 1),
              named_struct('masked', CAST(0 AS BIGINT),
                           'spans', CAST(0 AS BIGINT),
                           'prev', CAST(0 AS BIGINT)),
              (acc, t) -> named_struct(
                'masked', acc.masked + IF($m, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                'spans', acc.spans + IF(($m) AND acc.prev = 0,
                                        CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                'prev', IF($m, CAST(1 AS BIGINT), CAST(0 AS BIGINT))))
            """).as("acc"))
          .select(col("doc_id"), col("n_tokens"),
            col("acc.masked").as("n_masked"), col("acc.spans").as("n_spans"),
            (col("n_tokens") - col("acc.masked") + col("acc.spans"))
              .as("input_len"),
            (col("acc.masked") + col("acc.spans")).as("target_len"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |         unnest(range(0, len(string_split(text, ' ')))) AS pos
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, pos,
             |         (((((doc_id * 1000003 + pos) % 1000000007) * 2654435761)
             |           % 1000000007) % 100) < 15 AS masked
             |  FROM tok),
             |r AS (
             |  SELECT doc_id, masked,
             |         CASE WHEN masked AND NOT coalesce(
             |                lag(masked) OVER (PARTITION BY doc_id ORDER BY pos),
             |                FALSE)
             |              THEN 1 ELSE 0 END AS span_start
             |  FROM m)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             |       CAST(sum(span_start) AS BIGINT) AS n_spans,
             |       CAST(count(*) - sum(CASE WHEN masked THEN 1 ELSE 0 END)
             |            + sum(span_start) AS BIGINT) AS input_len,
             |       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END)
             |            + sum(span_start) AS BIGINT) AS target_len
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_substring_dedup_spans",
      // Exact-substring dedup spans (round-10): the suffix-array dedup of
      // "Deduplicating Training Data Makes Language Models Better"
      // re-expressed Spark-first — every L-token gram (L=4) is hashed
      // map-side, grams whose hash repeats anywhere in the corpus mark
      // their start positions, and per doc the marked positions merge
      // into MAXIMAL duplicated spans (equal-length intervals ⇒ the merge
      // is a single lag pass: new span iff pos > prev + L). Census per
      // doc: span count, duplicated-token mass, longest span. Scale: the
      // only thing that ever shuffles is (doc_id, pos, hash64) — 24 B per
      // token position, O(corpus tokens); text and grams stay map-side,
      // exactly the property that makes ExactSubstr runnable at 100 TB
      // (the published pipeline's suffix array is a single-machine
      // bottleneck; banded hashing is the distributed equivalent). The
      // oracle replays gram extraction by STRING equality — also the
      // collision audit: a 64-bit hash collision would hash-mismatch.
      (s, dir) => {
        val L = 4
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"),
            // sequence(0, -1) DESCENDS in Spark (auto step -1), so guard
            // short docs to an empty gram list explicitly
            posexplode(expr(
              s"""CASE WHEN size(toks) >= $L THEN
                 |  transform(sequence(0, size(toks) - $L),
                 |    i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $L))))
                 |ELSE CAST(array() AS ARRAY<BIGINT>) END"""
                .stripMargin)).as(Seq("pos", "gh")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("gh"))
        val dups = grams.groupBy(col("gh"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        grams.join(dups, Seq("gh"), "left_semi")
          .withColumn("boundary",
            when(lag(col("pos"), 1).over(w).isNull ||
              col("pos") > lag(col("pos"), 1).over(w) + L, 1L).otherwise(0L))
          .withColumn("span_id", sum(col("boundary")).over(w))
          .groupBy(col("doc_id"), col("span_id"))
          .agg((max(col("pos")) - min(col("pos")) + L).as("span_len"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_len")).as("dup_tokens"),
            max(col("span_len")).as("max_span_len"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |g AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |         array_to_string(ts[i + 1:i + 4], ' ') AS gram
             |  FROM tok, unnest(range(0, greatest(len(ts) - 3, 0))) AS u(i)),
             |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
             |p AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
             |b AS (
             |  SELECT doc_id, pos,
             |         CASE WHEN lag(pos) OVER w IS NULL
             |                OR pos > lag(pos) OVER w + 4 THEN 1 ELSE 0 END AS boundary
             |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |sp AS (
             |  SELECT doc_id,
             |         CAST(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos)
             |              AS BIGINT) AS span_id, pos
             |  FROM b),
             |spans AS (
             |  SELECT doc_id, span_id, max(pos) - min(pos) + 4 AS span_len
             |  FROM sp GROUP BY doc_id, span_id)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |       CAST(sum(span_len) AS BIGINT) AS dup_tokens,
             |       CAST(max(span_len) AS BIGINT) AS max_span_len
             |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "pipeline_sft_turn_masking",
      // SFT loss-mask accounting (round-10): chat-template preprocessing
      // decides which token spans receive loss — assistant turns only,
      // and only those with at least one user turn of prior context (an
      // assistant opening has nothing to condition on). Each user's
      // event stream is the transcript: role from event_type, a BPE-ish
      // token estimate from the payload length, turn order by (ts,
      // event_id). One window pass computes the running prior-user-turn
      // count; the per-user census (turns / assistant / trainable /
      // loss-vs-total tokens) is what a training run's data card
      // reports. Scale: one keyed window + one aggregate, O(events)
      // shuffle of small structs, transcripts never re-sort globally.
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ns"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("is_assistant",
            (!col("event_type").isin("click", "view")).cast("long"))
          .withColumn("tokens",
            expr("length(coalesce(props, '')) div 4 + 2"))
          .withColumn("prior_users",
            coalesce(sum(lit(1) - col("is_assistant"))
              .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("trainable",
            (col("is_assistant") === 1 && col("prior_users") >= 1)
              .cast("long"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_turns"),
            sum(col("is_assistant")).as("n_assistant"),
            sum(col("trainable")).as("n_trainable"),
            sum(col("trainable") * col("tokens")).as("loss_tokens"),
            sum(col("tokens")).as("total_tokens"))
          .orderBy(col("user_id"))
      },
      Some("""WITH t AS (
             |  SELECT user_id,
             |         CASE WHEN event_type IN ('click', 'view')
             |              THEN 0 ELSE 1 END AS is_assistant,
             |         length(coalesce(props, '')) // 4 + 2 AS tokens,
             |         epoch_ns(ts) AS o1, event_id AS o2
             |  FROM events),
             |r AS (
             |  SELECT user_id, is_assistant, tokens,
             |         coalesce(sum(1 - is_assistant) OVER (
             |           PARTITION BY user_id ORDER BY o1, o2
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |           0) AS prior_users
             |  FROM t),
             |m AS (
             |  SELECT user_id, is_assistant, tokens,
             |         CASE WHEN is_assistant = 1 AND prior_users >= 1
             |              THEN 1 ELSE 0 END AS trainable
             |  FROM r)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
             |       CAST(sum(is_assistant) AS BIGINT) AS n_assistant,
             |       CAST(sum(trainable) AS BIGINT) AS n_trainable,
             |       CAST(sum(trainable * tokens) AS BIGINT) AS loss_tokens,
             |       CAST(sum(tokens) AS BIGINT) AS total_tokens
             |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "pipeline_dataset_version_id",
      // Content-addressed dataset versioning (round-10): the Merkle-style
      // identity a reproducible training run records — per shard, the
      // digest of the ORDER-INDEPENDENT row-digest set (sha256 over the
      // sorted per-doc hashes), and one dataset-level digest over the
      // sorted shard digests. Any added/removed/edited doc flips its
      // shard digest and therefore the dataset id; identical corpora get
      // identical ids REGARDLESS of row order or partitioning — exactly
      // what "trained on dataset X" should mean. Scale: per-shard
      // digests aggregate O(docs) hashes; the dataset fold touches
      // O(shards) strings.
      (s, dir) => {
        val rows = Tables(s, dir, "documents")
          .select((col("doc_id") % 16).as("shard_id"),
            sha2(concat_ws("|", col("doc_id"), col("text")), 256).as("h"))
        val shards = rows.groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            sha2(concat_ws("", array_sort(collect_list(col("h")))), 256)
              .as("digest"))
        val dataset = shards
          .agg(sum(col("n_docs")).as("n_docs"),
            sha2(concat_ws("", array_sort(collect_list(col("digest")))), 256)
              .as("digest"))
          .withColumn("shard_id", lit(-1L))
        shards.select(col("shard_id"), col("n_docs"), col("digest"))
          .unionByName(dataset.select(col("shard_id"), col("n_docs"),
            col("digest")))
          .orderBy(col("shard_id"))
      },
      Some("""WITH r AS (
             |  SELECT doc_id % 16 AS shard_id,
             |         sha256(doc_id || '|' || text) AS h
             |  FROM documents),
             |sh AS (
             |  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
             |         sha256(string_agg(h, '' ORDER BY h)) AS digest
             |  FROM r GROUP BY shard_id),
             |ds AS (
             |  SELECT CAST(-1 AS BIGINT) AS shard_id,
             |         CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |         sha256(string_agg(digest, '' ORDER BY digest)) AS digest
             |  FROM sh)
             |SELECT shard_id, n_docs, digest FROM sh
             |UNION ALL SELECT * FROM ds
             |ORDER BY shard_id""".stripMargin)
    ),
    Q(
      "text_msttr_diversity",
      // Segmental type-token ratio (round-10): lexical diversity that
      // plain TTR gets wrong (it decays with length) — MSTTR averages
      // the TTR of consecutive fixed-size 25-token segments, making
      // diversity comparable ACROSS document lengths; low MSTTR is the
      // repetitive/templated-text smell quality gates act on. The whole
      // segment fold runs INSIDE each row via transform/slice/
      // array_distinct — zero explode, zero shuffle; e6 integer pinning.
      (s, dir) => {
        val W = 25
        Tables(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= W)
          .select(col("doc_id"),
            expr(s"CAST(size(toks) div $W AS BIGINT)").as("n_segs"),
            expr(
              s"""aggregate(
                 |  transform(sequence(0, size(toks) div $W - 1),
                 |    k -> size(array_distinct(slice(toks, k * $W + 1, $W)))),
                 |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
              .as("sum_types"))
          .withColumn("msttr_e6",
            expr(s"(1000000 * sum_types) div ($W * n_segs)"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |f AS (
             |  SELECT doc_id, len(toks) // 25 AS n_segs,
             |         CAST(list_sum(list_transform(range(0, len(toks) // 25),
             |           k -> len(list_distinct(
             |                  toks[k * 25 + 1:k * 25 + 25])))) AS BIGINT)
             |           AS sum_types
             |  FROM t WHERE len(toks) >= 25)
             |SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs, sum_types,
             |       (1000000 * sum_types) // (25 * n_segs) AS msttr_e6
             |FROM f ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_code_detect",
      // Code-vs-prose detection (round-10): training mixes weight code
      // and natural language differently, so corpus construction needs a
      // cheap splitter — here the symbol-density heuristic (share of
      // non-alphanumeric-non-space characters, e6-pinned) over a corpus
      // where every third doc is deterministically rendered as code
      // (identifiers, punctuation, underscored tokens). The census is
      // the detector's full confusion against staged truth — wide
      // margins make it exact, the same pattern as `text_langid_eval`.
      // Map-side only; at 100 TB the splitter runs inside the scan.
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("is_code", col("doc_id") % 3 === 0)
          .withColumn("content",
            when(col("is_code"), concat(lit("def f_"), col("doc_id"),
              lit("(): return \""), regexp_replace(col("text"), " ", "_"),
              lit("\";")))
              .otherwise(col("text")))
          .withColumn("sym_e6", expr(
            """(1000000 * (length(content)
              |  - length(regexp_replace(content, '[a-z0-9 ]', ''))))
              |div length(content)""".stripMargin))
          .withColumn("pred_code", col("sym_e6") > 50000)
          .groupBy(col("is_code"), col("pred_code"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("sym_e6")).as("min_sym_e6"),
            max(col("sym_e6")).as("max_sym_e6"))
          .orderBy(col("is_code"), col("pred_code"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id, doc_id % 3 = 0 AS is_code,
             |         CASE WHEN doc_id % 3 = 0
             |              THEN 'def f_' || doc_id || '(): return "' ||
             |                   replace(text, ' ', '_') || '";'
             |              ELSE text END AS content
             |  FROM documents),
             |m AS (
             |  SELECT is_code,
             |         (1000000 * (length(content) - length(
             |            regexp_replace(content, '[a-z0-9 ]', '', 'g'))))
             |           // length(content) AS sym_e6
             |  FROM c)
             |SELECT is_code, sym_e6 > 50000 AS pred_code,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       min(sym_e6) AS min_sym_e6, max(sym_e6) AS max_sym_e6
             |FROM m GROUP BY is_code, pred_code
             |ORDER BY is_code, pred_code""".stripMargin)
    ),
    Q(
      "pipeline_chat_validate",
      // Chat-template structural validation (round-10): before an SFT
      // corpus trains, every transcript is checked for template
      // violations — consecutive same-role turns (alternation breaks),
      // an assistant turn opening the conversation, and a dangling user
      // turn at the end. One lag window per user, per-transcript boolean
      // census plus violation counts; a corpus-level gate reads the
      // `valid` column. The role mapping mirrors
      // [[pipeline_sft_turn_masking]] (click/view = user). Scale: one
      // keyed window, O(events) shuffle of (user, role, order) triples.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ns"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("role",
            when(col("event_type").isin("click", "view"), "user")
              .otherwise("assistant"))
          .withColumn("prev_role", lag(col("role"), 1).over(w))
          .withColumn("rn", row_number().over(w))
          .withColumn("is_last",
            col("rn") === count(lit(1)).over(Window.partitionBy(col("user_id"))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_turns"),
            sum(when(col("role") === col("prev_role"), 1L).otherwise(0L))
              .as("n_alternation_breaks"),
            max(when(col("rn") === 1 && col("role") === "assistant", 1L)
              .otherwise(0L)).as("opens_with_assistant"),
            max(when(col("is_last") && col("role") === "user", 1L)
              .otherwise(0L)).as("dangling_user_tail"))
          .withColumn("valid",
            col("n_alternation_breaks") === 0 &&
              col("opens_with_assistant") === 0 &&
              col("dangling_user_tail") === 0)
          .orderBy(col("user_id"))
      },
      Some("""WITH t AS (
             |  SELECT user_id,
             |         CASE WHEN event_type IN ('click', 'view')
             |              THEN 'user' ELSE 'assistant' END AS role,
             |         epoch_ns(ts) AS o1, event_id AS o2
             |  FROM events),
             |r AS (
             |  SELECT user_id, role,
             |         lag(role) OVER w AS prev_role,
             |         row_number() OVER w AS rn,
             |         count(*) OVER (PARTITION BY user_id) AS n
             |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY o1, o2)),
             |g AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
             |         CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
             |              AS BIGINT) AS n_alternation_breaks,
             |         CAST(max(CASE WHEN rn = 1 AND role = 'assistant'
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |           AS opens_with_assistant,
             |         CAST(max(CASE WHEN rn = n AND role = 'user'
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |           AS dangling_user_tail
             |  FROM r GROUP BY user_id)
             |SELECT *, n_alternation_breaks = 0 AND opens_with_assistant = 0
             |          AND dangling_user_tail = 0 AS valid
             |FROM g ORDER BY user_id""".stripMargin)
    ),
    Q(
      "pipeline_loader_resume",
      // Data-loader resume math (round-10): a training run died at global
      // step S — where does the loader restart? Shards are walked in
      // manifest order; consumed sequences = S·B distribute across the
      // shard-size cumsum, and each shard reports done / partial(offset)
      // / pending. One window cumsum over the O(shards) manifest — the
      // deterministic restart computation every epoch-aware loader needs
      // (and the reason manifests carry sizes at all). S·B is staged at
      // 60% of the corpus so all three states are exercised.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val shards = Tables(s, dir, "documents")
          .groupBy((col("doc_id") / 50).cast("long").as("shard_id"))
          .agg(count(lit(1)).as("size"))
        val total = shards.agg(sum(col("size"))).collect()(0).getLong(0)
        val consumed = total * 6 / 10
        val w = Window.orderBy(col("shard_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        shards
          .withColumn("cum_before", coalesce(sum(col("size")).over(w), lit(0L)))
          .withColumn("used", greatest(lit(0L),
            least(col("size"), lit(consumed) - col("cum_before"))))
          .withColumn("state",
            when(col("used") === col("size"), "done")
              .when(col("used") > 0, "partial").otherwise("pending"))
          .select(col("shard_id"), col("size"), col("used").as("resume_offset"),
            col("state"))
          .orderBy(col("shard_id"))
      },
      Some("""WITH shards AS (
             |  SELECT doc_id // 50 AS shard_id, CAST(count(*) AS BIGINT) AS size
             |  FROM documents GROUP BY shard_id),
             |tot AS (SELECT CAST(sum(size) AS BIGINT) * 6 // 10 AS consumed
             |        FROM shards),
             |c AS (
             |  SELECT shard_id, size,
             |         CAST(coalesce(sum(size) OVER (ORDER BY shard_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |           AS BIGINT) AS cum_before
             |  FROM shards)
             |SELECT shard_id, size,
             |       greatest(0, least(size, consumed - cum_before))
             |         AS resume_offset,
             |       CASE WHEN greatest(0, least(size, consumed - cum_before))
             |                 = size THEN 'done'
             |            WHEN greatest(0, least(size, consumed - cum_before))
             |                 > 0 THEN 'partial'
             |            ELSE 'pending' END AS state
             |FROM c, tot ORDER BY shard_id""".stripMargin)
    ),
    Q(
      "text_html_strip",
      // HTML → text extraction census (round-10): the web-corpus
      // boilerplate-strip step — each doc is deterministically wrapped
      // into an HTML page (title, per-sentence <p> tags), then the
      // markup is stripped back out with a tag regex and whitespace
      // normalization; the census (tag count, markup overhead, clean
      // length) is what an extraction-quality monitor tracks per crawl
      // slice. Regexes are RE2-safe (no backrefs/lookarounds) so Spark's
      // Java regex and DuckDB's RE2 agree. All map-side, one codegen
      // pass — at 100 TB extraction runs inside the scan task.
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("html", concat(
            lit("<html><head><title>Doc "), col("doc_id"),
            lit("</title></head><body><p>"),
            regexp_replace(col("text"), "\\. ", ".</p><p>"),
            lit("</p></body></html>")))
          .select(col("doc_id"),
            size(expr("regexp_extract_all(html, '<[^>]+>', 0)"))
              .cast("long").as("n_tags"),
            length(col("html")).cast("long").as("html_len"),
            length(trim(regexp_replace(
              regexp_replace(col("html"), "<[^>]+>", " "), "  *", " ")))
              .cast("long").as("clean_len"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
             |       CAST(length(html) AS BIGINT) AS html_len,
             |       CAST(length(trim(regexp_replace(
             |         regexp_replace(html, '<[^>]+>', ' ', 'g'), '  *', ' ', 'g')))
             |         AS BIGINT) AS clean_len
             |FROM (
             |  SELECT doc_id,
             |         '<html><head><title>Doc ' || doc_id ||
             |         '</title></head><body><p>' ||
             |         regexp_replace(text, '\. ', '.</p><p>', 'g') ||
             |         '</p></body></html>' AS html
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "pipeline_epoch_shuffle",
      // Multi-epoch shuffle audit (round-10): each training epoch orders
      // the corpus by a deterministic per-(doc, epoch) hash — reproducible
      // (an audit rerun rebuilds the exact epoch order) yet decorrelated
      // across epochs. The shuffle is SHARDED (shard = hash % 16, rank
      // within shard) exactly like a production corpus: ranking windows
      // partition by shard, so no global single-partition sort exists at
      // any scale. The census proves decorrelation: per epoch pair,
      // Spearman rho from exact integer rank differences (rho_e6 =
      // 1e6 − 6e6·Σd² / (n(n²−1)), per shard, then min/max across
      // shards) — |rho| stays near 0 between epochs while identical
      // epochs would give exactly 1e6.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // one MULTIPLIER per epoch: an additive epoch term is just a
        // rotation mod P (order-preserving — epochs would never actually
        // reshuffle; the spec's rho=1e6 caught exactly that), while
        // multiplication by distinct constants is a distinct permutation
        val ks = Seq(2654435761L, 1779033703L, 3144134277L)
        def h(e: Int) = expr(
          s"((doc_id % 1000003 + 1) * ${ks(e)}) % 1000000007")
        val base = Tables(s, dir, "documents").select(col("doc_id"))
        val epochs = (0 to 2).map { e =>
          val w = Window.partitionBy(col("shard")).orderBy(col("hk"), col("doc_id"))
          base.withColumn("hk", h(e))
            .withColumn("shard", col("hk") % 16)
            .withColumn(s"r$e", row_number().over(w).cast("long"))
            .select(col("doc_id"), col("shard").as(s"shard$e"), col(s"r$e"))
        }
        val joined = epochs(0).join(epochs(1), "doc_id").join(epochs(2), "doc_id")
        def pairRho(a: Int, b: Int) = {
          // ranks are only comparable within ONE shared shard assignment:
          // fix epoch 0's sharding as the frame and re-rank both epochs'
          // orders inside each of its shards before differencing
          val w1 = Window.partitionBy(col("shard0")).orderBy(col(s"r$a"), col("doc_id"))
          val w2 = Window.partitionBy(col("shard0")).orderBy(col(s"r$b"), col("doc_id"))
          joined
            .withColumn("ra", row_number().over(w1).cast("long"))
            .withColumn("rb", row_number().over(w2).cast("long"))
            .groupBy(col("shard0").as("shard"))
            .agg(count(lit(1)).as("n"),
              sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("sd2"))
            .filter(col("n") > 2)
            // 6000000·sd2 in DECIMAL(38,0): worst-case sd2 ≈ n³/3, so the
            // long form silently wraps once a shard holds ~16.6k docs
            // (2e6·n³ > 2^63) while DuckDB raises — wide exact integers on
            // both sides (decimal here, HUGEINT in the oracle) keep the
            // engines agreeing to n ≈ 10^10. `div` on decimals still
            // returns BIGINT, and both engines truncate toward zero on
            // these non-negative operands, so rho_e6 stays a long.
            .withColumn("rho_e6",
              expr("""1000000 - (CAST(6000000 AS DECIMAL(38,0)) *
                                 CAST(sd2 AS DECIMAL(38,0)))
                      div (CAST(n AS DECIMAL(38,0)) *
                           (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) - 1))"""))
            .agg(min(col("rho_e6")).as("min_rho"), max(col("rho_e6")).as("max_rho"),
              sum(col("n")).as("n_docs"))
            .withColumn("pair", lit(s"e$a-e$b"))
            .select(col("pair"), col("n_docs"), col("min_rho"), col("max_rho"))
        }
        pairRho(0, 1).unionByName(pairRho(1, 2)).unionByName(pairRho(0, 2))
          .orderBy(col("pair"))
      },
      Some("""WITH e0 AS (
             |  SELECT doc_id,
             |         ((doc_id % 1000003 + 1) * 2654435761) % 1000000007 AS hk
             |  FROM documents),
             |e1 AS (
             |  SELECT doc_id,
             |         ((doc_id % 1000003 + 1) * 1779033703) % 1000000007 AS hk
             |  FROM documents),
             |e2 AS (
             |  SELECT doc_id,
             |         ((doc_id % 1000003 + 1) * 3144134277) % 1000000007 AS hk
             |  FROM documents),
             |r0 AS (SELECT doc_id, hk % 16 AS shard,
             |              CAST(row_number() OVER (PARTITION BY hk % 16 ORDER BY hk, doc_id) AS BIGINT) AS r
             |       FROM e0),
             |r1 AS (SELECT doc_id,
             |              CAST(row_number() OVER (PARTITION BY hk % 16 ORDER BY hk, doc_id) AS BIGINT) AS r
             |       FROM e1),
             |r2 AS (SELECT doc_id,
             |              CAST(row_number() OVER (PARTITION BY hk % 16 ORDER BY hk, doc_id) AS BIGINT) AS r
             |       FROM e2),
             |j AS (SELECT r0.doc_id, r0.shard, r0.r AS ra0, r1.r AS ra1, r2.r AS ra2
             |      FROM r0 JOIN r1 USING (doc_id) JOIN r2 USING (doc_id)),
             |pair AS (
             |  SELECT 'e0-e1' AS pair, shard,
             |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ra0, doc_id) AS BIGINT) AS ra,
             |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ra1, doc_id) AS BIGINT) AS rb
             |  FROM j
             |  UNION ALL
             |  SELECT 'e1-e2', shard,
             |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ra1, doc_id) AS BIGINT),
             |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ra2, doc_id) AS BIGINT)
             |  FROM j
             |  UNION ALL
             |  SELECT 'e0-e2', shard,
             |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ra0, doc_id) AS BIGINT),
             |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ra2, doc_id) AS BIGINT)
             |  FROM j),
             |sh AS (
             |  SELECT pair, shard, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sd2
             |  FROM pair GROUP BY pair, shard HAVING count(*) > 2),
             |rho AS (
             |  SELECT pair, n,
             |         CAST(1000000 - (6000000::HUGEINT * sd2::HUGEINT)
             |              // (n::HUGEINT * (n::HUGEINT * n::HUGEINT - 1))
             |              AS BIGINT) AS rho_e6
             |  FROM sh)
             |SELECT pair, CAST(sum(n) AS BIGINT) AS n_docs,
             |       min(rho_e6) AS min_rho, max(rho_e6) AS max_rho
             |FROM rho GROUP BY pair ORDER BY pair""".stripMargin)
    ),
    Q(
      "text_boilerplate_linefreq",
      // Line-frequency boilerplate removal (round-13): the CCNet/OSCAR
      // pre-dedup step — a LINE that recurs across many documents of one
      // SOURCE (nav bars, cookie banners, footers) is template, not
      // content, and is dropped BEFORE any quality gate sees it (C4 and
      // CCNet both run exactly this: per-corpus line frequency, drop
      // lines above a document-frequency threshold). Fixture lines are
      // fixed 10-token windows (the corpus ships newline-free), and each
      // doc is prefixed with its source's 10-token BANNER line — the
      // synthesized template mass (the corpus vocabulary is too diverse
      // for natural 10-gram collisions), so the detector provably drops
      // exactly the per-source banner while every content line survives.
      // The boilerplate verdict is df ≥ 3 AND 20·df ≥ docs-in-source — both
      // sides exact integers, so no threshold can flip cross-engine.
      // Scale: the line-frequency table is a two-phase (source, line)
      // aggregate — at 100 TB the join key is the line's 64-bit digest
      // rather than its text (the exact-dedup discipline; here the
      // ≤70-char line IS its own key so the oracle stays literal), and
      // the per-doc rollup shuffles O(lines), never re-shuffling the
      // document bodies.
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            split(concat(expr("repeat(concat(source, ' '), 10)"),
              col("text")), " ").as("l"))
        val lines = d.select(col("doc_id"), col("source"),
          expr("""inline(transform(
                 |  sequence(0, greatest(1, CAST(ceil(size(l) / 10.0) AS INT)) - 1),
                 |  i -> struct(array_join(slice(l, i * 10 + 1, 10), ' ') AS line,
                 |              CAST(least(10, size(l) - i * 10) AS BIGINT) AS ltoks)))"""
            .stripMargin))
        val src = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val freq = lines.groupBy(col("source"), col("line"))
          .agg(count_distinct(col("doc_id")).as("df"))
          .join(src, "source")
          .select(col("source"), col("line"),
            (col("df") >= 3 && col("df") * 20 >= col("n_docs")).as("boiler"))
        lines.join(freq, Seq("source", "line"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
            sum(col("ltoks")).as("tokens_total"),
            sum(when(!col("boiler"), col("ltoks")).otherwise(0L)).as("tokens_kept"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |         string_split(repeat(source || ' ', 10) || text, ' ') AS l
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id, source,
             |         unnest(list_transform(
             |           range(0, greatest(1, CAST(ceil(len(l) / 10.0) AS BIGINT))),
             |           i -> array_to_string(list_slice(l, i * 10 + 1, i * 10 + 10), ' '))) AS line,
             |         unnest(list_transform(
             |           range(0, greatest(1, CAST(ceil(len(l) / 10.0) AS BIGINT))),
             |           i -> CAST(least(10, len(l) - i * 10) AS BIGINT))) AS ltoks
             |  FROM d),
             |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |        FROM d GROUP BY source),
             |freq AS (
             |  SELECT f.source, f.line,
             |         (f.df >= 3 AND f.df * 20 >= s.n_docs) AS boiler
             |  FROM (SELECT source, line, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             |        FROM lines GROUP BY source, line) f
             |  JOIN src s ON f.source = s.source)
             |SELECT l.doc_id,
             |       CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum(CASE WHEN f.boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
             |       CAST(sum(l.ltoks) AS BIGINT) AS tokens_total,
             |       CAST(sum(CASE WHEN NOT f.boiler THEN l.ltoks ELSE 0 END) AS BIGINT) AS tokens_kept
             |FROM lines l JOIN freq f ON l.source = f.source AND l.line = f.line
             |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin)
    ),
    Q(
      "text_readability_fk",
      // Flesch/Flesch–Kincaid readability (round-13): the classic
      // surface-form readability screens — syllables-per-word and
      // words-per-sentence — that corpus quality reports bucket by.
      // Syllables use the standard vowel-group heuristic (runs of
      // [aeiouy] count once); the fixture corpus carries no sentence
      // punctuation, so the segmenter falls back to fixed 15-token
      // chunks (ceil(words/15)) — the documented convention for
      // delimiter-free text. Per language MICRO-averages: the three
      // counts fold as exact BIGINTs and divide once per output row
      // (never a mean-of-per-doc-ratios, whose float sum order differs
      // across engines).
      // Scale: two regexp counts per row, map-side combinable rollup to
      // O(langs) rows — a pure scan-shaped pass at any corpus size.
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("lang"),
            size(split(lower(col("text")), " ")).cast("long").as("w"),
            expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)")
              .as("sy"))
          .withColumn("sent", ceil(col("w").cast("double") / 15.0).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("w")).as("n_words"),
            sum(col("sy")).as("n_syllables"),
            sum(col("sent")).as("n_sentences"))
          .select(col("lang"), col("n_docs"), col("n_words"),
            col("n_syllables"),
            expr("CAST(floor(CAST(n_syllables AS DOUBLE) / n_words * 1000000 + 0.5) AS BIGINT)")
              .as("syll_per_word_e6"),
            util.r2(lit(206.835)
              - lit(1.015) * col("n_words").cast("double") / col("n_sentences")
              - lit(84.6) * col("n_syllables").cast("double") / col("n_words"))
              .as("flesch_ease"),
            util.r2(lit(0.39) * col("n_words").cast("double") / col("n_sentences")
              + lit(11.8) * col("n_syllables").cast("double") / col("n_words")
              - lit(15.59)).as("fk_grade"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH d AS (
              |  SELECT lang,
              |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS w,
              |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sy
              |  FROM documents),
              |x AS (
              |  SELECT lang, w, sy,
              |         CAST(ceil(CAST(w AS DOUBLE) / 15.0) AS BIGINT) AS sent
              |  FROM d),
              |g AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              |         CAST(sum(w) AS BIGINT) AS n_words,
              |         CAST(sum(sy) AS BIGINT) AS n_syllables,
              |         CAST(sum(sent) AS BIGINT) AS n_sentences
              |  FROM x GROUP BY lang)
              |SELECT lang, n_docs, n_words, n_syllables,
              |       CAST(floor(CAST(n_syllables AS DOUBLE) / n_words * 1000000 + 0.5) AS BIGINT) AS syll_per_word_e6,
              |       ${util.r2sql("206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences - 84.6 * CAST(n_syllables AS DOUBLE) / n_words")} AS flesch_ease,
              |       ${util.r2sql("0.39 * CAST(n_words AS DOUBLE) / n_sentences + 11.8 * CAST(n_syllables AS DOUBLE) / n_words - 15.59")} AS fk_grade
              |FROM g ORDER BY lang""".stripMargin)
    ),
    Q(
      "pipeline_fim_transform",
      // Fill-in-the-middle transform (round-13): the code-pretraining
      // augmentation (OpenAI FIM / StarCoder PSM) — split a document at
      // two pseudo-random points and re-serialize as
      // <PRE>prefix<SUF>suffix<MID>middle so the model learns infilling.
      // Everything is derived from the row itself: a multiplicative hash
      // of doc_id gates the standard 50% FIM rate and picks both cut
      // points, so the transform is reproducible run-to-run and
      // engine-to-engine (the oracle replays it exactly); output rows
      // pin the reordered text with sha256 plus the three span lengths.
      // Scale: pure per-row projection — no shuffle at all; at 100 TB
      // this is the map stage of the tokenizer feed, and the
      // deterministic gate means re-runs produce byte-identical shards
      // (the property incremental dedup and loader-resume rely on).
      (s, dir) => {
        val h1 = (col("doc_id") * 2654435761L) % 1000003L
        val h2 = (col("doc_id") * 40503L + 17L) % 999983L
        // length >= 2 gate + greatest() in the modulus (ADVICE r13): a
        // 1-char doc made `h % (len-1)` a division by zero — NULL spans
        // and sha in Spark, an error in some DuckDB versions — breaking
        // the spans-sum-to-length invariant; shorter docs now pass
        // through un-split in both engines.
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            length(col("text")).cast("long").as("n"),
            (h1 % 100L < 50L && length(col("text")) >= 2).as("fim"),
            (h1 % greatest(length(col("text")).cast("long") - 1L, lit(1L)) + 1L).as("a"),
            (h2 % greatest(length(col("text")).cast("long") - 1L, lit(1L)) + 1L).as("b"))
          .select(col("doc_id"), col("fim"), col("n"),
            least(col("a"), col("b")).as("p1"),
            greatest(col("a"), col("b")).as("p2"), col("text"))
          .select(col("doc_id"), col("fim"),
            when(col("fim"), col("p1")).otherwise(col("n")).as("len_prefix"),
            when(col("fim"), col("p2") - col("p1")).otherwise(0L)
              .as("len_middle"),
            when(col("fim"), col("n") - col("p2")).otherwise(0L)
              .as("len_suffix"),
            sha2(when(col("fim"),
              concat(lit("<PRE>"), expr("substr(text, 1, p1)"),
                lit("<SUF>"), expr("substr(text, CAST(p2 + 1 AS INT))"),
                lit("<MID>"), expr("substr(text, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT))")))
              .otherwise(col("text")), 256).as("sha"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH x AS (
             |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
             |         ((doc_id * 2654435761) % 1000003) % 100 < 50 AND length(text) >= 2 AS fim,
             |         ((doc_id * 2654435761) % 1000003) % greatest(CAST(length(text) AS BIGINT) - 1, 1) + 1 AS a,
             |         ((doc_id * 40503 + 17) % 999983) % greatest(CAST(length(text) AS BIGINT) - 1, 1) + 1 AS b
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, fim, n, least(a, b) AS p1, greatest(a, b) AS p2, text
             |  FROM x)
             |SELECT doc_id, fim,
             |       CASE WHEN fim THEN p1 ELSE n END AS len_prefix,
             |       CASE WHEN fim THEN p2 - p1 ELSE 0 END AS len_middle,
             |       CASE WHEN fim THEN n - p2 ELSE 0 END AS len_suffix,
             |       CASE WHEN fim THEN sha256('<PRE>' || substr(text, 1, CAST(p1 AS INT))
             |              || '<SUF>' || substr(text, CAST(p2 + 1 AS INT))
             |              || '<MID>' || substr(text, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT)))
             |            ELSE sha256(text) END AS sha
             |FROM c ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "text_bigram_cond_entropy",
      // Conditional bigram entropy H(W₂|W₁) per language (round-13): the
      // entropy-RATE step beyond text_entropy_unigram — how predictable
      // is the next word given the current one. Low conditional entropy
      // with high unigram entropy is the signature of templated/spun
      // text (diverse words, deterministic transitions) that
      // per-document repetition filters miss. Identity: H(W₂|W₁) =
      // H(W₁W₂) − H(W₁) computed from exact (pair, prefix) counts with
      // the c·log₂c trick — integer counts everywhere, the log₂ sums
      // hide libm drift under r2 (entropy_unigram precedent).
      // Scale: bigram formation is a positional transform (no
      // explode-then-self-join); both count tables are map-side
      // combinable; output is O(langs).
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(col("lang"), split(lower(col("text")), " ").as("ws"))
        val bi = toks.select(col("lang"), explode(expr(
          "transform(slice(ws, 1, size(ws) - 1), (w, i) -> struct(w AS w1, ws[i + 1] AS w2))"))
          .as("p"))
          .select(col("lang"), col("p.w1"), col("p.w2"))
        val pairC = bi.groupBy(col("lang"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c"))
        val agg = pairC.groupBy(col("lang"))
          .agg(sum(col("c")).as("n"),
            count(lit(1)).as("vocab_pairs"),
            sum(col("c").cast("double") * log(2.0, col("c").cast("double")))
              .as("plog"))
        val w1C = bi.groupBy(col("lang"), col("w1"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("vocab_w1"),
            sum(col("c").cast("double") * log(2.0, col("c").cast("double")))
              .as("wlog"))
        agg.join(w1C, "lang")
          .select(col("lang"), col("n").as("n_bigrams"), col("vocab_pairs"),
            col("vocab_w1"),
            util.r2((col("wlog") - col("plog")) / col("n").cast("double"))
              .as("cond_entropy_bits"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH toks AS (
              |  SELECT lang, string_split(lower(text), ' ') AS ws FROM documents),
              |bi AS (
              |  SELECT lang,
              |         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
              |         unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
              |  FROM toks),
              |pairc AS (
              |  SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c
              |  FROM bi GROUP BY lang, w1, w2),
              |agg AS (
              |  SELECT lang, CAST(sum(c) AS BIGINT) AS n,
              |         CAST(count(*) AS BIGINT) AS vocab_pairs,
              |         sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS plog
              |  FROM pairc GROUP BY lang),
              |w1c AS (
              |  SELECT lang, CAST(count(*) AS BIGINT) AS vocab_w1,
              |         sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS wlog
              |  FROM (SELECT lang, w1, CAST(count(*) AS BIGINT) AS c
              |        FROM bi GROUP BY lang, w1) t
              |  GROUP BY lang)
              |SELECT agg.lang, n AS n_bigrams, vocab_pairs, vocab_w1,
              |       ${util.r2sql("(wlog - plog) / CAST(n AS DOUBLE)")} AS cond_entropy_bits
              |FROM agg JOIN w1c ON agg.lang = w1c.lang
              |ORDER BY agg.lang""".stripMargin)
    ),
    Q(
      "text_vocab_coverage",
      // Vocabulary coverage curve (round-13): the tokenizer-sizing
      // question — what fraction of the corpus TOKEN MASS does a top-k
      // vocabulary cover (k = 50/200/1000)? text_df_vocab and
      // text_zipf_slope describe the frequency distribution; this is the
      // decision curve read off it (pick the vocab size at the knee —
      // everything past it becomes UNK/byte-fallback, the rate
      // text_oov_rate then audits). Frequencies and cumulative mass are
      // exact BIGINTs; ranks use the (freq DESC, word) total order both
      // engines agree on; one e6 division per output row.
      // Scale: word counts are the standard map-side-combinable
      // explode+group; the ranked spine is O(vocab) rows (vocabulary,
      // not corpus, scale) and the cutoff probe is a tiny broadcast.
      (s, dir) => {
        val freq = Tables(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        val spine = freq
          .withColumn("rn", row_number().over(
            Window.orderBy(col("f").desc, col("w"))))
          .withColumn("cum", sum(col("f")).over(
            Window.orderBy(col("f").desc, col("w"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = freq.agg(sum(col("f")).as("total"),
          count(lit(1)).as("vocab_full"))
        val ks = s.range(0, 3).select(
          expr("CAST(50 * pow(4, id) AS BIGINT)").as("vocab_k"))
        spine.crossJoin(broadcast(ks))
          .filter(col("rn") <= col("vocab_k"))
          .groupBy(col("vocab_k"))
          .agg(max(col("cum")).as("covered_tokens"),
            max(col("rn")).cast("long").as("vocab_used"))
          .crossJoin(broadcast(tot))
          .select(col("vocab_k"), col("vocab_used"), col("covered_tokens"),
            col("total").as("total_tokens"), col("vocab_full"),
            expr("CAST(floor(CAST(covered_tokens AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)")
              .as("coverage_e6"))
          .orderBy(col("vocab_k"))
      },
      Some("""WITH freq AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS f
             |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
             |  WHERE length(w) > 0 GROUP BY w),
             |spine AS (
             |  SELECT CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS rn,
             |         CAST(sum(f) OVER (ORDER BY f DESC, w
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM freq),
             |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total,
             |               CAST(count(*) AS BIGINT) AS vocab_full FROM freq),
             |ks AS (SELECT CAST(unnest([50, 200, 800]) AS BIGINT) AS vocab_k)
             |SELECT vocab_k,
             |       CAST(max(rn) AS BIGINT) AS vocab_used,
             |       CAST(max(cum) AS BIGINT) AS covered_tokens,
             |       max(total) AS total_tokens, max(vocab_full) AS vocab_full,
             |       CAST(floor(CAST(max(cum) AS DOUBLE) / max(total) * 1000000 + 0.5) AS BIGINT) AS coverage_e6
             |FROM spine CROSS JOIN ks CROSS JOIN tot
             |WHERE rn <= vocab_k
             |GROUP BY vocab_k ORDER BY vocab_k""".stripMargin)
    ),
    Q(
      "text_js_divergence",
      // Pairwise Jensen–Shannon divergence between language unigram
      // distributions (round-13): the bounded, symmetric distribution
      // distance (0 = identical, 1 bit = disjoint) that corpus-mixture
      // work uses where KL is undefined (disjoint vocab support —
      // exactly the cross-language case). JSD(P,Q) = Σ[p·lg(2p/(p+q)) +
      // q·lg(2q/(p+q))]/2 over the UNION vocabulary; zero-count sides
      // contribute their full mass (coalesce 0), handled without a full
      // outer join by expanding each unordered pair into two equi-join
      // sides and conditional-summing per (pair, word). Counts are
      // exact; the lg sums hide libm drift under r2 (entropy precedent).
      // Scale: word counts are one map-side rollup; the pair expansion
      // multiplies the VOCAB (not the corpus) by k(k−1)/2 — bounded by
      // vocabulary size at any corpus scale.
      (s, dir) => {
        val wc = Tables(s, dir, "documents")
          .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
        val nl = wc.groupBy(col("lang")).agg(sum(col("c")).as("n"))
        val langs = nl.select(col("lang"), col("n"))
        val pairs = langs.as("a")
          .join(langs.as("b"), col("a.lang") < col("b.lang"))
          .select(col("a.lang").as("l1"), col("b.lang").as("l2"),
            col("a.n").as("n1"), col("b.n").as("n2"))
        val sides = pairs.select(col("l1"), col("l2"), col("n1"), col("n2"),
            col("l1").as("side_lang"))
          .unionByName(pairs.select(col("l1"), col("l2"), col("n1"),
            col("n2"), col("l2").as("side_lang")))
        val perWord = sides.join(wc, col("side_lang") === wc("lang"))
          .groupBy(col("l1"), col("l2"), col("n1"), col("n2"), col("w"))
          .agg(sum(when(col("lang") === col("l1"), col("c")).otherwise(0L))
            .as("c1"),
            sum(when(col("lang") === col("l2"), col("c")).otherwise(0L))
              .as("c2"))
        perWord
          .select(col("l1"), col("l2"),
            (col("c1").cast("double") / col("n1")).as("p"),
            (col("c2").cast("double") / col("n2")).as("q"))
          .select(col("l1"), col("l2"),
            (when(col("p") > 0.0,
              col("p") * log(2.0, lit(2.0) * col("p") / (col("p") + col("q"))))
              .otherwise(0.0) +
             when(col("q") > 0.0,
               col("q") * log(2.0, lit(2.0) * col("q") / (col("p") + col("q"))))
              .otherwise(0.0)).as("t"))
          .groupBy(col("l1").as("lang_i"), col("l2").as("lang_j"))
          .agg(count(lit(1)).as("vocab_union"),
            util.r2(sum(col("t")) / 2.0).as("jsd_bits"))
          .orderBy(col("lang_i"), col("lang_j"))
      },
      Some(s"""WITH wc AS (
              |  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
              |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
              |        FROM documents) t
              |  WHERE length(w) > 0 GROUP BY lang, w),
              |nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM wc GROUP BY lang),
              |pairs AS (
              |  SELECT a.lang AS l1, b.lang AS l2, a.n AS n1, b.n AS n2
              |  FROM nl a JOIN nl b ON a.lang < b.lang),
              |sides AS (
              |  SELECT l1, l2, n1, n2, l1 AS side_lang FROM pairs
              |  UNION ALL
              |  SELECT l1, l2, n1, n2, l2 AS side_lang FROM pairs),
              |per_word AS (
              |  SELECT l1, l2, n1, n2, w,
              |         CAST(sum(CASE WHEN wc.lang = l1 THEN c ELSE 0 END) AS BIGINT) AS c1,
              |         CAST(sum(CASE WHEN wc.lang = l2 THEN c ELSE 0 END) AS BIGINT) AS c2
              |  FROM sides JOIN wc ON sides.side_lang = wc.lang
              |  GROUP BY l1, l2, n1, n2, w),
              |terms AS (
              |  SELECT l1, l2,
              |         CAST(c1 AS DOUBLE) / n1 AS p,
              |         CAST(c2 AS DOUBLE) / n2 AS q
              |  FROM per_word)
              |SELECT l1 AS lang_i, l2 AS lang_j,
              |       CAST(count(*) AS BIGINT) AS vocab_union,
              |       ${util.r2sql("sum(CASE WHEN p > 0 THEN p * log2(2 * p / (p + q)) ELSE 0 END + CASE WHEN q > 0 THEN q * log2(2 * q / (p + q)) ELSE 0 END) / 2")} AS jsd_bits
              |FROM terms GROUP BY l1, l2 ORDER BY lang_i, lang_j""".stripMargin)
    ),
Q(
      "text_vocab_overlap",
      // Cross-language top-vocabulary Jaccard (round-13): how much do
      // the languages' top-200 word lists overlap — the shared-subword
      // diagnostic a multilingual tokenizer budget reads before deciding
      // how much vocab the languages can share (text_js_divergence
      // measures distribution distance over the FULL vocab; this is the
      // set view of just the head that a vocab actually allocates).
      // Top-200 per language by the (freq DESC, word) total order; the
      // pairwise intersection is a self-equi-join on word; union =
      // |A|+|B|−|A∩B| exact.
      // Scale: per-language counts are the standard explode rollup; the
      // ranked heads are O(langs·200) rows — the pair join touches the
      // HEADS, never the corpus.
      (s, dir) => {
        val freq = Tables(s, dir, "documents")
          .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("f"))
        val head = freq
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("f").desc, col("w"))))
          .filter(col("rn") <= 200)
          .select(col("lang"), col("w"))
        val sizes = head.groupBy(col("lang")).agg(count(lit(1)).as("sz"))
        val inter = head.as("a")
          .join(head.as("b"),
            col("a.w") === col("b.w") && col("a.lang") < col("b.lang"))
          .groupBy(col("a.lang").as("lang_i"), col("b.lang").as("lang_j"))
          .agg(count(lit(1)).as("n_shared"))
        inter
          .join(sizes.withColumnRenamed("lang", "lang_i")
            .withColumnRenamed("sz", "sz_i"), "lang_i")
          .join(sizes.withColumnRenamed("lang", "lang_j")
            .withColumnRenamed("sz", "sz_j"), "lang_j")
          .select(col("lang_i"), col("lang_j"), col("n_shared"),
            expr("""CAST(floor(CAST(n_shared AS DOUBLE)
                   / (sz_i + sz_j - n_shared) * 1000000 + 0.5) AS BIGINT)""")
              .as("jaccard_e6"))
          .orderBy(col("lang_i"), col("lang_j"))
      },
      Some("""WITH freq AS (
             |  SELECT lang, w, CAST(count(*) AS BIGINT) AS f
             |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
             |        FROM documents) t
             |  WHERE length(w) > 0 GROUP BY lang, w),
             |head AS (
             |  SELECT lang, w FROM (
             |    SELECT lang, w,
             |           row_number() OVER (PARTITION BY lang ORDER BY f DESC, w) AS rn
             |    FROM freq) r WHERE rn <= 200),
             |sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS sz FROM head GROUP BY lang),
             |inter AS (
             |  SELECT a.lang AS lang_i, b.lang AS lang_j,
             |         CAST(count(*) AS BIGINT) AS n_shared
             |  FROM head a JOIN head b ON a.w = b.w AND a.lang < b.lang
             |  GROUP BY a.lang, b.lang)
             |SELECT lang_i, lang_j, n_shared,
             |       CAST(floor(CAST(n_shared AS DOUBLE)
             |            / (si.sz + sj.sz - n_shared) * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
             |FROM inter
             |JOIN sizes si ON si.lang = lang_i
             |JOIN sizes sj ON sj.lang = lang_j
             |ORDER BY lang_i, lang_j""".stripMargin)
    )
  )
}
