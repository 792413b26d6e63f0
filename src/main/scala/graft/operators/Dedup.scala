package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, candidate-verified n-gram Jaccard, embedding-cosine near-dup.
  *
  * Hash functions are built from `md5` hex strings (available identically in
  * Spark and any oracle engine) rather than engine-private hashes, so every
  * stage is cross-engine deterministic. Lexicographic MIN over hex digests is
  * a valid MinHash (uniform order on the digest space).
  *
  * Scale design (100 TB):
  *  - exact dedup shuffles the 32-byte md5 fingerprint as the grouping key —
  *    never the document body — with map-side partial aggregation;
  *  - MinHash: each shingle is hashed exactly twice (md5(sh) ++ md5('#'+sh)
  *    = 64 hex chars) and the 16 disjoint 4-hex chunks decode to 16
  *    independent 16-bit integer seeds, so the per-row work is two md5s +
  *    cheap substrings. The explode→min-agg partial-aggregates map-side to
  *    one row per doc; the LSH band join then shuffles only
  *    (doc, band-signature) pairs — never a cross join;
  *  - Jaccard: exact verification ONLY over LSH candidate pairs (the classic
  *    LSH-then-verify shape) — no low-cardinality blocking, so the pair count
  *    is bounded by bucket collisions, not block sizes;
  *  - SimHash: pure per-row expressions then band buckets;
  *  - embedding near-dup: pairs only within (cell, sign-LSH bucket) — two
  *    independent 4-bit hyperplane tables OR-ed for recall — so each join
  *    partition is a small bucket, never a whole cell.
  */
object Dedup {

  /** Default pair-explosion guard: LSH buckets larger than this are dropped
    * before pairing (see `capBuckets`). Finite by default — a degenerate
    * mega-bucket (template boilerplate surviving exact dedup) would
    * otherwise cost O(bucket²) pairs for no signal. Pass
    * `maxBucket = Int.MaxValue` to disable.
    */
  val DefaultMaxBucket = 128

  /** Within-doc repeat guard for the positional posting family (r14): a
    * doc contributes at most this many positions PER n-gram to
    * [[postings]] (the first K by position; later repeats are within-doc
    * boilerplate — log spam, repeated headers — that `x_dedup_within_doc`
    * exists to collapse). The df cap bounds DISTINCT docs per gram but not
    * per-doc repeats, so without this one pathological repetitive document
    * (df=1 for its dominant gram, never "heavy") makes `spanRuns`' single
    * per-gram `collect_list` row — and the in-row pair explosion against
    * any partner doc — unbounded: an executor-OOM vector on dirty 100 TB
    * data. With it, a per-gram pairing row holds ≤ maxDf ×
    * MaxGramRepeatsPerDoc postings by construction. Mirrored verbatim in
    * the substring/mask/decontaminate-mask oracles (QUALIFY row_number
    * ≤ K); a real span of interest repeats far fewer than 32 times at the
    * same gram, so the cap never binds on natural text (pinned by
    * DedupSpec's no-bind law).
    */
  val MaxGramRepeatsPerDoc = 32

  private def registerPersisted(df: DataFrame): DataFrame =
    CacheRegistry.register(df)

  /** Release every intermediate persisted by the LSH/k-means operators. */
  def unpersistAll(): Unit = CacheRegistry.unpersistAll()

  /** Exact dedup: one survivor (min id) per identical text. The grouping key
    * is the md5 fingerprint of the normalized text — constant-width, so at
    * 100 TB the shuffle carries 32-byte keys instead of document bodies.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))

  /** n-word shingles from a MATERIALIZED token-array column. Taking the
    * already-computed array (an attribute reference, cheap to re-reference)
    * matters: inlining `split(lower(text))` here would re-tokenize the whole
    * document for every `element_at` inside the transform lambda — O(tokens²)
    * work per document (measured 10× slower at sf0.1). Documents shorter
    * than `n` tokens get their full token string as one shingle.
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))

  /** 3-word shingles of the lowercased whitespace tokenization. Only for
    * one-shot use on small inputs — hot paths must project the token array
    * first and use `shinglesFromTokens` (see above).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** 64-bit n-gram fingerprints from a materialized token array — the
    * hash-keyed twin of [[shinglesFromTokens]]: XXH64 is computed DIRECTLY
    * over each n-token array slice (no joined string ever materializes)
    * and the keys downstream exchanges carry are 8-byte longs instead of
    * 32-char md5 hex. Matches shinglesFromTokens' short-doc rule: a
    * document shorter than `n` tokens contributes its whole token array
    * as one fingerprint. Unlike the string form (injective over token
    * sequences), XXH64 over an array carries no length prefix, so a short
    * doc's whole-array fingerprint colliding with a longer doc's n-slice
    * is merely astronomically improbable (~2⁻⁶⁴ per pair), not
    * structurally impossible — the same probabilistic argument as
    * [[postings]]' collision note, and a collision costs one spurious
    * candidate pair, never a wrong verified span.
    *
    * Native one-pass codegen Expression (r14, GramHashesLong — same XXH64
    * fold via Spark's own XxHash64Function, so values are identical): the
    * composed form evaluated a sequence + slice + xxhash64 expression walk
    * INTERPRETED per gram. [[composedGramHashes]] keeps the built-in form
    * as the equivalence-law twin (DedupSpec).
    */
  def gramHashes(toks: Column, n: Int): Column =
    graft.functions.NativeExpressions.gramHashesLong(toks, n)

  /** The composed-builtins form of [[gramHashes]] — law twin only. */
  def composedGramHashes(toks: Column, n: Int): Column =
    when(size(toks) < n, array(xxhash64(toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => xxhash64(slice(toks, i, lit(n)))))

  /** Per-doc MinHash signature: the shingle is hashed just twice
    * (md5(sh) ++ md5('#'+sh) = 64 hex chars) and the 16 disjoint 4-hex-char
    * chunks — decoded to 16-bit INTS — serve as 16 independent uniform
    * hashes; h_s = MIN over shingles of chunk s. Integer mins keep the
    * aggregation buffer primitive, so Spark plans a HashAggregate with
    * map-side partial mins instead of falling back to SortAggregate (string
    * buffers would force a per-partition sort of every (doc, shingle) row).
    * 2 digests per shingle instead of one per (shingle, seed). Returns
    * (doc, h0..h{k-1}: int).
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 16): DataFrame = {
    require(numHashes <= 16, "two md5 digests provide 16 4-hex chunks")
    val exploded = df
      .select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc"),
        explode(array_distinct(shinglesFromTokens(col("toks")))).as("sh"))
      .select(col("doc"),
        concat(md5(col("sh")), md5(concat(lit("#"), col("sh")))).as("h"))
    val aggs = (0 until numHashes).map(s =>
      min(conv(substring(col("h"), 4 * s + 1, 4), 16, 10).cast("int"))
        .as(s"h$s"))
    exploded.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: group `numHashes` minhashes into bands of `bandSize`; the
    * band signature is the '|'-joined concatenation of the band's minhash
    * ints (no re-hash needed — the tuple itself is the bucket key; the
    * separator keeps (1,23) distinct from (12,3)). Emits
    * (doc, band_idx, band_sig).
    */
  def lshBands(sig: DataFrame, numHashes: Int = 16, bandSize: Int = 4): DataFrame = {
    val bands = (0 until numHashes / bandSize).map { b =>
      val cols = (0 until bandSize)
        .map(i => col(s"h${b * bandSize + i}").cast("string"))
      struct(lit(b).as("band_idx"), concat_ws("|", cols: _*).as("band_sig"))
    }
    sig.select(col("doc"), explode(array(bands: _*)).as("band"))
      .select(col("doc"), col("band.band_idx").as("band_idx"),
        col("band.band_sig").as("band_sig"))
  }

  /** MinHash+LSH candidate pairs: docs sharing any band bucket. The self-join
    * is an equi-join on (band_idx, band_sig) — shuffle-partitioned by bucket,
    * never a cross join. Distinct pairs with a < b.
    */
  /** Pair-explosion guard for LSH bucket self-joins: drop buckets holding
    * more than `maxBucket` members before pairing. A bucket that large is
    * a near-identical mega-cluster (template boilerplate, exact dups that
    * should have been collapsed by `exact` dedup FIRST — run it upstream);
    * pairing inside it is O(bucket²) for no information. Window count, one
    * pass over the already-partitioned bucket table.
    */
  private[operators] def capBuckets(bucketed: DataFrame, bucketCols: Seq[String],
                                    maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) bucketed
    else bucketed
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(bucketCols.map(col): _*)))
      .where(col("__bsz") <= maxBucket).drop("__bsz")

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, bandSize: Int = 4,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Persist the band table: Spark does not recognize the two sides of a
    // self-join as a shared subplan, so without this the whole
    // explode→hash→min pipeline runs twice (verified via executedPlan —
    // zero ReusedExchange). The band table is 4 small rows per doc; a real
    // 100 TB pipeline would materialize it to storage the same way, and
    // the cache manager also lets the Jaccard-verify query reuse it.
    val bands = registerPersisted(capBuckets(
      lshBands(minhashSignature(df, idCol, textCol, numHashes),
        numHashes, bandSize),
      Seq("band_idx", "band_sig"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = bands.select(col("doc").as("a"), col("band_idx"), col("band_sig"))
    val b = bands.select(col("doc").as("b"), col("band_idx"), col("band_sig"))
    a.join(b, Seq("band_idx", "band_sig")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact token-set Jaccard over LSH candidate pairs (LSH-then-verify):
    * candidates come from `minhashCandidates` — bounded by bucket collisions,
    * not by any low-cardinality block — then each pair's exact Jaccard is
    * computed from the token sets joined back by doc id (integer set sizes;
    * the ratio is a single int/int division).
    *
    * Scale: the candidate set is O(near-dup pairs), tiny vs the corpus; the
    * two token-set joins are equi-joins on doc id, hash-partitioned. The
    * token arrays are shuffled only for candidate docs.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 16,
                   bandSize: Int = 4,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bandSize,
      maxBucket)
    val toks = df.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks"))
    val inter = size(array_intersect(col("a_toks"), col("b_toks"))).cast("long")
    val uni = size(array_union(col("a_toks"), col("b_toks"))).cast("long")
    cands
      .join(toks.select(col("id").as("a"), col("toks").as("a_toks")), Seq("a"))
      .join(toks.select(col("id").as("b"), col("toks").as("b_toks")), Seq("b"))
      .select(col("a").as("a_id"), col("b").as("b_id"),
        inter.as("n_inter"), uni.as("n_union"),
        (inter.cast("double") / uni.cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric containment over LSH candidate pairs: containment(A,B) =
    * |A∩B| / min(|A|,|B|) — the short-in-long near-dup signal. A 50-token
    * excerpt quoted verbatim inside a 5 000-token page has Jaccard ≈ 0.01
    * (diluted by the page's extra tokens) but containment 1.0, so the
    * Jaccard verify never surfaces it; this one does.
    *
    * Candidates still come from MinHash LSH, which estimates *resemblance*:
    * a containment pair collides only when the short side's shingles also
    * dominate some band of the long side's signature, so recall decays as
    * the length ratio grows. That is the documented trade: this operator
    * is the cheap pass that reuses the one LSH build the dedup pipeline
    * already paid for; [[containmentIndexed]] is the guaranteed-recall
    * path (bottom-k probes of the short side against corpus postings,
    * length-ratio independent) when the ratio-decayed recall is not
    * acceptable.
    *
    * Scale: same shape as `jaccardPairs` — candidate set bounded by bucket
    * collisions, two id-equi-joins to fetch token sets, integer set sizes.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, numHashes: Int = 16,
                       bandSize: Int = 4,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bandSize,
      maxBucket)
    val toks = df.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks"))
    val inter = size(array_intersect(col("a_toks"), col("b_toks"))).cast("long")
    val nA = size(col("a_toks")).cast("long")
    val nB = size(col("b_toks")).cast("long")
    cands
      .join(toks.select(col("id").as("a"), col("toks").as("a_toks")), Seq("a"))
      .join(toks.select(col("id").as("b"), col("toks").as("b_toks")), Seq("b"))
      .select(col("a").as("a_id"), col("b").as("b_id"),
        inter.as("n_inter"), nA.as("n_a"), nB.as("n_b"),
        (inter.cast("double") / least(nA, nB).cast("double"))
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Guaranteed-recall containment candidates via a bottom-k shingle
    * index — the scale path [[containmentPairs]]'s scaladoc promises: its
    * MinHash-LSH candidates estimate *resemblance*, so recall on
    * short-in-long pairs decays as the length ratio grows; here every doc
    * probes the corpus postings with its k smallest shingle hashes (a
    * bottom-k sketch of the PROBE side alone — a uniform sample of its
    * shingles under the hash order), so for true containment c each probe
    * shingle hits independently with probability ≈ c and
    * `est_e4 ≈ n_match·10⁴/k_probe` estimates c with NO dependence on the
    * other side's size. Direction matters (containment is asymmetric):
    * (a_id, b_id) means "a's shingles are in b".
    *
    * Scale contract: postings drop shingles shared by > maxDf docs — the
    * same boilerplate cap as decontamination (hot shingles produce
    * quadratic pair counts and carry no discriminative signal; a probe
    * whose shingle was capped undercounts, never overcounts). The probe
    * side is ≤ k rows per doc, the candidate join is an equi-join on the
    * key. Pairs at or above `thresholdE4` remain; exact verification
    * composes via [[containmentPairs]]'s scorer.
    *
    * Key + probe mechanics (r14 — the full-suite sf1 scale run caught the
    * md5-string form superlinear, exp 1.40 at 10×): the shingle key is
    * the first 15 hex chars of its md5 parsed to a 60-bit long — the
    * cross-engine hash ORDER the bottom-k sketch needs (hex-prefix order
    * == numeric order), at 1/4 the exchange width of the 32-char hex
    * string the r13 form shuffled through four corpus-volume stages (the
    * spill knee). The bottom-k probe is picked PER ROW from the doc's key
    * array (array_sort + slice) before anything explodes, and k_probe is
    * just least(k, size) — deleting the corpus-wide row_number window
    * (one full exchange + sort) and the probe re-count aggregation
    * outright.
    *
    * Candidate-volume mechanics (r14, second pass): a probe shingle's hit
    * list is its posting df (≤ maxDf), and bottom-k sampling is
    * df²-weighted across the corpus (a probe doc samples its shingles
    * uniformly, but a high-df shingle is in MANY probe docs), so at the
    * corpus size where common shingles sit just under the cap the
    * candidate volume peaks near k·maxDf pairs per doc — measured 37.6M
    * DISTINCT (a,b) pairs for 50k sf1 docs, which the old exploded
    * probe→posting join materialized as rows and pair-counted in a 37.6M-
    * entry aggregation (the whole 11-second warm cost; virtually every
    * pair then died at the threshold). The chain now never materializes
    * a below-threshold pair: each surviving shingle's ≤maxDf doc list
    * rides as ONE PACKED ARRAY row (collect_list per key), the arrays
    * group by probe doc (the only candidate-volume exchange moves packed
    * longs, not rows), and the per-pair match count is an IN-ROW
    * gaps-and-islands pass over the ≤k·maxDf-entry sorted array — only
    * pairs meeting the est threshold explode into rows. Same pairs, same
    * counts, so the oracle is untouched. Measured at sf1 solo warm:
    * 11.1 → 5.1 s (the residual is the two bounded exchanges the
    * candidate volume still rides as packed longs: postings→bArrays and
    * hits→per-probe-doc).
    *
    * Bloom prefilter on the posting build (r15 — cuts the first of
    * those two residual exchanges): only shingles that are in SOME
    * doc's bottom-k probe can ever match the probe→postings join, yet
    * the posting aggregation exchanged EVERY shingle occurrence of the
    * corpus to learn each key's doc list. A Bloom filter over the probe
    * key set (one driver scalar of numBits/8 bytes, built from the same
    * cached key arrays) now gates the posting stream BEFORE its groupBy
    * exchange, so occurrences of never-probed shingles — the df-1..low
    * tail that dominates DISTINCT key count — die at the scan.
    * Bit-identical results: the gate is a pure function of the key, so
    * a kept key keeps ALL its occurrences (the df cap still sees
    * complete lists), and Bloom has no false negatives (every probed
    * key survives); false positives just ride to the join and match
    * nothing. Sizing: 16 bits per expected probe key (k · ndocs,
    * counted off the cache), floor 2²⁰ bits, CAP 2²⁷ bits = 16 MiB —
    * past ~10⁹ probe keys the fixed-size filter saturates and the gate
    * degrades to pass-through (weaker pruning, never wrong), the right
    * 100 TB failure mode for a driver-materialized scalar.
    */
  def containmentIndexed(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, maxDf: Int = DefaultMaxBucket,
                         thresholdE4: Long = 5000L): DataFrame = {
    // khl build: one native codegen'd pass (ShingleKeys60) replacing the
    // interpreted shingle→distinct→md5-hex→conv chain — bit-identical by
    // the expression's pinned law (FunctionsSpec), and the cache-build
    // hot loop this operator's warm cost was dominated by (r15)
    val base = registerPersisted(df
      .select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc"),
        graft.functions.NativeExpressions.shingleKeys60(col("toks")).as("khl"))
      .persist())
    val bottomK = slice(array_sort(col("khl")), 1, k)
    val expected = math.max(k * base.count(), 1L)
    val bfBytes = base.select(explode(bottomK).as("h"))
      .agg(graft.functions.Sketch.bloomAgg(col("h"), expected,
        math.min(math.max(16L * expected, 1L << 20), 1L << 27)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val postAll = base.select(col("doc"), explode(col("khl")).as("h"))
    val post =
      if (bfBytes == null) postAll // empty corpus: nothing to prune
      else postAll.where(
        graft.functions.Sketch.mightContain(lit(bfBytes), col("h")))
    val probe = base.select(col("doc").as("a"),
      least(lit(k), size(col("khl"))).cast("long").as("k_probe"),
      explode(bottomK).as("h"))
    // one packed row per surviving shingle: the ≤maxDf doc list rides as
    // an array, so each probe hit fetches ONE row however many docs hold
    // the shingle. The df cap is the in-row size filter on the SAME
    // aggregation (size(bs) > maxDf ⟺ df > maxDf — postings are distinct
    // per (h, doc)), fusing what was a count aggregation + left-anti join
    // + a second groupBy (three posting-volume traversals, two of them
    // exchanges) into this one pass
    val bArrays = post.groupBy("h").agg(collect_list(col("doc")).as("bs"))
      .where(size(col("bs")) <= maxDf)
    // SHUFFLE_HASH with the ≤k-rows-per-doc probe as build side: both
    // sides are corpus-sized (never broadcastable at 100 TB), and
    // Catalyst's size estimate for subtrees over the compact cached
    // arrays is low enough that it would otherwise BROADCAST the posting
    // side (measured at sf1 on the exploded form: every task builds the
    // 10M-row hash relation → executor OOM; plan shape pinned in
    // PlanAuditSpec)
    //
    // In-row pair counting: srt/starts/runs are STAGED named columns
    // (the SKILL.md lambda-inlining rule); `starts` is 1-BASED run-start
    // positions in `srt`, and each run's length is next-start − start
    // (try_element_at past the end → null → the size+1 sentinel). all_bs
    // is never empty (inner join; collect_list ≥ 1), so sequence(1, n)
    // never descends. CaseWhen guards the i−1 look-back (ANSI-safe, same
    // pattern as postings()); floor((n·10⁴)/kp) ≥ T ⟺ n·10⁴ ≥ T·kp for
    // integer T, kp > 0, so the in-row filter is exactly the est gate.
    val grouped = probe.hint("shuffle_hash")
      .join(bArrays, Seq("h"))
      .groupBy("a").agg(first(col("k_probe")).as("k_probe"),
        flatten(collect_list(col("bs"))).as("all_bs"))
    // long ids (the common corpus shape) take the native one-loop run
    // counter (ContainmentRuns — bit-identical by its pinned law); other
    // id types keep the staged composed chain (srt/starts/runs stay NAMED
    // columns — the SKILL.md lambda-inlining rule: an inlined `starts`
    // re-evaluates per element)
    val exploded =
      if (df.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
        grouped.select(col("a"), col("k_probe"),
          explode(graft.functions.NativeExpressions.containmentRuns(
            col("all_bs"), col("a"), col("k_probe"), thresholdE4)).as("e"))
      else grouped
        .withColumn("srt", array_sort(col("all_bs")))
        .withColumn("starts", filter(sequence(lit(1), size(col("srt"))),
          i => when(i === 1, lit(true)).otherwise(
            element_at(col("srt"), i) =!= element_at(col("srt"), i - 1))))
        .withColumn("runs", transform(col("starts"), (s, j) => struct(
          element_at(col("srt"), s).as("b"),
          (coalesce(try_element_at(col("starts"), j + 2),
            size(col("srt")) + 1) - s).cast("long").as("n_match"))))
        .select(col("a"), col("k_probe"),
          explode(filter(col("runs"), r =>
            r.getField("b") =!= col("a") &&
              r.getField("n_match") * lit(10000L) >=
                lit(thresholdE4) * col("k_probe"))).as("e"))
    exploded
      .select(col("a").as("a_id"), col("e.b").as("b_id"),
        col("e.n_match").as("n_match"), col("k_probe"))
      .withColumn("est_e4", expr("(n_match * 10000) div k_probe"))
  }

  /** Edit-distance verification over the same LSH candidates — the
    * character-level near-dup signal the set-based metrics can't see.
    * Jaccard and containment treat a document as a token SET: a
    * systematic single-character corruption (OCR noise, a mojibake pass,
    * a diff-sized template change) that touches every token drops set
    * overlap to ~0 while the texts remain one edit per token apart. The
    * Levenshtein similarity over the documents' prefixes scores exactly
    * that residual closeness.
    *
    * Cost contract at 100 TB: Levenshtein is O(m·n) per pair, so the
    * comparison is CAPPED to the first `prefixLen` characters (default
    * 200 — the same lead-passage window the leakage matrix fingerprints),
    * bounding every pair at prefixLen² cell updates regardless of
    * document size, and it runs only on LSH candidates, never all pairs.
    * `sim_e4` is the ×10⁴ integer similarity 1 − dist/max(len) (two
    * empty prefixes score 10000), so the score is engine-exact.
    */
  def editVerifyPairs(df: DataFrame, idCol: String, textCol: String,
                      prefixLen: Int = 200, numHashes: Int = 16,
                      bandSize: Int = 4,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bandSize,
      maxBucket)
    val pfx = df.select(col(idCol).as("id"),
      substring(coalesce(col(textCol), lit("")), 1, prefixLen).as("pfx"))
    cands
      .join(pfx.select(col("id").as("a"), col("pfx").as("a_pfx")), Seq("a"))
      .join(pfx.select(col("id").as("b"), col("pfx").as("b_pfx")), Seq("b"))
      .withColumn("edit_dist",
        levenshtein(col("a_pfx"), col("b_pfx")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("a_pfx")), length(col("b_pfx"))).cast("long"))
      .select(col("a").as("a_id"), col("b").as("b_id"), col("edit_dist"),
        when(col("max_len") === 0, 10000L)
          .otherwise(expr("10000 - (edit_dist * 10000) div max_len"))
          .as("sim_e4"))
  }

  /** Compression-distance verify over LSH candidates: normalized
    * compression distance NCD(a,b) = (C(a⧺b) − min(C(a),C(b))) /
    * max(C(a),C(b)) in ×10⁴ integer form, with C = the native zlib
    * [[graft.functions.GraftCompress.deflateLen]]. Near-duplicate pairs
    * score LOW (the concatenation adds almost no new information for the
    * compressor to encode) — a third verify signal orthogonal to both
    * set-overlap (Jaccard/containment) and edit distance: it sees
    * long-range shared structure (reordered paragraphs, interleaved
    * boilerplate) that a 200-char edit prefix and shingle sets both miss.
    * Cost discipline matches editVerifyPairs: only LSH candidates pay,
    * texts capped to `prefixLen` so each pair deflates ≤ 3 bounded
    * buffers.
    *
    * Output splits into a deterministic half and a readout half
    * (round-9 ask #1): the candidate pair list plus the byte sizes the
    * compressor sees (`n_a_pfx`/`n_b_pfx`) are engine-portable and
    * DuckDB-oracle-checked by `x_dedup_ncd_verify`; the deflate readouts
    * (`ca`/`cb`/`cab`/`ncd_e4`) are implementation-defined lengths, so
    * they stay out of the driver-hashed surface — DedupSpec pins their
    * identical-pair ≈ 0 / unrelated-pair ≫ 0 ordering law instead.
    */
  def ncdVerifyPairs(df: DataFrame, idCol: String, textCol: String,
                     prefixLen: Int = 2000, numHashes: Int = 16,
                     bandSize: Int = 4,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import graft.functions.GraftCompress.deflateLen
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bandSize,
      maxBucket)
    val pfx = df.select(col(idCol).as("id"),
      substring(coalesce(col(textCol), lit("")), 1, prefixLen).as("pfx"))
    cands
      .join(pfx.select(col("id").as("a"), col("pfx").as("a_pfx")), Seq("a"))
      .join(pfx.select(col("id").as("b"), col("pfx").as("b_pfx")), Seq("b"))
      .select(col("a").as("a_id"), col("b").as("b_id"),
        octet_length(col("a_pfx")).cast("long").as("n_a_pfx"),
        octet_length(col("b_pfx")).cast("long").as("n_b_pfx"),
        deflateLen(col("a_pfx")).as("ca"),
        deflateLen(col("b_pfx")).as("cb"),
        deflateLen(concat(col("a_pfx"), col("b_pfx"))).as("cab"))
      .withColumn("ncd_e4",
        when(greatest(col("ca"), col("cb")) === 0, 0L)
          .otherwise(expr(
            "(cab - least(ca, cb)) * 10000 div greatest(ca, cb)")))
      .select("a_id", "b_id", "n_a_pfx", "n_b_pfx", "ca", "cb", "cab",
        "ncd_e4")
  }

  /** Canonical form of a URL — the normalization every web corpus applies
    * BEFORE content dedup (two crawls of the same page differ by case,
    * tracking params, fragments, and trailing slashes long before their
    * bodies differ). Rules, in order:
    *
    *   1. drop the fragment (`#...` — client-side only, never a distinct
    *      resource);
    *   2. lowercase scheme + authority ONLY (paths are case-sensitive per
    *      RFC 3986; hosts are not) and strip a leading `www.`;
    *   3. strip an explicit default port (`:80` for http, `:443` for
    *      https — RFC 3986 §6.2.3 equivalence; real crawl frontiers carry
    *      both spellings of every popular origin);
    *   4. drop tracking query params (`utm_*`, `fbclid`, `gclid`, `ref`),
    *      keeping the rest in their original order;
    *   5. strip trailing slashes from the path;
    *   6. uppercase %XX escape hex in path and query (`%2f` ≡ `%2F`,
    *      RFC 3986 §6.2.2.1 case normalization) — escape hex only, never
    *      the escaped bytes themselves.
    *
    * Built from regex/array expressions available identically in Spark and
    * the DuckDB oracle — no engine-private URL parser — and idempotent
    * (canonical(canonical(u)) = canonical(u), the DedupSpec law). Pure
    * per-row codegen work: zero shuffle, zero UDF.
    */
  /** RFC 3986 §6.2.2.1 percent-encoding case normalization: uppercase the
    * two hex digits of every %XX escape, leaving everything else (incl.
    * path letter case) alone. Split on '%', fold each fragment that
    * OPENS with two hex digits — a fragment that doesn't marks a bare
    * '%' (invalid escape), which is left untouched rather than corrupted.
    */
  private def foldHexEscapes(s: Column): Column =
    array_join(
      transform(split(s, "%", -1), (p, i) =>
        when(i === 0 || !p.rlike("^[0-9a-fA-F]{2}"), p)
          .otherwise(concat(upper(p.substr(lit(1), lit(2))),
            p.substr(lit(3), length(p))))),
      "%")

  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val schemeHost = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1)
    val path = regexp_replace(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    val canonHost = regexp_replace(
      regexp_replace(
        regexp_replace(lower(schemeHost), "^([a-z0-9+.-]+://)www\\.", "$1"),
        "^(http://[^/]*):80$", "$1"),
      "^(https://[^/]*):443$", "$1")
    val canonPath = foldHexEscapes(regexp_replace(path, "/+$", ""))
    val keptParams = filter(split(query, "&"),
      p => !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)=") && p =!= lit(""))
    val keptQuery = foldHexEscapes(array_join(keptParams, "&"))
    concat(canonHost, canonPath,
      when(keptQuery =!= "", concat(lit("?"), keptQuery)).otherwise(lit("")))
  }

  /** C4-style per-domain page cap: rank each page within its canonical
    * host by ascending `idCol` and keep the first `cap` — the crawl-budget
    * stage that stops a single mega-site from dominating the corpus (C4
    * famously capped pages per domain for exactly this reason). Output per
    * page: (id, host, rn, keep).
    *
    * Scale (100 TB): canonicalization + host extraction are narrow per-row
    * maps; the verdict is ONE hash exchange on the host string. Host
    * cardinality at crawl scale is tens of millions, so partitions stay
    * balanced — EXCEPT for mega-hosts (the very sites the cap exists for),
    * whose windows sort within one partition. The sort is bounded by that
    * host's page count, and because only rank ≤ cap survives, a deployment
    * that must bound even the sort can pre-filter with a per-partition
    * count-min pass; at this corpus's host fan-out the plain window is the
    * right plan (1-exchange budget pinned in PlanAuditSpec).
    */
  def domainCap(df: DataFrame, idCol: String, urlCol: String,
                cap: Long = 12L): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(col(idCol))
    df.select(col(idCol), domainKey(col(idCol), col(urlCol)).as("host"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("keep", col("rn") <= cap)
  }

  /** The per-domain budget's GROUPING key: the canonical host when the
    * URL parses, with two dirty-data fallbacks that keep the window
    * partitions bounded on a real crawl. Unparseable URLs (relative,
    * protocol-relative, malformed — the host regex extracts "") fall back
    * to the full canonical URL as their own singleton "host": one shared
    * "" bucket would otherwise pool EVERY bad URL of a dirty crawl into
    * ONE unbounded window partition and apply a single cap across
    * unrelated sites. NULL urls likewise become id-keyed singletons (a
    * shared NULL partition is the same unbounded pool). Singleton hosts
    * keep rn = 1 ≤ cap, so such rows pass through un-capped — budget
    * enforcement needs a parsed domain to group by. Shared by the batch
    * cap and the streaming twin so the two can never diverge.
    */
  def domainKey(id: Column, url: Column): Column = {
    val canon = canonicalUrl(url)
    val rawHost = regexp_extract(canon, "^[a-z0-9+.-]+://([^/?]*)", 1)
    coalesce(
      when(rawHost === "", canon).otherwise(rawHost),
      concat(lit("__nourl__#"), id.cast("string")))
  }

  /** URL-level dedup: keep-first (min id) per canonical URL — the first
    * curation stage of a web pipeline, run before any content hashing
    * because it needs no document bytes at all. Output is the per-doc
    * verdict: (id, url, url_canon, n_copies, keep).
    *
    * Scale (100 TB): ONE hash shuffle on the canonical-URL string (the
    * window's partition key); the canonicalization itself is a narrow
    * per-row map. At crawl scale the canonical URL is the natural
    * pre-partitioning key for everything downstream, so this exchange is
    * typically reused, not added.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val w = Window.partitionBy(col("url_canon"))
    df.select(col(idCol).as("id"), col(urlCol).as("url"),
        canonicalUrl(col(urlCol)).as("url_canon"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", col("id") === min(col("id")).over(w))
  }

  /** Cross-corpus LINE-level dedup — the MassiveText/CCNet boilerplate
    * stage: any normalized line occurring more than `maxDf` times across
    * the corpus (nav bars, cookie banners, footers) is struck from every
    * document; body lines survive. Distinct from [[passage dedup]]
    * (token windows, first-occurrence-wins) and within-doc dedup: the
    * unit is the author's line structure and the verdict is corpus-wide
    * frequency, not pairwise similarity.
    *
    * Output per doc: total/kept line counts and the order-exact md5 of
    * the kept line sequence (the same compact readout the passage ops
    * use — reassembled text stays out of the result).
    *
    * Scale (100 TB): lines explode to (doc, pos, 32-byte line-hash)
    * rows; the frequency verdict is ONE count window over the line-hash
    * (never the line text — constant-width shuffle keys), and the per-doc
    * reassembly is the second, (doc)-keyed exchange. No joins, no
    * distinct — 2 exchanges total, pinned in PlanAuditSpec.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDf: Long = 10L): DataFrame = {
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("pos", "line")))
      .withColumn("lp",
        md5(regexp_replace(trim(lower(col("line"))), "\\s+", " ")))
    val wDf = Window.partitionBy(col("lp"))
    lines
      .withColumn("line_df", count(lit(1)).over(wDf))
      .withColumn("keep", col("line_df") <= maxDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
          when(col("keep"), struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n")).as("kept_fp"))
  }

  /** Duplication report: how many exact-dup clusters exist at each copy
    * count. The report every curation run ships next to its output — it is
    * the one-page answer to "how duplicated was this crawl". Two grouped
    * aggregations (fingerprint, then cluster size); after the first the
    * data is one row per distinct document, so the second is negligible.
    */
  def dupStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df, idCol, textCol)
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("n_copies"), col("n_clusters"),
        (col("n_copies") * col("n_clusters")).as("n_docs"))
      .orderBy(col("n_copies"))

  /** Incremental (batch-vs-corpus) dedup — the nightly-crawl shape: an
    * incoming batch is triaged against the existing corpus AND against
    * itself, and every incoming doc gets a drop/keep verdict with the
    * reason a curation run logs:
    *
    *   - `exact_vs_existing`: fingerprint already in the corpus
    *   - `exact_vs_batch`:    fingerprint duplicated inside the batch
    *                          (min id survives)
    *   - `near_vs_existing`:  LSH candidate with a corpus doc verified at
    *                          token-Jaccard ≥ `threshold`
    *   - `near_vs_batch`:     same within the batch (smaller id survives)
    *   - `kept`
    *
    * Reasons are assigned in that priority order. Near-dup flagging is
    * pairwise (any qualifying partner flags the doc), NOT transitive
    * resolution — the incremental triage a pipeline runs per batch;
    * full-corpus transitive resolution stays `dedupClusters` /
    * `x_dedup_semantic`. Ids must be globally unique across both sides.
    *
    * Scale (100 TB corpus + small batch): the fingerprint probes are
    * 32-byte-key equi-joins; ONE band table is built over corpus ∪ batch
    * (identical cost to the corpus LSH build the full dedup already runs —
    * a deployment would persist it and append the batch's bands); the
    * verify join touches candidate pairs only, and the final reason joins
    * are id-equi-joins against drop sets far smaller than the batch, which
    * AQE broadcasts.
    */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String,
                       threshold: Double = 0.8,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val exFp = existing
      .select(TextAnalysis.fingerprint(col(textCol)).as("__exfp")).distinct()
    val incFp = incoming.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    // null-SAFE probe (<=>): a null-text doc fingerprints to NULL, which
    // a plain semi-join never matches — but exactVsBatch's window and the
    // full run's Dedup.exact groupBy both treat NULL fingerprints as one
    // group, so the triage would disagree with the batch dedup on exactly
    // the null-text docs. distinct() above already collapses the
    // existing side's NULLs to one row, so the <=> adds no fan-out.
    val exactVsExisting = incFp
      .join(exFp, col("fp") <=> col("__exfp"), "left_semi").select("id")
    val exactVsBatch = incFp
      .withColumn("rn", row_number().over(
        win.partitionBy("fp").orderBy("id")))
      .where(col("rn") > 1).select("id")

    val tagged = existing.select(col(idCol), col(textCol))
      .withColumn("__new", lit(false))
      .unionByName(incoming.select(col(idCol), col(textCol))
        .withColumn("__new", lit(true)))
    val cands = minhashCandidates(tagged, idCol, textCol,
      maxBucket = maxBucket)
    val toks = tagged.select(col(idCol).as("tid"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("ttoks"),
      col("__new"))
    val jac = size(array_intersect(col("a_toks"), col("b_toks")))
      .cast("double") /
      size(array_union(col("a_toks"), col("b_toks"))).cast("double")
    val scored = cands
      .join(toks.select(col("tid").as("a"), col("ttoks").as("a_toks"),
        col("__new").as("a_new")), Seq("a"))
      .join(toks.select(col("tid").as("b"), col("ttoks").as("b_toks"),
        col("__new").as("b_new")), Seq("b"))
      .where(jac >= threshold)
    val nearVsExisting = scored.where(col("a_new") =!= col("b_new"))
      .select(when(col("a_new"), col("a")).otherwise(col("b")).as("id"))
    // candidate pairs come out a < b, so the larger batch id is dropped
    val nearVsBatch = scored.where(col("a_new") && col("b_new"))
      .select(col("b").as("id"))

    def flag(ids: DataFrame, name: String): DataFrame =
      ids.distinct().select(col("id").as("doc_id"), lit(true).as(name))
    incoming.select(col(idCol).as("doc_id"))
      .join(flag(exactVsExisting, "f_ee"), Seq("doc_id"), "left")
      .join(flag(exactVsBatch, "f_eb"), Seq("doc_id"), "left")
      .join(flag(nearVsExisting, "f_ne"), Seq("doc_id"), "left")
      .join(flag(nearVsBatch, "f_nb"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("f_ee"), "exact_vs_existing")
          .when(col("f_eb"), "exact_vs_batch")
          .when(col("f_ne"), "near_vs_existing")
          .when(col("f_nb"), "near_vs_batch")
          .otherwise("kept").as("reason"))
    // no trailing sort: consumers are row-order-insensitive, and at scale
    // an incoming batch is still a RangePartitioning + full sort for zero
    // benefit (r14, the round-11 no-useless-sorts rule's last residual)
  }

  /** 32-bit SimHash from md5 hex-digit parity: bit i of a token's hash is
    * `ascii(hex_digit_i(md5(token))) % 2`; the doc bit is the majority vote
    * over tokens. Cross-engine deterministic (md5 + ascii only).
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("doc"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bitSums = (0 until 32).map(i =>
      sum((ascii(substring(col("h"), i + 1, 1)) % 2).cast("long")).as(s"s$i"))
    val agged = exploded.groupBy(col("doc"))
      .agg(bitSums.head, bitSums.tail :+ count(lit(1)).as("n_tok"): _*)
    val sim = (0 until 32).map(i =>
      when(col(s"s$i") * 2 >= col("n_tok"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col("doc"), sim.as("simhash"),
      (sim % 65536).as("band_lo"), (sim.cast("long") / 65536).cast("long").as("band_hi"))
  }

  /** SimHash near-dup pairs: candidates share a 16-bit half of the 32-bit
    * SimHash (two bucket tables — the classic "split the fingerprint into
    * bands, collide on any band" scheme: any pair within Hamming distance
    * ≤ 16 of each other in the other half is findable, and small distances
    * almost always collide); verification is the exact Hamming distance via
    * bit_count(xor). Equi-join on (table, band) — bucketed, never all-pairs.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 4,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // persisted for the same self-join-reuse reason as minhashCandidates
    val sig = registerPersisted(simhash32(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val br = capBuckets(
      sig.select(col("doc"), col("simhash"),
        explode(array(
          struct(lit(0).as("tbl"), col("band_lo").as("band")),
          struct(lit(1).as("tbl"), col("band_hi").as("band")))).as("tb"))
        .select(col("doc"), col("simhash"),
          col("tb.tbl").as("tbl"), col("tb.band").as("band")),
      Seq("tbl", "band"), maxBucket)
    val a = br.select(col("doc").as("a"), col("simhash").as("a_sim"),
      col("tbl"), col("band"))
    val b = br.select(col("doc").as("b"), col("simhash").as("b_sim"),
      col("tbl"), col("band"))
    a.join(b, Seq("tbl", "band")).where(col("a") < col("b"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Collapse candidate pairs into duplicate CLUSTERS: connected
    * components by iterative min-label propagation with POINTER DOUBLING —
    * each round every node takes the min of (its own label, its neighbors'
    * labels, its label's label). The neighbor step alone converges in
    * O(component diameter) rounds; composing the label-chain shortcut
    * (label ← label(label)) squares the reach per round, so convergence is
    * O(log diameter) — at a fixed per-round job cost this more than halves
    * wall-clock on chain-shaped components (measured 10 rounds → 5 at
    * sf0.1). Per-round work is two equi-joins + a partial-min aggregation,
    * all distributed; the driver only checks the converged flag, and
    * checkpointing truncates lineage so deep runs stay plannable. Returns
    * (node, cluster) for every node appearing in a pair; isolated docs are
    * their own implicit cluster.
    *
    * Checkpoint durability: when the Spark conf `graft.checkpointDir` is
    * set, each round checkpoints RELIABLY to that (shared) directory so a
    * long multi-round job survives executor loss on a real cluster;
    * otherwise `localCheckpoint` (executor-local blocks) is used — fine on
    * local[*], not durable on a cluster. Reliable-round files are deleted
    * as soon as the NEXT round has materialized (Spark itself only cleans
    * checkpoints with referenceTracking.cleanCheckpoints on), so the
    * steady-state footprint is two rounds of labels, not rounds×runs; the
    * FINAL round's files back the returned DataFrame and are the caller's
    * to remove after consuming it. Note `setCheckpointDir` applies
    * session-wide.
    *
    * If the loop hits `maxIter` with labels still changing (a component
    * whose diameter exceeds the budget), the partially-propagated labels
    * would silently disagree with a full transitive closure — so this
    * throws instead; raise `maxIter` for pathological chain-shaped data.
    *
    * Small-graph fast path: candidate pairs from a well-deduped corpus are
    * typically a vanishing fraction of it. When the symmetric edge set
    * fits `graft.clusters.driverMaxEdges` (default 1M edges ≈ tens of MB),
    * the components are solved by a driver-side union-find in
    * milliseconds — identical min-label output — instead of paying
    * cluster-scheduling overhead per propagation round (measured 3.5s for
    * 255 pairs on local[32]). The distributed loop remains the path for
    * genuinely large pair sets, where it is the only option.
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val reliableDir = spark.conf.getOption("graft.checkpointDir")
    reliableDir.foreach(spark.sparkContext.setCheckpointDir)
    // LAZY checkpoint: the convergence count below is the first action on
    // each round's labels, so it materializes the checkpoint in the SAME
    // job — eager would spend one extra job per round just materializing
    def materialize(df: DataFrame): DataFrame =
      if (reliableDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // Reliable-round garbage collection: once round N has materialized (the
    // convergence count is its first action), round N-1's rdd-* checkpoint
    // dirs are dead — delete them. Tracked by snapshot-diffing the context
    // checkpoint dir, so only dirs THIS loop created are ever touched.
    val ckFs = reliableDir.map { _ =>
      val root =
        new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
      (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
    }
    def listCk(): Set[String] = ckFs.fold(Set.empty[String]) { case (root, fs) =>
      if (!fs.exists(root)) Set.empty
      else fs.listStatus(root).map(_.getPath.toString).toSet
    }
    var ckSeen = listCk()
    var ckPrevRound = Set.empty[String]
    def dropPreviousRoundCheckpoints(): Unit = ckFs.foreach { case (_, fs) =>
      val now = listCk()
      val created = now -- ckSeen // this round's dirs
      ckPrevRound.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(d), true))
      ckSeen = now -- ckPrevRound // what remains on disk
      ckPrevRound = created       // becomes deletable once the next round lands
    }
    // materialize the raw pair set once: the fast-path gate needs its
    // count, the fast path collects it directly (union-find is direction-
    // and duplicate-insensitive, so no symmetrize/distinct shuffle), and
    // the distributed path reads it twice for the symmetric union (no
    // ReusedExchange across a self-union without the persist)
    val e0 = pairs.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = e0.count()

    val driverMax = spark.conf.getOption("graft.clusters.driverMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    if (nPairs <= driverMax) {
      val out = unionFindClusters(e0)
      e0.unpersist()
      return out
    }

    val edges = e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count() // pin edges now so e0 can be dropped before the rounds
    e0.unpersist()
    // warm start: fold the first propagation hop into initialization
    // (label = min of self and direct neighbors), saving one full round
    var labels = edges
      .groupBy(col("a"))
      .agg(least(min(col("b")), col("a")).as("label"))
      .select(col("a").as("node"), col("label"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbr = edges
        .join(labels.select(col("node").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("node")).agg(min("nl").as("nbl"))
      // pointer doubling: my label's current label (the chain shortcut)
      val hop = labels.select(col("node").as("label"), col("label").as("ll"))
      // checkpoint FIRST (eager): the convergence count and the next
      // labels then both read the materialized blocks instead of each
      // re-running the joins
      val updated = materialize(labels
        .join(nbr, Seq("node"), "left")
        .join(hop, Seq("label"), "left")
        .select(col("node"), col("label"),
          least(col("label"),
            least(coalesce(col("nbl"), col("label")),
              coalesce(col("ll"), col("label")))).as("next")))
      changed = updated.where(col("next") =!= col("label")).count()
      dropPreviousRoundCheckpoints()
      labels = updated.select(col("node"), col("next").as("label"))
      iter += 1
    }
    edges.unpersist()
    if (changed > 0) {
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIter rounds " +
          s"($changed labels still changing) — a component's diameter " +
          "exceeds maxIter; raise it to cover chain-shaped duplicates")
    }
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** Passage-level exact dedup: split each document into non-overlapping
    * `passageTokens`-token passages and report every passage text that
    * occurs more than once in the corpus (min-id survivor, occurrence and
    * doc counts). Finer-grained than whole-doc dedup: near-dup documents
    * that differ by a few tokens still share most passages, and a corpus
    * cleaner drops or rewrites just the repeated spans. The grouping key is
    * the passage md5 — constant-width shuffle, map-side partial counts;
    * passages shorter than `minChars` carry no signal and are dropped.
    */
  def passageDuplicates(df: DataFrame, idCol: String, textCol: String,
                        passageTokens: Int = 8, minChars: Int = 20): DataFrame =
    df.select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc"), col("toks"),
        explode(sequence(lit(1),
          ceil(size(col("toks")).cast("double") / passageTokens).cast("int")))
          .as("i"))
      .select(col("doc"),
        concat_ws(" ", slice(col("toks"),
          (col("i") - 1) * passageTokens + 1, lit(passageTokens))).as("passage"))
      .where(length(col("passage")) >= minChars)
      .groupBy(md5(col("passage")).as("fp"))
      .agg(min(col("doc")).as("keep_doc"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc")).as("n_docs"))
      .where(col("n_occurrences") > 1)

  /** Exact shared-substring spans between document pairs at n-gram
    * granularity — the substring-level dedup signal (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): two documents sharing one long verbatim span are
    * near-dups even when the rest of their content diverges enough that
    * the set-overlap metrics (Jaccard/containment) stay low.
    *
    * Method: a posting list (gram-md5, doc, position) over every n-token
    * gram; postings self-join on the hash (a < b). Matching grams of a
    * pair lie on the same *diagonal* when posA − posB is constant, and a
    * maximal run of consecutive positions on one diagonal is one shared
    * span (gaps-and-islands: island = posA − row_number within the
    * diagonal). Span length in tokens = run + n − 1; a pair survives when
    * its longest span ≥ `minSpanTokens`.
    *
    * Scale (100 TB): grams with document frequency > `maxDf` (license
    * blocks, boilerplate headers) are dropped BEFORE pairing, capping
    * per-gram join fan-out at maxDf²; every stage shuffles constant-width
    * md5 keys, and the islands window partitions by (a, b, diagonal) —
    * small per-pair groups, never a global sort. No all-pairs anywhere.
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minSpanTokens: Int = 16,
                     maxDf: Int = DefaultMaxBucket): DataFrame =
    spanRuns(df, idCol, textCol, n, maxDf)
      .groupBy("a", "b")
      .agg((max(col("run")) + (n - 1)).cast("long").as("max_span_toks"))
      .where(col("max_span_toks") >= minSpanTokens)
      .select(col("a").as("a_id"), col("b").as("b_id"), col("max_span_toks"))

  /** The curation ACTION substring dedup exists for (Lee et al. 2021 cut
    * the duplicated substring, not the document): for every document that
    * repeats a span first seen in a lower-id document, the merged token
    * ranges to remove. Spans land on the HIGHER id of each pair (the
    * earliest occurrence survives, matching the min-id-survives rule of
    * `exact`); overlapping/adjacent-overlapping ranges from different
    * partners merge via the classic running-max interval pass. Output:
    * (doc_id, cut_start, cut_len) in 1-based token positions.
    *
    * Scale: inherits the posting/df-cap contract of `spanRuns`; the merge
    * windows partition by doc — per-doc range counts are small (bounded by
    * partners × spans), never a global sort.
    */
  def substringRemovalRanges(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 8, minSpanTokens: Int = 16,
                             maxDf: Int = DefaultMaxBucket): DataFrame = {
    val ranges = spanRuns(df, idCol, textCol, n, maxDf)
      .withColumn("span", (col("run") + (n - 1)).cast("long"))
      .where(col("span") >= minSpanTokens)
      .select(col("b").as("doc"), col("pb_start").cast("long").as("st"),
        (col("pb_start") + col("span") - 1).cast("long").as("en"))
    mergeTokenRanges(ranges)
  }

  /** Classic running-max interval merge over (doc, st, en) rows →
    * (doc_id, cut_start, cut_len), 1-based inclusive token positions.
    * Windows partition per doc, so the sort is per-doc-local. Shared by
    * the in-corpus mask and the eval-decontamination mask
    * (Contamination.decontaminationMask) — one definition, one semantics.
    */
  private[operators] def mergeTokenRanges(ranges: DataFrame): DataFrame =
    // interval merge natively (r16): one exchange (the per-doc group — the
    // same key the old windows partitioned by) and a single codegen'd
    // sort+walk per doc (MergeIntervals, bit-identical to the
    // prev_max_en/new_grp/sum chain by its pinned law) replace TWO Window
    // passes + their in-partition Sort + the (doc, grp) aggregate.
    ranges
      .groupBy("doc")
      .agg(collect_list(struct(col("st"), col("en"))).as("rs"))
      .select(col("doc").as("doc_id"),
        explode(graft.functions.NativeExpressions.mergeIntervals(
          col("rs"))).as("m"))
      .select(col("doc_id"), col("m.cut_start").as("cut_start"),
        col("m.cut_len").as("cut_len"))

  /** Positional n-gram postings (doc, pos, h): one row per n-token gram,
    * keyed by the 64-bit XXH64 of the token-array slice. The hash is
    * computed DIRECTLY over the array slice (no concat_ws string ever
    * materializes — r13, ~2× less per-gram CPU than the previous
    * md5-of-joined-string) and the key is an 8-byte long instead of a
    * 32-char md5 hex string, so every downstream exchange carries 6×
    * narrower keys. Collisions cannot corrupt the substring family's
    * output in practice: a false SPAN requires ≥ minSpan−n+1 *consecutive
    * diagonal-aligned* 64-bit collisions between the same two documents —
    * astronomically unlikely even at 10^12 grams (a single stray collision
    * only seeds a length-n island, below any real `minSpanTokens`).
    *
    * Within-doc repeat cap (r14): only the FIRST [[MaxGramRepeatsPerDoc]]
    * positions of each gram within one document are emitted — the bound
    * the df cap alone cannot give (see the constant's scaladoc for the OOM
    * vector). Applied PER ROW with zero extra exchange: the (h, pos)
    * structs sort by hash (array_sort; equal hashes stay position-ordered
    * because pos is the struct tie-break field), and an element survives
    * iff the entry K positions earlier in the sorted array carries a
    * different hash — an O(g log g) per-doc scan, no window, no shuffle.
    */
  private[operators] def postings(df: DataFrame, idCol: String,
                                  textCol: String, n: Int): DataFrame = {
    val k = MaxGramRepeatsPerDoc
    df.select(col(idCol).as("doc"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= n)
      // gram fingerprints via the native one-pass GramHashesLong (r14);
      // the (h, pos) pairing is a cheap indexed transform over the hash
      // array — no per-window slice or hash walk remains in the lambda.
      // named stages: the filter below references `shp` twice (input +
      // element_at look-back), and `gh` feeds every transform element;
      // staging prevents Catalyst from inlining either into every lambda
      // element (the SKILL.md O(g²) trap)
      .select(col("doc"), gramHashes(col("toks"), n).as("gh"))
      .select(col("doc"), array_sort(
        transform(col("gh"),
          (h, i0) => struct(h.as("h"), (i0 + 1).as("pos")))).as("shp"))
      .select(col("doc"), explode(filter(col("shp"), (x, i) =>
        // CaseWhen evaluates lazily, so element_at's 1-based index
        // i-(k-1) is only computed when i ≥ k (always ≥ 1, ANSI-safe)
        when(i < k, lit(true)).otherwise(
          element_at(col("shp"), i - (k - 1)).getField("h")
            =!= x.getField("h")))).as("e"))
      .select(col("doc"), col("e.pos").as("pos"), col("e.h").as("h"))
  }

  /** Grams whose DISTINCT-document frequency exceeds `maxDf`, computed
    * without ever shuffling raw posting volume (r13): a plain
    * `groupBy(h).count()` map-side-combines (the exchange carries one row
    * per partition-distinct gram, not one per posting — the old
    * `countDistinct` planned a first exchange keyed (h, doc) that moved
    * every posting row), and since total posting count ≥ distinct-doc
    * count, only grams whose TOTAL count exceeds the cap can possibly
    * exceed it in distinct docs. The exact countDistinct then runs over
    * just those suspects (the boilerplate tail — broadcast-joined back,
    * aggregating a vanishing fraction of the postings). Result identical
    * to countDistinct-over-everything; oracle parity pinned by the same
    * queries.
    */
  private[operators] def heavyGrams(posts: DataFrame, docCol: String,
                                    maxDf: Int): DataFrame = {
    val suspects = posts.groupBy("h").agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxDf).select("h")
    posts.join(suspects, Seq("h"))
      .groupBy("h").agg(countDistinct(col(docCol)).as("__df"))
      .where(col("__df") > maxDf).select("h")
  }

  /** Shared core of the substring family: per (pair, diagonal, island) the
    * consecutive-gram run length and where the run starts on each side.
    * See `substringSpans` for the method and the 100 TB cost contract.
    *
    * Pairing (r13): instead of a posting self-join (two exchanges + two
    * sorts of the full posting table), the df-capped postings group ONCE
    * by gram hash into per-gram (doc, pos) arrays and each array emits its
    * cross pairs (a < b) with a per-row nested explode. One exchange of
    * the posting table replaces the join's two, and nothing is ever sorted
    * by gram. The per-gram array row is HARD-bounded at maxDf ×
    * [[MaxGramRepeatsPerDoc]] entries (r14): the df cap bounds distinct
    * docs, the postings-side repeat cap bounds positions per doc — before
    * the repeat cap, one pathological repetitive document made this row
    * (and its pair explosion) unbounded.
    */
  private def spanRuns(df: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Int): DataFrame = {
    val grams = registerPersisted(
      postings(df, idCol, textCol, n).persist())
    val heavy = heavyGrams(grams, "doc", maxDf)
    val post = grams.join(heavy, Seq("h"), "left_anti")
    post.groupBy("h")
      .agg(collect_list(struct(col("doc"), col("pos"))).as("ps"))
      .select(col("ps"), explode(col("ps")).as("x"))
      .select(col("x"),
        explode(filter(col("ps"), y => col("x.doc") < y.getField("doc")))
          .as("y"))
      .select(col("x.doc").as("a"), col("x.pos").as("pa"),
        col("y.doc").as("b"), col("y.pos").as("pb"))
      // islands natively (r16, guide §2.3 + the ContainmentRuns pattern):
      // each match rides as ONE packed long ((diff + 2³¹) << 32 | pa), the
      // pair rows group ONCE per (a, b) — coarser than the old window's
      // (a, b, diff) partitioning, so the downstream per-pair consumers
      // (substringSpans' max, the removal ranges' per-b rollup) reuse this
      // exchange — and ALL diagonals' runs come from a single codegen'd
      // primitive sort+walk (DiagonalRunsPacked, bit-identical to the
      // row_number islands formula by its pinned law). This deletes the
      // Window, its in-partition Sort, and the (a,b,diff,isl) aggregate,
      // and the exchange carries 8 bytes per match instead of a 3-column
      // key + position. pb_start reconstructs as pa_start − diff (pb =
      // pa − diff is constant on a diagonal, so min(pb) = min(pa) − diff).
      .groupBy("a", "b")
      .agg(collect_list(shiftleft(
        col("pa").cast("long") - col("pb").cast("long") + lit(0x80000000L), 32)
        .bitwiseOR(col("pa").cast("long"))).as("packed"))
      .select(col("a"), col("b"),
        explode(graft.functions.NativeExpressions.diagonalRunsPacked(
          col("packed"))).as("r"))
      .select(col("a"), col("b"), col("r.diff").as("diff"),
        col("r.run").as("run"),
        (col("r.pa_start") - col("r.diff")).as("pb_start"),
        col("r.pa_start").as("pa_start"))
  }

  /** Driver-side union-find over a collected symmetric edge set: path
    * compression + min-tracking per root, so the emitted cluster label is
    * the component MINIMUM — bit-identical to the distributed min-label
    * propagation and the oracle's recursive closure. Key type is whatever
    * the id column holds; STRING ids compare by UTF-8 bytes to match
    * Spark's UTF8String binary ordering (Java's UTF-16 compareTo disagrees
    * for supplementary characters).
    */
  private def unionFindClusters(edges: DataFrame): DataFrame = {
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(ab.length, bb.length)
        var i = 0
        while (i < n) {
          val c = (ab(i) & 0xFF) - (bb(i) & 0xFF)
          if (c != 0) return c < 0
          i += 1
        }
        ab.length < bb.length
      case (a: java.lang.Comparable[_], b) =>
        a.asInstanceOf[java.lang.Comparable[Any]].compareTo(b) < 0
      case _ => x.toString < y.toString
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) {
        parent(r) = parent(parent(r)) // path halving
        r = parent(r)
      }
      r
    }
    edges.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { m =>
      val r = find(m)
      minOfRoot.get(r) match {
        case Some(cur) => if (lt(m, cur)) minOfRoot(r) = m
        case None      => minOfRoot(r) = m
      }
    }
    val idType = edges.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("cluster", idType)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      scala.jdk.CollectionConverters.SeqHasAsJava(
        parent.keys.toSeq.map(m =>
          org.apache.spark.sql.Row(m, minOfRoot(find(m))))).asJava
    edges.sparkSession.createDataFrame(rows, schema)
  }

  /** Embedding near-duplicates: pairs in the same (cell, sign-LSH bucket)
    * with cosine above threshold, from exact integer dot/norms
    * (bit-deterministic). `nTables` independent `bitsPerTable`-bit hyperplane
    * tables are OR-ed (union of candidate pairs) for recall; each join
    * partition is a (cell, table, bucket) bucket — never a whole cell, so the
    * pair space is bounded by bucket collisions at any corpus size.
    *
    * `maxBucket` is the SAME pair-explosion guard as the minhash/simhash
    * paths ([[capBuckets]]): a (cell, table, bucket) bucket larger than the
    * cap is a semantic mega-cluster (boilerplate embeddings, template
    * pages) whose O(bucket²) pairing yields no information — collapse it
    * upstream with exact dedup instead. The r12 sf1 scale run motivated
    * closing this gap: an embedding corpus whose cluster density grows
    * with size turns the uncapped self-join quadratic (measured 58× wall
    * at 10× data before the guard; the text paths were already guarded).
    *
    * SIZING AT SCALE (r13, auto since r14): the bucket space per
    * (cell, table) is fixed at 2^bitsPerTable, so mean occupancy grows
    * linearly with corpus size and will eventually cross `maxBucket` — at
    * which point the guard (correctly) drops everything and recall
    * collapses to zero. `bitsPerTable = 0` (the default) therefore derives
    * the width from the corpus itself via [[autoBitsPerTable]]: the
    * smallest b with n_vectors ≤ n_cells · targetOccupancy · 2^b —
    * integer-exact, so the oracle recomputes the identical b in SQL from
    * count(*)/count(DISTINCT cell) (a floating log2 could round a
    * power-of-two boundary differently per engine). Measured at a 30×
    * corpus (60k vectors, 20 cells): bits=4 → 0 pairs (every bucket past
    * the cap — the r13 manual-override trap auto-sizing retires), bits=6 →
    * 80,682 candidate pairs in 20 s, bits=8 (what auto derives there) →
    * 31,955 in 11 s (finer buckets trade recall for cost, the standard
    * LSH dial). The cap stays CONSTANT — it bounds worst-case skew, not
    * mean occupancy. Pass an explicit bitsPerTable > 0 to pin the width
    * (and skip the sizing aggregate).
    */
  /** Mean-occupancy target the auto-sized sign-LSH width aims for: small
    * enough that typical buckets sit far under [[DefaultMaxBucket]] (the
    * skew guard never fires on MEAN occupancy), large enough that buckets
    * still collide (recall). Interpolated into the near-dup oracles so
    * both engines derive the same width.
    */
  val DefaultTargetBucketOccupancy = 16

  /** Ceiling on the auto-derived bits: 2^20 buckets per (cell, table) is
    * past any sane operating point — wider means the corpus should shard
    * by a coarser key first.
    */
  val MaxAutoBitsPerTable = 20

  /** The smallest b ≥ 1 with n_vectors ≤ n_cells ·
    * [[DefaultTargetBucketOccupancy]] · 2^b, capped at
    * [[MaxAutoBitsPerTable]] — pure integer arithmetic (ceil-div + bit
    * length), so the oracle's SQL twin (length(bin(m-1)) over the same
    * counts) derives the identical width on every corpus; a floating
    * ceil(log2(x)) could round a power-of-two boundary differently per
    * engine. One cheap aggregate job (count + countDistinct on the cell
    * column only); callers that already know the corpus size pass an
    * explicit bitsPerTable and skip it.
    */
  private[graft] def autoBitsPerTable(df: DataFrame,
                                      cellCol: String): Int = {
    val r = df.agg(count(lit(1)).as("n"),
      countDistinct(col(cellCol)).as("c")).head()
    val n = r.getLong(0)
    val c = math.max(1L, r.getLong(1))
    val m = (n + DefaultTargetBucketOccupancy * c - 1) /
      (DefaultTargetBucketOccupancy * c)
    if (m <= 1) 1
    else math.min(MaxAutoBitsPerTable,
      64 - java.lang.Long.numberOfLeadingZeros(m - 1))
  }

  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       cellCol: String, threshold: Double,
                       nTables: Int = 4, bitsPerTable: Int = 0,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bits =
      if (bitsPerTable > 0) bitsPerTable else autoBitsPerTable(df, cellCol)
    val totalPlanes = nTables * bits
    val base = df.select(col(idCol).as("id"), col(cellCol).as("cell"),
      Similarity.quantize(col(vecCol)).as("vq"))
    val tables = (0 until nTables).map { t =>
      val planes = (t * bits) until ((t + 1) * bits)
      struct(lit(t).as("tbl"),
        Similarity.signLshBucket(col("vq"), planes, totalPlanes).as("bkt"))
    }
    // persist the capped bucket table: Spark plans no CSE across the two
    // sides of a self-join, so without this the quantize→bucket→cap chain
    // runs TWICE (same reason minhashCandidates persists its band table)
    val bucketed = registerPersisted(capBuckets(base
      .select(col("id"), col("cell"), col("vq"),
        explode(array(tables: _*)).as("tb"))
      .select(col("id"), col("cell"), col("vq"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt")),
      Seq("cell", "tbl", "bkt"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = bucketed.select(col("id").as("a_id"), col("cell"),
      col("tbl"), col("bkt"), col("vq").as("a_vq"))
    val b = bucketed.select(col("id").as("b_id"), col("cell"),
      col("tbl"), col("bkt"), col("vq").as("b_vq"))
    // cosine + threshold BEFORE the pair-dedup exchange (r15, guide §2.3/§8):
    // a pair colliding in several tables carries the SAME two vectors, so
    // its cosine is identical on every duplicate row — score-then-distinct
    // ≡ distinct-then-score row-for-row, but the dedup exchange now moves
    // ~40 B of (ids, cell, cosine) for the few rows that PASS the
    // threshold instead of two vq payloads (~1 KB/row at 64 dims, more at
    // real embedding widths) for EVERY candidate. The duplicate-table
    // factor re-scores a pair at most nTables times — pure map-side CPU,
    // orders cheaper than shuffling the vectors (measured sf1: candidate
    // volume ~600k pairs; the old dedup exchange moved ~0.6 GB).
    a.join(b, Seq("cell", "tbl", "bkt")).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("cell"),
        Similarity.cosineFromQ(Similarity.dotQ(col("a_vq"), col("b_vq")),
          Similarity.norm2Q(col("a_vq")), Similarity.norm2Q(col("b_vq"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .dropDuplicates("a_id", "b_id")
  }
}
