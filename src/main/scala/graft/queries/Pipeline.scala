package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators.{AsOf, Contamination, Dedup, Embeddings, Multimodal, RangeJoin, Similarity, TextAnalysis}
import graft.operators.Similarity.{All, Dot, Nearest, Own, Pq}
import graft.queries.Relational.Q

/** LLM-training-data pipeline operators as named queries over `documents` /
  * `embeddings` — dedup (exact, MinHash+LSH, SimHash, Jaccard, embedding
  * near-dup), similarity search (brute-force + IVF), text analysis, and
  * multimodal plumbing. Every SQL-expressible one carries DuckDB oracle SQL;
  * hash-based stages use md5 so both engines compute identical values.
  */
object Pipeline {

  /** Sub-shards per language for greedy packing: the running-sum window
    * partitions on (lang, md5-shard), so parallelism is lang-count × this
    * rather than lang-count alone. Tune upward for bigger clusters — any
    * value keeps results deterministic because the shard is a pure function
    * of doc_id.
    */
  val PackShards = 16

  /** Shared email pattern for PII redaction/flagging — one definition used
    * by both the Spark expressions and the DuckDB oracle SQL (lockstep
    * rule: a divergence between copies would silently split n_emails from
    * has_pii). Deliberately free of engine-specific syntax.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** The URL-dedup fixture: a synthetic URL derived from (source,
    * doc_id) — the corpus has no URL column — with deliberate per-doc
    * noise in exactly the dimensions canonicalization must erase (host
    * case, www, trailing slash, tracking params, fragment) and a
    * (source, doc_id % 46) canonical key so real collisions exist.
    * Shared by the batch query and its streaming twin so both dedup the
    * SAME url population.
    */
  private[graft] def syntheticUrl(docId: org.apache.spark.sql.Column,
                                  source: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val k = (docId % 46).cast("string")
    concat(
      when(docId % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
      upper(source), lit(".example.com"),
      // explicit default port (RFC 3986 §6.2.3 — must canonicalize away)
      when(docId % 7 === 0, lit(":443")).otherwise(lit("")),
      lit("/Docs/"), k,
      // %-escape hex case noise (§6.2.2.1 — %2f ≡ %2F after folding)
      when(docId % 2 === 0, lit("%2F")).otherwise(lit("%2f")), lit("x"),
      when(docId % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?id="), k, lit("&utm_source=feed"),
      when(docId % 5 === 0, lit("&ref=tw")).otherwise(lit("")),
      when(docId % 4 === 0, lit("#section")).otherwise(lit("")))
  }

  /** DuckDB twin of [[syntheticUrl]] + [[graft.operators.Dedup
    * .canonicalUrl]]: CTEs `uf` (id, url) → `uc` (id, url, url_canon).
    * Consumers interpolate this into their own `.stripMargin` templates,
    * which re-strips the FRAGMENT's lines too — so no line here may
    * start with `|` after the first strip (a leading `||` concat loses a
    * pipe and becomes bitwise-or); concat operators sit at line ENDS.
    */
  /** DuckDB twin of [[graft.operators.Dedup.foldHexEscapes]]: uppercase
    * the two hex digits of every %XX escape in the SQL expression `e`
    * (lambda vars hp/hi are namespaced to avoid capturing a consumer's
    * lambda variables). DuckDB list lambdas index from 1.
    */
  private def sqlFoldHex(e: String): String =
    s"array_to_string(list_transform(string_split($e, '%'), (hp, hi) -> " +
      "CASE WHEN hi = 1 OR NOT regexp_matches(hp, '^[0-9a-fA-F]{2}') " +
      "THEN hp ELSE upper(hp[1:2]) || hp[3:] END), '%')"

  /** Mask the multi-batch drain knob around a streaming twin whose oracle
    * is exact only for a single-batch backfill: cross-batch state is
    * arrival-order (the deployed semantics), while the batch oracles
    * assert min-doc_id ownership — identical iff the drain is one sorted
    * micro-batch. The knob is restored afterwards so StreamingSpec's
    * multi-batch contract tests are unaffected.
    */
  private def singleDrain(s: SparkSession)(body: => DataFrame): DataFrame = {
    val knob = "graft.stream.maxFilesPerTrigger"
    val prev = s.conf.getOption(knob)
    prev.foreach(_ => s.conf.unset(knob))
    try body finally prev.foreach(s.conf.set(knob, _))
  }

  /** DuckDB twin of the SCD2 run construction (Snapshots.scd2History):
    * change detection → run numbering → per-run interval collapse over
    * the events table. Shared by the batch query and its streaming twin
    * (which keeps only the CLOSED intervals) so the two oracles can
    * never diverge. CTEs: sc_e/sc_c/sc_r/sc_iv.
    */
  private[graft] val scd2CtesSql: String =
    """sc_e AS (SELECT user_id AS key, ts, event_type AS value,
      |    event_id AS tie FROM events),
      |sc_c AS (SELECT key, ts, value, tie,
      |    CASE WHEN lag(value) OVER w IS DISTINCT FROM value
      |      THEN 1 ELSE 0 END AS chg
      |  FROM sc_e WINDOW w AS (PARTITION BY key ORDER BY ts, tie)),
      |sc_r AS (SELECT key, value, ts,
      |    sum(chg) OVER (PARTITION BY key ORDER BY ts, tie
      |      ROWS UNBOUNDED PRECEDING) AS run FROM sc_c),
      |sc_iv AS (SELECT key, run, min(value) AS value,
      |    min(ts) AS valid_from FROM sc_r GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of the decontamination eval/train split + 8-gram
    * fingerprint + df-cap machinery (Contamination.ngramOverlapPairs and
    * its bloom-gated equivalent share it verbatim — the Bloom gate is
    * invisible to exact results by construction, so ONE oracle fragment
    * serves both). CTEs: s/trt/evt/trsh/evsh/trfp/evfp/trc.
    */
  private[graft] val decontamCtesSql: String =
    """s AS (SELECT doc_id,
      |  CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER)%100 AS h,
      |  text FROM documents),
      |trt AS (SELECT doc_id AS train_id, string_split_regex(lower(text),'\s+') AS l FROM s WHERE h < 90),
      |evt AS (SELECT doc_id AS eval_id, string_split_regex(lower(text),'\s+') AS l FROM s WHERE h >= 95),
      |trsh AS (SELECT train_id, unnest(list_distinct(CASE WHEN len(l)<8 THEN [array_to_string(l,' ')]
      |  ELSE [array_to_string(l[i:i+7],' ') FOR i IN generate_series(1,len(l)-7)] END)) AS sh FROM trt),
      |evsh AS (SELECT eval_id, unnest(list_distinct(CASE WHEN len(l)<8 THEN [array_to_string(l,' ')]
      |  ELSE [array_to_string(l[i:i+7],' ') FOR i IN generate_series(1,len(l)-7)] END)) AS sh FROM evt),
      |trfp AS (SELECT train_id, md5(sh) AS fp FROM trsh),
      |evfp AS (SELECT eval_id, md5(sh) AS fp FROM evsh),
      |trc AS (SELECT train_id, fp FROM (SELECT train_id, fp,
      |  count(*) OVER (PARTITION BY fp) AS dfc FROM trfp) WHERE dfc <= 128)""".stripMargin

  private[graft] val urlCanonCtesSql: String =
    s"""uf AS (SELECT doc_id AS id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END ||
      |     upper(source) || '.example.com' ||
      |     CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
      |     '/Docs/' || CAST(doc_id % 46 AS VARCHAR) ||
      |     CASE WHEN doc_id % 2 = 0 THEN '%2F' ELSE '%2f' END || 'x' ||
      |     CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
      |     '?id=' || CAST(doc_id % 46 AS VARCHAR) || '&utm_source=feed' ||
      |     CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END ||
      |     CASE WHEN doc_id % 4 = 0 THEN '#section' ELSE '' END) AS url
      |  FROM documents),
      |up AS (SELECT id, url,
      |    regexp_extract(regexp_replace(url, '#.*${"$"}', ''), '^([^?]*)', 1) AS base,
      |    regexp_extract(regexp_replace(url, '#.*${"$"}', ''), '\\?(.*)${"$"}', 1) AS q
      |  FROM uf),
      |uq AS (SELECT id, url, base,
      |    array_to_string(list_filter(string_split(q, '&'),
      |      p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')
      |        AND p <> ''), '&') AS kq
      |  FROM up),
      |uc AS (SELECT id, url,
      |    regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(base,
      |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)),
      |      '^([a-z0-9+.-]+://)www\\.', '\\1'),
      |      '^(http://[^/]*):80${"$"}', '\\1'),
      |      '^(https://[^/]*):443${"$"}', '\\1') ||
      |    ${sqlFoldHex("regexp_replace(regexp_replace(base, " +
          "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''), '/+$', '')")} ||
      |    CASE WHEN kq <> '' THEN '?' || ${sqlFoldHex("kq")}
      |       ELSE '' END AS url_canon
      |  FROM uq)""".stripMargin

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Per-document integer token entropy (see `x_entropy_bits` for the
    * math), shared by the entropy readout and the cross-source quality
    * calibration — ONE definition or the two silently diverge (lockstep
    * rule). Returns (doc_id, source, n_tok, distinct_tok, ent_bits).
    */
  private def entropyPerDoc(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "source").agg(
        sum(col("c")).as("n_tok"),
        count(lit(1)).as("distinct_tok"),
        sum(col("c") * length(bin(col("c"))).cast("long")).as("s_cb"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("distinct_tok"),
        (col("n_tok") * length(bin(col("n_tok"))).cast("long") - col("s_cb"))
          .as("ent_bits"))

  /** DuckDB twin of [[entropyPerDoc]], ending in CTE
    * `en_d(doc_id, source, n_tok, distinct_tok, ent_bits)`. */
  private val entCtesSql =
    """en_t AS (SELECT doc_id, source,
      |    unnest(string_split_regex(lower(text),'\s+')) AS tok FROM documents),
      |en_c AS (SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM en_t GROUP BY 1, 2, 3),
      |en_d AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tok,
      |    CAST(count(*) AS BIGINT) AS distinct_tok,
      |    CAST(sum(c) * length(bin(CAST(sum(c) AS BIGINT)))
      |      - sum(c * length(bin(c))) AS BIGINT) AS ent_bits
      |  FROM en_c GROUP BY 1, 2)""".stripMargin

  /** DuckDB-side quantized vector: list of round(x*1e6)::BIGINT. */
  private val vqSql = "[CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT) FOR x IN embedding]"
  private val dotSql = "CAST(list_sum(list_transform(list_zip(a.vq, b.vq), x -> x[1]*x[2])) AS BIGINT)"
  private val cosSql =
    "CAST(list_sum(list_transform(list_zip(a.vq, b.vq), x -> x[1]*x[2])) AS DOUBLE) / " +
      "(sqrt(CAST(list_sum([y*y FOR y IN a.vq]) AS DOUBLE)) * " +
      "sqrt(CAST(list_sum([y*y FOR y IN b.vq]) AS DOUBLE)))"
  private val toksSql = "list_distinct(string_split_regex(lower(text),'\\s+'))"

  /** ONE DuckDB CASE expression per lang-id classifier (word-marker over
    * `text`; char-n-gram over the padded alias `t`), shared by the per-doc
    * readouts (`x_lang_id`, `x_lang_id_ngram`) and the confusion-matrix
    * rollup (`x_langid_confusion`) — the lockstep rule: a marker-list edit
    * in TextAnalysis flows into all three oracles from here. */
  /** The word-marker CASE parameterized over any token-list SQL
    * expression — `langIdCaseSql` instantiates it over the whole-document
    * tokenization; the code-switching detector instantiates it once per
    * document half. Same tie-break order as
    * TextAnalysis.langIdFromToks (lockstep).
    */
  private def langIdCaseOver(toksExpr: String): String = {
    def sc(ws: Seq[String]) =
      s"len(list_intersect($toksExpr, [${ws.map(w => s"'$w'").mkString(",")}]))"
    val en = sc(TextAnalysis.MARKERS("en")); val de = sc(TextAnalysis.MARKERS("de"))
    val es = sc(TextAnalysis.MARKERS("es")); val fr = sc(TextAnalysis.MARKERS("fr"))
    s"""CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
       |     WHEN $de >= $es AND $de >= $fr THEN 'de'
       |     WHEN $es >= $fr THEN 'es' ELSE 'fr' END""".stripMargin
  }

  private val langIdCaseSql: String = langIdCaseOver(toksSql)

  private val langIdNgramCaseSql: String = {
    def sc(grams: Seq[String]) = grams.map { g =>
      val e = g.replace("'", "''")
      s"((len(t) - len(replace(t, '$e', ''))) // ${g.length})"
    }.mkString(" + ")
    val en = sc(TextAnalysis.NGRAM_MARKERS("en"))
    val de = sc(TextAnalysis.NGRAM_MARKERS("de"))
    val es = sc(TextAnalysis.NGRAM_MARKERS("es"))
    val fr = sc(TextAnalysis.NGRAM_MARKERS("fr"))
    s"""CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
       |     WHEN $de >= $es AND $de >= $fr THEN 'de'
       |     WHEN $es >= $fr THEN 'es' ELSE 'fr' END""".stripMargin
  }

  /** ONE CTE chain for the rarity scoring (tok → docfreq → per-doc bits²
    * sum), shared by the `x_rarity_score` and `x_curriculum_order`
    * oracles — a per-query copy would let a future scoring change
    * silently split the two. */
  /** ONE CTE chain for the in-corpus substring-surgery mask (postings →
    * diagonals → islands → ≥16-token spans → merged per-doc cut ranges,
    * ending in CTE `sm_z(doc_id, cut_start, cut_len)`), shared by the
    * `x_dedup_substring_mask` oracle and the `x_surgery_report` rollup —
    * the lockstep rule: one definition or the two silently diverge. */
  private val maskCtesSql =
    s"""sm_t AS (SELECT doc_id, string_split_regex(lower(text),'\\s+') AS l FROM documents),
      |sm_g AS (SELECT doc_id, i AS pos, md5(array_to_string(l[i:i+7],' ')) AS h
      |  FROM sm_t, LATERAL (SELECT unnest(generate_series(1, greatest(0, len(l)-7))) AS i)
      |  QUALIFY row_number() OVER (PARTITION BY doc_id, h ORDER BY pos) <= ${graft.operators.Dedup.MaxGramRepeatsPerDoc}),
      |sm_df AS (SELECT h FROM sm_g GROUP BY h HAVING count(DISTINCT doc_id) <= 64),
      |sm_p AS (SELECT a.doc_id AS a, b.doc_id AS b, a.pos AS pa, b.pos AS pb
      |  FROM (SELECT g.* FROM sm_g g JOIN sm_df USING (h)) a
      |  JOIN (SELECT g.* FROM sm_g g JOIN sm_df USING (h)) b USING (h)
      |  WHERE a.doc_id < b.doc_id),
      |sm_i AS (SELECT a, b, pa - pb AS diff, pa, pb,
      |    pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS isl
      |  FROM sm_p),
      |sm_r AS (SELECT a, b, diff, isl, count(*) AS run, min(pb) AS pb_start
      |  FROM sm_i GROUP BY 1,2,3,4),
      |sm_c AS (SELECT DISTINCT b AS doc, CAST(pb_start AS BIGINT) AS st,
      |    CAST(pb_start + run + 6 AS BIGINT) AS en
      |  FROM sm_r WHERE run + 7 >= 16),
      |sm_m AS (SELECT doc, st, en,
      |    CASE WHEN st > COALESCE(max(en) OVER (PARTITION BY doc ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS new_grp
      |  FROM sm_c),
      |sm_gg AS (SELECT doc, st, en, sum(new_grp) OVER (PARTITION BY doc
      |    ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM sm_m),
      |sm_z AS (SELECT doc AS doc_id, min(st) AS cut_start,
      |    CAST(max(en) - min(st) + 1 AS BIGINT) AS cut_len
      |  FROM sm_gg GROUP BY doc, grp)""".stripMargin

  private val rarityCtesSql =
    """tok AS (SELECT doc_id, unnest(string_split_regex(lower(text),'\s+')) AS tok
      |  FROM documents),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |sc AS (
      |  SELECT t.doc_id, count(*) AS n_toks,
      |         CAST(sum(length(bin((SELECT n_docs FROM nd) // df.df)) *
      |                  length(bin((SELECT n_docs FROM nd) // df.df))) AS BIGINT) AS bits_sq
      |  FROM tok t JOIN df ON t.tok = df.tok GROUP BY 1
      |)""".stripMargin

  // Bigram-LM oracle chain (mirrors LangModel.bigramLmScores), ending in
  // the per-doc score table `blm` — shared by x_bigram_lm and the
  // fluency-band filter. Plain (non-interpolated) string: '\s+' stays raw.
  private val bigramLmCtesSql =
    """blm_tk AS (SELECT doc_id,
      |    string_split_regex(lower(text),'\s+') AS toks FROM documents),
      |blm_bg AS (SELECT doc_id, toks,
      |    unnest(generate_series(1, len(toks)-1)) AS i
      |  FROM blm_tk WHERE len(toks) >= 2),
      |blm_pd AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, count(*) AS m
      |  FROM blm_bg GROUP BY 1, 2, 3),
      |blm_c2 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c2 FROM blm_pd GROUP BY 1, 2),
      |blm_c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM blm_c2 GROUP BY 1),
      |blm_sc AS (SELECT pd.doc_id, pd.m, length(bin(c1.c1 // c2.c2)) AS surb
      |  FROM blm_pd pd JOIN blm_c2 c2 ON pd.w1 = c2.w1 AND pd.w2 = c2.w2
      |          JOIN blm_c1 c1 ON pd.w1 = c1.w1),
      |blm AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
      |  CAST(sum(m * surb) AS BIGINT) AS nll_bits,
      |  CAST((sum(m * surb) * 100) // sum(m) AS BIGINT) AS avg_bits_e2
      |FROM blm_sc GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[graft.operators.TextAnalysis.gopherMetrics]] +
    * [[graft.operators.TextAnalysis.gopherFlags]], ending in CTE
    * `gk(doc_id, n_words, n_wchars_exact, ok_*, keep)` — shared by the
    * rule-battery readout and the quality classifier's seed label.
    * `n_wchars` uses the single-space-join shortcut (see the Scala twin's
    * doc); no line may start with `|` after the first strip (the
    * double-stripMargin concat pitfall, same as urlCanonCtesSql).
    */
  private val gopherCtesSql: String =
    s"""gf AS (SELECT doc_id, text,
      |    string_split_regex(lower(text),'\\s+') AS l FROM documents),
      |gm AS (SELECT doc_id,
      |    CAST(len(l) AS BIGINT) AS n_words,
      |    CAST(length(text) - (len(l) - 1) AS BIGINT) AS n_wchars,
      |    CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT)
      |      AS n_wchars_exact,
      |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
      |      AS n_hash,
      |    CAST(len(string_split(text, '...')) - 1 AS BIGINT) AS n_ellipsis,
      |    CAST(len(list_filter(l, x -> regexp_matches(x, '[a-z]')))
      |      AS BIGINT) AS n_alpha,
      |    CAST(len(list_intersect(list_distinct(l),
      |      [${TextAnalysis.STOPWORDS_EN.map(w => s"'$w'").mkString(",")}]))
      |      AS BIGINT) AS n_stop
      |  FROM gf),
      |gk AS (SELECT doc_id, n_words, n_wchars_exact,
      |    n_words BETWEEN 50 AND 100000 AS ok_word_count,
      |    (n_wchars >= n_words * 3 AND n_wchars <= n_words * 10)
      |      AS ok_mean_len,
      |    n_hash * 10 <= n_words AS ok_hash,
      |    n_ellipsis * 10 <= n_words * 3 AS ok_ellipsis,
      |    n_alpha * 5 >= n_words * 4 AS ok_alpha,
      |    n_stop >= 2 AS ok_stop,
      |    (n_words BETWEEN 50 AND 100000
      |      AND n_wchars >= n_words * 3 AND n_wchars <= n_words * 10
      |      AND n_hash * 10 <= n_words
      |      AND n_ellipsis * 10 <= n_words * 3
      |      AND n_alpha * 5 >= n_words * 4
      |      AND n_stop >= 2) AS keep
      |  FROM gm)""".stripMargin

  /** BM25 top-20 for the fixed term query — the body of `x_search_bm25`,
    * shared with the hybrid-search lexical leg (lockstep rule; the SQL
    * twin is [[bm25CtesSql]]). Corpus stats broadcast (3 term rows + one
    * scalar); the corpus side is one narrow pass; top-k via
    * orderBy+limit (TakeOrdered, no sort exchange).
    */
  private def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("join", "merge", "stream")
    val docs = t(s, d, "documents")
    val tf = graft.operators.CacheRegistry.register(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
        .select(col("doc_id"), size(col("l")).cast("long").as("dl"),
          explode(col("l")).as("tok"))
        .where(col("tok").isin(terms: _*))
        .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
        .persist())
    val nd = docs.agg(count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text"))).as("tot_tok"))
    val idf = tf.groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nd)) // 1-row corpus stats vs 3 term rows
      .select(col("tok"),
        length(bin(expr("n_docs div df"))).cast("long").as("idf_bits"),
        (col("tot_tok").cast("double") / col("n_docs")).as("avgdl"))
    tf.join(broadcast(idf), Seq("tok"))
      .withColumn("score_u", expr(
        "CAST(round(1000000 * idf_bits * (2.2 * tf) / " +
          "(tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS BIGINT)"))
      .groupBy("doc_id").agg(sum(col("score_u")).as("score_u"))
      .orderBy(desc("score_u"), asc("doc_id")).limit(20)
  }

  /** DuckDB twin of [[bm25TopK]]'s scoring chain, ending in
    * `bm_s(doc_id, score_u)` (per-(doc, term) partial scores — consumers
    * aggregate + rank). Shared by the BM25 readout and the hybrid-search
    * lexical leg.
    */
  private val bm25CtesSql: String =
    """bm_t AS (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l FROM documents),
      |bm_e AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl, unnest(l) AS tok FROM bm_t),
      |bm_f AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM bm_e
      |  WHERE tok IN ('join','merge','stream') GROUP BY 1, 2, 3),
      |bm_n AS (SELECT count(*) AS n_docs, CAST(sum(len(l)) AS BIGINT) AS tot_tok FROM bm_t),
      |bm_i AS (SELECT tok,
      |    CAST(length(bin(CAST((SELECT n_docs FROM bm_n) // count(DISTINCT doc_id) AS BIGINT))) AS BIGINT) AS idf_bits,
      |    CAST((SELECT tot_tok FROM bm_n) AS DOUBLE) / (SELECT n_docs FROM bm_n) AS avgdl
      |  FROM bm_f GROUP BY tok),
      |bm_s AS (SELECT f.doc_id,
      |    CAST(round(1000000 * i.idf_bits * (2.2 * f.tf) /
      |      (f.tf + 1.2 * (0.25 + 0.75 * f.dl / i.avgdl))) AS BIGINT) AS score_u
      |  FROM bm_f f JOIN bm_i i USING (tok))""".stripMargin

  /** Seed-affinity classifier oracle chain (mirrors
    * TextAnalysis.seedMultiplicities/-Vocab/-Base over the `gk` Gopher
    * CTE), ending in `qc_m(doc_id, seed, tok, m)`, `qc_v(tok, r_e3)`,
    * `qc_b(base_e3)` — shared by the batch classifier and its streaming
    * twin (lockstep rule). Interpolate AFTER `gopherCtesSql`.
    */
  private val qcCtesSql: String =
    """qc_t AS (SELECT f.doc_id, k.keep AS seed, unnest(f.l) AS tok
      |  FROM gf f JOIN gk k ON f.doc_id = k.doc_id),
      |qc_m AS (SELECT doc_id, seed, tok, CAST(count(*) AS BIGINT) AS m
      |  FROM qc_t GROUP BY 1, 2, 3),
      |qc_v AS (SELECT tok,
      |    CAST((sum(CASE WHEN seed THEN m ELSE 0 END) * 1000)
      |      // sum(m) AS BIGINT) AS r_e3
      |  FROM qc_m GROUP BY 1),
      |qc_b AS (SELECT CAST((sum(CASE WHEN seed THEN m ELSE 0 END) * 1000)
      |      // sum(m) AS BIGINT) AS base_e3 FROM qc_m)""".stripMargin

  /** Corpus-relative length band [p05, p95] by the lower-quantile
    * definition: bound = smallest length L with cumCount(≤ L) ≥ ⌈q·N⌉.
    * Derived from the DISTINCT-length histogram (bounded domain — a few
    * thousand lengths regardless of corpus size), so the only global sort
    * is the single-partition window over that bounded histogram, never the
    * corpus; the bounds come back as two driver scalars and the final pass
    * is a pushed-down `BETWEEN` filter scan. Empty corpus → empty result.
    */
  private def lengthBand(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = Option(hist.agg(sum(col("cnt"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (tot == 0L) docs.select(col("doc_id"), col("n_chars")).limit(0)
    else {
      val kLo = math.ceil(0.05 * tot).toLong
      val kHi = math.ceil(0.95 * tot).toLong
      val bounds = cum.agg(
        min(when(col("cum") >= kLo, col("n_chars"))).as("lo"),
        min(when(col("cum") >= kHi, col("n_chars"))).as("hi")).head()
      // all-null length column → no derivable band → empty result, not NPE
      if (bounds.isNullAt(0) || bounds.isNullAt(1))
        docs.select(col("doc_id"), col("n_chars")).limit(0)
      else docs.select(col("doc_id"), col("n_chars"))
        .where(col("n_chars").between(bounds.getLong(0), bounds.getLong(1)))
    }
  }

  /** Fluency band [p05, p95] over the bigram-LM score (`avg_bits_e2`),
    * same bounded distinct-score histogram + driver-scalar bounds shape as
    * [[lengthBand]]. The scored frame is persisted so the corpus is
    * LM-scored once — it feeds the histogram AND the final band filter.
    * Scores are integers in a bounded domain (hundreds of distinct values
    * ×100-scaled bits), so the histogram window never sees corpus-sized
    * input. Docs without bigram evidence carry no score and are outside
    * any band by definition.
    */
  private def fluencyBand(s: SparkSession, d: String): DataFrame = {
    val scores = graft.operators.CacheRegistry.register(
      graft.operators.LangModel
        .bigramLmScores(t(s, d, "documents"), "doc_id", "text").persist())
    val hist = scores.groupBy("avg_bits_e2").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.orderBy("avg_bits_e2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = Option(hist.agg(sum(col("cnt"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (tot == 0L) scores.select(col("doc_id"), col("avg_bits_e2")).limit(0)
    else {
      val kLo = math.ceil(0.05 * tot).toLong
      val kHi = math.ceil(0.95 * tot).toLong
      val bounds = cum.agg(
        min(when(col("cum") >= kLo, col("avg_bits_e2"))).as("lo"),
        min(when(col("cum") >= kHi, col("avg_bits_e2"))).as("hi")).head()
      scores.select(col("doc_id"), col("avg_bits_e2"))
        .where(col("avg_bits_e2").between(bounds.getLong(0), bounds.getLong(1)))
    }
  }

  /** Spark side of the rarity CTEs: (doc_id, n_toks, rarity_e2), token
    * frame persisted because it feeds both the docfreq aggregate and the
    * join side. */
  private def rarityScores(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val nDocs = docs.agg(countDistinct(col("doc_id"))).head().getLong(0)
    // r15: token instances collapse to (doc_id, tok, m) BEFORE anything
    // joins or re-aggregates them (one partial-agg shuffle; the bigram-LM
    // pattern): df is a plain count over the collapsed frame and the
    // scoring join moves one row per (doc, distinct token) instead of one
    // per instance. n_toks = Σm and bits_sq = Σ m·bits² — instance-exact.
    val dt = graft.operators.CacheRegistry.register(
      docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))
        .persist())
    val dfT = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val bits = length(bin(expr(s"CAST($nDocs AS BIGINT) div df")))
    dt.join(dfT, "tok")
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_toks"),
        sum((col("m") * bits * bits).cast("long")).as("bits_sq"))
      .select(col("doc_id"), col("n_toks"),
        expr("(bits_sq * 100) div n_toks").as("rarity_e2"))
  }

  /** ONE oracle for the per-user rollup, shared by the mapGroupsWithState
    * and transformWithState queries (their semantics are identical by
    * construction — see StreamingSync.userEventRows). */
  private val userRollupSql =
    "SELECT user_id, count(*) AS n_events, " +
      "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents, " +
      "epoch_us(max(ts)) AS last_us FROM events GROUP BY user_id"

  /** ONE oracle for both sessionize twins (complete-mode and watermarked
    * append-mode): gaps-and-islands with the same 30-minute gap, session
    * end = last event + gap. */
  private val sessionizeSql =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS cents,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts, cents,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g
      |)
      |SELECT user_id, epoch_us(min(ts)) AS sess_start_us,
      |       epoch_us(max(ts)) + 1800000000 AS sess_end_us,
      |       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
      |FROM s GROUP BY user_id, sid""".stripMargin

  // minhash oracle fragments (must mirror Dedup.minhashSignature/lshBands):
  // each shingle is hashed twice (md5(sh) || md5('#'+sh) = 64 hex chars); the
  // 16 disjoint 4-hex chunks decode to 16-bit ints (the Spark side uses
  // primitive-int mins to stay on HashAggregate); band signature is the
  // '|'-joined band tuple.
  private val minsSql = (0 until 16).map(s =>
    s"min(CAST('0x' || substr(h, ${4 * s + 1}, 4) AS INTEGER)) AS h$s").mkString(", ")
  private val bandsSql = (0 until 4).map(b =>
    (0 until 4).map(i => s"CAST(h${4 * b + i} AS VARCHAR)")
      .mkString("concat_ws('|', ", ", ", s") AS b$b")).mkString(", ")
  private val bandRowsSql = (0 until 4).map(b =>
    s"SELECT doc, $b AS band_idx, b$b AS band_sig FROM bands").mkString(" UNION ALL ")
  /** Shared CTE chain producing LSH candidate pairs (a < b) — mirrors
    * Dedup.minhashCandidates end-to-end, INCLUDING the finite
    * `DefaultMaxBucket` pair-explosion guard (buckets larger than the cap
    * are dropped before pairing, same window-count-then-filter shape). */
  private val candCtesSql =
    s"""toksrc AS (SELECT doc_id AS doc, string_split_regex(lower(text),'\\s+') AS l FROM documents),
       |sh0 AS (SELECT doc, CASE WHEN len(l) < 3 THEN [array_to_string(l,' ')]
       |  ELSE [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN generate_series(1, len(l)-2)] END AS shl FROM toksrc),
       |exploded AS (SELECT doc, unnest(list_distinct(shl)) AS sh FROM sh0),
       |hs AS (SELECT doc, md5(sh) || md5('#' || sh) AS h FROM exploded),
       |sig AS (SELECT doc, $minsSql FROM hs GROUP BY doc),
       |bands AS (SELECT doc, $bandsSql FROM sig),
       |br AS ($bandRowsSql),
       |brf AS (SELECT doc, band_idx, band_sig FROM (SELECT doc, band_idx, band_sig,
       |  count(*) OVER (PARTITION BY band_idx, band_sig) AS bsz FROM br)
       |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
       |cand AS (SELECT DISTINCT x.doc AS a, y.doc AS b FROM brf x JOIN brf y
       |  ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig AND x.doc < y.doc)""".stripMargin

  // sign-LSH oracle fragments (mirror Similarity.signPlane/signLshBucket over
  // 16 planes = 4 tables × 4 bits): plane p sums elements at positions ≡ p (mod 16)
  private val planeSumsSql = (0 until 16).map(p =>
    s"list_sum(list_transform(generate_series(1, len(vq)), i -> CASE WHEN (i-1)%16 = $p THEN vq[i] ELSE 0 END)) AS s$p"
  ).mkString(", ")
  private def bucketSql(t: Int) = (0 until 4).map(j =>
    s"(CASE WHEN s${4 * t + j} >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** Auto-sized sign-LSH bucket CTEs for the embedding near-dup family
    * (r14, mirrors Dedup.autoBitsPerTable + embeddingNearDup's dynamic
    * plane geometry): `eb.b` = smallest b with n ≤ cells·occupancy·2^b,
    * derived INTEGER-exactly via ceil-div + bit length (length(bin(m-1)))
    * so both engines land on the same width at every corpus size; `br` =
    * one (vec_id, label, tbl, bkt) row per vector × table, bucket bit j =
    * sign of pseudo-hyperplane t·b+j over positions ≡ plane (mod 4·b).
    * Expects a CTE `v(vec_id, label, vq)`; the fixed 16-plane fragments
    * above stay for the ANN seed-cell family, whose 4-bit cell is a
    * corpus-independent quantizer, not an occupancy-tuned index.
    */
  private val autoLshBrSql =
    s"""eb AS (SELECT greatest(1, least(${Dedup.MaxAutoBitsPerTable},
       |    CASE WHEN m > 1 THEN length(bin(m - 1)) ELSE 1 END)) AS b
       |  FROM (SELECT (count(*) + ${Dedup.DefaultTargetBucketOccupancy} * count(DISTINCT label) - 1)
       |      // (${Dedup.DefaultTargetBucketOccupancy} * count(DISTINCT label)) AS m FROM embeddings)),
       |br AS (SELECT vec_id, label, t.tbl AS tbl,
       |    list_sum(list_transform(generate_series(0, b - 1), j ->
       |      CASE WHEN list_sum(list_transform(generate_series(1, len(vq)), i ->
       |        CASE WHEN (i - 1) % (4 * b) = t.tbl * b + j THEN vq[i] ELSE 0 END)) >= 0
       |      THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS bkt
       |  FROM v, eb, (SELECT unnest(generate_series(0, 3)) AS tbl) t)""".stripMargin

  // x_ann_ivf's quantizer: 4 planes over mod-8 position classes — each
  // plane sums 1/8 of the vector vs the mod-16 family's 1/16, a denser,
  // better-conditioned pseudo-hyperplane for the isotropic corpus
  // (measured: +0.14 recall@3 over 4 mod-16 planes at equal probe count)
  private val planeSums8Sql = (0 until 4).map(p =>
    s"list_sum(list_transform(generate_series(1, len(vq)), i -> CASE WHEN (i-1)%8 = $p THEN vq[i] ELSE 0 END)) AS s$p"
  ).mkString(", ")
  private val bucket8Sql = (0 until 4).map(j =>
    s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** One product-quantization subspace's oracle CTEs (mirrors
    * Similarity's `Pq` scorer): slice the quantized vector to the subspace, seed
    * 2-bit sign-LSH cells (totalPlanes = 2: plane p sums positions ≡ p mod
    * 2), build the floor-mean codebook, assign each vector its nearest
    * entry (the code), and precompute each query's distance table to the
    * codebook. CTEs are pq_-prefixed per the repo's CTE-collision rule.
    */
  private def pqSubCtes(s: Int): String = {
    val lo = s * 32 + 1; val hi = s * 32 + 32
    def planeSum(p: Int) =
      s"list_sum(list_transform(generate_series(1, len(sv)), i -> CASE WHEN (i-1)%2 = $p THEN sv[i] ELSE 0 END))"
    val dist = "CAST(list_sum(list_transform(list_zip(x.sv, cent.cvq), z -> (z[1]-z[2])*(z[1]-z[2]))) AS BIGINT)"
    s"""pq_s$s AS (SELECT vec_id, vq[$lo:$hi] AS sv FROM pq_v),
       |pq_b$s AS (SELECT vec_id, sv,
       |  (CASE WHEN ${planeSum(0)} >= 0 THEN 1 ELSE 0 END)
       |  + (CASE WHEN ${planeSum(1)} >= 0 THEN 2 ELSE 0 END) AS cell FROM pq_s$s),
       |pq_e$s AS (SELECT cell, unnest(list_zip(sv, generate_series(1, len(sv)))) AS z FROM pq_b$s),
       |pq_c$s AS (SELECT cell, CAST(z[2] AS BIGINT) AS pos,
       |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
       |  FROM pq_e$s GROUP BY 1, 2),
       |pq_cent$s AS (SELECT cell AS ccell, list(cx ORDER BY pos) AS cvq FROM pq_c$s GROUP BY cell),
       |pq_a$s AS (SELECT nid, ccell AS code$s FROM (
       |  SELECT x.vec_id AS nid, cent.ccell, row_number() OVER (PARTITION BY x.vec_id
       |    ORDER BY $dist, cent.ccell) AS rn
       |  FROM pq_s$s x, pq_cent$s cent) WHERE rn = 1),
       |pq_q$s AS (SELECT x.vec_id AS qid, cent.ccell AS code$s, $dist AS pd$s
       |  FROM pq_s$s x, pq_cent$s cent WHERE x.vec_id < 10)""".stripMargin
  }

  /** Query sample (vec_id < 10, the sample the DuckDB oracles pin) shared
    * by the default ANN path and its recall monitor: truth and approx sides
    * read the same bound, so the recall join can never compare different
    * query samples. */
  private val RecallQueries = 10L

  /** The embeddings (vec_id, embedding) with their sign-LSH `cell`: 4
    * planes over mod-`totalPlanes` position classes. */
  private def lshCells(s: SparkSession, d: String, totalPlanes: Int): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"), col("embedding"),
      Similarity.signLshBucket(
        Similarity.quantize(col("embedding")), 0 until 4, totalPlanes).as("cell"))

  /** The default ANN path (x_ann_ivf): data-derived 16-cell sign-LSH
    * quantizer + 4-probe multi-probe — shared with x_ann_recall so the
    * measured index and the monitored index can never diverge. */
  private def annIvfDefault(s: SparkSession, d: String): DataFrame = {
    val withCell = lshCells(s, d, 8)
    Similarity.topK(withCell.where(col("vec_id") < RecallQueries), withCell,
      "vec_id", "embedding", 3, Nearest("cell", 4), Dot).drop("cosine")
  }

  /** LSH-cell CTEs for the default quantizer, from an existing `v`
    * (vec_id, vq) relation to `bk` (vec_id, vq, cell). */
  private val lshCellCtesSql =
    s"""p AS (SELECT vec_id, vq, $planeSums8Sql FROM v),
       |bk AS (SELECT vec_id, vq, $bucket8Sql AS cell FROM p)""".stripMargin

  /** Parameterized multi-probe CTE chain: from any `src` relation with
    * ($idCol, vq, cell) columns to `ranked` (qid, nid, dot_q, rank) —
    * ONE definition of the centroid-build / probe-selection / scoring
    * math shared by the x_ann_ivf, x_ann_recall, and x_ann_ivf_trained
    * oracles, so a probe-count or tie-break change can never silently
    * diverge between them. */
  private def ivfMultiprobeCtes(src: String, idCol: String): String =
    // mp_-prefixed CTE names: the chain composes after arbitrary upstream
    // chains (the k-means trainer already owns e1/c1/cent1-style names)
    s"""mp_e AS (SELECT cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM $src),
       |mp_c AS (SELECT cell, CAST(z[2] AS BIGINT) AS pos,
       |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
       |  FROM mp_e GROUP BY 1, 2),
       |mp_cent AS (SELECT cell AS ccell, list(cx ORDER BY pos) AS cvq FROM mp_c GROUP BY cell),
       |mp_q AS (SELECT $idCol AS qid, vq AS qv FROM $src WHERE $idCol < 10),
       |mp_pr AS (SELECT qid, qv, ccell,
       |  CAST(list_sum(list_transform(list_zip(qv, cvq), x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS cdist
       |  FROM mp_q, mp_cent),
       |mp_prr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, ccell) AS rn FROM mp_pr),
       |mp_probes AS (SELECT qid, qv, ccell FROM mp_prr WHERE rn <= 4),
       |mp_scored AS (SELECT p.qid, b.$idCol AS nid,
       |  CAST(list_sum(list_transform(list_zip(p.qv, b.vq), x -> x[1]*x[2])) AS BIGINT) AS dot_q
       |  FROM mp_probes p JOIN $src b ON b.cell = p.ccell AND p.qid <> b.$idCol),
       |ranked AS (SELECT qid, nid, dot_q,
       |  row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid) AS rank FROM mp_scored)"""
      .stripMargin

  /** Oracle for `Similarity.kmeansIterations(iters)`: a0 is the sign-LSH
    * seeding; each round re-derives floor-mean centroids from the previous
    * assignment and reassigns by exact integer squared distance — the same
    * per-round CTE chain as the Spark loop.
    */
  /** The CTE chain alone (seed + `iters` Lloyd rounds, final assignment
    * relation `a{iters}` with (id, vq, cell, dist_q)) — shared by the
    * `x_ann_kmeans` oracle and the trained-quantizer ANN oracle, so a
    * change to the training math can never silently split the two. */
  private def kmeansCtesSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"a${i - 1}"
      s"""e$i AS (SELECT cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM $prev),
         |c$i AS (SELECT cell, CAST(z[2] AS BIGINT) AS pos,
         |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
         |  FROM e$i GROUP BY 1, 2),
         |cent$i AS (SELECT cell AS ccell, list(cx ORDER BY pos) AS cvq FROM c$i GROUP BY cell),
         |sc$i AS (SELECT a.id, a.vq, cent.ccell,
         |  CAST(list_sum(list_transform(list_zip(a.vq, cent.cvq),
         |    x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS dist_q
         |  FROM $prev a, cent$i cent),
         |r$i AS (SELECT *, row_number() OVER (PARTITION BY id
         |  ORDER BY dist_q, ccell) AS rn FROM sc$i),
         |a$i AS (SELECT id, vq, ccell AS cell, dist_q FROM r$i WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
       |p0 AS (SELECT vec_id, vq, $planeSumsSql FROM v0),
       |a0 AS (SELECT vec_id AS id, vq, ${bucketSql(0)} AS cell FROM p0),
       |$rounds""".stripMargin
  }

  private def kmeansItersSql(iters: Int): String =
    s"""WITH ${kmeansCtesSql(iters)}
       |SELECT id, cell, dist_q FROM a$iters""".stripMargin

  /** BPE training loop: 3 adaptive merge rounds (see the `x_bpe_merges`
    * entry for the algorithm contract). Size-gated like
    * [[graft.operators.Graphs.pageRankInt]]: when the documents table is
    * below `graft.bpe.driverMaxBytes` of PARQUET (default 64 MB ≈ a few
    * hundred MB of text — filesystem METADATA, so the gate costs no data
    * pass) the tokenized corpus is collected once and the identical
    * count→top-pair→rewrite recurrence runs as one driver loop — at this
    * corpus size each distributed round is pure stage-scheduling overhead
    * (measured 7.4s → 3s at sf0.1's 270k tokens, the remainder being the
    * tokenize+collect pass any path pays). The distributed loop above the
    * gate is byte-identical in outcome (TextAnalysisSpec proves equality
    * on a forced-distributed run) and is the only option for a real
    * tokenizer-training corpus. Tie-breaks compare UTF-8 bytes (what
    * Spark's string ordering and DuckDB's collation both use), not
    * Java's UTF-16 `compareTo`, which diverges above the BMP.
    */
  private[graft] def bpeMergeRounds(s: SparkSession, d: String): DataFrame = {
    val tokenized = t(s, d, "documents")
      .select(concat(lit(" "),
        concat_ws(" ", TextAnalysis.tokens(col("text"))), lit(" ")).as("s"))
    val driverMaxBytes = s.conf.getOption("graft.bpe.driverMaxBytes")
      .map { v =>
        try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft.bpe.driverMaxBytes must be a byte count in decimal, got '$v'")
        }
      }.getOrElse(64L * 1024 * 1024)
    val path = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val tableBytes = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(path).getLength
    val merges =
      if (tableBytes <= driverMaxBytes) driverBpeRounds(s, tokenized, rounds = 3)
      else distributedBpeRounds(tokenized, rounds = 3)
    s.createDataFrame(merges).toDF("round", "pair", "n")
  }

  /** ONE oracle CTE chain for BPE training (tk0 tokenize; per round i:
    * p_i = top pair by (n DESC, pair ASC), tk_i = corpus after merging
    * it) — shared by the `x_bpe_merges` and `x_bpe_encode` oracles so the
    * training math can never silently diverge between them. doc_id rides
    * through the tk relations for the encode oracle; the p relations
    * ignore it. */
  private def bpeOracleCtes(rounds: Int): String = {
    val tk0 =
      """tk0 AS (
        |  SELECT doc_id, ' ' || array_to_string(string_split_regex(lower(text), '\s+'), ' ') || ' ' AS s
        |  FROM documents
        |)""".stripMargin
    val perRound = (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT pair, count(*) AS n FROM (
         |    SELECT unnest([l[i] || ' ' || l[i+1] FOR i IN generate_series(1, greatest(len(l)-1, 0))]) AS pair
         |    FROM (SELECT string_split(trim(s, ' '), ' ') AS l FROM tk${i - 1})
         |  ) GROUP BY pair ORDER BY n DESC, pair LIMIT 1
         |),
         |tk$i AS (
         |  SELECT doc_id, replace(s, ' ' || (SELECT pair FROM p$i) || ' ',
         |                 ' ' || replace((SELECT pair FROM p$i), ' ', '¦') || ' ') AS s
         |  FROM tk${i - 1}
         |)""".stripMargin
    }
    (tk0 +: perRound).mkString(",\n")
  }

  /** UTF-8 byte-order comparison — Spark's BinaryType/StringType sort
    * order and DuckDB's default collation, NOT Java's UTF-16 compareTo.
    * TextAnalysisSpec pins the equivalence to UTF8String's comparator by
    * property. */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The driver recurrence: same count → (n DESC, pair ASC) top-pair →
    * non-overlapping left-to-right replace as the distributed loop (and
    * the DuckDB oracle — Java `String.replace` scans identically). */
  private def driverBpeRounds(s: SparkSession, tokenized: DataFrame,
                              rounds: Int): Seq[(Long, String, Long)] = {
    import s.implicits._
    var cur = tokenized.as[String].collect()
    (1L to rounds.toLong).map { r =>
      val counts = new java.util.HashMap[String, Long]()
      cur.foreach { doc =>
        // split+drop-empties, NOT Java trim: String.trim strips every char
        // <= U+0020 (a control char leading an edge token, say) while the
        // distributed path and the oracle trim SPACES only — the corpus is
        // single-space-joined so empty splits occur only at the padding
        val l = doc.split(" ").filter(_.nonEmpty)
        var i = 0
        while (i < l.length - 1) {
          counts.merge(l(i) + " " + l(i + 1), 1L, _ + _)
          i += 1
        }
      }
      var bestPair: String = null
      var bestN = 0L
      counts.forEach { (p, n) =>
        if (n > bestN || (n == bestN && (bestPair == null || utf8Lt(p, bestPair)))) {
          bestPair = p; bestN = n
        }
      }
      require(bestPair != null,
        s"bpe round $r: corpus has no adjacent token pairs left to merge")
      cur = cur.map(_.replace(" " + bestPair + " ",
        " " + bestPair.replace(' ', '¦') + " "))
      (r, bestPair, bestN)
    }
  }

  /** The distributed recurrence for corpora above the gate: pairs counted
    * as (t1, t2) structs (two references into the split array, no
    * per-occurrence concat), display string built per DISTINCT pair after
    * aggregation where the tie-break needs it; each round's rewritten
    * corpus is persisted and superseded rounds released. */
  private def distributedBpeRounds(tokenized: DataFrame,
                                   rounds: Int): Seq[(Long, String, Long)] = {
    var cur = tokenized
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val roundCaches = scala.collection.mutable.Buffer(cur)
    val merges = (1L to rounds.toLong).map { r =>
      val top = cur
        .select(split(trim(col("s")), " ").as("l"))
        .select(explode(when(size(col("l")) >= 2,
          transform(sequence(lit(1), size(col("l")) - 1),
            i => struct(element_at(col("l"), i).as("t1"),
              element_at(col("l"), i + 1).as("t2"))))
          .otherwise(array().cast("array<struct<t1:string,t2:string>>"))).as("p"))
        .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(count(lit(1)).as("n"))
        .select(concat_ws(" ", col("t1"), col("t2")).as("pair"), col("n"))
        .orderBy(desc("n"), asc("pair")).limit(1).collect().headOption
        // same documented failure as the driver path's require — a
        // pair-less corpus must not surface as a bare NoSuchElementException
        .getOrElse(throw new IllegalArgumentException(
          s"bpe round $r: corpus has no adjacent token pairs left to merge"))
      val (pair, n) = (top.getString(0), top.getLong(1))
      cur = cur.select(org.apache.spark.sql.functions.replace(col("s"),
        lit(" " + pair + " "),
        lit(" " + pair.replace(' ', '¦') + " ")).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      roundCaches += cur
      (r, pair, n)
    }
    // every action already ran (one driver scalar per round) — the round
    // corpora are dead weight by the time the result returns
    roundCaches.foreach(_.unpersist())
    merges
  }

  // simhash oracle fragments (mirror Dedup.simhash32)
  private val simSumsSql = (0 until 32).map(i =>
    s"CAST(sum(ascii(substr(h,${i + 1},1)) % 2) AS BIGINT) AS s$i").mkString(", ")
  private val simBitsSql = (0 until 32).map(i =>
    s"(CASE WHEN s$i*2 >= n_tok THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  val all: Map[String, Q] = Map(

    // ── Dedup: exact (hash-groupBy on the md5 fingerprint, never the body) ─
    "x_dedup_exact" -> Q(
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"),
      Some("SELECT keep_id, n_copies, fp FROM (" +
        "SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp, " +
        "min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents GROUP BY 1)")),

    // ── Dedup: MinHash + LSH banding candidate pairs ───────────────────────
    "x_dedup_minhash_lsh" -> Q(
      (s, d) => Dedup.minhashCandidates(t(s, d, "documents"), "doc_id", "text"),
      Some(s"WITH $candCtesSql\nSELECT a, b FROM cand")),

    // ── Structured Streaming: online MinHash-LSH near-dup screen — the
    //    ingest-time "have we seen something like this" check: a landing
    //    doc is flagged iff any of its band buckets is owned by an
    //    earlier doc. Signature = the batch minhash as a per-row array
    //    expression; state = ONE long per occupied bucket (no pairs, no
    //    cap needed). Single-drain pinned like stream_domain_cap ──────────
    "stream_neardup" -> Q(
      (s, d) => singleDrain(s)(
        graft.streaming.StreamingSync.streamingNearDup(s, d)),
      Some(s"""WITH $candCtesSql
        |SELECT doc AS doc_id, bool_or(mn < doc) AS is_neardup
        |FROM (SELECT doc, band_idx, band_sig,
        |  min(doc) OVER (PARTITION BY band_idx, band_sig) AS mn FROM br)
        |GROUP BY doc""".stripMargin)),

    // ── Dedup: LSH-then-verify exact Jaccard over candidate pairs ──────────
    "x_dedup_jaccard" -> Q(
      (s, d) => Dedup.jaccardPairs(t(s, d, "documents"), "doc_id", "text", 0.8),
      Some(s"""WITH $candCtesSql,
        |t AS (SELECT doc_id, $toksSql AS toks FROM documents)
        |SELECT c.a AS a_id, c.b AS b_id,
        |  CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS n_inter,
        |  CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS BIGINT) AS n_union,
        |  CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
        |    len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
        |FROM cand c JOIN t ta ON ta.doc_id = c.a JOIN t tb ON tb.doc_id = c.b
        |WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
        |  len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8""".stripMargin)),

    // ── Dedup: asymmetric containment over the same LSH candidates —
    //    |A∩B| / min(|A|,|B|) surfaces short-in-long duplication that the
    //    union-normalized Jaccard dilutes away (containment ≥ jaccard
    //    always, so this is a superset of x_dedup_jaccard's pairs) ─────────
    "x_dedup_containment" -> Q(
      (s, d) => Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text", 0.8),
      Some(s"""WITH $candCtesSql,
        |t AS (SELECT doc_id, $toksSql AS toks FROM documents)
        |SELECT c.a AS a_id, c.b AS b_id,
        |  CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS n_inter,
        |  CAST(len(ta.toks) AS BIGINT) AS n_a,
        |  CAST(len(tb.toks) AS BIGINT) AS n_b,
        |  CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
        |    least(len(ta.toks), len(tb.toks)) AS containment
        |FROM cand c JOIN t ta ON ta.doc_id = c.a JOIN t tb ON tb.doc_id = c.b
        |WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
        |  least(len(ta.toks), len(tb.toks)) >= 0.8""".stripMargin)),

    // ── Dedup: guaranteed-recall containment candidates — bottom-k
    //    shingle probes against df-capped corpus postings. The scale path
    //    containmentPairs' doc promises: est_e4 estimates directional
    //    containment with NO length-ratio recall decay ─────────────────────
    "x_dedup_containment_idx" -> Q(
      (s, d) => Dedup.containmentIndexed(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH ci_t AS (SELECT doc_id AS doc,
        |    string_split_regex(lower(text), '\\s+') AS l FROM documents),
        |ci_sh0 AS (SELECT doc, CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |  ELSE [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN generate_series(1, len(l)-2)] END AS shl
        |  FROM ci_t),
        |ci_ex AS (SELECT doc, unnest(list_distinct(shl)) AS sh FROM ci_sh0),
        |ci_h AS (SELECT doc, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h FROM ci_ex),
        |ci_hv AS (SELECT h FROM ci_h GROUP BY h
        |  HAVING count(*) > ${Dedup.DefaultMaxBucket}),
        |ci_post AS (SELECT doc, h FROM ci_h WHERE h NOT IN (SELECT h FROM ci_hv)),
        |ci_probe AS (SELECT doc, h FROM (SELECT doc, h,
        |    row_number() OVER (PARTITION BY doc ORDER BY h) AS rk FROM ci_h)
        |  WHERE rk <= 8),
        |ci_k AS (SELECT doc, count(*) AS k_probe FROM ci_probe GROUP BY 1),
        |ci_m AS (SELECT p.doc AS a, i.doc AS b, count(*) AS n_match
        |  FROM ci_probe p JOIN ci_post i ON p.h = i.h AND p.doc <> i.doc
        |  GROUP BY 1, 2)
        |SELECT m.a AS a_id, m.b AS b_id, CAST(m.n_match AS BIGINT) AS n_match,
        |  CAST(k.k_probe AS BIGINT) AS k_probe,
        |  CAST((m.n_match * 10000) // k.k_probe AS BIGINT) AS est_e4
        |FROM ci_m m JOIN ci_k k ON k.doc = m.a
        |WHERE (m.n_match * 10000) // k.k_probe >= 5000""".stripMargin)),

    // ── Dedup: edit-distance verify over the same LSH candidates — the
    //    character-level residual-closeness score the set-based metrics
    //    miss (one OCR edit per token zeroes Jaccard but barely moves
    //    this). Levenshtein capped to 200-char prefixes: prefixLen² cell
    //    updates per pair, candidates only, never all-pairs ────────────────
    "x_dedup_edit_verify" -> Q(
      (s, d) => Dedup.editVerifyPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id"),
      Some(s"""WITH $candCtesSql,
        |ep AS (SELECT doc_id, substr(coalesce(text, ''), 1, 200) AS pfx
        |  FROM documents)
        |SELECT c.a AS a_id, c.b AS b_id,
        |  CAST(levenshtein(pa.pfx, pb.pfx) AS BIGINT) AS edit_dist,
        |  CASE WHEN greatest(len(pa.pfx), len(pb.pfx)) = 0 THEN 10000
        |    ELSE 10000 - (CAST(levenshtein(pa.pfx, pb.pfx) AS BIGINT) * 10000)
        |      // greatest(len(pa.pfx), len(pb.pfx)) END AS sim_e4
        |FROM cand c JOIN ep pa ON pa.doc_id = c.a JOIN ep pb ON pb.doc_id = c.b
        |ORDER BY a_id, b_id""".stripMargin)),

    // ── Dedup: compression-distance verify — integer NCD over the SAME
    //    LSH candidates (near-dups score low because the concatenation
    //    gives the compressor nothing new to encode); the long-range
    //    third signal beside Jaccard and edit distance. Driver-checked
    //    surface = the deterministic half (candidate pairs + the byte
    //    sizes the compressor sees), oracle-green; the deflate readouts
    //    (ca/cb/cab/ncd_e4 — implementation-defined lengths) are pruned
    //    here and pinned by DedupSpec's ordering law instead (round-9
    //    ask #1: column-subset split documented) ───────────────────────────
    "x_dedup_ncd_verify" -> Q(
      (s, d) => Dedup.ncdVerifyPairs(t(s, d, "documents"), "doc_id", "text")
        .select("a_id", "b_id", "n_a_pfx", "n_b_pfx")
        .orderBy("a_id", "b_id"),
      Some(s"""WITH $candCtesSql,
        |np AS (SELECT doc_id, substr(coalesce(text, ''), 1, 2000) AS pfx
        |  FROM documents)
        |SELECT c.a AS a_id, c.b AS b_id,
        |  CAST(strlen(pa.pfx) AS BIGINT) AS n_a_pfx,
        |  CAST(strlen(pb.pfx) AS BIGINT) AS n_b_pfx
        |FROM cand c JOIN np pa ON pa.doc_id = c.a JOIN np pb ON pb.doc_id = c.b
        |ORDER BY a_id, b_id""".stripMargin)),

    // ── Dedup: the duplication report — clusters per copy count, the
    //    one-page "how duplicated was this crawl" answer shipped next to
    //    every curation run ────────────────────────────────────────────────
    "x_dedup_stats" -> Q(
      (s, d) => Dedup.dupStats(t(s, d, "documents"), "doc_id", "text"),
      Some("""SELECT n_copies, CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(n_copies * n_clusters AS BIGINT) AS n_docs
        |FROM (SELECT n_copies, count(*) AS n_clusters FROM (
        |  SELECT count(*) AS n_copies FROM documents
        |  GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |) GROUP BY 1) ORDER BY n_copies""".stripMargin)),

    // ── Dedup: URL canonicalization + keep-first — the stage every web
    //    corpus runs BEFORE content dedup (two crawls of one page differ
    //    by host case, www, tracking params, fragments, trailing slashes
    //    long before their bodies do). The corpus has no URL column, so
    //    the fixture derives one from (source, doc_id) the way the
    //    snapshot/CDC fixtures derive theirs — with deliberate per-doc
    //    noise in exactly the dimensions canonicalization must erase, and
    //    a (source, doc_id % 46) canonical key so real collisions exist.
    //    Canonicalization is a per-row regex map (zero shuffle); the
    //    verdict costs ONE hash exchange on the canonical string ───────────
    "x_dedup_url" -> Q(
      (s, d) => Dedup.urlDedup(
        t(s, d, "documents").select(col("doc_id").as("id"),
          Pipeline.syntheticUrl(col("doc_id"), col("source")).as("url")),
        "id", "url"),
      Some(s"""WITH $urlCanonCtesSql
        |SELECT id, url, url_canon,
        |  CAST(count(*) OVER (PARTITION BY url_canon) AS BIGINT) AS n_copies,
        |  id = min(id) OVER (PARTITION BY url_canon) AS keep
        |FROM uc""".stripMargin)),

    // ── Structured Streaming: online URL seen-set — the streaming twin
    //    of x_dedup_url's strike decision: canonical URLs emit exactly
    //    once as documents land (dropDuplicates state keyed on the
    //    canonical string; same fixture URL population as the batch
    //    query). The crawl-frontier "have we fetched this page" check ──────
    "stream_url_dedup" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamingUrlDedup(s, d),
      Some(s"""WITH $urlCanonCtesSql
        |SELECT DISTINCT url_canon FROM uc""".stripMargin)),

    // ── Dedup: cross-corpus LINE-level boilerplate strike — the
    //    MassiveText/CCNet stage: normalized lines occurring > maxDf
    //    times anywhere in the corpus (nav bars, footers) are struck
    //    from every doc. The corpus ships single-line text, so the
    //    fixture derives the line structure in-query the way the URL/
    //    snapshot fixtures derive theirs: a per-source nav header
    //    (df ≈ docs-per-source ≫ 10 → struck), the body re-wrapped at 12
    //    tokens/line (near-unique → kept), a global footer (df = corpus
    //    → struck). 2 exchanges: line-hash frequency window + per-doc
    //    reassembly — no joins, 32-byte shuffle keys only ─────────────────
    "x_dedup_lines" -> Q(
      (s, d) => {
        val body = transform(
          sequence(lit(1), expr("CAST(ceil(size(toks)/12.0) AS INT)")),
          i => concat_ws(" ", slice(col("toks"), (i - 1) * 12 + 1, lit(12))))
        val lined = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            split(col("text"), "\\s+").as("toks"))
          .select(col("doc_id"), concat_ws("\n",
            concat(lit("nav home about "), col("source")),
            array_join(body, "\n"),
            lit("copyright footer terms")).as("lined"))
        Dedup.lineDedup(lined, "doc_id", "lined", maxDf = 10L)
      },
      Some("""WITH ld_t AS (SELECT doc_id, source,
        |    string_split_regex(text, '\s+') AS l FROM documents),
        |ld_doc AS (SELECT doc_id,
        |    'nav home about ' || source || chr(10) ||
        |    array_to_string([array_to_string(l[(i-1)*12+1:(i-1)*12+12], ' ')
        |      FOR i IN generate_series(1, CAST(ceil(len(l)/12.0) AS INTEGER))], chr(10)) ||
        |    chr(10) || 'copyright footer terms' AS lined
        |  FROM ld_t),
        |ld_e AS (SELECT doc_id, i AS pos, sl[i] AS line
        |  FROM (SELECT doc_id, string_split(lined, chr(10)) AS sl FROM ld_doc),
        |  LATERAL (SELECT unnest(generate_series(1, len(sl))) AS i)),
        |ld_c AS (SELECT doc_id, pos, line, count(*) OVER (PARTITION BY
        |    md5(regexp_replace(trim(lower(line)), '\s+', ' ', 'g'))) AS line_df
        |  FROM ld_e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN line_df <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE line_df <= 10), '')) AS kept_fp
        |FROM ld_c GROUP BY doc_id""".stripMargin)),

    // ── Dedup: incremental batch-vs-corpus triage — every incoming doc
    //    (odd ids) is dropped/kept against the existing corpus (even ids)
    //    with the reason a curation run logs; ONE band table over
    //    corpus ∪ batch, so the bucket caps equal the full-corpus LSH ──────
    "x_dedup_incremental" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.incrementalDedup(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text")
      },
      Some(s"""WITH $candCtesSql,
        |tt AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |jp AS (SELECT c.a, c.b FROM cand c
        |  JOIN tt ta ON ta.doc_id = c.a JOIN tt tb ON tb.doc_id = c.b
        |  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
        |    len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8),
        |exq AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 2 = 0),
        |inc AS (SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 2 = 1),
        |f_ee AS (SELECT i.doc_id FROM inc i
        |  JOIN exq e ON i.fp IS NOT DISTINCT FROM e.fp),
        |f_eb AS (SELECT doc_id FROM (SELECT doc_id,
        |  row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM inc)
        |  WHERE rn > 1),
        |f_ne AS (SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id
        |  FROM jp WHERE (a % 2) <> (b % 2)),
        |f_nb AS (SELECT b AS doc_id FROM jp WHERE a % 2 = 1 AND b % 2 = 1)
        |SELECT i.doc_id,
        |  CASE WHEN i.doc_id IN (SELECT doc_id FROM f_ee) THEN 'exact_vs_existing'
        |       WHEN i.doc_id IN (SELECT doc_id FROM f_eb) THEN 'exact_vs_batch'
        |       WHEN i.doc_id IN (SELECT doc_id FROM f_ne) THEN 'near_vs_existing'
        |       WHEN i.doc_id IN (SELECT doc_id FROM f_nb) THEN 'near_vs_batch'
        |       ELSE 'kept' END AS reason
        |FROM inc i ORDER BY doc_id""".stripMargin)),

    // ── Dedup: 32-bit SimHash signatures + band buckets ────────────────────
    "x_dedup_simhash" -> Q(
      (s, d) => Dedup.simhash32(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH ex AS (SELECT doc_id AS doc, unnest($toksSql) AS tok FROM documents),
        |h AS (SELECT doc, md5(tok) AS h FROM ex),
        |agged AS (SELECT doc, $simSumsSql, count(*) AS n_tok FROM h GROUP BY doc)
        |SELECT doc, CAST($simBitsSql AS BIGINT) AS simhash,
        |  CAST(($simBitsSql) % 65536 AS BIGINT) AS band_lo,
        |  CAST(($simBitsSql) // 65536 AS BIGINT) AS band_hi
        |FROM agged""".stripMargin)),

    // ── Dedup: SimHash banded candidate pairs + exact Hamming verify ───────
    "x_dedup_simhash_pairs" -> Q(
      (s, d) => Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", 4),
      Some(s"""WITH ex AS (SELECT doc_id AS doc, unnest($toksSql) AS tok FROM documents),
        |h AS (SELECT doc, md5(tok) AS h FROM ex),
        |agged AS (SELECT doc, $simSumsSql, count(*) AS n_tok FROM h GROUP BY doc),
        |sim AS (SELECT doc, CAST($simBitsSql AS BIGINT) AS simhash FROM agged),
        |sb AS (SELECT doc, simhash, CAST(simhash % 65536 AS BIGINT) AS band_lo,
        |  CAST(simhash // 65536 AS BIGINT) AS band_hi FROM sim),
        |br AS (SELECT doc, simhash, 0 AS tbl, band_lo AS band FROM sb
        |  UNION ALL SELECT doc, simhash, 1, band_hi FROM sb),
        |brf AS (SELECT doc, simhash, tbl, band FROM (SELECT doc, simhash, tbl, band,
        |  count(*) OVER (PARTITION BY tbl, band) AS bsz FROM br)
        |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
        |cand AS (SELECT DISTINCT x.doc AS a, y.doc AS b,
        |  x.simhash AS a_sim, y.simhash AS b_sim
        |  FROM brf x JOIN brf y ON x.tbl = y.tbl AND x.band = y.band AND x.doc < y.doc)
        |SELECT a, b, CAST(bit_count(xor(a_sim, b_sim)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(a_sim, b_sim)) <= 4""".stripMargin)),

    // ── Dedup: candidate pairs → duplicate clusters (connected components,
    //    min-id survivor; DuckDB mirrors with a recursive CTE closure) ──────
    "x_dedup_clusters" -> Q(
      (s, d) => Dedup.dedupClusters(
        Dedup.minhashCandidates(t(s, d, "documents"), "doc_id", "text")),
      Some(s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT a, b FROM cand UNION SELECT b, a FROM cand),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
        |SELECT node, min(reach) AS cluster FROM walk GROUP BY node""".stripMargin)),

    // ── Dedup: embedding-cosine near-dup pairs, (cell, sign-LSH) bucketed ──
    "x_neardup_embedding" -> Q(
      (s, d) => Dedup.embeddingNearDup(t(s, d, "embeddings"), "vec_id",
        "embedding", "label", 0.35),
      Some(s"""WITH v AS (SELECT vec_id, label, $vqSql AS vq FROM embeddings),
        |$autoLshBrSql,
        |brf AS (SELECT vec_id, label, tbl, bkt FROM (SELECT vec_id, label, tbl, bkt,
        |  count(*) OVER (PARTITION BY label, tbl, bkt) AS bsz FROM br)
        |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
        |cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id, x.label AS cell
        |  FROM brf x JOIN brf y ON x.label = y.label AND x.tbl = y.tbl
        |  AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
        |SELECT c.a_id, c.b_id, c.cell, $cosSql AS cosine
        |FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id
        |WHERE $cosSql >= 0.35""".stripMargin)),

    // ── Semantic decontamination: the embedding-level twin of the
    //    lexical 8-gram x_decontaminate — an eval example paraphrased
    //    into the training set shares no 8-gram but sits at high cosine,
    //    so modern decontamination runs BOTH screens. Fixture split:
    //    vec_id % 10 == 0 is the held-out eval set (vec_id ≡ doc_id).
    //    Pairs come from the SAME capped (cell, sign-LSH bucket)
    //    machinery as x_neardup_embedding (never an eval × train
    //    product); the verdict aggregates per TRAIN vector: how many
    //    eval neighbors ≥ threshold, and the closest. Same oracle CTE
    //    pieces, straddle filter on the pair list ──────────────────────────
    "x_decontaminate_semantic" -> Q(
      (s, d) => {
        val pairs = Dedup.embeddingNearDup(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", 0.25)
        pairs.select(
          when(col("a_id") % 10 === 0, col("b_id")).otherwise(col("a_id"))
            .as("train_id"),
          when(col("a_id") % 10 === 0, col("a_id")).otherwise(col("b_id"))
            .as("eval_id"),
          col("cosine"))
          .where(col("train_id") % 10 =!= 0 && col("eval_id") % 10 === 0)
          .groupBy("train_id")
          .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cos"))
          .orderBy("train_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, label, $vqSql AS vq FROM embeddings),
        |$autoLshBrSql,
        |brf AS (SELECT vec_id, label, tbl, bkt FROM (SELECT vec_id, label, tbl, bkt,
        |  count(*) OVER (PARTITION BY label, tbl, bkt) AS bsz FROM br)
        |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
        |sd_c AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
        |  FROM brf x JOIN brf y ON x.label = y.label AND x.tbl = y.tbl
        |  AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
        |sd_p AS (SELECT c.a_id, c.b_id, $cosSql AS cosine
        |  FROM sd_c c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id
        |  WHERE $cosSql >= 0.25),
        |sd_s AS (SELECT
        |    CASE WHEN a_id % 10 = 0 THEN b_id ELSE a_id END AS train_id,
        |    CASE WHEN a_id % 10 = 0 THEN a_id ELSE b_id END AS eval_id,
        |    cosine
        |  FROM sd_p)
        |SELECT train_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
        |  max(cosine) AS max_cos
        |FROM sd_s WHERE train_id % 10 <> 0 AND eval_id % 10 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Semantic dedup end-to-end: embedding near-dup pairs → connected
    //    components → canonical representative (min id) per cluster, with a
    //    keep/drop verdict per member — the full "collapse paraphrase
    //    clusters" composition a curation pipeline runs after LSH pairing.
    //    Oracle: same pair CTEs + recursive closure ─────────────────────────
    // ── Dedup: cluster resolution keeping the BEST member, not the lowest
    //    id — the curation-realistic policy (a near-dup cluster's longest
    //    member usually retains the most content). Minhash-LSH pairs →
    //    connected components → per-cluster argmax by (n_tokens DESC,
    //    doc_id ASC); singleton docs are their own cluster via the left
    //    join's coalesce. One window over cluster-sized partitions — no
    //    new shuffle shape beyond the proven components build ────────────
    "x_dedup_keep_best" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val clusters = Dedup.dedupClusters(
          Dedup.minhashCandidates(docs, "doc_id", "text"))
        val q = docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        val membered = q.join(clusters, q("doc_id") === clusters("node"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"),
            col("n_tokens"))
        val w = Window.partitionBy(col("cluster"))
          .orderBy(desc("n_tokens"), asc("doc_id"))
        membered.withColumn("__rk", row_number().over(w))
          .select(col("doc_id"), col("cluster"), col("n_tokens"),
            (col("__rk") === 1).as("keep"))
      },
      Some(s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT a, b FROM cand UNION SELECT b, a FROM cand),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
        |cl AS (SELECT node, min(reach) AS cluster FROM walk GROUP BY node),
        |q AS (SELECT doc_id, CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |m AS (SELECT q.doc_id, coalesce(cl.cluster, q.doc_id) AS cluster, q.n_tokens
        |  FROM q LEFT JOIN cl ON cl.node = q.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
        |  ORDER BY n_tokens DESC, doc_id) AS rk FROM m)
        |SELECT doc_id, cluster, n_tokens, rk = 1 AS keep FROM r""".stripMargin)),

    "x_dedup_semantic" -> Q(
      (s, d) => {
        val pairs = Dedup.embeddingNearDup(t(s, d, "embeddings"), "vec_id",
          "embedding", "label", 0.35)
          .select(col("a_id").as("a"), col("b_id").as("b")).distinct()
        Dedup.dedupClusters(pairs)
          .withColumn("keep", col("node") === col("cluster"))
      },
      Some(s"""WITH RECURSIVE v AS (SELECT vec_id, label, $vqSql AS vq FROM embeddings),
        |$autoLshBrSql,
        |brf AS (SELECT vec_id, label, tbl, bkt FROM (SELECT vec_id, label, tbl, bkt,
        |  count(*) OVER (PARTITION BY label, tbl, bkt) AS bsz FROM br)
        |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
        |cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
        |  FROM brf x JOIN brf y ON x.label = y.label AND x.tbl = y.tbl
        |  AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
        |prs AS (SELECT c.a_id AS a, c.b_id AS b
        |  FROM cand c JOIN v a ON a.vec_id = c.a_id JOIN v b ON b.vec_id = c.b_id
        |  WHERE $cosSql >= 0.35),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
        |SELECT node, min(reach) AS cluster, node = min(reach) AS keep
        |FROM walk GROUP BY node""".stripMargin)),

    // ── Decontamination: eval-split docs sharing discriminative 8-grams
    //    with train-split docs (the pre-training train/test overlap check);
    //    md5-fingerprint equi-join, boilerplate-8-gram cap at docfreq 128 ─
    "x_decontaminate" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val docs = t(s, d, "documents")
        Contamination.ngramOverlapPairs(
          docs.where(h >= 95), docs.where(h < 90), "doc_id", "text")
      },
      Some(s"""WITH $decontamCtesSql
        |SELECT e.eval_id, t.train_id, count(*) AS n_shared
        |FROM evfp e JOIN trc t USING (fp) GROUP BY 1, 2""".stripMargin)),

    // ── Bloom-gated decontamination — the 100 TB shape of the SAME check:
    //    the eval grams aggregate into ONE native Bloom filter
    //    (BloomFilterAggregate, the optimizer's own runtime-filter
    //    machinery driven explicitly) that broadcasts and prunes the train
    //    side's gram stream BEFORE the df-cap aggregation and the join
    //    exchange. No false negatives + exact confirm downstream ⇒ the
    //    oracle is x_decontaminate's, verbatim — the equivalence IS the
    //    contract (law in DedupSpec, plan shape in PlanAuditSpec).
    //    Measured honestly: at sf0.1 the gate COSTS ~1s over the ungated
    //    twin (the bloom build is an extra job; both sides are <100k grams
    //    so there is no shuffle to save) — the gate pays when the train
    //    side's exchange volume dominates, i.e. at the TB scale the
    //    operator exists for, and the equivalence law makes the swap free ──
    "x_bloom_decontaminate" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val docs = t(s, d, "documents")
        Contamination.bloomGatedOverlapPairs(
          docs.where(h >= 95), docs.where(h < 90), "doc_id", "text")
      },
      Some(s"""WITH $decontamCtesSql
        |SELECT e.eval_id, t.train_id, count(*) AS n_shared
        |FROM evfp e JOIN trc t USING (fp) GROUP BY 1, 2""".stripMargin)),

    // ── Passage-level exact dedup: repeated 8-token passages across the
    //    corpus (finer than whole-doc dedup — near-dups share passages) ────
    "x_dedup_passage" -> Q(
      (s, d) => Dedup.passageDuplicates(t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l FROM documents),
        |ps AS (SELECT doc_id, unnest([array_to_string(l[(i-1)*8+1:(i-1)*8+8],' ')
        |  FOR i IN generate_series(1, CAST(ceil(len(l)/8.0) AS INTEGER))]) AS passage FROM tk)
        |SELECT md5(passage) AS fp, min(doc_id) AS keep_doc,
        |  count(*) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ps WHERE len(passage) >= 20 GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    // ── Corpus composition: per-source doc/token/language stats (the
    //    mixing report a curation pipeline emits per crawl source) ─────────
    "x_source_stats" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("source"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens_total"),
          countDistinct(col("lang")).as("n_langs")),
      Some("""SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(len(string_split_regex(lower(text),'\s+')) AS BIGINT)) AS BIGINT) AS n_tokens_total,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source""".stripMargin)),

    // ── As-of join: each click matched to the user's most recent purchase
    //    at or before it (point-in-time lookup; DuckDB mirrors natively) ─────
    "x_asof_join" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.where(col("event_type") === "click")
        val purchases = ev.where(col("event_type") === "purchase")
        AsOf.asofJoin(clicks, purchases, Seq("user_id"), "ts",
          "event_id", "event_id",
          Seq("cents" -> round(col("value") * 100).cast("long")))
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"),
            col("asof_event_id"), col("asof_cents"))
      },
      Some("""WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |r0 AS (SELECT user_id, ts, event_id AS r_id, CAST(round(value*100) AS BIGINT) AS r_cents,
        |  row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, r_id, r_cents FROM r0 WHERE rn = 1)
        |SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us,
        |  r.r_id AS asof_event_id, r.r_cents AS asof_cents
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // ── Forward as-of: the NEXT purchase at-or-after each click (reverse
    //    traversal of the same union+window plan; oracle is a LATERAL
    //    first-match since DuckDB's native ASOF is backward-only) ──────────
    "x_asof_forward" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.where(col("event_type") === "click")
        val purchases = ev.where(col("event_type") === "purchase")
        AsOf.asofJoin(clicks, purchases, Seq("user_id"), "ts",
          "event_id", "event_id",
          Seq("cents" -> round(col("value") * 100).cast("long")),
          forward = true)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"),
            col("asof_event_id").as("next_event_id"),
            col("asof_cents").as("next_cents"))
      },
      Some("""WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |r0 AS (SELECT user_id, ts, event_id AS r_id, CAST(round(value*100) AS BIGINT) AS r_cents,
        |  row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, r_id, r_cents FROM r0 WHERE rn = 1)
        |SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us,
        |  nxt.r_id AS next_event_id, nxt.r_cents AS next_cents
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r_id, r_cents FROM r
        |  WHERE r.user_id = l.user_id AND r.ts >= l.ts
        |  ORDER BY r.ts ASC LIMIT 1) nxt ON TRUE""".stripMargin)),

    // ── Range join: (purchase, click) pairs within the 10 minutes before
    //    each purchase, via bucketed equi-join (no theta cross product) ─────
    "x_range_join" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        RangeJoin.timeRangePairs(
          ev.where(col("event_type") === "purchase"),
          ev.where(col("event_type") === "click"),
          Seq("user_id"), "ts", "event_id", "event_id",
          beforeUs = 600000000L, afterUs = 0L)
      },
      Some("""SELECT p.user_id, p.event_id AS l_id, epoch_us(p.ts) AS l_us,
        |  c.event_id AS r_id, epoch_us(c.ts) AS r_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin)),

    // ── Interval-overlap join: incident correlation — which purchases'
    //    ±1h windows intersect an error's 12h outage window, per 50-way
    //    user cohort. The interval×interval shape x_range_join (point in
    //    window) can't express; both sides explode to 24h buckets, the
    //    exact overlap predicate runs on equi-join survivors, and the
    //    emit-once rule (keep only the bucket holding max(l_lo, r_lo))
    //    makes multi-bucket pairs surface exactly once with NO dedup
    //    shuffle. The oracle is the naive theta join — tractable at
    //    oracle scale, the very shape the binning replaces at 100 TB ─────
    "x_interval_join" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val err = ev.where(col("event_type") === "error")
          .select((col("user_id") % 50).as("cohort"),
            col("event_id").as("l_id"),
            unix_micros(col("ts")).as("l_lo"),
            (unix_micros(col("ts")) + 43200000000L).as("l_hi"))
        val buy = ev.where(col("event_type") === "purchase")
          .select((col("user_id") % 50).as("cohort"),
            col("event_id").as("r_id"),
            (unix_micros(col("ts")) - 3600000000L).as("r_lo"),
            (unix_micros(col("ts")) + 3600000000L).as("r_hi"))
        RangeJoin.intervalOverlapPairs(err, buy, Seq("cohort"),
          widthUs = 86400000000L)
      },
      Some("""WITH ivl_err AS (SELECT user_id % 50 AS cohort,
        |    event_id AS l_id, epoch_us(ts) AS l_lo,
        |    epoch_us(ts) + 43200000000 AS l_hi
        |  FROM events WHERE event_type = 'error'),
        |ivl_buy AS (SELECT user_id % 50 AS cohort,
        |    event_id AS r_id, epoch_us(ts) - 3600000000 AS r_lo,
        |    epoch_us(ts) + 3600000000 AS r_hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.cohort, l_id, l_lo, l_hi, r_id, r_lo, r_hi
        |FROM ivl_err e JOIN ivl_buy b ON e.cohort = b.cohort
        |  AND l_lo <= r_hi AND r_lo <= l_hi""".stripMargin)),

    // ── Similarity: brute-force top-5 by exact integer dot product ─────────
    "x_ann_topk" -> Q(
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.topK(e.where(col("vec_id") < 10), e, "vec_id",
          "embedding", 5, All, Dot)
      },
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $dotSql AS dot_q, $cosSql AS cosine
        |  FROM v a JOIN v b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid) AS rank FROM scored)
        |SELECT qid, nid, dot_q, cosine, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5""".stripMargin)),

    // ── Similarity: the DEFAULT ANN path — data-derived coarse quantizer
    //    (4-bit sign-LSH over 8 planes → 16 cells) + multi-probe (each
    //    query probes its 4 nearest cells by exact centroid distance).
    //    Chosen by measurement (SimilaritySpec): this corpus's embeddings
    //    are isotropic (mean pairwise cosine ≈ 0, intra-label ≈
    //    inter-label), so recall@3 is structurally ∝ the corpus fraction
    //    probed for ANY quantizer — this config reaches ≥0.6 probing 4/16
    //    cells (~25%), the best measured recall-per-candidate. On real
    //    clustered embeddings the same machinery yields high recall at
    //    much smaller probe fractions; the class-label single-probe
    //    variant (x_ann_ivf_multiprobe's lesson) stays as documentation
    //    of why probe selection must be distance-based. ──────────────────
    "x_ann_ivf" -> Q(
      (s, d) => annIvfDefault(s, d),
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |$lshCellCtesSql,
        |${ivfMultiprobeCtes("bk", "vec_id")}
        |SELECT qid, nid, dot_q, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3""".stripMargin)),

    // ── Similarity: recall@3 of the default ANN path vs exhaustive truth,
    //    AS A QUERY — index-quality monitoring is data, not a test-only
    //    artifact ("measure, don't guess" as a product surface). Both
    //    sides are deterministic integer math, so per-query recall is
    //    oracle-checkable; at scale the brute-force side runs on a query
    //    SAMPLE (the 10 queries of RecallQueries) — the standard recall
    //    estimator an index deployment monitors ──────────────────────────
    "x_ann_recall" -> Q(
      (s, d) => {
        val e = t(s, d, "embeddings")
        // persisted: the brute-force subtree (the expensive side) feeds
        // BOTH the hits join and the qid list — repo convention for
        // shared frames (see rarityScores)
        val truth = graft.operators.CacheRegistry.register(
          Similarity.topK(e.where(col("vec_id") < RecallQueries), e,
            "vec_id", "embedding", 3, All, Dot).select(col("qid"), col("nid"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val approx = annIvfDefault(s, d).select(col("qid"), col("nid"))
        val hits = truth.join(approx, Seq("qid", "nid"))
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        truth.select("qid").distinct()
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / 3.0)
              .as("recall_at_3"))
      },
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |bs AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $dotSql AS dot_q
        |  FROM v a JOIN v b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |brk AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid) AS rank FROM bs),
        |truth AS (SELECT qid, nid FROM brk WHERE rank <= 3),
        |$lshCellCtesSql,
        |${ivfMultiprobeCtes("bk", "vec_id")},
        |approx AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
        |hits AS (SELECT t.qid, count(*) AS n_hit FROM truth t
        |  JOIN approx x ON x.qid = t.qid AND x.nid = t.nid GROUP BY t.qid),
        |qs AS (SELECT DISTINCT qid FROM truth)
        |SELECT qs.qid, CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / 3 AS recall_at_3
        |FROM qs LEFT JOIN hits ON hits.qid = qs.qid""".stripMargin)),

    // ── Similarity: INSTRUCTIONAL BASELINE — do not pick this by name for
    //    production lookups; the default ANN path is `x_ann_ivf` (recall@3
    //    0.67 vs 0.17 here at sf0.01). ANN over DATA-DERIVED LSH cells
    //    with a SINGLE probe (the coarse quantizer is the sign-LSH bucket
    //    itself). Kept as the documented lesson that one probe is never
    //    enough at a cell boundary — the default path is this same
    //    quantizer family plus 4-probe selection. ─────────────────────────
    "x_ann_lsh" -> Q(
      (s, d) => {
        val withCell = lshCells(s, d, 16)
        Similarity.topK(withCell.where(col("vec_id") < 10), withCell,
          "vec_id", "embedding", 3, Own("cell"), Dot).drop("cosine")
      },
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |p AS (SELECT vec_id, vq, $planeSumsSql FROM v),
        |bk AS (SELECT vec_id, vq, ${bucketSql(0)} AS cell FROM p),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $dotSql AS dot_q
        |  FROM bk a JOIN bk b ON a.vec_id < 10 AND a.cell = b.cell AND a.vec_id <> b.vec_id),
        |ranked AS (SELECT qid, nid, dot_q,
        |  row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid) AS rank FROM scored)
        |SELECT qid, nid, dot_q, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3""".stripMargin)),

    // ── SQL surface through the session extensions (plans/GraftExtensions):
    //    the first column writes the composed built-in idiom and relies on
    //    the injected VectorLoopRewrite optimizer rule to collapse it to the
    //    native DotProductLong loop; the second calls the injected
    //    dot_product_long SQL function directly. Both must equal the oracle
    //    dot product — and ExtensionsSpec asserts the rewrite actually
    //    fired in the optimized plan. ─────────────────────────────────────
    "x_vec_sql_native" -> Q(
      (s, d) => {
        t(s, d, "embeddings").createOrReplaceTempView("graft_emb_v")
        s.sql("""WITH v AS (SELECT vec_id,
          |  transform(embedding, e -> coalesce(CAST(round(CAST(e AS DOUBLE)*1000000) AS BIGINT), 0L)) AS vq
          |  FROM graft_emb_v)
          |SELECT a.vec_id AS qid, b.vec_id AS nid,
          |  aggregate(zip_with(a.vq, b.vq, (x, y) -> x * y), 0L, (acc, x) -> acc + x) AS dot_rewrite,
          |  dot_product_long(a.vq, b.vq) AS dot_fn
          |FROM v a JOIN v b ON a.vec_id < 5 AND b.vec_id >= 5 AND b.vec_id < 25""".stripMargin)
      },
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings)
        |SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  $dotSql AS dot_rewrite, $dotSql AS dot_fn
        |FROM v a JOIN v b ON a.vec_id < 5 AND b.vec_id >= 5 AND b.vec_id < 25""".stripMargin)),

    // ── Similarity: one deterministic k-means step (LSH-seeded cells →
    //    integer centroids → nearest-centroid reassignment) — the learned
    //    coarse quantizer an IVF index trains with ──────────────────────────
    // ── Similarity: cluster-balance report — embedding count and corpus
    //    share per k-means cell, the semantic-diversity monitor a curation
    //    run reads next to the domain mix (a cell hoarding the corpus
    //    means the crawl collapsed to one topic). The share window runs
    //    over ≤ 2^seedBits = 16 cells — bounded, never the corpus ──────────
    "x_cluster_balance" -> Q(
      (s, d) => {
        val asg = Similarity.kmeansAssignStep(t(s, d, "embeddings"),
          "vec_id", "embedding")
        val g = asg.groupBy(col("new_cell")).agg(count(lit(1)).as("n_vecs"))
        g.withColumn("share", col("n_vecs").cast("double") /
            sum(col("n_vecs")).over(Window.partitionBy(lit(1))).cast("double"))
          .orderBy("new_cell")
      },
      Some(s"""WITH v0 AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |p AS (SELECT vec_id, vq, $planeSumsSql FROM v0),
        |vc AS (SELECT vec_id, vq, ${bucketSql(0)} AS seed_cell FROM p),
        |e AS (SELECT seed_cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM vc),
        |c1 AS (SELECT seed_cell, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT seed_cell AS ccell, list(cx ORDER BY pos) AS cvq
        |  FROM c1 GROUP BY seed_cell),
        |sc AS (SELECT vc.vec_id AS id, cent.ccell,
        |  CAST(list_sum(list_transform(list_zip(vc.vq, cent.cvq),
        |    x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS dist_q
        |  FROM vc, cent),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id
        |  ORDER BY dist_q, ccell) AS rn FROM sc),
        |g AS (SELECT ccell AS new_cell, count(*) AS n_vecs
        |  FROM r WHERE rn = 1 GROUP BY 1)
        |SELECT new_cell, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(n_vecs AS DOUBLE) / CAST((SELECT sum(n_vecs) FROM g) AS DOUBLE) AS share
        |FROM g ORDER BY new_cell""".stripMargin)),

    "x_ann_kmeans_assign" -> Q(
      (s, d) => Similarity.kmeansAssignStep(t(s, d, "embeddings"),
        "vec_id", "embedding"),
      Some(s"""WITH v0 AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |p AS (SELECT vec_id, vq, $planeSumsSql FROM v0),
        |vc AS (SELECT vec_id, vq, ${bucketSql(0)} AS seed_cell FROM p),
        |e AS (SELECT seed_cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM vc),
        |c1 AS (SELECT seed_cell, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT seed_cell AS ccell, list(cx ORDER BY pos) AS cvq
        |  FROM c1 GROUP BY seed_cell),
        |sc AS (SELECT vc.vec_id AS id, vc.seed_cell, cent.ccell,
        |  CAST(list_sum(list_transform(list_zip(vc.vq, cent.cvq),
        |    x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS dist_q
        |  FROM vc, cent),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id
        |  ORDER BY dist_q, ccell) AS rn FROM sc)
        |SELECT id, seed_cell, ccell AS new_cell, dist_q FROM r WHERE rn = 1""".stripMargin)),

    // ── Cluster labeling: name each embedding cluster by its members' top-3
    //    integer-tf-idf tokens (tf within the CELL, df across the corpus —
    //    the "what is this cluster about" readout every curation UI shows
    //    next to x_cluster_balance's share column). Reuses the one-step
    //    k-means assignment (ONE definition with x_sample_diverse /
    //    x_cluster_balance — the lockstep rule). Scale: the token explode
    //    joins the per-doc assignment on doc_id (equi-join, both sides
    //    corpus-partitioned), the tf aggregate collapses to cells ×
    //    cell-vocabulary, and the rank window runs over that bounded
    //    relation, never the corpus ────────────────────────────────────────
    "x_cluster_label" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val nDocs = docs.agg(countDistinct(col("doc_id"))).head().getLong(0)
        val asg = Similarity.kmeansAssignStep(t(s, d, "embeddings"),
          "vec_id", "embedding")
          .select(col("id").as("doc_id"), col("new_cell").as("cell"))
        // r15: collapse token INSTANCES to per-doc multiplicities first
        // (the bigram-LM pattern) — the un-persisted instance frame was
        // exploded TWICE per run (tf join + df aggregate) and the
        // assignment join carried every instance; now one partial-agg
        // shuffle builds (doc_id, tok, m), both consumers read the
        // persisted collapsed frame, the join moves one row per
        // (doc, distinct token), and df is a plain count over it.
        val dt = graft.operators.CacheRegistry.register(docs
          .select(col("doc_id"),
            explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
          .where(length(col("tok")) >= 3)
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))
          .persist())
        val tf = dt.join(asg, "doc_id")
          .groupBy("cell", "tok").agg(sum(col("m")).as("tf"))
        val df_ = dt.groupBy("tok").agg(count(lit(1)).as("df"))
        tf.join(df_, "tok")
          .withColumn("score", expr(s"(tf * CAST($nDocs AS BIGINT)) div df"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("cell")).orderBy(desc("score"), asc("tok")))
            .cast("long"))
          .where(col("rk") <= 3)
          .select(col("cell"), col("rk"), col("tok"), col("tf"), col("score"))
          .orderBy("cell", "rk")
      },
      Some(s"""WITH v0 AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |p AS (SELECT vec_id, vq, $planeSumsSql FROM v0),
        |vc AS (SELECT vec_id, vq, ${bucketSql(0)} AS seed_cell FROM p),
        |e AS (SELECT seed_cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM vc),
        |c1 AS (SELECT seed_cell, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT seed_cell AS ccell, list(cx ORDER BY pos) AS cvq
        |  FROM c1 GROUP BY seed_cell),
        |sc AS (SELECT vc.vec_id AS id, cent.ccell,
        |  CAST(list_sum(list_transform(list_zip(vc.vq, cent.cvq),
        |    x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS dist_q
        |  FROM vc, cent),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id
        |  ORDER BY dist_q, ccell) AS rn FROM sc),
        |cl_a AS (SELECT id AS doc_id, ccell AS cell FROM r WHERE rn = 1),
        |cl_t AS (SELECT doc_id, tok FROM (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |  FROM documents) WHERE length(tok) >= 3),
        |cl_tf AS (SELECT a.cell, t.tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM cl_t t JOIN cl_a a USING (doc_id) GROUP BY 1, 2),
        |cl_df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM cl_t GROUP BY 1),
        |cl_nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |cl_s AS (SELECT cell, f.tok AS tok, tf,
        |    CAST(tf * (SELECT n_docs FROM cl_nd) // df AS BIGINT) AS score
        |  FROM cl_tf f JOIN cl_df d ON f.tok = d.tok),
        |cl_r AS (SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY score DESC, tok) AS rk FROM cl_s)
        |SELECT cell, CAST(rk AS BIGINT) AS rk, tok, tf, score
        |FROM cl_r WHERE rk <= 3 ORDER BY cell, rk""".stripMargin)),

    // ── Cluster prototypes: per cell, the member vector CLOSEST to the
    //    centroid (the medoid-style exemplar a curation UI renders next to
    //    x_cluster_label's terms — "show me a representative doc"). Reuses
    //    the shared one-step assignment, whose dist_q column is already the
    //    member→centroid distance; one rank window + member count riding
    //    the same cell exchange ────────────────────────────────────────────
    "x_cluster_medoid" -> Q(
      (s, d) => {
        val byCell = Window.partitionBy(col("new_cell"))
        val asg = Similarity.kmeansAssignStep(t(s, d, "embeddings"),
          "vec_id", "embedding")
        asg.withColumn("rn",
            row_number().over(byCell.orderBy(asc("dist_q"), asc("id"))))
          .withColumn("n_members", count(lit(1)).over(byCell).cast("long"))
          .where(col("rn") === 1)
          .select(col("new_cell").as("cell"), col("id").as("medoid_id"),
            col("dist_q"), col("n_members"))
          .orderBy("cell")
      },
      Some(s"""WITH v0 AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |p AS (SELECT vec_id, vq, $planeSumsSql FROM v0),
        |vc AS (SELECT vec_id, vq, ${bucketSql(0)} AS seed_cell FROM p),
        |e AS (SELECT seed_cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM vc),
        |c1 AS (SELECT seed_cell, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT seed_cell AS ccell, list(cx ORDER BY pos) AS cvq
        |  FROM c1 GROUP BY seed_cell),
        |sc AS (SELECT vc.vec_id AS id, cent.ccell,
        |  CAST(list_sum(list_transform(list_zip(vc.vq, cent.cvq),
        |    x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS dist_q
        |  FROM vc, cent),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id
        |  ORDER BY dist_q, ccell) AS rn FROM sc),
        |md_a AS (SELECT id, ccell AS cell, dist_q FROM r WHERE rn = 1),
        |md_r AS (SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY dist_q, id) AS mrn,
        |    count(*) OVER (PARTITION BY cell) AS n_members FROM md_a)
        |SELECT cell, id AS medoid_id, dist_q,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM md_r WHERE mrn = 1 ORDER BY cell""".stripMargin)),

    // ── Filtered vector search: top-3 neighbors restricted to a metadata
    //    predicate (lang = 'en') — the "vector search with filters" shape
    //    every retrieval deployment needs. The predicate prunes the CORPUS
    //    side BEFORE any distance math (pre-filtering: full recall over
    //    the filtered set and fewer scored candidates), instead of
    //    post-filtering a top-k that then under-fills k — at 100 TB the
    //    lang column rides the same scan as the vectors, so the filter is
    //    free; an IVF upgrade composes by bucketing the filtered side ──────
    "x_ann_filtered" -> Q(
      (s, d) => {
        val e = t(s, d, "embeddings")
        val en = e.join(t(s, d, "documents").where(col("lang") === "en")
            .select(col("doc_id")), col("doc_id") === col("vec_id"))
          .select(col("vec_id"), col("embedding"))
        Similarity.topK(e.where(col("vec_id") < 10), en,
          "vec_id", "embedding", 3, All, Dot)
      },
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |fv AS (SELECT v.vec_id, v.vq FROM v
        |  JOIN documents d ON d.doc_id = v.vec_id AND d.lang = 'en'),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $dotSql AS dot_q,
        |    $cosSql AS cosine
        |  FROM v a JOIN fv b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
        |  ORDER BY dot_q DESC, nid) AS rank FROM scored)
        |SELECT qid, nid, dot_q, cosine, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin)),

    // ── Curation: diversity-preserving subsample (the SemDeDup/cluster-
    //    balanced shape): ≤8 vectors per trained cell, picked by md5 rank
    //    — keeps every region of embedding space represented instead of
    //    letting dense modes dominate a random sample. Reuses the one-step
    //    k-means assignment; the md5 pick is deterministic and engine-
    //    exact. At 100 TB the cell assignment persists as a column and
    //    this is one windowed rank per cell ────────────────────────────────
    "x_sample_diverse" -> Q(
      (s, d) => {
        val asg = Similarity.kmeansAssignStep(t(s, d, "embeddings"),
          "vec_id", "embedding")
        val w = Window.partitionBy(col("new_cell"))
          .orderBy(col("pick"), col("id"))
        asg.withColumn("pick", md5(col("id").cast("string")))
          .withColumn("pick_rank", row_number().over(w).cast("long"))
          .where(col("pick_rank") <= 8)
          .select(col("id").as("vec_id"), col("new_cell").as("cell"),
            col("pick_rank"))
      },
      Some(s"""WITH v0 AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |p AS (SELECT vec_id, vq, $planeSumsSql FROM v0),
        |vc AS (SELECT vec_id, vq, ${bucketSql(0)} AS seed_cell FROM p),
        |e AS (SELECT seed_cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM vc),
        |c1 AS (SELECT seed_cell, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT seed_cell AS ccell, list(cx ORDER BY pos) AS cvq
        |  FROM c1 GROUP BY seed_cell),
        |sc AS (SELECT vc.vec_id AS id, cent.ccell,
        |  CAST(list_sum(list_transform(list_zip(vc.vq, cent.cvq),
        |    x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS dist_q
        |  FROM vc, cent),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id
        |  ORDER BY dist_q, ccell) AS rn FROM sc),
        |a AS (SELECT id, ccell FROM r WHERE rn = 1)
        |SELECT id AS vec_id, ccell AS cell, CAST(rn2 AS BIGINT) AS pick_rank
        |FROM (SELECT id, ccell, row_number() OVER (PARTITION BY ccell
        |    ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn2 FROM a)
        |WHERE rn2 <= 8""".stripMargin)),

    // ── Similarity: INSTRUCTIONAL BASELINE — do not pick this by name for
    //    production lookups; the default ANN path is `x_ann_ivf` (recall@3
    //    0.67 vs 0.30 here at sf0.01). Multi-probe IVF top-3 over
    //    CLASS-LABEL cells: each query probes its 2 nearest cells by
    //    centroid distance. Kept as the documented lesson that
    //    distance-based probing rescues even a geometry-free partition —
    //    and that the partition itself must be data-derived (x_ann_ivf)
    //    or trained (x_ann_ivf_trained) to go further. ────────────────────
    "x_ann_ivf_multiprobe" -> Q(
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.topK(e.where(col("vec_id") < 10), e,
          "vec_id", "embedding", 3, Nearest("label", 2), Dot).drop("cosine")
      },
      Some(s"""WITH v AS (SELECT vec_id, label, $vqSql AS vq FROM embeddings),
        |e AS (SELECT label, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM v),
        |c1 AS (SELECT label, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM e GROUP BY 1, 2),
        |cent AS (SELECT label AS ccell, list(cx ORDER BY pos) AS cvq FROM c1 GROUP BY label),
        |q AS (SELECT vec_id AS qid, vq AS qv FROM v WHERE vec_id < 10),
        |pr AS (SELECT qid, qv, ccell,
        |  CAST(list_sum(list_transform(list_zip(qv, cvq), x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS cdist
        |  FROM q, cent),
        |prr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, ccell) AS rn FROM pr),
        |probes AS (SELECT qid, qv, ccell FROM prr WHERE rn <= 2),
        |scored AS (SELECT p.qid, b.vec_id AS nid,
        |  CAST(list_sum(list_transform(list_zip(p.qv, b.vq), x -> x[1]*x[2])) AS BIGINT) AS dot_q
        |  FROM probes p JOIN v b ON b.label = p.ccell AND p.qid <> b.vec_id),
        |ranked AS (SELECT qid, nid, dot_q,
        |  row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid) AS rank FROM scored)
        |SELECT qid, nid, dot_q, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3""".stripMargin)),

    // ── Similarity: k-means iterated to a 2-round budget (assign →
    //    re-centroid → reassign), the trained coarse quantizer an IVF
    //    index ships with; every round is deterministic integer math ──────
    "x_ann_kmeans" -> Q(
      (s, d) => Similarity.kmeansIterations(t(s, d, "embeddings"),
        "vec_id", "embedding", iters = 2),
      Some(kmeansItersSql(2))),

    // ── Similarity: the full trained-IVF story end-to-end — 2 Lloyd
    //    rounds train the coarse quantizer, every vector is indexed by
    //    its trained cell, and queries multi-probe their 4 nearest cells
    //    by exact centroid distance (recall@3 = 0.60 at sf0.01, floor in
    //    SimilaritySpec). Training is one bounded iterative job whose
    //    caches release per round; the index join-back and the
    //    probe→corpus scoring are plain equi-joins — at 100 TB the
    //    trained assignment would persist as a table column and this
    //    query becomes its Nearest("cell", 4) search alone ─────────────
    "x_ann_ivf_trained" -> Q(
      (s, d) => {
        val e = t(s, d, "embeddings")
        val cells = Similarity.kmeansIterations(e, "vec_id", "embedding",
          iters = 2).select(col("id").as("vec_id"), col("cell"))
        val indexed = e.join(cells, "vec_id")
        Similarity.topK(indexed.where(col("vec_id") < 10),
          indexed, "vec_id", "embedding", 3, Nearest("cell", 4), Dot)
          .drop("cosine")
      },
      Some(s"""WITH ${kmeansCtesSql(2)},
        |asn AS (SELECT id, vq, cell FROM a2),
        |${ivfMultiprobeCtes("asn", "id")}
        |SELECT qid, nid, dot_q, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3""".stripMargin)),

    // ── Similarity: product-quantization ADC top-k — the ANN *memory*
    //    story. Two 32-dim subspaces, each with a ≤4-entry floor-mean
    //    codebook over 2-bit sign-LSH seed cells; vectors become (code0,
    //    code1) and query scoring is two distance-table lookups (broadcast
    //    equi-joins), never arithmetic over corpus floats. Integer-exact
    //    end-to-end; ranked by ascending approx squared L2. x_ann_ivfpq is
    //    the same scorer behind a Nearest probe, the production shape ────
    "x_ann_pq" -> Q(
      (s, d) => {
        val e = t(s, d, "embeddings")
        Similarity.topK(e.where(col("vec_id") < 10), e,
          "vec_id", "embedding", 3, All, Pq(32))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH pq_v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |${(0 to 1).map(pqSubCtes).mkString(",\n")},
        |pq_codes AS (SELECT a0.nid, a0.code0, a1.code1
        |  FROM pq_a0 a0 JOIN pq_a1 a1 ON a0.nid = a1.nid),
        |pq_sc AS (SELECT q0.qid, c.nid, q0.pd0 + q1.pd1 AS adist
        |  FROM pq_codes c
        |  JOIN pq_q0 q0 ON c.code0 = q0.code0
        |  JOIN pq_q1 q1 ON c.code1 = q1.code1 AND q1.qid = q0.qid
        |  WHERE q0.qid <> c.nid),
        |pq_r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY adist, nid) AS rank FROM pq_sc)
        |SELECT qid, nid, adist, CAST(rank AS BIGINT) AS rank
        |FROM pq_r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // ── Similarity: IVF+PQ — the composed production shape. The default
    //    sign-LSH coarse quantizer's 4-of-16 multi-probe bounds WHICH
    //    vectors each query scores; PQ codes bound the COST of each score
    //    (two broadcast table lookups). Probe math ≡ x_ann_ivf, scoring
    //    math ≡ x_ann_pq — both oracle chains composed verbatim, so a
    //    drift in either half breaks this query too ───────────────────────
    "x_ann_ivfpq" -> Q(
      (s, d) => {
        val withCell = lshCells(s, d, 8)
        Similarity.topK(withCell.where(col("vec_id") < 10), withCell,
          "vec_id", "embedding", 3, Nearest("cell", 4), Pq(32))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH pq_v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |${(0 to 1).map(pqSubCtes).mkString(",\n")},
        |ipq_p AS (SELECT vec_id, vq, $planeSums8Sql FROM pq_v),
        |ipq_bk AS (SELECT vec_id, vq, $bucket8Sql AS cell FROM ipq_p),
        |ipq_e AS (SELECT cell, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM ipq_bk),
        |ipq_c AS (SELECT cell, CAST(z[2] AS BIGINT) AS pos,
        |  CAST(floor(CAST(sum(z[1]) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM ipq_e GROUP BY 1, 2),
        |ipq_cent AS (SELECT cell AS ccell, list(cx ORDER BY pos) AS cvq FROM ipq_c GROUP BY cell),
        |ipq_q AS (SELECT vec_id AS qid, vq AS qv FROM pq_v WHERE vec_id < 10),
        |ipq_pr AS (SELECT qid, ccell,
        |  CAST(list_sum(list_transform(list_zip(qv, cvq), x -> (x[1]-x[2])*(x[1]-x[2]))) AS BIGINT) AS cdist
        |  FROM ipq_q, ipq_cent),
        |ipq_prr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cdist, ccell) AS rn FROM ipq_pr),
        |ipq_probes AS (SELECT qid, ccell FROM ipq_prr WHERE rn <= 4),
        |ipq_scoped AS (SELECT p.qid, b.vec_id AS nid
        |  FROM ipq_probes p JOIN ipq_bk b ON b.cell = p.ccell AND p.qid <> b.vec_id),
        |ipq_sc AS (SELECT s.qid, s.nid, q0.pd0 + q1.pd1 AS adist
        |  FROM ipq_scoped s
        |  JOIN pq_a0 a0 ON a0.nid = s.nid
        |  JOIN pq_a1 a1 ON a1.nid = s.nid
        |  JOIN pq_q0 q0 ON q0.code0 = a0.code0 AND q0.qid = s.qid
        |  JOIN pq_q1 q1 ON q1.code1 = a1.code1 AND q1.qid = s.qid),
        |ipq_r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY adist, nid) AS rank FROM ipq_sc)
        |SELECT qid, nid, adist, CAST(rank AS BIGINT) AS rank
        |FROM ipq_r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),

    // ── Text: language-ID heuristic ────────────────────────────────────────
    "x_lang_id" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("predicted")),
      Some(s"""SELECT doc_id, lang, $langIdCaseSql AS predicted
        |FROM documents""".stripMargin)),

    // ── Text: language ID via character-n-gram profiles — no tokenizer,
    //    pure scalar replace-length counting (works on scripts without
    //    whitespace); the n-gram twin of the word-marker x_lang_id ────────
    "x_lang_id_ngram" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langIdNgram(col("text")).as("predicted")),
      Some(s"""WITH p AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t
        |  FROM documents)
        |SELECT doc_id, lang, $langIdNgramCaseSql AS predicted
        |FROM p""".stripMargin)),

    // ── Text: classifier agreement audit — the (label, marker-prediction,
    //    n-gram-prediction) confusion matrix over the corpus, built from
    //    the SAME two shared CASE oracles as x_lang_id / x_lang_id_ngram
    //    (the lockstep rule — a marker-list edit can never silently split
    //    the per-doc readouts from this rollup). The disagreement cells
    //    are the docs a curation pipeline routes to the expensive
    //    classifier; one grouped aggregate over per-row expressions,
    //    output bounded by langs³ ──────────────────────────────────────────
    "x_langid_confusion" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("lang"),
          TextAnalysis.langId(col("text")).as("pred_marker"),
          TextAnalysis.langIdNgram(col("text")).as("pred_ngram"))
        .groupBy("lang", "pred_marker", "pred_ngram")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_marker", "pred_ngram"),
      Some(s"""WITH p AS (SELECT lang, text, ' ' || lower(text) || ' ' AS t
        |  FROM documents)
        |SELECT lang, $langIdCaseSql AS pred_marker,
        |  $langIdNgramCaseSql AS pred_ngram, count(*) AS n
        |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ── Text: quality facets (exact counts, single-division ratios) ────────
    "x_quality" -> Q(
      (s, d) => TextAnalysis.qualityFacets(
        t(s, d, "documents").select("doc_id", "text"), "text")
        .drop("text"),
      Some {
        val stop = TextAnalysis.STOPWORDS_EN.map(w => s"'$w'").mkString(",")
        s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
          |CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_tokens,
          |CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
          |CAST(len(list_intersect($toksSql, [$stop])) AS BIGINT) AS n_stop,
          |CAST(length(text) - (len(string_split_regex(lower(text),'\\s+')) - 1) AS DOUBLE) /
          |  len(string_split_regex(lower(text),'\\s+')) AS mean_tok_len,
          |CAST(len(list_intersect($toksSql, [$stop])) AS DOUBLE) /
          |  len(string_split_regex(lower(text),'\\s+')) AS stop_ratio
          |FROM documents""".stripMargin
      }),

    // ── Text: token counting (whitespace + BPE-ish subword) ────────────────
    "x_token_count" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          TextAnalysis.bpeishCount(col("text")).as("n_bpeish")),
      Some("SELECT doc_id, CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish " +
        "FROM documents")),

    // ── Text quality: repeated-3-gram ratio — the duplicate-n-gram filter
    //    large-corpus curation uses to drop boilerplate/looping text (a doc
    //    whose trigrams mostly repeat is template or degenerate output).
    //    Since Σ_gram (count − 1) = total − distinct, the whole signal is
    //    one per-row expression (size + array_distinct over the trigram
    //    array): NO explode, NO shuffle — a narrow codegen map over the
    //    corpus, the plan you want at 100 TB (the explode→groupBy×2
    //    formulation pays two shuffles for the same numbers). Docs under
    //    3 tokens have no trigrams and drop on both sides ────────────────
    "x_repetition_ratio" -> Q(
      (s, d) => {
        val l = TextAnalysis.tokens(col("text"))
        val grams = transform(sequence(lit(1), size(col("l")) - 2),
          i => concat_ws(" ", element_at(col("l"), i),
            element_at(col("l"), i + 1), element_at(col("l"), i + 2)))
        t(s, d, "documents")
          .select(col("doc_id"), l.as("l"))
          .where(size(col("l")) >= 3)
          .select(col("doc_id"),
            (size(col("l")) - 2).cast("long").as("n_grams"),
            (size(col("l")) - 2 - size(array_distinct(grams)))
              .cast("long").as("n_repeated"))
          .select(col("doc_id"), col("n_grams"), col("n_repeated"),
            (col("n_repeated").cast("double") / col("n_grams"))
              .as("rep_ratio"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
        |  FROM documents),
        |g AS (SELECT doc_id, len(l) - 2 AS n_grams,
        |  len(l) - 2 - len(list_distinct(list_transform(generate_series(1, len(l) - 2),
        |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS n_repeated
        |  FROM t WHERE len(l) >= 3)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(n_repeated AS BIGINT) AS n_repeated,
        |  CAST(n_repeated AS DOUBLE) / n_grams AS rep_ratio
        |FROM g""".stripMargin)),

    // ── Skew-safe exact distinct: two-phase salted aggregation. Phase 1
    //    groups by (lang, salt(token)) so a hot language key spreads over 8
    //    reducers; tokens are disjoint across salts (salt is a pure function
    //    of the token), so phase 2's sum of partial distincts is EXACT. The
    //    salt is md5-derived — cross-engine deterministic ──────────────────
    "x_skew_distinct_tokens" -> Q(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("lang"), TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("lang"), explode(array_distinct(col("toks"))).as("tok"))
        val salt = conv(substring(md5(col("tok")), 1, 2), 16, 10)
          .cast("int") % 8
        toks.groupBy(col("lang"), salt.as("salt"))
          .agg(countDistinct(col("tok")).as("part"))
          .groupBy("lang")
          .agg(sum(col("part")).as("n_distinct_tokens"))
      },
      Some(s"""WITH tok AS (SELECT lang, unnest($toksSql) AS tok FROM documents),
        |p AS (SELECT lang, CAST('0x' || substr(md5(tok), 1, 2) AS INTEGER) % 8 AS salt,
        |  count(DISTINCT tok) AS part FROM tok GROUP BY 1, 2)
        |SELECT lang, CAST(sum(part) AS BIGINT) AS n_distinct_tokens
        |FROM p GROUP BY lang""".stripMargin)),

    // ── Split assignment: deterministic 90/5/5 train/val/test by id hash —
    //    stable under reshuffling/re-runs, a pure per-row function ──────────
    "x_split_assign" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        t(s, d, "documents").select(col("doc_id"), h.as("h"),
          when(h < 90, "train").when(h < 95, "val").otherwise("test")
            .as("split"))
      },
      Some("""SELECT doc_id, h, CASE WHEN h < 90 THEN 'train'
        |  WHEN h < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS h
        |  FROM documents)""".stripMargin)),

    // ── Leakage-safe split: assign train/val/test by the DEDUP CLUSTER's
    //    hash, not the document's — every near-duplicate of a test doc
    //    lands in test with it, so eval can't be contaminated by a
    //    training-set paraphrase (the straddle x_split_assign's per-doc
    //    hash permits). Same md5-prefix % 100 scheme and 90/5/5 bands as
    //    x_split_assign, applied to the cluster representative; singleton
    //    docs are their own cluster via the left join's coalesce. Scale:
    //    the proven components build + one doc→cluster equi-join; the
    //    split decision itself is per-row ──────────────────────────────────
    "x_split_leakage_safe" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val clusters = Dedup.dedupClusters(
          Dedup.minhashCandidates(docs, "doc_id", "text"))
        val membered = docs.select(col("doc_id"))
          .join(clusters, docs("doc_id") === clusters("node"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        val h = conv(substring(md5(col("cluster").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        membered.select(col("doc_id"), col("cluster"),
          when(h < 90, "train").when(h < 95, "val").otherwise("test")
            .as("split"))
      },
      Some(s"""WITH RECURSIVE $candCtesSql,
        |edges AS (SELECT a, b FROM cand UNION SELECT b, a FROM cand),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
        |cl AS (SELECT node, min(reach) AS cluster FROM walk GROUP BY node),
        |m AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cl ON cl.node = d.doc_id)
        |SELECT doc_id, cluster, CASE WHEN h < 90 THEN 'train'
        |  WHEN h < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, cluster,
        |  CAST('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS h
        |  FROM m) ORDER BY doc_id""".stripMargin)),

    // ── Quality: corpus-relative length-band filter — keep docs inside
    //    [p05, p95] of the length distribution (integer lower-quantile
    //    bounds from the bounded distinct-length histogram; the corpus
    //    itself is never globally sorted) ───────────────────────────────────
    "x_filter_length_band" -> Q(
      (s, d) => Pipeline.lengthBand(s, d),
      Some("""WITH h AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
        |c AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum FROM h),
        |nn AS (SELECT count(*) AS n FROM documents),
        |b AS (SELECT
        |  min(CASE WHEN cum >= ceil(0.05 * (SELECT n FROM nn)) THEN n_chars END) AS lo,
        |  min(CASE WHEN cum >= ceil(0.95 * (SELECT n FROM nn)) THEN n_chars END) AS hi
        |  FROM c)
        |SELECT doc_id, n_chars FROM documents, b
        |WHERE n_chars BETWEEN b.lo AND b.hi ORDER BY doc_id""".stripMargin)),

    // ── Export sharding: deterministic hash-mod shard assignment plus the
    //    manifest a training job reads before opening a single file — rows,
    //    bytes, and the id range per shard. The id-hash (not id-mod) keeps
    //    shards balanced under any id-assignment pattern; the manifest agg
    //    is one map-side-partial shuffle over 8 keys, output 8 rows ─────────
    "x_shard_manifest" -> Q(
      (s, d) => {
        val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
          16, 10).cast("int") % 8
        t(s, d, "documents").groupBy(shard.as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy("shard")
      },
      Some("""SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (SELECT doc_id, n_chars,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS shard
        |  FROM documents)
        |GROUP BY shard ORDER BY shard""".stripMargin)),

    // ── Snapshot diff: release-audit per-doc status (added / removed /
    //    changed / unchanged) between two corpus versions. The fixture
    //    derives both snapshots deterministically from `documents` (old
    //    drops doc_id%11=0 and reverses text at doc_id%5=0; new drops
    //    doc_id%7=0) so every status arises. Diff is by (id, md5) after a
    //    map-side reduction — see Snapshots' scaladoc for the 100 TB shape ─
    "x_corpus_diff" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val old = docs.where(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"), when(col("doc_id") % 5 === 0,
            reverse(col("text"))).otherwise(col("text")).as("text"))
        val neu = docs.where(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text"))
        graft.operators.Snapshots.corpusDiff(old, neu, "doc_id", "text")
      },
      Some("""WITH old AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN reverse(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0),
        |neu AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    o.doc_id IS NOT NULL AS in_o, n.doc_id IS NOT NULL AS in_n,
        |    md5(coalesce(o.text, '')) AS fp_o, md5(coalesce(n.text, '')) AS fp_n
        |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT in_o THEN 'added' WHEN NOT in_n THEN 'removed'
        |       WHEN fp_o <> fp_n THEN 'changed' ELSE 'unchanged' END AS status
        |FROM j ORDER BY doc_id""".stripMargin)),

    // ── Snapshot drift report: per-source distribution shift between two
    //    corpus versions — the "did the new crawl change the SHAPE of each
    //    source" audit. Fixture: old drops doc_id%11=0 and truncates
    //    doc_id%3=0 to 100 chars (the planted regression); new drops
    //    doc_id%7=0. Metric + 100 TB shape: Snapshots.corpusDrift ─────────
    "x_corpus_drift" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val old = docs.where(col("doc_id") % 11 =!= 0)
          .select(col("source"), when(col("doc_id") % 3 === 0,
            substring(col("text"), 1, 100)).otherwise(col("text")).as("text"))
        val neu = docs.where(col("doc_id") % 7 =!= 0)
          .select(col("source"), col("text"))
        graft.operators.Snapshots.corpusDrift(old, neu, "source", "text")
      },
      Some("""WITH cd_old AS (SELECT coalesce(source, '') AS src,
        |    CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 100) ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0),
        |cd_new AS (SELECT coalesce(source, '') AS src, text
        |  FROM documents WHERE doc_id % 7 <> 0),
        |cd_ho AS (SELECT src, coalesce(length(bin(CAST(length(text) AS BIGINT))), -1) AS bucket,
        |    count(*) AS a FROM cd_old GROUP BY 1, 2),
        |cd_hn AS (SELECT src, coalesce(length(bin(CAST(length(text) AS BIGINT))), -1) AS bucket,
        |    count(*) AS b FROM cd_new GROUP BY 1, 2),
        |cd_na AS (SELECT src, CAST(sum(a) AS BIGINT) AS n_old FROM cd_ho GROUP BY 1),
        |cd_nb AS (SELECT src, CAST(sum(b) AS BIGINT) AS n_new FROM cd_hn GROUP BY 1),
        |cd_j AS (SELECT coalesce(o.src, n.src) AS src,
        |    coalesce(o.bucket, n.bucket) AS bucket,
        |    coalesce(o.a, 0) AS a, coalesce(n.b, 0) AS b
        |  FROM cd_ho o FULL OUTER JOIN cd_hn n ON o.src = n.src AND o.bucket = n.bucket),
        |cd_t AS (SELECT j.src, coalesce(na.n_old, 0) AS n_old,
        |    coalesce(nb.n_new, 0) AS n_new,
        |    CAST(sum(abs(j.a * coalesce(nb.n_new, 0) - j.b * coalesce(na.n_old, 0))) AS BIGINT) AS l1
        |  FROM cd_j j LEFT JOIN cd_na na ON j.src = na.src
        |              LEFT JOIN cd_nb nb ON j.src = nb.src
        |  GROUP BY 1, 2, 3)
        |SELECT src AS source, n_old, n_new,
        |  CASE WHEN n_old = 0 OR n_new = 0 THEN 10000
        |       ELSE (l1 * 10000) // (n_old * n_new) END AS drift_e4
        |FROM cd_t ORDER BY source""".stripMargin)),

    // ── Cross-source leakage matrix: which source pairs share identical
    //    lead passages (md5 of the first 200 chars) — the mirror-site /
    //    syndication detector that decides whether "diverse sources" are
    //    actually diverse. Scale shape: (fp, source) collapses map-side
    //    to ≤ |sources| rows per fingerprint BEFORE the self-join, so the
    //    equi-join on fp fans out at most sources²/2 per key and the pair
    //    matrix is bounded by sources², never corpus-sized ────────────────
    "x_cross_source_leakage" -> Q(
      (s, d) => {
        val cs = t(s, d, "documents")
          .select(md5(substring(col("text"), 1, 200)).as("fp"), col("source"))
          .distinct()
        val a = cs.select(col("fp"), col("source").as("src_a"))
        val b = cs.select(col("fp"), col("source").as("src_b"))
        a.join(b, Seq("fp")).where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH cs AS (SELECT DISTINCT md5(substr(text, 1, 200)) AS fp, source
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM cs a JOIN cs b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ── Stratified sampling: deterministic per-language sample of up to 25
    //    docs, ranked by id-hash (stable under re-runs and reshuffling —
    //    the curation "inspect N docs per stratum" op) ─────────────────────
    // ── Curation: per-source cap — keep at most 20 docs per source,
    //    ranked by length then id (the "domain capping" op that stops one
    //    crawl domain from dominating the mixture; the deterministic twin
    //    of x_sample_stratified's hash sample). One window over
    //    source-sized partitions; a pathologically hot source at 100 TB
    //    first reduces per input partition (rank only the local top-N)
    //    before the global window — Spark's TopK pushdown does this for
    //    ORDER BY+LIMIT, and the per-group equivalent is a partial
    //    aggregation of each partition's top 20 ─────────────────────────
    "x_cap_per_source" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(desc("n_tokens"), asc("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("src_rank", row_number().over(w).cast("long"))
          .where(col("src_rank") <= 20)
      },
      Some("""SELECT doc_id, source, n_tokens, CAST(rn AS BIGINT) AS src_rank
        |FROM (SELECT doc_id, source,
        |  CAST(len(string_split_regex(lower(text),'\s+')) AS BIGINT) AS n_tokens,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY len(string_split_regex(lower(text),'\s+')) DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin)),

    "x_sample_stratified" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 5, 8), 16, 10)
          .cast("long")
        val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), h.as("h"))
          .withColumn("sample_rank", row_number().over(w).cast("long"))
          .where(col("sample_rank") <= 25)
      },
      Some("""SELECT doc_id, lang, h, CAST(rn AS BIGINT) AS sample_rank
        |FROM (SELECT doc_id, lang, h,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 8) AS BIGINT) AS h
        |    FROM documents))
        |WHERE rn <= 25""".stripMargin)),

    // ── Vocabulary coverage: per-doc out-of-vocabulary rate against the
    //    corpus's top-100 document-frequency vocabulary (the tokenizer-fit
    //    signal; vocab is tiny → broadcast, corpus side stays narrow) ──────
    "x_oov_rate" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vocab = docs
          .select(explode(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("tok")).limit(100)
          .select(col("tok"))
        val toks = docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        toks.join(broadcast(vocab.withColumn("__in", lit(1))), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"),
            (sum(when(col("__in").isNull, 1L).otherwise(0L)).cast("double") /
              count(lit(1))).as("oov_rate"))
      },
      Some(s"""WITH vocab AS (SELECT tok FROM (
        |  SELECT tok, count(*) AS df
        |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
        |  GROUP BY tok ORDER BY df DESC, tok LIMIT 100)),
        |toks AS (SELECT doc_id, unnest(string_split_regex(lower(text),'\\s+')) AS tok FROM documents)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY t.doc_id""".stripMargin)),

    // ── Tokenizer training prep: top-20 adjacent token bigrams by corpus
    //    frequency — the statistic a BPE/WordPiece merge step maximizes ────
    "x_bpe_pair_stats" -> Q(
      (s, d) => t(s, d, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
        // guard: Spark's sequence(1, 0) counts DOWN (DuckDB's
        // generate_series(1, 0) is empty) — single-token docs emit no pairs
        .select(explode(when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(20),
      Some("""WITH tk AS (SELECT string_split_regex(lower(text),'\s+') AS l FROM documents),
        |pr AS (SELECT unnest([l[i] || ' ' || l[i+1]
        |  FOR i IN generate_series(1, greatest(len(l)-1, 0))]) AS pair FROM tk)
        |SELECT pair, count(*) AS n FROM pr
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin)),

    // ── BPE training loop: 3 adaptive merge rounds. Each round counts
    //    adjacent pairs, picks the top pair by (n DESC, pair ASC), and
    //    rewrites the corpus by string-replace over the space-joined token
    //    sequence. Replace is non-overlapping left-to-right in Java, Spark
    //    and DuckDB alike, so all engines merge the identical
    //    occurrences — the one (documented) deviation from canonical
    //    array-fold BPE is immediately-adjacent repeats of the winning
    //    pair, where scan order differs from fold order. Size-gated
    //    driver/distributed split + caching discipline live in
    //    bpeMergeRounds above ─────────────────────────────────────────────
    "x_bpe_merges" -> Q(
      (s, d) => bpeMergeRounds(s, d),
      Some(s"""WITH ${bpeOracleCtes(3)}
        |SELECT CAST(1 AS BIGINT) AS round, pair, n FROM p1
        |UNION ALL SELECT 2, pair, n FROM p2
        |UNION ALL SELECT 3, pair, n FROM p3
        |ORDER BY round""".stripMargin)),

    // ── Tokenizer APPLY: encode the corpus with the merges the training
    //    loop just learned — train → encode, the full tokenizer arc. The
    //    3 learned pairs are a driver-side scalar list (like a broadcast
    //    vocabulary); applying them is a narrow per-row map, scale-free.
    //    A production pipeline persists the merges table and runs only
    //    the encode side incrementally. Output per doc: token count after
    //    merging and how many tokens are merged compounds ────────────────
    "x_bpe_encode" -> Q(
      (s, d) => {
        val merges = bpeMergeRounds(s, d).orderBy("round").collect()
          .map(_.getString(1))
        val tokenized = t(s, d, "documents").select(col("doc_id"),
          concat(lit(" "),
            concat_ws(" ", TextAnalysis.tokens(col("text"))), lit(" ")).as("s"))
        val encoded = merges.foldLeft(tokenized)((df, pair) =>
          df.withColumn("s", org.apache.spark.sql.functions.replace(col("s"),
            lit(" " + pair + " "),
            lit(" " + pair.replace(' ', '¦') + " "))))
        encoded.select(col("doc_id"),
          size(split(trim(col("s")), " ")).cast("long").as("n_tokens"),
          size(filter(split(trim(col("s")), " "),
            tk => tk.contains("¦"))).cast("long").as("n_merged"))
      },
      Some(s"""WITH ${bpeOracleCtes(3)}
        |SELECT doc_id,
        |  CAST(len(string_split(trim(s, ' '), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(trim(s, ' '), ' '),
        |    t -> contains(t, '¦'))) AS BIGINT) AS n_merged
        |FROM tk3""".stripMargin)),

    // ── Vocabulary: top-20 tokens by document frequency (exact, with a
    //    deterministic tie-break) ──────────────────────────────────────────
    "x_top_tokens" -> Q(
      (s, d) => t(s, d, "documents")
        .select(explode(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("doc_freq"))
        .orderBy(desc("doc_freq"), asc("tok")).limit(20),
      Some(s"""SELECT tok, count(*) AS doc_freq
        |FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
        |GROUP BY tok ORDER BY doc_freq DESC, tok LIMIT 20""".stripMargin)),

    // ── Chunking: split long documents into ≤64-token windows with 8-token
    //    overlap (context-window packing prep); pure per-row expressions ────
    "x_chunk_docs" -> Q(
      (s, d) => {
        val chunk = 64
        val stride = chunk - 8
        val toksed = t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        toksed
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0),
              greatest(lit(0), ceil((size(col("toks")) - chunk).cast("double") / stride)
                .cast("int")))).as("chunk_idx"))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunk))
              .as("win"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("win")).cast("long").as("n_tokens"),
            md5(concat_ws(" ", col("win"))).as("chunk_fp"))
          .where(col("n_tokens") > 0)
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(lower(text),'\s+') AS toks FROM documents),
        |ex AS (SELECT doc_id, toks,
        |  unnest(generate_series(0, greatest(0, CAST(ceil((len(toks)-64)/56.0) AS INTEGER)))) AS chunk_idx
        |  FROM tk)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(toks[chunk_idx*56+1 : chunk_idx*56+64]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(toks[chunk_idx*56+1 : chunk_idx*56+64], ' ')) AS chunk_fp
        |FROM ex WHERE len(toks[chunk_idx*56+1 : chunk_idx*56+64]) > 0""".stripMargin)),

    // ── Packing: greedy assignment of docs to fixed token-budget bins by
    //    running token count. The running sum is inherently sequential
    //    within a shard, so shards are the unit of parallelism — and the
    //    shard key is (lang, md5(doc_id) % 16), NOT lang alone: lang has ~4
    //    values, so a lang-only shard would funnel ~25% of a real corpus
    //    through one window partition. The hash sub-shard keeps parallelism
    //    proportional to data volume (bins are per-shard, exactly like
    //    production packing runs one packer per shard) ──────────────────────
    "x_pack_greedy" -> Q(
      (s, d) => {
        val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") % Pipeline.PackShards
        val w = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .withColumn("shard", shard)
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
            expr("(cum - 1) div 4096").as("bin"))
      },
      Some(s"""SELECT doc_id, lang, shard, n_tokens, CAST((cum - 1) // 4096 AS BIGINT) AS bin
        |FROM (SELECT doc_id, lang, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
        |      % ${Pipeline.PackShards} AS shard,
        |    CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_tokens
        |    FROM documents))""".stripMargin)),

    // ── Packing: the per-bin ATTENTION-BOUNDARY layout trainers actually
    //    consume — for every (lang, shard, bin) of the greedy pack, the
    //    in-order list of intra-bin start offsets where a new document
    //    begins (straddling docs clip to offset 0), fingerprinted
    //    order-exact. Cross-document attention masking is built from
    //    exactly these boundaries; without them a packed bin silently
    //    lets doc N attend into doc N-1. Same single window as
    //    x_pack_greedy plus one per-bin re-agg riding its partitioning ─────
    "x_pack_masked" -> Q(
      (s, d) => {
        val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") % Pipeline.PackShards
        val w = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .withColumn("shard", shard)
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("bin", expr("(cum - 1) div 4096"))
          .withColumn("off", greatest(
            col("cum") - col("n_tokens") - col("bin") * 4096L, lit(0L)))
          .groupBy("lang", "shard", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bin_tokens"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("off")))),
              x => x.getField("off").cast("string")), ",")).as("bounds_fp"))
      },
      Some(s"""WITH pm_c AS (SELECT doc_id, lang, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
        |      % ${Pipeline.PackShards} AS shard,
        |    CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_tokens
        |    FROM documents)),
        |pm_o AS (SELECT doc_id, lang, shard, n_tokens,
        |    CAST((cum - 1) // 4096 AS BIGINT) AS bin,
        |    greatest(cum - n_tokens - ((cum - 1) // 4096) * 4096, 0) AS off
        |  FROM pm_c)
        |SELECT lang, shard, bin, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  md5(string_agg(CAST(off AS VARCHAR), ',' ORDER BY doc_id)) AS bounds_fp
        |FROM pm_o GROUP BY 1, 2, 3""".stripMargin)),

    // ── Full curation pipeline composed end-to-end: quality gate →
    //    exact-dedup survivors → train-split gate → per-shard token-budget
    //    packing. One declarative plan: Catalyst fuses the narrow stages
    //    and the only shuffles are the dedup fingerprint and the pack
    //    window — the composition a real corpus build runs nightly ────────
    "x_pipeline_e2e" -> Q(
      (s, d) => {
        val fpW = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") % Pipeline.PackShards
        val packW = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .where(col("n_tokens") >= 30)                       // quality gate
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("__rn", row_number().over(fpW))
          .where(col("__rn") === 1)                           // dedup survivor
          .where(h < 90)                                      // train split
          .withColumn("shard", shard)
          .withColumn("cum", sum(col("n_tokens")).over(packW))
          .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
            expr("(cum - 1) div 4096").as("bin"))
      },
      Some(s"""WITH q AS (SELECT doc_id, lang, text,
        |  CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE len(string_split_regex(lower(text),'\\s+')) >= 30),
        |sfp AS (SELECT *, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp FROM q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM sfp),
        |tr AS (SELECT doc_id, lang, n_tokens FROM r WHERE rn = 1
        |  AND CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER)%100 < 90),
        |sh AS (SELECT doc_id, lang, n_tokens,
        |  CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,2) AS INTEGER)%${Pipeline.PackShards} AS shard
        |  FROM tr)
        |SELECT doc_id, lang, shard, n_tokens, CAST((cum - 1) // 4096 AS BIGINT) AS bin
        |FROM (SELECT doc_id, lang, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)""".stripMargin)),

    // ── Embedding pooling: elementwise mean per label over quantized
    //    vectors (doc/corpus-level embedding from member vectors); output
    //    exploded by position so every value is a scalar exact integer ─────
    "x_embed_meanpool" -> Q(
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), Similarity.quantize(col("embedding")).as("vq"))
        .select(col("label"), posexplode(col("vq")).as(Seq("pos0", "x")))
        .withColumn("pos", (col("pos0") + 1).cast("long"))
        .groupBy("label", "pos")
        .agg(sum(col("x")).as("sum_q"), count(lit(1)).as("n"),
          (sum(col("x")).cast("double") / count(lit(1))).as("mean_q")),
      Some(s"""WITH v AS (SELECT label, $vqSql AS vq FROM embeddings),
        |e AS (SELECT label, unnest(list_zip(vq, generate_series(1, len(vq)))) AS z FROM v)
        |SELECT label, CAST(z[2] AS BIGINT) AS pos, CAST(sum(z[1]) AS BIGINT) AS sum_q,
        |  count(*) AS n, CAST(sum(z[1]) AS DOUBLE) / count(*) AS mean_q
        |FROM e GROUP BY 1, 2""".stripMargin)),

    // ── Weighted corpus mixing: per-language keep rates applied by a
    //    deterministic id-hash gate (upsample en, downsample the tail) ──────
    "x_mix_weighted" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val rate = when(col("lang") === "en", 90)
          .when(col("lang") === "de", 60).otherwise(30)
        t(s, d, "documents").where(h < rate)
          .select("doc_id", "lang", "source")
      },
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100
        |  < (CASE WHEN lang = 'en' THEN 90 WHEN lang = 'de' THEN 60 ELSE 30 END)""".stripMargin)),

    // ── Mixture planning: per-source repeat epochs for a temperature-τ=2
    //    target mix. Targets w_s ∝ √tokens_s (the standard multilingual
    //    upsample-the-tail schedule); each source's epochs = its target
    //    token share of the whole-corpus budget over what it actually has,
    //    and over_cap flags > 4 epochs — the data-constrained-scaling
    //    point past which repetition stops buying loss. Integer-exact
    //    everywhere: √ enters only as floor(ieee_sqrt(bigint)), identical
    //    in any engine, and shares/epochs are ×10⁴ integer divisions.
    //    Scale: ONE corpus-wide combiner aggregate collapses to a
    //    sources-sized table; the totals window and the arithmetic touch
    //    ~20 rows ─────────────────────────────────────────────────────────
    "x_mix_epochs" -> Q(
      (s, d) => {
        val wAll = Window.partitionBy()
        t(s, d, "documents")
          .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
          .groupBy("source")
          .agg(coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
          .withColumn("w", floor(sqrt(col("n_tokens"))).cast("long"))
          .withColumn("w_total", sum(col("w")).over(wAll))
          .withColumn("budget", sum(col("n_tokens")).over(wAll))
          .withColumn("epochs_e4",
            when(col("n_tokens") === 0 || col("w_total") === 0, 0L)
              .otherwise(expr(
                "((budget * w) div w_total) * 10000 div n_tokens")))
          .select(col("source"), col("n_tokens"),
            when(col("budget") === 0, 0L)
              .otherwise(expr("(n_tokens * 10000) div budget")).as("share_e4"),
            when(col("w_total") === 0, 0L)
              .otherwise(expr("(w * 10000) div w_total")).as("target_e4"),
            col("epochs_e4"),
            (col("epochs_e4") > 40000L).as("over_cap"))
          .orderBy("source")
      },
      Some("""WITH me_s AS (SELECT source,
        |    CAST(coalesce(sum(CAST(len(string_split_regex(lower(text),'\s+')) AS BIGINT)), 0) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |me_w AS (SELECT source, n_tokens,
        |    CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w FROM me_s),
        |me_t AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS w_total,
        |    CAST(sum(n_tokens) OVER () AS BIGINT) AS budget FROM me_w),
        |me_e AS (SELECT *, CASE WHEN n_tokens = 0 OR w_total = 0 THEN 0
        |    ELSE ((budget * w) // w_total) * 10000 // n_tokens END AS epochs_e4
        |  FROM me_t)
        |SELECT source, n_tokens,
        |  CASE WHEN budget = 0 THEN 0 ELSE (n_tokens * 10000) // budget END AS share_e4,
        |  CASE WHEN w_total = 0 THEN 0 ELSE (w * 10000) // w_total END AS target_e4,
        |  epochs_e4, epochs_e4 > 40000 AS over_cap
        |FROM me_e ORDER BY source""".stripMargin)),

    // ── Dedup: WITHIN-document passage dedup — drop repeated 8-token
    //    passages inside the same doc (the nav-menu/boilerplate scrubber
    //    that runs before any cross-corpus dedup; x_dedup_passage finds
    //    passages repeated ACROSS docs, this collapses them within one).
    //    First occurrence wins by position; the kept sequence ships as an
    //    order-exact fingerprint. One (doc, passage-hash) window — state
    //    bounded per doc, no cross-doc shuffle beyond the hash partition ───
    "x_dedup_within_doc" -> Q(
      (s, d) => {
        val pas = t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("doc_id"), posexplode(
            transform(sequence(lit(1),
              ceil(size(col("toks")) / lit(8.0)).cast("int")),
              i => concat_ws(" ", slice(col("toks"), (i - 1) * 8 + 1, lit(8)))))
            .as(Seq("p0", "passage")))
          .withColumn("pos", col("p0") + 1)
        val w = Window.partitionBy(col("doc_id"), md5(col("passage")))
          .orderBy(col("pos"))
        pas.withColumn("rn", row_number().over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_passages"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_unique"),
            md5(array_join(transform(array_sort(collect_list(
              when(col("rn") === 1, struct(col("pos"), col("passage"))))),
              x => x.getField("passage")), " ")).as("kept_fp"))
      },
      Some("""WITH wd_t AS (SELECT doc_id,
        |    string_split_regex(lower(text),'\s+') AS l FROM documents),
        |wd_p AS (SELECT doc_id, i AS pos,
        |    array_to_string(l[(i-1)*8+1:(i-1)*8+8], ' ') AS passage
        |  FROM wd_t, LATERAL (SELECT unnest(generate_series(1,
        |    CAST(ceil(len(l)/8.0) AS INTEGER))) AS i)),
        |wd_r AS (SELECT *, row_number() OVER (PARTITION BY doc_id,
        |    md5(passage) ORDER BY pos) AS rn FROM wd_p)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  md5(string_agg(passage, ' ' ORDER BY pos) FILTER (WHERE rn = 1))
        |    AS kept_fp
        |FROM wd_r GROUP BY doc_id""".stripMargin)),

    // ── Quality: the Gopher-style rule battery — the named document-level
    //    heuristics of the Gopher/MassiveText curation recipe, each as an
    //    integer-exact per-doc boolean (cross-multiplied thresholds, no
    //    float division): word count in [50, 100k], mean word length in
    //    [3, 10], symbol-to-word caps (# ≤ 0.1/word, … ≤ 0.3/word),
    //    ≥80% words containing a letter, ≥2 stopwords. `keep` = all pass.
    //    Pure per-row expressions over one tokens projection ───────────────
    "x_filter_gopher" -> Q(
      (s, d) => {
        // metrics + thresholds live in TextAnalysis.gopherMetrics/-Flags
        // (ONE definition, shared with the quality classifier's seed)
        val g = TextAnalysis.gopherMetrics(col("text"), col("toks"))
        t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("doc_id"), g.as("g"))
          .select(col("doc_id"), col("g"),
            TextAnalysis.gopherFlags(col("g")).as("f"))
          .select(col("doc_id"), col("g.n_words").as("n_words"),
            col("g.n_wchars_exact").as("n_wchars_exact"),
            col("f.ok_word_count").as("ok_word_count"),
            col("f.ok_mean_len").as("ok_mean_len"),
            col("f.ok_hash").as("ok_hash"),
            col("f.ok_ellipsis").as("ok_ellipsis"),
            col("f.ok_alpha").as("ok_alpha"),
            col("f.ok_stop").as("ok_stop"),
            col("f.keep").as("keep"))
      },
      Some(s"""WITH $gopherCtesSql
        |SELECT doc_id, n_words, n_wchars_exact,
        |  ok_word_count, ok_mean_len, ok_hash, ok_ellipsis, ok_alpha,
        |  ok_stop, keep
        |FROM gk""".stripMargin)),

    // ── Quality: compressibility screen, split per round-9 ask #1 into a
    //    deterministic oracle-green surface + a spec-pinned readout. The
    //    driver-checked columns are an engine-portable dictionary
    //    estimate: distinct char-8-grams over total char-8-grams (×10⁴,
    //    integer-exact in both engines) — the character-level LZ-match
    //    proxy for what deflate's matcher finds (word-trigram repetition
    //    lives in x_repetition_ratio; this catches within-word/punctuation
    //    structure). `repetitive` flags the low tail (corpus band
    //    8346–10000 bp, median 9408; threshold 9000 ≈ P10). The zlib
    //    readout itself (native DeflateLength codegen expression) remains
    //    the production screen but its value is implementation-defined —
    //    CompressSpec pins a plain-Scala recompute + the proxy/deflate
    //    rank correlation. Pure per-row narrow map, zero shuffle; the
    //    gram array is transient codegen state, never shuffled ─────────────
    "x_compressibility" -> Q(
      (s, d) => {
        val low = lower(col("text"))
        val grams = transform(sequence(lit(1), length(col("low")) - 7),
          i => col("low").substr(i, lit(8)))
        t(s, d, "documents")
          .select(col("doc_id"),
            octet_length(col("text")).cast("long").as("n_bytes"),
            low.as("low"))
          .where(length(col("low")) >= 8)
          .select(col("doc_id"), col("n_bytes"),
            (length(col("low")) - 7).cast("long").as("n_c8"),
            size(array_distinct(grams)).cast("long").as("n_c8_dist"))
          .withColumn("dict_bp", expr("n_c8_dist * 10000 div n_c8"))
          .withColumn("repetitive", col("dict_bp") < 9000)
      },
      Some("""WITH cz AS (SELECT doc_id,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes, lower(text) AS low
        |  FROM documents WHERE length(lower(text)) >= 8),
        |cg AS (SELECT doc_id, n_bytes,
        |    CAST(length(low) - 7 AS BIGINT) AS n_c8,
        |    CAST(len(list_distinct(list_transform(
        |      generate_series(1, length(low) - 7),
        |      i -> substr(low, i, 8)))) AS BIGINT) AS n_c8_dist
        |  FROM cz)
        |SELECT doc_id, n_bytes, n_c8, n_c8_dist,
        |  n_c8_dist * 10000 // n_c8 AS dict_bp,
        |  (n_c8_dist * 10000 // n_c8) < 9000 AS repetitive
        |FROM cg""".stripMargin)),

    // ── Safety: wordlist content filter — occurrence count of blocklisted
    //    tokens per doc and the keep verdict (bad-token share < 5%), the
    //    standard unsafe-content screen run before any model sees a crawl.
    //    The list here is a corpus-derivable stand-in (a real deployment
    //    swaps in its safety list — the shape is identical); occurrences,
    //    not distinct hits, so a doc saturated with one bad term still
    //    trips the ratio. Pure per-row array expressions, zero shuffle ──────
    "x_filter_blocklist" -> Q(
      (s, d) => {
        val bad = Seq("slow", "dup", "stale")
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(filter(col("toks"), x => x.isin(bad: _*)))
              .cast("long").as("n_bad"))
          .withColumn("bad_bp",
            when(col("n_tokens") > 0,
              expr("n_bad * 10000 div n_tokens")).otherwise(0L))
          .withColumn("keep", col("bad_bp") < 500)
      },
      Some("""WITH bl AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS l FROM documents),
        |bl_c AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(l, x -> x IN ('slow', 'dup', 'stale')))
        |      AS BIGINT) AS n_bad
        |  FROM bl)
        |SELECT doc_id, n_tokens, n_bad,
        |  CASE WHEN n_tokens > 0 THEN (n_bad * 10000) // n_tokens
        |       ELSE 0 END AS bad_bp,
        |  (CASE WHEN n_tokens > 0 THEN (n_bad * 10000) // n_tokens
        |        ELSE 0 END) < 500 AS keep
        |FROM bl_c""".stripMargin)),

    // ── Ingest: HTML → text extraction — the FIRST transform of every
    //    web-crawl pipeline (the corpus ships extracted text; real crawls
    //    ship markup), so the fixture derives the markup in-query:
    //    title + entities, a <style> block, a <script> whose BODY
    //    contains markup-looking text ("<p>ignore</p>" — leaks into the
    //    output iff block-removal runs after tag-stripping, making the
    //    step order self-testing), and entity-encoded angle brackets
    //    that must survive extraction AS TEXT. Deterministic regex
    //    ladder (TextAnalysis.htmlToText) in the Java-regex/RE2 common
    //    subset; output is counts + fingerprint, never reassembled text.
    //    Pure per-row codegen, zero shuffle (PlanAuditSpec-pinned) ──────────
    "x_extract_html" -> Q(
      (s, d) => {
        val html = concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit(" &amp; more</title><style>p{color:red}</style>"),
          lit("<script>var x = \"<p>ignore</p>\";</script></head><body><h1>"),
          upper(col("source")), lit("</h1><p>"), col("text"),
          lit("</p><div class=\"nav\">menu &amp; links &lt;here&gt;&nbsp;now" +
            "</div></body></html>"))
        t(s, d, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            length(col("html")).cast("long").as("n_chars_html"),
            regexp_extract(col("html"), "<title>(.*?)</title>", 1)
              .as("title_raw"),
            TextAnalysis.htmlToText(col("html")).as("text_out"))
          .select(col("doc_id"), col("n_chars_html"), col("title_raw"),
            length(col("text_out")).cast("long").as("n_chars_text"),
            md5(col("text_out")).as("text_fp"))
      },
      Some("""WITH xh AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    ' &amp; more</title><style>p{color:red}</style>' ||
        |    '<script>var x = "<p>ignore</p>";</script></head><body><h1>' ||
        |    upper(source) || '</h1><p>' || text ||
        |    '</p><div class="nav">menu &amp; links &lt;here&gt;&nbsp;now' ||
        |    '</div></body></html>' AS html
        |  FROM documents),
        |xt AS (SELECT doc_id, html,
        |    trim(regexp_replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '),
        |      '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS text_out
        |  FROM xh)
        |SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_html,
        |  regexp_extract(html, '<title>(.*?)</title>', 1) AS title_raw,
        |  CAST(length(text_out) AS BIGINT) AS n_chars_text,
        |  md5(text_out) AS text_fp
        |FROM xt""".stripMargin)),

    // ── Safety: PII redaction (emails + long digit runs), reported as the
    //    redacted-text fingerprint + counts so outputs stay compact ─────────
    "x_redact_pii" -> Q(
      (s, d) => {
        val email = Pipeline.EmailRe
        val digits = "[0-9]{7,}"
        val redacted = regexp_replace(
          regexp_replace(col("text"), email, "<EMAIL>"), digits, "<NUM>")
        t(s, d, "documents").select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(digits), lit(0)))
            .cast("long").as("n_digit_runs"),
          md5(redacted).as("redacted_fp"))
      },
      Some(s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${Pipeline.EmailRe}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_digit_runs,
        |  md5(regexp_replace(regexp_replace(text,
        |    '${Pipeline.EmailRe}', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS redacted_fp
        |FROM documents""".stripMargin)),

    // ── Safety: k-anonymity audit before a data release — every
    //    quasi-identifier class smaller than k is re-identifiable by
    //    joining on those attributes. QIDs = (nation, segment,
    //    acctbal-thousand band): both verdicts present at sf0.01 AND
    //    sf0.1, so the threshold binds at verify scale. ONE hash agg on
    //    the class key; report is class-sized, never row-sized ────────────
    "x_k_anonymity" -> Q(
      (s, d) => graft.operators.Sketches.kAnonymity(
        t(s, d, "customer").select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5L),
      Some("""SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal/1000) AS BIGINT) AS bal_band,
        |  count(*) AS group_n, count(*) >= 5 AS k_anonymous,
        |  CAST(CASE WHEN count(*) >= 5 THEN 0 ELSE count(*) END AS BIGINT)
        |    AS n_suppress
        |FROM customer GROUP BY 1, 2, 3""".stripMargin)),

    // ── Safety: distinct l-diversity — the homogeneity-attack companion
    //    k-anonymity misses: a class of >= k members whose sensitive
    //    attribute (market segment) is UNIFORM still leaks it to anyone
    //    who can place a target in the class. QIDs = (nation,
    //    acctbal-hundred band): the finer band keeps class sizes small
    //    enough that BOTH verdicts appear at sf0.01 and sf0.1 (a
    //    thousand-band saturates l_diverse=true at sf0.1), so the l=3
    //    threshold binds at verify scale. Same ONE-exchange shape class
    //    as k-anonymity, plus the distinct's (QI, segment) pre-exchange ──
    "x_l_diversity" -> Q(
      (s, d) => graft.operators.Sketches.lDiversity(
        t(s, d, "customer").select(col("c_nationkey"),
          floor(col("c_acctbal") / 100).cast("long").as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", l = 3L),
      Some("""SELECT c_nationkey,
        |  CAST(floor(c_acctbal/100) AS BIGINT) AS bal_band,
        |  count(*) AS group_n,
        |  count(DISTINCT c_mktsegment) AS l_distinct,
        |  count(DISTINCT c_mktsegment) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2""".stripMargin)),

    // ── Versioned snapshots (time travel): publish orders as v1, apply a
    //    simulated retention delete (drop pre-1996) as v2, then read BOTH
    //    versions back FROM DISK and report them side by side — the
    //    auditable "what did the table say before the delete" a keyed
    //    upsert destroys. Publishes are atomic renames of immutable v=N
    //    dirs (Tables.publishVersion); the history is recreated fresh
    //    each run so the version numbers are deterministic ────────────────
    "x_time_travel" -> Q(
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_tt_${math.abs(d.hashCode)}"
        graft.catalog.Catalog.dropPath(s, root)
        val o = t(s, d, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("od"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        Tables.publishVersion(s, o, root)
        Tables.publishVersion(s, o.where(
          coalesce(col("od") >= to_timestamp(lit("1996-01-01")),
            lit(true))), root)
        def report(v: Long) = Tables.readVersion(s, root, Some(v))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum("cents"), lit(0L)).as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
        report(1L).unionByName(report(2L))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
        |    AS BIGINT) AS sum_cents
        |FROM orders
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*),
        |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
        |    AS BIGINT)
        |FROM orders
        |WHERE coalesce(o_orderdate >= TIMESTAMP '1996-01-01',
        |  TRUE)""".stripMargin)),

    // ── Change-data-feed between snapshot versions: publish orders as
    //    v1; v2 = retention delete (pre-1996 dropped) + a correction
    //    (+1 cent where key % 97 = 0) + late inserts (key-shifted rows)
    //    — then derive the row-level CDC export FROM THE DISK VERSIONS:
    //    one record per changed key (insert/delete/update with
    //    before/after), unchanged keys dropped before output so the feed
    //    is change-sized. All three ops appear at verify scale ───────────
    "x_snapshot_cdc" -> Q(
      (s, d) => {
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_cdc_${math.abs(d.hashCode)}"
        graft.catalog.Catalog.dropPath(s, root)
        val o = t(s, d, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("od"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        Tables.publishVersion(s, o.select("o_orderkey", "cents"), root)
        val v2 = o.where(coalesce(
            col("od") >= to_timestamp(lit("1996-01-01")), lit(true)))
          .select(col("o_orderkey"),
            (col("cents") + when(col("o_orderkey") % 97 === 0, 1L)
              .otherwise(0L)).as("cents"))
          .unionByName(o.where(col("o_orderkey") % 1000 === 0)
            .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
              lit(42L).as("cents")))
        Tables.publishVersion(s, v2, root)
        graft.operators.Snapshots.cdcDiff(
          Tables.readVersion(s, root, Some(1L)),
          Tables.readVersion(s, root, Some(2L)),
          Seq("o_orderkey"), "cents")
      },
      Some("""WITH cdc_base AS (SELECT o_orderkey, o_orderdate AS od,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cdc_v1 AS (SELECT o_orderkey, cents FROM cdc_base),
        |cdc_v2 AS (
        |  SELECT o_orderkey, cents + CASE WHEN o_orderkey % 97 = 0
        |      THEN 1 ELSE 0 END AS cents
        |  FROM cdc_base
        |  WHERE coalesce(od >= TIMESTAMP '1996-01-01', TRUE)
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, 42 FROM cdc_base
        |  WHERE o_orderkey % 1000 = 0),
        |cdc_j AS (
        |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |         WHEN b.o_orderkey IS NULL THEN 'delete'
        |         WHEN a.cents IS DISTINCT FROM b.cents THEN 'update'
        |    END AS op, a.cents AS before_v, b.cents AS after_v
        |  FROM cdc_v1 a FULL OUTER JOIN cdc_v2 b
        |    ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey, op, before_v, after_v
        |FROM cdc_j WHERE op IS NOT NULL""".stripMargin)),

    // ── Freshness report: which synced tables lag the freshest one —
    //    staleness measured against the corpus-wide max event time (not
    //    wall clock), so the report is deterministic. One scalar agg per
    //    table + a single-partition window over the 3-row report ─────────
    "x_freshness" -> Q(
      (s, d) => graft.catalog.Catalog.freshness(Seq(
        ("events", t(s, d, "events"), "ts"),
        ("lineitem", t(s, d, "lineitem"), "l_shipdate"),
        ("orders", t(s, d, "orders"), "o_orderdate"))),
      Some("""WITH fr AS (
        |  SELECT 'events' AS table_name, count(*) AS n_rows,
        |    max(epoch_us(ts)) AS max_ts_us FROM events
        |  UNION ALL SELECT 'lineitem', count(*), max(epoch_us(l_shipdate))
        |    FROM lineitem
        |  UNION ALL SELECT 'orders', count(*), max(epoch_us(o_orderdate))
        |    FROM orders)
        |SELECT table_name, n_rows, max_ts_us,
        |  CAST(max(max_ts_us) OVER () - max_ts_us AS BIGINT) AS lag_us,
        |  (max(max_ts_us) OVER () - max_ts_us) = 0 AS fresh
        |FROM fr""".stripMargin)),

    // ── Incremental view maintenance: a per-customer order rollup
    //    refreshed by aggregating ONLY the post-split delta and merging
    //    the two partial states (counts/sums combine by SUM, max by MAX)
    //    — never rescanning history. The oracle is the full recompute:
    //    the IVM law says they must be identical. The base filter
    //    null-coalesces so a dateless order lands in exactly one state ──
    "x_ivm_agg" -> Q(
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("od"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val split = to_timestamp(lit("2001-01-01"))
        def state(df: DataFrame) = df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"),
            max(unix_micros(col("od"))).as("max_date_us"))
        graft.operators.Ivm.mergeStates(
          Seq(state(o.where(coalesce(col("od") < split, lit(true)))),
            state(o.where(col("od") >= split))),
          Seq("o_custkey"), Seq("n_orders", "sum_cents"),
          Seq("max_date_us"))
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  max(epoch_us(o_orderdate)) AS max_date_us
        |FROM orders GROUP BY 1""".stripMargin)),

    // ── Data-quality constraint audit: did the sync land consistent
    //    data? One report row per (table, constraint) across four tables
    //    — every constraint CLASS appears with both verdicts on this
    //    corpus (122 negative balances fail the check, 75 zh docs fail
    //    the language set, one-order-per-customer fails unique; the FK,
    //    not-null, and doc_id-unique constraints pass), so neither
    //    branch is vacuous. Row-local constraints share ONE scan per
    //    table (stack-unpivoted conditional sums); fk broadcasts the
    //    distinct parent domain — child tables never shuffle ────────────
    "x_constraint_audit" -> Q(
      (s, d) => {
        import graft.operators.Constraints._
        val cust = t(s, d, "customer")
        audit(Seq(
          ("customer", cust, Seq(
            Check("acctbal_non_negative", col("c_acctbal") >= 0),
            NotNull("c_mktsegment"))),
          ("documents", t(s, d, "documents"), Seq(
            InSet("lang", graft.operators.Constraints.DocRules.AllowedLangs),
            Unique(Seq("doc_id")), NotNull("text"))),
          ("orders", t(s, d, "orders"), Seq(
            Unique(Seq("o_custkey")),
            ForeignKey("o_custkey", "customer", cust, "c_custkey"))),
          ("events", t(s, d, "events"), Seq(
            ForeignKey("user_id", "customer", cust, "c_custkey")))))
      },
      Some(s"""WITH ct_c AS (SELECT count(*) AS n,
        |    count(*) FILTER (WHERE NOT coalesce(c_acctbal >= 0, FALSE)) AS v0,
        |    count(*) FILTER (WHERE c_mktsegment IS NULL) AS v1
        |  FROM customer),
        |ct_d AS (SELECT count(*) AS n,
        |    count(*) FILTER (WHERE NOT coalesce(
        |      lang IN (${graft.operators.Constraints.DocRules.langsSql}), FALSE)) AS v0,
        |    count(*) - count(DISTINCT doc_id) AS vu,
        |    count(*) FILTER (WHERE text IS NULL) AS v1
        |  FROM documents),
        |ct_o AS (SELECT count(*) AS n,
        |    count(*) - count(DISTINCT o_custkey) AS vu,
        |    count(*) FILTER (WHERE o_custkey IS NOT NULL AND o_custkey
        |      NOT IN (SELECT c_custkey FROM customer
        |              WHERE c_custkey IS NOT NULL)) AS vf
        |  FROM orders),
        |ct_e AS (SELECT count(*) AS n,
        |    count(*) FILTER (WHERE user_id IS NOT NULL AND user_id
        |      NOT IN (SELECT c_custkey FROM customer
        |              WHERE c_custkey IS NOT NULL)) AS vf
        |  FROM events),
        |rep AS (
        |  SELECT 'customer' AS table_name,
        |    'check(acctbal_non_negative)' AS constraint_name,
        |    n AS n_rows, v0 AS n_violations FROM ct_c
        |  UNION ALL SELECT 'customer', 'not_null(c_mktsegment)', n, v1
        |    FROM ct_c
        |  UNION ALL SELECT 'documents', 'in_set(lang)', n, v0 FROM ct_d
        |  UNION ALL SELECT 'documents', 'unique(doc_id)', n, vu FROM ct_d
        |  UNION ALL SELECT 'documents', 'not_null(text)', n, v1 FROM ct_d
        |  UNION ALL SELECT 'orders', 'unique(o_custkey)', n, vu FROM ct_o
        |  UNION ALL SELECT 'orders', 'fk(o_custkey -> customer.c_custkey)',
        |    n, vf FROM ct_o
        |  UNION ALL SELECT 'events', 'fk(user_id -> customer.c_custkey)',
        |    n, vf FROM ct_e)
        |SELECT table_name, constraint_name, n_rows, n_violations,
        |  n_violations = 0 AS ok
        |FROM rep""".stripMargin)),

    // ── Safety: t-closeness — the skewness-attack check l-diversity
    //    misses: a class with l distinct segments whose DISTRIBUTION
    //    diverges from the table's still moves an adversary's posterior.
    //    Integer-exact TVD (numerator/denominator cross-multiplied
    //    against t = 1/5); the thousand-band QI makes the verdict split
    //    at sf0.01 (34/272 close) AND sf0.1 (266/275), so the threshold
    //    binds at verify scale in both directions ───────────────────────
    "x_t_closeness" -> Q(
      (s, d) => graft.operators.Sketches.tCloseness(
        t(s, d, "customer").select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment", tNum = 1L, tDen = 5L),
      Some("""WITH tc_cv AS (
        |  SELECT c_nationkey, CAST(floor(c_acctbal/1000) AS BIGINT) AS bal_band,
        |    c_mktsegment AS s, count(*) AS n_cv
        |  FROM customer GROUP BY 1, 2, 3),
        |tc_gd AS (
        |  SELECT c_mktsegment AS s, count(*) AS g_v,
        |    CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
        |  FROM customer GROUP BY 1),
        |tc_j AS (
        |  SELECT cv.c_nationkey, cv.bal_band, cv.n_cv, gd.g_v, gd.n_total,
        |    sum(cv.n_cv) OVER (PARTITION BY cv.c_nationkey, cv.bal_band)
        |      AS group_n,
        |    sum(gd.g_v) OVER (PARTITION BY cv.c_nationkey, cv.bal_band)
        |      AS g_present
        |  FROM tc_cv cv JOIN tc_gd gd ON cv.s IS NOT DISTINCT FROM gd.s)
        |SELECT c_nationkey, bal_band,
        |  CAST(max(group_n) AS BIGINT) AS group_n,
        |  CAST(sum(abs(n_cv*n_total - g_v*group_n))
        |    + (max(n_total) - max(g_present)) * max(group_n) AS BIGINT)
        |    AS tvd_num,
        |  CAST(2 * max(group_n) * max(n_total) AS BIGINT) AS denom,
        |  CAST(sum(abs(n_cv*n_total - g_v*group_n))
        |    + (max(n_total) - max(g_present)) * max(group_n) AS BIGINT) * 5
        |    <= CAST(2 * max(group_n) * max(n_total) AS BIGINT) AS t_close
        |FROM tc_j GROUP BY 1, 2""".stripMargin)),

    // ── Safety: differentially-private count release — seeded discrete
    //    Laplace (ε=1) per nation; the noise is an integer inverse-CDF
    //    table lookup keyed by a multiplicative hash of the group key, so
    //    the SAME 256-entry table (built in Privacy.dpNoiseTable and
    //    interpolated verbatim into this SQL) makes the release
    //    bit-reproducible on both engines. True counts never leave ──────
    "x_dp_release" -> Q(
      (s, d) => graft.operators.Privacy.dpRelease(
        t(s, d, "customer").select(col("c_nationkey")), "c_nationkey"),
      Some("SELECT c_nationkey,\n" +
        "  greatest(0, count(*) + ([" +
        graft.operators.Privacy.dpNoiseTable.mkString(",") + "])[\n" +
        "    CAST((((c_nationkey % 2147483648) * 2654435761)\n" +
        "      % 4294967296) % 256 AS INT) + 1]) AS noisy_n,\n" +
        "  1.0 AS epsilon\n" +
        "FROM customer GROUP BY 1")),

    // ── Safety: deletion propagation (right-to-be-forgotten) — one
    //    subject identity fans out across every derived table under a
    //    different column name; the audit (rows before / deleted / after,
    //    residual must re-report 0 post-scrub) matters as much as the
    //    delete. Docket = custkey % 23 (66 subjects at sf0.01; binds on
    //    all three tables: 66 customer + 708 order + 457 event rows).
    //    Docket broadcasts — each table is ONE scan, no subject-key
    //    shuffle; the reference's nearest surface scrubs one table via
    //    IN-subquery delete (clickhouse_backend.py:264, §2 P5) ────────────
    "x_forget_users" -> Q(
      (s, d) => {
        val cust = t(s, d, "customer")
        graft.operators.Privacy.forgetReport(
          Seq(("customer", cust, "c_custkey"),
            ("events", t(s, d, "events"), "user_id"),
            ("orders", t(s, d, "orders"), "o_custkey")),
          cust.where(col("c_custkey") % 23 === 0).select(col("c_custkey")))
      },
      Some("""WITH docket AS (
        |  SELECT DISTINCT c_custkey AS subj FROM customer WHERE c_custkey % 23 = 0)
        |SELECT * FROM (
        |  SELECT 'customer' AS table_name, count(*) AS n_before,
        |    count(d.subj) AS n_deleted, count(*) - count(d.subj) AS n_after
        |  FROM customer c LEFT JOIN docket d ON c.c_custkey = d.subj
        |  UNION ALL
        |  SELECT 'events', count(*), count(d.subj), count(*) - count(d.subj)
        |  FROM events e LEFT JOIN docket d ON e.user_id = d.subj
        |  UNION ALL
        |  SELECT 'orders', count(*), count(d.subj), count(*) - count(d.subj)
        |  FROM orders o LEFT JOIN docket d ON o.o_custkey = d.subj
        |) ORDER BY table_name""".stripMargin)),

    // ── Quality filter report: per-document reject reasons + keep verdict
    //    (the audit artifact a curation run emits alongside the kept set;
    //    pure per-row expressions, zero shuffle). Thresholds are tuned so
    //    each corpus-derivable flag actually FIRES on the fixture data
    //    (too_long > 90 with max 99 tokens, repetition > 0.05 with max
    //    ~0.077) — a flag that can never fire would let a Spark/oracle
    //    divergence in its expression hash-match vacuously. `has_pii`
    //    stays corpus-vacuous (the synthetic text has no emails) and is
    //    covered by FunctionsSpec-level checks of the shared regex instead.
    //    Token array and shingles are STAGED projections — inlining
    //    tokenization into the shingle lambda re-splits the text per
    //    element (O(tokens²), see shinglesFromTokens) ─────────────────────
    "x_quality_flags" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"), size(col("toks")).as("n_tokens"),
          Dedup.shinglesFromTokens(col("toks")).as("shl"))
        .select(col("doc_id"),
          (col("n_tokens") < 20).as("too_short"),
          (col("n_tokens") > 90).as("too_long"),
          ((lit(1.0) - size(array_distinct(col("shl"))).cast("double") /
            size(col("shl")).cast("double")) > 0.05).as("high_repetition"),
          (size(regexp_extract_all(col("text"), lit(Pipeline.EmailRe),
            lit(0))) > 0).as("has_pii"))
        .withColumn("keep",
          !(col("too_short") || col("too_long") ||
            col("high_repetition") || col("has_pii"))),
      Some(s"""SELECT doc_id,
        |  n_tokens < 20 AS too_short,
        |  n_tokens > 90 AS too_long,
        |  rep > 0.05 AS high_repetition,
        |  n_emails > 0 AS has_pii,
        |  NOT (n_tokens < 20 OR n_tokens > 90 OR rep > 0.05 OR n_emails > 0) AS keep
        |FROM (SELECT doc_id,
        |  CAST(len(string_split_regex(lower(text),'\\s+')) AS BIGINT) AS n_tokens,
        |  1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / len(shl) AS rep,
        |  len(regexp_extract_all(text, '${Pipeline.EmailRe}')) AS n_emails
        |  FROM (SELECT doc_id, text, CASE WHEN len(l) < 3 THEN [array_to_string(l,' ')]
        |    ELSE [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN generate_series(1, len(l)-2)] END AS shl
        |    FROM (SELECT doc_id, text, string_split_regex(lower(text),'\\s+') AS l FROM documents)))""".stripMargin)),

    // ── Curation-funnel attrition report: one row per cumulative stage
    //    (ingest → lang → length band → repetition → PII → exact dedup)
    //    with survivors and per-stage drops. Thresholds mirror
    //    x_quality_flags; flags computed in ONE scan, dedup via one
    //    fingerprint-partitioned window, report via a 1-row agg unpivoted
    //    by stack — see CurationFunnel's scaladoc for the 100 TB shape ─────
    "x_filter_funnel" -> Q(
      (s, d) => graft.operators.CurationFunnel.funnelReport(
        t(s, d, "documents"), "en", Pipeline.EmailRe),
      Some(s"""WITH tk AS (SELECT doc_id, lang, text,
        |    string_split_regex(lower(text),'\\s+') AS l FROM documents),
        |sh AS (SELECT doc_id, lang, text, CAST(len(l) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l,' ')]
        |    ELSE [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN generate_series(1, len(l)-2)] END AS shl
        |  FROM tk),
        |fl AS (SELECT doc_id,
        |    coalesce(lang = 'en', FALSE) AS f1,
        |    coalesce(n_tokens BETWEEN 20 AND 90, FALSE) AS f2,
        |    coalesce(1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / len(shl) <= 0.05, FALSE) AS f3,
        |    coalesce(len(regexp_extract_all(text, '${Pipeline.EmailRe}')) = 0, FALSE) AS f4,
        |    md5(text) AS fp
        |  FROM sh),
        |st AS (SELECT doc_id, fp, f1 AS s1, f1 AND f2 AS s2,
        |    f1 AND f2 AND f3 AS s3, f1 AND f2 AND f3 AND f4 AS s4 FROM fl),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY s4 DESC, doc_id) AS rn FROM st),
        |ag AS (SELECT count(*) AS c0,
        |    coalesce(CAST(sum(CAST(s1 AS INT)) AS BIGINT), 0) AS c1,
        |    coalesce(CAST(sum(CAST(s2 AS INT)) AS BIGINT), 0) AS c2,
        |    coalesce(CAST(sum(CAST(s3 AS INT)) AS BIGINT), 0) AS c3,
        |    coalesce(CAST(sum(CAST(s4 AS INT)) AS BIGINT), 0) AS c4,
        |    coalesce(CAST(sum(CAST(s4 AND rn = 1 AS INT)) AS BIGINT), 0) AS c5
        |  FROM rk)
        |SELECT 0 AS stage_idx, 'ingest' AS stage, c0 AS n_out, CAST(0 AS BIGINT) AS n_dropped FROM ag
        |UNION ALL SELECT 1, 'lang', c1, c0 - c1 FROM ag
        |UNION ALL SELECT 2, 'length_band', c2, c1 - c2 FROM ag
        |UNION ALL SELECT 3, 'repetition', c3, c2 - c3 FROM ag
        |UNION ALL SELECT 4, 'pii', c4, c3 - c4 FROM ag
        |UNION ALL SELECT 5, 'exact_dedup', c5, c4 - c5 FROM ag
        |ORDER BY stage_idx""".stripMargin)),

    // ── Contrastive negative sampling: K deterministic pseudo-random
    //    negatives per doc (md5-derived, stable under re-runs); candidate
    //    ids are validated against the corpus by hash equi-join, so only
    //    existing docs are emitted — no assumption of dense ids ────────────
    "x_negative_sample" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val ks = explode(sequence(lit(1), lit(3))).as("k")
        // doc_ids are 0-based: `% n` covers 0..n-1 exactly (a `+ 1` would
        // make doc 0 unsamplable and map n out of the id space)
        val cand = docs.select(col("doc_id"), ks)
          .withColumn("neg_id",
            conv(substring(md5(concat_ws("#",
              col("doc_id").cast("string"), col("k").cast("string"))), 1, 8),
              16, 10).cast("long") % n)
          .where(col("neg_id") =!= col("doc_id"))
        cand.join(docs.select(col("doc_id").as("neg_id")), Seq("neg_id"))
          .select(col("doc_id"), col("k").cast("long").as("k"), col("neg_id"))
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM documents),
        |cand AS (SELECT d.doc_id, k,
        |  CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(k AS VARCHAR)), 1, 8) AS BIGINT)
        |    % (SELECT n FROM n) AS neg_id
        |  FROM documents d, generate_series(1, 3) AS g(k))
        |SELECT c.doc_id, CAST(c.k AS BIGINT) AS k, c.neg_id
        |FROM cand c JOIN documents e ON e.doc_id = c.neg_id
        |WHERE c.neg_id <> c.doc_id""".stripMargin)),

    // ── Quality: repetition ratio (share of duplicated 3-gram shingles —
    //    the classic boilerplate / degenerate-text signal) ──────────────────
    "x_repetition" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          Dedup.shinglesFromTokens(col("toks")).as("shl"))
        .select(col("doc_id"),
          size(col("shl")).cast("long").as("n_shingles"),
          size(array_distinct(col("shl"))).cast("long").as("n_distinct"),
          (lit(1.0) - size(array_distinct(col("shl"))).cast("double") /
            size(col("shl")).cast("double")).as("rep_ratio")),
      Some("""SELECT doc_id, CAST(len(shl) AS BIGINT) AS n_shingles,
        |  CAST(len(list_distinct(shl)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / len(shl) AS rep_ratio
        |FROM (SELECT doc_id, CASE WHEN len(l) < 3 THEN [array_to_string(l,' ')]
        |  ELSE [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN generate_series(1, len(l)-2)] END AS shl
        |  FROM (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l FROM documents))""".stripMargin)),

    // ── Text: md5 fingerprint ──────────────────────────────────────────────
    "x_fingerprint" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
      Some("SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents")),

    // ── Multimodal: binary payload + typed metadata (pure-SQL part) ────────
    "x_multimodal_meta" -> Q(
      (s, d) => Multimodal.withPayloadMeta(
        t(s, d, "documents").select("doc_id", "text"), "text")
        .drop("text"),
      Some("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "md5(text) AS digest, hex(encode(substr(text, 1, 8))) AS head_hex " +
        "FROM documents")),

    // ── Multimodal: stubbed decode via mapPartitions (plumbing is real; the
    //    stub features are md5-derived pure functions so the oracle checks
    //    them exactly) ───────────────────────────────────────────────────────
    "x_multimodal_decode" -> Q(
      (s, d) => Multimodal.decodeFeatures(s, t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH h AS (SELECT doc_id, md5(text) AS hx,
        |  octet_length(encode(text)) AS nb FROM documents)
        |SELECT doc_id,
        |  16 + ascii(substr(hx, 1, 1)) % 16 AS width,
        |  16 + ascii(substr(hx, 2, 1)) % 16 AS height,
        |  1 + nb % 8 AS n_frames,
        |  CAST(list_sum([ascii(c) FOR c IN regexp_extract_all(hx, '.')]) AS DOUBLE) / 32 AS hex_mean
        |FROM h""".stripMargin)),

    // ── Multimodal: the RESIZE step (decode → resize → feature-extract)
    //    — real nearest-neighbor resample for decodable images (bit-exact
    //    on every JVM, so the output digest is a stable dedup/cache key;
    //    unit-spec'd on generated PNGs), md5-derived deterministic fake
    //    for the corpus's utf-8 stand-ins (oracle-mirrored below; same
    //    src geometry formulas as x_multimodal_decode, so decode and
    //    resize agree). Only digest + stats leave the task — the resized
    //    buffer never rematerializes at 100 TB ─────────────────────────────
    "x_multimodal_resize" -> Q(
      (s, d) => Multimodal.resizeFeatures(s, t(s, d, "documents"),
        "doc_id", "text"),
      Some("""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
        |SELECT doc_id,
        |  16 + ascii(substr(hx, 1, 1)) % 16 AS src_w,
        |  16 + ascii(substr(hx, 2, 1)) % 16 AS src_h,
        |  32 AS out_w, 32 AS out_h,
        |  md5(hx || 'x32x32') AS out_digest,
        |  CAST(list_sum([ascii(c) FOR c IN regexp_extract_all(hx, '.')]) AS DOUBLE) / 32 AS out_mean
        |FROM h""".stripMargin)),

    // ── Multimodal: perceptual-hash image dedup — the third stage of the
    //    image pipeline (decode → resize → PHASH-dedup): real 8×8 aHash
    //    for decodable images (scale-invariance law in MultimodalSpec),
    //    fake-geometry hash for the corpus stand-ins so collisions — and
    //    therefore the keep/n_copies verdict — genuinely bind at 500 docs
    //    over 2048 fake-geometry combos. ONE exchange on the 16-char hash ──
    "x_multimodal_phash" -> Q(
      (s, d) => Multimodal.phashFeatures(s, t(s, d, "documents"),
        "doc_id", "text"),
      Some("""WITH ph AS (SELECT doc_id, md5(text) AS hx,
        |    octet_length(encode(text)) AS nb FROM documents),
        |pp AS (SELECT doc_id, substr(md5(
        |    CAST(16 + ascii(substr(hx, 1, 1)) % 16 AS VARCHAR) || 'x' ||
        |    CAST(16 + ascii(substr(hx, 2, 1)) % 16 AS VARCHAR) || 'x' ||
        |    CAST(1 + nb % 8 AS VARCHAR)), 1, 16) AS phash FROM ph)
        |SELECT doc_id, phash,
        |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_copies,
        |  doc_id = min(doc_id) OVER (PARTITION BY phash) AS keep
        |FROM pp""".stripMargin)),

    // ── Salted equi-join: the generic skew mitigation — the hot side's key
    //    gains an md5 salt (8 shards), the dim side is replicated once per
    //    salt, and the join key becomes (key, salt) so one hot user spreads
    //    over 8 partitions instead of stalling one. Result is EXACTLY the
    //    plain join (oracle proves it); the replicate factor trades dim-side
    //    volume for hot-key parallelism. WHO SHOULD OWN JOIN SKEW: measured
    //    head-to-head on a 50%-hot-key fixture (SkewJoinSpec), Spark's own
    //    AQE skew split beats this salt (0.57 s vs 1.70 s vs 1.09 s plain) —
    //    it splits only the hot partition at runtime and costs nothing when
    //    skew is absent. Default to AQE for joins; reach for the salt only
    //    for skewed AGGREGATIONS or static-plan (streaming) joins, where
    //    AQE cannot re-plan ──────────────────────────────────────────────────
    // ── Pre-join skew diagnostic: BEFORE running a big self/equi join,
    //    rank the keys by their output contribution (n_left × n_right) —
    //    the report that decides broadcast vs salt vs AQE-skew-split at
    //    100 TB. Both sides collapse to per-key counts FIRST (two
    //    combiner aggs), the contribution join runs on the key domain
    //    (never raw rows), the total is a 1-row broadcast, and top-20 is
    //    TakeOrdered — no single-partition window over the key domain ────
    "x_join_skew_report" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        def sideCounts(tpe: String, as: String) = ev
          .where(col("event_type") === tpe)
          .groupBy(col("user_id")).agg(count(lit(1)).as(as))
        val contrib = sideCounts("click", "n_left")
          .join(sideCounts("purchase", "n_right"), "user_id")
          .withColumn("contribution", col("n_left") * col("n_right"))
        val total = contrib.agg(
          sum(col("contribution")).as("total_contribution"))
        contrib.crossJoin(broadcast(total))
          .withColumn("share_e4", expr(
            "contribution * 10000 div total_contribution"))
          .orderBy(col("contribution").desc, col("user_id"))
          .limit(20)
          .select("user_id", "n_left", "n_right", "contribution",
            "share_e4")
      },
      Some("""WITH sk_l AS (SELECT user_id, count(*) AS n_left
        |    FROM events WHERE event_type = 'click' GROUP BY 1),
        |sk_r AS (SELECT user_id, count(*) AS n_right
        |    FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sk_c AS (SELECT l.user_id, n_left, n_right,
        |    n_left * n_right AS contribution
        |  FROM sk_l l JOIN sk_r r ON l.user_id = r.user_id),
        |sk_t AS (SELECT CAST(sum(contribution) AS BIGINT) AS tc FROM sk_c)
        |SELECT user_id, n_left, n_right, contribution,
        |  contribution * 10000 // tc AS share_e4
        |FROM sk_c CROSS JOIN sk_t
        |ORDER BY contribution DESC, user_id LIMIT 20""".stripMargin)),

    "x_skew_join_salted" -> Q(
      (s, d) => {
        val nSalts = 8
        val ev = t(s, d, "events")
          .withColumn("salt",
            conv(substring(md5(col("event_id").cast("string")), 1, 2), 16, 10)
              .cast("int") % nSalts)
        val dim = t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .withColumn("salt", explode(sequence(lit(0), lit(nSalts - 1))))
        ev.join(dim,
          ev("user_id") === dim("c_custkey") && ev("salt") === dim("salt"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Schema-evolution union: an old extract missing a column unions
    //    with the current schema (missing column NULL-filled) — the drift
    //    case the reference handles by full reload, handled here as one
    //    declarative merge ──────────────────────────────────────────────────
    "x_schema_evolution" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
        val oldSlice = o.where(col("o_orderkey") % 2 === 0)
          .drop("o_orderpriority") // the column that didn't exist yet
        val newSlice = o.where(col("o_orderkey") % 2 =!= 0)
        oldSlice.unionByName(newSlice, allowMissingColumns = true)
          .groupBy(coalesce(col("o_orderpriority"), lit("<pre-migration>"))
            .as("priority"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .orderBy("priority")
      },
      Some("""WITH u AS (
        |  SELECT o_totalprice, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 2 <> 0
        |)
        |SELECT coalesce(o_orderpriority, '<pre-migration>') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Rarity score: an integer perplexity surrogate — per token,
    //    bits = length(bin(n_docs div docfreq)) ≈ its IDF in bits (the
    //    binary-string length is floor(log2)+1, no float logs); per doc,
    //    the mean of bits² over occurrences, squared to keep one rare
    //    token visible against hundreds of common ones. One token-keyed
    //    join against the docfreq table; n_docs is a driver scalar; the
    //    token frame is persisted because it feeds BOTH the docfreq agg
    //    and the join side (no ReusedExchange across a self-join) ──────────
    "x_rarity_score" -> Q(
      (s, d) => Pipeline.rarityScores(s, d),
      Some(s"""WITH $rarityCtesSql
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |       CAST((bits_sq * 100) // n_toks AS BIGINT) AS rarity_e2
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // ── Bigram-LM fluency score: the CONDITIONAL companion to the rarity
    //    scorer — per adjacent pair (w1,w2), surprisal =
    //    length(bin(c1 div c2)) ≈ -log2 P(w2|w1) in whole bits, where c2 =
    //    corpus bigram count and c1 = w1's bigram-head count (c1 ≥ c2 ≥ 1,
    //    so no smoothing). The CCnet-style LM quality filter with zero
    //    float logs. Instances collapse to per-doc multiplicities FIRST;
    //    the vocab-sized c2/c1 model derives from the collapsed table and
    //    rejoins by equi-join — see LangModel's scaladoc for the 100 TB
    //    shape ───────────────────────────────────────────────────────────
    "x_bigram_lm" -> Q(
      (s, d) => graft.operators.LangModel
        .bigramLmScores(t(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH $bigramLmCtesSql
        |SELECT doc_id, n_bigrams, nll_bits, avg_bits_e2
        |FROM blm ORDER BY doc_id""".stripMargin)),

    // ── Fluency-band filter: the bigram-LM score applied the way a CCNet
    //    deployment applies perplexity — keep the corpus-relative
    //    [p05, p95] band of avg bits/bigram, dropping BOTH tails
    //    (high = token salad, low = boilerplate/templated). Same bounded
    //    distinct-score histogram + driver-scalar bounds shape as
    //    x_filter_length_band; the scored frame persists so the corpus is
    //    LM-scored exactly once, not once per pass ────────────────────────
    "x_filter_fluency_band" -> Q(
      (s, d) => Pipeline.fluencyBand(s, d),
      Some(s"""WITH $bigramLmCtesSql,
        |fb_h AS (SELECT avg_bits_e2, count(*) AS cnt FROM blm GROUP BY 1),
        |fb_c AS (SELECT avg_bits_e2, sum(cnt) OVER (ORDER BY avg_bits_e2) AS cum FROM fb_h),
        |fb_n AS (SELECT count(*) AS n FROM blm),
        |fb_b AS (SELECT
        |  min(CASE WHEN cum >= ceil(0.05 * (SELECT n FROM fb_n)) THEN avg_bits_e2 END) AS lo,
        |  min(CASE WHEN cum >= ceil(0.95 * (SELECT n FROM fb_n)) THEN avg_bits_e2 END) AS hi
        |  FROM fb_c)
        |SELECT doc_id, avg_bits_e2 FROM blm, fb_b
        |WHERE avg_bits_e2 BETWEEN fb_b.lo AND fb_b.hi ORDER BY doc_id""".stripMargin)),

    // ── Curriculum ordering: easy-to-hard by rarity with a total
    //    tie-break — the deterministic "which 20 docs start epoch 1" cut.
    //    Top-k BEFORE ranking (TakeOrdered), so no global sort window;
    //    oracle derives from the SAME sc CTE as x_rarity_score ──────────────
    "x_curriculum_order" -> Q(
      (s, d) => Pipeline.rarityScores(s, d)
        .orderBy(asc("rarity_e2"), asc("doc_id")).limit(20)
        .withColumn("pos", row_number().over(
          Window.orderBy(asc("rarity_e2"), asc("doc_id"))).cast("long"))
        .select("pos", "doc_id", "rarity_e2"),
      Some(s"""WITH $rarityCtesSql,
        |r AS (SELECT doc_id, CAST((bits_sq * 100) // n_toks AS BIGINT) AS rarity_e2 FROM sc)
        |SELECT CAST(row_number() OVER (ORDER BY rarity_e2, doc_id) AS BIGINT) AS pos,
        |       doc_id, rarity_e2
        |FROM r ORDER BY rarity_e2, doc_id LIMIT 20""".stripMargin)),

    // ── Multimodal: overlapping frame-sampling with per-frame integer
    //    energy/peak — the audio/video feature-extraction shape over the
    //    same stand-in payload bytes; oracle recomputes every byte via hex
    //    expansion ──────────────────────────────────────────────────────────
    "x_multimodal_frames" -> Q(
      (s, d) => Multimodal.frameFeatures(s,
        t(s, d, "documents")
          .select(col("doc_id"), expr("encode(text, 'utf-8')").as("payload")),
        "doc_id", "payload"),
      Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
        |  octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT doc_id, hx,
        |  unnest(generate_series(0, (nb-64)//32)) AS frame_idx
        |  FROM h WHERE nb >= 64)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx*32 AS BIGINT) AS start_byte,
        |  CAST(list_sum([CAST('0x'||substr(hx,(frame_idx*32+k)*2+1,2) AS INTEGER)
        |    FOR k IN generate_series(0,63)]) AS BIGINT) AS energy,
        |  CAST(list_max([CAST('0x'||substr(hx,(frame_idx*32+k)*2+1,2) AS INTEGER)
        |    FOR k IN generate_series(0,63)]) AS BIGINT) AS peak
        |FROM f""".stripMargin)),

    // ── Structured Streaming: windowed agg over the events stream, run with
    //    Trigger.AvailableNow for batch parity ───────────────────────────────
    "stream_window_agg" -> Q(
      (s, d) => graft.streaming.StreamingSync.windowedEventCounts(s, d, 5),
      Some("SELECT CAST(floor(epoch_us(ts)/300000000)*300000000 AS BIGINT) AS win_start_us, " +
        "event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events WHERE ts IS NOT NULL GROUP BY 1, 2")),

    // ── Structured Streaming: stream-stream self-join — both sides buffer
    //    in the state store, matches emit exactly once (append mode); same
    //    output contract and oracle as the batch x_range_join ─────────────
    "stream_range_join" -> Q(
      (s, d) => graft.streaming.StreamingSync
        .streamStreamRangeJoin(s, d, beforeUs = 600000000L),
      Some("""SELECT p.user_id, p.event_id AS l_id, epoch_us(p.ts) AS l_us,
        |  c.event_id AS r_id, epoch_us(c.ts) AS r_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin)),

    // ── Structured Streaming: stream-static dimension enrichment — the
    //    static customer table broadcasts into every micro-batch ──────────
    "stream_enrich" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamStaticEnrich(s, d),
      Some("""SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
        |  c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin)),

    // ── Structured Streaming: ingest-time forget screen — stream-static
    //    LEFT ANTI against the same docket as x_forget_users; stateless
    //    (no state store), docket broadcasts, kept set is per-row so the
    //    oracle is drain-invariant (21st twin) ────────────────────────────
    "stream_forget" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamForgetScreen(s, d),
      Some("""SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us
        |FROM events e WHERE NOT EXISTS (
        |  SELECT 1 FROM customer c
        |  WHERE c.c_custkey % 23 = 0 AND c.c_custkey = e.user_id)""".stripMargin)),

    // ── Structured Streaming: ingest-time constraint screen — the
    //    row-local half of x_constraint_audit applied at the door;
    //    stateless per-row verdict ⇒ drain-invariant oracle (22nd twin).
    //    NULL semantics match the batch audit: unverifiable rows screen
    //    out ──────────────────────────────────────────────────────────────
    "stream_constraint_gate" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamConstraintScreen(s, d),
      Some(s"""SELECT doc_id, lang, length(text) AS n_chars
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  AND coalesce(lang IN (${graft.operators.Constraints.DocRules.langsSql}), FALSE)
        |  AND length(text) >= ${graft.operators.Constraints.DocRules.MinLength}""".stripMargin)),

    // ── Structured Streaming: exact dedup with engine state (append mode
    //    emits each distinct key exactly once) ───────────────────────────────
    "stream_dedup" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamingDedup(s, d,
        Seq("user_id", "event_type")),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // ── Structured Streaming: merging session windows — the streaming twin
    //    of w3_sessionize; oracle = gaps-and-islands with the same 30-min
    //    gap, session end = last event + gap ───────────────────────────────
    "stream_sessionize" -> Q(
      (s, d) => graft.streaming.StreamingSync.sessionizedCounts(s, d, 30),
      Some(sessionizeSql)),

    // ── Structured Streaming: the WATERMARKED append-mode sessionization,
    //    oracle-checked as data — a far-future sentinel batch pushes the
    //    final watermark past every real session's end, so the append sink
    //    holds exactly the sessions the watermark closed (= all of them),
    //    each emitted once. Same oracle as stream_sessionize ─────────────────
    "stream_sessionize_wm" -> Q(
      (s, d) => graft.streaming.StreamingSync.sessionizedCountsClosed(s, d, 30),
      Some(sessionizeSql)),

    // ── Structured Streaming: custom per-key state via mapGroupsWithState,
    //    batch-parity with a plain per-user rollup ───────────────────────────
    "stream_user_rollup" -> Q(
      (s, d) => graft.streaming.StreamingSync.statefulUserRollup(s, d),
      Some(userRollupSql)),

    // ── Structured Streaming: the SAME rollup on Spark 4's
    //    transformWithState arbitrary-state API (typed ValueState in the
    //    RocksDB store) — both stateful APIs stay exercised against one
    //    shared batch oracle ────────────────────────────────────────────────
    "stream_rollup_tws" -> Q(
      (s, d) => graft.streaming.StreamingSync.statefulUserRollupTws(s, d),
      Some(userRollupSql)),

    // ── Structured Streaming: per-(source, length-bucket) corpus
    //    histogram maintained as documents land — the online half of
    //    Snapshots.corpusDrift (shape alarms can fire MID-ingest). State
    //    bounded by sources × ~40 buckets; see StreamingSync ───────────────
    "stream_corpus_hist" -> Q(
      (s, d) => graft.streaming.StreamingSync.corpusHistogram(s, d),
      Some("""SELECT coalesce(source, '') AS source,
        |  coalesce(length(bin(CAST(length(text) AS BIGINT))), -1) AS bucket,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // ── Structured Streaming: per-source seen/admitted curation counters
    //    as documents land — the online half of x_filter_funnel (admit-rate
    //    collapse alarms MID-crawl). State = two counters per source; the
    //    admit predicate is the batch oracle verbatim ──────────────────────
    "stream_quality_gate" -> Q(
      (s, d) => graft.streaming.StreamingSync.qualityGate(s, d),
      Some("""SELECT coalesce(source, '') AS source, count(*) AS n_seen,
        |  CAST(sum(CASE WHEN length(text) BETWEEN 20 AND 5000
        |    AND len(string_split_regex(lower(text),'\s+')) >= 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
        |FROM documents GROUP BY 1""".stripMargin)),

    // ── Structured Streaming: last-touch attribution as arriving state —
    //    one carried touch per user, purchases credited the micro-batch
    //    they land (flatMapGroupsWithState, append mode — each purchase
    //    emits exactly once); the online half of x_attribution_last_touch
    //    against the SAME oracle ───────────────────────────────────────────
    "stream_attribution" -> Q(
      (s, d) => graft.streaming.StreamingSync.statefulAttribution(s, d),
      Some(Analytics.attributionSql)),

    // ── Structured Streaming: per-(type, day) ingest counters vs the
    //    static exact median daily volume — the online half of
    //    x_event_spikes, against the SAME oracle (stream counters at drain
    //    end = batch daily counts). The runaway-crawl-batch alarm fires
    //    while the batch is still arriving ─────────────────────────────────
    "stream_event_spikes" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamEventSpikes(s, d),
      Some(Analytics.eventSpikesSql)),

    // ── Structured Streaming: ANN shard monitor — per-cell vector counts
    //    under the x_ann_ivf quantizer as embeddings land (the streamable
    //    seed-cell half of x_cluster_balance; a runaway cell degrades
    //    probe cost/recall and should alarm before the next rebuild).
    //    Same quantizer oracle fragment as every x_ann_* query ─────────────
    "stream_cell_occupancy" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamCellOccupancy(s, d),
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |$lshCellCtesSql
        |SELECT cell, count(*) AS n_vecs FROM bk GROUP BY 1""".stripMargin)),

    // ── Structured Streaming: decontamination at ingest — train docs
    //    screened against the static eval 8-gram fingerprint set the
    //    micro-batch they land (stream-static broadcast join; the online
    //    half of x_decontaminate, with the df-cap on the EVAL side since
    //    an unbounded stream can't know train-side df). Output = per
    //    contaminated doc, its distinct shared discriminative grams ────────
    "stream_decontaminate" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamDecontaminate(s, d),
      Some("""WITH sd_s AS (SELECT doc_id,
        |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER)%100 AS h,
        |    text FROM documents),
        |sd_ev AS (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l
        |  FROM sd_s WHERE h >= 95),
        |sd_tr AS (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l
        |  FROM sd_s WHERE h < 90),
        |sd_evfp AS (SELECT doc_id, md5(sh) AS fp FROM (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(l)<8
        |    THEN [array_to_string(l,' ')]
        |    ELSE [array_to_string(l[i:i+7],' ') FOR i IN generate_series(1,len(l)-7)]
        |    END)) AS sh FROM sd_ev)),
        |sd_cap AS (SELECT fp FROM sd_evfp GROUP BY fp
        |  HAVING count(DISTINCT doc_id) <= 128),
        |sd_trfp AS (SELECT doc_id, md5(sh) AS fp FROM (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(l)<8
        |    THEN [array_to_string(l,' ')]
        |    ELSE [array_to_string(l[i:i+7],' ') FOR i IN generate_series(1,len(l)-7)]
        |    END)) AS sh FROM sd_tr))
        |SELECT t.doc_id, count(*) AS n_hit_grams
        |FROM sd_trfp t JOIN sd_cap USING (fp) GROUP BY 1""".stripMargin)),

    // ── Structured Streaming: the CDC fold as arriving state — one state
    //    row per key, trailing-delete keys dropped after compaction; the
    //    streaming twin of x_cdc_apply against the SAME oracle ─────────────
    "stream_cdc_apply" -> Q(
      (s, d) => graft.streaming.StreamingSync.cdcApply(s, d),
      Some(Relational.cdcApplySql)),

    // ── SCD type-2 history — the warehouse pattern the reference's keyed
    //    upsert destroys: every (user, event_type) VALUE RUN becomes one
    //    validity interval, consecutive repeats collapse, the latest
    //    interval stays open. Everything rides ONE user_id exchange (lag
    //    change detection, run numbering, per-run collapse, valid_to
    //    carry — all the same partition key; budget-pinned) ───────────────
    "x_scd2_history" -> Q(
      (s, d) => graft.operators.Snapshots.scd2History(
        t(s, d, "events"), "user_id", "ts", "event_type", "event_id")
        .select(col("key"), col("value"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current")),
      Some(s"""WITH $scd2CtesSql
        |SELECT key, value, epoch_us(valid_from) AS valid_from_us,
        |  epoch_us(lead(valid_from) OVER (PARTITION BY key ORDER BY run))
        |    AS valid_to_us,
        |  lead(valid_from) OVER (PARTITION BY key ORDER BY run) IS NULL
        |    AS is_current
        |FROM sc_iv""".stripMargin)),

    // ── Structured Streaming: online SCD2 maintenance — the open
    //    interval per key lives in state; a value change EMITS the
    //    closed interval it ends, so append-mode output is exactly the
    //    batch query's closed-interval set (the open tail is state, not
    //    output). ONE exchange feeds the state store ─────────────────────
    "stream_scd2" -> Q(
      (s, d) => singleDrain(s)(
        graft.streaming.StreamingSync.streamingScd2(s, d))
        .select(col("key"), col("value"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us")),
      Some(s"""WITH $scd2CtesSql,
        |sc_cl AS (SELECT key, value,
        |    epoch_us(valid_from) AS valid_from_us,
        |    epoch_us(lead(valid_from) OVER (PARTITION BY key ORDER BY run))
        |      AS valid_to_us
        |  FROM sc_iv)
        |SELECT key, value, valid_from_us, valid_to_us FROM sc_cl
        |WHERE valid_to_us IS NOT NULL""".stripMargin)),

    // ── Entity resolution: blocked fuzzy self-join on part names. Candidate
    //    pairs come from three equi-join blocking passes (shared 3-char
    //    prefix OR suffix, plus one shared block for strings under 6 chars,
    //    whose prefix/suffix regions overlap) — never a cross join — then
    //    only candidates pay the levenshtein verify. FuzzyJoin.scala ───────
    "x_fuzzy_join" -> Q(
      (s, d) => graft.operators.FuzzyJoin.fuzzyPairs(
        t(s, d, "part"), "p_name", maxDist = 3)
        .select(col("left").as("name_a"), col("right").as("name_b"),
          col("dist").cast("long").as("dist")),
      // the p1/p2 CTEs mirror FuzzyJoin's capBuckets guard (blocks larger
      // than maxBlock=10000 are dropped BEFORE pairing) — the oracle must
      // model the cap or the two definitions diverge on any mega-block
      // corpus, exactly like the LSH oracles model DefaultMaxBucket
      Some("""WITH nm AS (SELECT DISTINCT p_name AS n FROM part WHERE p_name IS NOT NULL),
        |p1 AS (SELECT n, k FROM (SELECT n, substr(n, 1, 3) AS k,
        |  count(*) OVER (PARTITION BY substr(n, 1, 3)) AS c FROM nm) WHERE c <= 10000),
        |p2 AS (SELECT n, k FROM (SELECT n, substr(n, -3) AS k,
        |  count(*) OVER (PARTITION BY substr(n, -3)) AS c FROM nm) WHERE c <= 10000),
        |p3 AS (SELECT n, '' AS k FROM (SELECT n, count(*) OVER () AS c
        |  FROM nm WHERE length(n) < 6) WHERE c <= 10000),
        |b1 AS (SELECT a.n AS name_a, b.n AS name_b FROM p1 a JOIN p1 b
        |  ON a.k = b.k AND a.n < b.n),
        |b2 AS (SELECT a.n AS name_a, b.n AS name_b FROM p2 a JOIN p2 b
        |  ON a.k = b.k AND a.n < b.n),
        |b3 AS (SELECT a.n AS name_a, b.n AS name_b FROM p3 a JOIN p3 b
        |  ON a.k = b.k AND a.n < b.n),
        |cand AS (SELECT DISTINCT * FROM (SELECT * FROM b1
        |  UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3))
        |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 3""".stripMargin)),

    // ── Text normalization: the cleaning pass every corpus gets before
    //    tokenize/dedup — lowercase, strip non-alphanumerics, collapse
    //    whitespace. Pure codegen'd string expressions, zero shuffle ───────
    "x_normalize_text" -> Q(
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
          .as("norm"))
        .select(col("doc_id"), substring(col("norm"), 1, 60).as("norm_prefix"),
          length(col("norm")).cast("long").as("n_norm")),
      Some("""WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, substr(norm, 1, 60) AS norm_prefix,
        |  CAST(length(norm) AS BIGINT) AS n_norm FROM n""".stripMargin)),

    // ── Inverted index build: token → document frequency + capped posting
    //    list (first 20 doc_ids). The cap is applied BEFORE the list agg via
    //    a rank window, so no group ever materializes an unbounded posting
    //    array — the guard that matters when one token appears in half the
    //    corpus ─────────────────────────────────────────────────────────────
    "x_inverted_index" -> Q(
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(lower(col("text")), "\\s+"))).as("tok"))
          .where(length(col("tok")) > 0)
        val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
        val post = tok
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
          .where(col("rn") <= 20)
          .groupBy("tok")
          .agg(concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))
        dfreq.join(post, "tok")
      },
      Some("""WITH t2 AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |dfreq AS (SELECT tok, count(*) AS df FROM t2 GROUP BY 1),
        |topd AS (SELECT tok, doc_id FROM (
        |  SELECT tok, doc_id, row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        |  FROM t2) WHERE rn <= 20),
        |post AS (SELECT tok, string_agg(doc_id, ',' ORDER BY doc_id) AS postings
        |  FROM topd GROUP BY 1)
        |SELECT dfreq.tok, CAST(df AS BIGINT) AS df, postings
        |FROM dfreq JOIN post USING (tok)""".stripMargin)),

    // ── Retrieval: tf-idf top-k scoring for a fixed term query — the
    //    online search path the inverted-index build exists to serve.
    //    Integer-exact idf via the established log2-bin trick
    //    (idf_bits = len(bin(N div df)) ≈ log₂(N/df)+1), so score =
    //    Σ tf·idf_bits reproduces bit-for-bit in any engine. Scale: the
    //    term filter applies AT the token explode (rows ∝ query-term
    //    occurrences, not corpus tokens), tf is one combiner agg on
    //    (doc, term), idf is a 3-row broadcast join, and top-k is
    //    TakeOrdered (per-partition heads + driver merge of k) — no
    //    global window, no corpus sort ─────────────────────────────────────
    "x_search_tfidf" -> Q(
      (s, d) => {
        val terms = Seq("join", "merge", "stream")
        // persisted: feeds both the df aggregate and the scoring join —
        // without it Spark recomputes the corpus explode per consumer
        val tf = graft.operators.CacheRegistry.register(
          t(s, d, "documents")
            .select(col("doc_id"),
              explode(split(lower(col("text")), "\\s+")).as("tok"))
            .where(col("tok").isin(terms: _*))
            .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
            .persist())
        val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val idf = tf.groupBy("tok")
          .agg(countDistinct(col("doc_id")).as("df"))
          .crossJoin(broadcast(nDocs)) // 1-row corpus count vs 3 term rows
          .select(col("tok"),
            length(bin(expr("n_docs div df"))).cast("long").as("idf_bits"))
        tf.join(broadcast(idf), Seq("tok"))
          .groupBy("doc_id")
          .agg(sum(col("tf") * col("idf_bits")).as("score"))
          .orderBy(desc("score"), asc("doc_id"))
          .limit(20)
      },
      Some("""WITH st_f AS (SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok IN ('join', 'merge', 'stream') GROUP BY 1, 2),
        |st_n AS (SELECT count(*) AS n_docs FROM documents),
        |st_idf AS (SELECT tok,
        |    CAST(length(bin(CAST((SELECT n_docs FROM st_n) // count(DISTINCT doc_id) AS BIGINT))) AS BIGINT) AS idf_bits
        |  FROM st_f GROUP BY tok)
        |SELECT f.doc_id, CAST(sum(f.tf * i.idf_bits) AS BIGINT) AS score
        |FROM st_f f JOIN st_idf i USING (tok)
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // ── Embedding hygiene: per-label norm outliers — Tukey fences
    //    (1.5×IQR, integer arithmetic) on the quantized squared norm flag
    //    corrupt/degenerate vectors before they poison ANN cells or
    //    near-dup verdicts. Exact rank-based quartiles per label (the
    //    at-scale variant swaps in approx_percentile per label) ────────────
    "x_embed_outliers" -> Q(
      (s, d) => {
        val v = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            Similarity.quantize(col("embedding")).as("vq"))
          .withColumn("norm_q",
            expr("aggregate(vq, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
          .drop("vq")
        val byLabel = Window.partitionBy(col("label"))
        val w = byLabel.orderBy(col("norm_q"), col("vec_id"))
        val fences = v
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(byLabel))
          .groupBy("label")
          .agg(max(when(col("rn") === ceil(col("n") * 0.25), col("norm_q"))).as("q1"),
            max(when(col("rn") === ceil(col("n") * 0.75), col("norm_q"))).as("q3"))
          .select(col("label"),
            expr("q1 - 3 * (q3 - q1) div 2").as("lo"),
            expr("q3 + 3 * (q3 - q1) div 2").as("hi"))
        v.join(broadcast(fences), Seq("label"))
          .where(col("norm_q") < col("lo") || col("norm_q") > col("hi"))
          .select(col("label"), col("vec_id"), col("norm_q"), col("lo"), col("hi"))
      },
      Some("""WITH eo_v AS (SELECT vec_id, label,
        |    CAST(list_sum([CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT) *
        |      CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT) FOR x IN embedding]) AS BIGINT) AS norm_q
        |  FROM embeddings),
        |eo_r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY norm_q, vec_id) AS rn,
        |    count(*) OVER (PARTITION BY label) AS n FROM eo_v),
        |eo_q AS (SELECT label,
        |    max(CASE WHEN rn = ceil(0.25*n) THEN norm_q END) AS q1,
        |    max(CASE WHEN rn = ceil(0.75*n) THEN norm_q END) AS q3
        |  FROM eo_r GROUP BY label),
        |eo_f AS (SELECT label, q1 - 3*(q3-q1)//2 AS lo, q3 + 3*(q3-q1)//2 AS hi FROM eo_q)
        |SELECT label, vec_id, norm_q, lo, hi
        |FROM eo_v JOIN eo_f USING (label)
        |WHERE norm_q < lo OR norm_q > hi""".stripMargin)),

    // ── Corpus analytics: tokenizer fertility per language — BPE-ish
    //    subword tokens per whitespace word (the tokenizer-fit number
    //    multilingual corpus reports quote; a lang whose fertility runs
    //    high is under-served by the vocab and pays more sequence length
    //    per sentence). Integer-exact: corpus sums, ×10⁴ ratio ─────────────
    "x_tok_fertility" -> Q(
      (s, d) => t(s, d, "documents")
        .groupBy("lang")
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_ws"),
          sum(TextAnalysis.bpeishCount(col("text"))).as("n_bpeish"))
        .withColumn("fertility_e4", expr("(n_bpeish * 10000) div n_ws")),
      Some("""SELECT lang,
        |  CAST(sum(len(string_split_regex(lower(text),'\s+'))) AS BIGINT) AS n_ws,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS n_bpeish,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) * 10000
        |    // sum(len(string_split_regex(lower(text),'\s+'))) AS BIGINT) AS fertility_e4
        |FROM documents GROUP BY lang""".stripMargin)),

    // ── Corpus analytics: cross-source duplication matrix — WHERE is the
    //    corpus copying from? Minhash-LSH candidate pairs rolled up by the
    //    (source_a, source_b) of their endpoints (sorted so the matrix is
    //    upper-triangular). The same bounded candidate set as every LSH
    //    op; the source lookup is a broadcast-size dimension join at any
    //    corpus scale (sources ≪ docs) ─────────────────────────────────────
    "x_dup_source_matrix" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
        cand
          .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
          .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
          .select(least(col("src_a"), col("src_b")).as("source_lo"),
            greatest(col("src_a"), col("src_b")).as("source_hi"))
          .groupBy("source_lo", "source_hi")
          .agg(count(lit(1)).as("n_cand_pairs"))
      },
      Some(s"""WITH $candCtesSql
        |SELECT least(sa.source, sb.source) AS source_lo,
        |  greatest(sa.source, sb.source) AS source_hi,
        |  CAST(count(*) AS BIGINT) AS n_cand_pairs
        |FROM cand c
        |JOIN documents sa ON sa.doc_id = c.a
        |JOIN documents sb ON sb.doc_id = c.b
        |GROUP BY 1, 2""".stripMargin)),

    // ── Corpus analytics: n-gram novelty — per doc (in doc_id order, the
    //    ingestion order), how many of its distinct trigrams were never
    //    seen in ANY earlier document. The marginal-contribution curve a
    //    corpus build watches to decide when another crawl shard stops
    //    adding content. One shuffle on the gram hash (first-seen = min
    //    doc_id, a partial-aggregating min), one per-doc rollup ────────────
    "x_ngram_novelty" -> Q(
      (s, d) => {
        val g = graft.operators.CacheRegistry.register(
          t(s, d, "documents")
            // tokens MUST be a named column before shingling: an unnamed
            // tokens(text) is substituted into every element_at of the
            // shingle lambda — O(tokens²) re-tokenization per doc (the
            // documented trap; measured here as a 10.2 s cold build at
            // sf0.1 vs ~3.8 s staged — reps 2-3 hid it behind the
            // persist, but at 100 TB the cold build IS the cost)
            .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
            .select(col("doc_id"), explode(array_distinct(
              Dedup.shinglesFromTokens(col("toks"), 3))).as("sh"))
            .select(col("doc_id"), md5(col("sh")).as("h"))
            .persist())
        // r15: the old shape re-joined EVERY gram instance to the
        // first-seen table (an instance-scale equi-join + an extra
        // instance-scale exchange) only to count, per doc, how many of
        // its grams it was first to see. But that count is derivable
        // from the first-seen table alone: group it by first_doc. Two
        // instance-scale partial-aggregating exchanges (h → first_doc;
        // doc_id → n_grams) and one doc-level left join replace
        // agg + join + instance-scale re-agg — identical output (a doc
        // with zero novel grams coalesces to 0 exactly as the old
        // sum(when) produced). Guide §2.4: same result, one fewer
        // corpus-scale shuffle, no corpus-scale join.
        val novel = g.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
          .groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_novel"))
        g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
          .join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .withColumn("novelty_e4", expr("(n_novel * 10000) div n_grams"))
      },
      Some("""WITH nv_t AS (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l FROM documents),
        |nv_g AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(l) < 3 THEN [array_to_string(l,' ')]
        |    ELSE [l[i] || ' ' || l[i+1] || ' ' || l[i+2] FOR i IN generate_series(1, len(l)-2)] END)) AS sh
        |  FROM nv_t),
        |nv_h AS (SELECT doc_id, md5(sh) AS h FROM nv_g),
        |nv_f AS (SELECT h, min(doc_id) AS first_doc FROM nv_h GROUP BY h)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS novelty_e4
        |FROM nv_h g JOIN nv_f f USING (h) GROUP BY g.doc_id""".stripMargin)),

    // ── Dedup: exact shared-substring spans (Lee et al. 2021 substring-
    //    level dedup) — a long verbatim span between two documents is a
    //    near-dup signal even when set-overlap (Jaccard/containment) stays
    //    low because the rest of the texts diverge. Diagonal run-length
    //    over a df-capped 8-gram posting join; see Dedup.substringSpans
    //    for the 100 TB cost contract (pair fan-out ≤ maxDf² per gram) ────
    "x_dedup_substring" -> Q(
      (s, d) => Dedup.substringSpans(t(s, d, "documents"), "doc_id", "text",
        n = 8, minSpanTokens = 16, maxDf = 64),
      Some(s"""WITH sp_t AS (SELECT doc_id, string_split_regex(lower(text),'\\s+') AS l FROM documents),
        |sp_g AS (SELECT doc_id, i AS pos, md5(array_to_string(l[i:i+7],' ')) AS h
        |  FROM sp_t, LATERAL (SELECT unnest(generate_series(1, greatest(0, len(l)-7))) AS i)
        |  QUALIFY row_number() OVER (PARTITION BY doc_id, h ORDER BY pos) <= ${Dedup.MaxGramRepeatsPerDoc}),
        |sp_df AS (SELECT h FROM sp_g GROUP BY h HAVING count(DISTINCT doc_id) <= 64),
        |sp_p AS (SELECT a.doc_id AS a, b.doc_id AS b, a.pos AS pa, b.pos AS pb
        |  FROM (SELECT g.* FROM sp_g g JOIN sp_df USING (h)) a
        |  JOIN (SELECT g.* FROM sp_g g JOIN sp_df USING (h)) b USING (h)
        |  WHERE a.doc_id < b.doc_id),
        |sp_i AS (SELECT a, b, pa - pb AS diff, pa,
        |    pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS isl
        |  FROM sp_p),
        |sp_r AS (SELECT a, b, diff, isl, count(*) AS run FROM sp_i GROUP BY 1,2,3,4)
        |SELECT a AS a_id, b AS b_id, CAST(max(run) + 7 AS BIGINT) AS max_span_toks
        |FROM sp_r GROUP BY 1,2 HAVING max(run) + 7 >= 16""".stripMargin)),

    // ── Dedup: the removal plan substring dedup exists for — per document
    //    that repeats a ≥16-token span first seen in a lower-id document,
    //    the merged 1-based token ranges to cut (classic running-max
    //    interval merge, partitioned per doc). The earliest occurrence
    //    survives, mirroring exact-dedup's min-id rule ────────────────────
    "x_dedup_substring_mask" -> Q(
      (s, d) => Dedup.substringRemovalRanges(t(s, d, "documents"), "doc_id",
        "text", n = 8, minSpanTokens = 16, maxDf = 64),
      Some(s"""WITH $maskCtesSql
        |SELECT doc_id, cut_start, cut_len FROM sm_z""".stripMargin)),

    // ── The surgery executive report: per source, how much the substring
    //    mask would actually remove — docs touched, tokens cut, the cut
    //    ratio in e-4. What a curation run reads before deciding span
    //    surgery vs whole-doc dedup for a source ──────────────────────────
    "x_surgery_report" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tok"))
        val cuts = Dedup.substringRemovalRanges(t(s, d, "documents"),
          "doc_id", "text", n = 8, minSpanTokens = 16, maxDf = 64)
          .groupBy("doc_id")
          .agg(sum(col("cut_len")).as("cut_toks"))
        docs.join(cuts, Seq("doc_id"), "left")
          .na.fill(0L, Seq("cut_toks"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cut_toks") > 0, 1L).otherwise(0L)).as("n_masked"),
            sum(col("n_tok")).as("tokens_total"),
            sum(col("cut_toks")).as("tokens_cut"))
          .withColumn("cut_ratio_e4",
            expr("(tokens_cut * 10000) div tokens_total"))
      },
      Some(s"""WITH $maskCtesSql,
        |sr_c AS (SELECT doc_id, CAST(sum(cut_len) AS BIGINT) AS cut_toks
        |  FROM sm_z GROUP BY doc_id),
        |sr_d AS (SELECT d.doc_id, d.source,
        |    CAST(len(string_split_regex(lower(d.text),'\\s+')) AS BIGINT) AS n_tok,
        |    COALESCE(c.cut_toks, 0) AS cut_toks
        |  FROM documents d LEFT JOIN sr_c c USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN cut_toks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(cut_toks) AS BIGINT) AS tokens_cut,
        |  CAST(sum(cut_toks) * 10000 // sum(n_tok) AS BIGINT) AS cut_ratio_e4
        |FROM sr_d GROUP BY source""".stripMargin)),

    // ── Decontamination, surgically: instead of dropping every train doc
    //    that overlaps the eval split (x_decontaminate), the merged token
    //    ranges INSIDE each train doc that verbatim-match an eval doc for
    //    ≥16 tokens — cut the span, keep the document. Same h-split as
    //    x_decontaminate (eval = top 5% of the md5 hash, train < 90) ───────
    "x_decontaminate_mask" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        val docs = t(s, d, "documents")
        Contamination.decontaminationMask(
          docs.where(h >= 95), docs.where(h < 90), "doc_id", "text",
          n = 8, minSpanTokens = 16, maxDocFreq = 128)
      },
      Some(s"""WITH dm_s AS (SELECT doc_id,
        |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS INTEGER)%100 AS hs,
        |    text FROM documents),
        |dm_t AS (SELECT doc_id, string_split_regex(lower(text),'\\s+') AS l FROM dm_s WHERE hs < 90),
        |dm_e AS (SELECT doc_id, string_split_regex(lower(text),'\\s+') AS l FROM dm_s WHERE hs >= 95),
        |dm_tg AS (SELECT doc_id AS train_id, i AS pos, md5(array_to_string(l[i:i+7],' ')) AS h
        |  FROM dm_t, LATERAL (SELECT unnest(generate_series(1, greatest(0, len(l)-7))) AS i)
        |  QUALIFY row_number() OVER (PARTITION BY train_id, h ORDER BY pos) <= ${Dedup.MaxGramRepeatsPerDoc}),
        |dm_eg AS (SELECT doc_id AS eval_id, i AS pos, md5(array_to_string(l[i:i+7],' ')) AS h
        |  FROM dm_e, LATERAL (SELECT unnest(generate_series(1, greatest(0, len(l)-7))) AS i)
        |  QUALIFY row_number() OVER (PARTITION BY eval_id, h ORDER BY pos) <= ${Dedup.MaxGramRepeatsPerDoc}),
        |dm_df AS (SELECT h FROM dm_tg GROUP BY h HAVING count(DISTINCT train_id) <= 128),
        |dm_p AS (SELECT eval_id, train_id, e.pos AS pe, t.pos AS pt
        |  FROM dm_eg e JOIN (SELECT g.* FROM dm_tg g JOIN dm_df USING (h)) t USING (h)),
        |dm_i AS (SELECT eval_id, train_id, pe - pt AS diff, pe, pt,
        |    pe - row_number() OVER (PARTITION BY eval_id, train_id, pe - pt ORDER BY pe) AS isl
        |  FROM dm_p),
        |dm_r AS (SELECT eval_id, train_id, diff, isl, count(*) AS run, min(pt) AS pt_start
        |  FROM dm_i GROUP BY 1,2,3,4),
        |dm_c AS (SELECT DISTINCT train_id AS doc, CAST(pt_start AS BIGINT) AS st,
        |    CAST(pt_start + run + 6 AS BIGINT) AS en
        |  FROM dm_r WHERE run + 7 >= 16),
        |dm_m AS (SELECT doc, st, en,
        |    CASE WHEN st > COALESCE(max(en) OVER (PARTITION BY doc ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS new_grp
        |  FROM dm_c),
        |dm_gg AS (SELECT doc, st, en, sum(new_grp) OVER (PARTITION BY doc
        |    ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM dm_m)
        |SELECT doc AS doc_id, min(st) AS cut_start,
        |  CAST(max(en) - min(st) + 1 AS BIGINT) AS cut_len
        |FROM dm_gg GROUP BY doc, grp""".stripMargin)),

    // ── Packing: serpentine LPT shard assembly — size-desc docs dealt
    //    down-and-back across 8 bins per lang, pairing heavy rows with
    //    light ones each pass (the balanced-shard layout; x_pack_greedy is
    //    the token-budget layout). One window shuffle, oracle-exact ────────
    "x_pack_serpentine" -> Q(
      (s, d) => graft.operators.Pack.serpentine(t(s, d, "documents"), 8),
      Some("""SELECT doc_id, lang, n_tokens,
        |  CAST(CASE WHEN r < 8 THEN r ELSE 15 - r END AS BIGINT) AS bin
        |FROM (SELECT doc_id, lang, n_tokens,
        |    (row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) - 1) % 16 AS r
        |  FROM (SELECT doc_id, lang,
        |    CAST(len(string_split_regex(lower(text),'\s+')) AS BIGINT) AS n_tokens
        |    FROM documents))""".stripMargin)),

    // ── Packing: best-fit-decreasing capacity packing — true no-straddle
    //    bin packing (fullest bin that still fits, else a new bin) per
    //    (lang, md5-shard) group. Sequential bin state is the documented
    //    flatMapGroups last-resort; PackSpec pins the capacity invariant,
    //    FFD-vs-next-fit dominance, and determinism. The fold IS
    //    deterministic for a fixed input order, so (round-9 ask #1) the
    //    oracle replays it as a DuckDB RECURSIVE CTE: one recursion level
    //    places one doc per (lang, shard) group, carrying the bin-fill
    //    LIST as recursion state; best bin = min index among fitting bins
    //    at max fill (the Scala loop's strict-> first-winner tie-break).
    //    Recursion depth = max docs per group — bounded by the shard knob,
    //    the same bound that caps the Scala group state ─────────────────────
    "x_pack_bestfit" -> Q(
      (s, d) => graft.operators.Pack.bestFitDecreasing(
        t(s, d, "documents"), cap = 256L, shards = 16),
      Some("""WITH RECURSIVE
        |bf_base AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER) % 16 AS shard,
        |    CAST(coalesce(len(string_split_regex(lower(text),'\s+')), 0) AS BIGINT) AS n_tokens
        |  FROM documents WHERE doc_id IS NOT NULL),
        |bf_seq AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang, shard
        |    ORDER BY n_tokens DESC, doc_id) AS rk
        |  FROM bf_base),
        |bf_rec AS (
        |  SELECT lang, shard, 0::BIGINT AS rk, CAST([] AS BIGINT[]) AS fills,
        |    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
        |    CAST(NULL AS BIGINT) AS bin, CAST(NULL AS BIGINT) AS bin_fill
        |  FROM (SELECT DISTINCT lang, shard FROM bf_base)
        |  UNION ALL
        |  SELECT lang, shard, rk,
        |    CASE WHEN best IS NULL THEN list_append(fills, n_tokens)
        |         ELSE [CASE WHEN i = best THEN fills[i] + n_tokens ELSE fills[i] END
        |               FOR i IN generate_series(1, len(fills))] END AS fills,
        |    doc_id, n_tokens,
        |    CAST(coalesce(best, len(fills) + 1) - 1 AS BIGINT) AS bin,
        |    CASE WHEN best IS NULL THEN n_tokens ELSE fills[best] + n_tokens END AS bin_fill
        |  FROM (
        |    SELECT b.lang, b.shard, b.rk, r.fills, b.doc_id, b.n_tokens,
        |      list_min([i FOR i IN generate_series(1, len(r.fills))
        |                IF r.fills[i] + b.n_tokens <= 256
        |                AND r.fills[i] = list_max([r.fills[j]
        |                  FOR j IN generate_series(1, len(r.fills))
        |                  IF r.fills[j] + b.n_tokens <= 256])]) AS best
        |    FROM bf_rec r JOIN bf_seq b
        |      ON b.lang = r.lang AND b.shard = r.shard AND b.rk = r.rk + 1))
        |SELECT doc_id, lang, CAST(shard AS INTEGER) AS shard, n_tokens,
        |  CAST(bin AS INTEGER) AS bin, bin_fill
        |FROM bf_rec WHERE doc_id IS NOT NULL""".stripMargin)),

    // ── Retrieval: BM25 top-k — the tf-saturating, length-normalized
    //    upgrade of x_search_tfidf (k1=1.2, b=0.75). Float work is kept
    //    engine-exact by (a) writing the per-term score as ONE arithmetic
    //    expression evaluated identically by both engines (IEEE doubles
    //    are deterministic given the same tree) and (b) quantizing each
    //    term's score to integer micro-units BEFORE the per-doc sum, so
    //    summation order (Spark partial aggs vs DuckDB) cannot change the
    //    result. Same broadcast shape as tf-idf: corpus stats (3 term
    //    rows + one scalar) broadcast, corpus side one narrow pass ────────
    "x_search_bm25" -> Q(
      (s, d) => Pipeline.bm25TopK(s, d),
      Some(s"""WITH $bm25CtesSql
        |SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_u FROM bm_s
        |GROUP BY 1 ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin)),

    // ── Hybrid search: reciprocal-rank fusion of the BM25 lexical top-20
    //    and the vector dot-product top-20 for one probe (the exact
    //    search ranks by quantized dot product, which is norm-weighted, not
    //    angular — the oracle mirrors dot ordering) — the standard
    //    two-leg retrieval stack (lexical catches exact terms, vectors
    //    catch paraphrase; RRF needs no score calibration between them).
    //    rrf = Σ 10000 // (60 + rank), integer-exact, absent leg
    //    contributes 0. The corpus ships vec_id ≡ doc_id so the legs
    //    join directly. Both legs are the EXISTING operators' shapes
    //    (bm25TopK shared verbatim; the vector leg is Similarity.topK over
    //    All with a 1-row broadcast probe — at scale, a Nearest probe);
    //    the fusion itself touches only 20+20 ranked rows ─────────────────
    "x_hybrid_search" -> Q(
      (s, d) => {
        val lex = Pipeline.bm25TopK(s, d)
          .withColumn("rank_lex", row_number().over(
            Window.orderBy(desc("score_u"), asc("doc_id"))).cast("long"))
          .select(col("doc_id"), col("rank_lex"))
        val e = t(s, d, "embeddings")
        val vec = Similarity.topK(
          e.where(col("vec_id") === 0), e, "vec_id", "embedding", 20, All, Dot)
          .select(col("nid").as("doc_id"), col("rank").as("rank_vec"))
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
            expr("coalesce(10000 div (60 + rank_lex), 0L) + " +
              "coalesce(10000 div (60 + rank_vec), 0L)").as("rrf"))
          .orderBy(desc("rrf"), asc("doc_id")).limit(10)
      },
      Some(s"""WITH $bm25CtesSql,
        |hb_l AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY score_u DESC, doc_id)
        |      AS BIGINT) AS rank_lex
        |  FROM (SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_u
        |    FROM bm_s GROUP BY 1 ORDER BY score_u DESC, doc_id LIMIT 20)),
        |hb_e AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |hb_v AS (SELECT doc_id, rank_vec FROM (
        |    SELECT b.vec_id AS doc_id,
        |      CAST(row_number() OVER (ORDER BY $dotSql DESC, b.vec_id)
        |        AS BIGINT) AS rank_vec
        |    FROM hb_e b, (SELECT vq FROM hb_e WHERE vec_id = 0) a
        |    WHERE b.vec_id <> 0)
        |  WHERE rank_vec <= 20)
        |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |  l.rank_lex, v.rank_vec,
        |  CAST(COALESCE(10000 // (60 + l.rank_lex), 0) +
        |    COALESCE(10000 // (60 + v.rank_vec), 0) AS BIGINT) AS rrf
        |FROM hb_l l FULL OUTER JOIN hb_v v ON l.doc_id = v.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // ── Needle insertion (long-context eval prep): plant a uniquely
    //    identifiable needle sentence at an md5-derived token depth in
    //    each document and emit the exact character offset a
    //    needle-in-a-haystack harness asserts retrieval against. Depth is
    //    a pure function of doc_id (the eval reproduces); the offset is
    //    integer-exact on both engines because the corpus text is
    //    single-space-joined (same documented shortcut as
    //    x_filter_gopher's n_wchars, exact here by construction since we
    //    rebuild the haystack from the token array). Per-row array
    //    slicing — zero Exchange, pinned ───────────────────────────────────
    "x_needle_insert" -> Q(
      (s, d) => {
        val n = size(col("toks"))
        val h = conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":needle"))), 1, 8), 16, 10).cast("long")
        val needle = concat(lit("the magic number is "),
          (col("doc_id") * 7 + 13).cast("string"))
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= 4)
          .select(col("doc_id"), col("toks"), needle.as("needle"),
            (h % (n + 1)).cast("int").as("depth"))
          .select(col("doc_id"), col("depth").cast("long").as("depth"),
            size(col("toks")).cast("long").as("n_toks"),
            // leading/trailing separators only where a neighbor exists —
            // concat_ws would inject one around empty edge slices
            concat(
              when(col("depth") === 0, lit("")).otherwise(concat(
                concat_ws(" ", slice(col("toks"), lit(1), col("depth"))),
                lit(" "))),
              col("needle"),
              when(col("depth") === size(col("toks")), lit("")).otherwise(
                concat(lit(" "), concat_ws(" ",
                  slice(col("toks"), col("depth") + 1,
                    size(col("toks")) - col("depth"))))))
              .as("haystack"),
            // char offset of the needle = joined prefix length + 1
            // separator (0 when the needle leads)
            when(col("depth") === 0, 0L).otherwise(
              length(concat_ws(" ",
                slice(col("toks"), lit(1), col("depth")))).cast("long") + 1)
              .as("char_offset"))
          .select(col("doc_id"), col("depth"), col("n_toks"),
            col("char_offset"),
            expr("depth * 10000 div n_toks").as("depth_bp"),
            md5(col("haystack")).as("haystack_fp"))
      },
      Some("""WITH ni_t AS (SELECT doc_id,
        |    string_split_regex(lower(text),'\s+') AS l FROM documents),
        |ni_d AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n,
        |    'the magic number is ' || CAST(doc_id * 7 + 13 AS VARCHAR)
        |      AS needle,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':needle'),
        |      1, 8) AS BIGINT) % (len(l) + 1) AS depth
        |  FROM ni_t WHERE len(l) >= 4),
        |ni_h AS (SELECT doc_id, depth, n AS n_toks, needle,
        |    CASE WHEN depth = 0 THEN ''
        |      ELSE array_to_string(l[1:depth], ' ') || ' ' END ||
        |    needle ||
        |    CASE WHEN depth = CAST(n AS BIGINT) THEN ''
        |      ELSE ' ' || array_to_string(l[depth+1:n], ' ') END AS haystack,
        |    CASE WHEN depth = 0 THEN 0
        |      ELSE length(array_to_string(l[1:depth], ' ')) + 1
        |      END AS char_offset
        |  FROM ni_d)
        |SELECT doc_id, CAST(depth AS BIGINT) AS depth, n_toks,
        |  CAST(char_offset AS BIGINT) AS char_offset,
        |  CAST(depth * 10000 // n_toks AS BIGINT) AS depth_bp,
        |  md5(haystack) AS haystack_fp
        |FROM ni_h""".stripMargin)),

    // ── Epoch shuffle manifest: the reproducible global permutation a
    //    data loader reads training shards in — every epoch must visit
    //    each doc exactly once in an order that's shuffled yet
    //    re-derivable (resume-from-step, run-to-run repro). shard =
    //    hash₁ % 8, in-shard position = rank of hash₂ — an md5-keyed
    //    permutation with NO global sort: the only exchange is the 8-way
    //    shard hash partition and each shard sorts independently (at
    //    100 TB, shard count scales with the cluster and each window
    //    sorts 1/S of the corpus). Epoch-keyed ('e1:') so the next
    //    epoch's manifest is a fresh permutation of the same docs ─────────
    "x_shuffle_epoch" -> Q(
      (s, d) => {
        val h = md5(concat(lit("e1:"), col("doc_id").cast("string")))
        t(s, d, "documents")
          .select(col("doc_id"),
            (conv(substring(h, 1, 8), 16, 10).cast("long") % 8).as("shard"),
            conv(substring(h, 9, 8), 16, 10).cast("long").as("ord"))
          .withColumn("pos", row_number().over(
            Window.partitionBy("shard").orderBy(col("ord"), col("doc_id")))
            .cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some("""WITH se_h AS (SELECT doc_id,
        |    md5('e1:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |se_k AS (SELECT doc_id,
        |    CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS shard,
        |    CAST('0x' || substr(h, 9, 8) AS BIGINT) AS ord
        |  FROM se_h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS BIGINT) AS pos
        |FROM se_k""".stripMargin)),

    // ── Data selection: DSIR-style importance weights (Xie et al. 2023,
    //    arXiv:2302.03169) — score every document by how much its hashed
    //    unigram distribution looks like a target domain (here lang='en')
    //    vs the raw corpus. log(p_target/p_raw) is quantized to integer
    //    bit-lengths (log2 via length(bin(x)), the same trick the tf-idf
    //    idf uses) so both engines compute identical integers: per-bucket
    //    weight = bitlen((cnt_t+1)·N_r) − bitlen((cnt_r+1)·N_t), and a
    //    doc's weight is the sum over its tokens. Scale: bucket stats are
    //    64 rows (broadcast); the corpus side is one explode + one
    //    shuffle-free map, then a per-doc partial-agg sum ─────────────────
    "x_importance_weights" -> Q(
      (s, d) => {
        val tok = graft.operators.CacheRegistry.register(
          t(s, d, "documents")
            .select(col("doc_id"), col("lang"),
              explode(TextAnalysis.tokens(col("text"))).as("tok"))
            .withColumn("b",
              conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int") % 64)
            .persist())
        val raw = tok.groupBy("b").agg(count(lit(1)).as("cnt_r"))
        val tgt = tok.where(col("lang") === "en")
          .groupBy("b").agg(count(lit(1)).as("cnt_t"))
        val nTot = tok.agg(count(lit(1)).as("n_r"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
        val buckets = raw.join(tgt, Seq("b"), "left")
          .na.fill(0L, Seq("cnt_t"))
          .crossJoin(broadcast(nTot)) // 1-row totals vs ≤64 bucket rows
          .select(col("b"),
            (length(bin(expr("(cnt_t + 1) * n_r"))) -
              length(bin(expr("(cnt_r + 1) * n_t")))).cast("long").as("w_bits"))
        tok.join(broadcast(buckets), Seq("b"))
          .groupBy("doc_id").agg(sum(col("w_bits")).as("w_bits"))
      },
      Some("""WITH iw_tok AS (SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(tok), 1, 2) AS INTEGER) % 64 AS b
        |  FROM (SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(text),'\s+')) AS tok FROM documents)),
        |iw_raw AS (SELECT b, count(*) AS cnt_r FROM iw_tok GROUP BY b),
        |iw_tgt AS (SELECT b, count(*) AS cnt_t FROM iw_tok WHERE lang = 'en' GROUP BY b),
        |iw_n AS (SELECT count(*) AS n_r,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t FROM iw_tok),
        |iw_b AS (SELECT r.b,
        |    CAST(length(bin(CAST((COALESCE(t.cnt_t, 0) + 1) * (SELECT n_r FROM iw_n) AS BIGINT))) -
        |      length(bin(CAST((r.cnt_r + 1) * (SELECT n_t FROM iw_n) AS BIGINT))) AS BIGINT) AS w_bits
        |  FROM iw_raw r LEFT JOIN iw_tgt t USING (b))
        |SELECT k.doc_id, CAST(sum(b.w_bits) AS BIGINT) AS w_bits
        |FROM iw_tok k JOIN iw_b b USING (b) GROUP BY 1""".stripMargin)),

    // ── Corpus analytics: EXACT per-source length quantiles (p50/p90 by
    //    the rank-at-ceil(q·n) rule) — the thresholds a length-band
    //    curation filter is tuned from. Exactness is the point here (the
    //    oracle can check it); the at-scale variant of the same readout is
    //    approx_percentile over the identical grouping, which drops the
    //    per-source sort for a sketch merge. Both engines evaluate
    //    ceil(q·n) on IEEE doubles — identical trees, identical picks ─────
    "x_length_quantiles" -> Q(
      (s, d) => {
        val bySrc = Window.partitionBy(col("source"))
        val w = bySrc.orderBy(col("n_chars"), col("doc_id"))
        t(s, d, "documents")
          .select(col("source"), col("n_chars"), col("doc_id"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(bySrc))
          .groupBy("source").agg(
            max(when(col("rn") === ceil(col("n") * 0.5), col("n_chars"))).as("p50"),
            max(when(col("rn") === ceil(col("n") * 0.9), col("n_chars"))).as("p90"),
            max(col("n_chars")).as("max_chars"),
            max(col("n")).cast("long").as("n_docs"))
      },
      Some("""SELECT source,
        |  max(CASE WHEN rn = ceil(n * 0.5) THEN n_chars END) AS p50,
        |  max(CASE WHEN rn = ceil(n * 0.9) THEN n_chars END) AS p90,
        |  max(n_chars) AS max_chars, CAST(max(n) AS BIGINT) AS n_docs
        |FROM (SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |GROUP BY source""".stripMargin)),

    // ── Embedding toolbox: Johnson–Lindenstrauss ±1 random projection
    //    (Achlioptas 2003) — 64-dim quantized vectors to 8 integer
    //    components, y_j = Σ s(i,j)·vq_i with a compile-time sign matrix
    //    inlined into BOTH engines (no runtime hash to agree on). Narrow
    //    per-row map, zero shuffles, codegen'd; the at-scale front door to
    //    cheaper brute-force ANN and fewer-plane LSH ──────────────────────
    "x_embed_rp_reduce" -> Q(
      (s, d) => t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("vq"))
        .select(col("vec_id"),
          posexplode(Embeddings.randomProject(col("vq"), 64, 8))
            .as(Seq("j0", "y_q")))
        .select(col("vec_id"), (col("j0") + 1).cast("long").as("j"), col("y_q")),
      Some(s"""WITH rp_v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |rp_s AS (SELECT ${Embeddings.rpSignsSql(64, 8)} AS sgn)
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  CAST(list_sum(list_transform(list_zip(vq, sgn[j]), x -> x[1]*x[2])) AS BIGINT) AS y_q
        |FROM rp_v, rp_s, LATERAL (SELECT unnest(generate_series(1, 8)) AS j)""".stripMargin)),

    // ── Embedding toolbox: symmetric int8 quantization audit — per-vector
    //    scale m = max|v| and exact integer reconstruction error in units
    //    of micro-units×127 (err127_i = |127·v_i − code_i·m|, bound m/2;
    //    EmbedToolboxSpec pins 2·max_err127 ≤ m). The round itself is pure
    //    integer round-half-away — no IEEE division to diverge. Narrow
    //    per-row map; this is the "did quantizing to a quarter of the
    //    bytes hurt" readout a 100 TB embedding store runs before
    //    switching its serving tier to int8 ───────────────────────────────
    "x_embed_int8" -> Q(
      (s, d) => t(s, d, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("vq"))
        .select(col("vec_id"), Embeddings.int8Stats(col("vq")).as("st"))
        .select(col("vec_id"), col("st.scale_q").as("scale_q"),
          col("st.sum_err127").as("sum_err127"),
          col("st.max_err127").as("max_err127")),
      Some(s"""WITH i8_v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |i8_m AS (SELECT vec_id, vq, list_max([abs(x) FOR x IN vq]) AS m FROM i8_v),
        |i8_e AS (SELECT vec_id, m,
        |    CASE WHEN m = 0 THEN [CAST(0 AS BIGINT) FOR x IN vq]
        |    ELSE [abs(x*127 - (CASE WHEN x < 0 THEN -1 ELSE 1 END)
        |      * ((abs(x)*254 + m) // (2*m)) * m) FOR x IN vq] END AS errs
        |  FROM i8_m)
        |SELECT vec_id, CAST(m AS BIGINT) AS scale_q,
        |  CAST(list_sum(errs) AS BIGINT) AS sum_err127,
        |  CAST(list_max(errs) AS BIGINT) AS max_err127 FROM i8_e""".stripMargin)),

    // ── Text quality: per-document token-entropy in integer bits —
    //    ent_bits = Σ_k c_k·(bitlen(N)−bitlen(c_k)) = N·bitlen(N) − Σ c_k·
    //    bitlen(c_k), the log2-bit-length entropy surrogate (same
    //    `length(bin(x))` trick as the tf-idf idf). Low entropy = looping/
    //    boilerplate text, high = diverse vocabulary — the classic cheap
    //    gibberish-vs-natural-text quality axis. Integer-exact end to end;
    //    one explode + one (doc,tok) shuffle + one per-doc partial agg ─────
    "x_entropy_bits" -> Q(
      (s, d) => entropyPerDoc(s, d)
        .select("doc_id", "n_tok", "distinct_tok", "ent_bits"),
      Some(s"""WITH $entCtesSql
        |SELECT doc_id, n_tok, distinct_tok, ent_bits FROM en_d""".stripMargin)),

    // ── Text quality: cross-source score calibration — a raw quality
    //    score (here ent_bits) is not comparable across sources with
    //    different length/style distributions, so a corpus-wide keep
    //    threshold over-prunes some sources. Replace the raw score with
    //    its WITHIN-SOURCE percentile (basis points, integer division) and
    //    a single global percentile floor prunes every source equally —
    //    the calibration step quality-classifier pipelines apply before
    //    thresholding. One extra per-source window pass over the entropy
    //    relation, no new shuffle key beyond `source` ────────────────────
    "x_quality_calibration" -> Q(
      (s, d) => {
        val bySrc = Window.partitionBy(col("source"))
        val w = bySrc.orderBy(col("ent_bits"), col("doc_id"))
        entropyPerDoc(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(bySrc))
          .select(col("doc_id"), col("source"), col("ent_bits"),
            expr("((CAST(rn AS BIGINT) - 1) * 10000) div greatest(n - 1, 1)")
              .as("pct_bp"))
      },
      Some(s"""WITH $entCtesSql
        |SELECT doc_id, source, ent_bits,
        |  ((rn - 1) * 10000) // greatest(n - 1, 1) AS pct_bp
        |FROM (SELECT doc_id, source, ent_bits,
        |    row_number() OVER (PARTITION BY source ORDER BY ent_bits, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n FROM en_d)""".stripMargin)),

    // ── Text statistics: PMI collocations over adjacent token bigrams —
    //    pmi_bits = bitlen(c_ab)+bitlen(N)−bitlen(c_a)−bitlen(c_b), the
    //    bit-length log2 form (within ±1 bit of log2 of the PMI ratio and,
    //    unlike bitlen(c_ab·N)−bitlen(c_a·c_b), free of BIGINT overflow at
    //    trillion-token N). Top-50 multiword expressions with full
    //    tiebreak, support floor c_ab ≥ 5. Scale: bigrams come from
    //    zipping each token list with its own tail (no self-join on
    //    position), then two equi-joins against the unigram table and one
    //    broadcast of the 1-row corpus total ───────────────────────────────
    "x_pmi_bigrams" -> Q(
      (s, d) => {
        val toks = graft.operators.CacheRegistry.register(
          t(s, d, "documents")
            .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
            .persist())
        val uni = toks.select(explode(col("l")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val nTot = toks.agg(sum(size(col("l")).cast("long")).as("n"))
        val tail = greatest(size(col("l")) - 1, lit(0))
        toks
          .select(explode(zip_with(
            slice(col("l"), lit(1), tail), slice(col("l"), lit(2), tail),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
          .where(col("c_ab") >= 5)
          .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
          .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
          .crossJoin(broadcast(nTot)) // 1-row corpus total vs pair rows
          .select(concat_ws(" ", col("a"), col("b")).as("pair"),
            col("c_ab"), col("c_a"), col("c_b"),
            (length(bin(col("c_ab"))).cast("long") +
              length(bin(col("n"))).cast("long") -
              length(bin(col("c_a"))).cast("long") -
              length(bin(col("c_b"))).cast("long")).as("pmi_bits"))
          .orderBy(desc("pmi_bits"), desc("c_ab"), asc("pair"))
          .limit(50)
      },
      Some("""WITH pm_t AS (SELECT doc_id,
        |    string_split_regex(lower(text),'\s+') AS l FROM documents),
        |pm_u AS (SELECT unnest(l) AS tok FROM pm_t),
        |pm_uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM pm_u GROUP BY tok),
        |pm_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pm_u),
        |pm_b AS (SELECT l[i] AS a, l[i+1] AS b FROM pm_t,
        |  LATERAL (SELECT unnest(generate_series(1, greatest(0, len(l)-1))) AS i)),
        |pm_bc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM pm_b GROUP BY a, b HAVING count(*) >= 5)
        |SELECT a || ' ' || b AS pair, c_ab, ua.c AS c_a, ub.c AS c_b,
        |  CAST(length(bin(c_ab)) + length(bin((SELECT n FROM pm_n)))
        |    - length(bin(ua.c)) - length(bin(ub.c)) AS BIGINT) AS pmi_bits
        |FROM pm_bc JOIN pm_uc ua ON a = ua.tok JOIN pm_uc ub ON b = ub.tok
        |ORDER BY pmi_bits DESC, c_ab DESC, pair LIMIT 50""".stripMargin)),

    // ── Training-example assembly from event streams: sessionize per user
    //    (30-min silence breaks a session, the w3 gaps-and-islands rule),
    //    then collapse each session into ONE example row — length, span,
    //    and an order-exact fingerprint of the event-type sequence
    //    (array_sort over (ts,event_id,type) structs makes the collect
    //    deterministic; md5 keeps the row narrow). This is the event-log →
    //    behavioral-sequence-corpus step of an agent/recommender training
    //    pipeline. Scale: the window and the groupBy share the user_id
    //    shuffle key, so sessionize + collapse is ONE exchange; per-session
    //    state is bounded by session length, never by user history ─────────
    "x_session_examples" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gap = Relational.usec(col("ts")) -
          Relational.usec(lag(col("ts"), 1).over(w))
        val isBreak = when(gap.isNull || gap > 30L * 60 * 1000000, 1L)
          .otherwise(0L)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            Relational.usec(col("ts")).as("ts_us"),
            sum(isBreak).over(w.rowsBetween(Window.unboundedPreceding, 0))
              .as("session_id"))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_us")).as("start_us"),
            (max(col("ts_us")) - min(col("ts_us"))).as("span_us"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("ts_us"), col("event_id"),
                col("event_type")))),
              x => x.getField("event_type")), ",")).as("fp"))
      },
      Some("""WITH se_g AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS gap_us
        |  FROM events),
        |se_s AS (SELECT user_id, event_id, event_type, ts_us,
        |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM se_g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(min(ts_us) AS BIGINT) AS start_us,
        |  CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us,
        |  md5(string_agg(event_type, ',' ORDER BY ts_us, event_id)) AS fp
        |FROM se_s GROUP BY 1, 2""".stripMargin)),

    // ── Corpus release: the per-source DATASET CARD — one row per source
    //    with the numbers a release readme publishes: volume (docs,
    //    tokens), exact-duplicate load (docs sharing an md5 text
    //    fingerprint within the source), language concentration (top lang
    //    + its basis-point share), and a calibrated quality level (exact
    //    lower-median ent_bits). Composes four aggregation trees that each
    //    collapse documents to a ~sources-sized relation before any join —
    //    at 100 TB every shuffle here is over the tiny source key domain,
    //    and the four scans share the parquet read (columns pruned per
    //    branch). Integer-exact throughout: shares are ×10⁴ integer
    //    divisions, the median is an order statistic, never a float mean ──
    "x_dataset_card" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val vol = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
        val dup = docs.select(col("source"), md5(col("text")).as("fp"))
          .groupBy("source", "fp").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_docs"))
        val bySrc = Window.partitionBy(col("source"))
        val lang = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
          .withColumn("tot", sum(col("c")).over(bySrc))
          .withColumn("rn", row_number().over(
            bySrc.orderBy(desc("c"), asc("lang"))))
          .where(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"),
            expr("(c * 10000) div tot").as("top_lang_bp"))
        val entW = bySrc.orderBy(col("ent_bits"), col("doc_id"))
        val med = entropyPerDoc(s, d)
          .withColumn("rn", row_number().over(entW))
          .withColumn("n", count(lit(1)).over(bySrc))
          .groupBy("source")
          .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("ent_bits")))
            .as("med_ent_bits"))
        vol.join(dup, "source").join(lang, "source").join(med, "source")
          .orderBy("source")
      },
      Some(s"""WITH $entCtesSql,
        |dc_v AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(lower(text),'\\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |dc_f AS (SELECT source, md5(text) AS fp, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |dc_d AS (SELECT source,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_docs
        |  FROM dc_f GROUP BY 1),
        |dc_l AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |dc_t AS (SELECT *, CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)
        |      AS tot,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, lang)
        |      AS rn
        |  FROM dc_l),
        |dc_top AS (SELECT source, lang AS top_lang,
        |    (c * 10000) // tot AS top_lang_bp FROM dc_t WHERE rn = 1),
        |dc_e AS (SELECT source, ent_bits,
        |    row_number() OVER (PARTITION BY source ORDER BY ent_bits, doc_id)
        |      AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM en_d),
        |dc_m AS (SELECT source,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN ent_bits END)
        |      AS med_ent_bits
        |  FROM dc_e GROUP BY 1)
        |SELECT v.source, v.n_docs, v.n_tokens, d.dup_docs, l.top_lang,
        |  l.top_lang_bp, m.med_ent_bits
        |FROM dc_v v JOIN dc_d d ON v.source = d.source
        |JOIN dc_top l ON v.source = l.source
        |JOIN dc_m m ON v.source = m.source
        |ORDER BY v.source""".stripMargin)),

    // ── Tokenizer design: vocabulary coverage curve — what fraction of
    //    all corpus tokens (basis points, integer division) the top-k
    //    most frequent types cover, read at a k ladder from 1 to 10000.
    //    The curve that sizes a vocab budget before training a tokenizer.
    //    Scale shape: the corpus collapses to the vocab relation FIRST
    //    (one (tok) shuffle with map-side partial counts); the global
    //    rank/cumsum window then runs over vocab-sized data — bounded by
    //    type count, not corpus size (the same bounded-global-window
    //    stance as x_mix_epochs, at vocab scale rather than source scale) ──
    "x_vocab_coverage" -> Q(
      (s, d) => {
        val uni = t(s, d, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy().orderBy(desc("c"), asc("tok"))
        uni
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("cum",
            sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("n", sum(col("c")).over(Window.partitionBy()))
          .where(col("rk").isin(1L, 3L, 10L, 30L, 100L, 1000L, 10000L))
          .select(col("rk").as("k"), col("cum").as("toks_covered"),
            expr("(cum * 10000) div n").as("coverage_bp"))
      },
      Some("""WITH vc_u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split_regex(lower(text),'\s+')) AS tok
        |        FROM documents) GROUP BY tok),
        |vc_r AS (SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok) AS rk,
        |    CAST(sum(c) OVER (ORDER BY c DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM vc_u)
        |SELECT CAST(rk AS BIGINT) AS k, cum AS toks_covered,
        |  (cum * 10000) // n AS coverage_bp
        |FROM vc_r WHERE rk IN (1, 3, 10, 30, 100, 1000, 10000)""".stripMargin)),

    // ── Bitext mining: blocked cross-lingual nearest neighbor — for every
    //    non-English document, its best English candidate by exact integer
    //    dot product, candidates restricted to the SAME sign-LSH cell as
    //    the query (the default mod-8 quantizer shared with x_ann_ivf).
    //    The translation-pair mining step of a multilingual pretraining
    //    pipeline: the cell equi-join keeps the pair space at ~1/cells of
    //    the en side per query instead of the full en×non-en product;
    //    recall lost to cell boundaries is the documented trade (the
    //    multi-probe upgrade path is a Nearest probe, same quantizer).
    //    Queries with an empty en cell yield no row — by design ────────────
    "x_crosslingual_mine" -> Q(
      (s, d) => {
        val v = t(s, d, "embeddings")
          .join(t(s, d, "documents").select(col("doc_id"), col("lang")),
            col("doc_id") === col("vec_id"))
          .select(col("vec_id"), col("lang"),
            Similarity.quantize(col("embedding")).as("vq"))
          .withColumn("cell",
            Similarity.signLshBucket(col("vq"), 0 until 4, 8))
        // r15 (guide §2.5 + §2.3): the cell key has only 2^4 = 16 values,
        // so the pair-scoring join ran at parallelism ≤ 16 (measured
        // wall ≈ CPU at sf1 — effectively serial), and the old top-1
        // window re-shuffled EVERY scored pair by qid. Two changes,
        // result-identical:
        //  - a deterministic salt (pmod(xxhash64(qid), 8)) on the query
        //    side, candidate side replicated 8× (the small side: en docs'
        //    ids+vectors), turns 16 join keys into 128;
        //  - top-1 per query becomes max(struct(dot_q, -nid)) — a
        //    PARTIAL-aggregating max (largest dot, then smallest nid,
        //    exactly the window's desc(dot_q)/asc(nid) winner), so only
        //    per-qid partials cross the exchange, never pair rows.
        // Salt derives from the session's shuffle parallelism instead of a
        // hardcoded 8 (ADVICE r15): 16 cells × Salt join keys should
        // comfortably exceed the partition count so the pair stage fans
        // out, while the candidate side's Salt× replication (ids+vectors)
        // stays bounded — capped at 64 (1024 keys) because past that the
        // replication tax grows linearly for sub-linear scheduling gains.
        // Result-identical for ANY Salt ≥ 1: each (qid, nid) cell pair
        // matches exactly once (the query side carries one salt value, the
        // candidate side all of them).
        val Salt = math.min(64, math.max(8,
          s.conf.get("spark.sql.shuffle.partitions", "200").toInt / 4))
        val q = v.where(col("lang") =!= "en")
          .select(col("vec_id").as("qid"), col("lang").as("qlang"),
            col("vq").as("qv"), col("cell"),
            pmod(xxhash64(col("vec_id")), lit(Salt.toLong)).as("salt"))
        val c = v.where(col("lang") === "en")
          .select(col("vec_id").as("nid"), col("vq").as("nv"), col("cell"))
          .withColumn("salt", explode(array((0 until Salt).map(i =>
            lit(i.toLong)): _*)))
        q.join(c, Seq("cell", "salt"))
          .select(col("qid"), col("qlang"), col("nid"),
            Similarity.dotQ(col("qv"), col("nv")).as("dot_q"))
          .groupBy("qid", "qlang")
          .agg(max(struct(col("dot_q"), (-col("nid")).as("neg_nid"),
            col("nid"))).as("b"))
          .select(col("qid"), col("qlang"), col("b.nid").as("nid"),
            col("b.dot_q").as("dot_q"))
      },
      Some(s"""WITH xl_v AS (SELECT e.vec_id, d.lang, $vqSql AS vq
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |xl_p AS (SELECT vec_id, lang, vq, $planeSums8Sql FROM xl_v),
        |xl_b AS (SELECT vec_id, lang, vq, $bucket8Sql AS cell FROM xl_p),
        |xl_q AS (SELECT vec_id AS qid, lang AS qlang, vq AS qv, cell
        |  FROM xl_b WHERE lang <> 'en'),
        |xl_c AS (SELECT vec_id AS nid, vq AS nv, cell
        |  FROM xl_b WHERE lang = 'en'),
        |xl_s AS (SELECT qid, qlang, nid,
        |    CAST(list_sum(list_transform(list_zip(qv, nv), x -> x[1]*x[2]))
        |      AS BIGINT) AS dot_q
        |  FROM xl_q JOIN xl_c USING (cell)),
        |xl_r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_q DESC, nid) AS rn FROM xl_s)
        |SELECT qid, qlang, nid, dot_q FROM xl_r WHERE rn = 1""".stripMargin)),

    // ── Denoising-objective prep: T5-style span corruption — an md5 gate
    //    on (doc_id, position) starts a 3-token masked span at ~5% of
    //    positions (≈15% tokens masked), maximal masked RUNS collapse to
    //    one sentinel (the T5 contract: one <M> per span, not per token),
    //    and the corrupted text ships as a fingerprint + mask accounting.
    //    Run-collapse needs NO window: a position's mask state is a pure
    //    function of the three gates behind it, so "is this a run start"
    //    is scalar arithmetic too — the whole corruption is one explode +
    //    per-row expressions + one per-doc ordered re-agg ─────────────────
    "x_span_corruption" -> Q(
      (s, d) => {
        // gate(j) = md5(doc_id:j) hex-prefix mod 20 == 0, for j >= 1
        def gate(j: org.apache.spark.sql.Column) =
          when(j < 1, lit(false)).otherwise(
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            j.cast("string"))), 1, 4), 16, 10).cast("int") % 20 === 0)
        def masked(j: org.apache.spark.sql.Column) =
          gate(j) || gate(j - 1) || gate(j - 2)
        val tok = t(s, d, "documents")
          .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text")))
            .as(Seq("p0", "tok")))
          .withColumn("pos", col("p0") + 1)
          .withColumn("m", masked(col("pos")))
          .withColumn("start", col("m") && !masked(col("pos") - 1))
        tok
          .withColumn("out", when(!col("m"), col("tok"))
            .when(col("start"), lit("<M>")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
            sum(when(col("start"), 1L).otherwise(0L)).as("n_spans"),
            md5(array_join(transform(array_sort(collect_list(
              when(col("out").isNotNull,
                struct(col("pos"), col("out"))))),
              x => x.getField("out")), " ")).as("fp"))
      },
      Some("""WITH sc_t AS (SELECT doc_id, i AS pos, l[i] AS tok
        |  FROM (SELECT doc_id, string_split_regex(lower(text),'\s+') AS l
        |        FROM documents),
        |  LATERAL (SELECT unnest(generate_series(1, len(l))) AS i)),
        |sc_g AS (SELECT doc_id, pos, tok,
        |    (pos >= 1 AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(pos AS VARCHAR)), 1, 4) AS INTEGER) % 20 = 0)
        |      AS g0,
        |    (pos - 1 >= 1 AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(pos - 1 AS VARCHAR)), 1, 4) AS INTEGER) % 20 = 0)
        |      AS g1,
        |    (pos - 2 >= 1 AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(pos - 2 AS VARCHAR)), 1, 4) AS INTEGER) % 20 = 0)
        |      AS g2,
        |    (pos - 3 >= 1 AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(pos - 3 AS VARCHAR)), 1, 4) AS INTEGER) % 20 = 0)
        |      AS g3
        |  FROM sc_t),
        |sc_m AS (SELECT doc_id, pos, tok, (g0 OR g1 OR g2) AS m,
        |    ((g0 OR g1 OR g2) AND NOT (g1 OR g2 OR g3)) AS strt
        |  FROM sc_g)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(sum(CASE WHEN strt THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |  md5(string_agg(CASE WHEN NOT m THEN tok
        |    WHEN strt THEN '<M>' END, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT m OR strt)) AS fp
        |FROM sc_m GROUP BY doc_id""".stripMargin)),

    // ── Contrastive-retrieval training pairs: hard-negative mining — per
    //    query vector, the top same-cell neighbor is the positive and
    //    ranks 4–8 are the negatives (skip ranks 2–3: the standard
    //    near-positive buffer that keeps likely unlabeled positives out of
    //    the negative set). Candidates come from the query's sign-LSH
    //    cell (the x_ann_ivf quantizer) — an equi-join, never a corpus
    //    cross product; at 100 TB the mined (anchor, pos, neg) triplets
    //    land directly in the contrastive dataloader ───────────────────────
    "x_hard_negatives" -> Q(
      (s, d) => {
        val withCell = lshCells(s, d, 8)
        Similarity.topK(withCell.where(col("vec_id") < 10), withCell,
          "vec_id", "embedding", 8, Own("cell"), Dot)
          .where(col("rank") === 1 || col("rank").between(4, 8))
          .withColumn("role",
            when(col("rank") === 1, "pos").otherwise("neg"))
          .select("qid", "nid", "role", "rank", "dot_q")
      },
      Some(s"""WITH v AS (SELECT vec_id, $vqSql AS vq FROM embeddings),
        |$lshCellCtesSql,
        |hn_q AS (SELECT vec_id AS qid, vq AS qv, cell FROM bk
        |  WHERE vec_id < 10),
        |hn_s AS (SELECT qid, b.vec_id AS nid,
        |    CAST(list_sum(list_transform(list_zip(qv, b.vq), x -> x[1]*x[2]))
        |      AS BIGINT) AS dot_q
        |  FROM hn_q q JOIN bk b ON b.cell = q.cell AND b.vec_id <> q.qid),
        |hn_r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_q DESC, nid) AS rank FROM hn_s)
        |SELECT qid, nid,
        |  CASE WHEN rank = 1 THEN 'pos' ELSE 'neg' END AS role,
        |  CAST(rank AS BIGINT) AS rank, dot_q
        |FROM hn_r WHERE rank = 1 OR rank BETWEEN 4 AND 8""".stripMargin)),

    // ── Preference-pair assembly: per source, the 3 highest-entropy docs
    //    paired with the 3 lowest-entropy docs (chosen/rejected by matched
    //    rank) — the reward-model training-pair shape, with the shared
    //    integer entropy as the stand-in quality signal (ONE entropyPerDoc
    //    definition, the lockstep rule). Degenerate pairs (tiny sources
    //    where the ranks collide, or entropy ties) are excluded by the
    //    strict margin. Scale: ONE corpus pass — both rank windows ride the
    //    same source exchange, the ≤6 extreme rows per source collapse into
    //    a source-grouped array (reusing that partitioning, no new
    //    shuffle), and the rank-matched pairing is a per-row array
    //    expression over those 6 rows — no self-join, so the entropy
    //    subtree is never computed twice ───────────────────────────────────
    "x_preference_pairs" -> Q(
      (s, d) => {
        val en = entropyPerDoc(s, d).select("doc_id", "source", "ent_bits")
        val hi = Window.partitionBy(col("source"))
          .orderBy(desc("ent_bits"), asc("doc_id"))
        val lo = Window.partitionBy(col("source"))
          .orderBy(asc("ent_bits"), asc("doc_id"))
        // try_element_at: a source with < 3 docs has no row at pair_rank
        // 2/3 — the lookup must yield NULL (dropped by the margin filter),
        // not an ANSI INVALID_ARRAY_INDEX crash
        def pick(rankField: String, pr: org.apache.spark.sql.Column) =
          try_element_at(filter(col("xs"),
            x => x.getField(rankField) === pr.cast("long")), lit(1))
        en
          .withColumn("rhi", row_number().over(hi).cast("long"))
          .withColumn("rlo", row_number().over(lo).cast("long"))
          .where(col("rhi") <= 3 || col("rlo") <= 3)
          .groupBy("source")
          .agg(collect_list(struct(col("rhi"), col("rlo"), col("doc_id"),
            col("ent_bits"))).as("xs"))
          .select(col("source"),
            explode(transform(sequence(lit(1), lit(3)), pr => struct(
              pr.cast("long").as("pair_rank"),
              pick("rhi", pr).getField("doc_id").as("chosen_id"),
              pick("rhi", pr).getField("ent_bits").as("chosen_bits"),
              pick("rlo", pr).getField("doc_id").as("rejected_id"),
              pick("rlo", pr).getField("ent_bits").as("rejected_bits"))))
              .as("p"))
          .where(col("p.chosen_bits") > col("p.rejected_bits"))
          .select(col("source"), col("p.pair_rank").as("pair_rank"),
            col("p.chosen_id").as("chosen_id"),
            col("p.rejected_id").as("rejected_id"),
            (col("p.chosen_bits") - col("p.rejected_bits")).as("margin_bits"))
      },
      Some(s"""WITH $entCtesSql,
        |pp_r AS (SELECT doc_id, source, ent_bits,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ent_bits DESC, doc_id) AS BIGINT) AS rhi,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ent_bits ASC, doc_id) AS BIGINT) AS rlo
        |  FROM en_d),
        |pp_c AS (SELECT source, rhi AS pair_rank, doc_id AS chosen_id,
        |    ent_bits AS chosen_bits FROM pp_r WHERE rhi <= 3),
        |pp_j AS (SELECT source, rlo AS pair_rank, doc_id AS rejected_id,
        |    ent_bits AS rejected_bits FROM pp_r WHERE rlo <= 3)
        |SELECT c.source, c.pair_rank, c.chosen_id, j.rejected_id,
        |  CAST(c.chosen_bits - j.rejected_bits AS BIGINT) AS margin_bits
        |FROM pp_c c JOIN pp_j j
        |  ON c.source = j.source AND c.pair_rank = j.pair_rank
        |WHERE c.chosen_bits > j.rejected_bits""".stripMargin)),

    // ── Temperature-weighted subsample materialization: keep
    //    ceil(sqrt(n_source)) docs per source by stable id-hash rank — the
    //    sqrt law is temperature τ=2 applied to VOLUME (a source 100× the
    //    size contributes only 10× the docs), the materialized counterpart
    //    of x_mix_epochs' epoch plan. IEEE sqrt is correctly rounded, so
    //    both engines compute the identical cap. Scale: the count and rank
    //    windows share one source exchange; output is sublinear in the
    //    hot source's size by construction ─────────────────────────────────
    "x_sample_weighted" -> Q(
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 5, 8), 16, 10)
          .cast("long")
        val bySrc = Window.partitionBy(col("source"))
        val w = bySrc.orderBy(col("h"), col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"), h.as("h"))
          .withColumn("cap",
            ceil(sqrt(count(lit(1)).over(bySrc).cast("double"))).cast("long"))
          .withColumn("samp_rank", row_number().over(w).cast("long"))
          .where(col("samp_rank") <= col("cap"))
          .select("doc_id", "source", "samp_rank", "cap")
      },
      Some("""WITH sw_h AS (SELECT doc_id, source,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 8) AS BIGINT) AS h
        |  FROM documents),
        |sw_r AS (SELECT doc_id, source,
        |    CAST(ceil(sqrt(CAST(count(*) OVER (PARTITION BY source) AS DOUBLE)))
        |      AS BIGINT) AS cap,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |      AS BIGINT) AS samp_rank
        |  FROM sw_h)
        |SELECT doc_id, source, samp_rank, cap
        |FROM sw_r WHERE samp_rank <= cap""".stripMargin)),

    // ── Shard-rebalance audit: what fraction of the corpus MOVES when the
    //    shard count grows 8 → 10, under naive mod-N routing vs rendezvous
    //    (highest-random-weight) hashing. HRW's argmax is a per-row
    //    ARRAY expression — weigh the doc against all 10 shard ids, take
    //    the struct max — so the whole audit is a narrow map + one 2-row
    //    global aggregate: ZERO per-doc shuffle at any corpus size. The
    //    expected readout (mod moves ~80%, HRW moves ~2/10) is the reason
    //    incremental corpus re-releases route by HRW ───────────────────────
    "x_shard_rebalance" -> Q(
      (s, d) => {
        def hrw(n: Int) = {
          val best = array_max(transform(sequence(lit(0), lit(n - 1)),
            sh => struct(
              conv(substring(md5(concat(col("doc_id").cast("string"),
                lit(":"), sh.cast("string"))), 1, 12), 16, 10)
                .cast("long").as("w"),
              (-sh).as("ns"))))
          -best.getField("ns")
        }
        t(s, d, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 8 =!= col("doc_id") % 10).as("mod_moved"),
            (hrw(8) =!= hrw(10)).as("hrw_moved"))
          .select(explode(array(
            struct(lit("mod").as("scheme"),
              when(col("mod_moved"), 1L).otherwise(0L).as("mv")),
            struct(lit("hrw").as("scheme"),
              when(col("hrw_moved"), 1L).otherwise(0L).as("mv"))))
            .as("r"))
          .select(col("r.scheme").as("scheme"), col("r.mv").as("mv"))
          .groupBy("scheme")
          .agg(count(lit(1)).as("n_docs"), sum(col("mv")).as("n_moved"))
          .withColumn("moved_bp", expr("n_moved * 10000 div n_docs"))
          .orderBy("scheme")
      },
      Some("""WITH sr_w AS (SELECT doc_id,
        |    [{'w': CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(s AS VARCHAR)), 1, 12) AS BIGINT), 'ns': -s}
        |      FOR s IN generate_series(0, 9)] AS ws
        |  FROM documents),
        |sr_m AS (SELECT doc_id,
        |    (doc_id % 8 <> doc_id % 10) AS mod_moved,
        |    (-(list_max(ws[1:8]))['ns'] <> -(list_max(ws))['ns']) AS hrw_moved
        |  FROM sr_w),
        |sr_u AS (SELECT 'mod' AS scheme,
        |    CASE WHEN mod_moved THEN 1 ELSE 0 END AS mv FROM sr_m
        |  UNION ALL SELECT 'hrw' AS scheme,
        |    CASE WHEN hrw_moved THEN 1 ELSE 0 END AS mv FROM sr_m)
        |SELECT scheme, count(*) AS n_docs, CAST(sum(mv) AS BIGINT) AS n_moved,
        |  CAST((sum(mv) * 10000) // count(*) AS BIGINT) AS moved_bp
        |FROM sr_u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ── Per-domain page cap (C4-style crawl budget): rank pages within
    //    their canonical host, keep the first `cap` — the stage that stops
    //    one mega-site from dominating the corpus. Same synthetic-URL
    //    fixture as x_dedup_url (host = lowercased www-stripped authority);
    //    ONE hash exchange on the host string, budget-pinned ───────────────
    "x_domain_cap" -> Q(
      (s, d) => Dedup.domainCap(
        t(s, d, "documents").select(col("doc_id"),
          Pipeline.syntheticUrl(col("doc_id"), col("source")).as("url")),
        "doc_id", "url", cap = 12L),
      // host key mirrors Dedup.domainKey: unparseable URLs fall back to
      // the full canonical URL (singleton host), NULL urls to an
      // id-keyed sentinel — never one shared ""/NULL mega-partition
      Some(s"""WITH $urlCanonCtesSql,
        |dch AS (SELECT id AS doc_id, COALESCE(
        |    CASE WHEN regexp_extract(url_canon, '^[a-z0-9+.-]+://([^/?]*)', 1) = ''
        |      THEN url_canon
        |      ELSE regexp_extract(url_canon, '^[a-z0-9+.-]+://([^/?]*)', 1) END,
        |    '__nourl__#' || CAST(id AS VARCHAR)) AS host
        |  FROM uc)
        |SELECT doc_id, host,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id)
        |    AS BIGINT) AS rn,
        |  row_number() OVER (PARTITION BY host ORDER BY doc_id) <= 12 AS keep
        |FROM dch""".stripMargin)),

    // ── Structured Streaming: online per-domain crawl budget — the
    //    streaming twin of x_domain_cap's keep verdict: each host admits
    //    its first 12 pages as documents land (flatMapGroupsWithState,
    //    ONE counter per host), then drops the rest. Oracle = the batch
    //    cap's kept rows ─────────────────────────────────────────────────
    //    NOTE: across micro-batches admission is arrival-order (the
    //    deployed crawl semantics); the min-doc_id oracle is exact only
    //    for a single-batch drain, so this entry pins the drain to one
    //    batch by masking the maxFilesPerTrigger knob for its run ─────────
    "stream_domain_cap" -> Q(
      (s, d) => singleDrain(s)(
        graft.streaming.StreamingSync.streamingDomainCap(s, d)),
      Some(s"""WITH $urlCanonCtesSql,
        |sdc AS (SELECT id AS doc_id, COALESCE(
        |    CASE WHEN regexp_extract(url_canon, '^[a-z0-9+.-]+://([^/?]*)', 1) = ''
        |      THEN url_canon
        |      ELSE regexp_extract(url_canon, '^[a-z0-9+.-]+://([^/?]*)', 1) END,
        |    '__nourl__#' || CAST(id AS VARCHAR)) AS host
        |  FROM uc)
        |SELECT doc_id, host FROM (SELECT doc_id, host,
        |    row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn
        |  FROM sdc) WHERE rn <= 12""".stripMargin)),

    // ── CCNet-style perplexity buckets: split each LANGUAGE into
    //    head/middle/tail thirds by the bigram-LM score (low bits = most
    //    LM-like = head), the canonical quality triage CCNet applies with a
    //    real Kneser-Ney model. Cut points come from the per-lang
    //    DISTINCT-score histogram (bounded domain — hundreds of ×100-scaled
    //    integer scores however big the corpus), NOT an ntile over the
    //    corpus: the only windows run over that bounded histogram, every
    //    doc with the same score lands in the same bucket (tie-stable by
    //    construction), and the 1-row-per-lang bounds table broadcasts back.
    //    Docs without bigram evidence carry no score and are absent, same
    //    contract as x_bigram_lm ────────────────────────────────────────────
    "x_ppl_buckets" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        // persisted: the scored corpus feeds BOTH the cut-point histogram
        // and the final bucket assignment — without this the whole
        // bigram-LM subtree (the most expensive part) executes twice
        val scores = graft.operators.CacheRegistry.register(
          graft.operators.LangModel
            .bigramLmScores(docs, "doc_id", "text")
            .join(docs.select(col("doc_id"), col("lang")), "doc_id")
            .persist())
        val hist = scores.groupBy("lang", "avg_bits_e2")
          .agg(count(lit(1)).as("cnt"))
        val cum = hist.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("lang").orderBy("avg_bits_e2")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot",
            sum(col("cnt")).over(Window.partitionBy("lang")))
        // smallest score with cum ≥ ⌈tot/3⌉ (resp. ⌈2·tot/3⌉) — the
        // lower-quantile definition used by every band filter here
        val bounds = cum.groupBy("lang").agg(
          min(when(col("cum") * 3 >= col("tot"), col("avg_bits_e2"))).as("b1"),
          min(when(col("cum") * 3 >= col("tot") * 2, col("avg_bits_e2"))).as("b2"))
        scores.join(broadcast(bounds), "lang")
          .select(col("doc_id"), col("lang"), col("avg_bits_e2"),
            when(col("avg_bits_e2") <= col("b1"), "head")
              .when(col("avg_bits_e2") <= col("b2"), "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bigramLmCtesSql,
        |pb_s AS (SELECT b.doc_id, d.lang, b.avg_bits_e2
        |  FROM blm b JOIN documents d ON b.doc_id = d.doc_id),
        |pb_h AS (SELECT lang, avg_bits_e2, count(*) AS cnt
        |  FROM pb_s GROUP BY 1, 2),
        |pb_c AS (SELECT lang, avg_bits_e2,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY avg_bits_e2) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang) AS tot FROM pb_h),
        |pb_b AS (SELECT lang,
        |    min(CASE WHEN cum * 3 >= tot THEN avg_bits_e2 END) AS b1,
        |    min(CASE WHEN cum * 3 >= tot * 2 THEN avg_bits_e2 END) AS b2
        |  FROM pb_c GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.avg_bits_e2,
        |  CASE WHEN s.avg_bits_e2 <= b.b1 THEN 'head'
        |       WHEN s.avg_bits_e2 <= b.b2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM pb_s s JOIN pb_b b ON s.lang = b.lang
        |ORDER BY s.doc_id""".stripMargin)),

    // ── SFT chat-template formatting: the assembly step that turns raw
    //    documents into instruction-tuning examples — first 12 tokens as
    //    the user turn, the next ≤ 64 as the assistant turn, rendered into
    //    a fixed chat template with a context budget of 76 tokens and a
    //    truncation flag; docs too short to yield a non-trivial completion
    //    (< 16 tokens) are dropped. Pure per-row array slicing — zero
    //    Exchange, pinned ─────────────────────────────────────────────────
    "x_sft_format" -> Q(
      (s, d) => TextAnalysis.sftFormat(
        t(s, d, "documents"), "doc_id", "text"),
      Some("""WITH sf_t AS (SELECT doc_id,
        |    string_split_regex(text, '\s+') AS l FROM documents)
        |SELECT doc_id,
        |  '<|user|>' || chr(10) || array_to_string(l[1:12], ' ') ||
        |  chr(10) || '<|assistant|>' || chr(10) ||
        |  array_to_string(l[13:76], ' ') || chr(10) || '<|end|>' AS example,
        |  CAST(least(len(l), 76) AS BIGINT) AS n_ctx,
        |  len(l) > 76 AS truncated
        |FROM sf_t WHERE len(l) >= 16 ORDER BY doc_id""".stripMargin)),

    // ── Seeded quality classifier — the GPT-3/LLaMA-style filter: label a
    //    clean SEED with a cheap heuristic (here the Gopher battery, the
    //    SAME TextAnalysis.gopherMetrics/-Flags definition as
    //    x_filter_gopher), learn per-token class affinities from it, then
    //    score EVERY document by its token mass's affinity — the learned
    //    generalization of the hand rules (a doc failing one Gopher
    //    threshold can still be pred_good if its vocabulary is seed-like,
    //    and that disagreement is the classifier's value). Integer-exact
    //    linear model: r_e3(tok) = ‰ of the token's corpus occurrences
    //    inside seed docs; score_e3 = multiplicity-weighted mean.
    //    Scale (100 TB): instances collapse to per-doc multiplicities
    //    FIRST (one corpus-wide shuffle, map-side combine, persisted —
    //    feeds both the vocab model and the scoring join); the model is a
    //    vocab-sized equi-join, never broadcast-assumed (same contract as
    //    the bigram LM). Seed docs score their own tokens — the standard
    //    self-training caveat, fine for a corpus-relative ranking ─────────
    "x_quality_classifier" -> Q(
      (s, d) => {
        val seeded = t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("text"),
            TextAnalysis.gopherFlags(
              TextAnalysis.gopherMetrics(col("text"), col("toks")))
              .getField("keep").as("seed"))
        TextAnalysis.seedAffinityScores(seeded, "doc_id", "text", "seed")
          .orderBy("doc_id")
      },
      Some(s"""WITH $gopherCtesSql,
        |$qcCtesSql
        |SELECT m.doc_id, m.seed,
        |  CAST(sum(m.m) AS BIGINT) AS n_tok,
        |  CAST(sum(m.m * v.r_e3) // sum(m.m) AS BIGINT) AS score_e3,
        |  b.base_e3,
        |  (sum(m.m * v.r_e3) // sum(m.m)) > b.base_e3 AS pred_good
        |FROM qc_m m JOIN qc_v v ON m.tok = v.tok, qc_b b
        |GROUP BY 1, 2, b.base_e3 ORDER BY m.doc_id""".stripMargin)),

    // ── Structured Streaming: online quality scoring — the DEPLOYED shape
    //    of x_quality_classifier (train offline, score online): the
    //    affinity model + baseline train in one batch pass over the static
    //    corpus, each landing doc scores via a stream-static vocab join +
    //    per-doc stateful agg. Same oracle chain as the batch classifier
    //    minus the seed column (the online scorer doesn't re-derive the
    //    training label) ──────────────────────────────────────────────────
    "stream_quality_score" -> Q(
      (s, d) => graft.streaming.StreamingSync.streamingQualityScore(s, d),
      Some(s"""WITH $gopherCtesSql,
        |$qcCtesSql
        |SELECT m.doc_id,
        |  CAST(sum(m.m) AS BIGINT) AS n_tok,
        |  CAST(sum(m.m * v.r_e3) // sum(m.m) AS BIGINT) AS score_e3,
        |  (sum(m.m * v.r_e3) // sum(m.m)) > b.base_e3 AS pred_good
        |FROM qc_m m JOIN qc_v v ON m.tok = v.tok, qc_b b
        |GROUP BY 1, b.base_e3""".stripMargin)),

    // ── Temperature-scaled language mixing (mT5/XLM-R): sampling weight
    //    ∝ n^α with α = ½ — the standard trick that keeps head languages
    //    from drowning the tail without hand-tuned ratios. w = ⌊√n⌋
    //    (IEEE sqrt is correctly rounded, so ⌊√⌋ is engine-exact);
    //    share_bp and a 200-doc epoch target derive by integer division
    //    over the single-partition totals window — bounded by LANGUAGE
    //    cardinality (the corpus's genuinely skewed axis: en ≈ 44 % raw
    //    collapses toward ~30 % at α = ½), never corpus-sized ─────────────
    "x_mix_temperature" -> Q(
      (s, d) => t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
        .withColumn("share_bp", expr("w * 10000 div (sum(w) over ())"))
        .withColumn("target_docs", expr("200 * w div (sum(w) over ())"))
        .orderBy("lang"),
      Some("""WITH mt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |mw AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
        |  FROM mt)
        |SELECT lang, n_docs, w,
        |  CAST(w * 10000 // sum(w) OVER () AS BIGINT) AS share_bp,
        |  CAST(200 * w // sum(w) OVER () AS BIGINT) AS target_docs
        |FROM mw ORDER BY lang""".stripMargin)),

    // ── Unicode normalization (CCNet-style pre-LM cleanup): accent fold,
    //    typographic-punctuation straightening, NBSP/ellipsis repair,
    //    case+whitespace collapse — TextAnalysis.foldUnicode, whose fold
    //    table the oracle interpolates verbatim (lockstep). The ASCII
    //    corpus carries none of this noise, so the fixture INJECTS it
    //    in-query (accents on doc_id%3, curly quotes on %4, NBSPs on %5 —
    //    exactly the classes the fold must erase, the x_dedup_lines /
    //    x_dedup_url fixture pattern) and the readout proves erasure:
    //    is_ascii via octet_length = char length (CJK docs stay
    //    legitimately non-ASCII). Pure per-row — zero Exchange, pinned ────
    "x_normalize_unicode" -> Q(
      (s, d) => {
        val n1 = when(col("doc_id") % 3 === 0,
          translate(col("text"), "aeiou", "àéîöü")).otherwise(col("text"))
        val n2 = when(col("doc_id") % 4 === 0,
          concat(lit("“"), n1, lit("”"))).otherwise(n1)
        val n3 = when(col("doc_id") % 5 === 0,
          regexp_replace(n2, " ", " ")).otherwise(n2)
        t(s, d, "documents")
          .select(col("doc_id"), col("text"), n3.as("noisy"))
          .select(col("doc_id"),
            (col("noisy") =!= col("text")).as("changed"),
            TextAnalysis.foldUnicode(col("noisy")).as("norm"))
          .select(col("doc_id"), col("changed"),
            (octet_length(col("norm")) === length(col("norm")))
              .as("is_ascii"),
            md5(col("norm")).as("norm_fp"))
      },
      Some({
        def esc(x: String) = x.replace("'", "''")
        val from = esc(TextAnalysis.UnicodeFoldFrom)
        val to = esc(TextAnalysis.UnicodeFoldTo)
        s"""WITH nu_1 AS (SELECT doc_id, text,
          |    CASE WHEN doc_id % 3 = 0 THEN translate(text, 'aeiou', 'àéîöü')
          |      ELSE text END AS n1 FROM documents),
          |nu_2 AS (SELECT doc_id, text,
          |    CASE WHEN doc_id % 4 = 0 THEN chr(8220) || n1 || chr(8221)
          |      ELSE n1 END AS n2 FROM nu_1),
          |nu_n AS (SELECT doc_id, text,
          |    CASE WHEN doc_id % 5 = 0 THEN replace(n2, ' ', chr(160))
          |      ELSE n2 END AS noisy FROM nu_2),
          |nu_f AS (SELECT doc_id, text, noisy,
          |    trim(regexp_replace(translate(replace(lower(noisy),
          |      chr(8230), '...'), '$from', '$to'),
          |      '\\s+', ' ', 'g')) AS norm
          |  FROM nu_n)
          |SELECT doc_id, noisy <> text AS changed,
          |  strlen(norm) = length(norm) AS is_ascii,
          |  md5(norm) AS norm_fp
          |FROM nu_f""".stripMargin
      })),

    // ── Code-switching detector: language-ID each document HALF and flag
    //    disagreement — the curation QA stage that catches mixed-language
    //    documents (bilingual boilerplate, wrong-language spans glued by a
    //    crawler) which whole-document lang-id hides (the majority half
    //    wins and the minority half silently poisons a monolingual
    //    split). The corpus is monolingual, so the fixture INJECTS
    //    code-switching in-query (doc_id%7: a same-length German-marker
    //    block appended, so the halves split exactly at the seam — the
    //    x_normalize_unicode fixture pattern); both halves score through
    //    the SAME marker classifier as x_lang_id (langIdFromToks /
    //    langIdCaseOver, lockstep incl. tie-break order). Short docs
    //    (< 8 tokens) carry too little per-half evidence and are out of
    //    scope. Pure per-row array slicing — zero Exchange, pinned ────────
    "x_mixed_lang" -> Q(
      (s, d) => {
        val deWs = TextAnalysis.MARKERS("de")
        val deArr = array(deWs.map(lit): _*)
        val deBlock = transform(sequence(lit(1), size(col("l"))),
          i => element_at(deArr, ((i - 1) % deWs.length) + 1))
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
          .where(size(col("l")) >= 8)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("l"), deBlock))
              .otherwise(col("l")).as("l2"))
          .select(col("doc_id"),
            slice(col("l2"), lit(1), (size(col("l2")) / 2).cast("int"))
              .as("h1"),
            slice(col("l2"), (size(col("l2")) / 2).cast("int") + 1,
              size(col("l2")) - (size(col("l2")) / 2).cast("int")).as("h2"))
          .select(col("doc_id"),
            TextAnalysis.langIdFromToks(col("h1")).as("lang_a"),
            TextAnalysis.langIdFromToks(col("h2")).as("lang_b"))
          .withColumn("mixed", col("lang_a") =!= col("lang_b"))
      },
      Some({
        val deList = TextAnalysis.MARKERS("de").map(w => s"'$w'").mkString(",")
        val k = TextAnalysis.MARKERS("de").length
        s"""WITH ml_t AS (SELECT doc_id,
          |    string_split_regex(lower(text),'\\s+') AS l FROM documents),
          |ml_x AS (SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0 THEN
          |      list_concat(l, list_transform(generate_series(1, len(l)),
          |        i -> ([$deList])[(i - 1) % $k + 1]))
          |    ELSE l END AS l2
          |  FROM ml_t WHERE len(l) >= 8),
          |ml_h AS (SELECT doc_id, l2[1:len(l2)//2] AS h1,
          |    l2[len(l2)//2+1:len(l2)] AS h2 FROM ml_x),
          |ml_s AS (SELECT doc_id,
          |    ${langIdCaseOver("list_distinct(h1)")} AS lang_a,
          |    ${langIdCaseOver("list_distinct(h2)")} AS lang_b
          |  FROM ml_h)
          |SELECT doc_id, lang_a, lang_b, lang_a <> lang_b AS mixed
          |FROM ml_s""".stripMargin
      })),

    // ── Robots-style host policy filter: every crawl pipeline applies a
    //    per-host allow/deny table (robots.txt disallow prefixes, site
    //    opt-outs, licensing blocks) to its URL frontier. The corpus has
    //    no policy table, so the fixture derives one in-query from the
    //    source catalog (even-numbered sources disallow the '/Docs'
    //    prefix — the x_dedup_url fixture pattern): a sources-sized
    //    DISTINCT + a BROADCAST equi-join on host + a per-row prefix
    //    test. At crawl scale the policy table is host-cardinality-sized
    //    (millions of rows, still broadcastable at tens of MB — or an
    //    equi-join if not); the verdict itself never shuffles the corpus ──
    "x_robots_block" -> Q(
      (s, d) => {
        val u = Dedup.canonicalUrl(
          Pipeline.syntheticUrl(col("doc_id"), col("source")))
        val urls = t(s, d, "documents")
          .select(col("doc_id"), u.as("u"))
          .select(col("doc_id"),
            regexp_extract(col("u"), "^[a-z0-9+.-]+://([^/?]*)", 1)
              .as("host"),
            regexp_extract(col("u"), "^[a-z0-9+.-]+://[^/?]*([^?]*)", 1)
              .as("path"))
        val policy = t(s, d, "documents")
          .select(col("source")).distinct()
          .select(concat(lower(col("source")), lit(".example.com"))
            .as("host"),
            when(regexp_extract(col("source"), "(\\d+)$", 1)
              .cast("long") % 2 === 0, "/Docs").as("deny_prefix"))
        urls.join(broadcast(policy), "host")
          .select(col("doc_id"), col("host"), col("path"),
            (col("deny_prefix").isNull ||
              !col("path").startsWith(col("deny_prefix"))).as("allowed"))
      },
      Some(s"""WITH $urlCanonCtesSql,
        |rb_u AS (SELECT id AS doc_id,
        |    regexp_extract(url_canon, '^[a-z0-9+.-]+://([^/?]*)', 1) AS host,
        |    regexp_extract(url_canon, '^[a-z0-9+.-]+://[^/?]*([^?]*)', 1)
        |      AS path
        |  FROM uc),
        |rb_p AS (SELECT lower(source) || '.example.com' AS host,
        |    CASE WHEN CAST(regexp_extract(source, '(\\d+)${"$"}', 1) AS BIGINT)
        |      % 2 = 0 THEN '/Docs' END AS deny_prefix
        |  FROM (SELECT DISTINCT source FROM documents))
        |SELECT u.doc_id, u.host, u.path,
        |  (p.deny_prefix IS NULL OR u.path NOT LIKE p.deny_prefix || '%')
        |    AS allowed
        |FROM rb_u u JOIN rb_p p ON u.host = p.host""".stripMargin)),

    // ── LLM-watermark detector (Kirchenbauer-style green-list test): a
    //    soft-watermarked generator biases each token toward the
    //    context-keyed "green" half of the vocabulary, so watermarked text
    //    shows green-rate ≫ ½ while natural text sits at ½ ± sampling
    //    noise. Screen: green(w₁,w₂) = parity of a keyed hash of the
    //    adjacent pair; flag when the exact binomial z² exceeds 9
    //    (|z| > 3), computed integer-only as (2G − P)² > 9P — no floats,
    //    no per-doc sqrt. The "is this training doc machine-generated"
    //    filter modern corpora need. Pure per-row array expressions over
    //    the pair sequence — zero Exchange, pinned ─────────────────────────
    "x_watermark_detect" -> Q(
      (s, d) => {
        val toks = col("toks")
        val pairs = transform(sequence(lit(1), size(toks) - 1),
          i => conv(substring(md5(concat(
            element_at(toks, i), lit("|"), element_at(toks, i + 1))),
            1, 4), 16, 10).cast("long") % 2)
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= 2)
          .select(col("doc_id"),
            (size(col("toks")) - 1).cast("long").as("n_pairs"),
            size(filter(pairs, x => x === 0)).cast("long").as("n_green"))
          .select(col("doc_id"), col("n_pairs"), col("n_green"),
            expr("n_green * 10000 div n_pairs").as("green_bp"),
            // one-sided z-test: a green-list sampler only biases the
            // green rate UP, so only an excess (2G − P > 0) may flag;
            // squaring alone would also flag a far-below-½ rate
            ((col("n_green") * 2 - col("n_pairs")) > 0 &&
              ((col("n_green") * 2 - col("n_pairs")) *
                (col("n_green") * 2 - col("n_pairs"))) >
                col("n_pairs") * 9).as("watermarked"))
      },
      Some("""WITH wm_t AS (SELECT doc_id,
        |    string_split_regex(lower(text),'\s+') AS l FROM documents),
        |wm_p AS (SELECT doc_id, CAST(len(l) - 1 AS BIGINT) AS n_pairs,
        |    CAST(len(list_filter(list_transform(
        |      generate_series(1, len(l) - 1),
        |      i -> CAST('0x' || substr(md5(l[i] || '|' || l[i+1]), 1, 4)
        |        AS BIGINT) % 2), x -> x = 0)) AS BIGINT) AS n_green
        |  FROM wm_t WHERE len(l) >= 2)
        |SELECT doc_id, n_pairs, n_green,
        |  CAST(n_green * 10000 // n_pairs AS BIGINT) AS green_bp,
        |  (n_green * 2 - n_pairs) > 0 AND
        |  (n_green * 2 - n_pairs) * (n_green * 2 - n_pairs) > n_pairs * 9
        |    AS watermarked
        |FROM wm_p""".stripMargin)),

    // ── Fill-in-middle (FIM) transform: the standard code/infilling
    //    training rewrite — split each document into (prefix, middle,
    //    suffix) at two md5-derived cut points and emit the PSM
    //    reordering `<pre> prefix <suf> suffix <mid> middle`, so the
    //    model learns to infill conditioned on both sides. Distinct from
    //    x_span_corruption (T5 masking): FIM keeps every token, only
    //    reorders. Cuts are a pure function of doc_id (reproducible
    //    epoch-to-epoch), bounds 1 ≤ a < b ≤ n−1 guarantee all three
    //    parts non-empty; docs under 12 tokens are left out (trivial
    //    parts teach nothing). Per-row array slicing — zero Exchange ──────
    "x_fim_transform" -> Q(
      (s, d) => {
        val n = size(col("toks"))
        val h1 = conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":a"))), 1, 8), 16, 10).cast("long")
        val h2 = conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":b"))), 1, 8), 16, 10).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= 12)
          .select(col("doc_id"), col("toks"), n.cast("long").as("n_toks"),
            (h1 % (n - 2) + 1).cast("int").as("a"))
          .select(col("doc_id"), col("toks"), col("n_toks"), col("a"),
            (col("a") + lit(1) +
              (h2 % (col("n_toks") - col("a") - 1)).cast("int")).as("b"))
          .select(col("doc_id"), col("n_toks"),
            col("a").cast("long").as("a"), col("b").cast("long").as("b"),
            md5(concat(
              lit("<|fim_pre|> "),
              concat_ws(" ", slice(col("toks"), lit(1), col("a"))),
              lit(" <|fim_suf|> "),
              concat_ws(" ", slice(col("toks"), col("b") + 1,
                size(col("toks")) - col("b"))),
              lit(" <|fim_mid|> "),
              concat_ws(" ", slice(col("toks"), col("a") + 1,
                col("b") - col("a"))))).as("psm_fp"))
      },
      Some("""WITH fim_t AS (SELECT doc_id,
        |    string_split_regex(lower(text),'\s+') AS l,
        |    CAST(len(string_split_regex(lower(text),'\s+')) AS BIGINT) AS n
        |  FROM documents WHERE len(string_split_regex(lower(text),'\s+')) >= 12),
        |fim_a AS (SELECT doc_id, l, n,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 8)
        |      AS BIGINT) % (n - 2) + 1 AS a
        |  FROM fim_t),
        |fim_b AS (SELECT doc_id, l, n, a,
        |    a + 1 + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'),
        |      1, 8) AS BIGINT) % (n - a - 1) AS b
        |  FROM fim_a)
        |SELECT doc_id, n AS n_toks, CAST(a AS BIGINT) AS a,
        |  CAST(b AS BIGINT) AS b,
        |  md5('<|fim_pre|> ' || array_to_string(l[1:a], ' ') ||
        |      ' <|fim_suf|> ' || array_to_string(l[b+1:n], ' ') ||
        |      ' <|fim_mid|> ' || array_to_string(l[a+1:b], ' ')) AS psm_fp
        |FROM fim_b""".stripMargin))
  )
}
