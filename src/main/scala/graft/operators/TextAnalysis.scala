package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Catalog.Key
import graft.Tables
import graft.functions.TextFns

/** Text-analysis operators for a training-data pipeline
  * (SURVEY.md §2.D). Everything is built-in-function composition —
  * codegen'd, UDF-free, embarrassingly parallel, so it holds at
  * 100 TB as a pure map stage over the corpus.
  *
  * Oracled queries keep every expression bit-reproducible in DuckDB:
  * integer counts from identical regexes, double arithmetic in
  * identical evaluation order (SURVEY.md §5).
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, Tables.documents(s, dir))

  // ---- text_tokens: token counting (oracled) ---------------------------
  private val WordRe = "[a-zA-Z]+"
  // BPE-ish pre-tokenizer: letter runs | digit runs | single symbol
  private val BpeRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(WordRe), lit(0))).as("n_word_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeRe), lit(0))).as("n_bpe_tokens"),
      length(col("text")).as("n_chars"),
      octet_length(encode(col("text"), "UTF-8")).as("n_bytes"))

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_word_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
      |  length(text) AS n_chars,
      |  octet_length(encode(text)) AS n_bytes
      |FROM documents""".stripMargin

  // ---- text_quality: quality scoring (oracled) -------------------------
  private val StopRe = "\\b(the|a|an|and|or|of|to|in|is|it|for|on|with|as)\\b"
  private val PunctCls = "[.,;:!?'\"()\\[\\]{}-]"

  private def ratio(a: Column, b: Column): Column =
    when(b === 0, 0.0).otherwise(a.cast("double") / b.cast("double"))

  private def stopRatio(text: Column): Column =
    ratio(size(regexp_extract_all(lower(text), lit(StopRe), lit(0))),
      size(split(trim(text), "\\s+")))
  private def punctRatio(text: Column): Column =
    ratio(size(regexp_extract_all(text, lit(PunctCls), lit(0))), length(text))
  private def alphaRatio(text: Column): Column =
    ratio(length(regexp_replace(text, "[^a-zA-Z]", "")), length(text))
  private def lenNorm(text: Column): Column =
    least(lit(1.0), size(split(trim(text), "\\s+")).cast("double") / lit(100.0))

  /** The composite quality score as a reusable expression — the
    * curation pipeline (Curation.textPipeline) filters on it. */
  private[graft] def qualityScore(text: Column): Column =
    stopRatio(text) * 0.25 + alphaRatio(text) * 0.25 +
      (lit(1.0) - punctRatio(text)) * 0.25 + lenNorm(text) * 0.25

  def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      stopRatio(col("text")).as("stopword_ratio"),
      punctRatio(col("text")).as("punct_ratio"),
      alphaRatio(col("text")).as("alpha_ratio"),
      lenNorm(col("text")).as("len_norm"),
      qualityScore(col("text")).as("quality_score"))

  /** DuckDB subquery computing the quality-score components per doc —
    * shared by the text_quality oracle and the mix_curriculum oracle
    * (Sampling), so the score definition cannot drift between them. */
  private[graft] val QualityPartsSubSql: String =
    """SELECT doc_id, text,
      |    CASE WHEN len(string_split_regex(trim(text), '\s+')) = 0 THEN 0.0
      |      ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it|for|on|with|as)\b')) AS DOUBLE)
      |        / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END AS stop_r,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE) END AS punct_r,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE) END AS alpha_r,
      |    least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0) AS len_norm
      |  FROM documents""".stripMargin

  /** The composite score over [[QualityPartsSubSql]]'s columns, in
    * Spark's left-to-right evaluation order (bit-exact parity). */
  private[graft] val QualityScoreExprSql: String =
    "stop_r * 0.25 + alpha_r * 0.25 + (1.0 - punct_r) * 0.25 + len_norm * 0.25"

  val textQualitySql: String =
    s"""SELECT doc_id,
      |  length(text) AS n_chars,
      |  len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
      |  stop_r AS stopword_ratio, punct_r AS punct_ratio,
      |  alpha_r AS alpha_ratio, len_norm,
      |  $QualityScoreExprSql AS quality_score
      |FROM (
      |  $QualityPartsSubSql
      |)""".stripMargin

  // ---- text_gopher_filter: Gopher rule-based quality gate --------------
  /** The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models", Table A1) as a hard per-document gate —
    * complementary to text_quality, which SCORES: this one applies
    * the published pass/fail RULES and emits every rule verdict so a
    * curation run can audit which rule cut each document.
    * Rules kept (the corpus is single-line, so the line-shape rules —
    * bullet/ellipsis line fractions — have no domain here and are
    * documented out):
    *   1. 50 <= word count <= 100,000
    *   2. 3 <= mean word length <= 10
    *   3. symbol-to-word ratio <= 0.1 ('#' or '...' occurrences)
    *   4. >= 80% of words contain at least one alphabetic character
    *   5. >= 2 distinct stop words present — the paper's rule over
    *      its 8-word list (the/be/to/of/and/that/have/with); the
    *      synthetic corpus vocabulary only contains "the" of those,
    *      so the LIST is adapted to the corpus language profile
    *      (the same stop inventory text_quality scores with) while
    *      the >= 2-distinct RULE stays the paper's
    * keep = all five. Pure map stage over the corpus — array-local
    * expressions, no shuffle, embarrassingly parallel at 100 TB; all
    * arithmetic integer-seeded so the doubles are bit-identical
    * cross-engine. */
  private val GopherStops = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "for", "on", "with", "as")

  def textGopherFilter(s: SparkSession, dir: String): DataFrame =
    gopherFromDocs(docs(s, dir))

  private[graft] def gopherFromDocs(d: DataFrame): DataFrame = {
    val ts = split(trim(lower(col("text"))), "\\s+")
    val nWords = size(ts).cast("long")
    val sumLen = aggregate(ts, lit(0L), (acc, x) => acc + length(x))
    val meanLen = sumLen.cast("double") / nWords.cast("double")
    val nSymbols = size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).cast("long")
    val symbolRatio = nSymbols.cast("double") / nWords.cast("double")
    val nAlphaWords = size(filter(ts, x => x.rlike("[a-zA-Z]"))).cast("long")
    val alphaFrac = nAlphaWords.cast("double") / nWords.cast("double")
    val nStops = size(array_intersect(array_distinct(ts),
      array(GopherStops.map(lit): _*))).cast("long")
    d.select(col("doc_id"), nWords.as("n_words"),
      meanLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"), nStops.as("n_stop_types"))
      .withColumn("ok_word_count", col("n_words").between(50L, 100000L))
      .withColumn("ok_mean_word_len", col("mean_word_len").between(3.0, 10.0))
      .withColumn("ok_symbol_ratio", col("symbol_ratio") <= 0.1)
      .withColumn("ok_alpha_words", col("alpha_word_frac") >= 0.8)
      .withColumn("ok_stop_words", col("n_stop_types") >= 2L)
      .withColumn("keep", col("ok_word_count") && col("ok_mean_word_len") &&
        col("ok_symbol_ratio") && col("ok_alpha_words") && col("ok_stop_words"))
  }

  val textGopherFilterSql: String = {
    val stops = GopherStops.map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(ts) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
      |      / CAST(len(ts) AS BIGINT) AS mean_word_len,
      |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
      |      / CAST(len(ts) AS BIGINT) AS symbol_ratio,
      |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
      |      / CAST(len(ts) AS BIGINT) AS alpha_word_frac,
      |    CAST(len(list_intersect(list_distinct(ts), [$stops])) AS BIGINT)
      |      AS n_stop_types
      |  FROM (
      |    SELECT doc_id, text,
      |      string_split_regex(trim(lower(text)), '\\s+') AS ts
      |    FROM documents
      |  )
      |)
      |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
      |  n_stop_types,
      |  n_words BETWEEN 50 AND 100000 AS ok_word_count,
      |  mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
      |  symbol_ratio <= 0.1 AS ok_symbol_ratio,
      |  alpha_word_frac >= 0.8 AS ok_alpha_words,
      |  n_stop_types >= 2 AS ok_stop_words,
      |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |    AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
      |    AND n_stop_types >= 2 AS keep
      |FROM m""".stripMargin
  }

  // ---- text_langid: marker-word heuristic language ID ------------------
  private val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|is|to|in|that|it|was|for)\\b",
    "fr" -> "\\b(le|la|les|et|de|un|une|est|que|pour)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b",
    "es" -> "\\b(el|los|las|y|es|un|una|que|por|para)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]") // \x{} form: valid in both Java and RE2

  val textLangidSql: String = {
    val scores = LangMarkers.map { case (lang, re) =>
      s"len(regexp_extract_all(lower(text), '$re')) AS s_$lang"
    }.mkString(",\n    ")
    val langs = LangMarkers.map(_._1)
    // tie → earliest marker order, mirroring the Column fold below
    val caseArms = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("\n      ")
    s"""WITH s AS (
      |  SELECT doc_id, lang AS label_lang,
      |    $scores
      |  FROM documents
      |)
      |SELECT doc_id, label_lang,
      |  CASE $caseArms ELSE '${langs.last}' END AS pred_lang,
      |  greatest(${langs.map("s_" + _).mkString(", ")}) AS marker_hits,
      |  CASE $caseArms ELSE '${langs.last}' END = label_lang AS is_correct
      |FROM s""".stripMargin
  }

  /** Deterministic argmax over the marker scores: max score, ties
    * broken by marker order — reusable (score, lang) struct for the
    * langid query and the curation pipeline.
    *
    * Shape matters (guide §7.3 — planning time IS part of a query's
    * cost): the previous nested when(a,b).otherwise(a) fold embedded
    * the accumulated expression ~3× per step, so the tree grew
    * exponentially in the marker count (hundreds of regexp nodes for
    * 5 languages) and Catalyst spent ~1.7 s of the key's ~1.9 s wall
    * ANALYZING it, every pass, in every consumer (text_langid,
    * text_ccnet, text_pipeline). array_max over (score, prio, lang)
    * structs is the same total order — struct comparison is
    * field-by-field, and prio values are distinct so lang is never
    * consulted — with a tree linear in the marker count. */
  private[operators] def langBest(text: Column): Column =
    array_max(array(LangMarkers.zipWithIndex.map { case ((lang, re), i) =>
      struct(regexp_count(lower(text), lit(re)).as("score"),
        lit(LangMarkers.size - i).as("prio"), lit(lang).as("lang"))
    }: _*))

  private[operators] def predLang(text: Column): Column =
    langBest(text).getField("lang")

  /** Inline (no-CTE) DuckDB SELECT computing pred_lang per doc_id —
    * embeddable as a CTE body by composite oracles (the curation
    * pipeline), where the WITH-form [[textLangidSql]] can't nest. */
  private[operators] val predLangInlineSql: String = {
    val scores = LangMarkers.map { case (lang, re) =>
      s"len(regexp_extract_all(lower(text), '$re')) AS s_$lang"
    }.mkString(", ")
    val langs = LangMarkers.map(_._1)
    val caseArms = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $caseArms ELSE '${langs.last}' END AS pred_lang
       |  FROM (SELECT doc_id, $scores FROM documents)""".stripMargin
  }

  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val best = langBest(col("text"))
    docs(s, dir).select(col("doc_id"), col("lang").as("label_lang"),
        best.getField("lang").as("pred_lang"),
        best.getField("score").as("marker_hits"))
      .withColumn("is_correct", col("pred_lang") === col("label_lang"))
  }

  // ---- text_fingerprint: order-sensitive rolling document hash ---------
  /** Horner polynomial rolling fingerprint over the document's Unicode
    * code points, mod the Mersenne prime 2^31-1 — order-sensitive
    * (unlike the set-based dedup signatures) and engine-neutral, so the
    * oracle recomputes it independently (DuckDB list_reduce over
    * unicode(char)). Spark's split('')/ascii pair yields full code
    * points (astral plane included), verified identical to DuckDB's
    * string_split('')/unicode. Empty text pins to 0 (the engines
    * disagree on unicode('')). Pure codegen map stage, zero shuffle. */
  private val FpMod = 2147483647L // 2^31 - 1
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      when(length(col("text")) === 0, lit(0L)).otherwise(
        aggregate(transform(split(col("text"), ""), c => ascii(c).cast("long")),
          lit(0L), (acc, x) => (acc * 31 + x) % FpMod)).as("fingerprint"),
      size(TextFns.tokens(col("text"))).as("n_tokens"))

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
      |    ELSE list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS fingerprint,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
      |FROM documents""".stripMargin

  // ---- text_tfidf: corpus TF-IDF top terms per document ----------------
  /** Top-[[TfidfTopK]] TF-IDF terms per document. tf/df are exact
    * integer counts; the idf weight is the RATIONAL (N+1)/(df+1) —
    * chosen over log-idf because ln() is not correctly rounded in
    * either engine (measured: 4/11502 inputs differ between Java
    * Math.log and DuckDB ln), while one integer-ratio multiply and
    * divide is bit-exact cross-engine. Ranking per doc is total-ordered
    * by (score DESC, term) so the top-k set is deterministic.
    *
    * Scale posture: tf is a (doc,term)-keyed partial→final agg; df
    * aggregates the already-distinct tf table by term; the tf⋈df
    * equi-join shuffles on the term key. No driver loop — the corpus
    * size N enters as a broadcast one-row cross join. */
  private val TfidfTopK = 5
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfT, "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }

  val textTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf, df, score, rank FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE) AS score,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE) DESC,
      |        tf.term) AS INT) AS rank
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |) WHERE rank <= 5""".stripMargin

  // ---- text_bm25: lexical retrieval scoring (oracled) ------------------
  /** BM25 ranking (Robertson et al.; k1 = 1.2, b = 0.75) — the lexical
    * retrieval primitive of every search / RAG stack, over a
    * deterministic query set derived from the corpus itself: the
    * [[Bm25QTerms]] highest-df terms of length ≥ 4 (df DESC, term ASC
    * — a TakeOrderedAndProject, no global sort). Per query term the
    * top-[[Bm25TopK]] documents by
    * `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`, where idf is
    * the RATIONAL (N+1)/(df+1) — the tfidf note: ln() is not
    * correctly rounded cross-engine, while the ratio and the length
    * normalization are single correctly-rounded IEEE operations in an
    * evaluation order the oracle mirrors token for token.
    *
    * Scale: tf is the (doc,term) partial→final agg; the query-term
    * join broadcasts [[Bm25QTerms]] rows so only their postings are
    * ever scored; dl attaches by doc-keyed equi-join; the per-term
    * top-k is a partitioned window (WindowGroupLimit pushes the k
    * cut into each partition). Nothing touches non-matching docs. */
  private val Bm25QTerms = 8
  private val Bm25TopK = 10

  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val toks = d.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = d.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("dl"))
    val qterms = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(length(col("term")) >= 4)
      .orderBy(col("df").desc, col("term")).limit(Bm25QTerms)
    val tot = d.agg(count(lit(1)).as("n_docs"),
      sum(size(TextFns.tokens(col("text"))).cast("long")).as("tot_tokens"))
    val w = Window.partitionBy("term").orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("score",
        ((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double")) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") /
                (col("tot_tokens").cast("double") / col("n_docs").cast("double")))))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select("term", "df", "doc_id", "tf", "dl", "score", "rank")
  }

  val textBm25Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS dl
       |  FROM documents
       |), qterms AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
       |  HAVING length(term) >= 4 ORDER BY df DESC, term LIMIT $Bm25QTerms
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    (SELECT CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT)
       |     FROM documents) AS tot_tokens
       |  FROM documents
       |), scored AS (
       |  SELECT q.term, q.df, tf.doc_id, tf.tf, dl.dl,
       |    (CAST(t.n_docs + 1 AS DOUBLE) / CAST(q.df + 1 AS DOUBLE)) *
       |      ((CAST(tf.tf AS DOUBLE) * 2.2) /
       |        (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |          (CAST(dl.dl AS DOUBLE) /
       |            (CAST(t.tot_tokens AS DOUBLE) / CAST(t.n_docs AS DOUBLE)))))) AS score
       |  FROM tf JOIN qterms q USING (term) JOIN dl USING (doc_id) CROSS JOIN tot t
       |)
       |SELECT term, df, doc_id, tf, dl, score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY term
       |    ORDER BY score DESC, doc_id) AS INT) AS rank
       |  FROM scored
       |) WHERE rank <= $Bm25TopK""".stripMargin

  // ---- text_inverted_index: search-index build accounting (oracled) ----
  /** Inverted-index BUILD — the term-dictionary + postings accounting
    * a search stack materializes from a corpus: per term, document
    * frequency, collection frequency, the posting id range, and an
    * ORDER-INDEPENDENT postings integrity digest (Σ over postings of
    * the 40-bit salted-md5 integer of the doc id — commutative, so it
    * aggregates map-side with no sort and no collect_list; a dropped,
    * duplicated, or foreign posting breaks the sum). The digest is
    * the load-time check shard_manifest performs for shards, applied
    * to postings — 40 bits keeps Σ within BIGINT for df up to ~2^23
    * per term; beyond that a production build accumulates it modulo
    * 2^63 on both engines (engine-specific overflow semantics differ,
    * the reason the width is capped here).
    *
    * Scale: one (doc,term) agg then one term-keyed agg, both
    * map-side combined; postings are never materialized as a list
    * anywhere. Output is vocabulary-sized. */
  def textInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val h40 = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":ii")).cast("binary")), 1, 10), 16, 10).cast("long")
    tf.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum("tf").as("cf"),
      min("doc_id").as("doc_min"),
      max("doc_id").as("doc_max"),
      sum(h40).as("postings_sum"))
  }

  val textInvertedIndexSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
      |)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
      |  MIN(doc_id) AS doc_min, MAX(doc_id) AS doc_max,
      |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ii'), 1, 10))::BIGINT)
      |    AS BIGINT) AS postings_sum
      |FROM tf GROUP BY term""".stripMargin

  // ---- text_pii: PII detection + redaction accounting (oracled) --------
  /** PII scrubbing pass of a training-data pipeline: per-doc match
    * counts for email / IPv4 / phone patterns, and the digest of the
    * REDACTED text (each match class replaced by a sentinel, in a
    * fixed order so both engines produce identical bytes). Counts are
    * taken on the original text; the redaction chain is
    * email → ipv4 → phone. Patterns are written in the common
    * Java-regex ∩ RE2 dialect so the oracle runs them verbatim.
    * Pure codegen map stage, zero shuffle. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  private[graft] def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def textPii(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ipv4"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
      sha2(redact(col("text")).cast("binary"), 256).as("redacted_sha"))
      .withColumn("has_pii",
        (col("n_emails") + col("n_ipv4") + col("n_phones")) > 0)

  val textPiiSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
      |  len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phones,
      |  sha256(regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g')) AS redacted_sha,
      |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |    + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
      |    + len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) > 0 AS has_pii
      |FROM documents""".stripMargin

  // ---- text_repetition: repetition / boilerplate signals (oracled) -----
  /** Gopher-style repetition quality signals: the duplicate fraction
    * of tokens, bigrams and trigrams per document (1 − distinct/total;
    * heavily templated or looping text scores high). Every fraction is
    * an integer/integer division — bit-identical cross-engine. All
    * array-local: zero shuffle at any corpus size. */
  private def ngramsAll(toksCol: Column, n: Int): Column =
    when(size(toksCol) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toksCol) - n),
        i => concat_ws(" ", slice(toksCol, i + 1, lit(n)))))

  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    def dupFrac(arr: Column): Column =
      when(size(arr) === 0, 0.0)
        .otherwise(lit(1.0) -
          size(array_distinct(arr)).cast("double") / size(arr).cast("double"))
    docs(s, dir).select(col("doc_id"),
      size(toks).as("n_tokens"),
      dupFrac(toks).as("dup_token_frac"),
      size(ngramsAll(toks, 2)).as("n_2grams"),
      dupFrac(ngramsAll(toks, 2)).as("dup_2gram_frac"),
      size(ngramsAll(toks, 3)).as("n_3grams"),
      dupFrac(ngramsAll(toks, 3)).as("dup_3gram_frac"))
  }

  val textRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, ts,
      |    CASE WHEN len(ts) < 2 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) END AS g2,
      |    CASE WHEN len(ts) < 3 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS g3
      |  FROM t
      |)
      |SELECT doc_id,
      |  len(ts) AS n_tokens,
      |  CASE WHEN len(ts) = 0 THEN 0.0
      |    ELSE 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE) END AS dup_token_frac,
      |  len(g2) AS n_2grams,
      |  CASE WHEN len(g2) = 0 THEN 0.0
      |    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
      |  len(g3) AS n_3grams,
      |  CASE WHEN len(g3) = 0 THEN 0.0
      |    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac
      |FROM g""".stripMargin

  // ---- text_contamination: benchmark n-gram overlap (oracled) ----------
  /** Decontamination check: the fraction of each document's distinct
    * token 5-grams that appear in a held-out benchmark set (here the
    * fixed doc_id < [[ContamBenchN]] window — in production, the eval
    * suites). Scale posture: the benchmark n-gram set is BOUNDED (the
    * benchmark suite, not the corpus), so it broadcasts; the corpus
    * side is one explode → broadcast left-join → partial agg keyed by
    * doc_id. No stage touches a corpus-sized build side. */
  private[graft] val ContamBenchN = 20
  private val ContamN = 5

  def textContamination(s: SparkSession, dir: String): DataFrame = {
    val grams = docs(s, dir).select(col("doc_id"),
      explode(TextFns.shingles(col("text"), ContamN)).as("gram"))
    val bench = grams.filter(col("doc_id") < ContamBenchN)
      .select("gram").distinct().withColumn("hit", lit(1L))
    val perDoc = grams.join(broadcast(bench), Seq("gram"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
    docs(s, dir).select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_frac",
        when(col("n_ngrams") === 0, 0.0).otherwise(
          col("n_contaminated").cast("double") / col("n_ngrams").cast("double")))
  }

  val textContaminationSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(ts) < 5 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(1, len(ts) - 3),
      |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) END)) AS gram
      |  FROM t
      |), b AS (
      |  SELECT DISTINCT gram FROM g WHERE doc_id < 20
      |), h AS (
      |  SELECT g.doc_id, COUNT(*) AS n_ngrams,
      |    CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |  FROM g LEFT JOIN b ON g.gram = b.gram GROUP BY g.doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(h.n_ngrams, 0) AS n_ngrams,
      |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
      |  CASE WHEN COALESCE(h.n_ngrams, 0) = 0 THEN 0.0
      |    ELSE CAST(h.n_contaminated AS DOUBLE) / CAST(h.n_ngrams AS DOUBLE) END AS contamination_frac
      |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin

  // ---- text_normalize: canonical text normalization (oracled) ----------
  /** The curation normalize pass: Unicode NFC (native codegen
    * expression — composed vs decomposed accents must agree before any
    * content hash), lowercase, trim, whitespace collapse. Emits
    * before/after char counts, a changed flag, and the sha256 of the
    * normalized form — the digest exact dedup would run on after
    * normalization. Pure map stage, zero shuffle, embarrassingly
    * parallel at any corpus scale. Oracled end-to-end: DuckDB applies
    * nfc_normalize + the same regex pipeline and recomputes the
    * digest. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(
      trim(lower(graft.functions.NormFns.nfc(col("text")))), "\\s+", " ")
    docs(s, dir).select(col("doc_id"),
      length(col("text")).as("n_chars_raw"),
      length(norm).as("n_chars_norm"),
      (norm =!= col("text")).as("changed"),
      sha2(norm.cast("binary"), 256).as("norm_sha"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars_raw,
      |  length(norm) AS n_chars_norm,
      |  norm <> text AS changed,
      |  sha256(norm) AS norm_sha
      |FROM (
      |  SELECT doc_id, text,
      |    regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g') AS norm
      |  FROM documents
      |)""".stripMargin

  // ---- text_crossdup: cross-document repeated-span coverage ------------
  /** The distributed approximation of suffix-array training-data
    * dedup (remove long substrings repeated across documents): every
    * token position is covered iff it lies inside an 8-gram that also
    * occurs in ANOTHER document; the output is each doc's covered
    * position count and fraction — the signal a curation pipeline
    * cuts on (complement of text_repetition, which is intra-doc).
    *
    * Shape: one gram explode (W tokens per row), a distinct-doc count
    * per gram (partial→final agg), a semi-join of gram occurrences
    * against the repeated grams, a span re-explode to positions, and
    * a distinct+count per doc. Nothing is quadratic: cost tracks
    * total gram occurrences, and only (gram, doc, pos) rows shuffle.
    * At 100 TB the gram key would be a 64-bit hash (xxhash64) rather
    * than the token string — engine-specific, so the oracled form
    * keeps the string and the note stays here. */
  private val CrossW = 8

  /** Lowercased whitespace tokens + count — shared by the gram family. */
  private def lowerToks(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("ts"))
      .withColumn("n_tokens", size(col("ts")).cast("long"))

  /** One row per [[CrossW]]-token window start: (doc_id, pos, gram). */
  private def gramStarts(toks: DataFrame): DataFrame =
    toks.filter(col("n_tokens") >= CrossW)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), (col("n_tokens") - CrossW).cast("int")),
        i => struct((i + 1).as("pos"),
          array_join(slice(col("ts"), i + 1, lit(CrossW)), " ").as("gram")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))

  /** Grams that occur in >= 2 distinct documents (partial→final agg). */
  private def dupGramSet(grams: DataFrame): DataFrame =
    grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gram")

  private[graft] def crossdupFromDocs(d: DataFrame): DataFrame = {
    val toks = lowerToks(d)
    val grams = gramStarts(toks)
    val covered = grams.join(dupGramSet(grams), "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (CrossW - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_positions"))
    toks.select("doc_id", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        (coalesce(col("n_dup_positions"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
  }

  def textCrossdup(s: SparkSession, dir: String): DataFrame =
    crossdupFromDocs(docs(s, dir))

  val textCrossdupSql: String =
    s"""WITH base AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      |  FROM documents
      |), sized AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, ts FROM base
      |), grams AS (
      |  SELECT doc_id, pos, array_to_string(ts[pos:pos+${CrossW - 1}], ' ') AS gram
      |  FROM (
      |    SELECT doc_id, ts,
      |      unnest(generate_series(1, CAST(n_tokens - ${CrossW - 1} AS BIGINT))) AS pos
      |    FROM sized WHERE n_tokens >= $CrossW
      |  )
      |), dup AS (
      |  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
      |), cov AS (
      |  SELECT DISTINCT doc_id, p FROM (
      |    SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + ${CrossW - 1})) AS p
      |    FROM grams g JOIN dup d USING (gram)
      |  )
      |), agg AS (
      |  SELECT doc_id, COUNT(*) AS n_dup_positions FROM cov GROUP BY doc_id
      |)
      |SELECT b.doc_id, b.n_tokens,
      |  COALESCE(a.n_dup_positions, 0) AS n_dup_positions,
      |  CAST(COALESCE(a.n_dup_positions, 0) AS DOUBLE)
      |    / CAST(b.n_tokens AS DOUBLE) AS dup_frac
      |FROM sized b LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ---- dedup_substring: maximal duplicated-substring runs --------------
  /** ExactSubstr-style substring-run deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * where text_crossdup measures per-POSITION duplicate coverage,
    * this finds each document's maximal RUNS of consecutive
    * duplicated [[CrossW]]-token windows. A run of R consecutive
    * duplicated window starts is a substring of R + W - 1 tokens
    * shared verbatim with at least one other document; documents
    * whose longest such substring reaches [[MinDupSubstr]] tokens are
    * flagged for removal (the scaled-down analog of the paper's
    * 50-BPE-token cut — the synthetic docs top out near 100 tokens).
    *
    * Shape at 100 TB: the shared crossdup gram machinery (explode →
    * distinct-doc agg → equi-join back) plus gaps-and-islands over a
    * PARTITIONED per-doc row_number window and two grouped aggs —
    * no unpartitioned window, nothing quadratic. The paper's
    * suffix-array formulation is single-machine; windowed grams are
    * the shuffle-shaped equivalent for duplicated runs >= W tokens. */
  private val MinDupSubstr = 20

  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    dedupSubstringFromDocs(docs(s, dir))

  private[graft] def dedupSubstringFromDocs(d: DataFrame): DataFrame = {
    val toks = lowerToks(d)
    val grams = gramStarts(toks)
    val runs = grams.join(dupGramSet(grams), "gram")
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_windows"))
    val perDoc = runs.groupBy("doc_id").agg(
      count(lit(1)).as("n_dup_runs"),
      max(col("run_windows")).as("max_run_windows"))
    toks.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_runs"), lit(0L)).as("n_dup_runs"),
        coalesce(col("max_run_windows") + (CrossW - 1), lit(0L))
          .as("max_dup_substr_tokens"),
        (coalesce(col("max_run_windows") + (CrossW - 1), lit(0L)) >=
          MinDupSubstr).as("drop_doc"))
  }

  val dedupSubstringSql: String =
    s"""WITH base AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      |  FROM documents
      |), sized AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, ts FROM base
      |), grams AS (
      |  SELECT doc_id, pos, array_to_string(ts[pos:pos+${CrossW - 1}], ' ') AS gram
      |  FROM (
      |    SELECT doc_id, ts,
      |      unnest(generate_series(1, CAST(n_tokens - ${CrossW - 1} AS BIGINT))) AS pos
      |    FROM sized WHERE n_tokens >= $CrossW
      |  )
      |), dup AS (
      |  SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
      |), isl AS (
      |  SELECT g.doc_id,
      |    g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
      |  FROM grams g JOIN dup d USING (gram)
      |), runs AS (
      |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run_windows
      |  FROM isl GROUP BY doc_id, grp
      |), agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_runs,
      |    MAX(run_windows) AS mx
      |  FROM runs GROUP BY doc_id
      |)
      |SELECT b.doc_id, b.n_tokens,
      |  COALESCE(a.n_dup_runs, 0) AS n_dup_runs,
      |  COALESCE(a.mx + ${CrossW - 1}, 0) AS max_dup_substr_tokens,
      |  COALESCE(a.mx + ${CrossW - 1}, 0) >= $MinDupSubstr AS drop_doc
      |FROM sized b LEFT JOIN agg a USING (doc_id)""".stripMargin

  // ---- text_source_overlap: source-pair contamination matrix -----------
  /** Dataset-level leakage diagnostics: where text_contamination
    * checks documents against one benchmark set, this measures every
    * SOURCE PAIR's 8-gram overlap — the matrix a corpus assembler
    * reads before declaring two sources independent (train/test
    * splits drawn from overlapping crawls is the classic silent
    * contamination). Per source: its distinct gram set; per pair:
    * |A∩B| by a gram equi-join, |A∪B| by inclusion-exclusion (the
    * q_bitmap_index identity — no outer join), gram-Jaccard.
    *
    * Shape at 100 TB: distinct (source, gram) is one grouped pass
    * over the window explode; the pair stage joins that table to
    * itself ON THE GRAM KEY — cost tracks cross-source gram sharing
    * (the thing being measured), never |A|×|B|; output is
    * source-pair-cardinality. Gram key becomes xxhash64 at scale
    * (the crossdup note). */
  def textSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // source rides the explode directly — joining the gram table (the
    // largest intermediate) back to the doc list just to recover a
    // column the input already had would shuffle gram-cardinality rows
    val toks = docs(s, dir).select(col("source"),
      split(trim(lower(col("text"))), "\\s+").as("ts"))
      .withColumn("n_tokens", size(col("ts")).cast("long"))
    val grams = toks.filter(col("n_tokens") >= CrossW)
      .select(col("source"), explode(transform(
        sequence(lit(0), (col("n_tokens") - CrossW).cast("int")),
        i => array_join(slice(col("ts"), i + 1, lit(CrossW)), " "))).as("gram"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val shared = grams.select(col("source").as("sa"), col("gram"))
      .join(grams.select(col("source").as("sb"), col("gram")), "gram")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_shared"))
    sizes.select(col("source").as("sa"), col("n_grams").as("n_a"))
      .join(sizes.select(col("source").as("sb"), col("n_grams").as("n_b")),
        col("sa") < col("sb"))
      .join(shared, Seq("sa", "sb"), "left")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("gram_jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
  }

  val textSourceOverlapSql: String =
    s"""WITH base AS (
      |  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS ts
      |  FROM documents
      |), grams AS (
      |  SELECT DISTINCT source,
      |    array_to_string(ts[pos:pos+${CrossW - 1}], ' ') AS gram
      |  FROM (
      |    SELECT source, ts,
      |      unnest(generate_series(1, CAST(len(ts) - ${CrossW - 1} AS BIGINT))) AS pos
      |    FROM base WHERE len(ts) >= $CrossW
      |  )
      |), sizes AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
      |), shared AS (
      |  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT x.source AS source_a, y.source AS source_b,
      |  x.n_grams AS n_a, y.n_grams AS n_b,
      |  COALESCE(s.n_shared, 0) AS n_shared,
      |  CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
      |    / CAST(x.n_grams + y.n_grams - COALESCE(s.n_shared, 0) AS DOUBLE)
      |    AS gram_jaccard
      |FROM sizes x JOIN sizes y ON x.source < y.source
      |LEFT JOIN shared s ON s.sa = x.source AND s.sb = y.source""".stripMargin

  // ---- text_paragraph_dedup: cross-doc paragraph-level exact dedup -----
  /** CCNet/Gopher-style paragraph-level exact deduplication: the
    * corpus-curation pass that removes paragraphs repeated across
    * documents (boilerplate, licence headers, nav text) while keeping
    * each document's unique content. The flat synthetic corpus has no
    * newlines, so "paragraph" is a deterministic segmentation:
    * consecutive [[ParaW]]-token windows of the lowercased text (the
    * tail window may be short). A paragraph is duplicated iff it
    * occurs verbatim in >= 2 DISTINCT documents; the output is each
    * doc's paragraph counts, duplicated fraction, and the md5 digest
    * of the CLEANED document (kept paragraphs re-joined in order) —
    * the artifact downstream exact dedup would consume.
    *
    * Shape at 100 TB: one explode (~n_tokens/12 rows/doc), a
    * count-distinct per paragraph (partial→final agg), one equi-join
    * back, one per-doc agg — all keyed shuffles, nothing quadratic.
    * Like text_crossdup, the join key stays the paragraph STRING here
    * so the oracle is engine-independent; at scale it becomes
    * xxhash64(para). */
  private val ParaW = 12

  def textParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("ts"))
    val paras = toks
      .withColumn("nw", expr(s"(size(ts) + ${ParaW - 1}) div $ParaW"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, int(nw) - 1), i -> array_join(slice(ts, i * $ParaW + 1, $ParaW), ' '))")))
      .toDF("doc_id", "para_idx", "para")
    val ndocs = paras.groupBy("para")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val flagged = paras.join(ndocs, "para")
      .select(col("doc_id"), col("para_idx"), col("para"),
        (col("nd") >= 2).as("dup"))
    flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_paras"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_paras"),
      md5(array_join(transform(
        array_sort(collect_list(when(not(col("dup")),
          struct(col("para_idx"), col("para"))))),
        x => x.getField("para")), " ").cast("binary")).as("kept_digest"))
      .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
        (col("n_dup_paras").cast("double") / col("n_paras").cast("double"))
          .as("dup_para_fraction"),
        col("kept_digest"))
  }

  val textParagraphDedupSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
      |    array_to_string(ts[i * $ParaW + 1 : i * $ParaW + $ParaW], ' ') AS para
      |  FROM (
      |    SELECT doc_id, ts,
      |      unnest(generate_series(0, (CAST(len(ts) AS BIGINT) + ${ParaW - 1}) // $ParaW - 1)) AS i
      |    FROM t
      |  )
      |), d AS (
      |  SELECT para, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY para
      |), j AS (
      |  SELECT p.doc_id, p.para_idx, p.para, d.nd >= 2 AS dup
      |  FROM p JOIN d USING (para)
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_paras,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
      |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS dup_para_fraction,
      |  md5(COALESCE(string_agg(CASE WHEN NOT dup THEN para END, ' '
      |        ORDER BY para_idx), '')) AS kept_digest
      |FROM j GROUP BY doc_id""".stripMargin

  // ---- text_perplexity: unigram-LM cross-entropy quality filter --------
  /** CCNet-style perplexity filtering (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets"): score each
    * document by the cross-entropy in bits/token of a unigram language
    * model trained on the corpus itself — add-one smoothed,
    * p(t) = (c(t)+1)/(N+V) — then split the corpus into head/middle/
    * tail TERCILES of the score distribution, the bucketing CCNet
    * feeds to downstream sampling (keep head, resample middle, drop
    * tail). Decomposition keeps everything distributive:
    * bits = (ln(N+V) − Σ_t tf·ln(c(t)+1)/n_d) / ln 2 — one vocab-sized
    * count table (shuffle on term, the TF-IDF shape), one broadcast
    * 1-row totals attach, one per-doc agg. The tercile's global rank
    * rides [[PrefixSum.runningSumWithTotal]] (range-partition +
    * broadcast offsets), never Spark's single-task global window.
    *
    * Oracle: integer columns and the tercile arithmetic are
    * recomputed exactly; `bits` crosses engines through ln(), which
    * neither engine guarantees correctly rounded, so the oracle
    * recomputes it with DuckDB's ln and FILTERS on
    * |echo − recompute| ≤ 1e-9·max(1,|recompute|) (emd_check's
    * certificate pattern — a drifted row drops out and fails the
    * row-count compare), then re-derives the tercile from the ECHOED
    * bits, which are bit-identical by construction. */
  private val PplTerciles = 3

  def textPerplexity(s: SparkSession, dir: String): DataFrame =
    perplexityFromDocs(docs(s, dir))

  private[graft] def perplexityFromDocs(d: DataFrame): DataFrame = {
    val tf = d
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy("term").agg(sum("tf").as("c"))
    val tot = counts.agg(sum("c").as("n_total"), count(lit(1)).as("v_vocab"))
    val perDoc = tf.join(counts, "term")
      .groupBy("doc_id").agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf").cast("double") *
          log(col("c").cast("double") + lit(1.0))).as("sumlog"))
    val scored = perDoc.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((log(col("n_total").cast("double") + col("v_vocab").cast("double")) -
          col("sumlog") / col("n_tokens").cast("double")) / log(lit(2.0)))
          .as("bits"))
    val (ranked, n) = PrefixSum.runningSumWithTotal(
      scored.withColumn("one", lit(1L)),
      Seq(col("bits"), col("doc_id")), "one", "rk")
    ranked.select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("bits"),
      (floor((col("rk") - 1) * PplTerciles / lit(n.toDouble)) + 1)
        .cast("int").as("tercile"))
  }

  val textPerplexitySql: String =
    s"""WITH p AS (
      |  SELECT doc_id, n_tokens, n_distinct, bits
      |  FROM read_parquet('{VERIFY_OUT}/text_perplexity/*.parquet')
      |), toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
      |), c AS (
      |  SELECT term, SUM(tf) AS c FROM tf GROUP BY term
      |), tot AS (
      |  SELECT SUM(c) AS n_total, COUNT(*) AS v_vocab FROM c
      |), d AS (
      |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |    SUM(CAST(tf.tf AS DOUBLE) * ln(CAST(c.c AS DOUBLE) + 1.0)) AS sumlog
      |  FROM tf JOIN c USING (term) GROUP BY tf.doc_id
      |), x AS (
      |  SELECT d.doc_id, d.n_tokens, d.n_distinct,
      |    (ln(CAST(tot.n_total AS DOUBLE) + CAST(tot.v_vocab AS DOUBLE))
      |      - d.sumlog / CAST(d.n_tokens AS DOUBLE)) / ln(2.0) AS bits_x
      |  FROM d CROSS JOIN tot
      |), ok AS (
      |  SELECT p.doc_id, p.n_tokens, p.n_distinct, p.bits
      |  FROM p JOIN x USING (doc_id)
      |  WHERE p.n_tokens = x.n_tokens AND p.n_distinct = x.n_distinct
      |    AND abs(p.bits - x.bits_x) <= 1e-9 * greatest(abs(x.bits_x), 1.0)
      |), r AS (
      |  SELECT doc_id, n_tokens, n_distinct, bits,
      |    row_number() OVER (ORDER BY bits, doc_id) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM ok
      |)
      |SELECT doc_id, n_tokens, n_distinct, bits,
      |  CAST(floor((rk - 1) * $PplTerciles / CAST(n AS DOUBLE)) + 1 AS INTEGER) AS tercile
      |FROM r""".stripMargin

  // ---- text_ccnet: per-LANGUAGE perplexity buckets (the CCNet recipe) --
  /** The CCNet bucketing as published (Wenzek et al. 2020 §3.3):
    * language-ID first, then a language model PER LANGUAGE, then
    * head/middle/tail terciles WITHIN each language — a French
    * document's fluency is judged against French, never against the
    * corpus-majority language ([[textPerplexity]] is the global-
    * tercile variant; this is the one CCNet actually ships). Unigram
    * LM per language over the corpus itself (add-one smoothed, the
    * textPerplexity decomposition with every aggregate keyed by
    * lang), language = [[predLang]]'s marker argmax, and the action
    * column is CCNet's downstream decision (head=keep,
    * middle=resample, tail=drop).
    *
    * Scale: the per-language tercile is the trap — a
    * `Window.partitionBy(lang)` global rank plans ONE sorted task per
    * language, and languages are few and huge (the corpus-majority
    * group IS the corpus). [[PrefixSum.runningSumKeyed]] instead:
    * range-partition on (lang, bits, doc_id), per-(partition, lang)
    * partials to the driver (≤ #partitions + #langs − 1 rows),
    * broadcast offsets, partitioned-window local cumsum — per-group
    * global rank at per-partition wall-clock. Everything upstream is
    * the TF-IDF shuffle shape keyed by (lang, term).
    *
    * Oracle: integer counts and the tercile arithmetic exact; `bits`
    * crosses ln() like textPerplexity, so the oracle recomputes it
    * and FILTERS on |echo − recompute| ≤ 1e-9·max(1,|x|), then
    * re-derives the per-language tercile from the ECHOED bits. */
  def textCcnet(s: SparkSession, dir: String): DataFrame =
    ccnetFromDocs(docs(s, dir))

  private[graft] def ccnetFromDocs(docsDf: DataFrame): DataFrame = {
    val d = docsDf.select(col("doc_id"), col("text"),
      predLang(col("text")).as("lang"))
    // ONE corpus pass (r13 verdict #4): tf feeds both the (lang, term)
    // LM counts and the per-doc score join, and their exchanges key
    // differently ((lang,term) vs (doc_id,lang,term)) so ReuseExchange
    // can never dedupe the subtree — without the checkpoint the
    // scan + langid + tokenize + explode + agg pipeline runs TWICE.
    // The checkpoint materializes the distinct-(doc,term) table once
    // (far smaller than the exploded token stream it replaces); the
    // bench frees the blocks between queries.
    val tf = d.select(col("doc_id"), col("lang"),
        explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // every lang join in this pipeline is null-SAFE (<=>), not just
    // the totals attach: predLang never emits null today, but the
    // null-group invariant this function claims (a null-lang row
    // survives to its own tercile group, matching runningSumKeyed's
    // contract) only holds if NO upstream join drops it first —
    // review r14 caught the totals-only version as ineffective.
    // EqualNullSafe keys stay hash-joinable, so the plan shape is
    // unchanged.
    val counts = tf.groupBy("lang", "term").agg(sum("tf").as("c"))
    val tot = counts.groupBy("lang")
      .agg(sum("c").as("n_total"), count(lit(1)).as("v_vocab"))
    val perDoc = tf.join(
        counts.withColumnRenamed("lang", "__clang")
          .withColumnRenamed("term", "__cterm"),
        col("lang") <=> col("__clang") && col("term") <=> col("__cterm"))
      .groupBy("doc_id", "lang").agg(
        sum("tf").as("n_tokens"),
        sum(col("tf").cast("double") *
          log(col("c").cast("double") + lit(1.0))).as("sumlog"))
    val scored = perDoc.join(
        broadcast(tot.withColumnRenamed("lang", "__tlang")),
        col("lang") <=> col("__tlang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        ((log(col("n_total").cast("double") + col("v_vocab").cast("double")) -
          col("sumlog") / col("n_tokens").cast("double")) / log(lit(2.0)))
          .as("bits"))
    val (ranked, totals) = PrefixSum.runningSumKeyed(
      scored.withColumn("one", lit(1L)), Seq("lang"),
      Seq(col("bits"), col("doc_id")), "one", "rk")
    val tercile = (floor((col("rk") - 1) * PplTerciles /
      col("__total").cast("double")) + 1).cast("int")
    // null-SAFE totals join: runningSumKeyed deliberately preserves a
    // null group key (its partials/offsets treat null as a real
    // group), so the totals attach must match it too — predLang never
    // emits null today, but a plain-equality join here would silently
    // drop any null-group rows a future caller feeds through
    // (ADVICE r13)
    ranked.join(broadcast(totals.withColumnRenamed("lang", "__lang")),
        col("lang") <=> col("__lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("bits"),
        tercile.as("tercile"))
      .withColumn("action", when(col("tercile") === 1, "keep")
        .when(col("tercile") === 2, "resample").otherwise("drop"))
  }

  val textCcnetSql: String =
    s"""WITH p AS (
      |  SELECT doc_id, lang, n_tokens, bits
      |  FROM read_parquet('{VERIFY_OUT}/text_ccnet/*.parquet')
      |), lng AS (
      |  $predLangInlineSql
      |), toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT t.doc_id, l.pred_lang AS lang, t.term, COUNT(*) AS tf
      |  FROM toks t JOIN lng l USING (doc_id) GROUP BY 1, 2, 3
      |), c AS (
      |  SELECT lang, term, SUM(tf) AS c FROM tf GROUP BY 1, 2
      |), tot AS (
      |  SELECT lang, SUM(c) AS n_total, COUNT(*) AS v_vocab FROM c GROUP BY 1
      |), d AS (
      |  SELECT tf.doc_id, tf.lang, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      |    SUM(CAST(tf.tf AS DOUBLE) * ln(CAST(c.c AS DOUBLE) + 1.0)) AS sumlog
      |  FROM tf JOIN c USING (lang, term) GROUP BY 1, 2
      |), x AS (
      |  SELECT d.doc_id, d.lang, d.n_tokens,
      |    (ln(CAST(tot.n_total AS DOUBLE) + CAST(tot.v_vocab AS DOUBLE))
      |      - d.sumlog / CAST(d.n_tokens AS DOUBLE)) / ln(2.0) AS bits_x
      |  FROM d JOIN tot USING (lang)
      |), ok AS (
      |  SELECT p.doc_id, p.lang, p.n_tokens, p.bits
      |  FROM p JOIN x USING (doc_id)
      |  WHERE p.lang = x.lang AND p.n_tokens = x.n_tokens
      |    AND abs(p.bits - x.bits_x) <= 1e-9 * greatest(abs(x.bits_x), 1.0)
      |), r AS (
      |  SELECT doc_id, lang, n_tokens, bits,
      |    row_number() OVER (PARTITION BY lang ORDER BY bits, doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM ok
      |)
      |SELECT doc_id, lang, n_tokens, bits,
      |  CAST(floor((rk - 1) * $PplTerciles / CAST(n AS DOUBLE)) + 1 AS INTEGER)
      |    AS tercile,
      |  CASE CAST(floor((rk - 1) * $PplTerciles / CAST(n AS DOUBLE)) + 1 AS INTEGER)
      |    WHEN 1 THEN 'keep' WHEN 2 THEN 'resample' ELSE 'drop' END AS action
      |FROM r""".stripMargin

  // ---- text_bpe_train: BPE tokenizer-vocabulary training ---------------
  /** Byte-pair-encoding vocabulary training (Sennrich et al. 2016) —
    * the tokenizer-construction step of an LLM data pipeline, run the
    * way the reference algorithm actually runs: over the WORD-
    * FREQUENCY DICTIONARY, not the running text (state is
    * distinct-word-sized — at 100 TB the dictionary is millions of
    * rows while the corpus is trillions of tokens, and pair counts
    * are frequency-weighted aggregates over it). Each round: count
    * all adjacent symbol pairs weighted by word frequency (one
    * explode + map-side-combined agg), pick the most frequent pair
    * (count DESC, pair ASC tie-break — deterministic, no RNG; the
    * global argmax is orderBy+limit(1) = per-partition top-1 + a
    * 1-row driver merge, never a global sort), then merge every
    * greedy left-to-right non-overlapping occurrence via a codegen'd
    * `aggregate` fold over the symbol array. Rounds are
    * driver-looped with scoped checkpoints ([[CheckpointScope]]) —
    * the standard iterative-operator shape (pagerank, clusters).
    *
    * FULLY oracled: DuckDB replays all [[BpeMerges]] rounds from the
    * same dictionary with generated SQL — the greedy fold is
    * re-expressed relationally (pair-start runs + parity selection,
    * equivalent to the fold because starts can only be adjacent when
    * a = b), so merges, counts, and tie-breaks are bit-identical
    * cross-engine. Words are ASCII letter runs ([a-z]+ of the
    * lowercased text, the BPE pre-tokenizer convention), so
    * char-splitting agrees on every engine. */
  private[graft] val BpeMerges = 6
  private val BpeWordRe = "[a-z]+"

  def textBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainFromDocs(s, docs(s, dir))

  /** One greedy non-overlapping merge pass of pair (a,b) over a
    * symbol array, as a left fold: append t, except when the
    * accumulator ends with `a` and t = `b` — then replace that tail
    * element with the merged symbol. Runs like "aaa" under pair
    * (a,a) merge at alternate positions, exactly BPE's rule. */
  private def bpeMergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, t) =>
      when(size(acc) === 0, concat(acc, array(t)))
        .when(element_at(acc, -1) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(t))))

  private[graft] def bpeTrainFromDocs(s: SparkSession, d: DataFrame): DataFrame = {
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    CheckpointScope.scoped(s) { ck =>
      var st = ck(d
        .select(explode(
          regexp_extract_all(lower(col("text")), lit(BpeWordRe), lit(0))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .withColumn("syms", split(col("w"), "")))
      var exhausted = false
      for (r <- 1 to BpeMerges if !exhausted) {
        val best = st.filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(syms) - 2), " +
              "i -> struct(element_at(syms, i + 1) AS a, element_at(syms, i + 2) AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b, cnt) =
            (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
          merges += ((r, a, b, cnt))
          st = ck(st.withColumn("syms", bpeMergeFold(col("syms"), a, b)))
        }
      }
    }
    import s.implicits._
    merges.toSeq.toDF("round", "merge_a", "merge_b", "pair_count")
      .withColumn("new_symbol", concat(col("merge_a"), col("merge_b")))
  }

  // ---- text_bpe_encode: apply the trained vocabulary to the corpus -----
  /** BPE ENCODING — the other half of the tokenizer lifecycle: train
    * the [[BpeMerges]]-round vocabulary (exactly [[textBpeTrain]]),
    * then encode every document with it and report the token
    * accounting every pretraining data pipeline needs per doc — word
    * count, word characters, post-BPE token count, and the
    * compression ratio (chars per BPE token, the standard tokenizer
    * fertility metric).
    *
    * Shape at 100 TB: the merge list is ≤[[BpeMerges]] driver rows;
    * encoding happens on the distinct-word DICTIONARY (millions of
    * rows when the corpus is trillions of tokens) by re-applying the
    * merge folds lazily — higher-order `aggregate` expressions over
    * short symbol arrays, no checkpoint state, no UDF. Per-doc totals
    * are then a word-keyed equi-join of the per-(doc, word) counts
    * against the encoded dictionary (the TF-IDF shuffle shape) +
    * one map-side-combined agg. Nothing is corpus-quadratic; the
    * dictionary join key is the word itself (xxhash64 at 100 TB, the
    * crossdup note). Docs with no `[a-z]+` words are preserved with
    * zero counts (left join), so the output is exactly one row per
    * document.
    *
    * FULLY oracled: DuckDB replays the training rounds (the shared
    * [[bpeRoundsSql]] CTE chain — the same SQL text_bpe_train
    * verifies, so the two operators can never train different
    * vocabularies) and re-encodes from its own final round state;
    * counts are integers and the ratio a single IEEE division,
    * bit-exact cross-engine. */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodeWithMerges(docs(s, dir), trainedMerges(s, dir))

  /** The trained merge list, once per (session, dataset) — the
    * production tokenizer lifecycle (train once, encode every shard;
    * the sigStore pattern, except the state here is ≤[[BpeMerges]]
    * driver rows so a map beats parquet). text_bpe_train itself never
    * reads this cache — it IS the training measurement; the
    * determinism spec pins cache ≡ fresh. */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private[graft] def trainedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache.computeIfAbsent(
      java.nio.file.Paths.get(dir).toAbsolutePath.toString + s":$BpeMerges",
      _ => bpeTrainFromDocs(s, docs(s, dir)).orderBy("round").collect()
        .map(r => (r.getAs[String]("merge_a"), r.getAs[String]("merge_b")))
        .toSeq)

  /** Self-contained train+encode over an arbitrary docs frame; the
    * registered query goes through the merge cache above.
    * Test seam: TextMultimodalSpec runs it on hand-traced corpora. */
  private[graft] def bpeEncodeFromDocs(s: SparkSession, d: DataFrame): DataFrame =
    bpeEncodeWithMerges(d,
      bpeTrainFromDocs(s, d).orderBy("round").collect()
        .map(r => (r.getAs[String]("merge_a"), r.getAs[String]("merge_b"))).toSeq)

  private def bpeEncodeWithMerges(d: DataFrame,
                                  merges: Seq[(String, String)]): DataFrame = {
    val docWords = d.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(BpeWordRe), lit(0))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    // distinct-word dictionary, every trained merge applied in order —
    // lazy nested folds (HOFs are interpreted expressions; the state
    // is dictionary-sized, so no checkpoint rounds are needed here)
    val dict = merges.foldLeft(
        docWords.select("w").distinct().withColumn("syms", split(col("w"), ""))) {
        case (df, (a, b)) => df.withColumn("syms", bpeMergeFold(col("syms"), a, b))
      }
      .select(col("w"), size(col("syms")).cast("long").as("n_syms"))
    val perDoc = docWords.join(dict, "w")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_words"),
        sum(col("cnt") * length(col("w"))).as("word_chars"),
        sum(col("cnt") * col("n_syms")).as("bpe_tokens"))
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("word_chars"), lit(0L)).as("word_chars"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"),
        when(coalesce(col("bpe_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("word_chars").cast("double") /
            col("bpe_tokens").cast("double")).as("chars_per_token"))
  }

  /** Generated R-round replay: each round re-derives the pair counts,
    * the argmax, and the greedy merge (run-parity formulation) from
    * the previous round's state. Shared by the text_bpe_train and
    * text_bpe_encode oracles so both engines provably train the SAME
    * vocabulary. */
  private val bpeRoundsSql: String = {
    def roundCtes(r: Int): String = {
      val prev = s"st${r - 1}"
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM $prev, unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |  GROUP BY 1, 2
         |), best$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1
         |), pos$r AS (
         |  SELECT w, freq, i, syms[i] AS t,
         |    COALESCE(i < len(syms) AND syms[i] = (SELECT a FROM best$r)
         |      AND syms[i + 1] = (SELECT b FROM best$r), FALSE) AS is_start
         |  FROM $prev, unnest(generate_series(1, len(syms))) AS u(i)
         |), mk$r AS (
         |  SELECT w, freq, i, t, is_start,
         |    CASE WHEN is_start
         |      THEN i - row_number() OVER (PARTITION BY w, is_start ORDER BY i)
         |      ELSE -1 END AS run_id
         |  FROM pos$r
         |), mg$r AS (
         |  SELECT w, freq, i, t,
         |    is_start AND ((row_number() OVER (PARTITION BY w, is_start, run_id ORDER BY i) - 1) % 2 = 0) AS merge_at
         |  FROM mk$r
         |), dr$r AS (
         |  SELECT w, freq, i, t, merge_at,
         |    COALESCE(lag(merge_at) OVER (PARTITION BY w ORDER BY i), FALSE) AS prev_merged
         |  FROM mg$r
         |), st$r AS MATERIALIZED (
         |  SELECT w, freq,
         |    list(CASE WHEN merge_at
         |      THEN (SELECT a FROM best$r) || (SELECT b FROM best$r)
         |      ELSE t END ORDER BY i) AS syms
         |  FROM dr$r WHERE NOT prev_merged
         |  GROUP BY w, freq
         |)""".stripMargin
    }
    val rounds = (1 to BpeMerges).map(roundCtes).mkString(",\n")
    s"""st0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, regexp_extract_all(w, '.') AS syms
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY w
       |),
       |$rounds""".stripMargin
  }

  val textBpeTrainSql: String = {
    val finals = (1 to BpeMerges).map(r =>
      s"SELECT $r AS round, a AS merge_a, b AS merge_b, cnt AS pair_count, a || b AS new_symbol FROM best$r")
      .mkString("\nUNION ALL\n")
    s"WITH $bpeRoundsSql\n$finals"
  }

  /** Encode replay: re-derive the per-word symbol counts from the
    * final training round's state and aggregate per document. */
  val textBpeEncodeSql: String =
    s"""WITH $bpeRoundsSql,
       |enc AS (
       |  SELECT w, CAST(len(syms) AS BIGINT) AS n_syms FROM st$BpeMerges
       |), dw AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |        FROM documents)
       |  GROUP BY 1, 2
       |), agg AS (
       |  SELECT dw.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
       |    CAST(SUM(cnt * length(w)) AS BIGINT) AS word_chars,
       |    CAST(SUM(cnt * n_syms) AS BIGINT) AS bpe_tokens
       |  FROM dw JOIN enc USING (w) GROUP BY dw.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(COALESCE(agg.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(agg.word_chars, 0) AS BIGINT) AS word_chars,
       |  CAST(COALESCE(agg.bpe_tokens, 0) AS BIGINT) AS bpe_tokens,
       |  CASE WHEN COALESCE(agg.bpe_tokens, 0) = 0 THEN 0.0
       |    ELSE CAST(agg.word_chars AS DOUBLE) / CAST(agg.bpe_tokens AS DOUBLE)
       |  END AS chars_per_token
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin

  // ---- text_pmi: windowed co-occurrence + pointwise mutual information --
  /** Word-association mining (Church & Hanks 1990, the PMI that
    * powered the word2vec-era feature pipelines): count unordered
    * token pairs co-occurring within [[PmiW]] positions, take the
    * [[PmiTopK]] most frequent pairs (count DESC, pair ASC — exact
    * integer selection, TakeOrderedAndProject, no global sort), and
    * score each with PMI = ln(c_ab·N²/(M·c_a·c_b)). Pairs explode
    * from WITHIN the token array (offset-k zips, canonicalized with
    * least/greatest — no self-join), so the only corpus-keyed
    * shuffles are the (a,b) pair agg and the unigram agg; the
    * marginals attach AFTER the top-K cut (a 50-row broadcast into
    * the vocab table, never vocab × vocab).
    *
    * Oracle: counts, totals, and the top-K selection are exact
    * integer arithmetic recomputed by DuckDB; pmi crosses engines
    * through ln() → echo + |echo − recompute| ≤ 1e-9 certificate
    * (the text_perplexity pattern). */
  private val PmiW = 2
  private val PmiTopK = 50

  def textPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      TextFns.tokens(col("text")).as("ts"))
    def offPairs(k: Int) = {
      val ts = col("ts")
      when(size(ts) <= k, array().cast("array<struct<a:string,b:string>>"))
        .otherwise(transform(sequence(lit(1), size(ts) - k), i => struct(
          least(element_at(ts, i), element_at(ts, i + k)).as("a"),
          greatest(element_at(ts, i), element_at(ts, i + k)).as("b"))))
    }
    val pairs = toks
      .select(explode(concat((1 to PmiW).map(offPairs): _*)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val tc = toks.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val totals = pc.agg(sum("c_ab").as("m_pairs")).crossJoin(
      broadcast(tc.agg(sum("c").as("n_tokens"))))
    val top = pc.orderBy(col("c_ab").desc, col("a"), col("b")).limit(PmiTopK)
    top.join(tc.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(tc.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        col("n_tokens"), col("m_pairs"),
        log(col("c_ab").cast("double") * col("n_tokens").cast("double") *
          col("n_tokens").cast("double") /
          (col("m_pairs").cast("double") * col("c_a").cast("double") *
            col("c_b").cast("double"))).as("pmi"))
  }

  val textPmiSql: String =
    s"""WITH p AS (
      |  SELECT a, b, c_ab, c_a, c_b, n_tokens, m_pairs, pmi
      |  FROM read_parquet('{VERIFY_OUT}/text_pmi/*.parquet')
      |), toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      |  FROM documents
      |), pr AS (
      |  SELECT split_part(pp, chr(1), 1) AS a, split_part(pp, chr(1), 2) AS b
      |  FROM (
      |    SELECT unnest(list_concat(
      |${(1 to PmiW).map(k =>
          s"      CASE WHEN len(ts) <= $k THEN CAST([] AS VARCHAR[])\n" +
          s"        ELSE list_transform(range(1, len(ts)${if (k > 1) s" - ${k - 1}" else ""}),\n" +
          s"          i -> least(ts[i], ts[i+$k]) || chr(1) || greatest(ts[i], ts[i+$k])) END")
         .mkString(",\n")}
      |      )) AS pp
      |    FROM toks
      |  )
      |), pc AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM pr GROUP BY a, b
      |), tc AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t
      |), tot AS (
      |  SELECT (SELECT CAST(SUM(c_ab) AS BIGINT) FROM pc) AS m_pairs,
      |    (SELECT CAST(SUM(c) AS BIGINT) FROM tc) AS n_tokens
      |), top AS (
      |  SELECT a, b, c_ab FROM pc ORDER BY c_ab DESC, a, b LIMIT $PmiTopK
      |), x AS (
      |  SELECT top.a, top.b, top.c_ab, ta.c AS c_a, tb.c AS c_b,
      |    tot.n_tokens, tot.m_pairs,
      |    ln(CAST(top.c_ab AS DOUBLE) * CAST(tot.n_tokens AS DOUBLE)
      |      * CAST(tot.n_tokens AS DOUBLE)
      |      / (CAST(tot.m_pairs AS DOUBLE) * CAST(ta.c AS DOUBLE)
      |        * CAST(tb.c AS DOUBLE))) AS pmi_x
      |  FROM top JOIN tc ta ON top.a = ta.t JOIN tc tb ON top.b = tb.t
      |  CROSS JOIN tot
      |)
      |SELECT p.a, p.b, p.c_ab, p.c_a, p.c_b, p.n_tokens, p.m_pairs, p.pmi
      |FROM p JOIN x ON p.a = x.a AND p.b = x.b
      |WHERE p.c_ab = x.c_ab AND p.c_a = x.c_a AND p.c_b = x.c_b
      |  AND p.n_tokens = x.n_tokens AND p.m_pairs = x.m_pairs
      |  AND abs(p.pmi - x.pmi_x) <= 1e-9 * greatest(abs(x.pmi_x), 1.0)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text_pmi", textPmi, textPmiSql),
    Key("text_bpe_train", textBpeTrain, textBpeTrainSql),
    Key("text_bpe_encode", textBpeEncode, textBpeEncodeSql),
    Key("text_perplexity", textPerplexity, textPerplexitySql),
    Key("text_ccnet", textCcnet, textCcnetSql),
    Key("text_paragraph_dedup", textParagraphDedup, textParagraphDedupSql),
    Key("dedup_substring", dedupSubstring, dedupSubstringSql),
    Key("text_source_overlap", textSourceOverlap, textSourceOverlapSql),
    Key("text_crossdup", textCrossdup, textCrossdupSql),
    Key("text_normalize", textNormalize, textNormalizeSql),
    Key("text_tokens", textTokens, textTokensSql),
    Key("text_quality", textQuality, textQualitySql),
    Key("text_gopher_filter", textGopherFilter, textGopherFilterSql),
    Key("text_langid", textLangid, textLangidSql),
    Key("text_tfidf", textTfidf, textTfidfSql),
    Key("text_bm25", textBm25, textBm25Sql),
    Key("text_inverted_index", textInvertedIndex, textInvertedIndexSql),
    Key("text_fingerprint", textFingerprint, textFingerprintSql),
    Key("text_pii", textPii, textPiiSql),
    Key("text_repetition", textRepetition, textRepetitionSql),
    Key("text_contamination", textContamination, textContaminationSql))
}
