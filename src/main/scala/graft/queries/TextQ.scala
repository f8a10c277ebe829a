package graft.queries

import graft.{Declared, SharedArtifact, Tables}
import graft.functions.{RollingHash, TextFns}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis (BASELINE.json north star): token stats, BPE-ish token
  * counting, n-gram-heuristic language ID, quality scoring, fingerprinting.
  * Pure per-row built-ins — fully codegen'd map-side work, no shuffle at all
  * except the declared ORDER BY.
  */
object TextQ {
  import Tables.t

  val tokenStats = Declared(
    "text_token_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars_m"),
          size(TextFns.words(col("text"))).as("n_tokens"),
          size(array_distinct(TextFns.words(col("text")))).as("n_uniq_tokens"),
          TextFns.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          round(
            expr("aggregate(split(trim(text), '\\\\s+'), 0, (acc, w) -> acc + length(w))")
              .cast("double") / size(TextFns.words(col("text"))), 6).as("avg_token_len"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      CAST(len(text) AS INTEGER) AS n_chars_m,
      CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
      CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS INTEGER) AS n_uniq_tokens,
      CAST(len(regexp_extract_all(text, '${TextFns.bpeTokenPattern}', 0)) AS INTEGER) AS n_bpe_tokens,
      round(CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), w -> len(w))) AS DOUBLE) /
            CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 6) AS avg_token_len
      FROM documents ORDER BY doc_id"""))

  /** Stopword lists per language for the n-gram/stopword language heuristic. */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "un", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "zh" -> Seq("的", "是", "在", "了", "有", "和"))

  private def scoreCol(wordsCol: Column, ws: Seq[String]): Column =
    size(filter(wordsCol, w => array_contains(array(ws.map(lit): _*), w)))

  private def scoreSql(ws: Seq[String], wordsExpr: String = "ws"): String = {
    val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($wordsExpr, x -> list_contains($lst, x)))"
  }

  /** Argmax language with deterministic lexicographic tiebreak, as a Column
    * over per-language score columns (shared by text_langid and
    * curate_corpus). foldRight makes the FIRST (smallest) winner stick.
    */
  private def predictedLang(scoreOf: String => Column): Column = {
    val langs = stopwords.map(_._1)
    val best = langs.map(scoreOf).reduce((a, b) => greatest(a, b))
    langs.foldRight(lit("und"): Column) { case (l, acc) =>
      when(scoreOf(l) === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** SQL mirror of [[predictedLang]]. */
  private def predictedLangSql(scoreOf: String => String): String = {
    val langs = stopwords.map(_._1)
    val best = s"greatest(${langs.map(scoreOf).mkString(", ")})"
    langs.reverse.foldLeft("'und'") { case (acc, l) =>
      s"CASE WHEN ${scoreOf(l)} = $best AND $best > 0 THEN '$l' ELSE $acc END"
    }
  }

  /** The quality signals (uniq-token ratio, avg word length, composite
    * score) over a `text` column — ONE definition shared by text_quality and
    * curate_corpus so the funnel's gate can never desync from the published
    * score. [[qualitySignalsSql]] is the DuckDB mirror.
    */
  private case class QualitySignals(uniqRatio: Column, avgLen: Column, score: Column)
  private def qualitySignals: QualitySignals = {
    val w = TextFns.words(col("text"))
    val nTok = size(w).cast("double")
    val punct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    val sw = scoreCol(w, stopwords.toMap.apply("en")).cast("double")
    val uniqRatio = size(array_distinct(w)).cast("double") / nTok
    val avgLen = length(regexp_replace(col("text"), lit("\\s+"), lit(""))).cast("double") / nTok
    val score = round(
      uniqRatio * 0.4 +
        least(sw / nTok * 10.0, lit(1.0)) * 0.2 +
        (lit(1.0) - least(punct / greatest(length(col("text")).cast("double"), lit(1.0)) * 10.0, lit(1.0))) * 0.2 +
        when(avgLen.between(3.0, 8.0), 0.2).otherwise(0.0), 6)
    QualitySignals(uniqRatio, avgLen, score)
  }

  /** (uniqRatioSql, avgLenSql, scoreSql) over the `text` column in DuckDB. */
  private def qualitySignalsSql: (String, String, String) = {
    val ws = "string_split_regex(trim(text), '\\s+')"
    val nTok = s"CAST(len($ws) AS DOUBLE)"
    val punct = s"CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)) AS DOUBLE)"
    val sw = s"CAST(${scoreSql(stopwords.toMap.apply("en"), ws)} AS DOUBLE)"
    val uniq = s"CAST(len(list_distinct($ws)) AS DOUBLE) / $nTok"
    val avgLen = s"CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / $nTok"
    val score = s"""round($uniq * 0.4 +
        least($sw / $nTok * 10.0, 1.0) * 0.2 +
        (1.0 - least($punct / greatest(CAST(len(text) AS DOUBLE), 1.0) * 10.0, 1.0)) * 0.2 +
        CASE WHEN $avgLen BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 6)"""
    (uniq, avgLen, score)
  }

  /** Language ID: argmax of per-language stopword hit counts (deterministic
    * lexicographic tiebreak), scored against the labeled lang column.
    */
  val langid = Declared(
    "text_langid",
    (s, dir) => {
      val withScores = t(s, dir, "documents")
        .withColumn("ws", TextFns.words(col("text")))
        .select(
          Seq(col("doc_id"), col("lang")) ++
            stopwords.map { case (l, ws) => scoreCol(col("ws"), ws).as(s"s_$l") }: _*)
      val langs = stopwords.map(_._1)
      val predicted = predictedLang(l => col(s"s_$l"))
      withScores
        .select(
          Seq(col("doc_id"), col("lang"), predicted.as("predicted_lang"),
            (predicted === col("lang")).as("correct")) ++
            langs.map(l => col(s"s_$l")): _*)
        .orderBy(col("doc_id"))
    },
    Some {
      val scores = stopwords.map { case (l, ws) => s"${scoreSql(ws)} AS s_$l" }.mkString(",\n        ")
      val langs = stopwords.map(_._1)
      val pred = predictedLangSql(l => s"s_$l")
      s"""WITH scored AS (
        SELECT doc_id, lang,
        $scores
        FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ws FROM documents))
      SELECT doc_id, lang, $pred AS predicted_lang,
        ($pred = lang) AS correct,
        ${langs.map(l => s"CAST(s_$l AS INTEGER) AS s_$l").mkString(", ")}
      FROM scored ORDER BY doc_id"""
    })

  /** Quality scoring: length/punctuation/stopword/repetition signals → a
    * composite score and a keep/drop flag (the C4/Gopher-style filter shape).
    */
  val quality = Declared(
    "text_quality",
    (s, dir) => {
      val q = qualitySignals
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          round(q.uniqRatio, 6).as("uniq_ratio"),
          round(q.avgLen, 6).as("avg_word_len"),
          q.score.as("quality_score"),
          (q.score >= 0.5).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some {
      val (uniq, avgLen, score) = qualitySignalsSql
      s"""SELECT doc_id,
        round($uniq, 6) AS uniq_ratio,
        round($avgLen, 6) AS avg_word_len,
        $score AS quality_score,
        ($score >= 0.5) AS keep
      FROM (SELECT doc_id, text FROM documents) ORDER BY doc_id"""
    })

  /** End-to-end corpus curation funnel — the composite shape a training-data
    * pipeline actually runs, as ONE map-side pass + one window + one
    * aggregate: language gate (predicted en) → quality gate (score ≥ 0.5) →
    * token budget (20–1000) → exact dedup on the normalized fingerprint
    * (keep min doc_id) — emitting the per-stage survivor counts and the kept
    * token total. Every signal reuses the oracle-checked single-signal
    * queries' expressions, so the funnel is hash-checked end-to-end. The
    * dedup window partitions on (fingerprint, passed-all-gates) so keep-one
    * applies only among fully-gated docs, still in a single shuffle.
    */
  /** The funnel body over any (doc_id, text) frame — exposed so CurateSpec
    * can prove the keep-one stage on a corpus that HAS duplicates (the
    * fixture has near-dups but no byte-identical ones, so on it
    * n_kept == n_token_window legitimately).
    */
  def curateFunnel(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val score = qualitySignals.score // SAME definition as text_quality
      val sig = docs
        .withColumn("ws", TextFns.words(col("text")))
        .select(
          Seq(col("doc_id"),
            size(col("ws")).as("n_tokens"),
            score.as("q"),
            md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp")) ++
            stopwords.map { case (l, sws) => scoreCol(col("ws"), sws).as(s"s_$l") }: _*)
        .withColumn("g_lang", predictedLang(l => col(s"s_$l")) === "en")
        .withColumn("g_quality", col("g_lang") && col("q") >= 0.5)
        .withColumn("g_tokens", col("g_quality") && col("n_tokens").between(20, 1000))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp"), col("g_tokens")).orderBy(col("doc_id"))
      sig
        .withColumn("kept", col("g_tokens") && row_number().over(win) === 1)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("g_lang").cast("long")).as("n_lang_en"),
          sum(col("g_quality").cast("long")).as("n_quality"),
          sum(col("g_tokens").cast("long")).as("n_token_window"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(when(col("kept"), col("n_tokens").cast("long")).otherwise(0L)).as("kept_tokens"))
  }

  val curate = Declared(
    "curate_corpus",
    (s, dir) => curateFunnel(t(s, dir, "documents")),
    Some {
      val ws = "string_split_regex(trim(text), '\\s+')"
      val (_, _, score) = qualitySignalsSql // SAME definition as text_quality
      val scores = stopwords.map { case (l, sws) => s"${scoreSql(sws, "ws")} AS s_$l" }
        .mkString(",\n          ")
      val pred = predictedLangSql(l => s"s_$l")
      s"""WITH sig AS (
        SELECT doc_id, n_tokens, q, fp, ($pred = 'en') AS g_lang
        FROM (
          SELECT doc_id,
            CAST(len(ws) AS INTEGER) AS n_tokens,
            $score AS q,
            md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
            $scores
          FROM (SELECT doc_id, text, $ws AS ws FROM documents))),
      gated AS (
        SELECT doc_id, n_tokens, fp, g_lang,
          (g_lang AND q >= 0.5) AS g_quality,
          (g_lang AND q >= 0.5 AND n_tokens BETWEEN 20 AND 1000) AS g_tokens
        FROM sig),
      ranked AS (
        SELECT *, (g_tokens AND row_number()
          OVER (PARTITION BY fp, g_tokens ORDER BY doc_id) = 1) AS kept
        FROM gated)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN g_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_en,
        CAST(sum(CASE WHEN g_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        CAST(sum(CASE WHEN g_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_token_window,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM ranked"""
    })

  /** Content fingerprints: raw and whitespace-normalized md5 (the dedup key
    * a pipeline persists). The rolling-hash variant is the custom-Expression
    * showcase in functions.RollingHash (spec-tested; engine-specific).
    */
  val fingerprint = Declared(
    "text_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(col("text")).as("md5_raw"),
          md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("md5_norm"),
          substring(md5(col("text")), 1, 8).as("shard_key"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, md5(text) AS md5_raw,
      md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS md5_norm,
      substr(md5(text), 1, 8) AS shard_key
      FROM documents ORDER BY doc_id"""))

  /** PII redaction — the scrub stage of a curation pipeline: emails, URLs,
    * and phone-shaped tokens replaced with typed placeholder tags. The
    * fixture corpus is synthetic (no PII), so each doc is first salted with
    * DETERMINISTIC fake PII derived from its id — both engines salt and
    * redact identically, and the redacted text md5 pins every replacement
    * byte-for-byte. Conservative regexes only (char classes + bounded
    * quantifiers) so Java regex and DuckDB's RE2 agree.
    */
  val redactPii = Declared(
    "text_redact_pii",
    (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val urlRe = "https?://[^\\s]+"
      val phoneRe = "\\+[0-9][0-9-]{6,}[0-9]"
      val salted = concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com via https://ex.example/p/"), col("doc_id"),
        lit(" or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .withColumn("t", salted)
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(urlRe), lit(0))).as("n_urls"),
          size(regexp_extract_all(col("t"), lit(phoneRe), lit(0))).as("n_phones"),
          md5(regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), lit(emailRe), lit("<EMAIL>")),
              lit(urlRe), lit("<URL>")),
            lit(phoneRe), lit("<PHONE>"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH salted AS (
        SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR)
            || '@example.com via https://ex.example/p/' || CAST(doc_id AS VARCHAR)
            || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(t, 'https?://[^\s]+', 0)) AS INTEGER) AS n_urls,
        CAST(len(regexp_extract_all(t, '\+[0-9][0-9-]{6,}[0-9]', 0)) AS INTEGER) AS n_phones,
        md5(regexp_replace(
          regexp_replace(
            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^\s]+', '<URL>', 'g'),
          '\+[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
      FROM salted ORDER BY doc_id"""))

  /** Deterministic train/val split — every pipeline's first partitioning
    * decision, done the only way that survives re-runs and late-arriving
    * data: hash the stable doc id (portable md5-prefix), not rand(). Output
    * is the stratification readout (split × lang counts + char mass), which
    * is what one actually audits.
    */
  val splitTrainVal = Declared(
    "split_train_val",
    (s, dir) => {
      val bucket = graft.functions.Hashing.md5Hash32(col("doc_id").cast("string")) % 100
      t(s, dir, "documents")
        .withColumn("split", when(bucket < 90, "train").otherwise("val"))
        .groupBy(col("split"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))
    },
    Some(s"""SELECT
        CASE WHEN ${graft.functions.Hashing.md5Hash32DuckSql("CAST(doc_id AS VARCHAR)")} % 100 < 90
          THEN 'train' ELSE 'val' END AS split,
        lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1, 2 ORDER BY split, lang"""))

  /** Corpus-level n-gram statistics (the LM-dataset audit query): top-20
    * word bigrams by frequency. One explode + one count shuffle; at 100 TB
    * this is the canonical map-side-combine aggregation.
    */
  val corpusNgrams = Declared(
    "corpus_ngrams",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("ws", TextFns.words(col("text")))
        .select(explode(expr(
          """CASE WHEN size(ws) < 2 THEN array()
             ELSE transform(sequence(1, size(ws) - 1),
                            i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
             END""")).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20),
    Some("""WITH ws AS (
        SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
      bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
          i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1])) AS bigram
        FROM ws)
      SELECT bigram, CAST(count(*) AS BIGINT) AS n
      FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""))

  /** Adaptive quality thresholding: keep documents above their LANGUAGE's
    * 75th-percentile length — per-stratum cutoffs instead of one global
    * constant, the standard way a multilingual corpus avoids starving
    * low-resource languages. The exact interpolated percentile (Spark
    * `percentile` ≡ DuckDB `quantile_cont`) folds per-language — state is
    * O(languages), and the threshold table is a broadcast join back onto
    * the corpus scan.
    */
  val qualityCutoff = Declared(
    "quality_cutoff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val thr = docs.groupBy(col("lang"))
        .agg(round(expr("percentile(CAST(n_chars AS DOUBLE), 0.75)"), 6).as("p75"))
      docs.join(broadcast(thr), "lang")
        .groupBy(col("lang"))
        .agg(
          round(max(col("p75")), 6).as("p75"),
          count(lit(1)).as("n_total"),
          sum((col("n_chars").cast("double") > col("p75")).cast("long")).as("n_kept"))
        .orderBy(col("lang"))
    },
    Some("""WITH thr AS (
        SELECT lang, round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6) AS p75
        FROM documents GROUP BY lang)
      SELECT d.lang, round(max(t.p75), 6) AS p75,
        CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) > t.p75 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents d JOIN thr t ON d.lang = t.lang
      GROUP BY d.lang ORDER BY d.lang"""))

  /** Unigram negative-log-likelihood scoring — the KenLM-style perplexity
    * proxy a pretraining pipeline uses to rank documents by "typicality"
    * without a trained LM: score each doc by the mean −ln p(word) under the
    * corpus's own unigram distribution. The frequency table is
    * vocab-bounded (Heaps' law — it grows sublinearly, not with the corpus),
    * so at 100 TB it broadcasts; the total is a 1-row broadcast. Everything
    * else is one exploded-scan + two hash aggregates.
    */
  val unigramNll = Declared(
    "text_unigram_nll",
    (s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.words(col("text"))).as("w"))
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).cast("double").as("n"))
      words.join(broadcast(freq), "w")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), -log(col("c").cast("double") / col("n")) as "nll")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).cast("int").as("n_words"),
          round(avg(col("nll")), 6).as("avg_nll"),
          round(min(col("nll")), 6).as("min_nll"),
          round(max(col("nll")), 6).as("max_nll"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      freq AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
      scored AS (
        SELECT w.doc_id, -ln(CAST(f.c AS DOUBLE) / t.n) AS nll
        FROM w JOIN freq f ON w.w = f.w CROSS JOIN tot t)
      SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
        round(avg(nll), 6) AS avg_nll,
        round(min(nll), 6) AS min_nll,
        round(max(nll), 6) AS max_nll
      FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  /** CCNet-style perplexity banding — the head/middle/tail split a
    * pretraining pipeline actually FILTERS on (Wenzek et al. 2020: keep the
    * head/middle, drop the tail; [[unigramNll]] publishes the raw score,
    * this takes the decision): each doc's mean unigram NLL folds in integer
    * NANO-units (per-word nano longs summed exactly, one truncating DIV by
    * the word count — non-negative domain, so Spark div ≡ DuckDB //), then
    * per-language tertiles via ntile(3) over a (nll, doc_id)-total-ordered
    * per-lang window — banding is relative to each language's own
    * distribution, the CCNet detail naive global cutoffs get wrong. Output
    * per (lang, band): doc count, mean NLL, and the token share the band
    * carries — the budget readout for "drop the tail". The per-lang windows
    * are partitioned (bounded state); the frequency table is vocab-bounded
    * and broadcast.
    */
  val perplexityBand = Declared(
    "text_perplexity_band",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val words = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(TextFns.words(col("text"))).as("w"))
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).cast("double").as("n"))
      val perDoc = words.join(broadcast(freq), "w")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"),
          expr("CAST(round(-ln(CAST(c AS DOUBLE) / n) * 1e9) AS BIGINT)").as("nano"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("nano")).as("sum_nano"))
        .withColumn("doc_nll_nano", expr("sum_nano DIV n_words"))
      val wBand = Window.partitionBy(col("lang"))
        .orderBy(col("doc_nll_nano"), col("doc_id"))
      val wLang = Window.partitionBy(col("lang"))
      perDoc
        .withColumn("band", ntile(3).over(wBand))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("doc_nll_nano")) / count(lit(1)) / 1e9, 6).as("mean_nll"),
          sum(col("n_words")).as("band_tokens"))
        .withColumn("token_share",
          round(col("band_tokens").cast("double") /
            sum(col("band_tokens")).over(wLang), 6))
        .select(col("lang"),
          when(col("band") === 1, "head").when(col("band") === 2, "middle")
            .otherwise("tail").as("band"),
          col("n_docs"), col("mean_nll"), col("token_share"))
        .orderBy(col("lang"), col("mean_nll"))
    },
    Some("""WITH w AS (
        SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      freq AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
      perdoc AS (
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(CAST(round(-ln(CAST(f.c AS DOUBLE) / t.n) * 1e9) AS BIGINT)) AS BIGINT)
            AS sum_nano
        FROM w JOIN freq f USING (w) CROSS JOIN tot t
        GROUP BY doc_id, lang),
      banded AS (
        SELECT lang, n_words, sum_nano // n_words AS doc_nll_nano,
          ntile(3) OVER (PARTITION BY lang
            ORDER BY sum_nano // n_words, doc_id) AS band
        FROM perdoc),
      m AS (
        SELECT lang, band, CAST(count(*) AS BIGINT) AS n_docs,
          round(sum(doc_nll_nano) / count(*) / 1e9, 6) AS mean_nll,
          CAST(sum(n_words) AS BIGINT) AS band_tokens
        FROM banded GROUP BY lang, band)
      SELECT lang,
        CASE WHEN band = 1 THEN 'head' WHEN band = 2 THEN 'middle'
             ELSE 'tail' END AS band,
        n_docs, mean_nll,
        round(CAST(band_tokens AS DOUBLE) /
          sum(band_tokens) OVER (PARTITION BY lang), 6) AS token_share
      FROM m ORDER BY lang, mean_nll"""))

  /** TF-IDF top terms per document — the classic retrieval/vectorization
    * scoring step. One pass builds per-doc term counts, one small aggregate
    * the document frequencies; the df table rides a broadcast (a term
    * dictionary fits executors at any corpus size that fits a vocabulary;
    * shuffle-join it if not), and the per-doc top-3 rides a row_number
    * window the planner prunes with WindowGroupLimit.
    */
  val corpusTfidf = Declared(
    "corpus_tfidf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val words = docs.select(col("doc_id"), explode(TextFns.words(col("text"))).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
      tf.join(broadcast(dfr), "w")
        .crossJoin(broadcast(nDocs))
        .select(
          col("doc_id"), col("w"),
          (col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0))).as("score"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(
          col("doc_id"), col("rk"), col("w").as("term"),
          round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"), col("rk"))
    },
    Some("""WITH words AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
      dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, w, tf * ln((n_docs + 1.0) / (df + 1.0)) AS score
        FROM tf JOIN dfr USING (w) CROSS JOIN nd),
      ranked AS (
        SELECT doc_id, w, score,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
        FROM scored)
      SELECT doc_id, CAST(rk AS INTEGER) AS rk, w AS term, round(score, 6) AS score
      FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** URL canonicalization dedup — the first step of any web-corpus pipeline:
    * lowercase scheme/host, drop fragment and tracking params, keep the
    * identifying ones, then group by the canonical form. URLs are
    * synthesized deterministically from (source, doc_id) since the fixture
    * has no real ones; the Spark side uses the native parse_url, the oracle
    * equivalent regexes. Purely per-row + one hash aggregate.
    */
  val urlNormalize = Declared(
    "text_url_normalize",
    (s, dir) => {
      val urls = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("HTTPS://"), upper(col("source")), lit(".Example.COM/page?utm_campaign=x&ref="),
          col("source"), lit("&id="), (col("doc_id") % 7).cast("string"), lit("#frag")).as("url"))
      urls
        .select(
          col("doc_id"),
          concat(
            lit("https://"), lower(expr("parse_url(url, 'HOST')")),
            expr("parse_url(url, 'PATH')"),
            lit("?id="), expr("parse_url(url, 'QUERY', 'id')")).as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("canonical"))
    },
    Some("""WITH urls AS (
        SELECT doc_id,
          'HTTPS://' || upper(source) || '.Example.COM/page?utm_campaign=x&ref=' ||
            source || '&id=' || CAST(doc_id % 7 AS VARCHAR) || '#frag' AS url
        FROM documents),
      canon AS (
        SELECT doc_id,
          'https://' || lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) ||
            regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) ||
            '?id=' || regexp_extract(url, '[?&]id=([^&#]*)', 1) AS canonical
        FROM urls)
      SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
        min(doc_id) AS first_doc
      FROM canon GROUP BY canonical ORDER BY canonical"""))

  /** Boilerplate detection (CCNet/RefinedWeb-style): a shingle that recurs
    * across ≥3 DISTINCT documents of the same source is template text
    * (headers, nav bars, license blurbs), not content — score each document
    * by how much of it is boilerplate. Trigram shingles are deduped per
    * document BEFORE the cross-document count (occurrences within one doc
    * must not fake recurrence), the per-(source, shingle) doc-frequency is a
    * hash aggregate on the natural key, and the mark-back is an equi-join on
    * (source, shingle) — all shuffle-on-key shapes that scale; nothing is
    * collected or broadcast except what Catalyst chooses to.
    */
  val boilerplate = Declared(
    "text_boilerplate",
    (s, dir) => {
      val sh = t(s, dir, "documents")
        .withColumn("ws", TextFns.words(col("text")))
        .select(col("doc_id"), col("source"), explode(expr(
          """CASE WHEN size(ws) < 3 THEN array()
             ELSE transform(sequence(1, size(ws) - 2),
                            i -> concat_ws(' ', slice(ws, i, 3)))
             END""")).as("g"))
        .distinct()
      val boiler = sh.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 3)
        .select(col("source"), col("g"), lit(1L).as("is_boiler"))
      sh.join(boiler, Seq("source", "g"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"),
          round(sum(coalesce(col("is_boiler"), lit(0L))).cast("double") /
            count(lit(1)), 6).as("boiler_frac"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ws AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, source,
          unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
            i -> array_to_string(w[CAST(i AS INTEGER):CAST(i AS INTEGER) + 2], ' '))) AS g
        FROM ws),
      boiler AS (
        SELECT source, g FROM sh GROUP BY source, g HAVING count(*) >= 3)
      SELECT sh.doc_id, sh.source,
        CAST(count(*) AS BIGINT) AS n_shingles,
        CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        round(sum(CASE WHEN b.g IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*), 6) AS boiler_frac
      FROM sh LEFT JOIN boiler b ON sh.source = b.source AND sh.g = b.g
      GROUP BY sh.doc_id, sh.source ORDER BY sh.doc_id"""))

  /** One BPE training iteration's core: corpus-wide adjacent-symbol pair
    * counts (the pair with the max count is the next merge). Folding the
    * corpus to the VOCABULARY first is what makes tokenizer training
    * feasible at 100 TB — the word histogram is Heaps'-law bounded, so the
    * expensive pair fan-out runs over ~|vocab| rows weighted by frequency
    * instead of every corpus token occurrence.
    */
  val bpePairs = Declared(
    "corpus_bpe_pairs",
    (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(TextFns.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      vocab
        .select(col("n"), explode(expr(
          """CASE WHEN length(w) < 2 THEN array()
             ELSE transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))
             END""")).as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("n")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair"))
        .limit(20)
    },
    Some("""WITH w AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      vocab AS (SELECT w, count(*) AS n FROM w GROUP BY w),
      pairs AS (
        SELECT n, unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
          i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
        FROM vocab)
      SELECT pair, CAST(sum(n) AS BIGINT) AS n_occ
      FROM pairs GROUP BY pair ORDER BY n_occ DESC, pair LIMIT 20"""))

  /** Line-level corpus dedup with in-place reassembly — the CCNet-style
    * cleanup that strips lines repeated across many documents (nav bars,
    * license headers, cookie banners) while PRESERVING each document's
    * remaining line order. The fixture text has no newlines, so consecutive
    * 3-word segments stand in for lines; the pipeline is line-identical:
    * segment with position → corpus document-frequency per segment (one
    * shuffle on the segment key; at 100 TB the key is md5(segment), same
    * layout) → mark-back join → order-preserving reassembly via
    * array_sort(collect_list(struct(pos, seg))) inside ONE aggregate — never
    * a per-document sort task. Dropped = segment seen in >2 documents. The
    * cleaned text is pinned by md5 so the oracle checks the actual
    * reassembled bytes, not just counts.
    */
  val lineDedup = Declared(
    "text_line_dedup",
    (s, dir) => {
      val segLen = 3
      val words = Tables.spread(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val segs = words
        .select(col("doc_id"), posexplode(expr(
          s"""transform(sequence(0, CAST((size(ws) - 1) div $segLen AS INT)),
                 i -> array_join(slice(ws, i * $segLen + 1, $segLen), ' '))""")))
        .select(col("doc_id"), col("pos"), col("col").as("seg"))
      val df = segs.groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("df"))
      segs.join(df, "seg")
        .groupBy(col("doc_id"))
        .agg(
          sum((col("df") <= 2).cast("long")).as("n_kept"),
          sum((col("df") > 2).cast("long")).as("n_dropped"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN df <= 2 THEN struct(pos, seg) END)), x -> x.seg)"
          ), " ")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      segs AS (
        SELECT doc_id, u.pos AS pos, u.seg AS seg FROM (
          SELECT doc_id, unnest(list_transform(range(0, (len(ws) - 1) // 3 + 1),
            i -> {'pos': CAST(i AS INTEGER),
                  'seg': array_to_string(
                    ws[(CAST(i*3+1 AS INTEGER)):(CAST(i*3+3 AS INTEGER))], ' ')})) AS u
          FROM w)),
      df AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
      SELECT s.doc_id,
        CAST(sum(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN d.df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        md5(coalesce(string_agg(seg, ' ' ORDER BY pos)
              FILTER (WHERE d.df <= 2), '')) AS clean_md5
      FROM segs s JOIN df d USING (seg)
      GROUP BY s.doc_id ORDER BY s.doc_id"""))

  /** Bigram-LM surprisal — the next step up from [[unigramNll]]'s
    * frequency prior: score each document by the average conditional
    * negative log-likelihood -ln(c(w1,w2)/c(w1·)) of its word bigrams under
    * the corpus's own bigram counts (c(w1·) counts w1 as a bigram HEAD so
    * the conditional sums to 1). High scores mark incoherent/shuffled text
    * that unigram frequency cannot see. Scale shape: the bigram dictionary
    * is NOT broadcast (vocab² worst case) — occurrences join their counts
    * on the bigram key itself, one hash-partitioned shuffle that reuses the
    * count aggregate's exchange; only the vocab-bounded head-count table
    * rides a broadcast. Docs with <2 words surface with n_bigrams=0.
    */
  val bigramNll = Declared(
    "text_bigram_nll",
    (s, dir) => {
      val ws = t(s, dir, "documents")
        .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      val bigrams = ws.select(
        col("doc_id"),
        explode(expr(
          """CASE WHEN size(ws) < 2 THEN array()
             ELSE transform(sequence(1, size(ws) - 1),
               i -> struct(element_at(ws, i) AS w1,
                 concat(element_at(ws, i), ' ', element_at(ws, i + 1)) AS bg))
             END""")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.bg").as("bg"))
      val c2 = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val scored = bigrams
        .join(c2, "bg")                // shuffle on bg, exchange reused
        .join(broadcast(c1), "w1")     // vocab-bounded head counts
        .select(col("doc_id"),
          -log(col("c2").cast("double") / col("c1").cast("double")) as "nll")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(avg(col("nll")), 6).as("avg_nll"),
          round(max(col("nll")), 6).as("max_nll"))
      t(s, dir, "documents").select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("avg_nll"), col("max_nll"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      b AS (
        SELECT doc_id, u.w1 AS w1, u.bg AS bg FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(ws)),
            i -> {'w1': ws[CAST(i AS INTEGER)],
                  'bg': ws[CAST(i AS INTEGER)] || ' ' ||
                        ws[CAST(i + 1 AS INTEGER)]})) AS u
          FROM w)),
      c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
      c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
      scored AS (
        SELECT b.doc_id, -ln(CAST(c2.c2 AS DOUBLE) / c1.c1) AS nll
        FROM b JOIN c2 USING (bg) JOIN c1 USING (w1)),
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          round(avg(nll), 6) AS avg_nll, round(max(nll), 6) AS max_nll
        FROM scored GROUP BY doc_id)
      SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
        p.avg_nll, p.max_nll
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id"""))

  /** Zipf-law fit of the corpus term distribution: log-log regression of
    * frequency against rank over the top-100 alphabetic terms — the one-row
    * corpus-health readout that flags a crawl whose vocabulary curve has
    * collapsed (boilerplate flood) or flattened (random noise). Term counts
    * are one hash aggregate over the exploded words (map-side combined); the
    * global rank window then runs over the VOCABULARY, not the corpus —
    * Heaps'-law bounded, millions of rows at 100 TB where the corpus is
    * trillions — and the regression folds the ≤100 surviving rows. Counts
    * are exact longs; only the ln/regr readout is floating (rounded 4 dp).
    */
  val zipf = Declared(
    "corpus_zipf",
    (s, dir) => {
      val wr = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_occ").desc, col("w"))
      t(s, dir, "documents")
        .select(explode(TextFns.words(col("text"))).as("w0"))
        .select(lower(col("w0")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_occ"))
        // top-100 FIRST as a TakeOrderedAndProject (distributed top-k over
        // the vocab), so the global rank window below touches ≤100 rows by
        // construction — never the full vocabulary on one reducer
        .orderBy(col("n_occ").desc, col("w"))
        .limit(100)
        .withColumn("rnk", row_number().over(wr))
        .agg(
          count(lit(1)).as("n_terms"),
          round(expr("regr_slope(ln(CAST(n_occ AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 4)
            .as("zipf_slope"),
          round(expr("regr_r2(ln(CAST(n_occ AS DOUBLE)), ln(CAST(rnk AS DOUBLE)))"), 4)
            .as("zipf_r2"))
    },
    Some("""WITH w AS (
        SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS w FROM documents),
      cnt AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_occ FROM w
        WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
      top AS (SELECT w, n_occ FROM cnt ORDER BY n_occ DESC, w LIMIT 100),
      ranked AS (
        SELECT n_occ, row_number() OVER (ORDER BY n_occ DESC, w) AS rnk FROM top)
      SELECT CAST(count(*) AS BIGINT) AS n_terms,
        round(regr_slope(ln(CAST(n_occ AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4) + 0.0 AS zipf_slope,
        round(regr_r2(ln(CAST(n_occ AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4) AS zipf_r2
      FROM ranked"""))

  /** Sentence segmentation stats: per-document sentence count and mean/max
    * sentence length from a regex split on terminal punctuation, with empty
    * segments (trailing terminators, punctuation runs) dropped on both
    * engines. Pure per-row higher-order-function work — split, filter,
    * transform, fold all inside whole-stage codegen, zero shuffle — the
    * sentence-shape feature a quality classifier consumes next to
    * text_quality's token ratios. nullif guards the no-sentence edge so an
    * all-punctuation document yields null, not a NaN that hash-splits the
    * engines.
    */
  val sentenceStats = Declared(
    "text_sentence_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("lens",
          expr("transform(filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)," +
            " x -> length(trim(x)))"))
        .select(
          col("doc_id"),
          size(col("lens")).as("n_sentences"),
          round(expr("aggregate(lens, 0, (a, x) -> a + x)").cast("double") /
            nullif(size(col("lens")), lit(0)), 4).as("avg_sent_chars"),
          expr("array_max(lens)").as("max_sent_chars"))
        .orderBy(col("doc_id")),
    Some("""WITH s AS (
        SELECT doc_id,
          list_transform(
            list_filter(string_split_regex(text, '[.!?]+'), x -> length(trim(x)) > 0),
            x -> length(trim(x))) AS lens
        FROM documents)
      SELECT doc_id, CAST(len(lens) AS INTEGER) AS n_sentences,
        round(CAST(list_sum(lens) AS DOUBLE) / nullif(len(lens), 0), 4) AS avg_sent_chars,
        CAST(list_max(lens) AS INTEGER) AS max_sent_chars
      FROM s ORDER BY doc_id"""))

  /** Each document's true `lang` and its stopword score per language
    * (`s_<lang>`), the input of the langid classifier evals. */
  private def langScores(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .withColumn("ws", TextFns.words(col("text")))
      .select(
        Seq(col("lang")) ++
          stopwords.map { case (l, ws) => scoreCol(col("ws"), ws).as(s"s_$l") }: _*)

  /** Shared (true lang, predicted lang) confusion CELLS for the classifier
    * evals: one map-side scoring pass over the corpus folded to ≤ |langs|²
    * rows — the only full scan either eval pays; everything downstream
    * (per-class metrics, kappa) is arithmetic over the tiny cell table.
    */
  private val confusionCells = new SharedArtifact("langid_confusion_cells")((s, dir) => {
    val withScores = langScores(s, dir)
    val pred = predictedLang(l => col(s"s_$l"))
    withScores.select(col("lang"), pred.as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
  })

  /** DuckDB mirror of [[confusionCells]] as a CTE body. */
  private def confusionCellsSql: String = {
    val scores = stopwords.map { case (l, ws) => s"${scoreSql(ws)} AS s_$l" }
      .mkString(",\n          ")
    val pred = predictedLangSql(l => s"s_$l")
    s"""scored AS (
        SELECT lang,
          $scores
        FROM (SELECT lang, string_split_regex(trim(text), '\\s+') AS ws FROM documents)),
      cells AS (
        SELECT lang, $pred AS pred, CAST(count(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2)"""
  }

  /** Classifier evaluation report: per-class precision/recall/F1 of the
    * language-ID heuristic against the gold `lang` label — the readout a
    * pipeline runs before trusting any filter model to gate 100 TB of data.
    * Spark-first the corpus collapses to confusion cells in ONE pass
    * ([[confusionCells]]); tp/fn fold per TRUE class and fp per PREDICTED
    * class over those ≤36 rows, so the metric arithmetic costs nothing at
    * any corpus size. A class never predicted gets null precision (nullif),
    * and 'und' predictions count as false negatives of their true class
    * without materializing a row of their own.
    */
  val langidReport = Declared(
    "eval_langid_report",
    (s, dir) => {
      val cells = confusionCells(s, dir)
      val perTrue = cells.groupBy(col("lang").as("cls"))
        .agg(
          sum(when(col("pred") === col("lang"), col("n")).otherwise(0L)).as("tp"),
          sum(when(col("pred") =!= col("lang"), col("n")).otherwise(0L)).as("fn"))
      val perPred = cells.groupBy(col("pred").as("cls2"))
        .agg(sum(when(col("pred") =!= col("lang"), col("n")).otherwise(0L)).as("fp"))
      val p = col("tp").cast("double") / nullif(col("tp") + col("fp"), lit(0L))
      val r = col("tp").cast("double") / nullif(col("tp") + col("fn"), lit(0L))
      perTrue.join(perPred, col("cls") === col("cls2"), "left")
        .select(
          col("cls"), col("tp"), coalesce(col("fp"), lit(0L)).as("fp"), col("fn"),
          round(p, 4).as("precision"),
          round(r, 4).as("recall"),
          round(lit(2.0) * p * r / nullif(p + r, lit(0.0)), 4).as("f1"))
        .orderBy(col("cls"))
    },
    Some(s"""WITH ${confusionCellsSql},
      per_true AS (
        SELECT lang AS cls,
          CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN pred <> lang THEN n ELSE 0 END) AS BIGINT) AS fn
        FROM cells GROUP BY 1),
      per_pred AS (
        SELECT pred AS cls,
          CAST(sum(CASE WHEN pred <> lang THEN n ELSE 0 END) AS BIGINT) AS fp
        FROM cells GROUP BY 1)
      SELECT cls, tp, coalesce(fp, 0) AS fp, fn,
        round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 4) AS precision,
        round(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 4) AS recall,
        round(2.0 * (CAST(tp AS DOUBLE) / nullif(tp + fp, 0))
                  * (CAST(tp AS DOUBLE) / nullif(tp + fn, 0))
          / nullif(CAST(tp AS DOUBLE) / nullif(tp + fp, 0)
                 + CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 0.0), 4) AS f1
      FROM per_true LEFT JOIN per_pred USING (cls)
      ORDER BY cls"""),
    uses = Seq(confusionCells))

  /** Cohen's kappa of the language-ID heuristic vs the gold label — the
    * chance-corrected agreement scalar next to eval_langid_report's
    * per-class view. po (accuracy) and pe (expected agreement, Σ row×col
    * marginal products / N²) come from the SAME one-pass confusion cells;
    * every sum stays an exact long and only the final ratio is floating.
    */
  val langidKappa = Declared(
    "eval_langid_kappa",
    (s, dir) => {
      val cells = confusionCells(s, dir) // already checkpointed by the cache
      val tot = cells.agg(
        sum(col("n")).as("n_docs"),
        sum(when(col("pred") === col("lang"), col("n")).otherwise(0L)).as("diag"))
      val rowTot = cells.groupBy(col("lang").as("c")).agg(sum(col("n")).as("rt"))
      val colTot = cells.groupBy(col("pred").as("c2")).agg(sum(col("n")).as("ct"))
      val peNum = rowTot.join(colTot, col("c") === col("c2"))
        .agg(sum(col("rt") * col("ct")).as("pe_num"))
      val po = col("diag").cast("double") / col("n_docs")
      val pe = col("pe_num").cast("double") / col("n_docs") / col("n_docs")
      tot.crossJoin(broadcast(peNum))
        .select(
          col("n_docs"),
          round(po, 6).as("accuracy"),
          round((po - pe) / (lit(1.0) - pe), 4).as("kappa"))
    },
    Some(s"""WITH ${confusionCellsSql},
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT) AS diag
        FROM cells),
      pe AS (
        SELECT CAST(sum(rt * ct) AS BIGINT) AS pe_num FROM
          (SELECT lang AS c, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1) r
          JOIN (SELECT pred AS c, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1) p
            USING (c))
      SELECT n_docs,
        round(CAST(diag AS DOUBLE) / n_docs, 6) AS accuracy,
        round((CAST(diag AS DOUBLE) / n_docs - CAST(pe_num AS DOUBLE) / n_docs / n_docs)
          / (1.0 - CAST(pe_num AS DOUBLE) / n_docs / n_docs), 4) AS kappa
      FROM tot CROSS JOIN pe"""),
    uses = Seq(confusionCells))

  /** Character-level Shannon entropy per document (bits) — the
    * compressibility proxy a quality filter uses to catch low-entropy
    * repetitive text (keyboard mash, template floods) and high-entropy noise
    * (base64 blobs) in one signal. The char explosion folds map-side to
    * (doc, char) counts — ≤ |alphabet| rows per doc survive the shuffle at
    * any corpus size — and entropy comes from the single-aggregate identity
    * H = ln T − (Σ n·ln n)/T, so no per-doc total needs joining back.
    * The identical expression tree runs on both engines (only the Σ n·ln n
    * float fold is order-sensitive, rounded 6 dp).
    */
  val charEntropy = Declared(
    "text_char_entropy",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .filter(col("c") =!= "")
        .groupBy(col("doc_id"), col("c"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_distinct"),
          round(
            (log(sum(col("n")).cast("double")) -
              sum(col("n").cast("double") * log(col("n").cast("double"))) /
                sum(col("n")).cast("double")) / log(lit(2.0)),
            6).as("entropy_bits"))
        .orderBy(col("doc_id")),
    Some("""WITH hist AS (
        SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents)
        WHERE c <> '' GROUP BY 1, 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
        round((ln(CAST(sum(n) AS DOUBLE))
            - sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) / CAST(sum(n) AS DOUBLE))
          / ln(2.0), 6) AS entropy_bits
      FROM hist GROUP BY doc_id ORDER BY doc_id"""))

  /** Tokenizer fertility by language: BPE-ish tokens per whitespace word and
    * characters per token — the readout a multilingual team watches when
    * sizing a tokenizer (a language with fertility 2× pays 2× the context
    * budget for the same text). Pure per-row codegen arithmetic folded by
    * one |langs|-row hash aggregate; nullif guards the degenerate empty-doc
    * edge on both engines.
    */
  val fertility = Declared(
    "corpus_fertility",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("lang"),
          TextFns.bpeTokenCount(col("text")).cast("double").as("bpe"),
          size(TextFns.words(col("text"))).cast("double").as("words"),
          length(col("text")).cast("double").as("chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("bpe") / nullif(col("words"), lit(0.0))), 4).as("fertility"),
          round(avg(col("chars") / nullif(col("bpe"), lit(0.0))), 4).as("chars_per_token"))
        .orderBy(col("lang")),
    Some(s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        round(avg(CAST(len(regexp_extract_all(text, '${TextFns.bpeTokenPattern}', 0)) AS DOUBLE)
          / nullif(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 0.0)), 4)
          AS fertility,
        round(avg(CAST(len(text) AS DOUBLE)
          / nullif(CAST(len(regexp_extract_all(text, '${TextFns.bpeTokenPattern}', 0)) AS DOUBLE), 0.0)), 4)
          AS chars_per_token
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Confidence calibration of the language-ID heuristic: accuracy as a
    * function of the top-1-vs-top-2 score MARGIN — the readout that decides
    * whether a classifier's confidence can gate data ("auto-accept above
    * margin m, route the rest to review"). A well-behaved classifier shows
    * accuracy rising with margin; a flat curve means the score carries no
    * confidence signal. One scoring pass (the same shared expressions as
    * the eval family), margins as exact integer stopword-count gaps, folded
    * by a ≤6-bucket hash aggregate.
    */
  val langidCalibration = Declared(
    "eval_langid_calibration",
    (s, dir) => {
      val withScores = langScores(s, dir)
      val pred = predictedLang(l => col(s"s_$l"))
      val sorted = sort_array(
        array(stopwords.map { case (l, _) => col(s"s_$l") }: _*), asc = false)
      withScores
        .select(
          (element_at(sorted, 1) - element_at(sorted, 2)).as("margin"),
          (pred === col("lang")).cast("long").as("ok"))
        .select(least(col("margin"), lit(5)).cast("int").as("margin_bucket"), col("ok"))
        .groupBy(col("margin_bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("ok").cast("double")), 4).as("accuracy"))
        .orderBy(col("margin_bucket"))
    },
    Some {
      val scores = stopwords.map { case (l, ws) => s"${scoreSql(ws)} AS s_$l" }
        .mkString(",\n          ")
      val pred = predictedLangSql(l => s"s_$l")
      val arr = stopwords.map { case (l, _) => s"s_$l" }.mkString("[", ", ", "]")
      s"""WITH scored AS (
        SELECT lang,
          $scores
        FROM (SELECT lang, string_split_regex(trim(text), '\\s+') AS ws FROM documents)),
      m AS (
        SELECT
          CAST(least(list_reverse_sort($arr)[1] - list_reverse_sort($arr)[2], 5) AS INTEGER)
            AS margin_bucket,
          CASE WHEN $pred = lang THEN 1 ELSE 0 END AS ok
        FROM scored)
      SELECT margin_bucket, CAST(count(*) AS BIGINT) AS n_docs,
        round(avg(CAST(ok AS DOUBLE)), 4) AS accuracy
      FROM m GROUP BY margin_bucket ORDER BY margin_bucket"""
    })

  /** fastText-style hashed-bag-of-words linear classifier scoring — the
    * model-based quality-filter shape (CCNet / GPT-3 / LLaMA corpus
    * pipelines all gate on a cheap linear text classifier). Each word hashes
    * into one of D=64 feature buckets (portable md5, oracle-reproducible)
    * and the doc's score is the mean bucket weight. Weights here are a
    * DETERMINISTIC STUB derived from the bucket index (production swaps in
    * trained weights as a literal array — the plumbing, hashing, and
    * decision path are the real thing); the keep decision compares the
    * EXACT integer weight sum against 0, so no float crosses the engine
    * boundary on the decision, and the reported score is one double
    * division of two exact ints. Pure map-side codegen per row — the
    * classifier costs one corpus scan at any scale, no shuffle but the
    * ORDER BY.
    */
  val classifierScore = Declared(
    "text_classifier_score",
    (s, dir) => {
      // integer weight units: w(b) = ((b*37 + 11) % 97) - 48  in [-48, 48];
      // score = sum(w)/96/n  in [-0.5, 0.5]
      val h = graft.functions.Hashing.md5Hash32SparkSql("w")
      t(s, dir, "documents")
        .withColumn("ws", TextFns.words(col("text")))
        .select(
          col("doc_id"),
          size(col("ws")).as("n_tokens"),
          expr(s"aggregate(ws, 0L, (acc, w) -> acc + ((($h % 64) * 37 + 11) % 97) - 48)")
            .as("wsum"))
        .select(
          col("doc_id"), col("n_tokens"),
          round(col("wsum").cast("double") / (lit(96.0) * col("n_tokens")), 6)
            .as("score"),
          (col("wsum") >= 0).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some {
      val h = graft.functions.Hashing.md5Hash32DuckSql("w")
      s"""SELECT doc_id,
        CAST(len(ws) AS INTEGER) AS n_tokens,
        round(CAST(wsum AS DOUBLE) / (96.0 * len(ws)), 6) + 0.0 AS score,
        (wsum >= 0) AS keep
      FROM (
        SELECT doc_id, ws,
          CAST(list_sum(list_transform(ws,
            w -> ((($h % 64) * 37 + 11) % 97) - 48)) AS BIGINT) AS wsum
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM documents))
      ORDER BY doc_id"""
    })

  /** The published Gopher quality-rule battery (Rae et al. 2021, MassiveWeb
    * filtering, Appendix A): word count in [50, 100k], mean word length in
    * [3, 10], symbol-to-word ratio ≤ 0.1 (# and ellipsis), < 90% of lines
    * bullet-led, < 30% of lines ellipsis-ended, ≥ 80% of words containing a
    * letter, and ≥ 2 distinct English stop words present. Emitted as one
    * boolean per rule plus the conjunction, so a curation run can report
    * WHICH rule rejected each document (the per-rule attrition table every
    * corpus paper publishes). All counters are exact integers; the three
    * ratios are single divisions rounded at the end. One map-side pass.
    */
  val gopherRules = Declared(
    "text_gopher_rules",
    (s, dir) => {
      val ws = TextFns.words(col("text"))
      val nW = size(col("ws"))
      // non-blank lines only (a trailing newline must not add a phantom line
      // in either engine)
      val lines = expr("filter(split(text, '\n'), l -> length(trim(l)) > 0)")
      val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
      val nEll = (length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      t(s, dir, "documents")
        .withColumn("ws", ws)
        .withColumn("ls", lines)
        .select(
          col("doc_id"),
          nW.as("n_words"),
          (nW.between(50, 100000)).as("r_wordcount"),
          expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").as("wchars"),
          (nHash + nEll).as("n_symbols"),
          size(col("ls")).as("n_lines"),
          size(expr("filter(ls, l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%' OR trim(l) LIKE '•%')"))
            .as("n_bullet"),
          size(expr("filter(ls, l -> rtrim(l) LIKE '%...')")).as("n_ellipsis_end"),
          size(expr("filter(ws, w -> w rlike '[A-Za-z]')")).as("n_alpha_words"),
          size(array_intersect(array_distinct(col("ws")),
            array(stops.map(lit): _*))).as("n_stops"))
        .select(
          col("doc_id"), col("n_words"), col("r_wordcount"),
          (col("wchars").cast("double") / col("n_words")).between(3.0, 10.0)
            .as("r_wordlen"),
          (col("n_symbols").cast("double") / col("n_words") <= 0.1).as("r_symbol"),
          // nullif the denominator: Spark's double division by zero yields
          // Infinity, not NULL, so a bare /n_lines would split the engines
          // on an all-blank-lines doc
          coalesce(col("n_bullet").cast("double") / nullif(col("n_lines"), lit(0)) < 0.9,
            lit(true)).as("r_bullet"),
          coalesce(col("n_ellipsis_end").cast("double") / nullif(col("n_lines"), lit(0)) < 0.3,
            lit(true)).as("r_ellipsis"),
          (col("n_alpha_words").cast("double") / col("n_words") >= 0.8).as("r_alpha"),
          (col("n_stops") >= 2).as("r_stopwords"))
        .withColumn("pass",
          col("r_wordcount") && col("r_wordlen") && col("r_symbol") &&
            col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stopwords"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH base AS (
        SELECT doc_id,
          string_split_regex(trim(text), '\s+') AS ws,
          list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS ls,
          len(text) - len(replace(text, '#', '')) AS n_hash,
          (len(text) - len(replace(text, '...', ''))) / 3 AS n_ell
        FROM documents),
      c AS (
        SELECT doc_id,
          CAST(len(ws) AS INTEGER) AS n_words,
          CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS wchars,
          n_hash + n_ell AS n_symbols,
          len(ls) AS n_lines,
          len(list_filter(ls, l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%'
            OR trim(l) LIKE chr(8226) || '%')) AS n_bullet,
          len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS n_ellipsis_end,
          len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
          len(list_intersect(list_distinct(ws),
            ['the','be','to','of','and','that','have','with'])) AS n_stops
        FROM base)
      SELECT doc_id, n_words,
        (n_words BETWEEN 50 AND 100000) AS r_wordcount,
        (CAST(wchars AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0) AS r_wordlen,
        (CAST(n_symbols AS DOUBLE) / n_words <= 0.1) AS r_symbol,
        coalesce(CAST(n_bullet AS DOUBLE) / nullif(n_lines, 0) < 0.9, true) AS r_bullet,
        coalesce(CAST(n_ellipsis_end AS DOUBLE) / nullif(n_lines, 0) < 0.3, true) AS r_ellipsis,
        (CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8) AS r_alpha,
        (n_stops >= 2) AS r_stopwords,
        ((n_words BETWEEN 50 AND 100000)
          AND (CAST(wchars AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0)
          AND (CAST(n_symbols AS DOUBLE) / n_words <= 0.1)
          AND coalesce(CAST(n_bullet AS DOUBLE) / nullif(n_lines, 0) < 0.9, true)
          AND coalesce(CAST(n_ellipsis_end AS DOUBLE) / nullif(n_lines, 0) < 0.3, true)
          AND (CAST(n_alpha_words AS DOUBLE) / n_words >= 0.8)
          AND (n_stops >= 2)) AS pass
      FROM c ORDER BY doc_id"""))

  /** Quality-threshold trade-off curve — corpus_dedup_curve's counterpart
    * for the QUALITY gate: at each candidate cutoff, how many docs and how
    * many tokens survive. THE readout that sets the gate (too low keeps
    * garbage, too high starves the token budget — the data-constrained
    * regime of mix_epochs). All nine thresholds fold in ONE corpus pass
    * (conditional sums in a single aggregate, the dq_expectations shape),
    * stacked to rows afterwards; the score is the SAME shared expression
    * text_quality publishes, so the curve can never desync from the gate.
    */
  val qualityCurve = Declared(
    "quality_tradeoff_curve",
    (s, dir) => {
      val score = qualitySignals.score
      val nTok = size(TextFns.words(col("text"))).cast("long")
      val sums = (1 to 9).flatMap { i =>
        val thr = i / 10.0
        Seq(
          sum(when(score >= thr, 1L).otherwise(0L)).as(s"n_$i"),
          sum(when(score >= thr, nTok).otherwise(0L)).as(s"t_$i"))
      }
      val stacked = (1 to 9)
        .map(i => s"${i / 10.0}D, n_$i, t_$i").mkString(", ")
      val aggsAll =
        Seq(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens")) ++ sums
      t(s, dir, "documents")
        .agg(aggsAll.head, aggsAll.tail: _*)
        .selectExpr("n_docs", "n_tokens",
          s"stack(9, $stacked) AS (threshold, n_kept, tokens_kept)")
        .select(
          col("threshold"), col("n_kept"), col("tokens_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6).as("doc_frac"),
          round(col("tokens_kept").cast("double") / col("n_tokens"), 6).as("token_frac"))
        .orderBy(col("threshold"))
    },
    Some {
      val (_, _, score) = qualitySignalsSql
      val nTok = "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"
      val conds = (1 to 9).flatMap { i =>
        val thr = i / 10.0
        Seq(
          s"CAST(sum(CASE WHEN q >= $thr THEN 1 ELSE 0 END) AS BIGINT) AS n_$i",
          s"CAST(sum(CASE WHEN q >= $thr THEN nt ELSE 0 END) AS BIGINT) AS t_$i")
      }.mkString(",\n          ")
      val rows = (1 to 9).map(i =>
        s"SELECT ${i / 10.0} AS threshold, n_$i AS n_kept, t_$i AS tokens_kept, n_docs, n_tokens FROM agg")
        .mkString("\n        UNION ALL ")
      s"""WITH scored AS (
        SELECT $score AS q, $nTok AS nt FROM documents),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
          $conds
        FROM scored),
      curve AS (
        $rows)
      SELECT threshold, n_kept, tokens_kept,
        round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS doc_frac,
        round(CAST(tokens_kept AS DOUBLE) / n_tokens, 6) AS token_frac
      FROM curve ORDER BY threshold"""
    })

  /** Heaps'-law vocabulary growth curve — cumulative distinct vocabulary vs
    * cumulative tokens over ten ingestion-order corpus prefixes (doc_id is
    * the ingestion order). The readout that says whether vocabulary is
    * saturating (dup-heavy / templated corpus) or still growing (fresh
    * data), and the empirical basis for vocab sizing beyond
    * corpus_vocab_coverage's fixed cap. One token fold to (term, first_doc),
    * then ALL ten cumulative points from one conditional-sum aggregate
    * (never a running window over an unpartitioned frame); the doc-side
    * token prefix sums fold the same way. Type-token ratio per prefix is
    * one double division of two exact longs.
    */
  val heaps = Declared(
    "corpus_heaps",
    (s, dir) => {
      val nDocs = t(s, dir, "documents")
        .agg((max(col("doc_id")) + 1L).as("nd"))
      val firstDoc = Tables.spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), explode(TextFns.words(col("text"))).as("w0"))
        .select(col("doc_id"), lower(col("w0")).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
        .crossJoin(broadcast(nDocs))
        .select(expr("CAST((fd * 10) DIV nd AS INT)").as("b"))
      val vocabSums = (0 until 10)
        .map(d => sum(when(col("b") <= d, 1L).otherwise(0L)).as(s"v_$d"))
      val vocab = firstDoc.agg(vocabSums.head, vocabSums.tail: _*)
      val docTok = t(s, dir, "documents")
        .crossJoin(broadcast(nDocs))
        .select(expr("CAST((doc_id * 10) DIV nd AS INT)").as("b"),
          size(TextFns.words(col("text"))).cast("long").as("nt"))
      val tokSums = (0 until 10)
        .map(d => sum(when(col("b") <= d, col("nt")).otherwise(0L)).as(s"t_$d"))
      val toks = docTok.agg(tokSums.head, tokSums.tail: _*)
      val stacked = (0 until 10).map(d => s"$d, t_$d, v_$d").mkString(", ")
      vocab.crossJoin(broadcast(toks))
        .selectExpr(s"stack(10, $stacked) AS (decile, tokens_cum, vocab_cum)")
        .select(col("decile").cast("int").as("decile"),
          col("tokens_cum"), col("vocab_cum"),
          round(col("vocab_cum").cast("double") / col("tokens_cum"), 6).as("ttr"))
        .orderBy(col("decile"))
    },
    Some {
      val vconds = (0 until 10).map(d =>
        s"CAST(sum(CASE WHEN b <= $d THEN 1 ELSE 0 END) AS BIGINT) AS v_$d").mkString(", ")
      val tconds = (0 until 10).map(d =>
        s"CAST(sum(CASE WHEN b <= $d THEN nt ELSE 0 END) AS BIGINT) AS t_$d").mkString(", ")
      val rows = (0 until 10).map(d =>
        s"SELECT $d AS decile, t_$d AS tokens_cum, v_$d AS vocab_cum FROM v, t")
        .mkString("\n        UNION ALL ")
      s"""WITH nd AS (SELECT max(doc_id) + 1 AS nd FROM documents),
      firstdoc AS (
        SELECT CAST(min(doc_id) * 10 // nd.nd AS INTEGER) AS b
        FROM (SELECT lower(unnest(string_split_regex(trim(text), '\\s+'))) AS w, doc_id
              FROM documents) toks, nd
        GROUP BY w, nd.nd),
      v AS (SELECT $vconds FROM firstdoc),
      doctok AS (
        SELECT CAST(doc_id * 10 // nd.nd AS INTEGER) AS b,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt
        FROM documents, nd),
      t AS (SELECT $tconds FROM doctok),
      curve AS (
        $rows)
      SELECT CAST(decile AS INTEGER) AS decile, tokens_cum, vocab_cum,
        round(CAST(vocab_cum AS DOUBLE) / tokens_cum, 6) AS ttr
      FROM curve ORDER BY decile"""
    })

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) — corpus_bpe_pairs counts
    * one round's pair statistics; this runs the actual iterative merge loop
    * and emits the learned merge ledger. The corpus is scanned ONCE into the
    * classic word-frequency dictionary (alphabetic words only, so the symbol
    * alphabet is closed); every merge round then works on that vocab-sized
    * table: count adjacent symbol pairs weighted by word frequency, elect
    * the most frequent pair (ties broken by pair text — deterministic in
    * both engines), and splice it via plain string replace over a
    * boundary-safe encoding (every symbol wrapped in single spaces, so
    * adjacent symbols meet at a DOUBLE space and left-to-right
    * non-overlapping replace of " a  b " → " ab " is exactly the greedy BPE
    * merge — no regex lookaround, which DuckDB's RE2 lacks). Only the
    * round-0 dictionary and the FINAL vocab are materialized: because each
    * election is read to the driver and spliced back as string literals,
    * an intermediate round's vocab is just the round-0 checkpoint plus r
    * stacked constant `replace` projections — one codegen'd map, linear in
    * the merge budget, so per-round checkpoints bought nothing but one
    * materialization job per round (r13; the pre-literal shape DID need
    * them — a 1-row crossJoin per round made unmaterialized lineage
    * re-derive every prior election). The election is a 1-row top-k — the
    * corpus is never rescanned after round 0, which is what makes N-round
    * training viable at 100 TB.
    */
  /** The shared 4-round merge loop `bpe_train` (ledger out), `bpe_encode`
    * (final vocab out), and `bpe_vocab_coverage` (per-round vocab states)
    * consume: corpus scanned ONCE into the word-frequency dictionary,
    * every round counts pairs on the vocab-sized table, elects the max,
    * splices via the boundary-safe double-space replace. Returns (final
    * merged vocab, per-round election frames, vocab state per round 0..4)
    * — built once per (session, dir): a trained tokenizer is one artifact
    * in production and every readout reads it (sharing it also stops a
    * later consumer from re-running the four 1-row merge elections).
    */
  private[graft] val bpeLoop = new SharedArtifact("bpe_merge_loop")(buildBpe)

  private def buildBpe(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame],
         Seq[org.apache.spark.sql.DataFrame]) = {
    val vocab0 = Tables.spread(t(s, dir, "documents"), "doc_id")
      .select(explode(TextFns.words(col("text"))).as("w0"))
      .select(lower(col("w0")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), regexp_replace(col("w"), "(.)", " $1 ").as("seq"))
      .localCheckpoint(true)
    def topPair(v: org.apache.spark.sql.DataFrame) = v
      .withColumn("a", split(trim(col("seq")), "  "))
      .filter(size(col("a")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, size(a)-1), i -> concat(element_at(a, i), ' ', element_at(a, i+1)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("freq"))
      .orderBy(col("freq").desc, col("pair")).limit(1)
    val (vLast, ledger, states) = (1 to 4).foldLeft(
      (vocab0, Seq.empty[org.apache.spark.sql.DataFrame], Seq(vocab0))) {
      case ((v, acc, vs), r) =>
        // the election is a 1-ROW aggregate (the round's winning pair) —
        // read it on the driver and splice it as string LITERALS instead of
        // checkpointing a 1-row frame and crossJoin-broadcasting it back:
        // same action count per round, but the merge projection loses its
        // per-round BroadcastExchange + join and the 1-row RDD checkpoint.
        // Driver payload is ~bytes/round (the documented KB-scale metadata
        // read, same class as SimilarityQ's 2-cell prune collects); at any
        // corpus size the elected pair is still one row — the corpus is
        // never rescanned after round 0 (scaladoc above).
        //
        // A degenerate corpus can run out of adjacent pairs before round 4
        // (every word already fused to one token); the old destructuring
        // threw a bare MatchError there — fail with the actual condition
        // instead (ADVICE r12). The fixture corpora never trigger it.
        val winner = topPair(v).collect().headOption.getOrElse(
          sys.error(s"buildBpe: no mergeable symbol pair remains at round $r " +
            "(vocabulary already fully fused — corpus too small for a 4-round " +
            "BPE ledger)"))
        val (pair, freq) = (winner.getString(0), winner.getLong(1))
        val spaced = " " + pair.replace(" ", "  ") + " "
        val fused = " " + pair.replace(" ", "") + " "
        // NOT checkpointed per round (the r12 shape paid one eager
        // corpus-dictionary materialization job per merge): each round's
        // vocab is the round-0 checkpoint plus r stacked single-pass
        // `replace` projections — one whole-stage-codegen'd map over the
        // vocab-sized table, so the next election (and any state readout)
        // re-applies the splices in-stage instead of waiting on a per-round
        // materialization. Lineage depth is the merge budget (4), flat.
        val merged = v
          .withColumn("seq", org.apache.spark.sql.functions.replace(
            col("seq"), lit(spaced), lit(fused)))
        (merged,
          acc :+ merged.sparkSession.range(1)
            .select(lit(r).as("round"), lit(pair).as("pair"), lit(freq).as("freq")),
          vs :+ merged)
    }
    // the FINAL vocab is the artifact two consumers re-scan (bpe_encode's
    // dictionary, coverage's round-4 state): one eager materialization here
    // (build total: exactly 2 vocab materializations — round 0 and this)
    val vf = vLast.localCheckpoint(true)
    (vf, ledger, states.init :+ vf)
  }

  /** The words/v0/per-round CTE chain both BPE oracles share (4 unrolled
    * rounds ending at v4 — DuckDB mirror of [[bpeLoop]]). */
  private val bpeRoundsSql: String = {
    val rounds = (1 to 4).map { r =>
      s"""p$r AS (
        SELECT pair, CAST(sum(wc) AS BIGINT) AS freq FROM (
          SELECT wc, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS pair
          FROM (SELECT wc, string_split(trim(seq), '  ') AS a FROM v${r - 1})
          WHERE len(a) >= 2)
        GROUP BY pair),
      t$r AS (SELECT pair, freq FROM p$r ORDER BY freq DESC, pair LIMIT 1),
      v$r AS (
        SELECT wc, replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
                                ' ' || replace(pair, ' ', '') || ' ') AS seq
        FROM v${r - 1}, t$r)"""
    }.mkString(",\n      ")
    s"""words AS (
        SELECT lower(w) AS w FROM (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
        WHERE regexp_matches(lower(w), '^[a-z]+$$')),
      v0 AS (
        SELECT CAST(count(*) AS BIGINT) AS wc,
          regexp_replace(w, '(.)', ' \\1 ', 'g') AS seq
        FROM words GROUP BY w),
      $rounds"""
  }

  val bpeTrain = Declared(
    "bpe_train",
    (s, dir) => {
      val ledger = bpeLoop(s, dir)._2
      ledger.reduce(_ unionByName _)
        .select(col("round").cast("int").as("round"), col("pair"),
          regexp_replace(col("pair"), " ", "").as("token"), col("freq"))
        .orderBy(col("round"))
    },
    Some {
      val out = (1 to 4).map(r =>
        s"SELECT $r AS round, pair, replace(pair, ' ', '') AS token, freq FROM t$r")
        .mkString("\n        UNION ALL ")
      s"""WITH $bpeRoundsSql
      SELECT CAST(round AS INTEGER) AS round, pair, token, freq FROM (
        $out)
      ORDER BY round"""
    },
    uses = Seq(bpeLoop))

  /** BPE tokenizer APPLICATION — the serving half of [[bpeTrain]] (the same
    * train→apply lifecycle the IVF-PQ family proves for vectors): the final
    * merged vocab IS the encoder, because classic BPE encodes at the WORD
    * level and every corpus word is a dictionary key. So the corpus is never
    * re-tokenized symbol-by-symbol: per-language word counts (one corpus
    * scan, vocab-sized result) join the encoded dictionary on the word key —
    * a vocab-sized shuffle join, not a corpus-sized one — and per-language
    * fertility (BPE tokens per word) and compression (chars per BPE token)
    * fold from exact longs. This is the readout that says what the 4-round
    * tokenizer actually buys per language, and the at-scale shape is the
    * point: N merge rounds touch the corpus once, encoding touches it once
    * more, everything else is vocab-sized.
    */
  val bpeEncode = Declared(
    "bpe_encode",
    (s, dir) => {
      val vocab4 = bpeLoop(s, dir)._1
      val dict = vocab4.select(
        expr("replace(seq, ' ', '')").as("w"),
        size(split(trim(col("seq")), "  ")).cast("long").as("ntok"))
      val perLang = t(s, dir, "documents")
        .select(col("lang"), explode(TextFns.words(col("text"))).as("w0"))
        .select(col("lang"), lower(col("w0")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cw"))
      perLang.join(dict, "w")
        .groupBy(col("lang"))
        .agg(
          sum(col("cw")).as("n_words"),
          sum(col("cw") * col("ntok")).as("n_bpe_tokens"),
          sum(col("cw") * length(col("w"))).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)
            .as("chars_per_token"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH $bpeRoundsSql,
      enc AS (
        SELECT replace(seq, ' ', '') AS w,
          CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS ntok
        FROM v4),
      perlang AS (
        SELECT lang, lower(w) AS w, CAST(count(*) AS BIGINT) AS cw FROM (
          SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents)
        WHERE regexp_matches(lower(w), '^[a-z]+$$')
        GROUP BY lang, lower(w)),
      agg AS (
        SELECT lang, CAST(sum(cw) AS BIGINT) AS n_words,
          CAST(sum(cw * ntok) AS BIGINT) AS n_bpe_tokens,
          CAST(sum(cw * len(w)) AS BIGINT) AS n_chars
        FROM perlang JOIN enc USING (w) GROUP BY lang)
      SELECT lang, n_words, n_bpe_tokens,
        round(CAST(n_bpe_tokens AS DOUBLE) / n_words, 6) AS fertility,
        round(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) AS chars_per_token
      FROM agg ORDER BY lang"""),
    uses = Seq(bpeLoop))

  /** The vocab-size/compression CURVE across merge rounds — the readout
    * that justifies (or caps) a tokenizer's merge budget: per round 0..4,
    * how many distinct token types the vocab carries and how many tokens
    * the whole corpus needs at that vocab (Σ word-count · tokens-per-word
    * — exact longs off the dictionary, the corpus is never re-tokenized),
    * with compression vs the character baseline in integer nano-units.
    * Each merge buys strictly fewer corpus tokens; diminishing returns in
    * this curve are where real tokenizer training stops adding merges
    * (the vocab-size ablations in the BPE literature report exactly this
    * table). Third consumer of the shared [[bpeLoop]] snapshot.
    *
    * Scale shapes: every round's readout is ONE aggregate over the
    * VOCAB-sized dictionary state — the exploded symbol column feeds a
    * distinct type count and the weighted corpus-token sum in the same
    * fold (sum(wc) over exploded elements ≡ sum(wc·|symbols|) per row) —
    * the corpus was paid once when the dictionary folded; the round-0
    * baseline joins back as a 1-row broadcast.
    *
    * Overflow bound: `compression_nano` forms `1e9 * n_tokens_corpus`
    * in i64 before the integer divide, so it is exact up to ~9.2e9
    * corpus tokens (Long.MaxValue / 1e9) — same bound class as r_nano
    * in graph_assortativity. Past that, restructure to divide
    * base_tokens first; at this suite's BPE fixture scale the corpus
    * is vocab-bounded and sits far below the limit.
    */
  val bpeVocabCoverage = Declared(
    "bpe_vocab_coverage",
    (s, dir) => {
      val (_, _, vocabs) = bpeLoop(s, dir)
      val perRound = vocabs.zipWithIndex.map { case (v, r) =>
        v.select(col("wc"), explode(split(trim(col("seq")), "  ")).as("tok"))
          .agg(count_distinct(col("tok")).as("n_token_types"),
            sum(col("wc")).as("n_tokens_corpus"))
          .select(lit(r).as("round"),
            col("n_token_types"), col("n_tokens_corpus"))
      }.reduce(_ unionByName _)
      val base = perRound.filter(col("round") === 0)
        .select(col("n_tokens_corpus").as("base_tokens"))
      perRound.crossJoin(broadcast(base))
        .select(col("round"), col("n_token_types"), col("n_tokens_corpus"),
          expr("(1000000000L * n_tokens_corpus) div base_tokens")
            .as("compression_nano"))
        .orderBy(col("round"))
    },
    Some {
      val rounds = (0 to 4).map(r => s"""m$r AS (
        SELECT $r AS round,
          CAST(count(DISTINCT tok) AS BIGINT) AS n_token_types,
          (SELECT CAST(sum(wc * len(string_split(trim(seq), '  '))) AS BIGINT)
           FROM v$r) AS n_tokens_corpus
        FROM (SELECT unnest(string_split(trim(seq), '  ')) AS tok FROM v$r))""")
        .mkString(",\n      ")
      val un = (0 to 4).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
      s"""WITH $bpeRoundsSql,
      $rounds,
      allr AS ($un),
      base AS (SELECT n_tokens_corpus AS bt FROM allr WHERE round = 0)
      SELECT CAST(round AS INTEGER) AS round, n_token_types, n_tokens_corpus,
        CAST((1000000000 * n_tokens_corpus) // bt AS BIGINT)
          AS compression_nano
      FROM allr CROSS JOIN base ORDER BY round"""
    },
    uses = Seq(bpeLoop))

  /** One-row dataset card (the "Datasheets for Datasets" summary a corpus
    * release ships): size, language/source spread, token-length location
    * (mean + exact interpolated median/p90 — Spark `percentile` and DuckDB
    * `quantile_cont` share the (n−1)·p linear-interpolation definition),
    * exact-dup rate off the normalized fingerprint, and the quality-gate
    * keep fraction at the same 0.5 cutoff text_quality publishes. ONE
    * per-doc projection then one aggregate; the two count-distincts ride
    * Spark's expand (3 passes over the tiny per-doc signal table, never the
    * corpus text twice). Every number here is recomputed — not sampled — so
    * the card is the audit, not an estimate of one.
    */
  val datasheet = Declared(
    "corpus_datasheet",
    (s, dir) => {
      val score = qualitySignals.score
      val perDoc = t(s, dir, "documents")
        .select(
          size(TextFns.words(col("text"))).cast("long").as("nt"),
          col("lang"), col("source"), length(col("text")).cast("long").as("nc"),
          md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp"),
          (score >= 0.5).as("keep"))
      perDoc.agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nc")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          round(avg(when(col("lang") === "en", 1.0).otherwise(0.0)), 6).as("pct_en"),
          round(avg(col("nt")), 4).as("mean_tokens"),
          round(expr("percentile(nt, 0.5)"), 4).as("p50_tokens"),
          round(expr("percentile(nt, 0.9)"), 4).as("p90_tokens"),
          round(lit(1.0) - countDistinct(col("fp")).cast("double") / count(lit(1)), 6)
            .as("dup_rate"),
          round(avg(when(col("keep"), 1.0).otherwise(0.0)), 6).as("quality_keep_frac"))
    },
    Some {
      val (_, _, score) = qualitySignalsSql
      s"""WITH perdoc AS (
        SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
          lang, source, CAST(len(text) AS BIGINT) AS nc,
          md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp,
          ($score >= 0.5) AS keep
        FROM documents)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(nt) AS BIGINT) AS n_tokens,
        CAST(sum(nc) AS BIGINT) AS n_chars,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS pct_en,
        round(avg(nt), 4) AS mean_tokens,
        round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
        round(quantile_cont(nt, 0.9), 4) AS p90_tokens,
        round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_rate,
        round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS quality_keep_frac
      FROM perdoc"""
    })

  /** RAKE keyword extraction (Rose et al. 2010) — unsupervised corpus
    * keyphrases for dataset cards and topic audits: candidate phrases are
    * maximal stopword-free word runs (capped at 4 words — the cap bounds
    * every downstream fan-out and long runs in stopword-poor text are
    * word salad, not keyphrases), each word is scored deg/freq over the
    * candidate set (deg = Σ phrase length per occurrence, with
    * multiplicity — co-occurrence degree; freq = occurrences), and a
    * phrase scores the sum of its member word scores.
    *
    * Scale shape: phrase assembly is one per-doc partitioned window
    * (pos − row_number islands over the non-stopword positions — the
    * gaps-and-islands discipline, state one doc's words per partition)
    * plus one hash aggregate; word stats fold the phrase table to the
    * vocabulary; phrase scoring joins the DISTINCT phrase texts (not
    * occurrences) to word scores on the word key. Word scores are
    * `(1e9·deg) div freq` integer nano-units and phrase scores sum those
    * longs — exact rationals end-to-end, no float order anywhere.
    */
  val rakeKeywords = Declared(
    "text_rake_keywords",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val en = stopwords.toMap.apply("en")
      val stopArr = array(en.map(lit): _*)
      val pw = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), posexplode(TextFns.words(col("text"))).as(Seq("pos", "w")))
        .filter(!array_contains(stopArr, col("w")))
        .withColumn("island",
          col("pos") - row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      val phrases = pw.groupBy(col("doc_id"), col("island"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)")
          .as("pws"))
        .filter(size(col("pws")) <= 4)
        .select(array_join(col("pws"), " ").as("phrase"),
          size(col("pws")).as("plen"))
      val wordStats = phrases
        .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("w"), expr("(1000000000L * deg) div freq").as("wscore_nano"))
      val distinctPhrases = phrases.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occur"), max(col("plen")).as("n_words"))
      distinctPhrases
        .select(col("phrase"), col("n_occur"), col("n_words"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(wordStats, "w")
        .groupBy(col("phrase"), col("n_occur"), col("n_words"))
        .agg(sum(col("wscore_nano")).as("score_nano"))
        .orderBy(col("score_nano").desc, col("phrase"))
        .limit(15)
    },
    Some("""WITH pw0 AS (
        SELECT doc_id, u.pos AS pos, u.w AS w FROM (
          SELECT doc_id, unnest(list_transform(range(0, len(ws)),
            i -> {'pos': CAST(i AS INTEGER),
                  'w': ws[CAST(i + 1 AS INTEGER)]})) AS u
          FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                FROM documents WHERE lang = 'en'))),
      pw AS (
        SELECT doc_id, pos, w,
          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM pw0
        WHERE NOT list_contains(['the','a','of','and','to','in','is','it'], w)),
      phrases AS (
        SELECT string_agg(w, ' ' ORDER BY pos) AS phrase,
          CAST(count(*) AS BIGINT) AS plen
        FROM pw GROUP BY doc_id, island
        HAVING count(*) <= 4),
      word_stats AS (
        SELECT u.w AS w,
          (1000000000 * CAST(sum(plen) AS BIGINT)) // CAST(count(*) AS BIGINT)
            AS wscore_nano
        FROM (SELECT plen, unnest(string_split(phrase, ' ')) AS w
              FROM phrases) u
        GROUP BY u.w),
      dp AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
          CAST(max(plen) AS INTEGER) AS n_words
        FROM phrases GROUP BY phrase),
      pwords AS (
        SELECT dp.phrase, dp.n_occur, dp.n_words,
          unnest(string_split(dp.phrase, ' ')) AS w
        FROM dp)
      SELECT p.phrase, p.n_occur, p.n_words,
        CAST(sum(ws.wscore_nano) AS BIGINT) AS score_nano
      FROM pwords p JOIN word_stats ws ON p.w = ws.w
      GROUP BY p.phrase, p.n_occur, p.n_words
      ORDER BY score_nano DESC, phrase LIMIT 15"""))

  /** Flesch–Kincaid grade-level banding (Kincaid et al. 1975): the
    * readability readout a curation stack puts NEXT TO [[quality]]'s
    * format signals and [[gopherRules]]' repetition gates — "is this text
    * pitched at grade school or graduate school", which correlates with
    * document register in a way punctuation ratios don't. All three
    * formula inputs are regex-countable in pure codegen: words (the shared
    * whitespace convention), sentences (runs of `[.!?]`), syllables (the
    * standard vowel-group heuristic — runs of `[aeiouy]` in the lowered
    * text). Grade = 0.39·(words/sentences) + 11.8·(syllables/words) −
    * 15.59, computed on exact-integer-valued doubles so both engines run
    * identical IEEE ops; each doc's grade rounds ONCE to milli-units
    * before summing (order-free longs), and the band is floor(grade)
    * clamped to [0, 18] — floor, not integer div, because a very short
    * doc's grade can be negative and Spark `div` truncates toward zero
    * where DuckDB `//` floors.
    *
    * Scale shape: one corpus scan, three regexp counters per row inside
    * WholeStageCodegen, one hash aggregate to the O(langs × 19) band grid.
    */
  val readability = Declared(
    "text_readability",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("lang"),
          greatest(size(TextFns.words(col("text"))), lit(1)).as("w"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
            lit(1)).as("sct"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .as("syl"))
      counts
        .withColumn("fk",
          expr("""0.39 * (CAST(w AS DOUBLE) / sct)
                + 11.8 * (CAST(syl AS DOUBLE) / w) - 15.59"""))
        .select(col("lang"), col("w"),
          expr("least(greatest(CAST(floor(fk) AS BIGINT), 0L), 18L)").as("band"),
          expr("CAST(round(fk * 1000) AS BIGINT)").as("grade_milli"))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("sum_words"),
          sum(col("grade_milli")).as("sum_grade_milli"))
        .orderBy(col("lang"), col("band"))
    },
    Some("""WITH counts AS (
        SELECT lang,
          greatest(len(string_split_regex(trim(text), '\s+')), 1) AS w,
          greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sct,
          len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
        FROM documents),
      graded AS (
        SELECT lang, w,
          0.39 * (CAST(w AS DOUBLE) / sct)
            + 11.8 * (CAST(syl AS DOUBLE) / w) - 15.59 AS fk
        FROM counts)
      SELECT lang,
        least(greatest(CAST(floor(fk) AS BIGINT), 0), 18) AS band,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(w) AS BIGINT) AS sum_words,
        CAST(sum(CAST(round(fk * 1000) AS BIGINT)) AS BIGINT) AS sum_grade_milli
      FROM graded GROUP BY lang, band ORDER BY lang, band"""))

  /** Pointwise-mutual-information collocations — the statistical
    * phrase-mining step (Church & Hanks, CL 1990) a tokenizer/curation
    * pipeline runs to find word pairs that co-occur far above chance
    * ("merge these into one token", "this bigram is a named entity").
    * PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) with p(w1,w2) = c12/NB
    * over bigram positions and p(w) = c(w)/NW over unigram positions.
    *
    * Shapes: one exploded scan each for bigram and unigram counts (both
    * vocab-bounded outputs — Heaps' law), two keyed joins of the bigram
    * table against the unigram table, and two 1-row totals crossJoined in
    * (the audited broadcast-spine pattern). The min-count filter
    * (c12 ≥ 5) runs BEFORE the joins — raw-frequency PMI famously ranks
    * hapax pairs first (two words seen once, together, score a maximal
    * PMI), so low-support pairs are noise by construction and dropping
    * them early also keeps the join input vocab-sized. The score is
    * computed as ONE identical double expression tree on both engines and
    * rounded once to nano-units: products stay exact-integer-valued into
    * the ln, and IEEE multiplication/division order is pinned by the
    * shared parenthesization.
    */
  val pmi = Declared(
    "corpus_pmi",
    (s, dir) => {
      // spread first: the whole cost is per-row explode work downstream of a
      // small single-partition scan (Tables.spread is a no-op at real scale)
      val ws = Tables.spread(t(s, dir, "documents"), "doc_id")
        .withColumn("ws", TextFns.words(col("text")))
      val prs = ws.select(explode(expr(
        """CASE WHEN size(ws) < 2 THEN array()
           ELSE transform(sequence(1, size(ws) - 1),
                          i -> struct(element_at(ws, i) AS w1,
                                      element_at(ws, i + 1) AS w2))
           END""")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val bg = prs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      val uc = ws.select(explode(col("ws")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nw = uc.agg(sum(col("c")).as("nw"))
      val nb = prs.agg(count(lit(1)).as("nb"))
      bg.join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(nw).crossJoin(nb)
        .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"), col("c12"),
          expr("""CAST(round(ln((CAST(c12 AS DOUBLE) * nw * nw)
                 / (CAST(c1 AS DOUBLE) * c2 * nb)) * 1e9) AS BIGINT)""")
            .as("pmi_nano"))
        .orderBy(col("pmi_nano").desc, col("bigram"))
        .limit(20)
    },
    Some("""WITH ws AS (
        SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
      prs AS (
        SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
          i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1])) AS bigram
        FROM ws),
      bg AS (
        SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
          CAST(count(*) AS BIGINT) AS c12
        FROM prs GROUP BY 1, 2 HAVING count(*) >= 5),
      uc AS (
        SELECT unnest(w) AS tok FROM ws),
      ucg AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uc GROUP BY tok),
      nwt AS (SELECT CAST(sum(c) AS BIGINT) AS nw FROM ucg),
      nbt AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM prs)
      SELECT bg.w1 || ' ' || bg.w2 AS bigram, bg.c12,
        CAST(round(ln((CAST(bg.c12 AS DOUBLE) * nw * nw)
          / (CAST(u1.c AS DOUBLE) * u2.c * nb)) * 1e9) AS BIGINT) AS pmi_nano
      FROM bg
      JOIN ucg u1 ON u1.tok = bg.w1
      JOIN ucg u2 ON u2.tok = bg.w2
      CROSS JOIN nwt CROSS JOIN nbt
      ORDER BY pmi_nano DESC, bigram LIMIT 20"""))

  /** Green-list watermark detection (Kirchenbauer et al., ICML 2023) — the
    * synthetic-text screen a pretraining pipeline runs now that LLM output
    * contaminates every crawl: a watermarking generator biases each token
    * toward a "green" half of the vocabulary seeded by the PREVIOUS token,
    * so a watermarked doc's green fraction sits far above the 1/2 a human
    * text hits. The detector recomputes membership per bigram position —
    * green iff hash(prev ∥ ' ' ∥ cur) is even (γ = 1/2, portable md5
    * convention) — and scores each doc with the paper's one-proportion
    * z-statistic z = (2g − n)/√n, flagging z ≥ 4 (the paper's operating
    * point, ~3e-5 false-positive rate). The fixture is human-shuffled text,
    * so flags stay empty while the z distribution sits near N(0,1) — the
    * spec pins both, plus exact per-doc recomputation.
    *
    * Scale shape: one exploded corpus scan into a per-doc hash aggregate
    * (two counters per doc); the z expression is ONE shared parenthesization
    * rounded once to milli. Docs under 20 scored positions are excluded —
    * the normal approximation (and the detector) is meaningless there.
    */
  val watermarkDetect = Declared(
    "text_watermark_detect",
    (s, dir) => {
      val ws = Tables.spread(t(s, dir, "documents"), "doc_id")
        .withColumn("ws", TextFns.words(col("text")))
      val h = graft.functions.Hashing
        .md5Hash32SparkSql("concat(p.w1, ' ', p.w2)")
      ws.select(col("doc_id"), explode(expr(
          """CASE WHEN size(ws) < 2 THEN array()
             ELSE transform(sequence(1, size(ws) - 1),
                            i -> struct(element_at(ws, i) AS w1,
                                        element_at(ws, i + 1) AS w2))
             END""")).as("p"))
        .select(col("doc_id"), expr(s"CAST($h % 2 = 0 AS BIGINT)").as("green"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_scored"), sum(col("green")).as("n_green"))
        .filter(col("n_scored") >= 20)
        .select(col("doc_id"), col("n_scored"), col("n_green"),
          expr("""CAST(round((2.0 * n_green - n_scored)
                 / sqrt(CAST(n_scored AS DOUBLE)) * 1000) AS BIGINT)""")
            .as("z_milli"))
        .withColumn("flagged", col("z_milli") >= 4000L)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ws AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
      prs AS (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(w), 1)),
          i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]))
          AS bg
        FROM ws),
      scoredd AS (
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_scored,
          CAST(sum(CASE WHEN ${graft.functions.Hashing.md5Hash32DuckSql("bg")}
            % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        FROM prs GROUP BY doc_id HAVING count(*) >= 20)
      SELECT doc_id, n_scored, n_green,
        CAST(round((2.0 * n_green - n_scored)
          / sqrt(CAST(n_scored AS DOUBLE)) * 1000) AS BIGINT) AS z_milli,
        (CAST(round((2.0 * n_green - n_scored)
          / sqrt(CAST(n_scored AS DOUBLE)) * 1000) AS BIGINT) >= 4000)
          AS flagged
      FROM scoredd ORDER BY doc_id"""))

  /** Poisson-bootstrap confidence interval (Efron resampling in the
    * map-reduce form: Chamandy et al., Google 2012) for a corpus
    * proportion — every curation readout in this suite is a point
    * estimate, and the decision "gate on 80%?" needs the INTERVAL. True
    * resampling is RNG + a corpus-sized resample per replica; the Poisson
    * variant instead gives each doc an independent Poisson(1) weight per
    * replica, which (a) streams — one pass, no materialized resamples —
    * and (b) derandomizes here through the portable md5 convention
    * (weight = inverse-CDF ladder on hash(b ∥ ':' ∥ doc_id), integer
    * thresholds ⌊cdf·2³²⌋ hardcoded identically in both engines).
    *
    * Shapes: the doc scan explodes ×100 replicas straight into a partial
    * hash aggregate (map-side combine keeps the shuffle at 100 rows per
    * map task, NOT 100× the corpus); the 100 replica accuracies collect
    * into ONE sorted 100-element array whose 3rd/98th order statistics
    * are the declared 95% bounds (the percentile-bootstrap convention at
    * B = 100). Replica shares are exact nano-unit divs.
    */
  val bootstrapCi = Declared(
    "eval_bootstrap_ci",
    (s, dir) => {
      val h = graft.functions.Hashing
        .md5Hash32SparkSql("concat(CAST(b AS STRING), ':', CAST(doc_id AS STRING))")
      val w = s"""CASE WHEN $h <= 1580030168L THEN 0L
                       WHEN $h <= 3160060337L THEN 1L
                       WHEN $h <= 3950075421L THEN 2L
                       WHEN $h <= 4213413783L THEN 3L
                       WHEN $h <= 4279248373L THEN 4L
                       ELSE 5L END"""
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          (size(TextFns.words(col("text"))) >= 100).cast("long").as("pass"))
      val reps = docs
        .select(col("doc_id"), col("pass"),
          explode(expr("sequence(1, 100)")).as("b"))
        .select(col("b"), col("pass"), expr(w).as("w"))
        .groupBy(col("b"))
        .agg(sum(col("w") * col("pass")).as("num"), sum(col("w")).as("den"))
        .select(expr("(1000000000L * num) div greatest(den, 1L)").as("acc"))
        .agg(sort_array(collect_list(col("acc"))).as("accs"))
      docs.agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
        .crossJoin(broadcast(reps))
        .select(col("n_docs"),
          expr("(1000000000L * n_pass) div n_docs").as("p_hat_nano"),
          element_at(col("accs"), 3).as("ci_lo_nano"),
          element_at(col("accs"), 98).as("ci_hi_nano"),
          lit(100L).as("n_replicas"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\\s+')) >= 100 AS BIGINT)
            AS pass
        FROM documents),
      reps AS (
        SELECT b,
          CAST(sum(w * pass) AS BIGINT) AS num,
          CAST(sum(w) AS BIGINT) AS den
        FROM (
          SELECT d.pass, r.b,
            CASE WHEN h <= 1580030168 THEN 0
                 WHEN h <= 3160060337 THEN 1
                 WHEN h <= 3950075421 THEN 2
                 WHEN h <= 4213413783 THEN 3
                 WHEN h <= 4279248373 THEN 4
                 ELSE 5 END AS w
          FROM docs d
          CROSS JOIN (SELECT unnest(range(1, 101)) AS b) r
          CROSS JOIN LATERAL (SELECT ${graft.functions.Hashing.md5Hash32DuckSql(
            "concat(CAST(r.b AS VARCHAR), ':', CAST(d.doc_id AS VARCHAR))")} AS h) x)
        GROUP BY b),
      accs AS (
        SELECT list_sort(list((1000000000 * num) // greatest(den, 1))) AS a
        FROM reps),
      pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(pass) AS BIGINT) AS n_pass
        FROM docs)
      SELECT n_docs,
        CAST((1000000000 * n_pass) // n_docs AS BIGINT) AS p_hat_nano,
        CAST(a[3] AS BIGINT) AS ci_lo_nano,
        CAST(a[98] AS BIGINT) AS ci_hi_nano,
        CAST(100 AS BIGINT) AS n_replicas
      FROM pt CROSS JOIN accs"""))

  /** Custom codegen'd Expression: portable polynomial rolling hash, verified
    * byte-for-byte against a DuckDB list_reduce over the same ASCII bytes.
    */
  val rollingHashQ = Declared(
    "text_rolling_hash",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          RollingHash.rolling_hash(col("text")).as("rhash"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, len(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1000000007) AS rhash
      FROM documents ORDER BY doc_id"""))

  val all: Seq[Declared] = Seq(
    tokenStats, langid, quality, curate, fingerprint, redactPii, splitTrainVal,
    corpusNgrams, qualityCutoff, unigramNll, corpusTfidf, urlNormalize,
    boilerplate, bpePairs, lineDedup, bigramNll, zipf, sentenceStats,
    langidReport, langidKappa, charEntropy, fertility, langidCalibration,
    classifierScore, gopherRules, qualityCurve, heaps, bpeTrain, bpeEncode,
    bpeVocabCoverage,
    datasheet, perplexityBand, rakeKeywords, readability, pmi,
    watermarkDetect, bootstrapCi,
    rollingHashQ)
}
