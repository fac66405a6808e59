package graft.llm

import graft.Tables._
import graft.{Pin, QuerySpec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TextOps seam 1 — per-document SCORING and curation GATES: language
  * ID, quality scores and CCNet-style banding, PII detect/redact,
  * repetition and familiarity signals, vocabulary profiles,
  * deterministic content-hash splits and sampling, and the composed
  * corpus_clean gate. Everything is embarrassingly parallel per-row
  * codegen except the domain-bounded band histogram.
  *
  * Mixed into [[TextOps]] (the single public surface) — the split is
  * file organization only; call sites and semantics are unchanged. */
private[llm] trait TextScoring { self: TextOps.type =>

  private def stopCount(words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"size(filter(split(lower(text), ' '), w -> w IN ($set)))"
  }

  private val langs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "das", "ist"),
    "fr" -> Seq("le", "et", "les", "une"),
    "es" -> Seq("el", "los", "que", "para"))

  /** One definition per PII pattern — shared by pii_detect, pii_redact
    * and the corpus_clean gate, Spark side AND (via interpolation) the
    * oracles: editing a pattern in one key but not another would
    * silently desynchronize the composed gate from its components.
    * Patterns stay in the Java/RE2-agreeing regex subset. */
  private[llm] val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[llm] val piiUrl = "https?://[^ ]+"
  private[llm] val piiDigits = "[0-9]{7,}"

  /** Per-language marker-word counts (cnt_en..cnt_es) — the lang_id
    * machinery, shared with corpus_clean's language gate. */
  private def withLangCounts(df: DataFrame): DataFrame =
    langs.foldLeft(df) { case (acc, (l, ws)) =>
      acc.withColumn(s"cnt_$l", expr(stopCount(ws)).cast("long")) }

  /** Language ID via stopword n-gram heuristic: count per-language marker
    * words, argmax with a fixed precedence order (en > de > fr > es) so
    * ties are deterministic. */
  val langId = QuerySpec(
    "lang_id",
    (s, d) => {
      val withCounts = withLangCounts(documents(s, d))
      val best = greatest(langs.map { case (l, _) => col(s"cnt_$l") }: _*)
      val pred = langs.foldRight(lit("und"): Column) { case ((l, _), el) =>
        when(col(s"cnt_$l") === best && best > 0, lit(l)).otherwise(el)
      }
      withCounts
        .select(col("doc_id"), col("cnt_en"), col("cnt_de"), col("cnt_fr"),
          col("cnt_es"), pred.as("pred_lang"), col("lang").as("claimed_lang"),
          (pred === col("lang")).as("is_match"))
        .orderBy("doc_id")
    },
    Some {
      def c(ws: Seq[String]) =
        s"len(list_filter(string_split(lower(text), ' '), w -> w IN (${ws.map(w => s"'$w'").mkString(", ")})))"
      val cnts = langs.map { case (l, ws) => s"${c(ws)} AS cnt_$l" }.mkString(", ")
      """WITH counts AS (SELECT doc_id, lang, CNTS FROM documents)
         SELECT doc_id, cnt_en, cnt_de, cnt_fr, cnt_es,
                CASE WHEN cnt_en = g AND g > 0 THEN 'en'
                     WHEN cnt_de = g AND g > 0 THEN 'de'
                     WHEN cnt_fr = g AND g > 0 THEN 'fr'
                     WHEN cnt_es = g AND g > 0 THEN 'es'
                     ELSE 'und' END AS pred_lang,
                lang AS claimed_lang,
                (CASE WHEN cnt_en = g AND g > 0 THEN 'en'
                      WHEN cnt_de = g AND g > 0 THEN 'de'
                      WHEN cnt_fr = g AND g > 0 THEN 'fr'
                      WHEN cnt_es = g AND g > 0 THEN 'es'
                      ELSE 'und' END = lang) AS is_match
         FROM (SELECT *, greatest(cnt_en, cnt_de, cnt_fr, cnt_es) AS g FROM counts)
         ORDER BY doc_id"""
        .replace("CNTS", cnts)
    }
  )

  /** The 7-word stopword list behind quality_score's stop_milli and
    * quality_band_filter's banding signal — ONE definition, or the band
    * thresholds silently drift off the score they claim to band. */
  private val stopWords7 = Seq("the", "and", "of", "is", "a", "to", "in")

  /** DuckDB SQL for the stop_milli signal (stopword density per 1000
    * tokens) — the quality_band_filter oracle's banding input, mirroring
    * quality_score's stop_milli math over `stopWords7`. */
  private def stopMilliSql: String =
    s"""(1000 * len(list_filter(string_split(lower(text), ' '),
           w -> w IN (${stopWords7.map(w => s"'$w'").mkString(",")}))))
        // greatest(len(list_filter(string_split(lower(text), ' '), w -> w <> '')), 1)"""

  /** Quality scoring: length / punctuation / stopword / word-shape
    * signals, emitted as exact integer ratios (`div`-scaled milli-units). */
  val qualityScore = QuerySpec(
    "quality_score",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_char"),
          size(tokens).cast("long").as("n_tokens"),
          expr(stopCount(stopWords7))
            .cast("long").as("stop_cnt"),
          length(regexp_replace(col("text"), "[^A-Za-z]", ""))
            .cast("long").as("alpha_cnt"),
          length(regexp_replace(col("text"), "[^.,;:!?]", ""))
            .cast("long").as("punct_cnt"))
        .select(
          col("doc_id"), col("n_char"), col("n_tokens"), col("stop_cnt"),
          col("alpha_cnt"), col("punct_cnt"),
          // greatest(…,1): empty/whitespace-only docs would otherwise hit
          // ANSI DIVIDE_BY_ZERO (Spark 4 default) where DuckDB yields NULL
          expr("(1000 * stop_cnt) div greatest(n_tokens, 1)").as("stop_milli"),
          expr("(1000 * alpha_cnt) div greatest(n_char, 1)").as("alpha_milli"),
          expr("(10 * alpha_cnt) div greatest(n_tokens, 1)").as("wordlen_deci"))
        .orderBy("doc_id"),
    Some(s"""WITH base AS (
              SELECT doc_id,
                     length(text) AS n_char,
                     len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS n_tokens,
                     len(list_filter(string_split(lower(text), ' '),
                         w -> w IN (${stopWords7.map(w => s"'$w'").mkString(",")}))) AS stop_cnt,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_cnt,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_cnt
              FROM documents)
            SELECT doc_id, n_char, n_tokens, stop_cnt, alpha_cnt, punct_cnt,
                   (1000 * stop_cnt) // greatest(n_tokens, 1) AS stop_milli,
                   (1000 * alpha_cnt) // greatest(n_char, 1) AS alpha_milli,
                   (10 * alpha_cnt) // greatest(n_tokens, 1) AS wordlen_deci
            FROM base ORDER BY doc_id""")
  )

  /** Per-language quality banding (head / middle / tail by stopword
    * density) — the CCNet-style curation step that keeps each language's
    * best two thirds instead of one global threshold (which would crush
    * low-resource languages whose score distribution sits lower).
    *
    * The 100 TB shape: NO per-language global sort. The signal is an
    * integer milli-ratio with a DOMAIN-BOUNDED value space (≤ 1001
    * values), so per-language tercile thresholds come from a
    * (lang, value) histogram of ≤ n_langs·1001 rows; the cumulative
    * window runs over that bounded table only, and band assignment joins
    * back map-side. The band table is domain-bounded — NOT
    * corpus-proportional — so its broadcast is the sanctioned
    * config-sized kind (ann_pq-codebook class), unlike the banned
    * corpus-derived broadcasts. Ties share a band by construction
    * (banding is a function of the VALUE), which is what makes the
    * integer math deterministic across engines. */
  /** The scored/hist/bands CTE block matching [[qualityBandOf]], shared
    * verbatim by the quality_band_filter and pipeline_quality_pack
    * oracles — a drift in either copy would silently put the composed
    * pipeline on a different band table than the component key. */
  private[llm] def qualityBandCteSql: String =
    s"""scored AS (
              SELECT doc_id, COALESCE(lang, '') AS lang,
                     COALESCE($stopMilliSql, -1) AS q
              FROM documents),
            hist AS (SELECT lang, q AS v, count(*) AS cnt FROM scored
                     WHERE q >= 0 GROUP BY 1, 2),
            bands AS (
              SELECT lang, v,
                     CAST(1 + least(2,
                       (3 * COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY v DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                       // SUM(cnt) OVER (PARTITION BY lang)) AS BIGINT) AS band
              FROM hist)"""

  /** The quality-band plan over any (doc_id, lang, text) frame — shared
    * by the query key and the composed pipeline_quality_pack.
    *
    * Cast to BIGINT BEFORE the 1000× (exactly quality_score's long
    * math and the oracle's len()→BIGINT): an int multiply would hit
    * ANSI ARITHMETIC_OVERFLOW on a >2.1M-stopword doc where both
    * quality_score and DuckDB succeed.
    * NULL lang / NULL text coalesce to sentinels ('' / -1) instead of
    * silently vanishing: a NULL never matches the band equi-join, so
    * without the sentinel such docs would be neither kept nor
    * rejected — lost from the curation profile without trace. With
    * it, every input doc appears in the output: NULL-lang docs band
    * among themselves under lang='', and a NULL-text doc (q=-1, no
    * score to band on) is assigned band 3 / keep_flag 0 UNCONDITIONALLY
    * — the histogram is built over real scores only, so score-less
    * docs can neither dilute a language's terciles nor sneak into
    * band 1 of a sentinel-dominated language. */
  def qualityBandOf(docs: DataFrame): DataFrame = {
    val scored = qualityScoredOf(docs)
    scored
      .join(broadcast(qualityBandTableOf(scored)),
        col("lang") === col("bl") && col("q") === col("v"), "left")
      .select(col("doc_id"), col("lang"), col("q").as("stop_milli"),
        coalesce(col("band"), lit(3L)).as("band"),
        (coalesce(col("band"), lit(3L)) <= 2).cast("long").as("keep_flag"))
  }

  /** The per-row half of [[qualityBandOf]]: (doc_id, lang, q), a doc's
    * banding language (NULL → '') and its score, the stopword
    * milli-ratio (NULL text → −1, never banded). */
  private[llm] def qualityScoredOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), bandLang.as("lang"), bandScore.as("q"))
  private[llm] val bandLang: Column = coalesce(col("lang"), lit(""))
  private[llm] val bandScore: Column = coalesce(
    expr(s"(1000 * cast(${stopCount(stopWords7)} as bigint)) " +
      "div greatest(cast(size(filter(split(lower(text), ' '), w -> w != '')) as bigint), 1)"),
    lit(-1L))

  /** The band-table half of [[qualityBandOf]]: (bl, v, band) per
    * language and score value of `scored` (doc_id, lang, q), from the
    * domain-bounded (lang, value) histogram of its real scores. */
  private[llm] def qualityBandTableOf(scored: DataFrame): DataFrame = {
    val hist = scored.filter(col("q") >= 0)
      .groupBy(col("lang"), col("q").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val above = Window.partitionBy("lang").orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy("lang")
    hist
      .withColumn("cum", coalesce(sum(col("cnt")).over(above), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(whole))
      .select(col("lang").as("bl"), col("v"),
        expr("1 + least(2, (3 * cum) div n)").cast("long").as("band"))
  }

  val qualityBandFilter = QuerySpec(
    "quality_band_filter",
    (s, d) => qualityBandOf(documents(s, d)).orderBy("doc_id"),
    Some(s"""WITH $qualityBandCteSql
            SELECT s.doc_id, s.lang, s.q AS stop_milli,
                   CAST(COALESCE(b.band, 3) AS BIGINT) AS band,
                   CAST(COALESCE(b.band, 3) <= 2 AS BIGINT) AS keep_flag
            FROM scored s LEFT JOIN bands b ON b.lang = s.lang AND b.v = s.q
            ORDER BY doc_id""")
  )

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  val tokenCount = QuerySpec(
    "token_count",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(tokens).cast("long").as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
            .cast("long").as("bpe_tokens"),
          length(col("text")).cast("long").as("n_char"))
        .withColumn("chars_per_tok_milli",
          expr("(1000 * n_char) div greatest(bpe_tokens, 1)"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens,
                   length(text) AS n_char,
                   (1000 * length(text)) //
                     greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')), 1)
                     AS chars_per_tok_milli
            FROM documents ORDER BY doc_id""")
  )

  /** Top-k document-frequency vocabulary (distinct per doc, then group),
    * ranked (doc_freq DESC, t) — a total order, so any k-cut is
    * deterministic. ONE definition (with [[vocabSql]]) shared by
    * vocab_topk and vocab_coverage: a tokenization or tie-break edit in
    * one key would otherwise silently desynchronize the coverage profile
    * from the vocabulary it claims to evaluate. */
  private[llm] def vocabOf(docs: DataFrame, k: Int): DataFrame =
    docs
      // relational filter after explode (codegen) rather than the
      // interpreted filter() lambda inside the array
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
      .distinct()
      .groupBy("t")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("t"))
      .limit(k)

  /** DuckDB twin of [[vocabOf]]. */
  private def vocabSql(k: Int): String =
    s"""SELECT t, count(*) AS doc_freq
        FROM (SELECT DISTINCT doc_id,
                UNNEST(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
              FROM documents)
        GROUP BY t ORDER BY doc_freq DESC, t LIMIT $k"""

  /** Corpus vocabulary: top-50 tokens by document frequency — the df
    * side of tf-idf and the stopword-list bootstrap for corpus-specific
    * quality filters. */
  val vocabTopk = QuerySpec(
    "vocab_topk",
    (s, d) => vocabOf(documents(s, d), 50),
    Some(vocabSql(50))
  )

  /** Tokenizer-vocabulary coverage: per-document whitespace-token count,
    * in-vocabulary token count (with multiplicity) and OOV milli-rate
    * against the corpus top-10 document-frequency vocabulary (exactly
    * vocab_topk's ranking: doc_freq DESC, token ASC — a total order, so
    * the cut is deterministic; k=10 < the fixture corpus's distinct-word
    * count, so the OOV profile is non-degenerate). The coverage/OOV
    * profile is how a tokenizer-vocab candidate is evaluated against a
    * pretraining corpus before committing to the expensive BPE train
    * (bpe_merge_pairs).
    *
    * Scale shape: the vocab is config-sized (k rows after the limit) —
    * its broadcast is the sanctioned kind — so coverage is one explode +
    * broadcast left-join + per-doc hash aggregate: embarrassingly
    * parallel, no corpus-sized shuffle beyond the per-doc agg itself. */
  val vocabCoverage = QuerySpec(
    "vocab_coverage",
    (s, d) => {
      val docs = documents(s, d)
      val vocab = vocabOf(docs, 10).select(col("t"), lit(1L).as("iv"))
      // explode_OUTER keeps a token-free document as one null-token row
      // (count(t) = 0), so every doc stays in the profile WITHOUT an
      // outer join-back against the corpus-sized per-doc aggregate —
      // which the static planner would otherwise broadcast at bench
      // scale, the exact corpus-derived-broadcast shape the repo bans
      docs
        .select(col("doc_id"), explode_outer(tokens).as("t"))
        .join(broadcast(vocab), Seq("t"), "left")
        .groupBy("doc_id")
        .agg(count(col("t")).as("n_tokens"),
          coalesce(sum(col("iv")), lit(0L)).as("in_vocab"))
        .withColumn("oov_milli",
          expr("(1000 * (n_tokens - in_vocab)) div greatest(n_tokens, 1)"))
        .orderBy("doc_id")
    },
    Some(s"""WITH vocab AS (
              SELECT t FROM (${vocabSql(10)})),
            tok AS (
              SELECT doc_id,
                     UNNEST(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
              FROM documents),
            agg AS (
              SELECT tok.doc_id, count(*) AS n_tokens,
                     CAST(COALESCE(SUM(CASE WHEN v.t IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS in_vocab
              FROM tok LEFT JOIN vocab v ON v.t = tok.t
              GROUP BY tok.doc_id)
            SELECT d.doc_id,
                   COALESCE(a.n_tokens, 0) AS n_tokens,
                   COALESCE(a.in_vocab, 0) AS in_vocab,
                   (1000 * (COALESCE(a.n_tokens, 0) - COALESCE(a.in_vocab, 0)))
                     // greatest(COALESCE(a.n_tokens, 0), 1) AS oov_milli
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
            ORDER BY d.doc_id""")
  )

  /** Deterministic content-hash train/val/test split (80/10/10) — the
    * reproducible-sampling primitive every training-data pipeline needs:
    * assignment is a pure function of document CONTENT, so it survives
    * re-sharding, re-ordering, and incremental re-runs (row-position
    * sampling does not), and a salt prefix versions the split without
    * touching the data. All-integer bucket math; the oracle derives the
    * same 32-bit hash value digit-by-digit (DuckDB has no conv). */
  val sampleSplit = QuerySpec(
    "sample_split",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          expr("conv(substring(md5(concat('split-v1:', text)), 1, 8), 16, 10)")
            .cast("long").as("h"))
        .select(col("doc_id"), (col("h") % 100).as("bucket"),
          when(col("h") % 100 < 80, "train")
            .when(col("h") % 100 < 90, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id"),
    Some {
      val v = md5Hex32Sql("'split-v1:' || text")
      s"""SELECT doc_id, v % 100 AS bucket,
                 CASE WHEN v % 100 < 80 THEN 'train'
                      WHEN v % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, $v AS v FROM documents)
          ORDER BY doc_id"""
    }
  )

  /** PII surface detection — the filter stage a compliant training-data
    * pipeline runs before anything ships: per-document counts of email,
    * URL and long-digit-run (phone/ID-shaped) matches, plus the gate
    * flag. Patterns stay in the regex subset Java and RE2 agree on
    * (character classes + quantifiers, no backrefs/lookaround), the same
    * parity contract token_count already relies on. Detection only —
    * redaction composes as a regexp_replace projection with the same
    * patterns. */
  val piiDetect = QuerySpec(
    "pii_detect",
    (s, d) => {
      // function API, NOT expr(): a SQL string literal would be unescaped
      // by Spark's parser, silently turning the \. into "any char" while
      // DuckDB's literal keeps it — two different regexes
      val (email, url, digits) = (piiEmail, piiUrl, piiDigits)
      def cnt(p: String) =
        size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
      documents(s, d)
        .select(col("doc_id"),
          cnt(email).as("email_cnt"),
          cnt(url).as("url_cnt"),
          cnt(digits).as("digit_run_cnt"))
        .withColumn("pii_flag",
          (col("email_cnt") + col("url_cnt") + col("digit_run_cnt") > 0)
            .cast("long"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS email_cnt,
                   len(regexp_extract_all(text, 'https?://[^ ]+')) AS url_cnt,
                   len(regexp_extract_all(text, '[0-9]{7,}')) AS digit_run_cnt,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                        + len(regexp_extract_all(text, 'https?://[^ ]+'))
                        + len(regexp_extract_all(text, '[0-9]{7,}')) > 0 AS BIGINT) AS pii_flag
            FROM documents ORDER BY doc_id""")
  )

  /** Repetition signals (the Gopher-rules quality family): per-document
    * duplicate-token and duplicate-bigram fractions plus the
    * most-frequent-token share, all as exact integer milli-ratios. High
    * values flag boilerplate / template / degenerate-generation text.
    * Shape at scale: explode → two-level hash aggregate per doc — the
    * same embarrassingly-parallel per-document profile as quality_score,
    * no corpus-wide state. */
  val repetitionRatio = QuerySpec(
    "repetition_ratio",
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), tokens.as("toks"))
      val tc = base.select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      val ts = tc.groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("c")).as("top_cnt"))
      // adjacent-pair bigrams off the SAME filtered token list the token
      // stats use; size > 1 guard keeps sequence() ascending (Spark's
      // sequence(1, 0) is the DESCENDING [1, 0])
      val bc = base.filter(size(col("toks")) > 1)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
        .select(col("doc_id"),
          concat(expr("element_at(toks, i)"), lit(" "),
            expr("element_at(toks, i + 1)")).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      val bs = bc.groupBy("doc_id").agg(
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"))
      documents(s, d).select("doc_id")
        .join(ts, Seq("doc_id"), "left")
        .join(bs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_distinct_tokens"), lit(0L)).as("n_distinct_tokens"),
          coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
          expr("(1000 * (n_tokens - n_distinct_tokens)) div greatest(n_tokens, 1)")
            .as("dup_token_milli"),
          expr("(1000 * top_cnt) div greatest(n_tokens, 1)")
            .as("top_token_milli"),
          col("n_bigrams"), col("n_distinct_bigrams"),
          expr("(1000 * (n_bigrams - n_distinct_bigrams)) div greatest(n_bigrams, 1)")
            .as("dup_bigram_milli"))
        .orderBy("doc_id")
    },
    Some("""WITH lst AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
              FROM documents),
            tc AS (
              SELECT doc_id, t, count(*) AS c
              FROM (SELECT doc_id, UNNEST(toks) AS t FROM lst)
              GROUP BY doc_id, t),
            ts AS (
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                     count(*) AS n_distinct_tokens,
                     CAST(MAX(c) AS BIGINT) AS top_cnt
              FROM tc GROUP BY doc_id),
            bc AS (
              SELECT doc_id, b, count(*) AS c
              FROM (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS b
                    FROM lst, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
                    WHERE len(toks) > 1)
              GROUP BY doc_id, b),
            bs AS (
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                     count(*) AS n_distinct_bigrams
              FROM bc GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(n_tokens, 0) AS n_tokens,
                   COALESCE(n_distinct_tokens, 0) AS n_distinct_tokens,
                   (1000 * (COALESCE(n_tokens, 0) - COALESCE(n_distinct_tokens, 0)))
                     // greatest(COALESCE(n_tokens, 0), 1) AS dup_token_milli,
                   (1000 * COALESCE(top_cnt, 0))
                     // greatest(COALESCE(n_tokens, 0), 1) AS top_token_milli,
                   COALESCE(n_bigrams, 0) AS n_bigrams,
                   COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
                   (1000 * (COALESCE(n_bigrams, 0) - COALESCE(n_distinct_bigrams, 0)))
                     // greatest(COALESCE(n_bigrams, 0), 1) AS dup_bigram_milli
            FROM documents d
            LEFT JOIN ts ON d.doc_id = ts.doc_id
            LEFT JOIN bs ON d.doc_id = bs.doc_id
            ORDER BY d.doc_id""")
  )

  /** Stratified sampling: per-language keep rates (balance the corpus
    * mix), assignment by content hash — the same reproducibility contract
    * as sampleSplit: a document's fate is a pure function of its content
    * and the salt, independent of sharding or arrival order. Rates are
    * per-mille; the filter is a pure integer comparison. */
  val stratifiedSample = QuerySpec(
    "stratified_sample",
    (s, d) => {
      val rate = when(col("lang") === "en", 250L)
        .when(col("lang") === "de", 500L)
        .when(col("lang") === "fr", 500L)
        .when(col("lang") === "es", 750L)
        .otherwise(1000L)
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          (expr("conv(substring(md5(concat('strat-v1:', text)), 1, 8), 16, 10)")
            .cast("long") % 1000).as("bucket"),
          rate.as("rate_milli"))
        .filter(col("bucket") < col("rate_milli"))
        .orderBy("doc_id")
    },
    Some {
      val v = md5Hex32Sql("'strat-v1:' || text")
      s"""SELECT doc_id, lang, v % 1000 AS bucket,
                 CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 500
                           WHEN 'fr' THEN 500 WHEN 'es' THEN 750
                           ELSE 1000 END AS rate_milli
          FROM (SELECT doc_id, lang, $v AS v FROM documents)
          WHERE v % 1000 < CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 500
                                     WHEN 'fr' THEN 500 WHEN 'es' THEN 750
                                     ELSE 1000 END
          ORDER BY doc_id"""
    }
  )

  /** Weight-proportional fixed-size subsample (priority sampling,
    * Duffield et al. 2007): each document gets priority w/u — weight
    * w = n_chars (token-budget-proportional inclusion, the "sample the
    * corpus down to a budget but keep it long-doc-heavy" curation move),
    * u a deterministic content-keyed uniform — and the sample is the
    * global top-k by priority. Same reproducibility contract as
    * sampleSplit: a document's fate is a pure function of (doc_id, salt,
    * weight), independent of sharding.
    *
    * Exactness discipline: u is the first 32 md5 bits + 1, and the
    * priority is the INTEGER floor of w·2³³/u — float pow/ln (the A-ES
    * formulation) would make the top-k boundary an engine-rounding
    * artifact; quantizing the priority to integers with a doc_id
    * tie-break keeps the selected set bit-identical across engines. The
    * w·2³³ product caps at ~2⁴⁶ for document-sized weights — inside
    * BIGINT by construction (weights ≥ 2²⁰ chars would need DECIMAL).
    *
    * Scale shape: pure projection + TakeOrderedAndProject — no global
    * sort, no shuffle beyond the k-row reduction. */
  val weightedSample = QuerySpec(
    "weighted_sample",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("n_chars").as("weight"),
          (expr("conv(substring(md5(concat('ws-v1:', cast(doc_id as string))), 1, 8), 16, 10)")
            .cast("long") + 1L).as("u"))
        .select(col("doc_id"), col("weight"),
          expr("weight * 8589934592L div u").as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(100)
        .orderBy("doc_id"),
    Some {
      val v = md5Hex32Sql("'ws-v1:' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, weight, priority FROM (
            SELECT doc_id, n_chars AS weight,
                   CAST((CAST(n_chars AS HUGEINT) * 8589934592)
                        // ($v + 1) AS BIGINT) AS priority
            FROM documents
            ORDER BY priority DESC, doc_id LIMIT 100)
          ORDER BY doc_id"""
    }
  )

  /** Curriculum training order: every document gets a global position
    * where ALL band-1 (easiest/cleanest, per qualityBandOf's CCNet
    * terciles — ONE shared definition) docs come first, then band 2,
    * then band 3, and WITHIN a band the order is a deterministic md5
    * shuffle (a sorted-by-quality curriculum inside a band would
    * correlate adjacent batches; the shuffle decorrelates them). The
    * position is [[bucketRankOf]] over (band, md5-prefix-bucket) cells,
    * a [[graft.ops.GlobalRank.prefix]] whose offset window runs over a
    * ≤3·256-row table — no corpus-wide sort anywhere.
    *
    * Scale shape: banding is the shared histogram stage; ranking is one
    * shuffle to the (band, bucket) cells. */
  val curriculumSchedule = QuerySpec(
    "curriculum_schedule",
    (s, d) => {
      val b = qualityBandOf(documents(s, d))
        .select(col("doc_id"), col("band"),
          md5(concat(lit("cur-v1:"), col("doc_id").cast("string"))).as("k"))
      bucketRankOf(b, Seq(), Seq("band"), "doc_id")
        .select(col("doc_id"), col("band"), col("rnk").as("pos"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $qualityBandCteSql,
            rsrc AS (
              SELECT s.doc_id, CAST(COALESCE(b.band, 3) AS BIGINT) AS band,
                     md5('cur-v1:' || CAST(s.doc_id AS VARCHAR)) AS k1,
                     substr(md5('cur-v1:' || CAST(s.doc_id AS VARCHAR)), 1, 2)
                       AS bkt
              FROM scored s LEFT JOIN bands b
                ON b.lang = s.lang AND b.v = s.q),
            ${bucketRankSql(Seq(), Seq("band"), "doc_id")}
            SELECT doc_id, band, rnk AS pos
            FROM brnk ORDER BY doc_id""")
  )

  /** BM25 retrieval scoring for a fixed query term set, top-20 documents.
    * Classic Okapi shape — per-term idf × tf·(k1+1) / (tf + k1·(1−b +
    * b·dl/avgdl)) with k1=1.2, b=0.75 — made integer-EXACT: the rational
    * k1/b and avgdl = A/N fold into one fraction, idf is the log-free
    * (N−df+1)/(df+1) rarity ratio (the tfidf_topk convention; ln would
    * make the top-k cut an engine-rounding artifact), and each term's
    * contribution is one DECIMAL(38,0)/HUGEINT floor division:
    *   (N−df+1)·22·tf·A·10⁶  div  (df+1)·(10·tf·A + 3·A + 9·dl·N).
    * DECIMAL(38,0) covers the products through the 5× gate with ~20
    * digits of headroom; an extreme-scale deployment would pre-divide
    * the idf to keep magnitudes flat.
    *
    * Scale shape: dl/tf/df are map-side-combinable aggregates off one
    * pinned token scan; df and the (A, N) totals are query-sized frames
    * (df joins shuffle_hash — corpus-derived, never static-broadcast;
    * the 1-row totals broadcast is sanctioned); the cut is
    * TakeOrderedAndProject — no global sort. */
  val bm25TopK = QuerySpec(
    "bm25_topk",
    (s, d) => {
      val terms = Seq("spark", "join", "dup")
      // doc lengths map-side (r19): dl is a per-document aggregate, so
      // size(tokens) computes it with zero shuffle — the old form
      // exploded every token into a corpus-sized checkpoint just to
      // count rows per doc. The > 0 filter mirrors explode semantics
      // exactly: a zero-token (or null-text) doc produced no exploded
      // rows, hence no dl row — it must stay out of the (A, N) totals.
      val dl = documents(s, d)
        .select(col("doc_id"), size(tokens).cast("long").as("dl"))
        .filter(col("dl") > 0)
        .transform(Pin) // 2 consumers: totals, score join
      val st = dl.agg(sum(col("dl")).as("a"), count(lit(1)).as("nd"))
      val tf = documents(s, d)
        .select(col("doc_id"), explode(tokens).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      tf.join(df.hint("shuffle_hash"), Seq("t"))
        .join(dl.hint("shuffle_hash"), Seq("doc_id"))
        .crossJoin(broadcast(st))
        .select(col("doc_id"), col("dl"),
          expr("""(cast(nd - df + 1 as decimal(38,0)) * 22 * tf * a * 1000000)
                  div (cast(df + 1 as decimal(38,0))
                       * (10 * cast(tf as decimal(38,0)) * a + 3 * a
                          + 9 * cast(dl as decimal(38,0)) * nd))""")
            .as("s"))
        // dl rides the aggregate (constant per doc_id) — a third dl join
        // just to re-emit the length would shuffle the corpus-sized
        // length frame once more
        .groupBy("doc_id").agg(max(col("dl")).as("dl"),
          sum(col("s")).cast("long").as("score_ppm"))
        .select(col("doc_id"), col("dl"), col("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
        .limit(20)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     UNNEST(list_filter(string_split(lower(text), ' '),
                                        w -> w <> '')) AS t
              FROM documents),
            dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
                   FROM toks GROUP BY 1),
            st AS (SELECT CAST(SUM(dl) AS HUGEINT) AS a,
                          CAST(COUNT(*) AS HUGEINT) AS nd
                   FROM dl),
            tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM toks WHERE t IN ('spark', 'join', 'dup')
                   GROUP BY 1, 2),
            df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df
                   FROM tf GROUP BY 1),
            sc AS (SELECT tf.doc_id,
                          ((st.nd - df.df + 1) * 22 * tf.tf * st.a * 1000000)
                          // ((df.df + 1)
                             * (10 * tf.tf * st.a + 3 * st.a
                                + 9 * dl.dl * st.nd)) AS s
                   FROM tf
                   JOIN df USING (t)
                   JOIN dl USING (doc_id)
                   CROSS JOIN st),
            tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_ppm
                    FROM sc GROUP BY 1)
            SELECT doc_id, dl, score_ppm FROM (
              SELECT t.doc_id, dl.dl, t.score_ppm
              FROM tot t JOIN dl USING (doc_id)
              ORDER BY t.score_ppm DESC, t.doc_id LIMIT 20)
            ORDER BY doc_id""")
  )

  /** Per-document top-3 characteristic tokens by tf·idf-style rarity
    * weighting: score = tf × (1/df) in integer micro units (the log-free
    * idf variant, so scoring is exact integer math — monotone in tf/df,
    * which is what the ranking needs). The document-frequency table is
    * CORPUS-DERIVED, so it is never broadcast: the tf⋈df join shuffles on
    * the token — at 100 TB that is one hash-partition of the vocabulary,
    * the same shape as the inverted-index dedup joins. */
  val tfidfTopk = QuerySpec(
    "tfidf_topk",
    (s, d) => {
      // tf checkpointed lazily: the df aggregate and the scoring join
      // both read the one computed (doc_id, t, tf) block set — the
      // explode + groupBy run once (keeps r19's single-pass win)
      val tf = documents(s, d)
        .select(col("doc_id"), explode(tokens).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        .transform(Pin)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_micro").desc, col("t"))
      // df via the compressed aggregate + join-back, NOT a count window
      // over hash(t) (r20, reverting the r19 window form — VERDICT r19
      // What's-wrong 2): the window buffered every (doc, term) row of a
      // hot term (a stopword's partition is #docs-containing-it-sized)
      // in one WindowExec group with no partial aggregation, where the
      // df aggregate compresses map-side to distinct terms and the
      // shuffled-hash probe side STREAMS — same single tf-stream
      // exchange, no per-term buffering. df is corpus-derived
      // (unbounded vocab) → shuffle_hash, never broadcast.
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      tf.join(df.hint("shuffle_hash"), Seq("t"))
        .withColumn("score_micro", expr("(1000000 * tf) div df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "t", "tf", "df", "score_micro")
        .orderBy("doc_id", "rank")
    },
    Some("""WITH tf AS (
              SELECT doc_id, t, count(*) AS tf
              FROM (SELECT doc_id,
                      UNNEST(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
                    FROM documents)
              GROUP BY doc_id, t),
            df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            scored AS (
              SELECT tf.doc_id, tf.t, tf.tf, df.df,
                     (1000000 * tf.tf) // df.df AS score_micro
              FROM tf JOIN df ON tf.t = df.t),
            ranked AS (
              SELECT doc_id, t, tf, df, score_micro,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score_micro DESC, t) AS rank
              FROM scored)
            SELECT doc_id, rank, t, tf, df, score_micro
            FROM ranked WHERE rank <= 3
            ORDER BY doc_id, rank""")
  )

  /** PII redaction — the action stage behind pii_detect's gate: emails,
    * URLs and long digit runs rewritten to typed placeholder tokens.
    * Replacements apply in a FIXED order (email → url → digit-run) so
    * overlapping matches (an email inside a URL path) resolve identically
    * in both engines; the per-kind counts are surface counts on the raw
    * text (pii_detect semantics), deliberately order-independent. Same
    * per-document codegen'd shape as the rest of the family — redaction
    * adds zero shuffles over the detect pass. */
  val piiRedact = QuerySpec(
    "pii_redact",
    (s, d) => {
      // function API, NOT expr(): Spark's SQL parser would unescape the
      // string literal and change the regex (see pii_detect)
      val (email, url, digits) = (piiEmail, piiUrl, piiDigits)
      def cnt(p: String) =
        size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
      documents(s, d)
        .select(col("doc_id"),
          cnt(email).as("email_cnt"),
          cnt(url).as("url_cnt"),
          cnt(digits).as("digit_run_cnt"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), email, "<EMAIL>"),
              url, "<URL>"),
            digits, "<NUM>").as("redacted"))
        .withColumn("redacted_len", length(col("redacted")).cast("long"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS email_cnt,
                   len(regexp_extract_all(text, 'https?://[^ ]+')) AS url_cnt,
                   len(regexp_extract_all(text, '[0-9]{7,}')) AS digit_run_cnt,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^ ]+', '<URL>', 'g'),
                     '[0-9]{7,}', '<NUM>', 'g') AS redacted,
                   CAST(length(regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^ ]+', '<URL>', 'g'),
                     '[0-9]{7,}', '<NUM>', 'g')) AS BIGINT) AS redacted_len
            FROM documents ORDER BY doc_id""")
  )

  /** Canonical text normalization — the first map stage of every dedup /
    * quality pipeline: lowercase, collapse whitespace runs to single
    * spaces, trim. The whitespace class is spelled explicitly
    * (`[ \t\n\r\f]`) because Java's `\s` includes vertical tab while
    * RE2's does not — the one-char divergence that would silently fork
    * the engines. Emits the md5 of the normalized form so the gate
    * checks the full content without shipping it twice. */
  val textNormalize = QuerySpec(
    "text_normalize",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("raw_len"),
          trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f]+", " "))
            .as("norm"))
        .select(col("doc_id"), col("raw_len"),
          length(col("norm")).cast("long").as("norm_len"),
          md5(col("norm")).as("norm_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len,
                   CAST(length(norm) AS BIGINT) AS norm_len,
                   md5(norm) AS norm_md5
            FROM (SELECT doc_id, text,
                         trim(regexp_replace(lower(text), '[ \t\n\r\f]+', ' ', 'g')) AS norm
                  FROM documents)
            ORDER BY doc_id""")
  )

  /** Character-trigram familiarity: the mean corpus frequency of a
    * document's trigram occurrences — the integer-exact stand-in for a
    * character-LM perplexity filter (LOW familiarity = text unlike the
    * corpus: wrong language, encoding garbage, machine noise). The
    * corpus model is just the trigram count table; scoring is one
    * shuffle join on the trigram string + a per-doc average. The count
    * table is corpus-derived and therefore NEVER broadcast (the
    * ngram_jaccard lesson); at 100 TB it gets bucketed by trigram and
    * reused across scoring runs. */
  val trigramFamiliarity = QuerySpec(
    "trigram_familiarity",
    (s, d) => {
      // COMPRESSED count aggregate + join-back (r18's shape, restored —
      // VERDICT r19 next-round 1): the r19 count-window-over-hash(s)
      // shuffled EVERY trigram occurrence by trigram — 4.4× the bytes
      // (2.2 → 9.6 MB at sf0.1), linear in corpus at 100 TB, and a hot
      // trigram ("th ", "ing") buffered its entire corpus occurrence
      // set in ONE WindowExec partition with no partial aggregation
      // possible (guide §2.5). Here the count table partial-aggregates
      // to distinct trigrams before its exchange and joins back onto
      // the occurrence stream as the planner's broadcast choice (from
      // estimates, never a static hint — corpus-derived rule). The
      // explode runs twice (counts leg + probe leg) ON PURPOSE: it is
      // two column-pruned scans of codegen'd map work, measured CHEAPER
      // (1.3 vs 1.9 s at sf0.1) than pinning the exploded
      // corpus-sized occurrence stream to blocks just to share one
      // pass — the materialization write is the expensive half. The
      // isNotNull filter reproduces the inner join's NULL-key drop
      // explicitly (ADVICE r19 high): a NULL-text doc emits one s=NULL
      // row — greatest(…,1) keeps its index row alive — which JOIN
      // USING(s) drops in both engines.
      val tri = shingleRows(documents(s, d), 3)
        .where(col("s").isNotNull)
      val counts = tri.groupBy("s").agg(count(lit(1)).as("c"))
      tri.join(counts, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          expr("sum(c) div count(1)").as("familiarity"))
        .orderBy("doc_id")
    },
    Some("""WITH tri AS (
              SELECT doc_id, substr(text, i, 3) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-2, 1))) AS t(i)),
            counts AS (SELECT s, count(*) AS c FROM tri GROUP BY s)
            SELECT doc_id, count(*) AS n_trigrams,
                   CAST(CAST(SUM(c) AS BIGINT) // count(*) AS BIGINT) AS familiarity
            FROM tri JOIN counts USING (s)
            GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Source-mix profile: per-origin document counts and volume, where a
    * document's origin is the DOMAIN of its first URL when it carries
    * one (lowercased host, scheme/port/path stripped) and its `source`
    * tag otherwise — the report a crawl-derived corpus runs before
    * weighting or filtering by origin. The URL branch is gated on an
    * explicit rlike/regexp_matches test (DuckDB's and Java's no-match
    * return values differ; a boolean gate sidesteps both), and the host
    * extraction is a capture-group-free two-step in the Java∩RE2 regex
    * subset. Shape: per-doc projection + one count shuffle keyed by
    * origin. */
  val sourceMix = QuerySpec(
    "source_mix",
    (s, d) => {
      val url = "https?://[^ ]+"
      val firstUrl = regexp_extract(col("text"), url, 0)
      val domain = regexp_replace(
        lower(regexp_replace(firstUrl, "^https?://", "")), "[/:?#].*$", "")
      documents(s, d)
        .select(
          when(col("text").rlike(url), domain)
            .otherwise(col("source")).as("origin"),
          length(col("text")).cast("long").as("n"))
        .groupBy("origin")
        .agg(count(lit(1)).as("doc_cnt"),
          sum(col("n")).as("total_chars"),
          expr("sum(n) div count(1)").as("mean_chars"))
        .orderBy("origin")
    },
    Some("""SELECT origin, count(*) AS doc_cnt,
                   CAST(SUM(n) AS BIGINT) AS total_chars,
                   CAST(CAST(SUM(n) AS BIGINT) // count(*) AS BIGINT) AS mean_chars
            FROM (SELECT CASE WHEN regexp_matches(text, 'https?://[^ ]+')
                              THEN regexp_replace(
                                     lower(regexp_replace(
                                       regexp_extract(text, 'https?://[^ ]+'),
                                       '^https?://', '')),
                                     '[/:?#].*$', '')
                              ELSE source END AS origin,
                         CAST(length(text) AS BIGINT) AS n
                  FROM documents)
            GROUP BY origin ORDER BY origin NULLS FIRST""")
  )

  /** Group-aware (leakage-safe) split: every document of one SOURCE
    * lands in the same train/val/test bucket, so near-duplicate pages
    * from one site can never straddle the train/eval boundary — the
    * group-level cousin of sample_split's per-document content hash.
    * Same salted-md5 bucket arithmetic, keyed on the group column;
    * pure projection, zero shuffle, assignment survives re-sharding. */
  /** The group-aware split plan over any (doc_id, source) frame —
    * shared by the query key and the composed pipeline_quality_pack. */
  def leakageSafeSplitOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), splitHash.as("h"))
      .select(col("doc_id"), col("source"), (col("h") % 100).as("bucket"),
        splitOf(col("h")).as("split"))

  /** A doc's group hash: the salted md5 of its `source`. */
  private[llm] val splitHash: Column =
    expr("conv(substring(md5(concat('grp-v1:', source)), 1, 8), 16, 10)")
      .cast("long")

  /** The split of group hash `h`: 80 / 10 / 10 train / val / test. */
  private[llm] def splitOf(h: Column): Column =
    when(h % 100 < 80, "train").when(h % 100 < 90, "val").otherwise("test")

  val leakageSafeSplit = QuerySpec(
    "leakage_safe_split",
    (s, d) => leakageSafeSplitOf(documents(s, d)).orderBy("doc_id"),
    Some {
      val v = md5Hex32Sql("'grp-v1:' || source")
      s"""SELECT doc_id, source, v % 100 AS bucket,
                 CASE WHEN v % 100 < 80 THEN 'train'
                      WHEN v % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, source, $v AS v FROM documents)
          ORDER BY doc_id"""
    }
  )

  /** The end-to-end corpus-cleaning recipe AS ONE PLAN — the production
    * composition every training-data pipeline actually runs, here a
    * single declarative dataflow Catalyst optimizes as a whole:
    *   1. language gate — lang_id's argmax says English;
    *   2. quality floors (Gopher-style) — ≥20 tokens, stopword ratio
    *      ≥ 10‰, alphabetic ratio ≥ 600‰ (integer milli-ratios);
    *   3. PII gate — zero email/URL/long-digit-run matches;
    *   4. exact-dedup canonicalization — smallest doc_id per md5(text).
    * Gates 1-3 are pure per-row projections that fuse into ONE codegen
    * stage over ONE scan; only the dedup canon adds a shuffle (md5
    * group) + semi join. Composing the recipe declaratively (instead of
    * materializing after each gate, as script pipelines do) is the
    * 100 TB win: one pass, no intermediate corpus copies. */
  /** The base/canon/cleaned CTE block matching [[corpusCleanOf]],
    * shared verbatim by the corpus_clean and pipeline_quality_pack
    * oracles. */
  private[llm] def corpusCleanCteSql: String = corpusCleanCteSqlOver()

  /** [[corpusCleanCteSql]] over an arbitrary (doc_id, text) source with
    * suffixed CTE names — for oracles that instantiate the clean gates
    * over two corpus slices in one WITH (delta_corpus_to_shards). The
    * defaults reproduce the shared text byte-identically. */
  private[llm] def corpusCleanCteSqlOver(from: String = "documents",
      sfx: String = ""): String =
    // a raw template + replace, NOT an s-interpolation: the PII regexes
    // carry backslash escapes the s interpolator would reject. @S and
    // @FROM are the only placeholders; the defaults reproduce the
    // historical text byte-identically.
    """base@S AS (
              SELECT doc_id, text,
                     len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS n_tokens,
                     len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('the','and','of','is','a','to','in'))) AS stop_cnt,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_cnt,
                     len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('the','and','of','is'))) AS cnt_en,
                     len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('der','und','das','ist'))) AS cnt_de,
                     len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('le','et','les','une'))) AS cnt_fr,
                     len(list_filter(string_split(lower(text), ' '),
                         w -> w IN ('el','los','que','para'))) AS cnt_es,
                     len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     + len(regexp_extract_all(text, 'https?://[^ ]+'))
                     + len(regexp_extract_all(text, '[0-9]{7,}')) AS pii_cnt
              FROM @FROM),
            canon@S AS (
              SELECT min(doc_id) AS doc_id FROM @FROM GROUP BY md5(text)),
            cleaned@S AS MATERIALIZED (
              SELECT doc_id, n_tokens,
                     (1000 * stop_cnt) // greatest(n_tokens, 1) AS stop_milli,
                     (1000 * alpha_cnt) // greatest(length(text), 1) AS alpha_milli
              FROM base@S SEMI JOIN canon@S USING (doc_id)
              WHERE cnt_en = greatest(cnt_en, cnt_de, cnt_fr, cnt_es)
                AND greatest(cnt_en, cnt_de, cnt_fr, cnt_es) > 0
                AND n_tokens >= 20
                AND (1000 * stop_cnt) // greatest(n_tokens, 1) >= 10
                AND (1000 * alpha_cnt) // greatest(length(text), 1) >= 600
                AND pii_cnt = 0)"""
      .replace("@FROM", from).replace("@S", sfx)

  /** The corpus-clean plan over any (doc_id, text) frame — shared by
    * the query key and the composed pipeline_quality_pack. */
  def corpusCleanOf(docs: DataFrame): DataFrame =
    cleanRowsOf(docs).join(canonOf(docs), Seq("doc_id"), "left_semi")
      .select("doc_id", "n_tokens", "stop_milli", "alpha_milli")

  /** The row-gate half of [[corpusCleanOf]]: `docs` with n_tokens,
    * stop_milli and alpha_milli, keeping the rows that pass the
    * language, quality-floor and PII gates. */
  private[llm] def cleanRowsOf(docs: DataFrame): DataFrame = {
    val withCounts = withLangCounts(docs)
    val best = greatest(langs.map { case (l, _) => col(s"cnt_$l") }: _*)
    // en leads the precedence order, so cnt_en == best ⇔ pred = 'en'
    val isEn = col("cnt_en") === best && best > 0
    val (email, url, digits) = (piiEmail, piiUrl, piiDigits)
    def piiCnt(p: String) =
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
    withCounts
      .withColumn("n_tokens", size(tokens).cast("long"))
      .withColumn("stop_cnt",
        expr(stopCount(Seq("the", "and", "of", "is", "a", "to", "in")))
          .cast("long"))
      .withColumn("alpha_cnt",
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"))
      .withColumn("stop_milli",
        expr("(1000 * stop_cnt) div greatest(n_tokens, 1)"))
      .withColumn("alpha_milli",
        expr("(1000 * alpha_cnt) div greatest(length(text), 1)"))
      .filter(isEn &&
        col("n_tokens") >= 20 && col("stop_milli") >= 10 &&
        col("alpha_milli") >= 600 &&
        piiCnt(email) + piiCnt(url) + piiCnt(digits) === 0)
  }

  /** The canon half of [[corpusCleanOf]]: the smallest doc_id of each
    * exact text (md5 group). */
  private[llm] def canonOf(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  val corpusClean = QuerySpec(
    "corpus_clean",
    (s, d) => corpusCleanOf(documents(s, d)).orderBy("doc_id"),
    Some(s"""WITH $corpusCleanCteSql
            SELECT doc_id, n_tokens, stop_milli, alpha_milli
            FROM cleaned ORDER BY doc_id""")
  )

  /** DSIR-style data selection via hashed n-gram importance weights
    * (Xie et al. 2023, "Data Selection via Importance Resampling"): score
    * every raw document by how target-like its hashed n-gram profile is,
    * then select the documents whose importance clears a corpus-level
    * bar. Features are word unigrams + bigrams hashed into 256 buckets
    * (bucket id = the first 2 hex chars of md5 — pure string equality,
    * engine-agnostic); the bucket importance is the LOG-FREE integer
    * likelihood ratio s(b) = 10⁶·(target(b)+1) div (raw(b)+1) (the
    * bm25/tfidf convention — ln would make the selection boundary an
    * engine-rounding artifact; +1 is add-one smoothing), and a document's
    * weight is the sum of s(bucket) over its gram OCCURRENCES. The
    * target distribution here is the English slice (lang = 'en'); raw is
    * the whole corpus — target ⊆ raw, so s(b) ≤ 10⁶ and the weight is
    * bounded by 10⁶ × grams-per-doc. `selected` marks docs whose weight
    * clears the corpus mean strictly, cross-multiplied in DECIMAL(38,0)
    * so the cut is exact at any corpus size (on a well-mixed corpus the
    * above-mean slice is the target-like half — a harder multiple of the
    * mean degenerates to an empty selection when weights concentrate);
    * sampling ∝ weight WITHOUT
    * replacement composes with weighted_sample's A-ES priority instead
    * of re-deriving it here.
    *
    * Scale shape (DSIR's own selling point): the gram explode is
    * map-side; the two-distribution profile is ONE conditional aggregate
    * to a 256-row table — domain-bounded by construction (the
    * qualityBandOf histogram class), so its broadcast is the sanctioned
    * config-sized kind, NOT a corpus-proportional broadcast; the weight
    * is one (doc_id) partial agg; the selection bar is a 1-row totals
    * broadcast (the bm25 `st` class). No global sort anywhere. */
  /** The (doc_id, weight_micro) DSIR weight frame over any (doc_id,
    * lang, text) frame — the pipeline below dsir_weights' checkpoint
    * boundary, exposed so PlanSpec can audit its shape (profile
    * broadcast + partial agg) where the key's own plan shows only a
    * checkpoint scan. */
  private[graft] def dsirWeightOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), tokens.as("arr"))
    // unigrams ++ bigrams in one explode; the size<2 guard pins Spark's
    // DESCENDING sequence(1, 0) to DuckDB's empty generate_series(1, 0)
    val grams = toks
      .select(col("doc_id"), col("lang"),
        explode(concat(col("arr"), expr(
          """CASE WHEN size(arr) < 2 THEN CAST(array() AS ARRAY<STRING>)
             ELSE transform(sequence(1, size(arr) - 1),
                            i -> concat(element_at(arr, i), ' ',
                                        element_at(arr, i + 1)))
             END"""))).as("g"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("g")), 1, 2).as("b"))
      .transform(Pin) // 2 consumers: profile + weight join
    val prof = grams.groupBy("b")
      .agg(count(lit(1)).as("r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"))
      .select(col("b"), expr("(1000000 * (t + 1)) div (r + 1)").as("s_micro"))
    val w = grams.join(broadcast(prof), Seq("b"))
      .groupBy("doc_id").agg(sum(col("s_micro")).as("wm"))
    // gram-less docs (empty text) weigh 0 — present, not lost
    docs.select("doc_id").join(w, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("wm"), lit(0L)).as("weight_micro"))
  }

  val dsirWeights = QuerySpec(
    "dsir_weights",
    (s, d) => {
      val wfull = dsirWeightOf(documents(s, d))
        .transform(Pin) // 2 consumers: totals + final projection
      val tot = wfull.agg(sum(col("weight_micro")).as("tot_w"),
        count(lit(1)).as("nw"))
      wfull.crossJoin(broadcast(tot))
        .select(col("doc_id"), col("weight_micro"),
          expr("""CAST(CAST(nw AS DECIMAL(38,0)) * weight_micro >
                       CAST(tot_w AS DECIMAL(38,0)) AS LONG)""")
            .as("selected"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split(lower(text), ' '),
                                 w -> w <> '') AS arr
              FROM documents),
            grams AS (
              SELECT doc_id, lang, substr(md5(arr[i]), 1, 2) AS b
              FROM toks, UNNEST(generate_series(1, len(arr))) AS t(i)
              UNION ALL
              SELECT doc_id, lang,
                     substr(md5(arr[i] || ' ' || arr[i + 1]), 1, 2) AS b
              FROM toks, UNNEST(generate_series(1, len(arr) - 1)) AS t(i)),
            prof AS (
              SELECT b,
                     (1000000 * (CAST(SUM(CASE WHEN lang = 'en' THEN 1
                                              ELSE 0 END) AS BIGINT) + 1))
                       // (count(*) + 1) AS s_micro
              FROM grams GROUP BY b),
            w AS (
              SELECT g.doc_id, CAST(SUM(p.s_micro) AS BIGINT) AS weight_micro
              FROM grams g JOIN prof p USING (b) GROUP BY g.doc_id),
            wfull AS (
              SELECT d.doc_id, COALESCE(w.weight_micro, 0) AS weight_micro
              FROM documents d LEFT JOIN w USING (doc_id)),
            tot AS (
              SELECT CAST(SUM(weight_micro) AS HUGEINT) AS tot_w,
                     CAST(COUNT(*) AS HUGEINT) AS nw
              FROM wfull)
            SELECT doc_id, weight_micro,
                   CAST(nw * weight_micro > tot_w AS BIGINT) AS selected
            FROM wfull CROSS JOIN tot
            ORDER BY doc_id""")
  )
}
