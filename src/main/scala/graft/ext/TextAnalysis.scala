package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Q, Tables}

/** Text-analysis operators for a training-data pipeline over the
  * `documents` corpus: token statistics, quality scoring, n-gram
  * stopword language-ID, and content fingerprinting. All pure
  * Catalyst expressions (no UDFs — everything stays inside
  * whole-stage codegen and is DuckDB-verifiable).
  */
object TextAnalysis {

  /** Tokenization used across text operators: lowercase, trim,
    * whitespace-split. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** BPE-ish subword proxy: alnum runs + punctuation as separate
    * tokens (a regex segmentation — deterministic, language-blind). */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0))

  private val stopwords = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "los", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  private def stopCountSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x IN ($list)))"
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Token counting: whitespace tokens + regex subword segmentation.
    Q("txt_token_stats",
      (s, d) => {
        import s.implicits._
        // Projection of the persisted TextIndex profile — each stored
        // column is the inline expression this query used to compute.
        TextIndex.docstats(s, d).select(
          $"doc_id",
          $"n_toks".as("n_tokens"),
          $"n_subwords",
          $"len_chars",
          $"len_nonspace",
          $"max_token_len")
      },
      Some("""SELECT doc_id,
        len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
        len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> length(x) > 0)) AS n_subwords,
        length(text) AS len_chars,
        length(regexp_replace(text, '\s', '', 'g')) AS len_nonspace,
        list_max(list_transform(string_split_regex(trim(lower(text)), '\s+'),
            x -> length(x))) AS max_token_len
        FROM documents""")),

    // ------------------------------------------------------------------
    // Quality scoring: structural ratios (single IEEE divisions —
    // bit-exact across engines) + a thresholded quality flag.
    Q("txt_quality_score",
      (s, d) => {
        import s.implicits._
        // Ratios stay per-query single IEEE divisions of the stored
        // exact integer counts (bit-identical to the inline form).
        val len = $"len_chars".cast("double")
        val nPunct = $"n_punct".cast("double")
        val nDigit = $"n_digit".cast("double")
        val meanTokLen = $"len_nonspace".cast("double") /
          $"n_toks".cast("double")
        TextIndex.docstats(s, d).select(
          $"doc_id",
          (nPunct / len).as("punct_ratio"),
          (nDigit / len).as("digit_ratio"),
          meanTokLen.as("mean_token_len"),
          ($"n_toks" >= 10 && $"n_toks" <= 100000 &&
            (nPunct / len) < 0.2).as("quality_ok"))
      },
      Some("""SELECT doc_id,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;:()-]', '', 'g')) AS DOUBLE)
          / CAST(length(text) AS DOUBLE) AS punct_ratio,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
          / CAST(length(text) AS DOUBLE) AS digit_ratio,
        CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
          / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE)
          AS mean_token_len,
        (len(string_split_regex(trim(lower(text)), '\s+')) BETWEEN 10 AND 100000)
          AND (CAST(length(text) - length(regexp_replace(text, '[.,!?;:()-]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) < 0.2) AS quality_ok
        FROM documents""")),

    // ------------------------------------------------------------------
    // Language ID: stopword-hit scoring with a deterministic argmax
    // (ties and zero-score → 'und'), compared against the labeled
    // `lang` column for an accuracy-style confusion output.
    Q("txt_langid",
      (s, d) => {
        import s.implicits._
        // Stopword-hit counts project from the persisted TextIndex
        // profile (same filter-count expressions at build time).
        val scored = TextIndex.docstats(s, d).select(
          $"doc_id", $"lang", $"s_en", $"s_es", $"s_de", $"s_fr")
        val best = greatest($"s_en", $"s_es", $"s_de", $"s_fr")
        scored.withColumn("lang_pred",
            when(best === 0, "und")
              .when($"s_en" === best, "en")
              .when($"s_es" === best, "es")
              .when($"s_de" === best, "de")
              .otherwise("fr"))
          .groupBy($"lang", $"lang_pred")
          .agg(count(lit(1)).as("n_docs"))
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, lang,
            ${stopCountSql(stopwords("en"))} AS s_en,
            ${stopCountSql(stopwords("es"))} AS s_es,
            ${stopCountSql(stopwords("de"))} AS s_de,
            ${stopCountSql(stopwords("fr"))} AS s_fr
          FROM documents),
        pred AS (
          SELECT lang,
            CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                 WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                 WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                 WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                 ELSE 'fr' END AS lang_pred
          FROM scored)
        SELECT lang, lang_pred, COUNT(*) AS n_docs
        FROM pred GROUP BY lang, lang_pred""")),

    // ------------------------------------------------------------------
    // Document fingerprinting: whole-content hash over normalized
    // text plus a winnowing-style minimum-shingle-hash.
    Q("txt_fingerprint",
      (s, d) => {
        import s.implicits._
        val norm = trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9\\s]", ""), "\\s+", " "))
        // One fused expression call per document (MinMd5Window: all
        // k-char windows, one reused digest, min over raw digest
        // bytes): a pure narrow map — no Generate, no million-row
        // aggregation, no shuffle. Evolution: transform/array_min
        // (CodegenFallback, 43 s) → explode + map-side-combined min
        // (2.9 s) → this (sub-second). The oracle still computes the
        // exploded MIN(md5(substr)) form — identical values.
        Tables.documents(s, d)
          .select($"doc_id", norm.as("norm"))
          .select($"doc_id", md5($"norm").as("content_fp"),
            graft.functions.NativeFunctions.minMd5Window($"norm", 8)
              .as("winnow_fp"))
      },
      Some("""SELECT doc_id, md5(norm) AS content_fp,
        MIN(md5(substr(norm, i, 8))) AS winnow_fp
        FROM (SELECT doc_id, norm,
          unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
        FROM (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
               '\s+', ' ', 'g')) AS norm
        FROM documents) y) x
        GROUP BY doc_id, norm""")),

    // ------------------------------------------------------------------
    // Rolling-hash fingerprint: min over all 8-gram windows of a
    // polynomial hash, computed O(n) by the codegen RollingMinHash
    // expression; the oracle recomputes every window the quadratic
    // way — identical values. Docs shorter than 8 chars have no full
    // window: the expression returns null and the oracle's CASE guard
    // (over a greatest(...,1)-padded series) yields the same NULL row
    // instead of dropping the doc.
    Q("txt_rolling_fingerprint",
      (s, d) => {
        import s.implicits._
        val norm = trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9\\s]", ""), "\\s+", " "))
        Tables.documents(s, d).select(
          $"doc_id",
          graft.functions.NativeFunctions.rollingMinHash(norm, 8)
            .as("rolling_fp"))
      },
      Some("""SELECT doc_id,
        MIN(CASE WHEN length(norm) >= 8 THEN
          (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
           + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
           + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
           + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
           + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
           + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
           + ord(substr(norm, i + 6, 1)) * 31
           + ord(substr(norm, i + 7, 1))) % 1000000007 END) AS rolling_fp
        FROM (SELECT doc_id, norm,
          unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
        FROM (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
               '\s+', ' ', 'g')) AS norm
        FROM documents) y) x
        GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // Gopher-style quality filters: word count, mean word length,
    // symbol ratio, stopword fraction, and the repetition ratio (most
    // frequent bigram's share of all bigrams). The bigram counts are
    // the only wide stage — map-side combined on (doc_id, bigram) —
    // so the operator is two partial-agg shuffles regardless of
    // corpus size.
    Q("txt_gopher_quality",
      (s, d) => {
        import s.implicits._
        // Both inputs project from the persisted TextIndex: the
        // stored bigram stream keeps the unigram-fallback row
        // (concat_ws skips the NULL w2 exactly like the inline
        // element_at past the end), and the scalar profile carries
        // the integer counts the ratios divide.
        // One doc_id exchange serves both rollups (guide §2.4):
        // partitioning by doc_id satisfies the (doc,bg) and (doc)
        // groupBys alike, collapsing two exchanges to one. Shuffled
        // bytes are unchanged at any scale — per-doc bigrams are
        // near-unique, so the dropped partial agg compressed ~nothing.
        val rep = TextIndex.bigrams(s, d)
          .select($"doc_id", concat_ws(" ", $"w1", $"w2").as("bg"))
          .repartition($"doc_id")
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(max($"c").as("top_bg"), sum($"c").as("n_bg"))
        val base = TextIndex.docstats(s, d)
        val nWords = $"n_toks"
        val meanWordLen = $"len_nonspace".cast("double") /
          nWords.cast("double")
        val symbolRatio = $"n_sym".cast("double") /
          $"len_chars".cast("double")
        val stopFrac = $"s_en".cast("double") / nWords.cast("double")
        base.join(rep, "doc_id")
          .select($"doc_id", nWords.as("n_words"),
            meanWordLen.as("mean_word_len"),
            symbolRatio.as("symbol_ratio"),
            stopFrac.as("stop_frac"),
            ($"top_bg".cast("double") / $"n_bg".cast("double")).as("rep_ratio"),
            (nWords >= 50 && nWords <= 100000 &&
              meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
              symbolRatio < 0.1 &&
              ($"top_bg".cast("double") / $"n_bg".cast("double")) < 0.2)
              .as("quality_ok"))
      },
      Some(s"""WITH base AS (
          SELECT doc_id, text,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        bigrams AS (
          SELECT doc_id,
            CASE WHEN i + 1 <= len(toks) THEN toks[i] || ' ' || toks[i+1]
                 ELSE toks[i] END AS bg
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS i
                FROM base) x),
        rep AS (
          SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg
          FROM (SELECT doc_id, bg, COUNT(*) AS c
                FROM bigrams GROUP BY doc_id, bg) y
          GROUP BY doc_id)
        SELECT b.doc_id, len(toks) AS n_words,
          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE) AS mean_word_len,
          CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS symbol_ratio,
          CAST(len(list_filter(toks, x -> x IN
            (${stopwords("en").map(w => s"'$w'").mkString(", ")}))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE) AS stop_frac,
          CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE) AS rep_ratio,
          (len(toks) BETWEEN 50 AND 100000)
            AND CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
            AND CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                / CAST(length(text) AS DOUBLE) < 0.1
            AND CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE) < 0.2
            AS quality_ok
        FROM base b JOIN rep r ON b.doc_id = r.doc_id""")),

    // ------------------------------------------------------------------
    // PII scrubbing: the corpus carries no contact data, so a
    // deterministic synthetic email/phone is appended to every 4th
    // doc (mirrored in the oracle), then masked with the same
    // patterns any engine's regex dialect supports. Output pins both
    // the match counts and the scrubbed content hash.
    Q("txt_pii_scrub",
      (s, d) => {
        import s.implicits._
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "\\d{3}-\\d{4}"
        val injected = when($"doc_id" % 4 === 0,
          concat($"text", lit(" contact user"), $"doc_id",
            lit("@example.com or call 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
          .otherwise($"text")
        Tables.documents(s, d)
          .select($"doc_id", injected.as("t"))
          .select($"doc_id",
            size(regexp_extract_all($"t", lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all($"t", lit(phoneRe), lit(0))).as("n_phones"),
            md5(regexp_replace(regexp_replace($"t", emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("scrubbed_fp"))
      },
      Some("""SELECT doc_id,
          len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
            AS n_emails,
          len(regexp_extract_all(t, '\d{3}-\d{4}')) AS n_phones,
          md5(regexp_replace(regexp_replace(t,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
            '\d{3}-\d{4}', '<PHONE>', 'g')) AS scrubbed_fp
        FROM (SELECT doc_id,
                CASE WHEN doc_id % 4 = 0
                     THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or call 555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE text END AS t
              FROM documents) x""")),

    // ------------------------------------------------------------------
    // Corpus term statistics — the integer BM25/TF-IDF ingredients
    // (document frequency, total term frequency) per term. Stays in
    // exact integers so the oracle is hash-comparable; the float idf
    // is a trivial driver-side map over this output. df >= 5 bounds
    // the result to informative vocabulary.
    Q("txt_term_stats",
      (s, d) => {
        import s.implicits._
        TextIndex.tokens(s, d)
          .select($"doc_id", $"tok".as("term"))
          .groupBy($"term")
          .agg(countDistinct($"doc_id").as("df"),
               count(lit(1)).as("tf_total"))
          .filter($"df" >= 5)
      },
      Some("""SELECT term, COUNT(DISTINCT doc_id) AS df,
          COUNT(*) AS tf_total
        FROM (SELECT doc_id,
                unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
              FROM documents) x
        GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 5""")),

    // ------------------------------------------------------------------
    // Per-document top-k TF-IDF terms: tf per (doc, term), df per term,
    // score = tf/df ranked per doc. df is a whole-partition window
    // count over the tf frame — NOT a second aggregation joined back:
    // Catalyst does not dedupe the repeated subtree, so the
    // join formulation explodes and aggregates the entire corpus
    // TWICE (two parquet scans of the dominant input). This form
    // reads the corpus once: tf shuffle, term-window shuffle,
    // doc-window shuffle — all of collapsed (doc, term) rows.
    // Everything stays integer except the single ranking division
    // (IEEE-exact both engines); the (score DESC, term ASC) order is
    // total within a doc, so row_number is deterministic.
    Q("txt_tfidf_topk",
      (s, d) => {
        import s.implicits._
        val wTerm = org.apache.spark.sql.expressions.Window
          .partitionBy($"term")
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")
          .orderBy(($"tf".cast("double") / $"df".cast("double")).desc,
            $"term".asc)
        TextIndex.tokens(s, d)
          .select($"doc_id", $"tok".as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
          .withColumn("df", count(lit(1)).over(wTerm))
          .withColumn("rnk", row_number().over(wDoc))
          .filter($"rnk" <= 3)
          .select($"doc_id", $"term", $"tf", $"df", $"rnk")
      },
      Some("""WITH tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id,
                  unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
                FROM documents) x
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        SELECT doc_id, term, tf, df, rnk FROM (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
            ROW_NUMBER() OVER (PARTITION BY tf.doc_id
              ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC,
                       tf.term ASC) AS rnk
          FROM tf JOIN dfreq USING (term)) z
        WHERE rnk <= 3""")),

    // ------------------------------------------------------------------
    // Deterministic train/valid/test split: bucket = md5 of a salted
    // doc key, so assignment is stable across runs, machines, and
    // engines (never rand(), whose value depends on row-to-partition
    // placement), and re-running on a grown corpus never reassigns an
    // existing doc. A pure narrow projection — no shuffle at any scale.
    // The oracle rebuilds the same 16-bit hex prefix as an integer via
    // positional digit arithmetic.
    Q("txt_split_hash",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(
            md5(concat(lit("split:"), $"doc_id".cast("string"))), 1, 4),
          16, 10).cast("int") % 10
        Tables.documents(s, d)
          .select($"doc_id", bucket.as("bucket"),
            when(bucket < 8, "train").when(bucket === 8, "valid")
              .otherwise("test").as("split"))
      },
      Some("""SELECT doc_id, bucket,
          CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'valid'
               ELSE 'test' END AS split
        FROM (SELECT doc_id,
                ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
               + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
               + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
               + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 10
                  AS bucket
              FROM (SELECT doc_id,
                      substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                        AS h
                    FROM documents) y) x""")),

    // ------------------------------------------------------------------
    // Token-budget batch packing: within each language, docs in doc_id
    // order are packed greedily into batches of <= 2000 tokens (by
    // exclusive running token count — the sequence-packing step before
    // tokenized training shards are written). One window per language
    // partition: the work distributes across languages/shards, and the
    // running sum is a single pass over each partition.
    Q("txt_pack_batches",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"doc_id")
        TextIndex.docstats(s, d)
          .select($"doc_id", $"lang", $"n_toks".cast("long").as("n_tok"))
          // integer div mirrors the oracle's `//`; exact past 2^53
          // where floor(double) drifts, and cumsum >= 0 so div==floor.
          .withColumn("cum_excl", sum($"n_tok").over(w) - $"n_tok")
          .withColumn("batch_id", expr("cum_excl div 2000"))
          .drop("cum_excl")
      },
      Some("""SELECT doc_id, lang, n_tok,
          CAST((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok)
               // 2000 AS BIGINT) AS batch_id
        FROM (SELECT doc_id, lang,
                CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                     AS BIGINT) AS n_tok
              FROM documents) x""")),

    // ------------------------------------------------------------------
    // Deterministic stratified sampling: at most 40 docs per language,
    // chosen by md5 rank — unlike seeded Bernoulli sampling (whose
    // survivors depend on row→partition placement), the sample is a
    // pure function of the data, reproducible across runs, engines,
    // and cluster sizes, and re-sampling a grown corpus keeps the
    // selection stable for unchanged ranks. One shuffle on lang; the
    // per-stratum sort is over hash values, not payloads.
    Q("txt_stratified_sample",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang")
          .orderBy(md5(concat(lit("sample:"), $"doc_id".cast("string"))).asc,
            $"doc_id".asc)
        Tables.documents(s, d)
          .select($"doc_id", $"lang")
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 40)
      },
      Some("""SELECT doc_id, lang, rnk FROM (
          SELECT doc_id, lang,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)) ASC,
                       doc_id ASC) AS rnk
          FROM documents) x
        WHERE rnk <= 40""")),

    // ------------------------------------------------------------------
    // Decontamination check: which corpus docs share a token 8-gram
    // with the benchmark set (stand-in: doc_id < 50) — the train/eval
    // overlap scan run before training. Gram hashes via
    // explode(sequence) + slice + md5 (all codegen'd — no
    // higher-order-function fallback); the benchmark gram set is
    // DISTINCT'd small and broadcast, so the corpus side — the 100 TB
    // side — is a narrow scan + broadcast hash join with no shuffle:
    // decontamination cost stays linear in corpus size regardless of
    // corpus count.
    Q("txt_contamination",
      (s, d) => {
        import s.implicits._
        // Both sides read the stored distinct 8-shingle frame: the
        // inline form's duplicate grams within a doc collapsed under
        // DISTINCT (bench) / countDistinct (corpus) anyway, so the
        // distinct store is output-identical.
        val all = TextIndex.hgrams8(s, d)
        val bench = all.filter($"doc_id" < 50).select($"g").distinct()
        all.filter($"doc_id" >= 50)
          .join(broadcast(bench), "g")
          .groupBy($"doc_id")
          .agg(countDistinct($"g").as("n_shared_grams"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
          FROM (SELECT doc_id, t,
                  unnest(generate_series(1, len(t) - 7)) AS i
                FROM toks WHERE len(t) >= 8) x),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50)
        SELECT doc_id, COUNT(DISTINCT g) AS n_shared_grams
        FROM grams JOIN bench USING (g)
        WHERE doc_id >= 50
        GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // BPE-style token counting: the GPT-2 pre-tokenizer regex shape
    // (contraction suffixes | space-prefixed letter runs | digit
    // runs | punctuation runs | whitespace runs) evaluated as one
    // codegen'd regexp_extract_all per row — a narrow map, no
    // shuffle; the distinct-piece count adds insight into
    // vocabulary pressure per document. Both engines use the same
    // RE2-compatible pattern (no backrefs/lookahead), so Java regex
    // and DuckDB's RE2 tokenize identically.
    Q("txt_bpe_tokens",
      (s, d) => {
        import s.implicits._
        val pat = "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+" +
          "| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        Tables.documents(s, d)
          .withColumn("pieces", regexp_extract_all($"text", lit(pat), lit(0)))
          .select($"doc_id",
            size($"pieces").as("n_bpe"),
            size(array_distinct($"pieces")).as("n_bpe_distinct"),
            size(split(trim($"text"), "\\s+")).as("n_ws"))
      },
      Some("""SELECT doc_id,
          len(regexp_extract_all(text,
            '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
            AS n_bpe,
          len(list_distinct(regexp_extract_all(text,
            '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
            AS n_bpe_distinct,
          len(string_split_regex(trim(text), '\s+')) AS n_ws
        FROM documents""")),

    // ------------------------------------------------------------------
    // Corpus bigram language-model table: top-20 bigrams per language
    // with counts and the corpus-level conditional-probability
    // ingredients (bigram count + left-unigram count — both exact
    // integers; the division is one IEEE op for ranking display).
    // Scale: the bigram explode is a narrow generate feeding ONE hash
    // aggregation (map-side partials); the left-unigram count is a
    // window sum over the already-collapsed bigram table — not a
    // second aggregation of the exploded frame joined back (the
    // repeated-subtree trap: Catalyst does not dedupe repeated
    // subplans, so that shape scans and explodes the corpus twice).
    // The per-language top-20 runs on the collapsed table too. This
    // is the LM-statistics sibling of txt_term_stats (unigram df/tf).
    Q("txt_bigram_lm",
      (s, d) => {
        import s.implicits._
        // Strict bigrams from the persisted TextIndex: w2 IS NOT NULL
        // is exactly the size >= 2 filter + i <= n-1 explode.
        val bigrams = TextIndex.bigrams(s, d)
          .filter($"w2".isNotNull)
          .select($"lang", $"w1", $"w2")
        val bg = bigrams.groupBy($"lang", $"w1", $"w2")
          .agg(count(lit(1)).as("c_bigram"))
        val wLeft = Window.partitionBy($"lang", $"w1")
        val wTop = Window.partitionBy($"lang")
          .orderBy($"c_bigram".desc, $"w1", $"w2")
        bg.withColumn("c_left", sum($"c_bigram").over(wLeft))
          .withColumn("rk", row_number().over(wTop).cast("long"))
          .filter($"rk" <= 20)
          .withColumn("p_cond",
            $"c_bigram".cast("double") / $"c_left".cast("double"))
          .select($"lang", $"w1", $"w2", $"c_bigram", $"c_left",
            $"p_cond", $"rk")
      },
      Some("""WITH base AS (
          SELECT lang, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents
          WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        bigrams AS (
          SELECT lang, toks[i] AS w1, toks[i + 1] AS w2
          FROM (SELECT lang, toks,
                  unnest(generate_series(1, len(toks) - 1)) AS i
                FROM base) x),
        bg AS (
          SELECT lang, w1, w2, COUNT(*) AS c_bigram
          FROM bigrams GROUP BY lang, w1, w2)
        SELECT lang, w1, w2, c_bigram, c_left,
          CAST(c_bigram AS DOUBLE) / CAST(c_left AS DOUBLE) AS p_cond, rk
        FROM (
          SELECT lang, w1, w2, c_bigram,
            CAST(SUM(c_bigram) OVER (PARTITION BY lang, w1) AS BIGINT)
              AS c_left,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY c_bigram DESC, w1, w2) AS rk
          FROM bg) t
        WHERE rk <= 20""")),

    // ------------------------------------------------------------------
    // Content-defined chunking stats (FastCDC-style): boundaries
    // where the rolling 8-gram polyhash ≡ 0 (mod 64) — expected
    // chunk ≈ 64 chars, boundaries survive insertions/deletions
    // (the storage-dedup property fixed-size blocks lack). The O(n)
    // RollingModCount expression keeps this a pure narrow map; the
    // oracle recomputes every window hash quadratically with the
    // same polynomial. n_chunks = boundaries + 1; the mean length is
    // one IEEE division for display.
    Q("txt_cdc_chunking",
      (s, d) => {
        import s.implicits._
        val norm = trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9\\s]", ""), "\\s+", " "))
        Tables.documents(s, d)
          .select($"doc_id", norm.as("norm"))
          .select($"doc_id", length($"norm").cast("long").as("n_chars"),
            graft.functions.NativeFunctions.rollingModCount($"norm", 8, 64L)
              .as("n_boundaries"))
          .withColumn("n_chunks", $"n_boundaries" + 1L)
          .withColumn("mean_chunk_len",
            $"n_chars".cast("double") / $"n_chunks".cast("double"))
      },
      Some("""SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars,
          COUNT(CASE WHEN length(norm) >= 8 AND
            (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
             + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
             + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
             + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
             + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
             + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
             + ord(substr(norm, i + 6, 1)) * 31
             + ord(substr(norm, i + 7, 1))) % 1000000007 % 64 = 0
            THEN 1 END) AS n_boundaries,
          COUNT(CASE WHEN length(norm) >= 8 AND
            (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
             + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
             + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
             + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
             + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
             + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
             + ord(substr(norm, i + 6, 1)) * 31
             + ord(substr(norm, i + 7, 1))) % 1000000007 % 64 = 0
            THEN 1 END) + 1 AS n_chunks,
          CAST(length(norm) AS DOUBLE) /
            CAST(COUNT(CASE WHEN length(norm) >= 8 AND
              (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
               + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
               + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
               + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
               + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
               + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
               + ord(substr(norm, i + 6, 1)) * 31
               + ord(substr(norm, i + 7, 1))) % 1000000007 % 64 = 0
              THEN 1 END) + 1 AS DOUBLE) AS mean_chunk_len
        FROM (SELECT doc_id, norm,
          unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
        FROM (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
               '\s+', ' ', 'g')) AS norm
        FROM documents) y) x
        GROUP BY doc_id, norm""")),

    // ------------------------------------------------------------------
    // LM-based document scoring (the KenLM-filter shape: score each
    // document by how predictable its bigrams are under the corpus'
    // own per-language bigram model — low scores flag gibberish /
    // boilerplate / wrong-language docs). Joinless: the per-doc bigram
    // counts are aggregated ONCE, and the model's corpus-wide counts
    // come from windows over that collapsed table — NOT from a second
    // explode + aggregation joined back (the repeated-subtree trap:
    // Catalyst would scan and explode the corpus twice). The per-term
    // conditional probability is quantized by INTEGER division
    // ((1e9·c_bigram) div c_left — both engines truncate positive
    // quotients identically), so every output column is an exact
    // integer: hash-comparable under any partial-agg order, unlike a
    // float logprob sum. Monotone in the true probability, which is
    // all a filter threshold needs.
    Q("txt_bigram_surprisal",
      (s, d) => {
        import s.implicits._
        surprisalScores(s, d)
          .select($"doc_id", $"n_bigrams", $"sum_pq", $"mean_pq")
      },
      Some(s"""WITH $surprisalSql
        SELECT doc_id, n_bigrams, sum_pq, mean_pq FROM surprisal""")),

    // ------------------------------------------------------------------
    // CCNet-style quality bucketing: per-language terciles of the
    // bigram-predictability score — "head" (most model-predictable)
    // through "tail", the split CCNet uses to stage training data by
    // LM perplexity. One ntile window over the one-row-per-doc score
    // table (the global per-language sort touches only that collapsed
    // table; beyond millions of docs per language the cutoffs come
    // from approx percentiles instead — the rel_rfm_segments note).
    // doc_id tiebreak makes equal scores bucket identically in any
    // engine.
    Q("txt_quality_buckets",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy($"mean_pq", $"doc_id")
        surprisalScores(s, d)
          .withColumn("tercile", ntile(3).over(w))
          .withColumn("bucket",
            element_at(array(lit("tail"), lit("middle"), lit("head")),
              $"tercile"))
          .select($"doc_id", $"lang", $"mean_pq",
            $"tercile".cast("long").as("tercile"), $"bucket")
      },
      Some(s"""WITH $surprisalSql
        SELECT doc_id, lang, mean_pq, tercile,
          CASE tercile WHEN 1 THEN 'tail' WHEN 2 THEN 'middle'
            ELSE 'head' END AS bucket
        FROM (SELECT doc_id, lang, mean_pq,
                NTILE(3) OVER (PARTITION BY lang
                  ORDER BY mean_pq, doc_id) AS tercile
              FROM surprisal) t""")),

    // ------------------------------------------------------------------
    // Hashing-trick featurization: each document's bag-of-words hashed
    // into 32 buckets (md5 of the token, portable across engines, like
    // txt_split_hash's split buckets) — the fixed-width sparse feature
    // vector a downstream classifier (quality/lang filters) trains on
    // without a vocabulary table. Sparse (doc, bucket, tf) rows, not a
    // dense pivot: one explode + one map-side-combinable aggregation,
    // and 100 TB of text never materializes a vocab-size-wide row.
    Q("txt_hashed_features",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(md5($"tok"), 1, 4), 16, 10)
          .cast("int") % 32
        TextIndex.tokens(s, d)
          .select($"doc_id", bucket.as("bucket"))
          .groupBy($"doc_id", $"bucket")
          .agg(count(lit(1)).as("tf"))
      },
      Some("""SELECT doc_id,
          ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
         + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
         + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
         + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 32 AS bucket,
          COUNT(*) AS tf
        FROM (SELECT doc_id, substr(md5(tok), 1, 4) AS h
              FROM (SELECT doc_id,
                      unnest(string_split_regex(trim(lower(text)), '\s+'))
                        AS tok
                    FROM documents) y) x
        GROUP BY doc_id, bucket""")),

    // ------------------------------------------------------------------
    // Character-diversity quality stats via the O(n) CharHistStats
    // expression — a narrow map per document (code points counted,
    // run-length over a sort, no explode). The collision share
    // (Σc²/n², parts-per-billion by integer division) is the
    // no-logarithm gibberish detector: high for "aaaa…"/separator
    // spam, low for natural text. The oracle pays the exploded
    // two-aggregation form the expression avoids; integer outputs
    // keep the comparison exact. (Both sides count per code point —
    // the corpus is ASCII; DuckDB's '' split is codepoint-wise too.)
    Q("txt_char_diversity",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            graft.functions.NativeFunctions.charHistStats($"text").as("st"))
          .select($"doc_id",
            $"st" (0).as("n_cps"),
            $"st" (1).as("n_distinct_chars"),
            expr("st[2] * 1000000000 div nullif(st[0] * st[0], 0)")
              .as("collision_ppb"))
      },
      Some("""WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents),
        per_ch AS (
          SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
        agg AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS d,
                 CAST(SUM(c * c) AS BIGINT) AS ss
          FROM per_ch GROUP BY doc_id)
        SELECT doc_id, n AS n_cps, d AS n_distinct_chars,
          ss * 1000000000 // NULLIF(n * n, 0) AS collision_ppb
        FROM agg""")),

    // ------------------------------------------------------------------
    // Linear-model document scoring over the hashing-trick features —
    // the quality-classifier shape (fastText-style filtering à la
    // DCLM/FineWeb): the model is a TABLE of (bucket, weight) rows,
    // broadcast to every executor, and scoring is one broadcast join
    // + one aggregation over the sparse (doc, bucket, tf) features.
    // Weights here are derived deterministically from md5 so both
    // engines build the identical model without a side file; integer
    // weights keep the score exact. At 100 TB the feature build is
    // the only corpus-wide scan; the model stays O(buckets).
    Q("txt_classifier_score",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(md5($"tok"), 1, 4), 16, 10)
          .cast("int") % 32
        val feats = TextIndex.tokens(s, d)
          .select($"doc_id", bucket.as("bucket"))
          .groupBy($"doc_id", $"bucket")
          .agg(count(lit(1)).as("tf"))
        val weights = s.range(32).select($"id".cast("int").as("bucket"),
          (conv(substring(md5(concat(lit("w"), $"id".cast("string"))), 1, 4),
            16, 10).cast("long") % 2001 - 1000).as("w"))
        feats.join(broadcast(weights), "bucket")
          .groupBy($"doc_id")
          .agg(sum($"tf" * $"w").as("score"),
            sum($"tf").as("l1"),
            count(lit(1)).as("n_active"))
      },
      Some("""WITH toks AS (
          SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        feats AS (
          SELECT doc_id,
            ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096
           + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256
           + (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % 32
              AS bucket,
            COUNT(*) AS tf
          FROM toks GROUP BY doc_id, bucket),
        weights AS (
          SELECT b AS bucket,
            ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
           + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
           + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 2001 - 1000
              AS w
          FROM (SELECT b, md5('w' || CAST(b AS VARCHAR)) AS h
                FROM generate_series(0, 31) t(b)))
        SELECT doc_id,
          CAST(SUM(tf * w) AS BIGINT) AS score,
          CAST(SUM(tf) AS BIGINT) AS l1,
          COUNT(*) AS n_active
        FROM feats JOIN weights USING (bucket)
        GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // RAG / pretraining chunk manifest: fixed 64-token windows on a
    // 48-token stride (16-token overlap keeps context across chunk
    // boundaries) — the retrieval-chunking counterpart of
    // txt_pack_batches' greedy packing and mm_audio_windows' framing.
    // One narrow map + sequence explode; the manifest is metadata
    // (token offsets), the text itself never re-shuffles — chunk
    // extraction happens wherever the doc partition already lives.
    Q("txt_chunk_manifest",
      (s, d) => {
        import s.implicits._
        TextIndex.docstats(s, d)
          .select($"doc_id", $"n_toks".cast("long").as("n_tok"))
          .filter($"n_tok" > 0)
          .select($"doc_id", $"n_tok",
            explode(sequence(lit(0L), expr("(n_tok - 1) div 48")))
              .as("chunk_idx"))
          .select($"doc_id", $"n_tok", $"chunk_idx",
            ($"chunk_idx" * 48).as("start_tok"),
            least($"chunk_idx" * 48 + 64, $"n_tok").as("end_tok"))
          .withColumn("n_in_chunk", $"end_tok" - $"start_tok")
      },
      Some("""WITH toks AS (
          SELECT doc_id, CAST(length(string_split_regex(
              trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
          FROM documents)
        SELECT doc_id, n_tok,
          unnest(generate_series(0, (n_tok - 1) // 48)) AS chunk_idx,
          unnest(generate_series(0, (n_tok - 1) // 48)) * 48 AS start_tok,
          least(unnest(generate_series(0, (n_tok - 1) // 48)) * 48 + 64,
            n_tok) AS end_tok,
          least(unnest(generate_series(0, (n_tok - 1) // 48)) * 48 + 64,
            n_tok) - unnest(generate_series(0, (n_tok - 1) // 48)) * 48
            AS n_in_chunk
        FROM toks WHERE n_tok > 0""")),

    // ------------------------------------------------------------------
    // Vocabulary growth (Heaps-law ingredients): cumulative distinct
    // vocabulary vs cumulative token count in doc_id ingestion order.
    // The first-occurrence trick again (cf. ev_cumulative_users) —
    // a running COUNT(DISTINCT term) window would carry
    // vocabulary-sized state; here each term contributes once at its
    // min doc_id, and the two running sums ride the tiny per-doc
    // table. The curve is how corpus pipelines decide when vocab/
    // hash-bucket sizes saturate.
    Q("txt_vocab_growth",
      (s, d) => {
        import s.implicits._
        val toks = TextIndex.tokens(s, d).select($"doc_id", $"tok")
        val newTerms = toks
          .groupBy($"tok").agg(min($"doc_id").as("doc_id"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n_new_terms"))
        // The cumulative curve is one row per DOC — the one running
        // sum in the registry whose frame scales with the corpus, so
        // it rides the distributed two-pass prefix sum (same range-
        // partitioned device as exactNtile), never a single-partition
        // `SUM OVER (ORDER BY doc_id)` WindowExec.
        graft.core.Ranking.runningSums(
          toks.groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
            .join(newTerms, Seq("doc_id"), "left")
            .select($"doc_id", $"n_tokens",
              coalesce($"n_new_terms", lit(0L)).as("n_new_terms")),
          Seq($"doc_id"),
          Seq("n_tokens" -> "cum_tokens", "n_new_terms" -> "vocab_size"))
      },
      Some("""WITH toks AS (
          SELECT doc_id,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id),
        new_terms AS (
          SELECT doc_id, COUNT(*) AS n_new_terms FROM (
            SELECT tok, MIN(doc_id) AS doc_id FROM toks GROUP BY tok) t
          GROUP BY doc_id)
        SELECT p.doc_id, p.n_tokens,
          COALESCE(n.n_new_terms, 0) AS n_new_terms,
          CAST(SUM(p.n_tokens) OVER (ORDER BY p.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens,
          CAST(SUM(COALESCE(n.n_new_terms, 0)) OVER (ORDER BY p.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS vocab_size
        FROM per_doc p LEFT JOIN new_terms n ON p.doc_id = n.doc_id"""))
  )

  /** Priority-sampling projection of `txt_weighted_sample`: (doc_id,
    * weight, prio) with prio = h div weight, h a 32-bit salted md5 of
    * the doc id and weight its token count (>= 1). Bottom-k by
    * (prio, doc_id) is the deterministic weight-biased sample. */
  def withSamplePriority(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))).cast("long"), lit(1L))
          .as("weight"),
        conv(substring(
            md5(concat(lit("wsample:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long").as("h"))
      .select(col("doc_id"), col("weight"), expr("h div weight").as("prio"))

  /** 8-hex-digit md5 prefix as a BIGINT in [0, 2^32) — the uniform
    * deterministic hash behind weighted sampling. DuckDB lacks a
    * hex→int conversion, so the oracle rebuilds it by positional
    * digit arithmetic (generated here, same shape as txt_split_hash's
    * 4-digit form). */
  private def hex8Sql(h: String): String =
    (0 until 8).map { i =>
      s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")

  val all2: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Deterministic weighted sample (priority sampling): each doc gets
    // key = h / w where h is a 32-bit salted md5 hash and w its token
    // count — E[key] shrinks as w grows, so the bottom-k is a
    // weight-biased sample that is reproducible across runs, engines
    // and cluster sizes (seeded rand() is not: its draw depends on
    // row→partition placement). One narrow projection + a global
    // top-k (TakeOrderedAndProject — per-partition heaps, no full
    // sort); integer division only, so both engines agree bit-exactly.
    Q("txt_weighted_sample",
      (s, d) => withSamplePriority(Tables.documents(s, d))
        .orderBy(col("prio"), col("doc_id"))
        .limit(100),
      Some(s"""SELECT doc_id, weight, prio FROM (
          SELECT doc_id,
            greatest(CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                     AS BIGINT), 1) AS weight,
            ${hex8Sql("md5('wsample:' || CAST(doc_id AS VARCHAR))")}
              AS h
          FROM documents) x,
          LATERAL (SELECT h // weight AS prio) y
        ORDER BY prio, doc_id LIMIT 100""")),

    // ------------------------------------------------------------------
    // PMI collocations: adjacent word pairs ranked by scaled lift
    // n_ab·N/(n_a·n_b) (= exp(PMI) of the bigram distribution, with
    // margins n_a = bigrams starting with a, n_b = bigrams ending
    // with b). Integer-only: lift in parts-per-million via one
    // integer division — n_ab·N·10⁶ stays far under 2^63 here
    // (~10¹⁷ at sf0.1); a trillion-bigram corpus would switch the
    // product to DECIMAL(38,0). The bigram build is one narrow
    // explode (no self-join); margins are partial-agg'd shuffles on
    // w1/w2, and the n_ab>=5 support filter shrinks the frame before
    // the margin joins.
    Q("txt_pmi_collocations",
      (s, d) => {
        import s.implicits._
        // Strict bigrams from the persisted TextIndex — `bg` feeds
        // four aggregations below; each reads the narrow columnar
        // store instead of re-exploding the corpus (Catalyst does
        // not dedupe the repeated subtree).
        val bg = TextIndex.bigrams(s, d)
          .filter($"w2".isNotNull)
          .select($"w1", $"w2")
        val nab = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 5)
        val na = bg.groupBy($"w1").agg(count(lit(1)).as("n_a"))
        val nb = bg.groupBy($"w2").agg(count(lit(1)).as("n_b"))
        val nn = bg.agg(count(lit(1)).as("n"))
        nab.join(na, "w1").join(nb, "w2").crossJoin(broadcast(nn))
          .select($"w1", $"w2", $"n_ab", $"n_a", $"n_b",
            expr("(n_ab * n * 1000000) div (n_a * n_b)").as("lift_ppm"))
          .orderBy($"lift_ppm".desc, $"w1", $"w2")
          .limit(30)
      },
      // nab0 is MATERIALIZED and every margin derives from it by
      // exact integer identity (n_a = Σ_w2 n_ab etc.): under DuckDB
      // 1.0's inline-by-default CTEs the four consumers of `bg`
      // would each re-tokenize the whole corpus — observed 2400s+
      // at sf1; one materialized pair-count pass is 3 s.
      Some("""WITH base AS (
          SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents
          WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        nab0 AS MATERIALIZED (
          SELECT w1, w2, COUNT(*) AS n_ab FROM (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM base) x) bg
          GROUP BY 1, 2),
        nab AS (SELECT w1, w2, n_ab FROM nab0 WHERE n_ab >= 5),
        na AS MATERIALIZED (
          SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM nab0 GROUP BY 1),
        nb AS MATERIALIZED (
          SELECT w2, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM nab0 GROUP BY 1),
        nn AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM nab0)
        SELECT w1, w2, n_ab, n_a, n_b,
          (n_ab * n * 1000000) // (n_a * n_b) AS lift_ppm
        FROM nab JOIN na USING (w1) JOIN nb USING (w2), nn
        ORDER BY lift_ppm DESC, w1, w2 LIMIT 30""")),

    // ------------------------------------------------------------------
    // Readability ingredients + integer Flesch score (×1000): sentence
    // count (non-empty [.!?] segments), word count, syllable proxy
    // (vowel-group runs — split on [aeiouy]+ yields runs+1 segments).
    // The score is computed entirely with integer division so the
    // band edges cannot flutter by ulps between engines. Narrow
    // per-row projection — no shuffle at any scale.
    Q("txt_readability",
      (s, d) => {
        import s.implicits._
        val nSent = greatest(
          size(filter(split($"text", "[.!?]+"), x => trim(x) =!= lit(""))),
          lit(1)).cast("long")
        val nWords = greatest(size(tokens($"text")), lit(1)).cast("long")
        val nSyl = (size(split(lower($"text"), "[aeiouy]+")) - 1).cast("long")
        Tables.documents(s, d)
          .select($"doc_id", nSent.as("n_sent"), nWords.as("n_words"),
            nSyl.as("n_syl"))
          .withColumn("flesch_m",
            expr("206835 - (1015 * n_words) div n_sent" +
              " - (84600 * n_syl) div n_words"))
          .withColumn("band",
            when($"flesch_m" >= 70000, "easy")
              .when($"flesch_m" >= 50000, "medium").otherwise("hard"))
      },
      Some("""SELECT doc_id, n_sent, n_words, n_syl,
          206835 - (1015 * n_words) // n_sent
            - (84600 * n_syl) // n_words AS flesch_m,
          CASE WHEN 206835 - (1015 * n_words) // n_sent
                 - (84600 * n_syl) // n_words >= 70000 THEN 'easy'
               WHEN 206835 - (1015 * n_words) // n_sent
                 - (84600 * n_syl) // n_words >= 50000 THEN 'medium'
               ELSE 'hard' END AS band
        FROM (SELECT doc_id,
            greatest(CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
              x -> trim(x) != '')) AS BIGINT), 1) AS n_sent,
            greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
              AS BIGINT), 1) AS n_words,
            CAST(len(string_split_regex(lower(text), '[aeiouy]+')) - 1
              AS BIGINT) AS n_syl
          FROM documents) x"""))
  )

  val all3: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Data-mixture reweighting: per-source token shares plus the
    // sampling multiplier that would equalize the mix (target =
    // uniform across sources), capped at 3× — the "don't repeat a
    // tiny source more than ~3 epochs" rule every pretraining mix
    // applies. Integer ppm arithmetic throughout. One map-side-
    // combined rollup to |sources| rows; the totals ride a crossJoin
    // of the one-row aggregate (broadcast nested loop of 1×k rows).
    Q("txt_mixture_weights",
      (s, d) => {
        import s.implicits._
        val per = TextIndex.docstats(s, d)
          .select($"source", $"n_toks".cast("long").as("n_tok"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        val tot = per.agg(sum($"n_tokens").as("total"),
          count(lit(1)).as("n_sources"))
        per.crossJoin(broadcast(tot))
          .select($"source", $"n_docs", $"n_tokens",
            expr("(n_tokens * 1000000) div total").as("share_ppm"),
            least(expr("((total div n_sources) * 1000000) div n_tokens"),
              lit(3000000L)).as("mult_ppm"),
            when(expr("((total div n_sources) * 1000000) div n_tokens")
              > 3000000L, 1L).otherwise(0L).as("capped"))
      },
      Some("""WITH per AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                AS BIGINT)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
                  COUNT(*) AS n_sources
                FROM per)
        SELECT source, n_docs, n_tokens,
          CAST((n_tokens * 1000000) // total AS BIGINT) AS share_ppm,
          CAST(least(((total // n_sources) * 1000000) // n_tokens, 3000000)
            AS BIGINT) AS mult_ppm,
          CAST(CASE WHEN ((total // n_sources) * 1000000) // n_tokens
                 > 3000000
               THEN 1 ELSE 0 END AS BIGINT) AS capped
        FROM per, tot""")),

    // ------------------------------------------------------------------
    // Cross-source contamination: per source, how much of its
    // DISTINCT content (md5 of text) also appears in another source.
    // The (hash, source) frame is distinct'd first so the per-hash
    // window counts sources, not copies; one shuffle on hash, one
    // rollup per source. The per-source shared ratio is the
    // ingredient for dedup-across-dumps decisions (e.g. CC dumps vs
    // curated corpora sharing pages).
    Q("txt_source_overlap",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"h")
        TextIndex.docstats(s, d)
          .select($"source", $"content_hash".as("h")).distinct()
          .withColumn("ns", count(lit(1)).over(w))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_contents"),
            sum(when($"ns" >= 2, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("shared_ppm",
            expr("(n_shared * 1000000) div n_contents"))
      },
      Some("""WITH hs AS (
          SELECT DISTINCT source, md5(text) AS h FROM documents),
        counted AS (
          SELECT source, h, COUNT(*) OVER (PARTITION BY h) AS ns FROM hs)
        SELECT source, COUNT(*) AS n_contents,
          CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_shared,
          CAST(SUM(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS shared_ppm
        FROM counted GROUP BY source"""))
  ,
    // ------------------------------------------------------------------
    // Language diversity per source as Gini impurity in ppm:
    // gini = 1 − Σ p² = (N² − Σ n²)/N², computed with ONE integer
    // division at the end so both engines agree exactly (a per-term
    // division would floor each share differently). Entropy needs a
    // float log; Gini ranks mixes the same way and stays integer.
    // Two map-side-combined rollups: |source×lang| cells, then
    // |source| rows.
    Q("txt_source_diversity",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_langs"), sum($"n").as("n_docs"),
            sum($"n" * $"n").as("n_sq"))
          .select($"source", $"n_langs", $"n_docs",
            expr("((n_docs * n_docs - n_sq) * 1000000)" +
              " div (n_docs * n_docs)").as("gini_ppm"))
      },
      Some("""WITH per AS (
          SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2)
        SELECT source, COUNT(*) AS n_langs, CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(((SUM(n) * SUM(n) - SUM(n * n)) * 1000000)
            // (SUM(n) * SUM(n)) AS BIGINT) AS gini_ppm
        FROM per GROUP BY source"""))
  ,
    // ------------------------------------------------------------------
    // RAKE keyword extraction: phrases are maximal stopword-free
    // token runs (islands between stopword occurrences); a word's
    // degree is the summed length of every phrase containing it,
    // its score deg/freq — ranked per doc, top 3. Everything after
    // the position explode rides ONE doc_id shuffle: the island id
    // (running stopword count), the phrase length (island-partition
    // window) and the final per-doc rank reuse the same partitioning;
    // only the (doc, word) rollup re-keys. Scores are integer ppm so
    // rank boundaries cannot flutter.
    Q("txt_rake_keywords",
      (s, d) => {
        import s.implicits._
        val stopList = Seq("the", "a", "of", "and", "is", "to", "in")
        val W = org.apache.spark.sql.expressions.Window
        val wPos = W.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(W.unboundedPreceding, 0)
        val wIsl = W.partitionBy($"doc_id", $"island")
        val wDoc = W.partitionBy($"doc_id")
          .orderBy($"score_ppm".desc, $"word")
        TextIndex.tokens(s, d)
          .select($"doc_id", $"pos", $"tok")
          .withColumn("stop",
            when($"tok".isInCollection(stopList), 1L).otherwise(0L))
          .withColumn("island", sum($"stop").over(wPos))
          .filter($"stop" === 0)
          .withColumn("phrase_len", count(lit(1)).over(wIsl))
          .groupBy($"doc_id", $"tok")
          .agg(sum($"phrase_len").as("deg"), count(lit(1)).as("freq"))
          .select($"doc_id", $"tok".as("word"), $"deg", $"freq",
            expr("(deg * 1000000) div freq").as("score_ppm"))
          .withColumn("rk", row_number().over(wDoc).cast("long"))
          .filter($"rk" <= 3)
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents),
        pos AS (
          SELECT doc_id, i, toks[i] AS tok
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks))) AS i
                FROM base) x),
        isl AS (
          SELECT doc_id, i, tok, stop,
            SUM(stop) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM (SELECT doc_id, i, tok,
                  CASE WHEN tok IN ('the','a','of','and','is','to','in')
                       THEN 1 ELSE 0 END AS stop
                FROM pos) f),
        occ AS (
          SELECT doc_id, tok, island,
            COUNT(*) OVER (PARTITION BY doc_id, island) AS phrase_len
          FROM isl WHERE stop = 0),
        words AS (
          SELECT doc_id, tok AS word, SUM(phrase_len) AS deg,
            COUNT(*) AS freq
          FROM occ GROUP BY 1, 2),
        ranked AS (
          SELECT doc_id, word, CAST(deg AS BIGINT) AS deg, freq,
            CAST((deg * 1000000) // freq AS BIGINT) AS score_ppm,
            ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY (deg * 1000000) // freq DESC, word) AS rk
          FROM words)
        SELECT doc_id, word, deg, freq, score_ppm, rk
        FROM ranked WHERE rk <= 3"""))
  ,
    // ------------------------------------------------------------------
    // BPE merge-pair counting — the inner loop of tokenizer training:
    // adjacent CHARACTER pairs weighted by word frequency, top 20.
    // The corpus collapses to the vocabulary first (one token
    // shuffle), so the quadratic-ish char-pair explode runs over
    // |vocab| distinct words, not the corpus — the trick that makes
    // BPE training feasible at 100 TB (vocab grows ~Heaps-sublinearly
    // while the corpus grows linearly). Pure integer counts with a
    // total-order tiebreak.
    Q("txt_bpe_merge_count",
      (s, d) => {
        import s.implicits._
        val vocab = TextIndex.tokens(s, d)
          .select($"tok".as("w"))
          .groupBy($"w").agg(count(lit(1)).as("freq"))
          .filter(length($"w") >= 2)
        vocab
          .select($"w", $"freq",
            explode(sequence(lit(1), length($"w") - 1)).as("i"))
          .select(expr("substring(w, i, 1)").as("c1"),
            expr("substring(w, i + 1, 1)").as("c2"), $"freq")
          .groupBy($"c1", $"c2").agg(sum($"freq").as("n_pairs"))
          .orderBy($"n_pairs".desc, $"c1", $"c2")
          .limit(20)
      },
      Some("""WITH vocab AS (
          SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
            FROM documents) t
          GROUP BY w HAVING length(w) >= 2),
        pairs AS (
          SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, freq
          FROM (SELECT w, freq,
                  unnest(generate_series(1, length(w) - 1)) AS i
                FROM vocab) x)
        SELECT c1, c2, CAST(SUM(freq) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1, 2
        ORDER BY n_pairs DESC, c1, c2 LIMIT 20""")),

    // ------------------------------------------------------------------
    // Gopher-style repetition filter inputs: per document, the share
    // of positions covered by the single most frequent unigram and
    // bigram. ONE tokenize + explode feeds both via a unioned
    // (kind, key) frame (Catalyst does not dedupe repeated subtrees,
    // so two separate explodes would scan the corpus twice); max
    // count per (doc, kind) collapses with a conditional agg. All
    // counts are integers; the two ratios are single IEEE divisions
    // of exact integers. Docs need >= 2 tokens for a bigram — the
    // filter keeps the ratio denominators positive.
    Q("txt_repetition_ratio",
      (s, d) => {
        import s.implicits._
        // Both kinds read the persisted TextIndex streams; the
        // n_toks >= 2 guard (inline: size >= 2 before the explode)
        // keeps one-token docs out of BOTH sides, and w2 IS NOT NULL
        // is the strict-bigram restriction.
        val keyed = TextIndex.tokens(s, d)
          .filter($"n_toks" >= 2)
          .select($"doc_id", $"n_toks", lit("uni").as("kind"),
            $"tok".as("key"))
          .unionByName(TextIndex.bigrams(s, d)
            .filter($"w2".isNotNull)
            .select($"doc_id", $"n_toks", lit("bi").as("kind"),
              concat_ws(" ", $"w1", $"w2").as("key")))
        // One doc_id exchange serves both rollups (guide §2.4, the
        // txt_gopher_quality device): total shuffled bytes match the
        // old two-exchange plan (the first partial agg compressed
        // ~2× but its output re-shuffled once more), with one fewer
        // barrier and sort.
        keyed
          .repartition($"doc_id")
          .groupBy($"doc_id", $"n_toks", $"kind", $"key")
          .agg(count(lit(1)).as("c"))
          .groupBy($"doc_id", $"n_toks")
          .agg(max(when($"kind" === "uni", $"c")).as("max_uni"),
               max(when($"kind" === "bi", $"c")).as("max_bi"))
          .select($"doc_id", $"n_toks", $"max_uni", $"max_bi",
            ($"max_uni".cast("double") / $"n_toks").as("top_unigram_frac"),
            ($"max_bi".cast("double") / ($"n_toks" - 1)).as("top_bigram_frac"))
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents
          WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
        pos AS (
          SELECT doc_id, len(toks) AS n_toks, toks,
            unnest(generate_series(1, len(toks))) AS i
          FROM base),
        keyed AS (
          SELECT doc_id, n_toks, 'uni' AS kind, toks[i] AS key FROM pos
          UNION ALL
          SELECT doc_id, n_toks, 'bi' AS kind,
            toks[i] || ' ' || toks[i + 1] AS key
          FROM pos WHERE i < n_toks),
        counts AS (
          SELECT doc_id, n_toks, kind, key, COUNT(*) AS c
          FROM keyed GROUP BY doc_id, n_toks, kind, key)
        SELECT doc_id, n_toks,
          MAX(CASE WHEN kind = 'uni' THEN c END) AS max_uni,
          MAX(CASE WHEN kind = 'bi' THEN c END) AS max_bi,
          CAST(MAX(CASE WHEN kind = 'uni' THEN c END) AS DOUBLE) / n_toks
            AS top_unigram_frac,
          CAST(MAX(CASE WHEN kind = 'bi' THEN c END) AS DOUBLE) / (n_toks - 1)
            AS top_bigram_frac
        FROM counts GROUP BY doc_id, n_toks""")),

    // ------------------------------------------------------------------
    // N-gram novelty curve: per document, the fraction of its
    // distinct token 3-grams never seen in any EARLIER document
    // (doc_id order) — the freshness measure that tells a pipeline
    // when additional data stops contributing new content. Each
    // gram's first owner is a min-window over the gram key (one
    // shuffle on gram; a first-owner aggregate joined back would
    // re-derive the whole explode subtree — Catalyst does not dedupe
    // repeated subplans). Counts are exact integers; the novelty
    // ratio is one IEEE division. Docs with < 3 tokens are excluded
    // so both engines build identical gram sets.
    Q("txt_ngram_novelty",
      (s, d) => {
        import s.implicits._
        val grams = TextIndex.grams3(s, d)
        val wG = org.apache.spark.sql.expressions.Window
          .partitionBy($"gram")
        grams
          .withColumn("owner", min($"doc_id").over(wG))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_grams"),
               sum(when($"owner" === $"doc_id", 1L).otherwise(0L))
                 .as("n_novel"))
          .withColumn("novelty",
            $"n_novel".cast("double") / $"n_grams".cast("double"))
      },
      Some("""WITH grams AS (
          SELECT DISTINCT doc_id,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks) - 2)) AS i
                FROM (SELECT doc_id,
                        string_split_regex(trim(lower(text)), '\s+') AS toks
                      FROM documents) y
                WHERE len(toks) >= 3) x),
        owned AS (
          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY gram) AS owner
          FROM grams)
        SELECT doc_id, COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel,
          CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS novelty
        FROM owned GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // Vocabulary coverage curve: what fraction of all token
    // OCCURRENCES the top-k most frequent types cover, at k = 100 /
    // 1000 / 10000 — the curve that sizes a tokenizer vocabulary.
    // Deliberately NOT a global per-type ranking (sorting 10⁸ types
    // through one window at 100 TB): types with equal frequency are
    // interchangeable for coverage, so the corpus-sized work is just
    // token → freq → a FREQUENCY HISTOGRAM (freq, n_types), which is
    // tiny (≲ thousands of distinct frequencies under any Zipf-ish
    // law). The cumulative window runs over that histogram only; a
    // rank cut landing inside a class takes a pro-rata
    // (k − types_before)·freq slice. All integers; coverage_ppm is
    // exact integer division, identical cross-engine.
    Q("txt_vocab_coverage",
      (s, d) => {
        import s.implicits._
        val classes = TextIndex.tokens(s, d)
          .groupBy($"tok").agg(count(lit(1)).as("freq"))
          .groupBy($"freq").agg(count(lit(1)).as("n_types"))
        val wCum = org.apache.spark.sql.expressions.Window
          .orderBy($"freq".desc) // freq-class frame: tiny by construction

          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy() // tiny frame (WindowAuditSpec allowlist)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .unboundedFollowing)
        classes
          .withColumn("cum_types", sum($"n_types").over(wCum))
          .withColumn("total_occ", sum($"freq" * $"n_types").over(wAll))
          .withColumn("total_types", sum($"n_types").over(wAll))
          .crossJoin(broadcast(Seq(100L, 1000L, 10000L).toDF("k")))
          .withColumn("contrib",
            least($"n_types",
              greatest($"k" - ($"cum_types" - $"n_types"), lit(0L)))
              * $"freq")
          .groupBy($"k")
          .agg(min($"total_types").as("tt"), min($"total_occ").as("to_"),
               sum($"contrib").as("covered_occ"))
          .select($"k", least($"k", $"tt").as("covered_types"),
            $"covered_occ", $"to_".as("total_occ"),
            expr("(1000000L * covered_occ) div to_").as("coverage_ppm"))
      },
      Some("""WITH vocab AS (
          SELECT tok, COUNT(*) AS freq
          FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                  AS tok
                FROM documents) t
          GROUP BY tok),
        classes AS (SELECT freq, COUNT(*) AS n_types FROM vocab
                    GROUP BY freq),
        cum AS (
          SELECT freq, n_types,
            CAST(SUM(n_types) OVER (ORDER BY freq DESC) AS BIGINT)
              AS cum_types,
            CAST(SUM(freq * n_types) OVER () AS BIGINT) AS total_occ,
            CAST(SUM(n_types) OVER () AS BIGINT) AS total_types
          FROM classes),
        ks AS (SELECT CAST(unnest([100, 1000, 10000]) AS BIGINT) AS k),
        contrib AS (
          SELECT k, total_occ, total_types,
            least(n_types, greatest(k - (cum_types - n_types), 0)) * freq
              AS c
          FROM cum, ks)
        SELECT k, least(k, MIN(total_types)) AS covered_types,
          CAST(SUM(c) AS BIGINT) AS covered_occ,
          MIN(total_occ) AS total_occ,
          (1000000 * CAST(SUM(c) AS BIGINT)) // MIN(total_occ)
            AS coverage_ppm
        FROM contrib GROUP BY k""")),

    // ------------------------------------------------------------------
    // DSIR-style domain-importance proxy (Xie et al. 2023 shape): how
    // much each document resembles a target domain (source 'src0'),
    // scored by its hashed bigram features. Per md5 bucket (4096 —
    // hashing trick, so the model is a bounded table, never a
    // vocabulary), the target share t_ppm = target-occurrences·10⁶
    // div corpus-occurrences; a document's affinity is the exact
    // integer mean of its bigram instances' t_ppm. The bucket model
    // aggregates once from the exploded grams (map-side combinable)
    // and BROADCASTS back — the corpus rescans its own grams narrow,
    // the importance-resampling weight pass a pretraining mixture
    // runs at 100 TB. Everything is integer division: both engines
    // floor identically, no log/IEEE anywhere.
    Q("txt_domain_affinity",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(md5(concat_ws(" ", $"w1", $"w2")),
          1, 3), 16, 10).cast("int")
        // Strict bigrams from the persisted TextIndex — referenced
        // twice below (model + join-back: Catalyst does not dedupe
        // the repeated subtree), so the store is read twice as a
        // narrow columnar scan instead of re-exploding the corpus
        // twice.
        val grams = TextIndex.bigrams(s, d)
          .filter($"w2".isNotNull)
          .select($"doc_id", $"source", bucket.as("bucket"))
        val model = grams.groupBy($"bucket")
          .agg(count(lit(1)).as("cc"),
            count(when($"source" === "src0", 1)).as("ct"))
          .withColumn("t_ppm", expr("ct * 1000000 div cc"))
          .select($"bucket", $"t_ppm")
        grams.join(broadcast(model), "bucket")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum($"t_ppm").as("sum_ppm"))
          .withColumn("affinity_ppm", expr("sum_ppm div n_grams"))
          .select($"doc_id", $"n_grams", $"sum_ppm", $"affinity_ppm")
      },
      Some(s"""WITH base AS (
          SELECT doc_id, source,
            string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents
          WHERE len(string_split_regex(trim(lower(text)), '\\s+')) >= 2),
        grams AS (
          SELECT doc_id, source,
            ${hex3Sql("md5(toks[i] || ' ' || toks[i + 1])")} AS bucket
          FROM (SELECT doc_id, source, toks,
                  unnest(generate_series(1, len(toks) - 1)) AS i
                FROM base) x),
        model AS (
          SELECT bucket,
            COUNT(CASE WHEN source = 'src0' THEN 1 END) * 1000000
              // COUNT(*) AS t_ppm
          FROM grams GROUP BY bucket)
        SELECT g.doc_id, COUNT(*) AS n_grams,
          CAST(SUM(m.t_ppm) AS BIGINT) AS sum_ppm,
          CAST(SUM(m.t_ppm) AS BIGINT) // COUNT(*) AS affinity_ppm
        FROM grams g JOIN model m ON m.bucket = g.bucket
        GROUP BY g.doc_id""")),

    // ------------------------------------------------------------------
    // Inverted-index build: per (lang, term), document frequency and
    // the head block of the sorted posting list — the search-engine
    // artifact (and the materialization behind txt_term_stats'
    // df counts). One explode of per-doc DISTINCT terms, one term
    // shuffle; postings are array_sort'ed AFTER collection so the
    // list is partition-order-independent (the ev_user_journey rule),
    // and truncated to the first 10 doc ids — the skip-list head a
    // real index stores inline, keeping output rows bounded however
    // long the full posting list grows.
    Q("txt_inverted_postings",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", $"lang",
            explode(array_distinct(tokens($"text"))).as("term"))
          .groupBy($"lang", $"term")
          // The head is exported as a comma-joined STRING, not an
          // array: the driver's pandas-based hash cannot sort/hash
          // list columns (unhashable ndarray — the one `err` row of
          // round 3). The list itself stays available to library
          // callers via the pre-join aggregation.
          .agg(count(lit(1)).as("df"),
            array_join(transform(
              slice(array_sort(collect_list($"doc_id")), 1, 10),
              _.cast("string")), ",").as("postings_head"))
      },
      Some("""SELECT lang, term, COUNT(*) AS df,
          array_to_string(list_sort(list(doc_id))[1:10], ',')
            AS postings_head
        FROM (
          SELECT DISTINCT doc_id, lang,
            unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
          FROM documents) t
        GROUP BY lang, term""")),

    // ------------------------------------------------------------------
    // Pairwise source drift: total-variation distance between every
    // two sources' hashed-term distributions (the 32 md5 buckets of
    // txt_hashed_features), in ppm. TVD = ½·Σ|p_i − q_i| is the
    // distribution-shift diagnostic that needs no logarithm — a KL
    // divergence would hang the oracle compare on log() ulps, while
    // TVD over ppm-quantized shares is exact integers end-to-end:
    // each share is floored ONCE (n_i·10⁶ div N, engine-identical),
    // so every later step is integer arithmetic. Scale shape: the
    // corpus collapses to a |sources|×32 rollup before anything
    // pairwise happens; the pair join runs on that rollup (never the
    // corpus), and quantizing per-source first keeps every number
    // ≤ 10⁶ — no N·M product that could overflow at 100 TB.
    Q("txt_source_tvd",
      (s, d) => {
        import s.implicits._
        val bucket = conv(substring(md5($"tok"), 1, 4), 16, 10)
          .cast("int") % 32
        val counts = TextIndex.tokens(s, d)
          .select($"source", bucket.cast("long").as("bucket"))
          .groupBy($"source", $"bucket")
          .agg(count(lit(1)).as("n"))
        val totals = counts.groupBy($"source").agg(sum($"n").as("total"))
        // zero-fill: every source × all 32 buckets (absent = share 0)
        val grid = totals.select($"source", $"total",
          explode(sequence(lit(0L), lit(31L))).as("bucket"))
        val shares = grid.join(counts, Seq("source", "bucket"), "left")
          .select($"source", $"bucket",
            expr("coalesce(n, 0L) * 1000000 div total").as("p"))
        val a = shares.select($"source".as("source_a"), $"bucket",
          $"p".as("pa"))
        val b = shares.select($"source".as("source_b"), $"bucket",
          $"p".as("pb"))
        a.join(b, Seq("bucket"))
          .filter($"source_a" < $"source_b")
          .groupBy($"source_a", $"source_b")
          .agg(expr("sum(abs(pa - pb)) div 2").as("tvd_ppm"))
      },
      Some("""WITH tok AS (
          SELECT source, substr(md5(tok), 1, 4) AS h FROM (
            SELECT source,
              unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents) y),
        counts AS (
          SELECT source,
            CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
              + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
              + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 32
              AS BIGINT) AS bucket,
            COUNT(*) AS n
          FROM tok GROUP BY source, bucket),
        totals AS (
          SELECT source, CAST(SUM(n) AS BIGINT) AS total
          FROM counts GROUP BY source),
        grid AS (
          SELECT t.source, t.total, g.bucket
          FROM totals t CROSS JOIN (
            SELECT CAST(unnest(generate_series(0, 31)) AS BIGINT)
              AS bucket) g),
        shares AS (
          SELECT g.source, g.bucket,
            COALESCE(c.n, 0) * 1000000 // g.total AS p
          FROM grid g LEFT JOIN counts c
            ON c.source = g.source AND c.bucket = g.bucket)
        SELECT a.source AS source_a, b.source AS source_b,
          CAST(SUM(abs(a.p - b.p)) // 2 AS BIGINT) AS tvd_ppm
        FROM shares a JOIN shares b
          ON a.bucket = b.bucket AND a.source < b.source
        GROUP BY source_a, source_b""")),

    // ------------------------------------------------------------------
    // Cleaning-funnel attrition report — the C4/Gopher-style rule
    // chain as ONE query: per-doc flags for every rule in the fixed
    // pipeline order (min words → mean word length → symbol ratio →
    // stopword evidence → exact-dup survivor), then per-stage
    // docs_in/docs_out/dropped from the running conjunction. This is
    // the report every corpus-cleaning run publishes — which rule
    // costs how much — and the shape matters: ONE corpus scan
    // computes all flags (the naive form re-filters the corpus once
    // per rule = 5 scans), the only exchange is the content-hash
    // shuffle the dedup flag needs, and the funnel itself aggregates
    // to |rules| rows. Rule predicates compare single IEEE divisions
    // of exact integers (deterministic cross-engine — no sums enter
    // them); the funnel counts are exact integers.
    Q("txt_filter_funnel",
      (s, d) => {
        import s.implicits._
        val wHash = Window.partitionBy($"content_hash")
        // Every rule input projects from the persisted TextIndex
        // profile (same exact integer counts, same IEEE divisions);
        // the content-hash shuffle for the dedup flag is unchanged.
        val flagged = TextIndex.docstats(s, d)
          .withColumn("n_words", $"n_toks")
          .withColumn("mean_wl",
            $"len_nonspace".cast("double") / $"n_words".cast("double"))
          .withColumn("sym_ratio",
            $"n_sym".cast("double") / $"len_chars".cast("double"))
          .withColumn("stop_hits",
            $"s_en" + $"s_es" + $"s_de" + $"s_fr")
          .withColumn("f1", $"n_words" >= 30)
          .withColumn("f2", $"mean_wl" >= 3.0 && $"mean_wl" <= 10.0)
          .withColumn("f3", $"sym_ratio" < 0.1)
          .withColumn("f4", $"stop_hits" >= 2)
          .withColumn("f5", $"doc_id" === min($"doc_id").over(wHash))
        val agg = flagged.agg(
          count(lit(1)).as("c0"),
          count(when($"f1", 1)).as("c1"),
          count(when($"f1" && $"f2", 1)).as("c2"),
          count(when($"f1" && $"f2" && $"f3", 1)).as("c3"),
          count(when($"f1" && $"f2" && $"f3" && $"f4", 1)).as("c4"),
          count(when($"f1" && $"f2" && $"f3" && $"f4" && $"f5", 1)).as("c5"))
        agg.selectExpr(
          """stack(5,
               CAST(1 AS BIGINT), 'min_words',     c0, c1,
               CAST(2 AS BIGINT), 'mean_word_len', c1, c2,
               CAST(3 AS BIGINT), 'symbol_ratio',  c2, c3,
               CAST(4 AS BIGINT), 'stopword_hits', c3, c4,
               CAST(5 AS BIGINT), 'exact_dedup',   c4, c5)
             AS (stage, rule, docs_in, docs_out)""")
          .withColumn("dropped", $"docs_in" - $"docs_out")
      },
      Some(s"""WITH flagged AS (
          SELECT doc_id,
            len(string_split_regex(trim(lower(text)), '\\s+')) >= 30 AS f1,
            CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
              / CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                     AS DOUBLE) BETWEEN 3.0 AND 10.0 AS f2,
            CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1 AS f3,
            ${stopCountSql(stopwords("en"))} +
            ${stopCountSql(stopwords("es"))} +
            ${stopCountSql(stopwords("de"))} +
            ${stopCountSql(stopwords("fr"))} >= 2 AS f4,
            doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS f5
          FROM documents),
        agg AS (
          SELECT COUNT(*) AS c0,
            COUNT(CASE WHEN f1 THEN 1 END) AS c1,
            COUNT(CASE WHEN f1 AND f2 THEN 1 END) AS c2,
            COUNT(CASE WHEN f1 AND f2 AND f3 THEN 1 END) AS c3,
            COUNT(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 END) AS c4,
            COUNT(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 END) AS c5
          FROM flagged)
        SELECT stage, rule, docs_in, docs_out, docs_in - docs_out AS dropped
        FROM (
          SELECT CAST(1 AS BIGINT) AS stage, 'min_words' AS rule,
            c0 AS docs_in, c1 AS docs_out FROM agg
          UNION ALL SELECT 2, 'mean_word_len', c1, c2 FROM agg
          UNION ALL SELECT 3, 'symbol_ratio', c2, c3 FROM agg
          UNION ALL SELECT 4, 'stopword_hits', c3, c4 FROM agg
          UNION ALL SELECT 5, 'exact_dedup', c4, c5 FROM agg) f""")),

    // ------------------------------------------------------------------
    // Zipf-law audit over the corpus term distribution: for the
    // top-20 terms, rank × frequency normalized by total tokens
    // (ppm) — under Zipf the product is roughly constant, and a
    // corpus whose curve is far off (product exploding or
    // collapsing) signals boilerplate/templating or synthetic text
    // before any model sees it. One token explode + one term
    // shuffle; the top-20 is a heap TakeOrderedAndProject (never a
    // global sort), the rank window runs on the collapsed 20-row
    // frame, and every output is an exact integer (rank·freq·10⁶
    // div total — single trailing division, no float log-log fit
    // whose ulps would flutter cross-engine).
    Q("txt_zipf_check",
      (s, d) => {
        import s.implicits._
        val cnt = TextIndex.tokens(s, d)
          .select($"tok".as("term"))
          .filter(length($"term") > 0)
          .groupBy($"term").agg(count(lit(1)).as("freq"))
        val total = cnt.agg(sum($"freq").as("total_tokens"))
        val top = cnt.orderBy($"freq".desc, $"term").limit(20)
        // Single-partition window over the 20-row top is deliberate
        // (WindowAuditSpec allowlist — a lit(0) partition key would
        // be stripped by Catalyst's EliminateWindowPartitions).
        top
          .withColumn("rank", row_number().over(
            Window.orderBy($"freq".desc, $"term")).cast("long"))
          .crossJoin(broadcast(total))
          .select($"rank", $"term", $"freq",
            expr("rank * freq * 1000000 div total_tokens")
              .as("zipf_c_ppm"))
      },
      Some("""WITH toks AS (
          SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
            AS term
          FROM documents),
        cnt AS (
          SELECT term, COUNT(*) AS freq FROM toks
          WHERE length(term) > 0 GROUP BY term),
        tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens FROM cnt),
        top AS (
          SELECT term, freq,
            ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
          FROM cnt ORDER BY freq DESC, term LIMIT 20)
        SELECT rank, term, freq,
          rank * freq * 1000000 // (SELECT total_tokens FROM tot)
            AS zipf_c_ppm
        FROM top""")),

    // ------------------------------------------------------------------
    // Tokenizer fertility by language: subword pieces per whitespace
    // word (ppm) — the tokenizer-equity metric a multilingual
    // pretraining run reports (a language with 2× fertility pays 2×
    // the sequence length for the same content, skewing both cost
    // and batch packing). Uses the engine's BPE-ish regex
    // segmentation against whitespace words; one narrow map + one
    // |langs|-row rollup, the ratio divides two exact integer sums
    // once. Per-doc extremes ride the same rollup as exact MIN/MAX.
    Q("txt_fertility_by_lang",
      (s, d) => {
        import s.implicits._
        TextIndex.docstats(s, d)
          .select($"lang",
            $"n_toks".cast("long").as("n_words"),
            $"n_subwords".cast("long").as("n_subwords"))
          .withColumn("doc_fert_ppm",
            expr("n_subwords * 1000000 div n_words"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_words").as("n_words"),
            sum($"n_subwords").as("n_subwords"),
            min($"doc_fert_ppm").as("min_doc_fert_ppm"),
            max($"doc_fert_ppm").as("max_doc_fert_ppm"))
          .withColumn("fertility_ppm",
            expr("n_subwords * 1000000 div n_words"))
      },
      Some("""WITH per_doc AS (
          SELECT lang,
            CAST(len(string_split_regex(trim(lower(text)), '\s+'))
              AS BIGINT) AS n_words,
            CAST(len(list_filter(string_split_regex(lower(text),
              '[^a-z0-9]+'), x -> length(x) > 0)) AS BIGINT) AS n_subwords
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_words) AS BIGINT) AS n_words,
          CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
          MIN(n_subwords * 1000000 // n_words) AS min_doc_fert_ppm,
          MAX(n_subwords * 1000000 // n_words) AS max_doc_fert_ppm,
          CAST(SUM(n_subwords) * 1000000 // SUM(n_words) AS BIGINT)
            AS fertility_ppm
        FROM per_doc GROUP BY lang""")),

    // ------------------------------------------------------------------
    // Code-vs-prose detection — the router an LLM data pipeline runs
    // before language-specific processing (code goes to a code
    // tokenizer/dedup config, prose to the text path): per-doc ppm
    // densities of code-indicative characters (braces/brackets,
    // statement punctuation `;=`, operators) plus camelCase and
    // snake_case identifier counts, folded into an integer score and
    // a verdict. All counts are regexp_replace length differences —
    // exact integers, one narrow no-exchange map (plan-pinned); the
    // weights are the pipeline parameter, the ingredients are the
    // artifact.
    Q("txt_code_detect",
      (s, d) => {
        import s.implicits._
        def diff(re: String) =
          (length($"text") - length(regexp_replace($"text", re, "")))
            .cast("long")
        Tables.documents(s, d)
          .select($"doc_id", length($"text").cast("long").as("len"),
            diff("[{}\\[\\]()]").as("d_brace"),
            diff("[;=]").as("d_stmt"),
            diff("[+\\-*/<>|&]").as("d_op"),
            size(expr(
              "regexp_extract_all(text, '\\\\b[a-z]+[A-Z][a-zA-Z]*\\\\b', 0)"))
              .cast("long").as("n_camel"),
            size(expr(
              "regexp_extract_all(text, '\\\\b[a-z]+_[a-z_]+\\\\b', 0)"))
              .cast("long").as("n_snake"))
          .select($"doc_id",
            expr("d_brace * 1000000 div len").as("brace_ppm"),
            expr("d_stmt * 1000000 div len").as("stmt_ppm"),
            expr("d_op * 1000000 div len").as("op_ppm"),
            $"n_camel", $"n_snake",
            expr("(d_brace * 1000000 div len * 3 +" +
              " d_stmt * 1000000 div len * 2 +" +
              " d_op * 1000000 div len +" +
              " (n_camel + n_snake) * 1000) div 6").as("code_score_ppm"))
          .withColumn("is_code", $"code_score_ppm" > 20000)
      },
      Some("""SELECT doc_id,
          (length(text) - length(regexp_replace(text, '[{}\[\]()]', '', 'g')))
            * 1000000 // length(text) AS brace_ppm,
          (length(text) - length(regexp_replace(text, '[;=]', '', 'g')))
            * 1000000 // length(text) AS stmt_ppm,
          (length(text) - length(regexp_replace(text, '[+\-*/<>|&]', '', 'g')))
            * 1000000 // length(text) AS op_ppm,
          len(regexp_extract_all(text, '\b[a-z]+[A-Z][a-zA-Z]*\b', 0))
            AS n_camel,
          len(regexp_extract_all(text, '\b[a-z]+_[a-z_]+\b', 0)) AS n_snake,
          ((length(text) - length(regexp_replace(text, '[{}\[\]()]', '', 'g')))
             * 1000000 // length(text) * 3 +
           (length(text) - length(regexp_replace(text, '[;=]', '', 'g')))
             * 1000000 // length(text) * 2 +
           (length(text) - length(regexp_replace(text, '[+\-*/<>|&]', '', 'g')))
             * 1000000 // length(text) +
           (len(regexp_extract_all(text, '\b[a-z]+[A-Z][a-zA-Z]*\b', 0)) +
            len(regexp_extract_all(text, '\b[a-z]+_[a-z_]+\b', 0))) * 1000)
            // 6 AS code_score_ppm,
          ((length(text) - length(regexp_replace(text, '[{}\[\]()]', '', 'g')))
             * 1000000 // length(text) * 3 +
           (length(text) - length(regexp_replace(text, '[;=]', '', 'g')))
             * 1000000 // length(text) * 2 +
           (length(text) - length(regexp_replace(text, '[+\-*/<>|&]', '', 'g')))
             * 1000000 // length(text) +
           (len(regexp_extract_all(text, '\b[a-z]+[A-Z][a-zA-Z]*\b', 0)) +
            len(regexp_extract_all(text, '\b[a-z]+_[a-z_]+\b', 0))) * 1000)
            // 6 > 20000 AS is_code
        FROM documents""")),

    // ------------------------------------------------------------------
    // Sequence-length distribution per source — the padding/
    // truncation planning input: token-length buckets (powers of
    // two, via the engine-identical length(bin(n))−1 digit trick —
    // floor(log2) flutters at boundaries), with per-bucket doc and
    // token totals and the share of tokens a 512-token cap would
    // truncate. Together with txt_pack_batches this decides
    // max_seq_len and packing strategy; at 100 TB it is one scan
    // and a |sources|×|buckets| rollup.
    Q("txt_length_histogram",
      (s, d) => {
        import s.implicits._
        TextIndex.docstats(s, d)
          .select($"source", $"n_toks".cast("long").as("n_toks"))
          .withColumn("bucket",
            (length(bin(greatest($"n_toks", lit(1L)))) - 1).cast("long"))
          .groupBy($"source", $"bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_toks").as("n_tokens"),
            sum(greatest($"n_toks" - 512, lit(0L))).as("tokens_over_512"))
          .withColumn("truncated_ppm",
            expr("tokens_over_512 * 1000000 div n_tokens"))
      },
      Some("""WITH per_doc AS (
          SELECT source,
            CAST(len(string_split_regex(trim(lower(text)), '\s+'))
              AS BIGINT) AS n_toks
          FROM documents)
        SELECT source,
          CAST(length(bin(greatest(n_toks, 1))) - 1 AS BIGINT) AS bucket,
          COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
          CAST(SUM(greatest(n_toks - 512, 0)) AS BIGINT)
            AS tokens_over_512,
          CAST(SUM(greatest(n_toks - 512, 0)) * 1000000 // SUM(n_toks)
            AS BIGINT) AS truncated_ppm
        FROM per_doc GROUP BY 1, 2""")),

    // ------------------------------------------------------------------
    // Quality × duplication contingency — the cross-signal analysis
    // behind a cleaning-policy decision: is duplicated content also
    // low-quality (drop both via one filter) or is it high-quality
    // boilerplate (dedup must NOT ride the quality gate)? A 2×2
    // table of the Gopher-style quality verdict against exact-dup
    // survivorship, with each cell's observed count and its
    // integer-ppm lift over independence (o·n·10⁶ div (r·c)):
    // lift > 10⁶ in the (low-quality, duplicated) cell is the
    // empirical license to fold the two filters. One corpus scan
    // computes both flags (quality is a narrow map; survivorship
    // rides the content-hash window), margins roll up from the
    // 4-cell table.
    Q("txt_quality_dedup_matrix",
      (s, d) => {
        import s.implicits._
        val wHash = Window.partitionBy($"content_hash")
        // Flags project from the persisted TextIndex profile (same
        // integer counts, same single IEEE divisions).
        val nWords = $"n_toks"
        val meanWl = $"len_nonspace".cast("double") / nWords.cast("double")
        val symRatio = $"n_sym".cast("double") / $"len_chars".cast("double")
        val cells = TextIndex.docstats(s, d)
          .select($"doc_id", $"content_hash",
            (nWords >= 30 && meanWl >= 3.0 && meanWl <= 10.0 &&
              symRatio < 0.1).as("quality_ok"))
          .withColumn("is_dup",
            $"doc_id" =!= min($"doc_id").over(wHash))
          .groupBy($"quality_ok", $"is_dup")
          .agg(count(lit(1)).as("o"))
        val rowM = cells.groupBy($"quality_ok").agg(sum($"o").as("r"))
        val colM = cells.groupBy($"is_dup").agg(sum($"o").as("c"))
        val tot = cells.agg(sum($"o").as("n"))
        cells
          .join(broadcast(rowM), "quality_ok")
          .join(broadcast(colM), "is_dup")
          .crossJoin(broadcast(tot))
          .select($"quality_ok", $"is_dup", $"o".as("n_docs"),
            expr("o * n * 1000000 div (r * c)").as("lift_ppm"))
      },
      Some("""WITH flagged AS (
          SELECT doc_id,
            len(string_split_regex(trim(lower(text)), '\s+')) >= 30
              AND CAST(length(regexp_replace(text, '\s', '', 'g'))
                  AS DOUBLE) /
                CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                  AS DOUBLE) BETWEEN 3.0 AND 10.0
              AND CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '',
                  'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.1
              AS quality_ok,
            doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
          FROM documents),
        cells AS (
          SELECT quality_ok, is_dup, COUNT(*) AS o
          FROM flagged GROUP BY 1, 2),
        rm AS (SELECT quality_ok, CAST(SUM(o) AS BIGINT) AS r
               FROM cells GROUP BY 1),
        cm AS (SELECT is_dup, CAST(SUM(o) AS BIGINT) AS c
               FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
        SELECT cells.quality_ok, cells.is_dup, o AS n_docs,
          o * n * 1000000 // (r * c) AS lift_ppm
        FROM cells
        JOIN rm ON rm.quality_ok = cells.quality_ok
        JOIN cm ON cm.is_dup = cells.is_dup
        CROSS JOIN tot""")),

    // ------------------------------------------------------------------
    // Packing-efficiency eval for the txt_pack_batches greedy
    // running-sum packer, across two capacity configs in ONE pass:
    // docs are tagged with each capacity by a 2-way explode BEFORE
    // the window, so both configs ride one (lang, cap) shuffle. Per
    // (lang, cap): bins used, the bin-count lower bound
    // ceil(total/cap) (no packer beats it), fill ratio in ppm of the
    // capacity actually allocated, and the tokens overflowing past
    // cap in bins the boundary-crossing assignment overfills. All
    // exact integers — waste is measured, never estimated. The same
    // floor((cumsum − n)/cap) assignment as txt_pack_batches so the
    // eval scores the packer that actually ships.
    Q("txt_pack_efficiency",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang", $"cap").orderBy($"doc_id")
        val bins = TextIndex.docstats(s, d)
          .select($"doc_id", $"lang",
            $"n_toks".cast("long").as("n_tok"),
            explode(array(lit(512L), lit(2000L))).as("cap"))
          // integer div, not floor(double): exact at ANY cumulative
          // magnitude (IEEE floor drifts past 2^53), and the cumsum
          // is non-negative so div == floor.
          .withColumn("cum_excl", sum($"n_tok").over(w) - $"n_tok")
          .withColumn("batch_id", expr("cum_excl div cap"))
          .drop("cum_excl")
          .groupBy($"lang", $"cap", $"batch_id")
          .agg(sum($"n_tok").as("bin_tok"))
        bins.groupBy($"lang", $"cap")
          .agg(count(lit(1)).as("n_bins"),
            sum($"bin_tok").as("total_tok"),
            sum(greatest($"bin_tok" - $"cap", lit(0L))).as("overflow_tok"))
          .select($"lang", $"cap", $"n_bins", $"total_tok",
            expr("(total_tok + cap - 1) div cap").as("lb_bins"),
            expr("total_tok * 1000000 div (n_bins * cap)").as("fill_ppm"),
            $"overflow_tok")
      },
      Some("""WITH docs AS (
          SELECT doc_id, lang, cap,
            CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                 AS BIGINT) AS n_tok
          FROM documents
          CROSS JOIN (SELECT unnest([512, 2000]) AS cap)),
        packed AS (
          SELECT lang, cap, n_tok,
            (SUM(n_tok) OVER (PARTITION BY lang, cap ORDER BY doc_id)
              - n_tok) // cap AS batch_id
          FROM docs),
        bins AS (
          SELECT lang, cap, batch_id,
            CAST(SUM(n_tok) AS BIGINT) AS bin_tok
          FROM packed GROUP BY 1, 2, 3)
        SELECT lang, CAST(cap AS BIGINT) AS cap,
          CAST(COUNT(*) AS BIGINT) AS n_bins,
          CAST(SUM(bin_tok) AS BIGINT) AS total_tok,
          (CAST(SUM(bin_tok) AS BIGINT) + cap - 1) // cap AS lb_bins,
          CAST(SUM(bin_tok) AS BIGINT) * 1000000 // (COUNT(*) * cap)
            AS fill_ppm,
          CAST(SUM(GREATEST(bin_tok - cap, 0)) AS BIGINT) AS overflow_tok
        FROM bins GROUP BY lang, cap""")),

    // ------------------------------------------------------------------
    // Water-filling token-budget allocation — the mixture
    // CONSTRUCTION step after txt_mixture_weights proposes targets:
    // a global budget B = half the corpus tokens is allocated across
    // sources toward an equal share, but no source can contribute
    // more than it has. Classic water-fill, computed exactly in
    // integers: sources sorted ascending by availability; a source
    // is exhausted when its supply sits at or below the equal-split
    // level of the budget remaining at its rank
    // ((B − prefix) div remaining_sources); everyone else receives
    // the common level t = (B − Σ exhausted) div (n − J), capped by
    // availability. One corpus rollup scan, then pure window
    // arithmetic over the ≤20-row source table — the allocator is
    // metadata-scale at any corpus size, and the integer-div
    // leftover is provably < n tokens (the spec pins feasibility,
    // caps, and the common-level property).
    Q("txt_waterfill_budget",
      (s, d) => {
        import s.implicits._
        val per = TextIndex.docstats(s, d)
          .select($"source", $"n_toks".cast("long").as("n_tok"))
          .groupBy($"source")
          .agg(sum($"n_tok").as("avail"))
        // per-source frame (|sources| rows): single-partition windows
        // are deliberate (WindowAuditSpec allowlist).
        val wOrd = org.apache.spark.sql.expressions.Window
          .orderBy($"avail", $"source")
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        val marked = per
          .withColumn("b", expr("sum(avail) over () div 2"))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("k", row_number().over(wOrd))
          .withColumn("prefix", sum($"avail").over(wOrd) - $"avail")
          .withColumn("exhausted",
            when($"avail" <= expr("(b - prefix) div (n - k + 1)"), 1L)
              .otherwise(0L))
        marked
          .withColumn("p_exh",
            sum(when($"exhausted" === 1L, $"avail").otherwise(0L))
              .over(wAll))
          .withColumn("n_exh", sum($"exhausted").over(wAll))
          .withColumn("level",
            expr("(b - p_exh) div (n - n_exh)"))
          .select($"source", $"avail",
            when($"exhausted" === 1L, $"avail")
              .otherwise(least($"avail", $"level")).as("alloc"),
            $"exhausted",
            when($"exhausted" === 1L, lit(1000000L))
              .otherwise(expr(
                "least(avail, level) * 1000000 div avail"))
              .as("fill_ppm"))
      },
      Some("""WITH per AS (
          SELECT source,
            CAST(SUM(CAST(len(string_split_regex(trim(lower(text)),
              '\s+')) AS BIGINT)) AS BIGINT) AS avail
          FROM documents GROUP BY source),
        marked AS (
          SELECT source, avail,
            CAST(SUM(avail) OVER () AS BIGINT) // 2 AS b,
            CAST(COUNT(*) OVER () AS BIGINT) AS n,
            CAST(ROW_NUMBER() OVER (ORDER BY avail, source) AS BIGINT)
              AS k,
            CAST(SUM(avail) OVER (ORDER BY avail, source) AS BIGINT)
              - avail AS prefix
          FROM per),
        flagged AS (
          SELECT *, CASE WHEN avail <=
              (b - prefix) // (n - k + 1) THEN 1 ELSE 0 END
              AS exhausted
          FROM marked),
        leveled AS (
          SELECT *,
            CAST(SUM(CASE WHEN exhausted = 1 THEN avail ELSE 0 END)
              OVER () AS BIGINT) AS p_exh,
            CAST(SUM(exhausted) OVER () AS BIGINT) AS n_exh
          FROM flagged)
        SELECT source, avail,
          CASE WHEN exhausted = 1 THEN avail
            ELSE least(avail, (b - p_exh) // (n - n_exh)) END AS alloc,
          CAST(exhausted AS BIGINT) AS exhausted,
          CASE WHEN exhausted = 1 THEN CAST(1000000 AS BIGINT)
            ELSE least(avail, (b - p_exh) // (n - n_exh))
              * 1000000 // avail END AS fill_ppm
        FROM leveled""")),

    // ------------------------------------------------------------------
    // Curriculum shard ordering — the trainer-side shuffle that
    // orders training data easy→hard WITHOUT creating source runs:
    // each doc is ranked within its source by difficulty (token
    // count as the proxy; any integer difficulty plugs in), then
    // shards are cut by [[graft.core.Ranking.exactNtile]] over the
    // (rank, source, doc_id) total order — so shard 1 holds every
    // source's easiest docs with sources interleaved inside it, the
    // exact layout curriculum training wants (difficulty ramps
    // across shards, no source monoculture within one). Both stages
    // are distributed: per-source ranking is a partitioned window,
    // the global cut is the range-partitioned ntile — no
    // single-partition window anywhere.
    Q("txt_curriculum_order",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"n_tok", $"doc_id")
        val ranked = TextIndex.docstats(s, d)
          .select($"doc_id", $"source",
            $"n_toks".cast("long").as("n_tok"))
          .withColumn("rank_in_source",
            row_number().over(w).cast("long"))
        graft.core.Ranking.exactNtile(ranked, 16,
            Seq($"rank_in_source", $"source", $"doc_id"), "shard")
          .select($"doc_id", $"source", $"n_tok",
            $"rank_in_source", $"shard")
      },
      Some("""WITH ranked AS (
          SELECT doc_id, source,
            CAST(len(string_split_regex(trim(lower(text)), '\s+'))
              AS BIGINT) AS n_tok,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY len(string_split_regex(trim(lower(text)),
                '\s+')), doc_id) AS BIGINT) AS rank_in_source
          FROM documents)
        SELECT doc_id, source, n_tok, rank_in_source,
          CAST(NTILE(16) OVER (ORDER BY rank_in_source, source,
            doc_id) AS BIGINT) AS shard
        FROM ranked""")),

    // ------------------------------------------------------------------
    // Template detection — boilerplate/spam farms emit thousands of
    // docs from one template, and a content-hash dedup misses them
    // because the fill-ins differ. The detector groups docs by
    // their OPENER (first two normalized tokens — the slot where
    // template text lives; both k and the ≥3 repetition threshold
    // are knobs) and reports every opener shared by ≥3 docs:
    // population, distinct sources (a template
    // spanning many sources is a syndication/spam signal, one
    // source is in-house boilerplate), and the minimum doc id as
    // the canonical exemplar. One explode-free scan (the opener is
    // a prefix slice, not a token explosion), one (opener) shuffle
    // of key-sized rows. The synthetic corpus's small vocabulary
    // makes 2-token openers collide exactly like real template
    // farms do.
    Q("txt_template_detection",
      (s, d) => {
        import s.implicits._
        // The two-token opener is the stored bigram stream's i = 1
        // row (every doc has one; concat_ws skips the NULL w2 of a
        // one-token doc exactly like slice(toks, 1, 2) shortens).
        TextIndex.bigrams(s, d)
          .filter($"i" === 1)
          .select($"doc_id", $"source",
            concat_ws(" ", $"w1", $"w2").as("opener"))
          .filter($"opener" =!= "")
          .groupBy($"opener")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"source").as("n_sources"),
            min($"doc_id").as("exemplar_doc"))
          .filter($"n_docs" >= 3)
      },
      Some("""WITH openers AS (
          SELECT doc_id, source,
            array_to_string(list_slice(
              string_split_regex(trim(lower(text)), '\s+'), 1, 2),
              ' ') AS opener
          FROM documents),
        cells AS (
          SELECT opener, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
            MIN(doc_id) AS exemplar_doc
          FROM openers WHERE opener <> ''
          GROUP BY 1)
        SELECT opener, n_docs, n_sources, exemplar_doc
        FROM cells WHERE n_docs >= 3"""))
  )

  /** DuckDB-side 12-bit int from 3 hex chars of a hash (same digit
    * arithmetic as [[hex8Sql]]). */
  private def hex3Sql(h: String): String =
    (0 until 3).map { i =>
      s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1 << (4 * (2 - i))}"
    }.mkString("(", " + ", ")")

  /** Per-document bigram-predictability scores under the corpus' own
    * per-language bigram model — shared by `txt_bigram_surprisal` and
    * `txt_quality_buckets`. One explode + aggregation builds the
    * per-doc bigram counts; the model's corpus-wide counts come from
    * windows over that collapsed table (never a second explode joined
    * back); all outputs are exact integers via integer-division
    * quantization. Returns (doc_id, lang, n_bigrams, sum_pq, mean_pq).
    */
  private def surprisalScores(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Strict bigrams from the persisted TextIndex (w2 IS NOT NULL ≡
    // the size >= 2 filter + i <= n-1 explode of the inline form).
    // ONE exchange serves the doc-bigram rollup and BOTH model
    // windows (guide §2.4): hash partitioning on (lang, w1) satisfies
    // the clustered distribution of the (doc,lang,w1,w2) groupBy and
    // of the (lang,w1,w2) / (lang,w1) windows — all three keys are
    // supersets of (lang, w1) or equal to it — so what used to plan
    // four exchanges (groupBy + two windows + final rollup) plans
    // two. Keyless `repartition($"lang", $"w1")` (no explicit N)
    // stays AQE-coalescible.
    val dbg = TextIndex.bigrams(s, d)
      .filter($"w2".isNotNull)
      .repartition($"lang", $"w1")
      .groupBy($"doc_id", $"lang", $"w1", $"w2")
      .agg(count(lit(1)).as("c_doc"))
    val wBigram = Window.partitionBy($"lang", $"w1", $"w2")
    val wLeft = Window.partitionBy($"lang", $"w1")
    dbg
      .withColumn("c_bigram", sum($"c_doc").over(wBigram))
      .withColumn("c_left", sum($"c_doc").over(wLeft))
      .withColumn("p_q", expr("(1000000000 * c_bigram) div c_left"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c_doc").as("n_bigrams"),
        sum($"c_doc" * $"p_q").as("sum_pq"))
      .withColumn("mean_pq", expr("sum_pq div n_bigrams"))
  }

  /** Oracle CTEs mirroring [[surprisalScores]]. (A def, not a val:
    * it is referenced from `all`'s initializer above, which runs
    * before later vals would be assigned.) */
  private def surprisalSql: String =
    """base AS (
        SELECT doc_id, lang,
          string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
        WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2),
      dbg AS (
        SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2,
          COUNT(*) AS c_doc
        FROM (SELECT doc_id, lang, toks,
                unnest(generate_series(1, len(toks) - 1)) AS i
              FROM base) x
        GROUP BY doc_id, lang, w1, w2),
      scored AS (
        SELECT doc_id, lang, c_doc,
          (1000000000 * SUM(c_doc) OVER (PARTITION BY lang, w1, w2))
            // SUM(c_doc) OVER (PARTITION BY lang, w1) AS p_q
        FROM dbg),
      surprisal AS (
        SELECT doc_id, lang, CAST(SUM(c_doc) AS BIGINT) AS n_bigrams,
          CAST(SUM(c_doc * p_q) AS BIGINT) AS sum_pq,
          CAST(SUM(c_doc * p_q) // SUM(c_doc) AS BIGINT) AS mean_pq
        FROM scored GROUP BY doc_id, lang)"""
}
