package graft.parity

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Q, Tables}
import graft.functions.NativeFunctions

/** Reference-parity operators re-hosted over the driver testdata so
  * the DuckDB gate can hash-verify them (FIXTURES.md §B: parity
  * scalar functions run over `documents.text`; the banding window
  * over a lines table derived from `events`).
  *
  * Where the operator is a procedural UDF (name parsing), the oracle
  * replicates the reference semantics in SQL for the restricted input
  * shape used by the query (documented per query); the unrestricted
  * semantics are pinned by the golden specs instead.
  */
object ParityQueries {

  private val suffixSqlList =
    RefText.suffixes.map(s => s"'$s'").mkString(", ")

  private def headerPredicateSql(col: String): String =
    RefText.headerPhrases
      .map(p => s"contains(lower($col), '${p.replace("'", "''")}')")
      .mkString("(", " OR ", ")")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // is_header_text as a native expression (lambda_function.py:136-156).
    Q("par_header_filter",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("is_header", graft.functions.NativeFunctions.isHeader($"text"))
          .select($"doc_id", $"is_header")
      },
      Some(s"""SELECT doc_id, ${headerPredicateSql("text")} AS is_header
        FROM documents""")),

    // ------------------------------------------------------------------
    // is_numeric_token over document tokens plus synthesized numeric
    // shapes (documents are prose, so dollar/dash/decimal forms are
    // appended deterministically to exercise all three branches).
    Q("par_numeric_token_count",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("toks", concat(
            split(trim($"text"), "\\s+"),
            array(concat(lit("$"), format_number($"n_chars", 0)),
                  lit("—"), lit("12.5"), concat(lit("-"), $"doc_id"),
                  concat($"doc_id", lit("x")))))
        docs.select($"doc_id", explode($"toks").as("tok"))
          .withColumn("is_num", NativeFunctions.isNumericToken($"tok"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               sum(when($"is_num", 1L).otherwise(0L)).as("n_numeric"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, unnest(list_concat(
            string_split_regex(trim(text), '\s+'),
            ['$' || format('{:,}', n_chars), '—', '12.5',
             '-' || CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR) || 'x'])) AS tok
          FROM documents)
        SELECT doc_id, COUNT(*) AS n_tokens,
          CAST(SUM(CASE WHEN
            trim(tok) IN ('-', '—', '–')
            OR regexp_full_match(trim(replace(replace(replace(tok, ',', ''), '$', ''), '-', '')), '\d+(\.\d+)?')
            OR regexp_full_match(replace(tok, '-', ''), '\$?\d[\d,]*([.]\d+)?')
          THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric
        FROM toks GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // extract_alternate_name (:711-715) over synthesized parentheticals.
    Q("par_alternate_name",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .withColumn("pseudo_name", concat(
            element_at(split(trim($"text"), "\\s+"), 1),
            when($"doc_id" % 2 === 0,
              concat(lit(" ("), $"source", lit(")"))).otherwise(lit(""))))
          .select($"doc_id",
            FarmFunctions.alternateName($"pseudo_name").as("alt_name"))
      },
      Some("""SELECT doc_id,
        trim(regexp_extract(
          string_split_regex(trim(text), '\s+')[1] ||
            CASE WHEN doc_id % 2 = 0 THEN ' (' || source || ')' ELSE '' END,
          '\(([^)]+)\)', 1)) AS alt_name
        FROM documents""")),

    // ------------------------------------------------------------------
    // split_name (:674-706) over three-token pseudo names. Oracle
    // replicates the reference for this shape (plain tokens, no
    // parens): last token = surname unless a recognized suffix.
    Q("par_split_name",
      (s, d) => {
        import s.implicits._
        val pseudo = concat_ws(" ",
          element_at(split(trim($"text"), "\\s+"), 1),
          element_at(split(trim($"text"), "\\s+"), 2),
          when($"doc_id" % 5 === 0, lit("Jr."))
            .otherwise(element_at(split(trim($"text"), "\\s+"), 3)))
        Tables.documents(s, d)
          .withColumn("parts", FarmFunctions.splitNameUdf(pseudo))
          .select($"doc_id", $"parts._1".as("surname"),
            $"parts._2".as("given_names"), $"parts._3".as("suffix"))
      },
      Some(s"""WITH t AS (
          SELECT doc_id,
            string_split_regex(trim(text), '\\s+')[1] AS t1,
            string_split_regex(trim(text), '\\s+')[2] AS t2,
            CASE WHEN doc_id % 5 = 0 THEN 'Jr.'
                 ELSE string_split_regex(trim(text), '\\s+')[3] END AS t3
          FROM documents)
        SELECT doc_id,
          CASE WHEN lower(t3) IN ($suffixSqlList) THEN t2 ELSE t3 END AS surname,
          CASE WHEN lower(t3) IN ($suffixSqlList) THEN t1
               ELSE t1 || ' ' || t2 END AS given_names,
          CASE WHEN lower(t3) IN ($suffixSqlList) THEN t3 ELSE '' END AS suffix
        FROM t""")),

    // ------------------------------------------------------------------
    // The structural continuation predicate (:239-251) as native
    // expressions, over a mix of prose and synthesized numeric lines.
    Q("par_continuation_shape",
      (s, d) => {
        import s.implicits._
        val line = when($"doc_id" % 3 === 0,
            concat($"n_chars", lit(", "), $"doc_id", lit(", -")))
          .otherwise(substring($"text", 1, 30))
        Tables.documents(s, d)
          .select($"doc_id",
            FarmFunctions.continuationShape(line).as("is_continuation_shape"))
      },
      Some("""SELECT doc_id,
        CASE WHEN length(t) > 0 AND (
          length(trim(regexp_replace(regexp_replace(t, '\d+', '', 'g'),
            '[,\s\-—–$.]', '', 'g'))) <= 1
          OR length(regexp_replace(t, '[^A-Za-z]', '', 'g')) <= 2)
        THEN true ELSE false END AS is_continuation_shape
        FROM (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0
               THEN CAST(n_chars AS VARCHAR) || ', ' || CAST(doc_id AS VARCHAR) || ', -'
               ELSE trim(substr(text, 1, 30)) END AS t
        FROM documents) x""")),

    // ------------------------------------------------------------------
    // The page-line banding window (:605-652) hosted over a lines
    // table derived from events: click events are "name lines", the
    // band increments when the gap to the previous name line exceeds
    // 0.01 — full window-function oracle. Each user_id acts as one
    // "document", so the window is hash-partitioned across executors
    // (a constant doc key would funnel the whole table into a single
    // window partition — the formulation that does NOT survive scale).
    Q("par_page_line_banding",
      (s, d) => {
        import s.implicits._
        val lines = Tables.events(s, d)
          .select($"user_id".cast("string").as("doc"),
            lit(1).as("page"), lit(0).as("side"),
            $"event_id".as("seq"), ($"value" / 100.0).as("top"),
            when($"event_type" === "click", lit("John Smith"))
              .otherwise(lit("123")).as("text"))
        Layout.withPageLine(lines)
          .select($"seq", $"page_line")
      },
      Some("""WITH lines AS (
          SELECT user_id, event_id AS seq, value / 100.0 AS top,
            event_type = 'click' AS is_name
          FROM events),
        flagged AS (
          SELECT user_id, seq, top,
            CASE WHEN abs(top - lag(top) OVER (
                   PARTITION BY user_id ORDER BY top, seq)) > 0.01
                 THEN 1 ELSE 0 END AS inc
          FROM lines WHERE is_name),
        names AS (
          SELECT user_id, seq, top,
            1 + CAST(SUM(inc) OVER (PARTITION BY user_id
              ORDER BY top, seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS band
          FROM flagged),
        fixed AS (
          SELECT seq, CAST(MAX(band) OVER (PARTITION BY user_id, top)
            AS BIGINT) AS band
          FROM names)
        SELECT l.seq,
          CAST(CASE WHEN l.is_name THEN f.band ELSE 1 END AS BIGINT)
            AS page_line
        FROM lines l LEFT JOIN fixed f ON l.seq = f.seq""")),

    // ------------------------------------------------------------------
    // parse_structured_line (:258-369) through the UDF, over the
    // restricted shape "Word1 Word2, <n>, -, <m>" (the corpus is pure
    // lowercase alpha — verified — so the name scan never hits a
    // digit). Oracle replays the positional layout for that shape:
    // two numeric values present → the single-value heuristic does
    // not fire.
    Q("par_parse_structured_line",
      (s, d) => {
        import s.implicits._
        val line = concat(initcap(element_at(split(trim($"text"), "\\s+"), 1)),
          lit(" "), initcap(element_at(split(trim($"text"), "\\s+"), 2)),
          lit(", "), $"n_chars", lit(", -, "), $"doc_id" % 1000)
        Tables.documents(s, d)
          .withColumn("parsed", FarmFunctions.parseLineUdf(line))
          .select($"doc_id", $"parsed._1".as("name"),
            concat_ws("|", $"parsed._2").as("numbers"))
      },
      Some("""SELECT doc_id,
        upper(substr(t1, 1, 1)) || substr(t1, 2) || ' ' ||
          upper(substr(t2, 1, 1)) || substr(t2, 2) AS name,
        CAST(n_chars AS VARCHAR) || '|-|' ||
          CAST(doc_id % 1000 AS VARCHAR) || '|-|-' AS numbers
        FROM (SELECT doc_id, n_chars,
          string_split_regex(trim(text), '\s+')[1] AS t1,
          string_split_regex(trim(text), '\s+')[2] AS t2
        FROM documents) x""")),

    // ------------------------------------------------------------------
    // extract_continuation_numbers (:374-414) through the UDF; the
    // oracle replicates the per-part chain (dash → cleaned numeric →
    // first \b\d{1,6}\b → '-') for the constructed line. Note the
    // dollar amount's own thousands-comma splits it into two parts,
    // exercising the mixed-content fallback.
    Q("par_extract_continuation",
      (s, d) => {
        import s.implicits._
        val line = concat($"n_chars", lit(", -, $"),
          format_number($"doc_id" * 7 % 10000, 0), lit(", x"))
        Tables.documents(s, d)
          .select($"doc_id", concat_ws("|",
            FarmFunctions.extractContinuationUdf(line)).as("extracted"))
      },
      Some("""SELECT doc_id, array_to_string(list_transform(
          string_split(CAST(n_chars AS VARCHAR) || ', -, $' ||
            format('{:,}', (doc_id * 7) % 10000) || ', x', ','),
          x -> CASE
            WHEN trim(x) IN ('-', '—', '–', '') THEN '-'
            WHEN regexp_full_match(
                   trim(replace(replace(replace(trim(x), ',', ''), '$', ''), '-', '')),
                   '\d+(\.\d+)?')
              OR regexp_full_match(replace(trim(x), '-', ''),
                   '\$?\d[\d,]*([.]\d+)?')
            THEN CASE
              WHEN length(replace(trim(replace(replace(trim(x), ',', ''), '$', '')), '.', '')) > 0
                AND regexp_full_match(
                      replace(trim(replace(replace(trim(x), ',', ''), '$', '')), '.', ''),
                      '\d+')
              THEN trim(replace(replace(trim(x), ',', ''), '$', ''))
              ELSE '-' END
            ELSE CASE
              WHEN regexp_extract(trim(x), '\b(\d{1,6})\b', 1) <> ''
              THEN regexp_extract(trim(x), '\b(\d{1,6})\b', 1)
              ELSE '-' END
          END), '|') AS extracted
        FROM documents""")),

    // ------------------------------------------------------------------
    // analyze_column_structure (:96-131, dead code revived as
    // ColumnStructure.columnThresholds): per-document 20-bin
    // histogram of line x-positions, split threshold = center of the
    // emptiest bin among bins 5-14 (ties -> lowest bin), fallbacks
    // (<10 lines or x-range <0.1) -> 0.5. Lines synthesized from
    // events like par_page_line_banding; every float op (bin width,
    // bin index, center) is the same IEEE expression on both sides.
    Q("par_column_threshold",
      (s, d) => {
        import s.implicits._
        val lines = Tables.events(s, d)
          .select($"user_id".cast("string").as("doc"),
            ($"value" / 100.0).as("left"))
        ColumnStructure.columnThresholds(lines)
      },
      Some("""WITH lines AS (
          SELECT CAST(user_id AS VARCHAR) AS doc, value / 100.0 AS pos
          FROM events),
        stats AS (
          SELECT doc, COUNT(*) AS n, MIN(pos) AS mn, MAX(pos) AS mx
          FROM lines GROUP BY doc),
        elig AS (
          SELECT doc, mn, (mx - mn) / 20.0 AS bs
          FROM stats WHERE n >= 10 AND (mx - mn) >= 0.1),
        binned AS (
          SELECT l.doc,
            least(19, CAST(floor((l.pos - e.mn) / e.bs) AS INT)) AS bin,
            COUNT(*) AS cnt
          FROM lines l JOIN elig e USING (doc)
          GROUP BY l.doc, least(19, CAST(floor((l.pos - e.mn) / e.bs) AS INT))),
        cand AS (
          SELECT e.doc, e.mn, e.bs, g.bin, COALESCE(b.cnt, 0) AS cnt
          FROM elig e
          CROSS JOIN (SELECT unnest(generate_series(5, 14)) AS bin) g
          LEFT JOIN binned b ON b.doc = e.doc AND b.bin = g.bin),
        gap AS (
          SELECT doc, mn + (bin + 0.5) * bs AS threshold
          FROM (SELECT doc, mn, bs, bin,
                  ROW_NUMBER() OVER (PARTITION BY doc
                    ORDER BY cnt, bin) AS rn
                FROM cand) r WHERE rn = 1)
        SELECT s.doc, COALESCE(g.threshold, 0.5) AS threshold
        FROM stats s LEFT JOIN gap g USING (doc)"""))
  )
}
