package graft.ext

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A PERSISTED tokenized-corpus layout — the [[GraphIndex]] /
  * [[DedupIndex]] pattern applied to the txt_ family's shared derived
  * frames. A production text pipeline tokenizes once and stores the
  * result: every quality filter, vocabulary statistic, n-gram model
  * and featurizer then reads the token store, never the raw text.
  * Five frames are written ONCE per testdata fingerprint:
  *
  *   - `tokens/` (doc_id, lang, source, n_toks, pos, tok): the
  *     1-based positional explode of the family's canonical
  *     tokenization (`TextAnalysis.tokens` = lowercase, trim,
  *     whitespace split) with the doc's token count carried on every
  *     row (no per-query docstats join). Consumers: hashed features /
  *     classifier scoring (md5 bucket of `tok`), TF-IDF / term stats /
  *     inverted postings, vocabulary curves, RAKE (needs `pos`),
  *     source drift, Zipf, BPE merge counting.
  *   - `bigrams/` (doc_id, lang, source, n_toks, i, w1, w2): rows
  *     i = 1..max(n−1, 1); `w2` is NULL on the single row of a
  *     one-token doc. Strict-bigram consumers (`w2 IS NOT NULL` ≡
  *     the `size >= 2` filter + i ≤ n−1 explode) take (w1, w2) and
  *     apply their own key shape — space-joined (domain affinity,
  *     surprisal, bigram LM) or pipe-joined (DSIR); the Gopher
  *     repetition input keeps the unigram-fallback row via
  *     concat_ws, which skips the NULL.
  *   - `grams3/` (doc_id, gram): the DISTINCT space-joined token
  *     3-grams of docs with ≥ 3 tokens (txt_ngram_novelty's frame).
  *   - `hgrams8/` (doc_id, g): the DISTINCT md5'd 8-token shingles of
  *     docs with ≥ 8 tokens — the contamination probe. Stored
  *     distinct: every consumer counts distinct grams per doc, so
  *     multiplicity never reaches an output.
  *   - `docstats/` (doc_id, lang, source, n_toks, len_chars,
  *     len_nonspace, n_subwords, max_token_len, n_punct, n_digit,
  *     n_sym, s_en, s_es, s_de, s_fr, content_hash): the per-doc
  *     scalar profile every quality/length/langid query projects
  *     from — each column bit-identical to the inline expression it
  *     replaces (counts stay INT like `size`/`length`; ratios remain
  *     per-query single IEEE divisions of these exact integers).
  *
  * At 100 TB the token and bigram stores are the corpus re-expressed
  * row-per-token (the layout a real pipeline shards by doc_id so the
  * explode never re-runs); docstats is ~1 row per document. Freshness
  * and atomicity are the GraphIndex mechanics: the directory is keyed
  * by an md5 fingerprint of documents.parquet (path, length, mtime)
  * plus a format version; builds write to a unique tmp dir and rename
  * into place, marker file last.
  */
object TextIndex {

  /** Bumped whenever the stored schema/derivation changes. */
  private val FormatVersion = 2

  private def root: String = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    s"${sys.props("java.io.tmpdir")}/graft-text-index")

  /** md5 over (relative path, length, mtime) of every file under
    * documents.parquet — any regeneration changes it. The "text-v"
    * prefix keeps the namespace disjoint from the other index
    * families when they share SPARK_GRAFT_INDEX_DIR. */
  private[ext] def fingerprint(sfDir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(s"text-v$FormatVersion".getBytes("UTF-8"))
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName)
          .foreach(c => walk(c, s"$rel/${c.getName}"))
      else
        md.update(s"$rel:${f.length}:${f.lastModified}".getBytes("UTF-8"))
    val f = new File(sfDir, "documents.parquet")
    md.update("documents.parquet".getBytes("UTF-8"))
    if (f.exists()) walk(f, "documents.parquet")
    md.digest().map("%02x".format(_)).mkString
  }

  private[ext] def indexDir(sfDir: String): File =
    new File(root, s"text-${fingerprint(sfDir)}")

  /** In-session build of the positional token stream. Zero-token
    * docs are dropped FIRST: Spark's `sequence(1, 0)` counts DOWN to
    * [1, 0] (it does not return empty like DuckDB's generate_series)
    * and `element_at(toks, 0)` then throws — unreachable while the
    * tokenizer never yields an empty array for non-null text, but
    * the guard keeps the frame correct if that ever changes. */
  private[ext] def buildTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source",
        TextAnalysis.tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", $"lang", $"source", size($"toks").as("n_toks"),
        explode(sequence(lit(1), size($"toks"))).as("pos"), $"toks")
      .select($"doc_id", $"lang", $"source", $"n_toks", $"pos",
        element_at($"toks", $"pos").as("tok"))
  }

  /** In-session build of the positional bigram stream with the
    * Gopher unigram-fallback row (i = 1..max(n−1, 1), w2 NULL past
    * the end — the CASE guards element_at so no index ever exceeds
    * the array under ANSI semantics). */
  private[ext] def buildBigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source",
        TextAnalysis.tokens($"text").as("toks"))
      // same zero-token guard as buildTokens: element_at(toks, 1)
      // on an empty array would throw under ANSI semantics
      .filter(size($"toks") > 0)
      .select($"doc_id", $"lang", $"source", size($"toks").as("n_toks"),
        explode(sequence(lit(1), greatest(size($"toks") - 1, lit(1))))
          .as("i"), $"toks")
      .select($"doc_id", $"lang", $"source", $"n_toks", $"i",
        element_at($"toks", $"i").as("w1"),
        when($"i" < $"n_toks", element_at($"toks", $"i" + 1)).as("w2"))
  }

  /** In-session build of the distinct token-3-gram frame (docs with
    * ≥ 3 tokens — txt_ngram_novelty's exact gram set). */
  private[ext] def buildGrams3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id",
        explode(sequence(lit(1), size($"toks") - 2)).as("i"), $"toks")
      .select($"doc_id", concat_ws(" ",
        element_at($"toks", $"i"), element_at($"toks", $"i" + 1),
        element_at($"toks", $"i" + 2)).as("gram"))
      .distinct()
  }

  /** In-session build of the distinct md5'd 8-token-shingle frame
    * (docs with ≥ 8 tokens — txt_contamination's probe universe). */
  private[ext] def buildHgrams8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", TextAnalysis.tokens($"text").as("t"))
      .filter(size($"t") >= 8)
      .select($"doc_id",
        explode(sequence(lit(1), size($"t") - 7)).as("i"), $"t")
      .select($"doc_id",
        md5(concat_ws(" ", slice($"t", $"i", lit(8)))).as("g"))
      .distinct()
  }

  /** In-session build of the per-doc scalar profile. Every column is
    * the txt_ family's inline expression verbatim (same INT widths),
    * so a projection of this frame is bit-identical to the
    * derivation it replaces. */
  private[ext] def buildDocstats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stops = Map(
      "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
      "es" -> Seq("el", "la", "de", "los", "que", "y"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "fr" -> Seq("le", "les", "et", "des", "une"))
    def stopCount(lang: String) =
      size(filter($"toks", t => t.isInCollection(stops(lang))))
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", $"text",
        TextAnalysis.tokens($"text").as("toks"))
      .select($"doc_id", $"lang", $"source",
        size($"toks").as("n_toks"),
        length($"text").as("len_chars"),
        length(regexp_replace($"text", "\\s", "")).as("len_nonspace"),
        TextAnalysis.subwordCount($"text").as("n_subwords"),
        array_max(transform($"toks", t => length(t))).as("max_token_len"),
        (length($"text") -
          length(regexp_replace($"text", "[.,!?;:()-]", ""))).as("n_punct"),
        (length($"text") -
          length(regexp_replace($"text", "[0-9]", ""))).as("n_digit"),
        length(regexp_replace($"text", "[a-zA-Z0-9\\s]", "")).as("n_sym"),
        stopCount("en").as("s_en"), stopCount("es").as("s_es"),
        stopCount("de").as("s_de"), stopCount("fr").as("s_fr"),
        md5($"text").as("content_hash"))
  }

  /** Build all five frames under a fresh tmp dir, then atomically
    * rename into place ([[IndexUtil.install]] — marker last, race
    * losers and failed builds deleted). */
  private def ensure(s: SparkSession, sfDir: String): File = synchronized {
    IndexUtil.install(new File(root), indexDir(sfDir), { tmp =>
      buildTokens(s, sfDir)
        .repartition(8, col("doc_id")).sortWithinPartitions("doc_id", "pos")
        .write.mode("overwrite").parquet(s"$tmp/tokens")
      buildBigrams(s, sfDir)
        .repartition(8, col("doc_id")).sortWithinPartitions("doc_id", "i")
        .write.mode("overwrite").parquet(s"$tmp/bigrams")
      buildGrams3(s, sfDir)
        .repartition(8, col("gram")).sortWithinPartitions("gram", "doc_id")
        .write.mode("overwrite").parquet(s"$tmp/grams3")
      buildHgrams8(s, sfDir)
        .repartition(8, col("g")).sortWithinPartitions("g", "doc_id")
        .write.mode("overwrite").parquet(s"$tmp/hgrams8")
      buildDocstats(s, sfDir)
        .repartition(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/docstats")
    })
  }

  /** The stored positional token stream (doc_id, lang, source,
    * n_toks, pos, tok), read from the persisted layout (built on
    * first use). */
  def tokens(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/tokens")

  /** The stored positional bigram stream (doc_id, lang, source,
    * n_toks, i, w1, w2 — w2 NULL on a one-token doc's fallback row). */
  def bigrams(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/bigrams")

  /** The stored distinct token-3-gram frame (doc_id, gram). */
  def grams3(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/grams3")

  /** The stored distinct md5'd 8-token-shingle frame (doc_id, g). */
  def hgrams8(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/hgrams8")

  /** The stored per-doc scalar profile. */
  def docstats(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/docstats")
}
