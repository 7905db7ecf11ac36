package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A PERSISTED dedup layout — the [[GraphIndex]] pattern applied to
  * the dedup_ family's shared derived frames. Production dedup
  * pipelines store signatures, not recompute them: the signature
  * store is what makes incremental dedup (batch×history probing)
  * possible at all, and every eval/report query over the same corpus
  * rereads it. Four frames are written ONCE per testdata fingerprint:
  *
  *   - `signatures/` (doc_id, base, content_hash, len, h1..h4): one
  *     row per corpus() doc — the 4-seed MinHash signature over
  *     normalized text, the md5 content hash (exact-dedup key), the
  *     normalized length, and which union arm produced the row
  *     (`nat` = natural documents, `dup10`/`near7` = the planted
  *     twins). EVERY corpus variant the family bands over is a
  *     FILTER of this frame: the natural corpus (base='nat' —
  *     dedup_cluster_purity, dedup_source_impact, dedup_stack_verdict),
  *     exact-dedup survivors (doc_id = min over content_hash —
  *     dedup_onion stage 2), salted samples (the group hash is a
  *     function of doc_id — dedup_lsh_recall_curve), and batch/
  *     history splits (doc_id predicates — dedup_incremental).
  *     Banding/star-edge derivation on top is a narrow explode + one
  *     tiny window (2 rows per doc) — the text scan + per-char
  *     MinHash work is what the store amortizes away.
  *   - `candidates/` (doc_a, doc_b): the distinct LSH candidate
  *     pairs over the full corpus — the banded self-join consumed
  *     verbatim by dedup_lsh_pairs / dedup_fuzzy_verify /
  *     dedup_minhash_accuracy / dedup_split_leakage.
  *   - `hgrams5/` (doc_id, h, n): the DISTINCT 5-char-shingle
  *     rolling-hash universe per doc with the per-doc distinct count
  *     carried on every row (no per-query re-count window) — the
  *     ground-truth side of the accuracy/recall evals.
  *   - `grams3/` (doc_id, gram, n, ge3): the distinct word-trigram
  *     inverted index with per-doc counts; `ge3` marks docs with at
  *     least 3 tokens (dedup_containment excludes shorter docs,
  *     dedup_ngram_jaccard keeps their partial gram).
  *   - `toks16/` (doc_id, v16): dedup_simhash's vote stream — one
  *     row per distinct (doc, token) with the token's leading 16 md5
  *     bits; the explode+distinct shuffle happens once, the per-run
  *     residue is a single 16-vote aggregation.
  *   - `spans/` (doc_id, i, h, cross): the positional 8-char
  *     rolling-hash window stream with the cross-document flag
  *     (min≠max doc over the hash) precomputed — the span family
  *     (dedup_span_exact / _ratio / _scrub) projects from it with
  *     no per-query corpus explode and no span-hash window exchange.
  *
  * At 100 TB the signature frame is ~1 row per document (tiny next
  * to the text), and the gram/shingle stores are corpus-sized but
  * amortized across every eval plus the incremental pipeline; on a
  * real cluster they'd be written `bucketBy(doc_id)` (grams by gram)
  * so downstream joins read co-located runs. Freshness and atomicity
  * are the shared [[Store]] mechanics (fingerprint of
  * documents.parquet).
  */
object DedupIndex {

  private[ext] val store = new Store("dedup", version = 3,
    Seq("documents.parquet"), Seq(
      Frame("signatures", 4, "doc_id", Seq("doc_id"),
        (s, d, _) => buildSignatures(s, d)),
      // Candidates derive from the just-written signatures (one read,
      // not a second MinHash pass).
      Frame("candidates", 4, "doc_a", Seq("doc_a", "doc_b"),
        (s, _, tmp) => Dedup.lshCandidates(s.read.parquet(s"$tmp/signatures")
          .select("doc_id", "h1", "h2", "h3", "h4"))),
      Frame("hgrams5", 8, "h", Seq("h", "doc_id"),
        (s, d, _) => buildHgrams5(s, d)),
      Frame("grams3", 8, "gram", Seq("gram", "doc_id"),
        (s, d, _) => buildGrams3(s, d)),
      Frame("spans", 8, "doc_id", Seq("doc_id", "i"),
        (s, d, _) => buildSpans(s, d)),
      Frame("toks16", 4, "doc_id", Seq("doc_id", "v16"),
        (s, d, _) => buildToks16(s, d))))

  /** Normalized text for shingling — must stay bit-identical to
    * [[Dedup]]'s norm (the oracles recompute it in DuckDB). */
  private def norm(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** In-session build of the signature frame — also the write
    * source. One corpus pass: md5, normalized text (+ its length)
    * and the fused one-pass MinHash signature all ride the same
    * projection. The full `nrm` column is stored too — the one
    * corpus-sized column of the frame, but parquet is columnar so
    * the banding/eval consumers that read only (doc_id, h1..h4)
    * never touch its bytes, while the rewrite/verify consumers
    * (dedup_span_scrub's scrub input, dedup_fuzzy_verify's prefixes,
    * dedup_shingle_sweep's sample) read the normalization ONCE per
    * corpus instead of re-deriving it per query — exactly what a
    * production pipeline stores next to its signatures. */
  private[ext] def buildSignatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val corpus = docs.withColumn("base", lit("nat"))
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), $"text")
        .withColumn("base", lit("dup10")))
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 200000L).as("doc_id"),
          concat($"text", lit(" xtra")).as("text"))
        .withColumn("base", lit("near7")))
    corpus
      .withColumn("content_hash", md5($"text"))
      .withColumn("nrm", norm($"text"))
      .select($"doc_id", $"base", $"content_hash", $"nrm",
        length($"nrm").as("len"),
        graft.functions.NativeFunctions.minHashSig($"nrm", 5).as("sig"))
      .select($"doc_id", $"base", $"content_hash", $"nrm", $"len",
        $"sig".getItem(0).as("h1"), $"sig".getItem(1).as("h2"),
        $"sig".getItem(2).as("h3"), $"sig".getItem(3).as("h4"))
  }

  /** In-session build of the distinct-token 16-bit-hash stream —
    * dedup_simhash's aggregation input, verbatim: one row per
    * DISTINCT (doc_id, token), carrying the token's leading-16-bit
    * md5 value (two tokens hashing alike keep both rows — each is a
    * vote). The explode + distinct shuffle is the query's cost; the
    * stored frame leaves only the 16-vote aggregation per run. */
  private[ext] def buildToks16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.corpus(s, d)
      .select($"doc_id", explode(split(norm($"text"), " ")).as("tok"))
      .distinct()
      .selectExpr("doc_id",
        "cast(conv(substr(md5(tok), 1, 4), 16, 10) as int) AS v16")
  }

  /** In-session build of the distinct LSH candidate pairs over the
    * full corpus — [[Dedup.lshCandidates]] over the signature frame. */
  private[ext] def buildCandidates(s: SparkSession, d: String): DataFrame =
    Dedup.lshCandidates(buildSignatures(s, d)
      .select("doc_id", "h1", "h2", "h3", "h4"))

  /** In-session build of the distinct 5-gram rolling-hash universe
    * with the per-doc count carried on every row. Docs shorter than
    * one shingle produce no rows (RollingHashAll yields an empty
    * array) — identical to every consumer's inline form. */
  private[ext] def buildHgrams5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id")
    Dedup.corpus(s, d)
      .select($"doc_id",
        explode(array_distinct(graft.functions.NativeFunctions
          .rollingHashAll(norm($"text"), 5))).as("h"))
      .withColumn("n", count(lit(1)).over(wDoc))
  }

  /** In-session build of the distinct word-trigram inverted index.
    * Exactly dedup_ngram_jaccard's gram derivation (short docs keep
    * their partial gram via the greatest(…, 1) guard); `ge3` lets
    * dedup_containment drop sub-3-token docs without re-tokenizing. */
  private[ext] def buildGrams3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id")
    Dedup.corpus(s, d)
      .select($"doc_id", $"text")
      .withColumn("toks", split(norm($"text"), " "))
      .select($"doc_id", (size($"toks") >= 3).as("ge3"),
        explode(sequence(lit(1), greatest(size($"toks") - 2, lit(1))))
          .as("i"), $"toks")
      .select($"doc_id", $"ge3", concat_ws(" ",
        element_at($"toks", $"i"), element_at($"toks", $"i" + 1),
        element_at($"toks", $"i" + 2)).as("gram"))
      .distinct()
      .withColumn("n", count(lit(1)).over(wDoc))
      .select($"doc_id", $"gram", $"n", $"ge3")
  }

  /** In-session build of the positional 8-char rolling-hash span
    * stream with the cross-document flag precomputed (the min≠max
    * doc window over the span hash — the one expensive exchange the
    * three span queries shared per-query before this frame). `i` is
    * the 1-based window start in the normalized text; the (doc_id,
    * i, h) multiset equals every consumer's inline posexplode/
    * explode of RollingHashAll. */
  private[ext] def buildSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wSpan = org.apache.spark.sql.expressions.Window
      .partitionBy($"h")
    Dedup.corpus(s, d)
      .select($"doc_id", posexplode(
        graft.functions.NativeFunctions.rollingHashAll(norm($"text"), 8)))
      .toDF("doc_id", "pos0", "h")
      .select($"doc_id", ($"pos0" + 1).as("i"), $"h")
      .withColumn("cross",
        min($"doc_id").over(wSpan) =!= max($"doc_id").over(wSpan))
  }

  /** The stored signature frame (doc_id, base, content_hash, nrm,
    * len, h1..h4) over the planted-dup corpus, read from the
    * persisted layout (built on first use). `nrm` is corpus-sized —
    * consumers that don't project it never read its bytes
    * (columnar). */
  def signatures(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "signatures")

  /** The stored distinct-token 16-bit hash stream (doc_id, v16) —
    * one row per distinct (doc, token). */
  def toks16(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "toks16")

  /** The stored distinct LSH candidate pairs (doc_a, doc_b). */
  def candidates(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "candidates")

  /** The stored distinct 5-gram hash universe (doc_id, h, n). */
  def hgrams5(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "hgrams5")

  /** The stored distinct word-trigram index (doc_id, gram, n, ge3). */
  def grams3(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "grams3")

  /** The stored positional span-hash stream (doc_id, i, h, cross). */
  def spans(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "spans")
}
