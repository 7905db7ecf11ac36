package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A PERSISTED multimodal-features layout — the [[GraphIndex]] /
  * [[DedupIndex]] / [[TextIndex]] pattern applied to the mm_ family's
  * shared derived frames. A production media pipeline decodes each
  * payload ONCE and stores the extracted features; every downstream
  * planner (tiling, framing, packing, alignment, dedup) then reads
  * the feature store, never the decoder. Two frames are written once
  * per testdata fingerprint:
  *
  *   - `features/` (doc_id, kind, byte_len, width, height, n_frames,
  *     checksum): the batched stub-decode output
  *     ([[Multimodal.decodeFeatures]]) — one row per payload. Before
  *     this frame, 8 of the 14 mm_ queries re-ran the decode
  *     mapPartitions per query (at sf1 the decode is the family's
  *     dominant narrow cost).
  *   - `phpairs/` (doc_a, doc_b, ph_a, ph_b, hamming): the VERIFIED
  *     perceptual near-dup pairs — banded 16-bit stub-pHash
  *     candidates within modality ([[Multimodal.phashPairs]])
  *     hamming-verified to <= 3 AT BUILD TIME. The raw candidate set
  *     is deliberately NOT stored: a 16-bit hash saturates on any
  *     50k+ corpus (bucket sizes grow linearly with corpus size, so
  *     unverified candidates grow quadratically — ~10^8 rows at sf1),
  *     while every consumer (mm_phash_hamming, mm_dedup_verdict)
  *     reads only the <= 3 survivors (~4.5M at sf1). Production
  *     pipelines store verified near-dup edges for the same reason:
  *     the verify step is cheap per candidate and collapses the
  *     stored frame by orders of magnitude.
  *
  * Payload BYTES are never stored or shuffled — the feature frame is
  * ~1 row per document, the pair frame candidate-sized. Freshness and
  * atomicity are the shared [[Store]] mechanics (fingerprint of
  * documents.parquet).
  */
object MmIndex {

  private[ext] val store = new Store("mm", version = 2,
    Seq("documents.parquet"), Seq(
      Frame("features", 4, "doc_id", Seq("doc_id"),
        (s, d, _) => buildFeatures(s, d)),
      Frame("phpairs", 4, "doc_a", Seq("doc_a", "doc_b"),
        (s, d, _) => buildPhPairs(s, d))))

  /** In-session build of the decoded-feature frame — also the write
    * source. One corpus pass through the batched stub decode. */
  private[ext] def buildFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(s, d)).toDF()

  /** In-session build of the verified (hamming <= 3) pHash pair
    * frame — candidates from the banded self-join, verified before
    * anything is stored. */
  private[ext] def buildPhPairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    Multimodal.phashPairs(s, d)
      .withColumn("hamming", expr("CAST(bit_count(ph_a ^ ph_b) AS BIGINT)"))
      .filter(expr("hamming <= 3"))
  }

  /** The stored decoded-feature frame (doc_id, kind, byte_len, width,
    * height, n_frames, checksum), read from the persisted layout
    * (built on first use). */
  def features(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "features")

  /** The stored verified pHash near-dup pairs (doc_a, doc_b, ph_a,
    * ph_b, hamming <= 3), within modality, doc_a < doc_b. */
  def phpairs(s: SparkSession, sfDir: String): DataFrame =
    store.read(s, sfDir, "phpairs")
}
