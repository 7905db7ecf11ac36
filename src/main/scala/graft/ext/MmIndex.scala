package graft.ext

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
  * atomicity are the shared [[IndexUtil]] mechanics (md5 fingerprint
  * of documents.parquet + format version; atomic tmp-dir install,
  * race losers deleted).
  */
object MmIndex {

  /** Bumped whenever the stored schema/derivation changes. */
  private val FormatVersion = 2

  private def root: String = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    s"${sys.props("java.io.tmpdir")}/graft-mm-index")

  /** md5 over (relative path, length, mtime) of every file under
    * documents.parquet — any regeneration changes it. The "mm-v"
    * prefix keeps the namespace disjoint from the other index
    * families when they share SPARK_GRAFT_INDEX_DIR.
    *
    * SCOPE: deliberately walks ONLY documents.parquet, because every
    * frame this index stores (decode features, verified pHash pairs)
    * derives from `documents` alone. If a future mm frame ever reads
    * another table, that table MUST be added to this walk or its
    * regeneration would silently reuse a stale index. */
  private[ext] def fingerprint(sfDir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(s"mm-v$FormatVersion".getBytes("UTF-8"))
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
    new File(root, s"mm-${fingerprint(sfDir)}")

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

  /** Build both frames under a fresh tmp dir, then atomically rename
    * into place ([[IndexUtil.install]]). */
  private def ensure(s: SparkSession, sfDir: String): File = synchronized {
    IndexUtil.install(new File(root), indexDir(sfDir), { tmp =>
      buildFeatures(s, sfDir)
        .repartition(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/features")
      buildPhPairs(s, sfDir)
        .repartition(4, col("doc_a")).sortWithinPartitions("doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$tmp/phpairs")
    })
  }

  /** The stored decoded-feature frame (doc_id, kind, byte_len, width,
    * height, n_frames, checksum), read from the persisted layout
    * (built on first use). */
  def features(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/features")

  /** The stored verified pHash near-dup pairs (doc_a, doc_b, ph_a,
    * ph_b, hamming <= 3), within modality, doc_a < doc_b. */
  def phpairs(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${ensure(s, sfDir)}/phpairs")
}
