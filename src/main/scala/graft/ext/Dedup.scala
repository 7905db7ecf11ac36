package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Regimes, Tables}

/** Deduplication operators for a training-data pipeline: exact
  * (content-hash groupBy), MinHash signatures + LSH banding
  * (shingle → minhash → band → bucket-join), inverted-index n-gram
  * Jaccard verification, and SimHash bit-vote fingerprints.
  *
  * Scale design: every operator is a hash-shuffle on a derived,
  * high-cardinality key (content hash / band hash / n-gram) — never a
  * pairwise cross-join. Candidate pairs are generated only inside LSH
  * buckets or shared-gram groups, so work scales with collision count
  * rather than corpus², which is the property that survives 100 TB
  * (SURVEY.md §7.4-7). Portable hashes: exact dedup uses md5
  * (bit-identical in any engine, including the DuckDB oracle);
  * MinHash uses the explicit 31-base polynomial family of
  * [[graft.functions.MinHashSig]] — pure integer arithmetic any
  * engine can evaluate, and ~100× cheaper than a crypto hash per
  * shingle.
  *
  * The corpus is `documents` augmented with deterministic exact
  * duplicates (doc_id+100000, every 10th doc) and near-duplicates
  * (doc_id+200000, every 7th doc, one appended token), constructed
  * identically in the oracle — without them the synthetic corpus has
  * no duplicates at all and every operator would be vacuous.
  *
  * The shared derived frames (signatures + content hashes, LSH
  * candidate pairs, shingle/trigram universes) come from the
  * persisted [[DedupIndex]] layout — written once per testdata
  * fingerprint, read by every query here instead of re-scanning and
  * re-hashing the corpus per query (the GraphIndex pattern; the
  * oracles recompute everything from raw SQL, so any index
  * divergence goes hash-red at the gate).
  */
object Dedup {

  def corpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    docs
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 200000L).as("doc_id"),
          concat($"text", lit(" xtra")).as("text")))
  }

  private val corpusSql =
    """corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL SELECT doc_id + 200000, text || ' xtra' FROM documents WHERE doc_id % 7 = 0)"""

  /** DuckDB-side 16-bit int from 4 hex chars of a hash (no conv()
    * there) — same digit arithmetic as TextAnalysis.hex8Sql. */
  private def hex4Sql(h: String): String =
    (0 until 4).map { i =>
      s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1 << (4 * (3 - i))}"
    }.mkString("(", " + ", ")")

  /** Scale-adaptive content-group sample for the quadratic
    * ground-truth evals (dedup_lsh_recall_curve /
    * dedup_shingle_sweep): both enumerate ALL pairs of a sampled doc
    * set, so a fixed sampling fraction makes their pair mass grow
    * with corpus² (the sampled set grows linearly). The sample
    * predicate is `hex4(md5(group)) < threshold` with threshold =
    * max(1, 2048·5000 // max(n_docs, 5000)): at n_docs ≤ 5000 (every
    * oracle-gated SF) the threshold is 2048 and the predicate is
    * BIT-IDENTICAL to the original two-hex-char form
    * (first = '0' AND second < '8' ⟺ hex4 < 0x0800); beyond that the
    * fraction shrinks inversely with corpus size, holding the
    * expected sampled-group count (and so the pair mass) constant —
    * an accuracy curve needs a bounded sample, not a constant
    * fraction. Threshold values nest (t' < t ⟹ subset), and the same
    * COUNT(*)-derived arithmetic runs inside the oracle SQL, so both
    * engines agree at EVERY scale. */
  private def groupSampleThreshold(s: SparkSession, d: String): Long =
    math.max(1L,
      groupSampleBudget / math.max(Tables.rowCount(s, d, "documents"),
        groupSampleFloorDocs))

  /** Corpus size up to which the group sample keeps its original
    * threshold (2048 of 65536); [[groupSampleBudget]] = 2048 × this. */
  private val groupSampleFloorDocs = 5000L
  private val groupSampleBudget = 2048L * groupSampleFloorDocs

  /** dedup_minhash_accuracy samples candidate pairs at 1 in
    * 10·ceil(n_docs / accDocsPerStep), mirrored in its oracle SQL. */
  private val accDocsPerStep = 10000L

  private def groupSampled(thresh: Long): Column =
    conv(substring(md5((col("doc_id") % 100000).cast("string")), 1, 4),
      16, 10).cast("long") < thresh

  /** Oracle CTE mirroring [[groupSampleThreshold]]. */
  private val sampleThrSql =
    s"""sthr AS (SELECT greatest(1, $groupSampleBudget // greatest(COUNT(*), $groupSampleFloorDocs))
          AS t FROM documents)"""

  /** Oracle predicate mirroring [[groupSampled]]. */
  private def groupSampledSql: String =
    s"""(${hex4Sql("md5(CAST(doc_id % 100000 AS VARCHAR))")})
        < (SELECT t FROM sthr)"""

  /** Normalized text for shingling. */
  private def norm(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  private val normSql =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Oracle mirror of [[graft.functions.MinHashSig]] for k=5: the
    * k-gram polynomial hash recomputed the quadratic way (31-base
    * positional sum mod 1e9+7), then the per-seed affine min. Seeds
    * are the literal HashImpls.SEED_A/SEED_B values. */
  private val signaturesSql = {
    import graft.functions.HashImpls.{SEED_A, SEED_B}
    val seedMins = SEED_A.zip(SEED_B).zipWithIndex.map { case ((a, b), i) =>
      s"MIN((CAST($a AS BIGINT) * h + $b) % 1000000007) AS h${i + 1}"
    }.mkString(",\n        ")
    s"""signatures AS (
      SELECT doc_id,
        $seedMins
      FROM (SELECT doc_id,
              CASE WHEN length(norm) >= 5 THEN
                (CAST(ord(substr(norm, i, 1)) AS BIGINT) * 923521
                 + CAST(ord(substr(norm, i + 1, 1)) AS BIGINT) * 29791
                 + CAST(ord(substr(norm, i + 2, 1)) AS BIGINT) * 961
                 + CAST(ord(substr(norm, i + 3, 1)) AS BIGINT) * 31
                 + ord(substr(norm, i + 4, 1))) % 1000000007 END AS h
            FROM (SELECT doc_id, norm,
                    unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
                  FROM (SELECT doc_id, $normSql AS norm FROM corpus) y) x) w
      GROUP BY doc_id)"""
  }

  /** LSH banding: 2 bands × 2 signature halves; pairs sharing any
    * band. Band key is the null-propagating concat of the half's two
    * hashes (null signature → null band → never joins). The self-join
    * shuffles only (doc_id, band_idx, band_hash) rows — 2 per
    * document — so candidate generation scales with collision count,
    * never corpus². */
  /** (doc_id [, carry...], band_idx, band_hash) rows — 2 per
    * document. The single definition of the band layout; `carry`
    * columns (e.g. a length or prefix) ride along so callers that
    * need per-doc attributes inside buckets don't re-derive the
    * banding or join back to the corpus. */
  def bandedKeys(signatures: DataFrame,
                 carry: Seq[String] = Nil): DataFrame = {
    val s = signatures.sparkSession
    import s.implicits._
    def bandKey(x: Column, y: Column): Column =
      concat(x.cast("string"), lit("_"), y.cast("string"))
    signatures.select((col("doc_id") +: carry.map(col)) :+
        posexplode(array(bandKey($"h1", $"h2"), bandKey($"h3", $"h4"))): _*)
      .toDF(("doc_id" +: carry) ++ Seq("band_idx", "band_hash"): _*)
  }

  /** Bucket-star edges over banded keys: within each (band_idx,
    * band_hash) bucket of size > 1, edge every member to the bucket's
    * min doc_id — k−1 edges per bucket, not k(k−1)/2. NULL band
    * hashes (docs shorter than one shingle) are dropped FIRST:
    * Spark's window partitioning groups all NULLs into one bucket,
    * which would weld every sub-shingle doc into a spurious cluster,
    * while the SQL oracles' band equi-joins drop NULLs — the stated
    * "null band hashes never join" invariant. */
  def bucketStarEdges(banded: DataFrame): DataFrame = {
    val s = banded.sparkSession
    import s.implicits._
    val wBand = org.apache.spark.sql.expressions.Window
      .partitionBy($"band_idx", $"band_hash")
    banded
      .filter($"band_hash".isNotNull)
      .withColumn("root", min($"doc_id").over(wBand))
      .withColumn("n", count(lit(1)).over(wBand))
      .filter($"n" > 1 && $"doc_id" =!= $"root")
      .select($"root".as("src"), $"doc_id".as("dst"))
      .distinct()
  }

  /** (doc_id, h1..h4) over corpus() from the persisted [[DedupIndex]]
    * — the frame every banding/star derivation in the family starts
    * from. */
  private def idxSigs(s: SparkSession, d: String): DataFrame =
    DedupIndex.signatures(s, d).select("doc_id", "h1", "h2", "h3", "h4")

  /** The natural-documents subset (no planted twins) of the stored
    * signature frame — dedup_cluster_purity / dedup_source_impact /
    * dedup_stack_verdict band over `documents` directly. */
  private def idxSigsNatural(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    DedupIndex.signatures(s, d).filter($"base" === "nat")
      .select("doc_id", "h1", "h2", "h3", "h4")
  }

  def lshCandidates(signatures: DataFrame): DataFrame = {
    val s = signatures.sparkSession
    import s.implicits._
    val banded = bandedKeys(signatures)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, $"a.band_idx" === $"b.band_idx" &&
        $"a.band_hash" === $"b.band_hash" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
  }

  private val bandsSql =
    """bands AS (
      SELECT doc_id, 0 AS band_idx,
        CAST(h1 AS VARCHAR) || '_' || CAST(h2 AS VARCHAR) AS band_hash
      FROM signatures
      UNION ALL
      SELECT doc_id, 1 AS band_idx,
        CAST(h3 AS VARCHAR) || '_' || CAST(h4 AS VARCHAR) AS band_hash
      FROM signatures),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id)"""

  /** Connected components of an undirected edge list (both
    * directions present as (src, dst) rows); every edge endpoint is
    * labeled with the minimum vertex id of its component.
    *
    * Path selection follows the measured edge count — the same kind
    * of runtime decision AQE makes per exchange, taken once:
    *
    *  - up to [[Regimes.DsuComponents]]' 1M edges (≈ ~100 MB of DSU
    *    state): union-find in ONE executor task (repartition(1) +
    *    mapPartitions). Three Spark jobs total, no iteration — the
    *    iterative form's 5–9 driver-coordinated rounds are pure
    *    scheduler overhead at this size and hypersensitive to host
    *    load (observed 5–22 s for the identical 20k-edge graph on a
    *    busy machine; the fast path is stable at ~1 s). Union always
    *    attaches the larger root under the smaller, so each DSU root
    *    IS the component minimum — no relabel pass.
    *
    *  - larger graphs: distributed min-label propagation with
    *    pointer jumping (l(l(v)) path-halving → O(log diameter)
    *    rounds). Each round costs exactly ONE job: the new label
    *    frame is persisted and its convergence sum computed in the
    *    same action, lineage cut by re-rooting on the frame's own
    *    RDD (LogicalRDD leaf — the frame is referenced 3× per round,
    *    an uncut plan grows ~4×/round). SHUFFLE_HASH hints: the
    *    stats-less LogicalRDD leaves would otherwise plan sort-merge
    *    — hash skips both sorts, and neither side broadcasts at
    *    100 TB. Labels only decrease, so an unchanged sum is a
    *    fixpoint. The loop runs under the session's own AQE/shuffle
    *    conf — per-exchange AQE overhead only ever dominated on tiny
    *    graphs, which now take the single-task path, and a library
    *    call must not flip session-global conf under concurrent
    *    queries.
    *
    * The returned frame is persisted (its lineage re-derives the
    * whole computation); callers invoking this repeatedly in one
    * session should unpersist it when done.
    */
  def connectedComponents(edges0: DataFrame,
                          edgeBound: Long = -1L): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    // Callers with a cheap UPPER BOUND on the edge count (e.g. the
    // bucket-star consumers: star edges ≤ banded rows = 2/doc, so the
    // symmetric list is ≤ 5 × the document count including planted
    // twins) pass it to skip the eager count job this regime switch
    // otherwise pays per invocation (guide §1.2). The switch is never
    // semantic — both branches compute the identical min-label
    // component assignment — so a bound only needs to be a true upper
    // bound to be safe; when it certifies the small-graph path the
    // edge frame is referenced exactly once (the DSU scan) and the
    // persist is skipped too. A bound ABOVE the threshold proves
    // nothing (the true count may still be small), so that case falls
    // back to counting. A forced big side skips both the bound and
    // the count.
    val boundedSmall = edgeBound >= 0L &&
      !Regimes.big(s, Regimes.DsuComponents, edgeBound)
    val edges = if (boundedSmall) edges0 else edges0.persist()
    if (boundedSmall || !Regimes.big(s, Regimes.DsuComponents, edges.count())) {
      val comp = edges.select($"src", $"dst").as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) {
              val n = parent(c); parent(c) = r; c = n
            }
            r
          }
          val verts = scala.collection.mutable.LinkedHashSet.empty[Long]
          it.foreach { case (a, b) =>
            verts += a; verts += b
            val ra = find(a); val rb = find(b)
            if (ra != rb) {
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            }
          }
          verts.iterator.map(v => (v, find(v)))
        }
        .toDF("doc_id", "cluster_id")
      // LAZY pin (round 10): the old eager `out.count()` +
      // `edges.unpersist()` pair existed only so the edge cache
      // could be dropped before returning — at the price of one
      // sequential driver job per CC invocation, paid by EVERY
      // closure consumer (dedup_cc/verdict/onion×2, semantic/mm
      // verdicts, …; guide §1.2). Keeping the edge cache resident
      // until the caller's single action materializes the pinned
      // result removes that job; Bench/Verify clear all pins per
      // query, and the small-graph branch's edge cache is ≤ 1M rows
      // by the regime bound.
      pin(comp)
    } else {
      def labelSum(df: DataFrame): Long =
        // coalesce: an edgeless graph yields an empty label set —
        // SUM over it is NULL.
        df.agg(coalesce(sum($"cluster_id"), lit(0L))).as[Long].head()
      // Init at min(self, neighbors) — the identity-label round is
      // free: with labels = id the first propagation is just the
      // edge list itself, one groupBy instead of a join round.
      var labels = pin(edges
        .select($"src".as("v"), $"src".as("cluster_id"))
        .unionByName(edges.select($"src".as("v"), $"dst".as("cluster_id")))
        .groupBy($"v").agg(min($"cluster_id").as("cluster_id")))
      try {
        var lastSum = labelSum(labels)
        var iter = 0
        var converged = false
        while (!converged && iter < 25) {
          val prop = edges.hint("SHUFFLE_HASH")
            .join(labels.withColumnRenamed("v", "src"), "src")
            .select($"dst".as("v"), $"cluster_id")
          val jump = labels.as("x").hint("SHUFFLE_HASH")
            .join(labels.as("y"), col("x.cluster_id") === col("y.v"))
            .select(col("x.v").as("v"), col("y.cluster_id").as("cluster_id"))
          val next = pin(labels.unionByName(prop).unionByName(jump)
            .groupBy($"v").agg(min($"cluster_id").as("cluster_id")))
          val sumNow = labelSum(next)
          converged = sumNow == lastSum
          lastSum = sumNow
          labels.unpersist()
          labels = next
          iter += 1
        }
        labels.select($"v".as("doc_id"), $"cluster_id")
      } catch {
        // a failed round must not pin the in-flight label cache
        case e: Throwable => labels.unpersist(); throw e
      } finally edges.unpersist()
    }
  }

  /** Per-doc connected-component cluster assignment over the LSH
    * candidate graph (the dedup_cc body, reusable):
    * bucket root + size via ONE whole-partition window over the
    * banded keys — a groupBy-roots-then-join-back formulation
    * recomputes the banded subtree (corpus scan + MinHash pass)
    * twice, because Catalyst does not dedupe repeated subplans.
    */
  /** Cheap edge-count upper bound for any symmetric bucket-star edge
    * list derived from the signature frame (or a subset of it):
    * banded rows = 2 per signature row, star edges ≤ banded rows, the
    * symmetric union doubles that, and the signature frame holds
    * ≤ (1 + 1/10 + 1/7) ≈ 1.243 rows per document (nat + planted
    * twins) — so 2·2·1.243 < 5 rows per document. Lets every star-CC
    * consumer skip [[connectedComponents]]'s eager regime-switch
    * count (the memoized rowCount costs no job after first use). */
  private def starEdgeBound(s: SparkSession, d: String): Long =
    5L * Tables.rowCount(s, d, "documents")

  def ccAssignments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val star = bucketStarEdges(bandedKeys(idxSigs(s, d)))
    val edges = star
      .unionByName(star.select($"dst".as("src"), $"src".as("dst")))
    connectedComponents(edges, edgeBound = starEdgeBound(s, d))
  }

  /** (doc_a, doc_b, na, nb, n_inter) for every gram-colliding pair —
    * the inverted-index self-join. Exact; its output grows with the
    * gram collision mass, which stays moderate on this corpus up to
    * sf1 (a PPJoin-style prefix filter measured 3.8x slower there:
    * its extra shuffles cost more than the collisions it skips). */
  private def gramPairCounts(sized: DataFrame): DataFrame = {
    val s = sized.sparkSession
    import s.implicits._
    sized.as("a")
      .join(sized.as("b"),
        $"a.gram" === $"b.gram" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .groupBy($"doc_a", $"doc_b", $"na", $"nb")
      .agg(count(lit(1)).as("n_inter"))
  }

  /** dedup_ngram_jaccard body (registry + RegimeEquivalenceSpec). */
  private[ext] def ngramJaccardFrame(sized: DataFrame): DataFrame = {
    val s = sized.sparkSession
    import s.implicits._
    gramPairCounts(sized)
      .withColumn("jaccard", $"n_inter".cast("double") /
        ($"na" + $"nb" - $"n_inter").cast("double"))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** dedup_containment body (registry + RegimeEquivalenceSpec). */
  private[ext] def containmentFrame(sized: DataFrame): DataFrame = {
    val s = sized.sparkSession
    import s.implicits._
    gramPairCounts(sized)
      .withColumn("containment",
        $"n_inter".cast("double") / least($"na", $"nb").cast("double"))
      .filter($"containment" >= 0.8)
      .select($"doc_a", $"doc_b", $"n_inter", $"na", $"nb",
        $"containment")
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Exact dedup: content-hash groupBy, canonical = min id.
    Q("dedup_exact",
      (s, d) => {
        import s.implicits._
        DedupIndex.signatures(s, d)
          .groupBy($"content_hash")
          .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
          .filter($"n_copies" > 1)
      },
      Some(s"""WITH $corpusSql
        SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
          COUNT(*) AS n_copies
        FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1""")),

    // ------------------------------------------------------------------
    // MinHash signatures (shingle → 4-seed min-hash, one-pass fused).
    Q("dedup_minhash_sig",
      (s, d) => idxSigs(s, d),
      Some(s"""WITH $corpusSql, $signaturesSql
        SELECT doc_id, h1, h2, h3, h4 FROM signatures""")),

    // ------------------------------------------------------------------
    // LSH candidate pairs (band → bucket-join).
    Q("dedup_lsh_pairs",
      (s, d) => DedupIndex.candidates(s, d),
      Some(s"""WITH $corpusSql, $signaturesSql, $bandsSql
        SELECT doc_a, doc_b FROM candidates""")),

    // ------------------------------------------------------------------
    // N-gram Jaccard near-dup: inverted-index join on word 3-grams —
    // pairs materialize only where grams collide; never corpus².
    Q("dedup_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        // The gram inverted index (with per-doc counts carried on
        // every row) comes from the persisted DedupIndex — only the
        // pair generation runs per query.
        ngramJaccardFrame(
          DedupIndex.grams3(s, d).select($"doc_id", $"gram", $"n"))
      },
      Some(s"""WITH $corpusSql,
        grams AS (
          SELECT DISTINCT doc_id,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
                FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
                      FROM corpus) y) x),
        sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
          CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE)
            AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE)
              >= 0.5""")),

    // ------------------------------------------------------------------
    // SimHash: 16-bit fingerprint from per-token md5 bit votes.
    Q("dedup_simhash",
      (s, d) => {
        import s.implicits._
        // One aggregation, 16 vote columns — no bit explode: the
        // (doc, token) rows carry a 16-bit token hash value and each
        // bit contributes ±1 to its position's vote. Map-side partial
        // aggregation collapses to one row per doc before the shuffle.
        // The vote stream (distinct-token explode + 16-bit hash) is
        // the persisted DedupIndex frame — only the aggregation runs
        // per query.
        val toks = DedupIndex.toks16(s, d)
        val votes = (0 until 16).map(p =>
          sum(expr(s"2 * ((shiftright(v16, ${15 - p})) & 1) - 1"))
            .as(s"vote$p"))
        val simhash = (0 until 16).map(p =>
          expr(s"CASE WHEN vote$p > 0 THEN shiftleft(1, $p) ELSE 0 END"))
          .reduce(_ + _)
        toks.groupBy($"doc_id")
          .agg(votes.head, votes.tail: _*)
          .select($"doc_id", simhash.cast("long").as("simhash"))
      },
      Some(s"""WITH $corpusSql,
        toks AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
            FROM corpus) x),
        bits AS (
          SELECT doc_id, p,
            (2 * (((instr('0123456789abcdef',
                          substr(substr(md5(tok), 1, 4), (p // 4) + 1, 1)) - 1)
                   >> (3 - (p % 4))) & 1)) - 1 AS vote
          FROM toks, generate_series(0, 15) t(p)),
        votes AS (
          SELECT doc_id, p, SUM(vote) AS votes FROM bits GROUP BY doc_id, p)
        SELECT doc_id,
          CAST(SUM(CASE WHEN votes > 0 THEN (1 << p) ELSE 0 END) AS BIGINT)
            AS simhash
        FROM votes GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // Near-dup cluster assignment: connected components over the LSH
    // candidate graph, each doc labeled with the minimum doc_id of its
    // component (the canonical survivor a dedup pass would keep).
    //
    // The edge set is NOT the all-pairs candidates: a hot LSH bucket
    // of k docs yields k(k-1)/2 clique edges (349k at sf0.1 — and
    // quadratic blowup on a skewed 100 TB bucket), while connecting
    // every bucket member to the bucket's min doc gives the same
    // connected components with k-1 edges per bucket. The oracle runs
    // the clique form over the tiny sf — identical components,
    // identical output.
    //
    // Labels converge by distributed min propagation with pointer
    // jumping — see [[connectedComponents]], which also carries the
    // small-graph fast path the bench-scale graph takes.
    Q("dedup_cc",
      (s, d) => ccAssignments(s, d),
      Some(s"""WITH RECURSIVE $corpusSql, $signaturesSql, $bandsSql,
        edges AS (SELECT doc_a AS a, doc_b AS b FROM candidates
                  UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates),
        reach(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges
          UNION
          SELECT e.b AS v, reach.r FROM reach JOIN edges e ON e.a = reach.v)
        SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v""")),

    // ------------------------------------------------------------------
    // LSH keep-best survivor set: a doc survives iff it is the best
    // (longest normalized text, doc_id ascending as tiebreaker) in
    // EVERY LSH bucket it lands in — the standard one-pass near-dup
    // retention heuristic when full transitive clustering (dedup_cc)
    // is not worth its iteration cost. One corpus scan: length and
    // signature come from the same projection, bucket ranking is a
    // window over the banded keys (same shuffle shape as the CC edge
    // build), and the per-doc verdict is a partial-agg'd min — no
    // joins at all. Docs whose text is shorter than one shingle have
    // null band hashes; they are in no real bucket and survive by
    // definition (the `when` bypasses the window's null partition,
    // where all such docs would otherwise compete).
    Q("dedup_lsh_keep_best",
      (s, d) => {
        import s.implicits._
        val wBand = org.apache.spark.sql.expressions.Window
          .partitionBy($"band_idx", $"band_hash")
          .orderBy($"len".desc, $"doc_id")
        val sized = DedupIndex.signatures(s, d)
          .select($"doc_id", $"len", $"h1", $"h2", $"h3", $"h4")
        val banded = bandedKeys(sized, carry = Seq("len"))
        banded
          .withColumn("rk", when($"band_hash".isNull, lit(1))
            .otherwise(row_number().over(wBand)))
          .groupBy($"doc_id")
          .agg(first($"len").as("len"),
               max(when($"rk" === 1, 0).otherwise(1)).as("beaten"))
          .filter($"beaten" === 0)
          .select($"doc_id", $"len")
      },
      Some(s"""WITH $corpusSql, $signaturesSql, $bandsSql,
        lens AS (SELECT doc_id, length($normSql) AS len FROM corpus),
        ranked AS (
          SELECT b.doc_id, l.len, b.band_hash,
            CASE WHEN b.band_hash IS NULL THEN 1
                 ELSE ROW_NUMBER() OVER (
                   PARTITION BY b.band_idx, b.band_hash
                   ORDER BY l.len DESC, b.doc_id) END AS rk
          FROM bands b JOIN lens l ON l.doc_id = b.doc_id)
        SELECT doc_id, MIN(len) AS len FROM ranked
        GROUP BY doc_id
        HAVING MAX(CASE WHEN rk = 1 THEN 0 ELSE 1 END) = 0""")),

    // ------------------------------------------------------------------
    // Edit-distance verification of LSH candidates: levenshtein over
    // 64-char normalized prefixes, only for pairs that share a band
    // bucket — the verify step of a candidate/verify dedup pipeline,
    // costed per candidate, never corpus². Prefixes ride along with
    // the banded keys (same single corpus pass as the candidate
    // generation), so no join back to the corpus for text.
    Q("dedup_fuzzy_verify",
      (s, d) => {
        import s.implicits._
        // Candidates first, NARROW (id pairs only — the banded
        // self-join + distinct never carries text), then two lookup
        // joins attach the prefixes from a cheap projection with no
        // MinHash work. Carrying the 64-char prefixes through the
        // bucket self-join instead costs 3× wall time: every hot
        // bucket's k² pair rows and the dedup exchange ship 128
        // bytes of text apiece. Lookup side is broadcastable here;
        // at scale it degrades gracefully to a doc_id hash join.
        val pairs = DedupIndex.candidates(s, d)
        // Prefixes project from the stored normalized text (the
        // signature frame's nrm column) — no per-query normalization
        // pass over the corpus.
        val pfx = DedupIndex.signatures(s, d)
          .select($"doc_id", substring($"nrm", 1, 64).as("pfx"))
        pairs
          .join(pfx.select($"doc_id".as("doc_a"), $"pfx".as("pfx_a")), "doc_a")
          .join(pfx.select($"doc_id".as("doc_b"), $"pfx".as("pfx_b")), "doc_b")
          // banded DP: O(threshold·n) per pair instead of O(n²), and
          // -1 (filtered) the moment the band is exceeded — the only
          // levenshtein form worth running per-candidate at scale
          .withColumn("lev_prefix", levenshtein($"pfx_a", $"pfx_b", 8))
          .filter($"lev_prefix" >= 0)
          .select($"doc_a", $"doc_b", $"lev_prefix")
      },
      Some(s"""WITH $corpusSql, $signaturesSql, $bandsSql,
        pfx AS (
          SELECT doc_id, substr($normSql, 1, 64) AS pfx FROM corpus)
        SELECT doc_a, doc_b,
          levenshtein(pa.pfx, pb.pfx) AS lev_prefix
        FROM candidates
        JOIN pfx pa ON pa.doc_id = doc_a
        JOIN pfx pb ON pb.doc_id = doc_b
        WHERE levenshtein(pa.pfx, pb.pfx) <= 8""")),

    // ------------------------------------------------------------------
    // End-to-end dedup verdict — the table a retention pipeline
    // actually writes: EVERY corpus doc with its transitive cluster
    // id (own id when unclustered), the cluster size, and the
    // keep/drop decision (survivor = the cluster's minimum doc_id,
    // which IS the cluster id by the CC min-label construction).
    // Composes the bucket-star edge build + connectedComponents with
    // one left join back to the corpus and one cluster-partition
    // window. The join's corpus side scans once; the CC side is the
    // collapsed cluster table (small), broadcast by AQE.
    Q("dedup_verdict",
      (s, d) => {
        import s.implicits._
        val star = bucketStarEdges(bandedKeys(idxSigs(s, d)))
        val edges = star
          .unionByName(star.select($"dst".as("src"), $"src".as("dst")))
        val wCluster = org.apache.spark.sql.expressions.Window
          .partitionBy($"cluster_id")
        // the corpus doc list IS the signature frame's key column
        DedupIndex.signatures(s, d).select($"doc_id")
          .join(connectedComponents(edges,
            edgeBound = starEdgeBound(s, d)), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(wCluster))
          .withColumn("is_kept", $"doc_id" === $"cluster_id")
      },
      Some(s"""WITH RECURSIVE $corpusSql, $signaturesSql, $bandsSql,
        edges AS (SELECT doc_a AS a, doc_b AS b FROM candidates
                  UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates),
        reach(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges
          UNION
          SELECT e.b AS v, reach.r FROM reach JOIN edges e ON e.a = reach.v),
        clusters AS (
          SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        verdict AS (
          SELECT c.doc_id,
            COALESCE(cl.cluster_id, c.doc_id) AS cluster_id
          FROM corpus c LEFT JOIN clusters cl ON cl.doc_id = c.doc_id)
        SELECT doc_id, cluster_id,
          COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          doc_id = cluster_id AS is_kept
        FROM verdict""")),

    // ------------------------------------------------------------------
    // Exact-substring span dedup (Lee et al. 2022: training corpora
    // repeat SPANS across otherwise-distinct documents, so doc-level
    // dedup misses them): every 8-code-point window hash of the
    // normalized text, counted corpus-wide — spans seen in more than
    // one document are the repeated-substring inventory a span-removal
    // pass consumes. The window hashes come from the O(n) one-pass
    // RollingHashAll expression (one long[] per doc, no per-window
    // substring allocation); the count is a hash-shuffle on the span
    // hash — work scales with corpus size, never corpus². At 100 TB
    // the same shape runs with a longer window and CDC-sampled
    // boundaries (txt_cdc_chunking) to cut the explode volume; the
    // count-by-span-hash core is unchanged. The oracle recomputes
    // every window hash quadratically with the 8-term polynomial —
    // ints stay < 2^45, so its single trailing mod equals the rolling
    // per-step mod.
    Q("dedup_span_exact",
      (s, d) => {
        import s.implicits._
        // The stored span stream replaces the corpus explode — one
        // groupBy on the persisted (doc_id, h) multiset.
        DedupIndex.spans(s, d)
          .select($"doc_id", $"h".as("span_hash"))
          .groupBy($"span_hash")
          .agg(countDistinct($"doc_id").as("n_docs"),
            count(lit(1)).as("n_occ"))
          .filter($"n_docs" > 1)
      },
      Some(s"""WITH $corpusSql,
        normed AS (SELECT doc_id, $normSql AS norm FROM corpus),
        spans AS (SELECT doc_id,
          (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
           + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
           + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
           + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
           + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
           + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
           + ord(substr(norm, i + 6, 1)) * 31
           + ord(substr(norm, i + 7, 1))) % 1000000007 AS span_hash
          FROM (SELECT doc_id, norm,
            unnest(generate_series(1, length(norm) - 7)) AS i
          FROM normed) x)
        SELECT span_hash, COUNT(DISTINCT doc_id) AS n_docs,
          COUNT(*) AS n_occ
        FROM spans GROUP BY span_hash
        HAVING COUNT(DISTINCT doc_id) > 1""")),

    // ------------------------------------------------------------------
    // Per-document duplicated-span ratio — the doc-level signal the
    // span inventory (dedup_span_exact) feeds: what fraction of a
    // document's 8-gram windows also appear in some OTHER document.
    // A span is cross-doc iff its hash group's min(doc) ≠ max(doc) —
    // two window functions on ONE span_hash shuffle, no countDistinct
    // and no join back to a dup-span table (which would explode the
    // corpus a second time). The ratio is exported as integer permille
    // (1000·dup div total): exact in both engines. Exact copies score
    // 1000; the planted near-dups score just under; organic docs score
    // by shared phrasing. The drop threshold is a pipeline parameter.
    Q("dedup_span_ratio",
      (s, d) => {
        import s.implicits._
        // The stored `cross` flag IS the min≠max window — the ratio
        // collapses the persisted stream with one doc_id aggregation
        // and no span-hash exchange at query time.
        DedupIndex.spans(s, d)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            count(when($"cross", 1)).as("n_dup_spans"))
          .withColumn("dup_permille",
            expr("(1000 * n_dup_spans) div n_spans"))
      },
      Some(s"""WITH $corpusSql,
        normed AS (SELECT doc_id, $normSql AS norm FROM corpus),
        spans AS (SELECT doc_id,
          (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
           + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
           + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
           + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
           + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
           + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
           + ord(substr(norm, i + 6, 1)) * 31
           + ord(substr(norm, i + 7, 1))) % 1000000007 AS span_hash
          FROM (SELECT doc_id, norm,
            unnest(generate_series(1, length(norm) - 7)) AS i
          FROM normed) x),
        flagged AS (SELECT doc_id,
          MIN(doc_id) OVER (PARTITION BY span_hash)
            <> MAX(doc_id) OVER (PARTITION BY span_hash) AS is_dup
          FROM spans)
        SELECT doc_id, COUNT(*) AS n_spans,
          COUNT(CASE WHEN is_dup THEN 1 END) AS n_dup_spans,
          (1000 * COUNT(CASE WHEN is_dup THEN 1 END)) // COUNT(*)
            AS dup_permille
        FROM flagged GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // Duplicate-family size distribution: how many near-dup clusters
    // of each size exist — the shape report that decides whether a
    // corpus needs dedup at all (a few huge families vs a long tail
    // of pairs). Two integer-count aggregations over the CC cluster
    // assignment; sizes and counts are exact integers, so the oracle
    // (the same recursive-CTE components, re-aggregated) is
    // hash-stable by construction.
    Q("dedup_cluster_sizes",
      (s, d) => {
        import s.implicits._
        ccAssignments(s, d)
          .groupBy($"cluster_id")
          .agg(count(lit(1)).as("sz"))
          .groupBy($"sz".as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
      },
      Some(s"""WITH RECURSIVE $corpusSql, $signaturesSql, $bandsSql,
        edges AS (SELECT doc_a AS a, doc_b AS b FROM candidates
                  UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates),
        reach(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges
          UNION
          SELECT e.b AS v, reach.r FROM reach JOIN edges e ON e.a = reach.v),
        comp AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v),
        sizes AS (SELECT cluster_id, COUNT(*) AS sz
                  FROM comp GROUP BY cluster_id)
        SELECT sz AS cluster_size, COUNT(*) AS n_clusters
        FROM sizes GROUP BY sz""")),

    // ------------------------------------------------------------------
    // Asymmetric containment: |A∩B| / min(|A|,|B|) over distinct
    // token 3-grams — the measure that catches a small document
    // EMBEDDED in a larger one, which symmetric Jaccard dilutes
    // below threshold (|A∩B|/|A∪B| → small when |B| ≫ |A|). Same
    // inverted-index pair generation and window-carried gram counts
    // as dedup_ngram_jaccard (one corpus scan, no sizes join-back);
    // the intersection count is exact-integer, the ratio one IEEE
    // division. Docs shorter than 3 tokens are excluded — both
    // engines then build identical gram sets (no partial-gram
    // fabrication at the tail).
    Q("dedup_containment",
      (s, d) => {
        import s.implicits._
        // Sub-3-token docs are excluded via the stored ge3 flag (a
        // ge3 doc's stored gram set and count are exactly the
        // complete-trigram set this query derived inline before).
        containmentFrame(DedupIndex.grams3(s, d)
          .filter($"ge3").select($"doc_id", $"gram", $"n"))
      },
      Some(s"""WITH $corpusSql,
        grams AS (
          SELECT DISTINCT doc_id,
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks) - 2)) AS i
                FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
                      FROM corpus) y
                WHERE len(toks) >= 3) x),
        sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b, n_inter, sa.n_grams AS na, sb.n_grams AS nb,
          CAST(n_inter AS DOUBLE) / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE)
            AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE)
              >= 0.8""")),

    // ------------------------------------------------------------------
    // Sketch-accuracy evaluation (the dedup sibling of
    // sim_ivf_recall): for every LSH candidate pair, the MinHash
    // Jaccard ESTIMATE (matching signature components / 4) against
    // the TRUE Jaccard over the same 5-char-shingle hash universe the
    // signature sketches — the measurement that calibrates band/seed
    // counts before a dedup run commits. True sets come from the
    // O(n) RollingHashAll expression (array_distinct per doc, narrow);
    // intersections are computed candidate-first (grams join the
    // pair list, never an open self-join), so the evaluation cost
    // scales with candidates — and because an accuracy estimate only
    // needs a sample, the pair list is thinned 10× by a deterministic
    // md5 pick (salted pair hash, the txt_split_hash device: identical
    // in any engine/partitioning, unlike rand()) BEFORE grams attach.
    // At 10⁹ docs this sampled scorer is exactly what runs. Every
    // output is an exact integer ppm: estimate, truth, and absolute
    // error. An inner intersection join is safe because equal band
    // mins under an injective affine transform force a shared shingle
    // (n_inter >= 1 for every candidate).
    Q("dedup_minhash_accuracy",
      (s, d) => {
        import s.implicits._
        val sigs = idxSigs(s, d)
        // Scale-adaptive sample modulus: the LSH candidate set grows
        // superlinearly when the shingle space saturates, so the
        // fixed 1/10 pick made the eval's gram join grow with
        // corpus², not with the information an accuracy estimate
        // needs. The modulus scales with corpus size (10·S, S =
        // ceil(n_docs/10000)) so the EXPECTED sampled-pair count
        // stays bounded; because 10·S is a multiple of 10, each
        // larger corpus samples a nested SUBSET of the smaller
        // corpus's picks. At every oracle-gated SF (50/500/5000
        // docs) S = 1 and the output is bit-identical to the fixed
        // 1/10 form. The same COUNT(*)-derived modulus is computed
        // inside the oracle SQL, so the two engines stay equal at
        // EVERY scale, sf1 included.
        val sampleMod = 10L * ((Tables.rowCount(s, d, "documents") +
          accDocsPerStep - 1) / accDocsPerStep)
        val cands = DedupIndex.candidates(s, d)
          .filter(conv(substring(md5(concat_ws("|",
            lit("acc:"), $"doc_a", $"doc_b")), 1, 4), 16, 10)
            .cast("long") % sampleMod === 0)
        val hg = DedupIndex.hgrams5(s, d)
          .withColumnRenamed("n", "n_grams")
        val inter = cands
          .join(hg.select($"doc_id".as("da"), $"h", $"n_grams".as("n_a")),
            $"doc_a" === $"da")
          .join(hg.select($"doc_id".as("db"), $"h".as("hb"),
            $"n_grams".as("n_b")),
            $"doc_b" === $"db" && $"h" === $"hb")
          .groupBy($"doc_a", $"doc_b")
          .agg(count(lit(1)).as("n_inter"),
            min($"n_a").as("n_a"), min($"n_b").as("n_b"))
        val est = cands
          .join(sigs.select($"doc_id".as("doc_a"), $"h1".as("a1"),
            $"h2".as("a2"), $"h3".as("a3"), $"h4".as("a4")), "doc_a")
          .join(sigs.select($"doc_id".as("doc_b"), $"h1".as("b1"),
            $"h2".as("b2"), $"h3".as("b3"), $"h4".as("b4")), "doc_b")
          .select($"doc_a", $"doc_b",
            (when($"a1" === $"b1", 1L).otherwise(0L) +
             when($"a2" === $"b2", 1L).otherwise(0L) +
             when($"a3" === $"b3", 1L).otherwise(0L) +
             when($"a4" === $"b4", 1L).otherwise(0L)).as("matches"))
        inter.join(est, Seq("doc_a", "doc_b"))
          .select($"doc_a", $"doc_b", $"n_inter", $"n_a", $"n_b",
            ($"matches" * lit(250000L)).as("est_ppm"),
            expr("n_inter * 1000000 div (n_a + n_b - n_inter)")
              .as("true_ppm"))
          .withColumn("err_ppm", abs($"est_ppm" - $"true_ppm"))
      },
      Some(s"""WITH $corpusSql, $signaturesSql, $bandsSql,
        smod AS (SELECT 10 * ((COUNT(*) + ${accDocsPerStep - 1}) // $accDocsPerStep) AS m
                 FROM documents),
        sampled AS (
          SELECT doc_a, doc_b FROM candidates
          WHERE ${hex4Sql("md5('acc:' || '|' || CAST(doc_a AS VARCHAR) " +
            "|| '|' || CAST(doc_b AS VARCHAR))")}
            % (SELECT m FROM smod) = 0),
        hgrams AS (
          SELECT DISTINCT doc_id, h FROM (
            SELECT doc_id,
              CASE WHEN length(norm) >= 5 THEN
                (CAST(ord(substr(norm, i, 1)) AS BIGINT) * 923521
                 + CAST(ord(substr(norm, i + 1, 1)) AS BIGINT) * 29791
                 + CAST(ord(substr(norm, i + 2, 1)) AS BIGINT) * 961
                 + CAST(ord(substr(norm, i + 3, 1)) AS BIGINT) * 31
                 + ord(substr(norm, i + 4, 1))) % 1000000007 END AS h
            FROM (SELECT doc_id, norm,
                    unnest(generate_series(1, greatest(length(norm) - 4, 1)))
                      AS i
                  FROM (SELECT doc_id, $normSql AS norm FROM corpus) y) x) w
          WHERE h IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM hgrams GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
          FROM sampled c
          JOIN hgrams ga ON ga.doc_id = c.doc_a
          JOIN hgrams gb ON gb.doc_id = c.doc_b AND gb.h = ga.h
          GROUP BY c.doc_a, c.doc_b),
        est AS (
          SELECT c.doc_a, c.doc_b,
            CAST(CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
               + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END
               + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
               + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END AS BIGINT)
              AS matches
          FROM sampled c
          JOIN signatures sa ON sa.doc_id = c.doc_a
          JOIN signatures sb ON sb.doc_id = c.doc_b)
        SELECT i.doc_a, i.doc_b, i.n_inter,
          sa.n AS n_a, sb.n AS n_b,
          e.matches * 250000 AS est_ppm,
          i.n_inter * 1000000 // (sa.n + sb.n - i.n_inter) AS true_ppm,
          abs(e.matches * 250000
            - i.n_inter * 1000000 // (sa.n + sb.n - i.n_inter)) AS err_ppm
        FROM inter i
        JOIN est e ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b""")),

    // ------------------------------------------------------------------
    // Span SCRUB — the rewrite ACTION the dedup_span_exact inventory
    // feeds (Lee et al. 2022 deduplicate-substrings, end to end):
    // every 8-char window whose hash appears in MORE THAN ONE document
    // is masked out of the text with '*', leaving the document's
    // unique content intact. Cross-doc flags come from min≠max doc
    // windows over ONE span-hash shuffle (dedup_span_ratio's device —
    // no join back to a dup table). The rewrite is the DISTRIBUTED
    // formulation: dup windows explode to masked char positions, the
    // text explodes to (pos, char) rows, one left join marks masked
    // chars, one aggregation reassembles the string (array_sort AFTER
    // collect — the ev_user_journey rule). Every stage is codegen'd
    // rows: the per-char lambda-HOF form (exists() inside transform())
    // evaluates interpreted per element and measured 17 s at sf0.1 vs
    // ~4 s for this shape. Output is deterministic text + exact
    // counts, so the whole rewrite is hash-checked cross-engine.
    Q("dedup_span_scrub",
      (s, d) => {
        import s.implicits._
        // the rewrite input is the STORED normalized text — the one
        // remaining per-query corpus scan this query had
        val normed = DedupIndex.signatures(s, d)
          .select($"doc_id", $"nrm".as("norm"))
        // The stored span stream carries the cross-doc flag — the
        // scrub starts from the persisted dup windows directly (no
        // corpus explode, no span-hash window exchange at query
        // time; the text scan below feeds only the final rewrite).
        val dup = DedupIndex.spans(s, d).filter($"cross")
        val nDup = dup.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_dup_windows"))
        // Merge overlapping/adjacent windows into ISLANDS (consecutive
        // starts ≤ 8 apart cover one contiguous [lo, hi+7] range;
        // starts > 8 apart leave at least one unmasked char between,
        // so islands are disjoint and sorted). The islands window
        // shares the dup rows' (doc_id, i) sort. The rewrite then
        // builds each scrubbed string DIRECTLY from its islands array
        // with one fold — substring segments interleaved with '*'
        // runs — instead of exploding the whole corpus to (pos, char)
        // rows, left-joining the mask, and re-sorting every document's
        // characters (that shape moved corpus-length rows through a
        // shuffle and measured ~6 s at sf0.1; this one's heavy rows
        // end at the island rollup, ~spans count, and the fold is
        // O(chars) concat work with no per-char rows at all).
        // Positions are code points end to end: rollingHashAll indexes
        // code points, and Spark's substring/length count code points
        // exactly like the oracle's substr/length.
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"i")
        val islands = dup
          .withColumn("brk",
            when($"i" - lag($"i", 1).over(wDoc) > 8, 1).otherwise(0))
          .withColumn("isl", sum($"brk").over(wDoc.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy($"doc_id", $"isl")
          .agg(min($"i").as("lo"), (max($"i") + 7).as("hi"))
          .groupBy($"doc_id")
          .agg(sum($"hi" - $"lo" + 1).as("n_masked"),
            array_sort(collect_list(struct($"lo", $"hi"))).as("spans"))
        normed
          .join(nDup, Seq("doc_id"), "left")
          .join(islands, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_dup_windows", lit(0L)).as("n_dup_windows"),
            coalesce($"n_masked", lit(0L)).as("n_masked"),
            when($"spans".isNull, $"norm").otherwise(expr(
              """aggregate(spans,
                   named_struct('p', 1, 'acc', CAST('' AS STRING)),
                   (st, s) -> named_struct(
                     'p', s.hi + 1,
                     'acc', concat(st.acc,
                       substring(norm, st.p, s.lo - st.p),
                       repeat('*', s.hi - s.lo + 1))),
                   st -> concat(st.acc,
                     substring(norm, st.p, length(norm) - st.p + 1)))"""
            )).as("scrubbed"))
      },
      Some(s"""WITH $corpusSql,
        normed AS (SELECT doc_id, $normSql AS norm FROM corpus),
        spans AS (SELECT doc_id, i,
          (ord(substr(norm, i, 1)) * CAST(pow(31, 7) AS BIGINT)
           + ord(substr(norm, i + 1, 1)) * CAST(pow(31, 6) AS BIGINT)
           + ord(substr(norm, i + 2, 1)) * CAST(pow(31, 5) AS BIGINT)
           + ord(substr(norm, i + 3, 1)) * CAST(pow(31, 4) AS BIGINT)
           + ord(substr(norm, i + 4, 1)) * CAST(pow(31, 3) AS BIGINT)
           + ord(substr(norm, i + 5, 1)) * CAST(pow(31, 2) AS BIGINT)
           + ord(substr(norm, i + 6, 1)) * 31
           + ord(substr(norm, i + 7, 1))) % 1000000007 AS span_hash
          FROM (SELECT doc_id, norm,
            unnest(generate_series(1, length(norm) - 7)) AS i
          FROM normed) x),
        marked AS (
          SELECT doc_id, i FROM (
            SELECT doc_id, i,
              MIN(doc_id) OVER (PARTITION BY span_hash)
                <> MAX(doc_id) OVER (PARTITION BY span_hash) AS crossdoc
            FROM spans) m
          WHERE crossdoc),
        starts AS (
          SELECT doc_id, list_sort(list(i)) AS starts,
            COUNT(*) AS n_dup_windows
          FROM marked GROUP BY doc_id)
        SELECT n.doc_id,
          COALESCE(s.n_dup_windows, 0) AS n_dup_windows,
          CAST(len(list_filter(generate_series(1, length(n.norm)),
            c -> len(list_filter(COALESCE(s.starts, []),
              st -> c >= st AND c < st + 8)) > 0)) AS BIGINT) AS n_masked,
          array_to_string(list_transform(
            generate_series(1, length(n.norm)),
            c -> CASE WHEN len(list_filter(COALESCE(s.starts, []),
                   st -> c >= st AND c < st + 8)) > 0
                 THEN '*' ELSE substr(n.norm, c, 1) END), '') AS scrubbed
        FROM normed n LEFT JOIN starts s ON s.doc_id = n.doc_id""")),

    // ------------------------------------------------------------------
    // The full production dedup stack in one verdict: LEXICAL MinHash
    // LSH band edges (dedup_verdict's half) UNIONED with SEMANTIC
    // embedding near-dup edges (sim_semantic_verdict's half, vec_id ≡
    // doc_id) feed one connected-components pass, so a document is
    // dropped when it is transitively duplicated through ANY mix of
    // the two signals — the exact composition a pretraining pipeline
    // ships (lexical catches copies/templates, semantic catches
    // paraphrase). Runs on the natural documents table (no synthetic
    // copies): what survives here is the corpus a training run would
    // actually keep. Edge sets stay candidate-sized (band buckets,
    // label blocks); the CC side is the collapsed cluster table.
    Q("dedup_stack_verdict",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        val lex = bucketStarEdges(bandedKeys(idxSigsNatural(s, d)))
        // Bounded-block regime on the semantic pair scan — the same
        // device as dedup_onion stage 3 / sim_semantic_verdict
        // (Similarity.exactBlockCap): beyond the cap each label block
        // sub-splits deterministically so in-block pair mass grows
        // linearly with corpus size; below it (every oracle-gated SF)
        // the join is bit-identical to the plain label join. Mirrored
        // by the oracle SQL (embsub) and by
        // tools/check_closure_replays.py at sf1.
        val nS = Similarity.blockSplits(s, d)
        val emb0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
          .withColumn("nrm", sqrt(Similarity.dot($"embedding", $"embedding")))
        val emb = if (nS <= 1) emb0
          else emb0.withColumn("blk", Similarity.subBlock($"vec_id", nS))
        val semCond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") < col("b.vec_id")
        val sem = emb.as("a").join(emb.as("b"), semCond)
          .withColumn("cos",
            Similarity.dot(col("a.embedding"), col("b.embedding")) /
              (col("a.nrm") * col("b.nrm")))
          .filter($"cos" > 0.95)
          .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        val und = lex.unionByName(sem)
        val edges = und.unionByName(
          und.select($"dst".as("src"), $"src".as("dst")))
        val wCluster = org.apache.spark.sql.expressions.Window
          .partitionBy($"cluster_id")
        docs.select($"doc_id")
          .join(connectedComponents(edges), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(wCluster))
          .withColumn("is_kept", $"doc_id" === $"cluster_id")
      },
      Some(s"""WITH RECURSIVE corpus AS (
          SELECT doc_id, text FROM documents),
        $signaturesSql, $bandsSql,
        ${Similarity.embSubSql},
        sem_pairs AS (
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
          FROM embsub a JOIN embsub b
            ON a.label = b.label AND a.blk = b.blk AND a.vec_id < b.vec_id
          WHERE ${Similarity.dotSql("a.embedding", "b.embedding")} /
                (sqrt(${Similarity.dotSql("a.embedding", "a.embedding")}) *
                 sqrt(${Similarity.dotSql("b.embedding", "b.embedding")}))
                > 0.95),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM candidates
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates
          UNION ALL SELECT doc_a AS a, doc_b AS b FROM sem_pairs
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM sem_pairs),
        reach(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges
          UNION
          SELECT e.b AS v, reach.r FROM reach JOIN edges e ON e.a = reach.v),
        clusters AS (
          SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        verdict AS (
          SELECT c.doc_id,
            COALESCE(cl.cluster_id, c.doc_id) AS cluster_id
          FROM corpus c LEFT JOIN clusters cl ON cl.doc_id = c.doc_id)
        SELECT doc_id, cluster_id,
          COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          doc_id = cluster_id AS is_kept
        FROM verdict""")),

    // ------------------------------------------------------------------
    // Per-source dedup cost — the report a corpus owner reads after
    // a dedup run: for each ingestion source, how many documents and
    // tokens the lexical MinHash-LSH verdict would drop, in exact
    // permille. Sources with high drop rates are over-crawled or
    // templated (the signal that re-weights the next crawl); token
    // drop diverging from doc drop says the duplicates skew long or
    // short. Composes the natural-corpus band edges +
    // connectedComponents with ONE corpus-side left join; the
    // per-source rollup collapses before any ratio divides two exact
    // integers once. Same recursive-CTE oracle as the verdict
    // queries, aggregated by the joined source column.
    Q("dedup_source_impact",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select($"doc_id", $"source", $"text")
        val star = bucketStarEdges(bandedKeys(idxSigsNatural(s, d)))
        val edges = star
          .unionByName(star.select($"dst".as("src"), $"src".as("dst")))
        docs
          .withColumn("n_toks",
            size(split(trim(lower($"text")), "\\s+")).cast("long"))
          .join(connectedComponents(edges,
            edgeBound = starEdgeBound(s, d)), Seq("doc_id"), "left")
          .withColumn("kept",
            $"cluster_id".isNull || $"doc_id" === $"cluster_id")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(!$"kept", 1)).as("n_dropped"),
            sum($"n_toks").as("tok_total"),
            coalesce(sum(when(!$"kept", $"n_toks")), lit(0L))
              .as("tok_dropped"))
          .withColumn("drop_permille",
            expr("1000 * n_dropped div n_docs"))
          .withColumn("tok_drop_permille",
            expr("1000 * tok_dropped div tok_total"))
      },
      Some(s"""WITH RECURSIVE corpus AS (
          SELECT doc_id, text FROM documents),
        $signaturesSql, $bandsSql,
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM candidates
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates),
        reach(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges
          UNION
          SELECT e.b AS v, reach.r FROM reach JOIN edges e ON e.a = reach.v),
        clusters AS (
          SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        verdict AS (
          SELECT d.doc_id, d.source,
            len(string_split_regex(trim(lower(d.text)), '\\s+')) AS n_toks,
            cl.cluster_id IS NULL OR d.doc_id = cl.cluster_id AS kept
          FROM documents d LEFT JOIN clusters cl ON cl.doc_id = d.doc_id)
        SELECT source, COUNT(*) AS n_docs,
          COUNT(CASE WHEN NOT kept THEN 1 END) AS n_dropped,
          CAST(SUM(n_toks) AS BIGINT) AS tok_total,
          CAST(COALESCE(SUM(CASE WHEN NOT kept THEN n_toks END), 0)
            AS BIGINT) AS tok_dropped,
          1000 * COUNT(CASE WHEN NOT kept THEN 1 END) // COUNT(*)
            AS drop_permille,
          CAST(1000 * COALESCE(SUM(CASE WHEN NOT kept THEN n_toks END), 0)
            // SUM(n_toks) AS BIGINT) AS tok_drop_permille
        FROM verdict GROUP BY source""")),

    // ------------------------------------------------------------------
    // Onion dedup — the STAGED pipeline production corpora actually
    // run, cheapest signal first, each stage seeing only the
    // previous stage's survivors: (1) exact content-hash dedup, (2)
    // lexical MinHash-LSH connected components over the exact
    // survivors, (3) semantic embedding near-dup components over
    // what remains. Staging is not just cost order — it changes the
    // answer (a doc dropped as an exact copy never welds a lexical
    // cluster; a lexical drop never bridges a semantic one), which
    // is why the per-doc verdict records WHICH stage dropped each
    // document — the attribution that tells a corpus owner whether
    // copies, templates, or paraphrase dominate their duplication.
    // Each stage shrinks the frame before the next (the onion's
    // whole point at 100 TB); stage edges stay candidate-sized;
    // semantic pairs semi-join both endpoints against the remaining
    // set before any scoring. Oracle: two recursive CTEs walking the
    // same staged graphs.
    Q("dedup_onion",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id")
        // stage 1: exact — the stored content_hash over natural docs
        // (no text scan; the exact-survivor set is a filter of the
        // signature frame, so stage 2 bands stored signatures too)
        val wHash = org.apache.spark.sql.expressions.Window
          .partitionBy($"content_hash")
        val f1 = DedupIndex.signatures(s, d).filter($"base" === "nat")
          .withColumn("canon", min($"doc_id").over(wHash))
          .select($"doc_id", $"h1", $"h2", $"h3", $"h4",
            ($"doc_id" =!= $"canon").as("drop_exact"))
        val s1 = f1.filter(!$"drop_exact")
        // stage 2: lexical CC over exact survivors
        val star = bucketStarEdges(bandedKeys(
          s1.select($"doc_id", $"h1", $"h2", $"h3", $"h4")))
        val cc2 = connectedComponents(star
          .unionByName(star.select($"dst".as("src"), $"src".as("dst"))),
          edgeBound = starEdgeBound(s, d))
        val f2 = s1.select($"doc_id")
          .join(cc2.withColumnRenamed("cluster_id", "lex_cluster"),
            Seq("doc_id"), "left")
          .withColumn("drop_lex",
            $"lex_cluster".isNotNull && $"doc_id" =!= $"lex_cluster")
        val s2 = f2.filter(!$"drop_lex").select($"doc_id")
        // stage 3: semantic CC over what remains (vec_id ≡ doc_id).
        // Bounded-block regime (Similarity.exactBlockCap): beyond
        // the cap each label block sub-splits deterministically so
        // the in-block pair scan grows linearly with corpus size;
        // below it (every oracle-gated SF) the join is bit-identical
        // to the plain label join. Mirrored by the onion oracle SQL
        // and by tools/check_closure_replays.py at sf1.
        val nS = Similarity.blockSplits(s, d)
        val emb0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
          .join(s2.select($"doc_id".as("vec_id")), Seq("vec_id"), "semi")
          .withColumn("nrm", sqrt(Similarity.dot($"embedding", $"embedding")))
        val emb = if (nS <= 1) emb0
          else emb0.withColumn("blk", Similarity.subBlock($"vec_id", nS))
        val semCond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") < col("b.vec_id")
        val sem = emb.as("a").join(emb.as("b"), semCond)
          .withColumn("cos",
            Similarity.dot(col("a.embedding"), col("b.embedding")) /
              (col("a.nrm") * col("b.nrm")))
          .filter($"cos" > 0.95)
          .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        val cc3 = connectedComponents(sem
          .unionByName(sem.select($"dst".as("src"), $"src".as("dst"))))
        docs.select($"doc_id")
          .join(f1.select($"doc_id", $"drop_exact"), "doc_id")
          .join(f2.select($"doc_id", $"drop_lex"), Seq("doc_id"), "left")
          .join(cc3.withColumnRenamed("cluster_id", "sem_cluster")
            .withColumnRenamed("doc_id", "doc_id"), Seq("doc_id"), "left")
          .select($"doc_id",
            when($"drop_exact", "exact")
              .when(coalesce($"drop_lex", lit(false)), "lexical")
              .when($"sem_cluster".isNotNull && $"doc_id" =!= $"sem_cluster",
                "semantic")
              .otherwise("kept").as("drop_stage"))
      },
      Some(s"""WITH RECURSIVE e1 AS (
          SELECT doc_id, text,
            MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
          FROM documents),
        corpus AS (SELECT doc_id, text FROM e1 WHERE doc_id = canon),
        $signaturesSql, $bandsSql,
        edges2 AS (
          SELECT doc_a AS a, doc_b AS b FROM candidates
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates),
        reach2(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges2
          UNION
          SELECT e.b AS v, reach2.r FROM reach2
          JOIN edges2 e ON e.a = reach2.v),
        clusters2 AS (
          SELECT v AS doc_id, MIN(r) AS lex_cluster FROM reach2 GROUP BY v),
        f2 AS (
          SELECT c.doc_id, cl.lex_cluster
          FROM corpus c LEFT JOIN clusters2 cl ON cl.doc_id = c.doc_id),
        s2 AS (
          SELECT doc_id FROM f2
          WHERE lex_cluster IS NULL OR doc_id = lex_cluster),
        ${Similarity.embSubSql},
        sem_pairs AS (
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
          FROM embsub a
          JOIN embsub b ON a.label = b.label AND a.blk = b.blk
            AND a.vec_id < b.vec_id
          JOIN s2 sa ON sa.doc_id = a.vec_id
          JOIN s2 sb ON sb.doc_id = b.vec_id
          WHERE ${Similarity.dotSql("a.embedding", "b.embedding")} /
                (sqrt(${Similarity.dotSql("a.embedding", "a.embedding")}) *
                 sqrt(${Similarity.dotSql("b.embedding", "b.embedding")}))
                > 0.95),
        edges3 AS (
          SELECT doc_a AS a, doc_b AS b FROM sem_pairs
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM sem_pairs),
        reach3(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges3
          UNION
          SELECT e.b AS v, reach3.r FROM reach3
          JOIN edges3 e ON e.a = reach3.v),
        clusters3 AS (
          SELECT v AS doc_id, MIN(r) AS sem_cluster FROM reach3 GROUP BY v)
        SELECT d.doc_id,
          CASE WHEN d.doc_id <> e1.canon THEN 'exact'
               WHEN f2.lex_cluster IS NOT NULL
                    AND d.doc_id <> f2.lex_cluster THEN 'lexical'
               WHEN c3.sem_cluster IS NOT NULL
                    AND d.doc_id <> c3.sem_cluster THEN 'semantic'
               ELSE 'kept' END AS drop_stage
        FROM documents d
        JOIN e1 ON e1.doc_id = d.doc_id
        LEFT JOIN f2 ON f2.doc_id = d.doc_id
        LEFT JOIN clusters3 c3 ON c3.doc_id = d.doc_id""")),

    // ------------------------------------------------------------------
    // LSH recall curve (the banding S-curve, measured): on a salted
    // 1/32 sample of CONTENT GROUPS (a planted twin samples with its
    // original — sampling ids independently would lose exactly the
    // high-similarity pairs the curve exists to measure), every
    // sampled pair's TRUE 5-gram Jaccard is computed exhaustively,
    // bucketed into deciles, and scored against whether the 2-band
    // MinHash banding would have caught it (a band matches ⇔ the
    // pair is an LSH candidate, by construction — no candidate join
    // needed). The output is the measured probability-of-detection
    // curve that picks bands×rows before a dedup config ships:
    // recall ≈ 1 above the design threshold, the miss rate below it
    // quantified per bucket. Ground truth is quadratic BY DESIGN,
    // which is why it runs on the salted sample — the same
    // eval-on-a-sample shape as dedup_minhash_accuracy, but with
    // TRUE pair enumeration (catching LSH's false negatives, which
    // a candidates-only eval cannot see).
    Q("dedup_lsh_recall_curve",
      (s, d) => {
        import s.implicits._
        // The salted group-hash sample predicate is a pure function
        // of doc_id, so both the signature and shingle-universe
        // sides are FILTERS of the stored index frames. The
        // threshold is scale-adaptive (see [[groupSampleThreshold]])
        // so the all-pairs ground truth stays bounded as the corpus
        // grows; at every oracle-gated SF it is bit-identical to the
        // original 1/32 pick.
        val sampled = groupSampled(groupSampleThreshold(s, d))
        val sigs = idxSigs(s, d).filter(sampled)
        val hgAll = DedupIndex.hgrams5(s, d).filter(sampled)
        val hg = hgAll.select($"doc_id", $"h")
        val sizes = hgAll.select($"doc_id", $"n").distinct()
        val ids = sizes.select($"doc_id")
        val pairs = ids.select($"doc_id".as("doc_a"))
          .join(broadcast(ids.select($"doc_id".as("doc_b"))),
            $"doc_a" < $"doc_b")
        val co = hg.select($"doc_id".as("doc_a"), $"h")
          .join(hg.select($"doc_id".as("doc_b"), $"h".as("hb")),
            $"h" === $"hb" && $"doc_a" < $"doc_b")
          .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_inter"))
        pairs
          .join(co, Seq("doc_a", "doc_b"), "left")
          .withColumn("n_inter", coalesce($"n_inter", lit(0L)))
          .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), "doc_a")
          .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), "doc_b")
          .join(sigs.select($"doc_id".as("doc_a"), $"h1".as("a1"),
            $"h2".as("a2"), $"h3".as("a3"), $"h4".as("a4")), "doc_a")
          .join(sigs.select($"doc_id".as("doc_b"), $"h1".as("b1"),
            $"h2".as("b2"), $"h3".as("b3"), $"h4".as("b4")), "doc_b")
          .withColumn("true_ppm",
            expr("n_inter * 1000000 div (n_a + n_b - n_inter)"))
          .withColumn("caught",
            ($"a1" === $"b1" && $"a2" === $"b2") ||
            ($"a3" === $"b3" && $"a4" === $"b4"))
          .groupBy(expr("true_ppm div 100000").as("sim_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            count(when($"caught", 1)).as("n_caught"))
          .withColumn("recall_ppm",
            expr("n_caught * 1000000 div n_pairs"))
      },
      Some(s"""WITH full_corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 100000, text FROM documents
            WHERE doc_id % 10 = 0
          UNION ALL SELECT doc_id + 200000, text || ' xtra' FROM documents
            WHERE doc_id % 7 = 0),
        $sampleThrSql,
        corpus AS (
          SELECT doc_id, text FROM full_corpus
          WHERE $groupSampledSql),
        $signaturesSql,
        hgrams AS (
          SELECT DISTINCT doc_id, h FROM (
            SELECT doc_id,
              CASE WHEN length(norm) >= 5 THEN
                (CAST(ord(substr(norm, i, 1)) AS BIGINT) * 923521
                 + CAST(ord(substr(norm, i + 1, 1)) AS BIGINT) * 29791
                 + CAST(ord(substr(norm, i + 2, 1)) AS BIGINT) * 961
                 + CAST(ord(substr(norm, i + 3, 1)) AS BIGINT) * 31
                 + ord(substr(norm, i + 4, 1))) % 1000000007 END AS h
            FROM (SELECT doc_id, norm,
                    unnest(generate_series(1, greatest(length(norm) - 4, 1)))
                      AS i
                  FROM (SELECT doc_id, $normSql AS norm FROM corpus) y) x) w
          WHERE h IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM hgrams GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id),
        co AS (
          SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM hgrams ga JOIN hgrams gb
            ON gb.h = ga.h AND ga.doc_id < gb.doc_id
          GROUP BY 1, 2),
        scored AS (
          SELECT p.doc_a, p.doc_b,
            COALESCE(co.n_inter, 0) AS n_inter, sa.n AS n_a, sb.n AS n_b,
            COALESCE(co.n_inter, 0) * 1000000
              // (sa.n + sb.n - COALESCE(co.n_inter, 0)) AS true_ppm,
            (ga.h1 = gb2.h1 AND ga.h2 = gb2.h2)
              OR (ga.h3 = gb2.h3 AND ga.h4 = gb2.h4) AS caught
          FROM pairs p
          LEFT JOIN co ON co.doc_a = p.doc_a AND co.doc_b = p.doc_b
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b
          JOIN signatures ga ON ga.doc_id = p.doc_a
          JOIN signatures gb2 ON gb2.doc_id = p.doc_b)
        SELECT true_ppm // 100000 AS sim_bucket, COUNT(*) AS n_pairs,
          COUNT(CASE WHEN caught THEN 1 END) AS n_caught,
          COUNT(CASE WHEN caught THEN 1 END) * 1000000 // COUNT(*)
            AS recall_ppm
        FROM scored GROUP BY 1""")),

    // ------------------------------------------------------------------
    // Shingle-size sweep — the OTHER dedup dial beside bands×rows
    // (dedup_lsh_recall_curve): on the same salted content-group
    // sample, every pair's true Jaccard at shingle sizes 4, 5 and 6,
    // summarized per size as mean similarity and the count above the
    // 0.8 near-dup threshold. Shorter shingles inflate similarity
    // (more incidental matches), longer ones deflate it — this
    // measures how much, on the corpus's own text, before a shingle
    // size ships. One RollingHashAll pass per size over the sampled
    // docs only; per-pair Jaccards are exact integer ppm and the
    // mean divides two exact integers once.
    Q("dedup_shingle_sweep",
      (s, d) => {
        import s.implicits._
        // Scale-adaptive sample threshold — same device and
        // rationale as dedup_lsh_recall_curve (bit-identical to the
        // fixed 1/32 pick at every oracle-gated SF).
        val sampled = groupSampled(groupSampleThreshold(s, d))
        val base = corpus(s, d).filter(sampled)
        def jaccards(k: Int): DataFrame = {
          // k = 5 is EXACTLY the persisted DedupIndex shingle
          // universe (per-doc distinct rolling hashes): read it and
          // filter to the sample — per-doc gram sets are unchanged
          // under doc sampling. The 4 and 6 arms are the sweep's
          // novel work and derive in-session.
          val hg =
            if (k == 5)
              DedupIndex.hgrams5(s, d).filter(sampled)
                .select($"doc_id", $"h")
            else base.select($"doc_id",
              explode(array_distinct(graft.functions.NativeFunctions
                .rollingHashAll(norm($"text"), k))).as("h"))
          val sizes = hg.groupBy($"doc_id").agg(count(lit(1)).as("n"))
          val pairs = sizes.select($"doc_id".as("doc_a"), $"n".as("n_a"))
            .join(broadcast(sizes.select($"doc_id".as("doc_b"),
              $"n".as("n_b"))), $"doc_a" < $"doc_b")
          val co = hg.select($"doc_id".as("doc_a"), $"h")
            .join(hg.select($"doc_id".as("doc_b"), $"h".as("hb")),
              $"h" === $"hb" && $"doc_a" < $"doc_b")
            .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_inter"))
          pairs.join(co, Seq("doc_a", "doc_b"), "left")
            .withColumn("n_inter", coalesce($"n_inter", lit(0L)))
            .select(lit(k.toLong).as("shingle_k"),
              expr("n_inter * 1000000 div (n_a + n_b - n_inter)")
                .as("jacc_ppm"))
        }
        jaccards(4).unionByName(jaccards(5)).unionByName(jaccards(6))
          .groupBy($"shingle_k")
          .agg(count(lit(1)).as("n_pairs"),
            sum($"jacc_ppm").as("sum_jacc"),
            count(when($"jacc_ppm" >= 800000, 1)).as("n_above_08"))
          .select($"shingle_k", $"n_pairs",
            expr("sum_jacc div n_pairs").as("mean_jacc_ppm"),
            $"n_above_08")
      },
      Some {
        def arm(k: Int) =
          s"""(SELECT CAST($k AS BIGINT) AS shingle_k,
              COALESCE(co.n_inter, 0) * 1000000
                // (sa.n + sb.n - COALESCE(co.n_inter, 0)) AS jacc_ppm
            FROM (SELECT a.doc_id AS doc_a, a.n AS n_a,
                    b.doc_id AS doc_b, b.n AS n_b
                  FROM sizes$k a JOIN sizes$k b ON a.doc_id < b.doc_id) p
            LEFT JOIN (
              SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
                COUNT(*) AS n_inter
              FROM hgrams$k ga JOIN hgrams$k gb
                ON gb.h = ga.h AND ga.doc_id < gb.doc_id
              GROUP BY 1, 2) co
              ON co.doc_a = p.doc_a AND co.doc_b = p.doc_b
            JOIN sizes$k sa ON sa.doc_id = p.doc_a
            JOIN sizes$k sb ON sb.doc_id = p.doc_b)"""
        def grams(k: Int) = {
          val terms = (0 until k).map { i =>
            s"CAST(ord(substr(norm, i + $i, 1)) AS BIGINT) * " +
              s"${math.pow(31, k - 1 - i).toLong}"
          }.mkString("\n                 + ")
          s"""hgrams$k AS (
            SELECT DISTINCT doc_id, h FROM (
              SELECT doc_id,
                CASE WHEN length(norm) >= $k THEN
                  ($terms) % 1000000007 END AS h
              FROM (SELECT doc_id, norm,
                      unnest(generate_series(1,
                        greatest(length(norm) - ${k - 1}, 1))) AS i
                    FROM normed) x) w
            WHERE h IS NOT NULL),
          sizes$k AS (
            SELECT doc_id, COUNT(*) AS n FROM hgrams$k GROUP BY doc_id)"""
        }
        s"""WITH full_corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 100000, text FROM documents
              WHERE doc_id % 10 = 0
            UNION ALL SELECT doc_id + 200000, text || ' xtra' FROM documents
              WHERE doc_id % 7 = 0),
          $sampleThrSql,
          corpus AS (
            SELECT doc_id, text FROM full_corpus
            WHERE $groupSampledSql),
          normed AS (SELECT doc_id, $normSql AS norm FROM corpus),
          ${grams(4)},
          ${grams(5)},
          ${grams(6)},
          u AS (${arm(4)} UNION ALL ${arm(5)} UNION ALL ${arm(6)})
          SELECT shingle_k, COUNT(*) AS n_pairs,
            CAST(SUM(jacc_ppm) // COUNT(*) AS BIGINT) AS mean_jacc_ppm,
            COUNT(CASE WHEN jacc_ppm >= 800000 THEN 1 END) AS n_above_08
          FROM u GROUP BY shingle_k"""
      }),

    // ------------------------------------------------------------------
    // Cluster source-purity — the provenance question the dedup
    // verdict raises next: are duplicate clusters INTRA-source
    // (over-crawl — fix the crawler) or CROSS-source (syndication/
    // mirrors — expected, keep canonical-URL logic instead)? Per
    // lexical cluster of the natural corpus, the majority-source
    // share in exact ppm, rolled up by cluster-size bucket (2, 3,
    // 4+) as cluster counts and mean purity. Majority counts ride
    // the cluster rollup (never a window over the corpus); the mean
    // divides two exact integers once.
    Q("dedup_cluster_purity",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"doc_id", $"source")
        val star = bucketStarEdges(bandedKeys(idxSigsNatural(s, d)))
        val edges = star
          .unionByName(star.select($"dst".as("src"), $"src".as("dst")))
        // inner join: only clustered docs carry a cluster id
        val members = docs.join(connectedComponents(edges,
          edgeBound = starEdgeBound(s, d)), Seq("doc_id"))
        val perSource = members.groupBy($"cluster_id", $"source")
          .agg(count(lit(1)).as("c"))
        val perCluster = perSource.groupBy($"cluster_id")
          .agg(sum($"c").as("n_members"), max($"c").as("majority"))
          .filter($"n_members" > 1)
          .withColumn("purity_ppm",
            expr("majority * 1000000 div n_members"))
        perCluster
          .groupBy(least($"n_members", lit(4L)).as("size_bucket"))
          .agg(count(lit(1)).as("n_clusters"),
            sum($"purity_ppm").as("sum_purity"))
          .select($"size_bucket", $"n_clusters",
            expr("sum_purity div n_clusters").as("mean_purity_ppm"))
      },
      Some(s"""WITH RECURSIVE corpus AS (
          SELECT doc_id, text FROM documents),
        $signaturesSql, $bandsSql,
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM candidates
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM candidates),
        reach(v, r) AS (
          SELECT DISTINCT a AS v, a AS r FROM edges
          UNION
          SELECT e.b AS v, reach.r FROM reach JOIN edges e ON e.a = reach.v),
        clusters AS (
          SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        members AS (
          SELECT cl.cluster_id, d.source
          FROM clusters cl JOIN documents d ON d.doc_id = cl.doc_id),
        per_source AS (
          SELECT cluster_id, source, COUNT(*) AS c
          FROM members GROUP BY 1, 2),
        per_cluster AS (
          SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS n_members,
            CAST(MAX(c) AS BIGINT) AS majority
          FROM per_source GROUP BY cluster_id
          HAVING SUM(c) > 1)
        SELECT least(n_members, 4) AS size_bucket,
          COUNT(*) AS n_clusters,
          CAST(SUM(majority * 1000000 // n_members) // COUNT(*)
            AS BIGINT) AS mean_purity_ppm
        FROM per_cluster GROUP BY 1"""))
  )

  val all2: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Incremental (batch-vs-history) dedup — the DAILY-INGEST shape:
    // production dedup never re-runs over the full corpus; an
    // arriving batch is checked against the accumulated history and
    // only batch×history work happens (never history×history, which
    // at 100 TB is the difference between minutes and a full
    // recompute). Here history is the natural corpus minus every
    // 10th doc; the batch is the planted duplicate rows plus those
    // held-out naturals — so all three verdicts occur. An arrival is
    //   exact_dup  — its content hash exists in history (one
    //                hash-keyed semi-ish join; at scale the history
    //                hash set is a maintained index, the same storage
    //                posture as the ext/ index stores);
    //   near_dup   — it shares a MinHash LSH band bucket with a
    //                history doc (batch bands ⋈ history bands on the
    //                band key — collision-sized, exactly the
    //                dedup_lsh_pairs machinery scoped to the batch);
    //   new        — otherwise.
    // matched_id is the smallest matching history id (-1 for new);
    // exact beats near. Both probe joins shuffle the small batch
    // side; NULL band hashes (sub-shingle docs) never join.
    Q("dedup_incremental",
      (s, d) => {
        import s.implicits._
        // batch/history are doc_id-predicate splits of the stored
        // signature frame; the exact probe joins stored content
        // hashes — no text scan on either side.
        val c = DedupIndex.signatures(s, d)
        val isBatch = col("doc_id") >= 100000L || col("doc_id") % 10 === 9
        val hist = c.filter(!isBatch)
        val batch = c.filter(isBatch)
        val exact = batch.select($"doc_id", $"content_hash")
          .join(hist.select($"content_hash", $"doc_id".as("hist_id")),
            Seq("content_hash"))
          .groupBy($"doc_id").agg(min($"hist_id").as("exact_match"))
        val bb = bandedKeys(batch.select($"doc_id", $"h1", $"h2", $"h3", $"h4"))
          .filter($"band_hash".isNotNull)
        val hb = bandedKeys(hist.select($"doc_id", $"h1", $"h2", $"h3", $"h4"))
          .filter($"band_hash".isNotNull)
          .select($"doc_id".as("hist_id"), $"band_idx", $"band_hash")
        val near = bb.join(hb, Seq("band_idx", "band_hash"))
          .groupBy($"doc_id").agg(min($"hist_id").as("near_match"))
        batch.select($"doc_id")
          .join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .select($"doc_id",
            when($"exact_match".isNotNull, "exact_dup")
              .when($"near_match".isNotNull, "near_dup")
              .otherwise("new").as("verdict"),
            coalesce($"exact_match", $"near_match", lit(-1L))
              .as("matched_id"))
      },
      Some(s"""WITH $corpusSql, $signaturesSql, $bandsSql,
        exact AS (
          SELECT b.doc_id, MIN(h.doc_id) AS exact_match
          FROM corpus b JOIN corpus h ON md5(b.text) = md5(h.text)
          WHERE (b.doc_id >= 100000 OR b.doc_id % 10 = 9)
            AND h.doc_id < 100000 AND h.doc_id % 10 <> 9
          GROUP BY b.doc_id),
        near AS (
          SELECT b.doc_id, MIN(h.doc_id) AS near_match
          FROM bands b JOIN bands h
            ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash
          WHERE (b.doc_id >= 100000 OR b.doc_id % 10 = 9)
            AND h.doc_id < 100000 AND h.doc_id % 10 <> 9
          GROUP BY b.doc_id)
        SELECT c.doc_id,
          CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
               WHEN n.near_match IS NOT NULL THEN 'near_dup'
               ELSE 'new' END AS verdict,
          COALESCE(e.exact_match, n.near_match, -1) AS matched_id
        FROM corpus c
        LEFT JOIN exact e ON e.doc_id = c.doc_id
        LEFT JOIN near n ON n.doc_id = c.doc_id
        WHERE c.doc_id >= 100000 OR c.doc_id % 10 = 9""")),

    // ------------------------------------------------------------------
    // Train/test split-leakage audit — the evaluation-integrity
    // check that must run BEFORE any split ships: when documents are
    // assigned to train/valid/test by the salted doc-id hash
    // (txt_split_hash's exact device) WITHOUT deduplicating first,
    // every near-duplicate pair whose members hash to different
    // splits leaks training signal into evaluation. The audit counts
    // banded-MinHash candidate pairs per unordered split pair
    // (least/greatest canonicalization) and reports each cell's
    // share and leak flag — on an 80/10/10 split, ~34% of duplicate
    // pairs leak by expectation, which is why production dedups (or
    // splits by cluster id) first. Distinct from txt_contamination
    // (benchmark n-gram overlap): this measures SELF-leakage through
    // the split boundary. Scale: the pair frame is the banded-LSH
    // candidate set (never corpus²), split labels are computed
    // directly from the pair's ids — no join back to the corpus —
    // and the cell table is ≤6 rows.
    Q("dedup_split_leakage",
      (s, d) => {
        import s.implicits._
        def splitOf(c: Column): Column = {
          val bucket = conv(substring(
              md5(concat(lit("split:"), c.cast("string"))), 1, 4),
            16, 10).cast("int") % 10
          when(bucket < 8, "train").when(bucket === 8, "valid")
            .otherwise("test")
        }
        val cells = DedupIndex.candidates(s, d)
          .select(splitOf($"doc_a").as("sa"), splitOf($"doc_b").as("sb"))
          .select(least($"sa", $"sb").as("split_lo"),
            greatest($"sa", $"sb").as("split_hi"))
          .groupBy($"split_lo", $"split_hi")
          .agg(count(lit(1)).as("n_pairs"))
        cells
          .withColumn("total", sum($"n_pairs")
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy())) // ≤ |splits|² rows (WindowAuditSpec)
          .select($"split_lo", $"split_hi", $"n_pairs",
            when($"split_lo" =!= $"split_hi", 1L).otherwise(0L)
              .as("is_leak"),
            expr("n_pairs * 1000000 div total").as("share_ppm"))
      },
      Some(s"""WITH $corpusSql, $signaturesSql, $bandsSql,
        lab AS (
          SELECT
            CASE WHEN ${hex4Sql("substr(md5('split:' || CAST(doc_a AS VARCHAR)), 1, 4)")} % 10 < 8 THEN 'train'
                 WHEN ${hex4Sql("substr(md5('split:' || CAST(doc_a AS VARCHAR)), 1, 4)")} % 10 = 8 THEN 'valid'
                 ELSE 'test' END AS sa,
            CASE WHEN ${hex4Sql("substr(md5('split:' || CAST(doc_b AS VARCHAR)), 1, 4)")} % 10 < 8 THEN 'train'
                 WHEN ${hex4Sql("substr(md5('split:' || CAST(doc_b AS VARCHAR)), 1, 4)")} % 10 = 8 THEN 'valid'
                 ELSE 'test' END AS sb
          FROM candidates),
        cells AS (
          SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
            CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM lab GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total FROM cells)
        SELECT split_lo, split_hi, n_pairs,
          CASE WHEN split_lo <> split_hi THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS is_leak,
          n_pairs * 1000000 // total AS share_ppm
        FROM cells CROSS JOIN tot"""))
  )
}
