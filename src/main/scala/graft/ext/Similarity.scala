package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Q, Tables}

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): exact brute-force cosine top-k as the baseline, a
  * label-blocked near-duplicate pair scan, and a sign-random-
  * projection (SimHash-style) LSH-bucketed ANN as the scale path.
  *
  * Scale design: the brute-force path broadcasts only the *query*
  * set (small by construction) against the full corpus — a map-side
  * scan with a per-query top-k, no corpus shuffle. The ANN path
  * buckets the corpus once by hyperplane signature (one shuffle),
  * after which each probe touches one bucket — the structure that
  * holds when the corpus is 10⁹ vectors. All arithmetic is done in
  * double after an explicit per-element cast so the DuckDB oracle
  * computes identical IEEE values.
  */
object Similarity {

  /** Ordered-fold double dot product — codegen'd native expression
    * (graft.functions.FloatVecDot); bit-identical to the
    * aggregate(zip_with(...)) formulation the oracle mirrors. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.floatVecDot(a, b)

  /** Cosine similarity between two Array[Float] columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Oracle fragment: the same ordered-fold double dot product via
    * DuckDB's native `list_dot_product` over explicitly-widened
    * DOUBLE[] operands. Bit-identical to the previous correlated
    * `SUM(a[i]*b[i]) FROM generate_series(1,64)` formulation (both
    * are sequential left-to-right double folds; verified 0-diff over
    * every pair of a 50-vector sample of the real corpus) but ~2000×
    * faster: the correlated-subquery form re-ran a 64-row scalar
    * subquery per candidate row, which at sf1 (206 queries × 20k
    * vectors × 3 dots inside a window ORDER BY) put the two
    * rank-replay oracles past a 1800 s budget; the native form runs
    * the same replays in seconds. The DOUBLE[] cast is load-bearing:
    * on raw FLOAT[] inputs list_dot_product accumulates in f32 and
    * drifts ~5e-7 — same order as the corpus' rank margins. */
  private[ext] def dotSql(a: String, b: String): String =
    s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"""

  /** [[dotSql]] over only the first n components — the prefix dot a
    * Matryoshka-truncated index computes (1-based inclusive slice). */
  private[ext] def dotSqlN(a: String, b: String, n: Int): String =
    s"""list_dot_product(CAST($a[1:$n] AS DOUBLE[]),
        CAST($b[1:$n] AS DOUBLE[]))"""

  /** Bounded-block regime for the exact label-blocked pair evals
    * (sim_knn_graph / sim_hubness_audit, and dedup_onion's semantic
    * stage): a label block's in-block pair mass grows quadratically
    * with corpus size, so beyond [[exactBlockCap]] corpus rows each
    * label block is deterministically sub-split into
    * `ceil(n / exactBlockCap)` shards keyed by a salted md5 of the
    * vector id (engine-identical: the same digit arithmetic runs in
    * DuckDB via [[hex4Sql]]). Average in-shard size stays ≈
    * cap / n_labels regardless of corpus size, so total pair mass
    * grows LINEARLY with n (guide §2.5 skew mitigation / §3.2
    * reduce-before-shuffle). Below the cap the split count is 1 and
    * `% 1 == 0` on both sides — the join, rows and hashes are
    * bit-identical to the unbounded form at every oracle-gated SF
    * (sf0.001/0.01/0.1 = 20/200/2000 vectors). The cap is an
    * ALGORITHM constant, not a tuning knob: it is baked into the
    * oracle SQL text, so parameterizing it per-environment would
    * desynchronize the two engines. */
  private[ext] val exactBlockCap = 4000L

  /** Number of deterministic sub-shards per label block at corpus
    * size n (driver-side arithmetic over the memoized row count —
    * no job). */
  private[ext] def blockSplits(s: SparkSession, d: String): Long =
    (Tables.rowCount(s, d, "embeddings") + exactBlockCap - 1) / exactBlockCap

  /** Salted-md5 shard key (16-bit hex prefix mod nSplits) — the
    * txt_split_hash device: identical in any engine/partitioning. */
  private[ext] def subBlock(id: Column, nSplits: Long): Column =
    conv(substring(md5(concat_ws("|", lit("blk:"), id)), 1, 4), 16, 10)
      .cast("long") % nSplits

  /** DuckDB-side 16-bit int from 4 hex chars of a hash (same digit
    * arithmetic as Dedup.hex4Sql / TextAnalysis.hex8Sql). */
  private[ext] def hex4Sql(h: String): String =
    (0 until 4).map { i =>
      s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1 << (4 * (3 - i))}"
    }.mkString("(", " + ", ")")

  /** Oracle CTE mirroring [[blockSplits]]: the shard count from
    * COUNT(*) with the same ceil-divide (1 at every oracle SF). */
  private[ext] val nsubSql: String =
    s"""nsub AS (SELECT (COUNT(*) + ${exactBlockCap - 1}) // $exactBlockCap
          AS s FROM embeddings)"""

  /** Oracle expression mirroring [[subBlock]] over an id expression
    * (requires [[nsubSql]] in scope). */
  private[ext] def blkSql(idExpr: String): String =
    s"${hex4Sql(s"md5('blk:' || '|' || CAST($idExpr AS VARCHAR))")}" +
      " % (SELECT s FROM nsub)"

  /** Oracle CTE pair mirroring [[blockSplits]] + [[subBlock]]:
    * `nsub` computes the shard count from COUNT(*) with the same
    * ceil-divide, `embsub` attaches the per-row shard key. Joining
    * on (label, blk) is the bounded block join; at oracle SFs
    * nsub.s = 1 and blk = 0 everywhere. */
  private[ext] val embSubSql: String =
    s"""$nsubSql,
        embsub AS (
          SELECT e.*, ${blkSql("e.vec_id")} AS blk
          FROM embeddings e)"""

  /** Scale-adaptive query-sample modulus for the broadcast(queries)
    * × corpus retrieval evals (sim_cosine_topk / sim_mips_topk, the
    * ann/lsh/ivf/sq/matryoshka/probe recall paths, and the hybrid
    * rrf/fusion arms): the fixed `vec_id % 97` slice keeps the query
    * COUNT a constant fraction of the corpus, so eval work grows
    * with corpus² (≈ n/97 queries × a corpus-sized scan each). The
    * modulus scales as 97·S with S = ceil(n / exactBlockCap), so the
    * expected query count stays ≈ exactBlockCap/97 (~41) regardless
    * of corpus size and total eval work grows LINEARLY (guide §2.5 /
    * §3.2 — a recall estimate needs a bounded query sample, not a
    * constant fraction; the same argument as dedup_minhash_accuracy's
    * sample modulus). 97·S is a multiple of 97, so each larger corpus
    * samples a nested SUBSET of the smaller corpus's query set; at
    * every oracle-gated SF (≤ 2000 vectors) S = 1 and the slice is
    * bit-identical to `% 97`. [[qModSql]] runs the same
    * COUNT(*)-derived arithmetic inside DuckDB, so both engines agree
    * at EVERY scale. */
  private[ext] def qMod(s: SparkSession, d: String): Long =
    97L * blockSplits(s, d)

  /** Oracle-side scalar mirroring [[qMod]] — a drop-in replacement
    * for the literal 97 in `vec_id % 97 = 0` predicates. */
  private[ext] val qModSql: String =
    s"(97 * (SELECT (COUNT(*) + ${exactBlockCap - 1}) // $exactBlockCap" +
      " FROM embeddings))"

  /** Oracle fragment for [[graft.functions.FloatVecDotQ]]: integer
    * term-sums are associative, so this is parallelism-proof —
    * required whenever the score is OUTPUT, not just ranked on. */
  private def dotQSql(a: String, b: String): String =
    s"""list_sum(list_transform(
          list_zip(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])),
          x -> CAST(floor(x[1] * x[2] * 1000000000.0) AS BIGINT)))"""

  /** Deterministic ±1 hyperplane for plane j: component i is the
    * parity of the first hex digit of md5("j_i"). Computed once on
    * the driver and shipped as a literal vector — the per-row md5
    * formulation evaluates 256 interpreted hashes per vector. */
  private def plane(j: Int, dims: Int = 64): Array[Float] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (1 to dims).map { i =>
      val hex = digest.digest(s"${j}_$i".getBytes("UTF-8"))
      val firstDigit = (hex(0) >> 4) & 0xf
      if (firstDigit % 2 == 0) 1.0f else -1.0f
    }.toArray
  }

  /** Sign-random-projection signature (nPlanes bits) of a vector:
    * one codegen'd dot per plane against the literal hyperplane. */
  def lshSignature(vec: Column, nPlanes: Int = 4): Column = {
    val bits = (0 until nPlanes).map { j =>
      val proj = graft.functions.NativeFunctions.floatVecDot(
        vec, typedLit(plane(j)))
      when(proj >= 0, shiftleft(lit(1), j)).otherwise(0)
    }
    bits.reduce(_ + _)
  }

  /** Oracle fragment replaying [[lshSignature]]: the ±1 hyperplanes
    * are driver-side literals, so the SQL just embeds them as list
    * literals and sums the same ordered projections. */
  private def bucketSql(e: String, nPlanes: Int = 4): String =
    (0 until nPlanes).map { j =>
      val planeList = plane(j)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"""(CASE WHEN (SELECT SUM(CAST($e[i] AS DOUBLE) *
             list_extract($planeList, i))
           FROM generate_series(1, 64) t(i)) >= 0
           THEN ${1 << j} ELSE 0 END)"""
    }.mkString(" + ")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Exact brute-force cosine top-k: broadcast query set × corpus
    // scan, per-query top-5 (rank output; ties broken by neighbor id).
    Q("sim_cosine_topk",
      (s, d) => {
        import s.implicits._
        // norms precomputed per row — one dot per pair in the scan
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
          .withColumn("nrm", sqrt(dot($"embedding", $"embedding")))
        val queries = emb.filter($"vec_id" % qMod(s, d) === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qemb"),
            $"nrm".as("qnrm"))
        val w = Window.partitionBy($"qid")
          .orderBy($"cos".desc, $"vec_id")
        emb.crossJoin(broadcast(queries))
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", dot($"qemb", $"embedding") / ($"qnrm" * $"nrm"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"qid", $"rank", $"vec_id".as("neighbor_id"))
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qemb FROM embeddings
          WHERE vec_id % $qModSql = 0),
        scored AS (
          SELECT q.qid, e.vec_id,
            ${dotSql("q.qemb", "e.embedding")} /
            (sqrt(${dotSql("q.qemb", "q.qemb")}) *
             sqrt(${dotSql("e.embedding", "e.embedding")})) AS cos
          FROM embeddings e, q WHERE e.vec_id <> q.qid)
        SELECT qid, rank, vec_id AS neighbor_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
              AS rank
          FROM scored) t WHERE rank <= 5""")),

    // ------------------------------------------------------------------
    // Embedding near-dup pairs: corpus augmented with exact copies
    // (vec_id+100000, every 20th vector — the natural corpus has no
    // near-dups), blocked by label, cosine > 0.95.
    Q("sim_embedding_neardup",
      (s, d) => {
        import s.implicits._
        // Bounded-block regime (see [[exactBlockCap]]): the shard
        // key is computed on the AUGMENTED id (a planted twin and
        // its source land in independent shards — the miss rate a
        // sharded near-dup pass really has), mirrored in the oracle;
        // below the cap (every oracle-gated SF) bit-identical to the
        // full label-blocked scan.
        val nS = blockSplits(s, d)
        val aug0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
        val aug1 = aug0.unionByName(
          aug0.filter($"vec_id" % 20 === 0)
            .select(($"vec_id" + 100000L).as("vec_id"), $"label",
              $"embedding"))
          .withColumn("nrm", sqrt(dot($"embedding", $"embedding")))
        val aug = if (nS <= 1) aug1
          else aug1.withColumn("blk", subBlock($"vec_id", nS))
        val cond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") < col("b.vec_id")
        aug.as("a").join(aug.as("b"), cond)
          .withColumn("cos", dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
          .filter($"cos" > 0.95)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      },
      Some(s"""WITH $nsubSql,
        aug0 AS (
          SELECT vec_id, label, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000, label, embedding FROM embeddings
          WHERE vec_id % 20 = 0),
        aug AS (SELECT *, ${blkSql("vec_id")} AS blk FROM aug0)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM aug a JOIN aug b
          ON a.label = b.label AND a.blk = b.blk
         AND a.vec_id < b.vec_id
        WHERE ${dotSql("a.embedding", "b.embedding")} /
              (sqrt(${dotSql("a.embedding", "a.embedding")}) *
               sqrt(${dotSql("b.embedding", "b.embedding")})) > 0.95""")),

    // ------------------------------------------------------------------
    // ANN via sign-random-projection buckets: corpus bucketed once;
    // queries probe their own bucket only. Approximate by design →
    // rows-only driver check; recall pinned by SimilaritySpec.
    Q("sim_ann_lsh",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
          .withColumn("bucket", lshSignature($"embedding"))
        val queries = emb.filter($"vec_id" % qMod(s, d) === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"bucket")
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        emb.join(broadcast(queries), "bucket")
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          // cosine (not the norm-joined form): bucket rows are few
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"qid", $"rank", $"vec_id".as("neighbor_id"))
      },
      // Round 4: no longer rows-only — the ±1 hyperplanes are
      // driver-side literals, so the oracle replays the exact bucket
      // assignment (sim_lsh_recall's bucketSql) and the candidate
      // ranking is deterministic under the (cos desc, vec_id)
      // tiebreak. The whole ANN result set is hash-checked.
      Some(s"""WITH b AS (
          SELECT vec_id, embedding,
            ${bucketSql("embedding")} AS bucket
          FROM embeddings),
        q AS (
          SELECT vec_id AS qid, embedding AS qemb, bucket FROM b
          WHERE vec_id % $qModSql = 0)
        SELECT qid, rank, neighbor_id FROM (
          SELECT q.qid, e.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
              ${dotSql("q.qemb", "e.embedding")} /
              (sqrt(${dotSql("q.qemb", "q.qemb")}) *
               sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
              e.vec_id) AS rank
          FROM b e JOIN q ON e.bucket = q.bucket
          WHERE e.vec_id <> q.qid) t
        WHERE rank <= 5""")),

    // ------------------------------------------------------------------
    // ANN via IVF (inverted-file index): corpus assigned once to its
    // nearest of K deterministic centroids (one broadcast pass);
    // queries probe their 2 nearest cells only. The coarse quantizer
    // shape that scales to 10⁹ vectors — cell assignment is a narrow
    // map, candidate generation a bucket equi-join. Accuracy is
    // measured by sim_ivf_recall/sim_probe_sweep; the result set
    // itself is deterministic and hash-checked (oracle below).
    Q("sim_ann_ivf",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        // deterministic coarse centroids: the 16 lowest-id vectors
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        def nearestCells(vecs: DataFrame, n: Int): DataFrame = {
          val wAssign = Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("cid"))
          vecs.crossJoin(broadcast(cents))
            .withColumn("cos", cosine(col("embedding"), col("cemb")))
            .withColumn("crank", row_number().over(wAssign))
            .filter(col("crank") <= n)
            .select(col("vec_id"), col("cid"))
        }
        val assigned = nearestCells(emb, 1)
          .join(emb, "vec_id")
        val probes = nearestCells(
          emb.filter($"vec_id" % qMod(s, d) === 0), 2)
          .join(emb, "vec_id")
          .select($"vec_id".as("qid"), $"cid", $"embedding".as("qemb"))
        val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        assigned.join(broadcast(probes), "cid")
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"qid", $"rank", $"vec_id".as("neighbor_id"))
      },
      // Round 4: no longer rows-only — centroids are deterministic
      // corpus rows, cell assignment/probing carry the (cos desc,
      // cid) tiebreak, and the candidate ranking is total-ordered,
      // so the oracle (sim_ivf_recall's pipeline CTEs, emitting the
      // ranked rows instead of the recall) hash-checks the full ANN
      // result set.
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qemb FROM embeddings
          WHERE vec_id % $qModSql = 0),
        c AS (
          SELECT vec_id AS cid, embedding AS cemb FROM embeddings
          WHERE vec_id < 16),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                ${dotSql("e.embedding", "c.cemb")} /
                (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid)
                AS crank
            FROM embeddings e, c) t WHERE crank = 1),
        probes AS (
          SELECT qid, cid FROM (
            SELECT q.qid, c.cid,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "c.cemb")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid)
                AS crank
            FROM q, c) t WHERE crank <= 2)
        SELECT qid, rank, neighbor_id FROM (
          SELECT q.qid, e.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
              ${dotSql("q.qemb", "e.embedding")} /
              (sqrt(${dotSql("q.qemb", "q.qemb")}) *
               sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
              e.vec_id) AS rank
          FROM probes p
          JOIN assign a ON a.cid = p.cid
          JOIN embeddings e ON e.vec_id = a.vec_id
          JOIN q ON q.qid = p.qid
          WHERE e.vec_id <> p.qid) t
        WHERE rank <= 5""")),

    // ------------------------------------------------------------------
    // Per-language embedding centroid: posexplode + one partial-agg
    // shuffle on (lang, dim) — the elementwise vector aggregation
    // shape (centroid/mean-pool) a training pipeline runs per class.
    // Elements are floor-quantized to integers (exact on doubles)
    // before summing so the aggregate is order-independent and the
    // oracle hash-exact; the centroid is reconstructed in one final
    // division.
    Q("sim_lang_centroid",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", posexplode($"embedding"))
          .toDF("vec_id", "pos", "e")
        e.join(Tables.documents(s, d).select($"doc_id", $"lang"),
            e("vec_id") === col("doc_id"))
          .groupBy($"lang", $"pos")
          .agg(count(lit(1)).as("n"),
               sum(floor($"e".cast("double") * 1000000).cast("long")).as("q"))
          .select($"lang", $"pos", $"n",
            ($"q".cast("double") / (lit(1000000.0) * $"n")).as("centroid"))
      },
      Some("""SELECT d.lang, g.i - 1 AS pos, COUNT(*) AS n,
          CAST(SUM(CAST(floor(CAST(e.embedding[g.i] AS DOUBLE) * 1000000)
            AS BIGINT)) AS DOUBLE) / (1000000.0 * COUNT(*)) AS centroid
        FROM embeddings e
        JOIN documents d ON d.doc_id = e.vec_id
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
        GROUP BY d.lang, g.i""")),

    // ------------------------------------------------------------------
    // IVF cell assignment, oracle-checked: every vector mapped to its
    // nearest of the 16 deterministic coarse centroids (cosine,
    // centroid id ascending on ties). This is exactly the build step
    // sim_ann_ivf runs before probing — verified here end-to-end
    // against DuckDB since the full ANN query is only rows-checked.
    // Broadcast centroids × corpus scan: narrow map + per-row top-1,
    // no corpus shuffle — the shape that holds at 10⁹ vectors.
    Q("sim_ivf_assign",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        val w = Window.partitionBy($"vec_id")
          .orderBy($"cos".desc, $"cid")
        emb.crossJoin(broadcast(cents))
          .withColumn("cos", cosine($"embedding", $"cemb"))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .select($"vec_id", $"cid".as("centroid_id"))
      },
      Some(s"""WITH c AS (
          SELECT vec_id AS cid, embedding AS cemb FROM embeddings
          WHERE vec_id < 16),
        scored AS (
          SELECT e.vec_id, c.cid,
            ${dotSql("e.embedding", "c.cemb")} /
            (sqrt(${dotSql("e.embedding", "e.embedding")}) *
             sqrt(${dotSql("c.cemb", "c.cemb")})) AS cos
          FROM embeddings e, c)
        SELECT vec_id, cid AS centroid_id FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid)
              AS rk
          FROM scored) t WHERE rk = 1""")),

    // ------------------------------------------------------------------
    // Exact k-NN graph within coarse blocks: 3 nearest neighbors per
    // vector by cosine, candidates restricted to the vector's label
    // block (the IVF-cell blocking sim_ivf_assign produces — at 10⁹
    // vectors the same shape runs per-cell after coarse assignment;
    // all-pairs-unblocked would be n² and is exactly what the ANN
    // paths exist to avoid). Norms computed once per row before the
    // self-join; per-vector top-k via window on the block join's own
    // partitioning. Tiebreak on neighbor id for determinism.
    //
    // The OUTPUT score uses the quantized integer dot (FloatVecDotQ:
    // Σ floor(aᵢbᵢ·10⁹) as BIGINT) rather than the IEEE double sum:
    // an exported double is only hash-comparable if every engine sums
    // in the same order, and a SQL oracle's decorrelated aggregate
    // does not guarantee that under parallelism (observed 1-ulp
    // cosine flutter at sf0.1). Integer term-sums are associative —
    // the exported cosine is bit-identical by construction, and the
    // ranking it induces is engine-independent.
    Q("sim_knn_graph",
      (s, d) => {
        import s.implicits._
        val dq = graft.functions.NativeFunctions.floatVecDotQ _
        // Bounded-block regime (see [[exactBlockCap]]): beyond the
        // cap each label block is sub-split so in-block pair mass
        // grows linearly with corpus size; below it (every
        // oracle-gated SF) the plan and results are bit-identical
        // to the unbounded label join.
        val nS = blockSplits(s, d)
        val emb0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
          .withColumn("qnrm", dq($"embedding", $"embedding"))
        val emb = if (nS <= 1) emb0
          else emb0.withColumn("blk", subBlock($"vec_id", nS))
        val cond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") =!= col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") =!= col("b.vec_id")
        val w = Window.partitionBy(col("a.vec_id"))
          .orderBy($"cos".desc, col("b.vec_id"))
        emb.as("a").join(emb.as("b"), cond)
          .withColumn("cos",
            dq(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.qnrm").cast("double")) *
             sqrt(col("b.qnrm").cast("double"))))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select(col("a.vec_id").as("vec_id"),
            col("b.vec_id").as("neighbor_id"), $"cos", $"rk")
      },
      Some(s"""WITH $embSubSql,
        scored AS (
          SELECT a.vec_id, b.vec_id AS neighbor_id,
            CAST(${dotQSql("a.embedding", "b.embedding")} AS DOUBLE) /
            (sqrt(CAST(${dotQSql("a.embedding", "a.embedding")} AS DOUBLE)) *
             sqrt(CAST(${dotQSql("b.embedding", "b.embedding")} AS DOUBLE)))
              AS cos
          FROM embsub a JOIN embsub b
            ON a.label = b.label AND a.blk = b.blk
           AND a.vec_id <> b.vec_id)
        SELECT vec_id, neighbor_id, cos, rk FROM (
          SELECT vec_id, neighbor_id, cos,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, neighbor_id) AS rk
          FROM scored) t
        WHERE rk <= 3""")),

    // ------------------------------------------------------------------
    // One k-means (Lloyd) iteration: assign every vector to its
    // nearest coarse centroid (the sim_ivf_assign map — broadcast
    // centroids, no corpus shuffle), then recompute each centroid as
    // the elementwise mean of its members. The mean uses the
    // quantized-long trick (floor(x·10⁶) summed as BIGINT — exact,
    // associative, map-side combinable) so the result is
    // bit-identical to DuckDB regardless of partial-agg order; one
    // IEEE division at the end. Output is (centroid, component) rows
    // — the update table an iterative k-means driver would loop on.
    Q("sim_kmeans_step",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        val wAssign = Window.partitionBy($"vec_id")
          .orderBy($"cos".desc, $"cid")
        val assigned = emb.crossJoin(broadcast(cents))
          .withColumn("cos", cosine($"embedding", $"cemb"))
          .withColumn("rk", row_number().over(wAssign))
          .filter($"rk" === 1)
          .select($"cid", $"vec_id", $"embedding")
        assigned
          .select($"cid", posexplode($"embedding"))
          .toDF("cid", "pos", "e")
          .groupBy($"cid", $"pos")
          .agg(count(lit(1)).as("n"),
               sum(floor($"e".cast("double") * 1000000).cast("long")).as("q"))
          .select($"cid", $"pos", $"n",
            ($"q".cast("double") / (lit(1000000.0) * $"n")).as("new_centroid"))
      },
      Some(s"""WITH c AS (
          SELECT vec_id AS cid, embedding AS cemb FROM embeddings
          WHERE vec_id < 16),
        assign AS (
          SELECT vec_id, cid, embedding FROM (
            SELECT e.vec_id, c.cid, e.embedding,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                ${dotSql("e.embedding", "c.cemb")} /
                (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid) AS rk
            FROM embeddings e, c) t
          WHERE rk = 1)
        SELECT cid, g.i - 1 AS pos, COUNT(*) AS n,
          CAST(SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000)
            AS BIGINT)) AS DOUBLE) / (1000000.0 * COUNT(*)) AS new_centroid
        FROM assign
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
        GROUP BY cid, g.i""")),

    // ------------------------------------------------------------------
    // Product-quantization encoding: each 64-dim vector compressed to
    // 8 codebook ids — subspace m (8 dims) assigned to the nearest of
    // 16 sub-centroids (the first 16 corpus vectors sliced per
    // subspace: a deterministic codebook; production trains it with
    // sim_kmeans_step per subspace). PQ is how a 10⁹-vector index
    // fits in RAM: 64 f32 → 8 bytes, and ADC search scans codes with
    // a 16×8 lookup table. Shape: broadcast codebook × corpus scan
    // (narrow), explode 8 subspaces, argmin via min(struct) — a
    // map-side-combinable aggregation, no window sort, one skinny
    // shuffle of (vec, sub) partials. The distance is the quantized
    // integer L2 (FloatVecL2Q: Σ floor((aᵢ−bᵢ)²·10⁶) as BIGINT), so
    // the argmin and the exported distance are bit-reproducible in
    // any engine — the oracle's correlated integer sum matches term
    // for term.
    Q("sim_pq_encode",
      (s, d) => pqCodes(s, d),
      Some(s"""WITH $pqSql
        SELECT vec_id, sub, code, qdist FROM codes""")),

    // ------------------------------------------------------------------
    // PQ asymmetric-distance (ADC) top-k search — how a PQ index is
    // actually queried at 10⁹ vectors: the query vector is NOT
    // quantized; a per-query lookup table of (subspace × centroid)
    // distances is computed once against the codebook (8×16 = 128
    // entries, broadcast), and each database vector's approximate
    // distance is the SUM of 8 table lookups on its codes — no float
    // math per vector, no embedding access. Here: codes ⋈ broadcast
    // LUT on (sub, code), one map-side-combinable sum per vec_id,
    // TakeOrderedAndProject top-10. All distances are the quantized
    // integer L2, so scores and ranking are bit-reproducible.
    Q("sim_pq_adc_topk",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val query = emb.filter($"vec_id" === 0)
          .select($"embedding".as("qemb"))
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        val lut = cents.crossJoin(broadcast(query))
          .select($"cid", explode(sequence(lit(0), lit(7))).as("sub"),
            $"cemb", $"qemb")
          .withColumn("lut_qd", graft.functions.NativeFunctions.floatVecL2Q(
            slice($"qemb", $"sub" * 8 + 1, lit(8)),
            slice($"cemb", $"sub" * 8 + 1, lit(8))))
          .select($"sub", $"cid", $"lut_qd")
        val codes = pqCodes(s, d)
        codes.join(broadcast(lut),
            codes("sub") === lut("sub") && codes("code") === lut("cid"))
          .groupBy($"vec_id")
          .agg(sum($"lut_qd").as("adc_dist"))
          .orderBy($"adc_dist", $"vec_id")
          .limit(10)
      },
      Some(s"""WITH $pqSql,
        lut AS (
          SELECT g.sub, c.cid,
            (SELECT SUM(CAST(floor(
                (CAST(q.embedding[g.sub * 8 + j] AS DOUBLE) -
                 CAST(c.cemb[g.sub * 8 + j] AS DOUBLE)) *
                (CAST(q.embedding[g.sub * 8 + j] AS DOUBLE) -
                 CAST(c.cemb[g.sub * 8 + j] AS DOUBLE)) * 1000000.0)
              AS BIGINT)) FROM generate_series(1, 8) t(j)) AS lut_qd
          FROM c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q,
            (SELECT unnest(generate_series(0, 7)) AS sub) g)
        SELECT vec_id, CAST(SUM(lut_qd) AS BIGINT) AS adc_dist
        FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.cid
        GROUP BY vec_id
        ORDER BY adc_dist, vec_id LIMIT 10""")),

    // ------------------------------------------------------------------
    // Semantic dedup end-to-end (SemDeDup, Abbas et al. 2023): the
    // embedding near-dup pairs (label-blocked cosine > 0.95 — the
    // within-cell scan an IVF coarse assignment bounds at 10⁹
    // vectors) become the edge set of Dedup.connectedComponents, and
    // every vector gets a transitive cluster id + keep/drop verdict —
    // the min-id representative survives. Same composition as
    // dedup_verdict but over SEMANTIC (embedding) rather than lexical
    // (MinHash band) edges: together they cover both halves of a
    // production dedup stack. Cosine edges use the IEEE dot for the
    // threshold only (margins dwarf 1 ulp); nothing float-derived is
    // output, so the oracle compare stays exact.
    Q("sim_semantic_verdict",
      (s, d) => {
        import s.implicits._
        // Bounded-block regime (see [[exactBlockCap]]): beyond the
        // cap the near-dup edge set comes from the in-shard pair
        // scan (clusters can only shrink — the verdict a sharded
        // semantic dedup really produces), mirrored in the oracle;
        // below it (every oracle-gated SF) bit-identical to the full
        // label-blocked scan.
        val nS = blockSplits(s, d)
        val emb0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
          .withColumn("nrm", sqrt(dot($"embedding", $"embedding")))
        val emb = if (nS <= 1) emb0
          else emb0.withColumn("blk", subBlock($"vec_id", nS))
        val cond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") < col("b.vec_id")
        val pairs = emb.as("a").join(emb.as("b"), cond)
          .withColumn("cos", dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
          .filter($"cos" > 0.95)
          .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        val edges = pairs
          .unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
        val wCluster = org.apache.spark.sql.expressions.Window
          .partitionBy($"cluster_id")
        Tables.embeddings(s, d).select($"vec_id".as("doc_id"))
          .join(Dedup.connectedComponents(
              edges.select($"src", $"dst")),
            Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(wCluster))
          .withColumn("is_kept", $"doc_id" === $"cluster_id")
          .select($"doc_id".as("vec_id"), $"cluster_id", $"cluster_size",
            $"is_kept")
      },
      Some(s"""WITH RECURSIVE $embSubSql,
        pairs AS (
          SELECT a.vec_id AS src, b.vec_id AS dst
          FROM embsub a JOIN embsub b
            ON a.label = b.label AND a.blk = b.blk
           AND a.vec_id < b.vec_id
          WHERE ${dotSql("a.embedding", "b.embedding")} /
                (sqrt(${dotSql("a.embedding", "a.embedding")}) *
                 sqrt(${dotSql("b.embedding", "b.embedding")})) > 0.95),
        edges AS (SELECT src, dst FROM pairs
                  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        reach(v, r) AS (
          SELECT DISTINCT src AS v, src AS r FROM edges
          UNION
          SELECT e.dst AS v, reach.r FROM reach JOIN edges e
            ON e.src = reach.v),
        clusters AS (
          SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        verdict AS (
          SELECT e.vec_id, COALESCE(cl.cluster_id, e.vec_id) AS cluster_id
          FROM embeddings e LEFT JOIN clusters cl ON cl.vec_id = e.vec_id)
        SELECT vec_id, cluster_id,
          COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
          vec_id = cluster_id AS is_kept
        FROM verdict"""))
  ,
    // ------------------------------------------------------------------
    // Threshold-calibration sweep: per label block, candidate-pair
    // counts above cosine 0.90 / 0.95 / 0.99 from ONE pass of the
    // within-block scan (conditional aggregation), instead of three
    // separate near-dup runs — how a dedup pipeline picks its
    // threshold before committing to one. Same label-blocked join
    // bound as sim_embedding_neardup (never corpus²; IVF cells play
    // the label role at scale); thresholds are well-separated from
    // the data's cosine mass, the ranked/filter-only FloatVecDot
    // regime.
    Q("sim_threshold_sweep",
      (s, d) => {
        import s.implicits._
        // Bounded-block regime (see [[exactBlockCap]]): beyond the
        // cap the per-label threshold counts come from the in-shard
        // pair scan (pair mass linear in corpus size); below it
        // (every oracle-gated SF) bit-identical to the full
        // label-blocked scan.
        val nS = blockSplits(s, d)
        val emb0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
          .withColumn("nrm", sqrt(dot($"embedding", $"embedding")))
        val emb = if (nS <= 1) emb0
          else emb0.withColumn("blk", subBlock($"vec_id", nS))
        val cond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") < col("b.vec_id")
        emb.as("a").join(emb.as("b"), cond)
          .withColumn("cos", dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
          .groupBy(col("a.label").as("label"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when($"cos" > 0.90, 1L).otherwise(0L)).as("n_90"),
            sum(when($"cos" > 0.95, 1L).otherwise(0L)).as("n_95"),
            sum(when($"cos" > 0.99, 1L).otherwise(0L)).as("n_99"))
      },
      Some(s"""WITH $embSubSql,
        scored AS (
          SELECT a.label,
            ${dotSql("a.embedding", "b.embedding")} /
              (sqrt(${dotSql("a.embedding", "a.embedding")}) *
               sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos
          FROM embsub a JOIN embsub b
            ON a.label = b.label AND a.blk = b.blk
           AND a.vec_id < b.vec_id)
        SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_pairs,
          CAST(SUM(CASE WHEN cos > 0.90 THEN 1 ELSE 0 END) AS BIGINT) AS n_90,
          CAST(SUM(CASE WHEN cos > 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_95,
          CAST(SUM(CASE WHEN cos > 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_99
        FROM scored GROUP BY label""")),

    // ------------------------------------------------------------------
    // ANN index-quality evaluation: recall@5 of the IVF 2-probe search
    // (sim_ann_ivf's exact pipeline) against the exact brute-force
    // top-5 (sim_cosine_topk's), per query — the measurement that
    // decides nprobe/ncells before an index ships. The exact side is
    // the broadcast-queries × corpus scan; the IVF side reuses the
    // coarse assignment; hits come from one (qid, neighbor) join of
    // two k-row-per-query sets. Both sides are deterministic (cos
    // desc, vec_id tiebreak), so recall is an exact integer and the
    // whole evaluation is DuckDB-checkable — unlike the ANN queries
    // themselves, which are rows-only checked.
    Q("sim_ivf_recall",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        def nearestCells(vecs: DataFrame, n: Int): DataFrame = {
          val wAssign = Window.partitionBy(col("vec_id"))
            .orderBy(col("ccos").desc, col("cid"))
          vecs.crossJoin(broadcast(cents))
            .withColumn("ccos", cosine(col("embedding"), col("cemb")))
            .withColumn("crank", row_number().over(wAssign))
            .filter(col("crank") <= n)
            .select(col("vec_id"), col("cid"))
        }
        val queries = emb.filter($"vec_id" % qMod(s, d) === 0)
        val wTop = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val exact = emb.crossJoin(broadcast(
            queries.select($"vec_id".as("qid"), $"embedding".as("qemb"))))
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wTop))
          .filter($"rank" <= 5)
          .select($"qid", $"vec_id".as("neighbor_id"))
        val assigned = nearestCells(emb, 1).join(emb, "vec_id")
        val probes = nearestCells(queries, 2)
          .join(emb, "vec_id")
          .select($"vec_id".as("qid"), $"cid", $"embedding".as("qemb"))
        val ivf = assigned.join(broadcast(probes), "cid")
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wTop))
          .filter($"rank" <= 5)
          .select($"qid", $"vec_id".as("neighbor_id"))
        val hits = ivf.select($"qid".as("h_qid"),
          $"neighbor_id".as("h_neighbor"))
        exact.join(hits,
            $"qid" === $"h_qid" && $"neighbor_id" === $"h_neighbor",
            "left")
          .groupBy($"qid")
          .agg(count(lit(1)).as("n_exact"),
            count($"h_neighbor").as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qemb FROM embeddings
          WHERE vec_id % $qModSql = 0),
        c AS (
          SELECT vec_id AS cid, embedding AS cemb FROM embeddings
          WHERE vec_id < 16),
        exact AS (
          SELECT qid, vec_id AS neighbor_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                e.vec_id) AS rank
            FROM embeddings e, q WHERE e.vec_id <> q.qid) t
          WHERE rank <= 5),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                ${dotSql("e.embedding", "c.cemb")} /
                (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid)
                AS crank
            FROM embeddings e, c) t WHERE crank = 1),
        probes AS (
          SELECT qid, cid FROM (
            SELECT q.qid, c.cid,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "c.cemb")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid)
                AS crank
            FROM q, c) t WHERE crank <= 2),
        ivf AS (
          SELECT qid, vec_id AS neighbor_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                e.vec_id) AS rank
            FROM probes p
            JOIN assign a ON a.cid = p.cid
            JOIN embeddings e ON e.vec_id = a.vec_id
            JOIN q ON q.qid = p.qid
            WHERE e.vec_id <> p.qid) t
          WHERE rank <= 5)
        SELECT x.qid, COUNT(*) AS n_exact,
          COUNT(i.neighbor_id) AS n_hit,
          COUNT(i.neighbor_id) * 1000000 // COUNT(*) AS recall_ppm
        FROM exact x LEFT JOIN ivf i
          ON i.qid = x.qid AND i.neighbor_id = x.neighbor_id
        GROUP BY x.qid""")),

    // ------------------------------------------------------------------
    // Matryoshka two-stage retrieval evaluation: recall@5 of (a) a
    // raw 16-dim-prefix cosine search and (b) the same prefix search
    // widened to a top-20 shortlist then reranked with the full
    // 64-dim cosine — both against the exact full-dim top-5. This is
    // the measurement behind prefix-truncated (MRL-style) embedding
    // indexes: the corpus-wide pass touches only the first 16 floats
    // of every vector (4× less memory bandwidth — at 10⁹ vectors the
    // prefix fits where the full matrix doesn't), and the expensive
    // full-dim scoring runs on 20 candidates per query, not the
    // corpus. Everything is deterministic under the (cos desc,
    // vec_id) tiebreak, so both recalls are exact integers and the
    // whole evaluation is DuckDB-hash-checked.
    Q("sim_matryoshka_recall",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
          .withColumn("pre", slice($"embedding", 1, 16))
        val queries = emb.filter($"vec_id" % qMod(s, d) === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qemb"),
            $"pre".as("qpre"))
        val wFull = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val wPre = Window.partitionBy($"qid").orderBy($"pcos".desc, $"vec_id")
        val exact = emb.crossJoin(broadcast(queries))
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wFull))
          .filter($"rank" <= 5)
          .select($"qid", $"vec_id".as("neighbor_id"))
        // stage 1: the cheap corpus-wide pass reads only the prefix
        val shortlist = emb.crossJoin(broadcast(queries))
          .filter($"vec_id" =!= $"qid")
          .withColumn("pcos", cosine($"qpre", $"pre"))
          .withColumn("prank", row_number().over(wPre))
          .filter($"prank" <= 20)
        // stage 2: full-dim rerank of the 20-row shortlist only
        val reranked = shortlist
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wFull))
          .filter($"rank" <= 5)
          .select($"qid".as("r_qid"), $"vec_id".as("r_neighbor"))
        val prefixTop5 = shortlist.filter($"prank" <= 5)
          .select($"qid".as("p_qid"), $"vec_id".as("p_neighbor"))
        exact
          .join(reranked,
            $"qid" === $"r_qid" && $"neighbor_id" === $"r_neighbor", "left")
          .join(prefixTop5,
            $"qid" === $"p_qid" && $"neighbor_id" === $"p_neighbor", "left")
          .groupBy($"qid")
          .agg(count(lit(1)).as("n_exact"),
            count($"r_neighbor").as("hit_rerank"),
            count($"p_neighbor").as("hit_prefix"))
          .withColumn("recall_rerank_ppm",
            expr("hit_rerank * 1000000 div n_exact"))
          .withColumn("recall_prefix_ppm",
            expr("hit_prefix * 1000000 div n_exact"))
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qemb FROM embeddings
          WHERE vec_id % $qModSql = 0),
        exact AS (
          SELECT qid, vec_id AS neighbor_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                e.vec_id) AS rank
            FROM embeddings e, q WHERE e.vec_id <> q.qid) t
          WHERE rank <= 5),
        short AS (
          SELECT qid, vec_id, prank FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSqlN("q.qemb", "e.embedding", 16)} /
                (sqrt(${dotSqlN("q.qemb", "q.qemb", 16)}) *
                 sqrt(${dotSqlN("e.embedding", "e.embedding", 16)})) DESC,
                e.vec_id) AS prank
            FROM embeddings e, q WHERE e.vec_id <> q.qid) t
          WHERE prank <= 20),
        rerank AS (
          SELECT qid, vec_id FROM (
            SELECT s.qid, s.vec_id,
              ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                s.vec_id) AS rank
            FROM short s
            JOIN embeddings e ON e.vec_id = s.vec_id
            JOIN q ON q.qid = s.qid) t
          WHERE rank <= 5),
        pre5 AS (SELECT qid, vec_id FROM short WHERE prank <= 5)
        SELECT x.qid, COUNT(*) AS n_exact,
          COUNT(r.vec_id) AS hit_rerank,
          COUNT(p.vec_id) AS hit_prefix,
          COUNT(r.vec_id) * 1000000 // COUNT(*) AS recall_rerank_ppm,
          COUNT(p.vec_id) * 1000000 // COUNT(*) AS recall_prefix_ppm
        FROM exact x
        LEFT JOIN rerank r
          ON r.qid = x.qid AND r.vec_id = x.neighbor_id
        LEFT JOIN pre5 p
          ON p.qid = x.qid AND p.vec_id = x.neighbor_id
        GROUP BY x.qid""")),

    // ------------------------------------------------------------------
    // Scalar-quantization (int8) retrieval evaluation — the third
    // compression-accuracy measurement beside PQ (sim_pq_adc_topk)
    // and Matryoshka prefixes: each dimension is affinely quantized
    // to an 8-bit code against the corpus' own per-dimension
    // [min, max] range (the faiss SQ8 layout — 64 bytes/vector, 4×
    // less memory bandwidth than f32), search scores by the INTEGER
    // code dot product, and recall@5 is measured against the exact
    // full-precision top-5 by inner product. Everything after the
    // quantization is exact integer arithmetic (code products sum
    // associatively — parallelism-proof), the quantization itself is
    // a per-element IEEE formula over order-free min/max stats (no
    // sum enters it), and both rankings carry the vec_id tiebreak —
    // so the whole evaluation is DuckDB-hash-checked. Plan: one
    // corpus pass for the 64-row stats (explode + partial-agg'd
    // min/max), stats and queries broadcast; the corpus never
    // shuffles.
    Q("sim_sq_recall",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val stats = emb
          .select(posexplode($"embedding").as(Seq("dim", "x")))
          .groupBy($"dim")
          .agg(min($"x".cast("double")).as("mn"),
            max($"x".cast("double")).as("mx"))
          .groupBy()
          .agg(array_sort(collect_list(struct($"dim", $"mn"))).as("mns"),
            array_sort(collect_list(struct($"dim", $"mx"))).as("mxs"))
          .select(transform($"mns", e => e("mn")).as("mn"),
            transform($"mxs", e => e("mx")).as("mx"))
        val coded = emb.crossJoin(broadcast(stats))
          .withColumn("codes", expr(
            """transform(sequence(1, 64), i ->
                 CASE WHEN element_at(mx, i) = element_at(mn, i)
                      THEN CAST(0 AS BIGINT)
                      ELSE CAST(floor(
                        (CAST(element_at(embedding, i) AS DOUBLE)
                          - element_at(mn, i)) * CAST(255 AS DOUBLE)
                        / (element_at(mx, i) - element_at(mn, i)))
                        AS BIGINT) END)"""))
          .select($"vec_id", $"embedding", $"codes")
        val queries = coded.filter($"vec_id" % qMod(s, d) === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qemb"),
            $"codes".as("qcodes"))
        val exact = emb.crossJoin(broadcast(
            queries.select($"qid", $"qemb")))
          .filter($"vec_id" =!= $"qid")
          .withColumn("dp", dot($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(Window.partitionBy($"qid")
            .orderBy($"dp".desc, $"vec_id")))
          .filter($"rank" <= 5)
          .select($"qid", $"vec_id".as("neighbor_id"))
        val sq5 = coded.crossJoin(broadcast(
            queries.select($"qid", $"qcodes")))
          .filter($"vec_id" =!= $"qid")
          .withColumn("sqdot", expr(
            """aggregate(zip_with(codes, qcodes, (a, b) -> a * b),
                 CAST(0 AS BIGINT), (acc, x) -> acc + x)"""))
          .withColumn("rank", row_number().over(Window.partitionBy($"qid")
            .orderBy($"sqdot".desc, $"vec_id")))
          .filter($"rank" <= 5)
          .select($"qid".as("s_qid"), $"vec_id".as("s_neighbor"))
        exact.join(sq5,
            $"qid" === $"s_qid" && $"neighbor_id" === $"s_neighbor", "left")
          .groupBy($"qid")
          .agg(count(lit(1)).as("n_exact"),
            count($"s_neighbor").as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qemb FROM embeddings
          WHERE vec_id % $qModSql = 0),
        stats AS (
          SELECT i AS dim,
            MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
            MAX(CAST(embedding[i] AS DOUBLE)) AS mx
          FROM embeddings, generate_series(1, 64) t(i)
          GROUP BY i),
        codes AS (
          SELECT e.vec_id, s.dim,
            CASE WHEN s.mx = s.mn THEN 0
                 ELSE CAST(floor(
                   (CAST(e.embedding[s.dim] AS DOUBLE) - s.mn) * 255.0
                   / (s.mx - s.mn)) AS BIGINT) END AS code
          FROM embeddings e, stats s),
        sqdots AS (
          SELECT qc.qid, vc.vec_id,
            CAST(SUM(qc.code * vc.code) AS BIGINT) AS sqdot
          FROM (SELECT c.vec_id AS qid, c.dim, c.code
                FROM codes c JOIN q ON q.qid = c.vec_id) qc
          JOIN codes vc ON vc.dim = qc.dim
          WHERE vc.vec_id <> qc.qid
          GROUP BY qc.qid, vc.vec_id),
        sq5 AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY sqdot DESC, vec_id) AS rk
            FROM sqdots) t
          WHERE rk <= 5),
        exact AS (
          SELECT qid, vec_id AS neighbor_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} DESC, e.vec_id) AS rank
            FROM embeddings e, q WHERE e.vec_id <> q.qid) t
          WHERE rank <= 5)
        SELECT x.qid, COUNT(*) AS n_exact, COUNT(s.vec_id) AS n_hit,
          COUNT(s.vec_id) * 1000000 // COUNT(*) AS recall_ppm
        FROM exact x LEFT JOIN sq5 s
          ON s.qid = x.qid AND s.vec_id = x.neighbor_id
        GROUP BY x.qid""")),

    // ------------------------------------------------------------------
    // SRP-LSH retrieval evaluation — the accuracy measurement for the
    // sign-random-projection ANN path (sim_ann_lsh), closing the loop
    // sim_ivf_recall closed for IVF: with both, EVERY approximate
    // search path in the engine carries an oracle-checked recall
    // number. recall@5 of the same-bucket candidate search against
    // the exact cosine top-5; the ±1 hyperplanes are driver-side
    // literals, so the oracle replays the identical ordered
    // projections as embedded list literals — bucket assignment,
    // candidate set, and both rankings are all deterministic under
    // the (cos desc, vec_id) tiebreak. A query whose bucket holds
    // fewer than 5 neighbors scores over what it found (n_hit counts
    // matches; n_exact stays 5) — exactly the degradation a
    // single-table SRP index exhibits, which is the number this
    // query exists to surface (multi-probe or multi-table raises it;
    // the banded MinHash path in dedup shows the same trade).
    Q("sim_lsh_recall",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
          .withColumn("bucket", lshSignature($"embedding"))
        val queries = emb.filter($"vec_id" % qMod(s, d) === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qemb"), $"bucket")
        val wTop = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val exact = emb.crossJoin(broadcast(
            queries.select($"qid", $"qemb")))
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wTop))
          .filter($"rank" <= 5)
          .select($"qid", $"vec_id".as("neighbor_id"))
        val lsh5 = emb.join(broadcast(queries), "bucket")
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wTop))
          .filter($"rank" <= 5)
          .select($"qid".as("l_qid"), $"vec_id".as("l_neighbor"))
        exact.join(lsh5,
            $"qid" === $"l_qid" && $"neighbor_id" === $"l_neighbor", "left")
          .groupBy($"qid")
          .agg(count(lit(1)).as("n_exact"),
            count($"l_neighbor").as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
      },
      Some(s"""WITH b AS (
          SELECT vec_id, embedding,
            ${bucketSql("embedding")} AS bucket
          FROM embeddings),
        q AS (
          SELECT vec_id AS qid, embedding AS qemb, bucket FROM b
          WHERE vec_id % $qModSql = 0),
        exact AS (
          SELECT qid, vec_id AS neighbor_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                e.vec_id) AS rank
            FROM embeddings e, q WHERE e.vec_id <> q.qid) t
          WHERE rank <= 5),
        lsh5 AS (
          SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                e.vec_id) AS rank
            FROM b e JOIN q ON e.bucket = q.bucket
            WHERE e.vec_id <> q.qid) t
          WHERE rank <= 5)
        SELECT x.qid, COUNT(*) AS n_exact, COUNT(l.vec_id) AS n_hit,
          COUNT(l.vec_id) * 1000000 // COUNT(*) AS recall_ppm
        FROM exact x LEFT JOIN lsh5 l
          ON l.qid = x.qid AND l.vec_id = x.neighbor_id
        GROUP BY x.qid""")),

    // ------------------------------------------------------------------
    // Clustering-quality report for the IVF/k-means coarse quantizer:
    // per coarse cell, member count and total/mean quantized-L2
    // inertia — the elbow-curve ingredient that decides K before an
    // IVF index ships, and the balance check that catches dead or
    // overloaded cells (an unbalanced quantizer wrecks probe-cost
    // uniformity at 10⁹ vectors). Assignment is the shared
    // broadcast-codebook argmin on FloatVecL2Q's integer distance
    // (bit-reproducible in any engine); inertia is a SUM of those
    // integers — associative, parallelism-proof — and mean divides
    // two exact integers once.
    Q("sim_kmeans_quality",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        emb.crossJoin(broadcast(cents))
          .withColumn("qdist", graft.functions.NativeFunctions.floatVecL2Q(
            $"embedding", $"cemb"))
          .groupBy($"vec_id")
          .agg(min(struct($"qdist", $"cid")).as("best"))
          .select($"vec_id", $"best.cid".as("cid"), $"best.qdist".as("qdist"))
          .groupBy($"cid")
          .agg(count(lit(1)).as("n_members"), sum($"qdist").as("inertia_q"))
          .withColumn("mean_inertia_q", expr("inertia_q div n_members"))
      },
      Some("""WITH c AS (
          SELECT vec_id AS cid, embedding AS cemb FROM embeddings
          WHERE vec_id < 16),
        scored AS (
          SELECT e.vec_id, c.cid,
            CAST((SELECT SUM(CAST(floor(
                (CAST(e.embedding[j] AS DOUBLE) -
                 CAST(c.cemb[j] AS DOUBLE)) *
                (CAST(e.embedding[j] AS DOUBLE) -
                 CAST(c.cemb[j] AS DOUBLE)) * 1000000.0)
              AS BIGINT)) FROM generate_series(1, 64) t(j)) AS BIGINT)
              AS qdist
          FROM embeddings e, c),
        assign AS (
          SELECT vec_id, cid, qdist FROM (
            SELECT vec_id, cid, qdist,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY qdist, cid) AS rk
            FROM scored) t WHERE rk = 1)
        SELECT cid, COUNT(*) AS n_members,
          CAST(SUM(qdist) AS BIGINT) AS inertia_q,
          CAST(SUM(qdist) // COUNT(*) AS BIGINT) AS mean_inertia_q
        FROM assign GROUP BY cid""")),

    // ------------------------------------------------------------------
    // Deterministic k-means++-style seeding (farthest-first
    // traversal): center 0 is the minimum vec_id; each round adds
    // the vector maximizing its minimum quantized-L2 distance to the
    // chosen set, tie-broken by vec_id. The classic D² sampling is
    // randomized — this is its deterministic farthest-point variant
    // (same 2-approximation family for k-center), reproducible
    // across runs, engines and partitionings because FloatVecL2Q
    // distances are exact integers and argmax-with-tiebreak is an
    // order-free aggregate. Each round is ONE broadcast pass over
    // the corpus (centers are k rows) + a 1-row argmax — k·scan
    // total work, the index-build bootstrap that needs no iteration
    // to converge. Rounds are lineage-pinned (the next round's
    // broadcast references the union of all previous).
    Q("sim_kpp_init",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        // Lazy pins: the ≤4-row round frames stay cached until the
        // caller's action finishes (unpersisting early would
        // recompute the chain per reference).
        var centers = pin(emb.orderBy($"vec_id").limit(1)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"),
            lit(0L).as("round"), lit(0L).as("sel_dist_q")))
        for (r <- 1 to 3) {
          val mind = emb
            .crossJoin(broadcast(centers.select($"cid", $"cemb")))
            .withColumn("qdist", graft.functions.NativeFunctions
              .floatVecL2Q($"embedding", $"cemb"))
            .groupBy($"vec_id").agg(min($"qdist").as("mind"))
          val sel = mind
            .agg(max(struct($"mind", (-$"vec_id").as("nid"))).as("m"))
            .select($"m.mind".as("sel_dist_q"), (-$"m.nid").as("vec_id"))
          val next = sel.join(emb, "vec_id")
            .select($"vec_id".as("cid"), $"embedding".as("cemb"),
              lit(r.toLong).as("round"), $"sel_dist_q")
          centers = pin(centers.unionByName(next))
        }
        centers.select($"round", $"cid".as("center_id"), $"sel_dist_q")
      },
      Some {
        def l2q(a: String, b: String) =
          s"""CAST((SELECT SUM(CAST(floor(
                (CAST($a[j] AS DOUBLE) - CAST($b[j] AS DOUBLE)) *
                (CAST($a[j] AS DOUBLE) - CAST($b[j] AS DOUBLE)) *
                1000000.0) AS BIGINT))
              FROM generate_series(1, 64) t(j)) AS BIGINT)"""
        def round(i: Int) = s"""
          d$i AS (
            SELECT e.vec_id, MIN(${l2q("e.embedding", "c.cemb")}) AS mind
            FROM embeddings e, cs${i - 1} c GROUP BY e.vec_id),
          s$i AS (
            SELECT vec_id, CAST(mind AS BIGINT) AS mind FROM d$i
            ORDER BY mind DESC, vec_id LIMIT 1),
          c$i AS (
            SELECT s$i.vec_id AS cid, e.embedding AS cemb
            FROM s$i JOIN embeddings e ON e.vec_id = s$i.vec_id),
          cs$i AS (SELECT * FROM cs${i - 1} UNION ALL SELECT * FROM c$i)"""
        s"""WITH cs0 AS (
            SELECT vec_id AS cid, embedding AS cemb FROM embeddings
            ORDER BY vec_id LIMIT 1),
          ${round(1)},
          ${round(2)},
          ${round(3)}
          SELECT CAST(0 AS BIGINT) AS round, cid AS center_id,
            CAST(0 AS BIGINT) AS sel_dist_q
          FROM cs0
          UNION ALL SELECT 1, vec_id, mind FROM s1
          UNION ALL SELECT 2, vec_id, mind FROM s2
          UNION ALL SELECT 3, vec_id, mind FROM s3"""
      }),

    // ------------------------------------------------------------------
    // Embedding-table health report — the QA gate an embedding
    // pipeline runs before an index build or a training job reads
    // the table: per label shard, vector count, min/max/mean squared
    // norm and the zero-vector count (dead encoder outputs). Norms
    // are the QUANTIZED self-dot (FloatVecDotQ — Σ floor(xᵢ²·10⁹) as
    // BIGINT), so min/max select stored integers and the mean
    // divides two exact integers: nothing in the report can flutter,
    // unlike a float Σx² whose partial-agg order differs per run. A
    // norm collapsing toward zero or exploding per shard is the
    // classic symptom of an encoder regression — this is the report
    // that catches it before a week of GPU time does. One scan, one
    // |labels|-row rollup.
    Q("sim_embedding_health",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .select($"label".cast("long").as("label"),
            graft.functions.NativeFunctions.floatVecDotQ(
              $"embedding", $"embedding").as("normq"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_vecs"),
            min($"normq").as("min_normq"),
            max($"normq").as("max_normq"),
            sum($"normq").as("sum_normq"),
            count(when($"normq" === 0, 1)).as("n_zero"))
          .select($"label", $"n_vecs", $"min_normq", $"max_normq",
            expr("sum_normq div n_vecs").as("mean_normq"), $"n_zero")
      },
      Some(s"""WITH scored AS (
          SELECT CAST(label AS BIGINT) AS label,
            ${dotQSql("embedding", "embedding")} AS normq
          FROM embeddings)
        SELECT label, COUNT(*) AS n_vecs,
          CAST(MIN(normq) AS BIGINT) AS min_normq,
          CAST(MAX(normq) AS BIGINT) AS max_normq,
          CAST(SUM(normq) // COUNT(*) AS BIGINT) AS mean_normq,
          COUNT(CASE WHEN normq = 0 THEN 1 END) AS n_zero
        FROM scored GROUP BY label""")),

    // ------------------------------------------------------------------
    // IVF probe sweep — recall@5 at nprobe ∈ {1, 2, 4} from ONE
    // pass: the tuning curve that sets the probe count (the latency/
    // recall dial) before an IVF index ships, where sim_ivf_recall
    // measures only the shipped configuration. Uses the identity
    // that an exact top-5 neighbor is retrieved iff its assigned
    // cell is among the query's nprobe nearest cells (anything
    // outranking it among candidates is itself a true top-5 member),
    // so the whole sweep needs no per-nprobe candidate scan: exact
    // neighbors join their cell assignment, the query's cell RANKING
    // (not set) attaches, and each nprobe level is one conditional
    // count. Cells and the query set broadcast; the corpus is
    // scanned once for assignment and once for exact truth.
    Q("sim_probe_sweep",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val cents = emb.filter($"vec_id" < 16)
          .select($"vec_id".as("cid"), $"embedding".as("cemb"))
        def cellRanks(vecs: DataFrame, n: Int): DataFrame = {
          val w = Window.partitionBy(col("vec_id"))
            .orderBy(col("ccos").desc, col("cid"))
          vecs.crossJoin(broadcast(cents))
            .withColumn("ccos", cosine(col("embedding"), col("cemb")))
            .withColumn("crank", row_number().over(w))
            .filter(col("crank") <= n)
            .select(col("vec_id"), col("cid"), col("crank"))
        }
        val queries = emb.filter($"vec_id" % qMod(s, d) === 0)
        val wTop = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
        val exact = emb.crossJoin(broadcast(
            queries.select($"vec_id".as("qid"), $"embedding".as("qemb"))))
          .filter($"vec_id" =!= $"qid")
          .withColumn("cos", cosine($"qemb", $"embedding"))
          .withColumn("rank", row_number().over(wTop))
          .filter($"rank" <= 5)
          .select($"qid", $"vec_id".as("neighbor_id"))
        val assign = cellRanks(emb, 1)
          .select($"vec_id".as("neighbor_id"), $"cid".as("ncell"))
        val qRanks = cellRanks(queries, 4)
          .select($"vec_id".as("rq_qid"), $"cid".as("qcell"),
            $"crank".as("qcrank"))
        val annotated = exact
          .join(assign, "neighbor_id")
          .join(broadcast(qRanks),
            $"qid" === $"rq_qid" && $"ncell" === $"qcell", "left")
          .drop("rq_qid")
        annotated
          .select(explode(expr("array(1, 2, 4)")).as("nprobe"),
            $"qcrank")
          .groupBy($"nprobe".cast("long").as("nprobe"))
          .agg(count(lit(1)).as("n_exact"),
            count(when($"qcrank" <= $"nprobe", 1)).as("n_hit"))
          .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
      },
      Some(s"""WITH q AS (
          SELECT vec_id AS qid, embedding AS qemb FROM embeddings
          WHERE vec_id % $qModSql = 0),
        c AS (
          SELECT vec_id AS cid, embedding AS cemb FROM embeddings
          WHERE vec_id < 16),
        exact AS (
          SELECT qid, vec_id AS neighbor_id FROM (
            SELECT q.qid, e.vec_id,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "e.embedding")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                e.vec_id) AS rank
            FROM embeddings e, q WHERE e.vec_id <> q.qid) t
          WHERE rank <= 5),
        assign AS (
          SELECT vec_id AS neighbor_id, cid AS ncell FROM (
            SELECT e.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                ${dotSql("e.embedding", "c.cemb")} /
                (sqrt(${dotSql("e.embedding", "e.embedding")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid)
                AS crank
            FROM embeddings e, c) t WHERE crank = 1),
        qranks AS (
          SELECT qid, cid AS qcell, crank AS qcrank FROM (
            SELECT q.qid, c.cid,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                ${dotSql("q.qemb", "c.cemb")} /
                (sqrt(${dotSql("q.qemb", "q.qemb")}) *
                 sqrt(${dotSql("c.cemb", "c.cemb")})) DESC, c.cid)
                AS crank
            FROM q, c) t WHERE crank <= 4),
        annotated AS (
          SELECT x.qid, x.neighbor_id, qr.qcrank
          FROM exact x
          JOIN assign a ON a.neighbor_id = x.neighbor_id
          LEFT JOIN qranks qr
            ON qr.qid = x.qid AND qr.qcell = a.ncell),
        swept AS (
          SELECT np.nprobe, a.qcrank
          FROM annotated a, (SELECT unnest([1, 2, 4]) AS nprobe) np)
        SELECT CAST(nprobe AS BIGINT) AS nprobe, COUNT(*) AS n_exact,
          COUNT(CASE WHEN qcrank <= nprobe THEN 1 END) AS n_hit,
          COUNT(CASE WHEN qcrank <= nprobe THEN 1 END) * 1000000
            // COUNT(*) AS recall_ppm
        FROM swept GROUP BY nprobe""")),

    // ------------------------------------------------------------------
    // Hubness audit of the exact kNN graph — the embedding-health
    // check that catches the curse-of-dimensionality failure mode
    // retrieval evals miss: in high effective dimension a few "hub"
    // vectors appear in everyone's top-k (huge in-degree) while
    // "antihubs" appear in nobody's, and both distort dedup /
    // retrieval built on the graph. The audit reports the full
    // in-degree histogram of sim_knn_graph's k=3 label-blocked
    // edges, including the in_deg = 0 antihub row (computed as
    // corpus minus matched neighbors — never a second corpus pass).
    // With n nodes and k=3 the mean in-degree is exactly 3, so
    // hubness shows as mass above ~2× that. Ranking-free and
    // integer-only. Scale: same blocked self-join as sim_knn_graph
    // (the oracle shares its sf1 infeasibility; the engine side is
    // the blocked design that completes).
    Q("sim_hubness_audit",
      (s, d) => {
        import s.implicits._
        val dq = graft.functions.NativeFunctions.floatVecDotQ _
        // Same bounded-block regime as sim_knn_graph (this query IS
        // that graph's in-degree histogram — the two dumps stay
        // cross-consistent because they derive the same edge set).
        val nS = blockSplits(s, d)
        val emb0 = Tables.embeddings(s, d)
          .select($"vec_id", $"label", $"embedding")
          .withColumn("qnrm", dq($"embedding", $"embedding"))
        val emb = if (nS <= 1) emb0
          else emb0.withColumn("blk", subBlock($"vec_id", nS))
        val cond =
          if (nS <= 1)
            col("a.label") === col("b.label") &&
              col("a.vec_id") =!= col("b.vec_id")
          else
            col("a.label") === col("b.label") &&
              col("a.blk") === col("b.blk") &&
              col("a.vec_id") =!= col("b.vec_id")
        val w = Window.partitionBy(col("a.vec_id"))
          .orderBy($"cos".desc, col("b.vec_id"))
        val indeg = emb.as("a").join(emb.as("b"), cond)
          .withColumn("cos",
            dq(col("a.embedding"), col("b.embedding")).cast("double") /
            (sqrt(col("a.qnrm").cast("double")) *
             sqrt(col("b.qnrm").cast("double"))))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .groupBy(col("b.vec_id").as("nid"))
          .agg(count(lit(1)).as("in_deg"))
        val hist = indeg.groupBy($"in_deg")
          .agg(count(lit(1)).as("n_nodes"))
        val anti = Tables.embeddings(s, d)
          .agg(count(lit(1)).as("n_total"))
          .crossJoin(broadcast(
            indeg.agg(count(lit(1)).as("n_matched"))))
          .select(lit(0L).as("in_deg"),
            ($"n_total" - $"n_matched").as("n_nodes"))
          .filter($"n_nodes" > 0)
        hist.unionByName(anti)
      },
      Some(s"""WITH $embSubSql,
        scored AS (
          SELECT a.vec_id, b.vec_id AS neighbor_id,
            CAST(${dotQSql("a.embedding", "b.embedding")} AS DOUBLE) /
            (sqrt(CAST(${dotQSql("a.embedding", "a.embedding")}
                AS DOUBLE)) *
             sqrt(CAST(${dotQSql("b.embedding", "b.embedding")}
                AS DOUBLE)))
              AS cos
          FROM embsub a JOIN embsub b
            ON a.label = b.label AND a.blk = b.blk
           AND a.vec_id <> b.vec_id),
        edges AS (
          SELECT neighbor_id FROM (
            SELECT vec_id, neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, neighbor_id) AS rk
            FROM scored) t
          WHERE rk <= 3),
        indeg AS (
          SELECT neighbor_id AS nid, CAST(COUNT(*) AS BIGINT)
            AS in_deg
          FROM edges GROUP BY 1),
        hist AS (
          SELECT in_deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
          FROM indeg GROUP BY 1),
        antihubs AS (
          SELECT CAST(0 AS BIGINT) AS in_deg,
            (SELECT COUNT(*) FROM embeddings)
              - (SELECT COUNT(*) FROM indeg) AS n_nodes)
        SELECT in_deg, n_nodes FROM hist
        UNION ALL
        SELECT in_deg, CAST(n_nodes AS BIGINT) FROM antihubs
        WHERE n_nodes > 0"""))
  )

  /** PQ codebook assignment shared by `sim_pq_encode` and
    * `sim_pq_adc_topk`: (vec_id, sub, code, qdist) — see the
    * sim_pq_encode commentary for the shape rationale. */
  private def pqCodes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val cents = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"embedding".as("cemb"))
    emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", $"embedding", $"cemb",
        explode(sequence(lit(0), lit(7))).as("sub"))
      .withColumn("qdist", graft.functions.NativeFunctions.floatVecL2Q(
        slice($"embedding", $"sub" * 8 + 1, lit(8)),
        slice($"cemb", $"sub" * 8 + 1, lit(8))))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"qdist", $"cid")).as("best"))
      .select($"vec_id", $"sub".cast("long").as("sub"),
        $"best.cid".as("code"), $"best.qdist".as("qdist"))
  }

  /** Oracle CTEs mirroring [[pqCodes]] (a def: referenced from `all`'s
    * initializer above). */
  private def pqSql: String =
    """c AS (
        SELECT vec_id AS cid, embedding AS cemb FROM embeddings
        WHERE vec_id < 16),
      pq_scored AS (
        SELECT e.vec_id, g.sub, c.cid,
          CAST((SELECT SUM(CAST(floor(
              (CAST(e.embedding[g.sub * 8 + j] AS DOUBLE) -
               CAST(c.cemb[g.sub * 8 + j] AS DOUBLE)) *
              (CAST(e.embedding[g.sub * 8 + j] AS DOUBLE) -
               CAST(c.cemb[g.sub * 8 + j] AS DOUBLE)) * 1000000.0)
            AS BIGINT)) FROM generate_series(1, 8) t(j)) AS BIGINT) AS qdist
        FROM embeddings e, c,
          (SELECT unnest(generate_series(0, 7)) AS sub) g),
      codes AS (
        SELECT vec_id, sub, cid AS code, qdist FROM (
          SELECT vec_id, sub, cid, qdist,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY qdist, cid) AS rk
          FROM pq_scored) t WHERE rk = 1)"""
}
