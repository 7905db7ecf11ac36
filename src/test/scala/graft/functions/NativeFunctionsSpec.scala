package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.explode
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.SharedSpark
import graft.parity.{ColumnStructure, FarmPipeline, RefText}
import graft.sources.BlockSource

class NativeFunctionsSpec extends AnyFunSuite with SharedSpark {

  private val mapper = new ObjectMapper()

  private def golden(name: String) = {
    val in = getClass.getResourceAsStream(s"/goldens/$name")
    require(in != null, s"missing golden $name")
    mapper.readTree(in).elements().asScala.toSeq
  }

  test("codegen IsNumericToken matches reference goldens through SQL") {
    import spark.implicits._
    val cases = golden("is_numeric_token.json")
      .map(c => (c.get("in").asText(), c.get("out").asBoolean()))
    val df = cases.toDF("tok", "expected")
    // through the extension-registered SQL function (codegen path)
    df.createOrReplaceTempView("toks")
    val bad = spark.sql(
      "SELECT tok FROM toks WHERE farm_is_numeric_token_native(tok) <> expected")
    assert(bad.count() == 0, bad.collect().mkString(","))
  }

  test("codegen StartsWithName matches reference goldens via Column API") {
    import spark.implicits._
    val cases = golden("starts_with_name.json")
      .map(c => (c.get("in").asText(), c.get("out").asBoolean()))
    val df = cases.toDF("line", "expected")
    val bad = df.filter(
      NativeFunctions.startsWithName($"line") =!= $"expected")
    assert(bad.count() == 0, bad.collect().mkString(","))
  }

  test("expressions stay inside whole-stage codegen") {
    import spark.implicits._
    // a file-backed scan: a local Seq would be constant-folded away
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(NativeFunctions.startsWithName($"text") ||
        NativeFunctions.isNumericToken($"text"))
      .select($"doc_id")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    assert(plan.contains("farm_"), s"native expr missing from plan: $plan")
  }

  test("RollingMinHash: null below window size, quadratic parity above") {
    import spark.implicits._
    val df = Seq("", "a", "abcdefg", "abcdefgh", "abcdefghi", "xyzxyzxyzxyz")
      .toDF("s")
      .select($"s", NativeFunctions.rollingMinHash($"s", 8).as("h"))
    val got = df.collect().map(r =>
      r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    // fewer than k code points → no full window → null
    assert(got("") == null && got("a") == null && got("abcdefg") == null)
    // quadratic recompute for the full-window cases
    def slow(s: String, k: Int): Long =
      s.sliding(k).map(_.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)).min
    assert(got("abcdefgh") == slow("abcdefgh", 8))
    assert(got("abcdefghi") == slow("abcdefghi", 8))
    assert(got("xyzxyzxyzxyz") == slow("xyzxyzxyzxyz", 8))
  }

  test("distributed column-threshold histogram matches reference") {
    val cases = {
      val in = getClass.getResourceAsStream("/goldens/analyze_column_structure.json")
      require(in != null)
      mapper.readTree(in).elements().asScala.toSeq
    }
    val rows = cases.zipWithIndex.flatMap { case (c, di) =>
      c.get("blocks").elements().asScala.zipWithIndex.map { case (b, bi) =>
        val bb = b.get("Geometry").get("BoundingBox")
        (s"doc$di", bi.toLong, b.get("BlockType").asText(),
          b.get("Text").asText(), b.get("Page").asInt(),
          bb.get("Left").asDouble(), bb.get("Top").asDouble())
      }
    }.toSeq
    val lines = FarmPipeline.linesFromBlocks(BlockSource.fromRows(spark, rows))
    val got = ColumnStructure.columnThresholds(lines)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((c, di) <- cases.zipWithIndex) {
      val want = c.get("out").asDouble()
      val gotV = got.getOrElse(s"doc$di", 0.5)
      assert(math.abs(gotV - want) < 1e-12, s"doc$di: got $gotV want $want")
    }
  }

  test("mode_det: deterministic ties, null skip, partitioning-invariant") {
    import spark.implicits._
    val big = "x" * 70000 // > writeUTF's 64 KB cap: pins the
                          // length-prefixed partial serialization
    val rows = Seq(
      (1L, "b"), (1L, "b"), (1L, "a"), (1L, "a"), (1L, "c"), // tie a/b → a
      (2L, "z"),                                             // singleton
      (3L, null), (3L, null), (3L, "only"),                  // nulls skipped
      (4L, big), (4L, big), (4L, "small"))                   // 64 KB+ value
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("k", "v").repartition(parts)
      val got = df.groupBy($"k")
        .agg(NativeFunctions.modeDet($"v").as("m"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a", 2L -> "z", 3L -> "only", 4L -> big),
        s"parts=$parts")
    }
    // all-null group → null result; the SQL function works
    // (injected by GraftExtensions)
    rows.toDF("k", "v").createOrReplaceTempView("modetest")
    val viaSql = spark.sql(
      "SELECT k, mode_det(v) AS m FROM modetest WHERE v IS NULL GROUP BY k")
      .collect()
    assert(viaSql.length == 1 && viaSql.head.isNullAt(1))
  }

  test("min_md5_window equals the exploded MIN(md5(substr)) form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Edge cases: empty, shorter than k, exactly k, ASCII long, and a
    // non-ASCII string (exercises the code-point fallback; "é" and a
    // supplementary-plane char make byte and UTF-16 windows diverge).
    val docs = Seq("", "abc", "abcdefgh", "the quick brown fox 123",
      "café con leche por favor", "x😀yzabcdefg")
      .toDF("norm")
    val fused = docs.select($"norm",
      NativeFunctions.minMd5Window($"norm", 8).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val exploded = docs
      .select($"norm", explode(
        sequence(lit(1), greatest(length($"norm") - lit(7), lit(1))))
        .as("i"))
      .select($"norm", md5($"norm".substr($"i", lit(8))).as("h"))
      .groupBy($"norm").agg(min($"h").as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fused === exploded)
  }

  test("approx_top_k: exact under capacity, bounded error over it") {
    import spark.implicits._
    // Skewed stream: value v_i appears weight(i) times; domain 40.
    def weight(i: Int): Int =
      if (i == 0) 500 else if (i == 1) 300 else if (i == 2) 200 else 3
    val rows = (0 until 40).flatMap(i =>
      Seq.fill(weight(i))(f"v$i%02d"))
    val trueCounts = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap

    // Capacity >= domain: exact counts, zero error, any partitioning.
    for (parts <- Seq(1, 8)) {
      val got = rows.toDF("v").repartition(parts)
        .agg(NativeFunctions.approxTopK($"v", 3, 64).as("t"))
        .select(explode($"t").as("e"))
        .select("e.value", "e.est", "e.err").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === Seq(("v00", 500L, 0L), ("v01", 300L, 0L),
        ("v02", 200L, 0L)), s"parts=$parts")
    }

    // Capacity (16) < domain (40): sketch regime. The SpaceSaving
    // guarantee est - err <= true <= est must hold for every reported
    // value, and the clear heavy hitters must surface in order.
    val sk = rows.toDF("v").repartition(8)
      .agg(NativeFunctions.approxTopK($"v", 3, 16).as("t"))
      .select(explode($"t").as("e"))
      .select("e.value", "e.est", "e.err").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(sk.map(_._1).take(3) === Seq("v00", "v01", "v02"), sk.mkString(","))
    for ((v, est, err) <- sk) {
      val t = trueCounts(v)
      assert(t <= est && est - err <= t, s"$v: est=$est err=$err true=$t")
    }

    // SQL function path.
    rows.toDF("v").createOrReplaceTempView("topktest")
    val viaSql = spark.sql(
      "SELECT approx_top_k_ss(v, 1, 64) AS t FROM topktest").collect()
    assert(viaSql.head.getSeq[org.apache.spark.sql.Row](0)
      .head.getString(0) === "v00")
  }

  test("top_k_pairs: exact selection, ties, short groups, partitioning") {
    import spark.implicits._
    // (group, ord, value): group a has 6 rows incl. an ord tie where
    // the SMALLER value must win the last slot; group b has fewer
    // rows than k.
    val rows = Seq(
      ("a", 10L, 7L), ("a", 30L, 2L), ("a", 20L, 5L),
      ("a", 20L, 3L), ("a", 5L, 1L), ("a", 20L, 4L),
      ("b", 1L, 9L))
    for (parts <- Seq(1, 3, 8)) {
      val got = rows.toDF("g", "o", "v").repartition(parts)
        .groupBy($"g")
        .agg(NativeFunctions.topKPairs($"o", $"v", 4).as("top"))
        .select($"g", $"top")
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getLong(0), p.getLong(1))))
        .toMap
      assert(got("a") == Seq((30L, 2L), (20L, 3L), (20L, 4L), (20L, 5L)),
        s"parts=$parts got=${got("a")}")
      assert(got("b") == Seq((1L, 9L)), "short group returns all rows")
    }
    // SQL function path.
    rows.toDF("g", "o", "v").createOrReplaceTempView("topkpairs")
    val viaSql = spark.sql(
      "SELECT top_k_pairs(o, v, 1) AS t FROM topkpairs WHERE g = 'a'")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(viaSql.map(p => (p.getLong(0), p.getLong(1))) == Seq((30L, 2L)))
  }

  test("char_hist_stats: exact histogram moments, unicode-safe") {
    import spark.implicits._
    val got = Seq("aabbc", "", "aaaa", "héé", "𝒳𝒳y")
      .toDF("s")
      .select(NativeFunctions.charHistStats($"s").as("st"))
      .as[Seq[Long]].collect()
    // [n_cps, distinct, sum c^2]
    assert(got(0) === Seq(5L, 3L, 9L))   // 2^2+2^2+1
    assert(got(1) === Seq(0L, 0L, 0L))   // empty: no chars, no runs
    assert(got(2) === Seq(4L, 1L, 16L))  // degenerate "aaaa"
    assert(got(3) === Seq(3L, 2L, 5L))   // é counted once per occurrence
    // Surrogate pair: 𝒳 is ONE code point twice, not four UTF-16 units
    assert(got(4) === Seq(3L, 2L, 5L))
  }
}
