package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator reproducing the driver
  * testdata's schemas and distributions (TESTDATA.md tables) at any
  * scale factor — built for the round-4 verdict's sf1 scale-up
  * validation (the sf ladder tops out at 0.1; the 100 TB design
  * claims deserve at least one 10x extrapolation point).
  *
  * Spark-first and rand()-free: every value is a pure function of
  * the row id through xxhash64, so the output is bit-identical under
  * any partition count or cluster size (the salted-hash discipline
  * every sampling query in this engine already follows), and
  * generation is one embarrassingly-parallel `spark.range` per table
  * — no shuffle anywhere except the tiny documents twin join. At a
  * real 100 TB target the same plan runs unchanged with the
  * single-file packaging step dropped (that step exists only because
  * the DuckDB oracle reads `<table>.parquet` files).
  *
  * Distributions mirrored from the driver data (probed, round 5):
  * uniform key domains and money-with-2dp columns, Poisson(4)
  * lineitems per order, exponential(mean 50) event values over a
  * 30-day January-2024 span, users = customers/10, a 30-word doc
  * vocabulary with ~5% planted twin docs marked by an appended
  * "dup" token, and 64-dim L2-normalized random embeddings with
  * uniform labels 0..9.
  *
  * Usage: runMain graft.SyntheticGen <outDir> <sf>   (sf=1 → 6M
  * lineitem rows; testdata sf ladder is 0.001/0.01/0.1).
  */
object SyntheticGen {

  /** Deterministic uniform in [0, 1) from (salt, id). */
  private def u(salt: String, id: Column): Column =
    (pmod(xxhash64(lit(salt), id), lit(1000000000000L)).cast("double")
      / 1e12)

  /** Deterministic integer in [0, n) from (salt, id). */
  private def h(salt: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(salt), id), lit(n))

  private def money(c: Column): Column = round(c, 2)

  /** Epoch-day timestamp (NTZ so parquet matches the driver's
    * naive-micros vintage on both the Spark and DuckDB side). */
  private def dayTs(base: String, days: Column): Column =
    (to_timestamp(lit(base)).cast("long") + days * 86400L)
      .cast("timestamp").cast("timestamp_ntz")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val sf = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val skewHot = args.lift(2).map(_.toDouble).getOrElse(0.0)
    val spark = GraftSession.create(GraftSession.envCpus)
    generate(spark, out, sf, skewHot)
    spark.stop()
  }

  /** @param skewHot 0.0 = the driver's uniform key distributions;
    *   > 0 routes that probability mass of o_custkey / l_suppkey /
    *   events.user_id onto hot key 0 (the round-4 verdict's skew
    *   arm: testdata was uniform, so the salted-join and AQE
    *   skew-split paths never engaged on realistic input —
    *   SkewedDataSpec pins both on this arm). */
  def generate(spark: SparkSession, out: String, sf: Double,
               skewHot: Double = 0.0): Unit = {
    import spark.implicits._
    val nCust = (150000 * sf).toLong max 10
    val nOrders = (1500000 * sf).toLong max 10
    val nPart = (200000 * sf).toLong max 10
    val nSupp = (10000 * sf).toLong max 5
    val nEvents = (1000000 * sf).toLong max 100
    val nDocs = (50000 * sf).toLong max 100
    val nVecs = (20000 * sf).toLong max 100
    val nUsers = nCust / 10 max 1

    Files.createDirectories(Paths.get(out))

    def ids(n: Long) = spark.range(n).toDF("id")

    /** Uniform key in [0, n), or the hot key 0 with probability
      * skewHot (deterministic per row like everything else). */
    def skewedKey(salt: String, id: Column, n: Long): Column =
      if (skewHot <= 0.0) h(salt, id, n)
      else when(u(salt + "|hot", id) < skewHot, lit(0L))
        .otherwise(h(salt, id, n))

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    val region = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")

    val customer = ids(nCust).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      h("cnat", $"id", 25).cast("int").as("c_nationkey"),
      money(u("cbal", $"id") * 11000 - 1000).as("c_acctbal"),
      element_at(segs, h("cseg", $"id", 5).cast("int") + 1)
        .as("c_mktsegment"))

    val supplier = ids(nSupp).select(
      $"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      h("snat", $"id", 25).cast("int").as("s_nationkey"),
      money(u("sbal", $"id") * 11000 - 1000).as("s_acctbal"))

    val adjs = array(Seq("blue", "cold", "hot", "large", "new", "old",
      "red", "small").map(lit): _*)
    val nouns = array(Seq("anvil", "bolt", "gear", "gizmo", "plate",
      "ring", "rod", "widget").map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
      "SMALL", "STANDARD").map(lit): _*)
    val part = ids(nPart).select(
      $"id".as("p_partkey"),
      concat(element_at(adjs, h("padj", $"id", 8).cast("int") + 1),
        lit(" "),
        element_at(nouns, h("pnoun", $"id", 8).cast("int") + 1))
        .as("p_name"),
      concat(lit("Brand#"), (h("pbrand", $"id", 25) + 1).cast("string"))
        .as("p_brand"),
      element_at(types, h("ptype", $"id", 6).cast("int") + 1).as("p_type"),
      (h("psize", $"id", 50) + 1).cast("int").as("p_size"),
      money(lit(900.0) + pmod($"id", lit(1000)).cast("double") * 0.1)
        .as("p_retailprice"))

    val statuses = array(Seq("O", "P", "F").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    val orders = ids(nOrders).select(
      $"id".as("o_orderkey"),
      skewedKey("ocust", $"id", nCust).as("o_custkey"),
      element_at(statuses, h("ostat", $"id", 3).cast("int") + 1)
        .as("o_orderstatus"),
      money(lit(1000.0) + u("otp", $"id") * 499000).as("o_totalprice"),
      dayTs("1995-01-01 00:00:00", h("odate", $"id", 2405))
        .as("o_orderdate"),
      element_at(prios, h("oprio", $"id", 5).cast("int") + 1)
        .as("o_orderpriority"))

    // Poisson(4) per-order lineitem count by inverse-CDF over a
    // literal table, then one explode — no shuffle, key-dense like
    // the driver data (orders with k=0 simply have no lines).
    val pois4cdf = {
      val pmf = (0 to 17).scanLeft(math.exp(-4.0)) { case (p, k) =>
        p * 4.0 / (k + 1) }.take(18)
      pmf.tail.scanLeft(pmf.head)(_ + _)
    }
    val cdfArr = array(pois4cdf.map(lit): _*)
    val flags = array(Seq("A", "N", "R").map(lit): _*)
    val lstat = array(Seq("F", "O").map(lit): _*)
    val lineitem = ids(nOrders)
      .withColumn("k",
        size(filter(cdfArr, c => c < u("lcount", $"id"))))
      .select($"id".as("l_orderkey"),
        posexplode(sequence(lit(1), $"k")).as(Seq("pos", "l_linenumber")))
      .withColumn("rid", $"l_orderkey" * 32 + $"l_linenumber")
      .select(
        $"l_orderkey",
        h("lpart", $"rid", nPart).as("l_partkey"),
        skewedKey("lsupp", $"rid", nSupp).as("l_suppkey"),
        $"l_linenumber".cast("int"),
        (h("lqty", $"rid", 50) + 1).cast("double").as("l_quantity"),
        money(lit(900.0) + u("lprice", $"rid") * 104100)
          .as("l_extendedprice"),
        (h("ldisc", $"rid", 11).cast("double") / 100).as("l_discount"),
        (h("ltax", $"rid", 9).cast("double") / 100).as("l_tax"),
        element_at(flags, h("lrf", $"rid", 3).cast("int") + 1)
          .as("l_returnflag"),
        element_at(lstat, h("lls", $"rid", 2).cast("int") + 1)
          .as("l_linestatus"),
        dayTs("1995-01-01 00:00:00", h("lship", $"rid", 2499) + 1)
          .as("l_shipdate"))

    val etypes = array(Seq("view", "click", "purchase", "signup",
      "error").map(lit): _*)
    val events = ids(nEvents).select(
      $"id".as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u("ets", $"id") * 2592000e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      skewedKey("euser", $"id", nUsers).as("user_id"),
      element_at(etypes, h("etype", $"id", 5).cast("int") + 1)
        .as("event_type"),
      money(lit(-50.0) * log(lit(1.0) -
        least(u("eval", $"id"), lit(0.9999999)))).as("value"),
      format_string("{\"k\": %d}", h("eprop", $"id", 100)).as("props"))

    // Documents: 30-word vocabulary, 10..100 words; ~5% of ids are
    // twins of a random earlier base doc with " dup" appended (the
    // driver's planted near-duplicate device). One small self-join.
    val vocab = array(Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter",
      "big", "group", "hash", "customer", "sort", "order", "slow",
      "line", "part", "fast", "the", "row", "agg", "key", "query", "a",
      "scan", "batch").map(lit): _*)
    val langs = array(Seq("en", "fr", "es", "de", "zh").map(lit): _*)
    val base = ids(nDocs)
      .withColumn("n_words", (h("dlen", $"id", 91) + 10).cast("int"))
      .withColumn("btext", concat_ws(" ",
        transform(sequence(lit(1), $"n_words"),
          j => element_at(vocab,
            pmod(xxhash64(lit("dword"), $"id", j), lit(30)).cast("int")
              + 1))))
      .withColumn("is_twin", $"id" > 0 && u("dtwin", $"id") < 0.05)
      .withColumn("src_id", h("dsrc", $"id", nDocs) % greatest($"id", lit(1L)))
    val twinText = base.filter($"is_twin")
      .select($"id".as("t_id"), $"src_id")
      .join(base.select($"id".as("src_id"), $"btext".as("src_text")),
        "src_id")
      .select($"t_id", concat($"src_text", lit(" dup")).as("ttext"))
    val langSel = when(h("dlang0", $"id", 100) < 41, lit("en"))
      .otherwise(element_at(langs,
        (h("dlang1", $"id", 4) + 2).cast("int")))
    val documents = base
      .join(twinText, $"id" === $"t_id", "left")
      .select($"id".as("doc_id"),
        coalesce($"ttext", $"btext").as("text"),
        langSel.as("lang"),
        concat(lit("src"), pmod($"id", lit(20)).cast("string"))
          .as("source"))
      .withColumn("n_chars", length($"text").cast("long"))

    val embeddings = ids(nVecs)
      .withColumn("raw", transform(sequence(lit(0), lit(63)),
        j => sqrt(lit(-2.0) * log(greatest(
          pmod(xxhash64(lit("eg1"), $"id", j), lit(1000000000000L))
            .cast("double") / 1e12, lit(1e-12)))) *
          cos(lit(2.0 * math.Pi) *
            (pmod(xxhash64(lit("eg2"), $"id", j), lit(1000000000000L))
              .cast("double") / 1e12))))
      .withColumn("norm", sqrt(aggregate($"raw", lit(0.0),
        (acc, x) => acc + x * x)))
      .select($"id".as("vec_id"),
        transform($"raw", x => (x / $"norm").cast("float"))
          .as("embedding"),
        h("elab", $"id", 10).cast("int").as("label"))

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)

    val sortKeys: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"), "region" -> Seq("r_regionkey"),
      "nation" -> Seq("n_nationkey"))

    for ((name, df) <- tables) {
      // Single-file packaging for the DuckDB oracle (read_parquet
      // wants <table>.parquet files, as the driver testdata ships).
      // repartition(1) + in-partition sort keeps the generation
      // itself parallel (one shuffle to the single writer) and the
      // file byte-deterministic. At a real cluster scale drop this
      // and point the oracle at the directory instead.
      val tmp = s"$out/.tmp_$name"
      df.repartition(1)
        .sortWithinPartitions(sortKeys(name).map(col): _*)
        .write.mode("overwrite").parquet(tmp)
      val partFile = Files.list(Paths.get(tmp))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().orElseThrow()
      Files.move(partFile, Paths.get(s"$out/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tmp))
      println(s"wrote $out/$name.parquet")
    }
  }
}
