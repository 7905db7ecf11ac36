package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one run measured. `e2e` and `layers` map a metric name to its
  * value; `detail` holds everything else the artifact records. */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double],
                         detail: Map[String, Any], spans: Seq[Map[String, Any]])

final case class RunArgs(workload: String, seed: Long, seconds: Double, trace: Boolean,
                         work: File, cpus: Int, tables: String)

/** Entry point of one benchmark run (see perfbench/README.md):
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --result <file> [--tables <dir>] [--cpus <n>]
  * graftbench.Main --gen-tables <dir> --work <dir> [--cpus <n>]
  * graftbench.Main --record-digests <file> --tables <dir> --work <dir> [--cpus <n>]
  * }}}
  *
  * Writes one JSON result file; perfbench/run.py prints it.
  */
object Main {

  val Workloads: Seq[String] = Seq("etl_short_docs", "registry_sf0.01")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts.getOrElse("work", sys.error("--work is required")))
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    work.mkdirs()
    if (opts.contains("gen-tables")) {
      val spark = Session.create(cpus)
      Registry.generate(spark, opts("gen-tables"))
      Registry.indexFamilies(spark, opts("gen-tables")).foreach(_._2())
      spark.stop()
      return
    }
    if (opts.contains("record-digests")) {
      RecordDigests.run(new File(opts("record-digests")), opts("tables"), cpus,
        opts.get("seed").map(_.toLong).getOrElse(1L))
      return
    }
    val args = RunArgs(
      workload = opts.getOrElse("workload", sys.error("--workload is required")),
      seed = opts.getOrElse("seed", "1").toLong,
      seconds = opts.getOrElse("seconds", "10").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      work = work, cpus = cpus, tables = opts.getOrElse("tables", ""))
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    val result = new File(opts.getOrElse("result", sys.error("--result is required")))

    val t0 = System.nanoTime()
    val spark = Session.create(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val o = args.workload match {
      case "etl_short_docs" => new EtlRun(spark, args, Corpus.short).run(sessionS)
      case _ => new RegistryRun(spark, args).run(sessionS)
    }
    val rt = Runtime.getRuntime
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(ListMap(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cpus" -> cpus,
      "attempted" -> o.attempted, "failed" -> o.failed, "failures" -> o.failures.take(50),
      "e2e" -> o.e2e, "layers" -> o.layers, "detail" -> o.detail,
      "peak_rss_mb" -> peakRssMb(),
      "jvm" -> ListMap("heap_max_mb" -> rt.maxMemory / 1048576.0,
        "heap_committed_mb" -> rt.totalMemory / 1048576.0,
        "java_version" -> System.getProperty("java.version")),
      "conf" -> ListMap(Session.effectiveConf(spark).toSeq.sortBy(_._1): _*),
      "spans" -> o.spans))
    Files.write(result.toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val start = System.nanoTime()
  /** Progress line on stderr (the run's log), stamped with run time. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(start)}%8.2f s] $msg")

  def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    (secs(t0), a)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process so far (all threads), in seconds. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Peak resident set of this process, in MB (VmHWM). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) -1.0
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(-1.0)
  }

  /** Per-layer metrics every traced run reports; a layer the workload
    * does not exercise reads 0. */
  val LayerNames: Seq[String] = Seq(
    "session_s", "datagen_s", "warmup_s", "peak_rss_mb",
    "construct_s", "construct_jobs", "plan_s", "jobs", "stages", "tasks",
    "exec_s", "task_s", "task_cpu_s", "busy_cores", "gc_s",
    "family.rel_s", "family.ev_s", "family.txt_s", "family.dedup_s",
    "family.sim_s", "family.mm_s", "family.gr_s", "family.par_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "max_task_share",
    "cached_mb_peak",
    "index.graph_s", "index.dedup_s", "index.text_s", "index.mm_s",
    "source_s", "blocks_in", "input_partitions",
    "lines_s", "lines_kept", "line_keep_ratio",
    "fold_s", "fold_groups", "max_group_lines", "records_out", "fold_kernel_lines_per_s",
    "format_s", "sink_s", "files_written", "bytes_written",
    "trace_overhead")

  def fillLayers(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- LayerNames
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    ListMap(LayerNames.map(n => n -> m.getOrElse(n, 0.0)): _*)
  }

  /** Spark counters of traced operations, summed over keys after a
    * per-key median over repetitions. `byKey` maps an op id to its key
    * (a query name; the pass for ETL). */
  def counterLayers(tracer: Tracer, byKey: Map[String, String]): Map[String, Double] = {
    val perKey = byKey.groupBy(_._2).map { case (key, ids) =>
      val cs = ids.keys.toSeq.flatMap(tracer.ops.get)
      def med(f: OpCounters => Double) = Stats.median(cs.map(f))
      key -> Map(
        "construct_jobs" -> med(_.constructJobs.toDouble),
        "plan_s" -> med(_.planMs / 1e3),
        "jobs" -> med(_.jobs.toDouble),
        "stages" -> med(_.stages.toDouble),
        "tasks" -> med(_.tasks.toDouble),
        "task_s" -> med(_.taskMs / 1e3),
        "task_cpu_s" -> med(_.cpuNs / 1e9),
        "gc_s" -> med(_.gcMs / 1e3),
        "shuffle_write_mb" -> med(_.shuffleWriteBytes / 1048576.0),
        "shuffle_read_mb" -> med(_.shuffleReadBytes / 1048576.0),
        "spill_mb" -> med(_.spillBytes / 1048576.0),
        "max_task_share" -> med(_.maxTaskShare))
    }
    val summed = perKey.values.flatMap(_.keys).toSet.map { (m: String) =>
      m -> perKey.values.map(_(m)).sum
    }.toMap
    summed + ("max_task_share" -> Stats.median(perKey.values.map(_("max_task_share")).toSeq))
  }
}

object EtlRun {
  /** Warm-up passes before timing. Process CPU per pass falls for
    * about ten passes in a fresh JVM (JIT); these take the steepest
    * part of that fall out of the timed passes. */
  val WarmPasses = 6
}

/** The document-ETL workloads: the corpus is served through
  * `graft-ocr`, run through `FarmPipeline`, written one CSV per
  * document, and every file is read back and compared with the
  * kernels' expected rows. One operation is one document of one pass;
  * one timed unit is one pass over the whole corpus. */
final class EtlRun(spark: SparkSession, a: RunArgs, shape: Corpus.Shape) {
  import Main._

  /** Each pass writes a fresh directory; the check deletes it after
    * reading it back, so no pass pays for removing an earlier one. */
  private var passes = 0
  private def nextDir(): File = { passes += 1; new File(a.work, s"csv-$passes") }
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  /** Process CPU seconds of each pass, for the artifact. */
  private val passCpu = mutable.ArrayBuffer[Double]()

  def run(sessionS: Double): Outcome = {
    // Set-up: corpus generation and load, several rounds (each from
    // scratch); the median round counts toward setup_s.
    val rounds = (1 to 3).map { _ =>
      time { val c = Corpus.generate(a.seed, shape); MemOcrStore.load(c); c }
    }
    val corpus = rounds.last._2
    val genS = Stats.median(rounds.map(_._1))
    val keys = corpus.map(_.key)
    val pages = corpus.map(_.pages.size).sum
    val expected = corpus.map(d => d.key -> Etl.expected(d)).toMap

    // Warm-up: passes that count toward setup_s, until the JIT has
    // compiled the pass's hot paths. The first is checked; the others
    // are not, to keep set-up short.
    val (warmS, _) = time((1 to EtlRun.WarmPasses).foreach { i =>
      pass(keys)._2.foreach(d => if (i == 1) check(expected, d) else Etl.delete(d))
    })
    val setupS = sessionS + genS + warmS

    val timed = mutable.ArrayBuffer[Double]()
    val layers = mutable.Map[String, Double]()
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    if (!a.trace) {
      // Timed passes back to back; their files are checked after the window.
      val written = mutable.ArrayBuffer[File]()
      while (timed.isEmpty || secs(t0) < a.seconds) {
        val (s, d) = pass(keys)
        timed += s
        written ++= d
      }
      written.foreach(check(expected, _))
    } else {
      val tracer = new Tracer(spark)
      val traced = mutable.ArrayBuffer[Double]()
      val prefix = mutable.Map[String, mutable.ArrayBuffer[Double]]()
      var readback: Etl.Readback = null
      var blocksIn = 0L
      var i = 0
      // Untraced and traced passes alternate which goes first, so the
      // overhead ratio does not absorb the warm-up trend.
      while (i < 3 || secs(t0) < a.seconds) {
        if (i % 2 == 0) timed += checkedPass(keys, expected)
        tracer.attach()
        MemOcrStore.resetCounters()
        val op = s"etl#$i"
        val dir = nextDir()
        val (s, _) = time {
          val csv = tracer.phase(op, "construct", "construct", "pass")(Etl.csvFrame(spark, keys))
          tracer.phase(op, "action", "writeCsv", "pass")(Etl.writeCsv(csv, dir))
        }
        traced += s
        blocksIn = MemOcrStore.blocksServed.get
        readback = check(expected, dir)
        for ((name, df) <- Etl.prefixes(spark, keys)) {
          val t = tracer.phase(s"$op/$name", "action", name, op) {
            time(df.write.format("noop").mode("overwrite").save())._1
          }
          prefix.getOrElseUpdate(name, mutable.ArrayBuffer()) += t
        }
        tracer.detach()
        if (i % 2 == 1) timed += checkedPass(keys, expected)
        i += 1
      }
      val passIds = (0 until i).map(j => s"etl#$j" -> "pass").toMap
      val srcIds = (0 until i).map(j => s"etl#$j/source" -> "source").toMap
      val med = prefix.map { case (k, v) => k -> Stats.median(v.toSeq) }
      val full = Stats.median(traced.toSeq)
      val cols = corpus.flatMap(Etl.columns)
      val linesKept = cols.map(_._2.size).sum
      val blocksTotal = corpus.map(_.blockCount).sum
      layers ++= counterLayers(tracer, passIds)
      layers ++= Map(
        "session_s" -> sessionS, "datagen_s" -> genS, "warmup_s" -> warmS,
        "peak_rss_mb" -> peakRssMb(),
        "construct_s" -> Stats.median(tracer.spans.filter(_.name == "construct").map(_.seconds).toSeq),
        "exec_s" -> Stats.median(tracer.spans.filter(_.name == "writeCsv").map(_.seconds).toSeq),
        "source_s" -> med("source"),
        "lines_s" -> (med("lines") - med("source")),
        "fold_s" -> (med("fold") - med("lines")),
        "format_s" -> (med("format") - med("fold")),
        "sink_s" -> (full - med("format")),
        "blocks_in" -> blocksIn.toDouble,
        "input_partitions" -> counterLayers(tracer, srcIds)("tasks"),
        "lines_kept" -> linesKept.toDouble,
        "line_keep_ratio" -> linesKept.toDouble / blocksTotal,
        "fold_groups" -> cols.size.toDouble,
        "max_group_lines" -> cols.map(_._2.size).max.toDouble,
        "records_out" -> readback.rows.values.map(_.size).sum.toDouble,
        "fold_kernel_lines_per_s" -> foldKernelRate(cols.map(_._2)),
        "files_written" -> readback.files.toDouble,
        "bytes_written" -> readback.bytes.toDouble,
        "trace_overhead" -> full / Stats.median(timed.toSeq))
      layers("busy_cores") = layers("task_s") / layers("exec_s")
      spans ++= tracer.spansJson
    }
    val med = Stats.median(timed.toSeq)
    val e2e = ListMap(
      "setup_s" -> setupS,
      "throughput_per_s" -> pages / med,
      "op_geomean_s" -> med)
    Outcome(attempted, failed, failures.toSeq, e2e, if (a.trace) fillLayers(layers.toMap) else Map.empty,
      ListMap("docs" -> corpus.size, "pages" -> pages, "blocks" -> corpus.map(_.blockCount).sum,
        "pass_s" -> timed.toSeq, "samples" -> timed.size, "pass_cpu_s" -> passCpu.toSeq,
        "setup" -> ListMap("session_s" -> sessionS, "corpus_rounds_s" -> rounds.map(_._1),
          "warmup_s" -> warmS)),
      spans.toSeq)
  }

  /** One timed pass, blocks to CSV files in a fresh directory. Returns
    * its time and the directory, or no directory (every document
    * counted as failed) if the pass threw. */
  private def pass(keys: Seq[String]): (Double, Option[File]) = {
    val dir = nextDir()
    val c0 = cpuS()
    val (s, ok) = time {
      try { Etl.writeCsv(Etl.csvFrame(spark, keys), dir); true }
      catch { case e: Exception => failures += s"pass: $e"; false }
    }
    passCpu += cpuS() - c0
    if (ok) (s, Some(dir))
    else { attempted += keys.size; failed += keys.size; Etl.delete(dir); (s, None) }
  }

  /** A timed pass followed by the (untimed) check. */
  private def checkedPass(keys: Seq[String], expected: Map[String, Seq[Seq[String]]]): Double = {
    val (s, d) = pass(keys)
    d.foreach(check(expected, _))
    s
  }

  /** Reads a pass's files back, deletes them, and counts each document
    * whose rows differ from the expected ones as failed. */
  private def check(expected: Map[String, Seq[Seq[String]]], dir: File): Etl.Readback = {
    val rb = Etl.readBack(dir)
    Etl.delete(dir)
    val bad = Etl.mismatches(expected, rb)
    attempted += expected.size
    failed += bad.size
    failures ++= bad.take(5).map(k => s"csv mismatch: $k")
    rb
  }

  /** RecordFold.foldColumn on the driver, one thread, no Spark. */
  private def foldKernelRate(cols: Seq[Seq[graft.parity.RecordFold.Line]]): Double = {
    val lines = cols.map(_.size).sum
    var n = 0L
    val t0 = System.nanoTime()
    while (n == 0 || secs(t0) < 0.5) { cols.foreach(graft.parity.RecordFold.foldColumn); n += 1 }
    n * lines / secs(t0)
  }
}

/** The registry workload: a fixed family-stratified sample of
  * `SparkEntry.registry` over `graft.SyntheticGen` tables and their
  * index, each query materialized through the noop sink as
  * `graft.Bench` does, in an order shuffled by the seed. One
  * operation is one query execution. */
final class RegistryRun(spark: SparkSession, a: RunArgs) {
  import Main._

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  private val sample = Registry.sample()
  private var released = 0

  def run(sessionS: Double): Outcome = {
    // Set-up is warm-up passes; the tables and the index come from
    // `graft.SyntheticGen` and the index builders once per build
    // (perfbench/run.py) and do not depend on the seed. A traced run
    // first builds the index afresh, timed. The verification pass
    // comes after the timed passes, when the JVM is warm.
    val dir = a.tables
    require(new File(dir, "lineitem.parquet").exists(), s"no tables at $dir")
    val (indexS, idx) =
      if (!a.trace) (0.0, Seq.empty[(String, Double)])
      else time(Registry.indexFamilies(spark, dir).map { case (n, f) => n -> time(f())._1 })
    if (a.trace) log(s"index build ${idx.map { case (n, s) => f"$n $s%.2f s" }.mkString(", ")}")

    // Warm-up passes (they count toward setup_s), then timed passes
    // over the sample, each in a fresh seeded order: at least
    // MinPasses untraced ones; a traced run instead makes two
    // untraced and two traced passes in the order U T T U, so the
    // overhead ratio does not absorb the warm-up trend.
    val rng = new scala.util.Random(a.seed)
    val untraced = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val traced = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passS = mutable.ArrayBuffer[Double]()
    val tracer = new Tracer(spark)
    val byKey = mutable.Map[String, String]()
    var cachedPeak = 0L
    def pass(p: Int, withTrace: Boolean): Unit = {
      if (withTrace) tracer.attach()
      Registry.warmup(spark, dir)
      val ps = rng.shuffle(sample).map { q =>
        val op = s"${q.name}#$p"
        val s = if (!withTrace) timeQuery(q, dir)
        else {
          byKey(op) = q.name
          attempted += 1
          val (s, _) = time {
            val df = tracer.phase(op, "construct", "construct", "query")(q.run(spark, dir))
            tracer.phase(op, "action", "noop_sink", "query") {
              df.write.format("noop").mode("overwrite").save()
            }
          }
          cachedPeak = math.max(cachedPeak, Tracer.cachedBytes(spark))
          release()
          s
        }
        if (p >= 0)
          (if (withTrace) traced else untraced).getOrElseUpdate(q.name, mutable.ArrayBuffer()) += s
        s
      }
      if (withTrace) tracer.detach() else if (p >= 0) passS += ps.sum
      log(f"pass $p${if (withTrace) " (traced)" else ""}: ${ps.sum}%.2f s")
    }
    val (warmS, _) = time((1 to Registry.WarmPasses).foreach(i => pass(-i, withTrace = false)))
    val setupS = sessionS + indexS + warmS
    val t0 = System.nanoTime()
    var p = 0
    if (a.trace) for (t <- Seq(false, true, true, false)) { pass(p, t); p += 1 }
    else while (p < Registry.MinPasses || secs(t0) < a.seconds) { pass(p, withTrace = false); p += 1 }
    Registry.warmup(spark, dir)
    val (verifyS, _) = time(verify(dir))
    log(f"verification pass of ${sample.size} queries in $verifyS%.2f s")

    val perQuery = untraced.map { case (q, v) => q -> Stats.median(v.toSeq) }
    val suiteS = perQuery.values.sum
    val layers = mutable.Map[String, Double]()
    if (a.trace) {
      val tq = traced.map { case (q, v) => q -> Stats.median(v.toSeq) }
      def spanSum(name: String) = byKey.groupBy(_._2).values.map { ids =>
        Stats.median(tracer.spans.filter(s => s.name == name && ids.contains(s.op)).map(_.seconds).toSeq)
      }.sum
      layers ++= counterLayers(tracer, byKey.toMap)
      layers ++= Map(
        "session_s" -> sessionS,
        "warmup_s" -> warmS,
        "peak_rss_mb" -> peakRssMb(),
        "construct_s" -> spanSum("construct"),
        "exec_s" -> spanSum("noop_sink"),
        "cached_mb_peak" -> cachedPeak / 1048576.0,
        "trace_overhead" -> tq.values.sum / tq.keys.map(perQuery).sum)
      layers("busy_cores") = layers("task_s") / layers("exec_s")
      for (f <- Seq("rel", "ev", "txt", "dedup", "sim", "mm", "gr", "par"))
        layers(s"family.${f}_s") = tq.filter(kv => Registry.family(kv._1) == f).values.sum
      for ((f, s) <- idx) layers(s"index.${f}_s") = s
    }
    val e2e = ListMap(
      "setup_s" -> setupS,
      "throughput_per_s" -> sample.size / suiteS,
      "op_geomean_s" -> Stats.geomean(perQuery.values.toSeq),
      "op_p50_s" -> Stats.median(perQuery.values.toSeq),
      "op_p90_s" -> Stats.quantile(perQuery.values.toSeq, 0.9))
    Outcome(attempted, failed, failures.toSeq, e2e,
      if (a.trace) fillLayers(layers.toMap) else Map.empty,
      ListMap("sf" -> Registry.Sf, "queries" -> sample.size,
        "samples" -> untraced.values.map(_.size).sum,
        "passes" -> passS.size, "suite_s" -> suiteS, "pass_s" -> passS.toSeq,
        "query_s" -> ListMap(perQuery.toSeq.sortBy(_._1): _*),
        "query_samples_s" -> ListMap(untraced.toSeq.sortBy(_._1).map { case (q, v) => q -> v.toSeq }: _*),
        "setup" -> ListMap("session_s" -> sessionS, "index_s" -> ListMap(idx: _*),
          "verify_s" -> verifyS, "warmup_s" -> warmS)),
      tracer.spansJson)
  }

  private def release(): Unit = { released += 1; Registry.release(spark, released) }

  /** Construction plus noop-sink action; a failure counts and reads -1. */
  private def timeQuery(q: graft.Q, dir: String): Double = {
    attempted += 1
    val (s, ok) = time {
      try { q.run(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Exception => failures += s"${q.name}: $e"; false }
    }
    release()
    if (!ok) failed += 1
    s
  }

  /** Verification pass: each sampled query once, its digest checked
    * against the recorded one. */
  private def verify(dir: String): Unit = {
    val digests = Registry.recorded()
    for (q <- sample) {
      attempted += 1
      val ok = try {
        val d = Registry.digest(q.run(spark, dir))
        val r = digests.get(q.name)
        if (!r.exists(_.matches(d))) failures += s"${q.name}: digest $d, recorded $r"
        r.exists(_.matches(d))
      } catch { case e: Exception => failures += s"${q.name}: $e"; false }
      release()
      if (!ok) failed += 1
    }
  }
}

/** Records the registry digests the benchmark checks against: every
  * registered query over the generated tables, digested twice in two
  * seeded orders; a query whose two digests differ is checked by row
  * count only. */
object RecordDigests {
  def run(out: File, dir: String, cpus: Int, seed: Long): Unit = {
    val spark = Session.create(cpus)
    val rng = new scala.util.Random(seed)
    val rounds = (1 to 2).map { r =>
      rng.shuffle(graft.SparkEntry.registry).map { q =>
        val d = Registry.digest(q.run(spark, dir))
        Registry.release(spark, 1)
        System.err.println(s"[digest $r] ${q.name} $d")
        q.name -> d
      }.toMap
    }
    val lines = graft.SparkEntry.registry.map(_.name).map { n =>
      val (a, b) = (rounds(0)(n), rounds(1)(n))
      val mode = if (a == b) "exact" else "count"
      require(a.rows == b.rows, s"$n row count differs between runs: $a vs $b")
      s"$n\t${a.rows}\t${a.hashSum}\t$mode"
    }
    Files.write(out.toPath, (s"# name\trows\thash_sum\tmode (sf ${Registry.Sf})\n" +
      lines.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
