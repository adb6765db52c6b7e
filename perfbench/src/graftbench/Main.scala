package graftbench

import graft.convert.ArchiveConverter
import graft.core.ConvertOptions
import graft.functions.GraftFunctions
import graft.io.Sniff
import graft.walk.ArchiveWalker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One benchmark run in one JVM: set up, then run the workload's
  * operations in a closed loop with one client for about `seconds`
  * (whole operations, a fixed count per workload, so every run does the
  * same work), checking every answer. Raw samples, set-up phases and
  * (in a traced run) spans are written as JSON to `--out`; `run.py`
  * turns them into metrics.
  *
  *   --workload convert|interactive|pipeline --seed N --seconds S
  *   --trace 0|1 --cores N --work DIR --data SF_DIR --warm-data SF_DIR --answers FILE --out FILE
  *
  * Other modes: `--mode corpus --dir DIR --seed N --bytes B` writes a
  * corpus; `--mode record-answers --data SF_DIR --answers FILE` records
  * the digests the query workloads check against.
  */
object Main {
  val CorpusBytes: Long = 64L << 20

  val SqlQueries: Seq[String] = Seq("q01_filter_project", "q02_tpch_q1_agg", "q03_broadcast_join",
    "q05_semi_anti", "q06_window_topk", "q08_rollup", "q19_quality_score", "q20_token_stats",
    "q53_sql_tpch_q3", "q58_text_filter", "q86_char_entropy", "q96_url_parse", "q99_url_normalize")
  val PipelineQueries: Seq[String] = Seq("q18_neardup_lsh", "q44_jaccard_neardup",
    "q80_substring_pairs", "q131_incr_neardup", "q150_neardup_tombstone", "q156_ann_maintain",
    "q159_drift_monitor", "q46_stream_stream_join", "q154_streaming_neardup", "q108_pagerank",
    "q137_corpus_select")
  val StreamingQueries: Set[String] = Set("q46_stream_stream_join", "q154_streaming_neardup")

  /** Path prefixes an analyst filters the archive by: top-level
    * directories and the nested archives' lineage. */
  val ArchivePrefixes: Seq[String] = Seq("usr/lib/", "usr/share/", "usr/include/", "etc/", "app/src/",
    "app/config/", "opt/service/", "srv/www/", "var/lib/", "home/user/",
    "var/cache/layers/inner.tar/", "opt/bundles/bundle.zip/", "opt/bundles/bundle.zip/pkg/vendor.tar.gz/")

  /** A path that crosses one of these lies inside a nested archive. */
  val NestedMarks: Seq[String] = Seq(".tar/", ".zip/", ".tar.gz/")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = cpuBean.getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a.getOrElse("mode", "run") match {
      case "corpus" =>
        Corpus.generate(new File(a("dir")), a("seed").toLong, a("bytes").toLong,
          Runtime.getRuntime.availableProcessors())
      case "record-answers" =>
        val spark = session(a.getOrElse("cores", "4").toInt, new File(a("work")))
        try recordAnswers(spark, a("data"), new File(a("answers"))) finally spark.stop()
      case _ =>
        val cores = a("cores").toInt
        val work = new File(a("work"))
        val spark = session(cores, work)
        try {
          val r = new Run(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
            a("trace") == "1", cores, work, a("data"), a("warm-data"), Expected.load(new File(a("answers"))))
          r.run()
          Json.write(new File(a("out")), r.result())
        } finally spark.stop()
    }
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Digest of every sql and pipeline query, in the format `Expected` reads. */
  def recordAnswers(spark: SparkSession, data: String, out: File): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try (SqlQueries ++ PipelineQueries).sorted.foreach { q =>
      val d = Answers.read(Answers.digestFrame(graft.SparkEntry.queries(q)(spark, data)).collect()(0))
      w.print(s"$q\t${d.rows}\t${d.hash}\n")
      println(s"$q\t${d.rows}\t${d.hash}")
    } finally w.close()
  }
}

/** The committed per-query answers: name -> (rows, digest). */
object Expected {
  def load(f: File): Map[String, Answers.Digest] =
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val p = l.split("\t"); p(0) -> Answers.Digest(p(1).toLong, p(2))
      }.toMap
      finally src.close()
    }
}

/** Scan-node SQL metrics, read from the executed plan after the action. */
object PlanScans extends AdaptiveSparkPlanHelper {
  def parquet(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum)
  }
  def batchRows(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum
}

final case class OpRecord(kind: String, cls: String, name: String, wall: Double, cpu: Double,
    traced: Boolean, checks: Int, wrong: Int)

/** Checks an operation's answer: (answers checked, answers wrong). */
object Run { type Verdict = () => (Int, Int) }
import Run.Verdict

final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: File, data: String, warmData: String, expected: Map[String, Answers.Digest]) {
  private val tracer = new Tracer(spark)
  private val ops = ArrayBuffer.empty[OpRecord]
  private val phases = ArrayBuffer.empty[(String, Double)]
  private val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var readyMs = 0L

  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  private def ready(): Unit = readyMs = System.currentTimeMillis()

  /** Time one operation. `body` returns the verdict, which checks the
    * answer after the clock stops and returns (answers checked, wrong). */
  private def timedOp(kind: String, cls: String, name: String, traced: Boolean)(body: => Verdict): Unit = {
    tracer.on = traced
    val c0 = Main.cpuSeconds(); val t0 = System.nanoTime()
    val verdict = try tracer.op(cls)(body) catch { case e: Exception => failed(s"$cls $name", e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuSeconds() - c0
    val (checks, wrong) = try verdict() catch { case e: Exception => failed(s"$cls $name check", e)() }
    tracer.on = false
    ops += OpRecord(kind, cls, name, wall, cpu, traced, checks, wrong)
  }

  private def ok: Verdict = () => (1, 0)

  private def wrong(what: String): Verdict = () => {
    System.err.println(s"[graftbench] wrong answer: $what"); (1, 1)
  }

  private def failed(what: String, e: Exception): Verdict = wrong(s"$what failed: $e")

  private def verdict(pass: Boolean, what: => String): Verdict = if (pass) ok else wrong(what)

  /** A query with its plan and action as separate spans; the returned
    * value is the action's result. */
  private def query[T](label: String, buildLayer: String)(build: => DataFrame)(action: DataFrame => T): T =
    tracer.span("query", label) {
      val df = tracer.span(buildLayer)(build)
      tracer.span("queries.plan")(df.queryExecution.executedPlan)
      val r = tracer.span("queries.exec")(action(df))
      if (tracer.on) {
        val plan = df.queryExecution.executedPlan
        val (files, bytes) = PlanScans.parquet(plan)
        tracer.count("parquet_files", files.toDouble)
        tracer.count("parquet_bytes", bytes.toDouble)
        tracer.count("scan_rows", PlanScans.batchRows(plan).toDouble)
        tracer.drain()
      }
      r
    }

  /** A registry query, checked against its committed digest. */
  private def registryQuery(name: String, layer: String): Verdict = {
    val d = query(name, layer)(Answers.digestFrame(graft.SparkEntry.queries(name)(spark, data))) { df =>
      Answers.read(df.collect()(0))
    }
    verdict(expected.get(name).contains(d), s"$name digest $d, expected ${expected.get(name)}")
  }

  /** Run queries once on the small warm-up tables, so JIT and codegen
    * are warm before timing starts; the answers are not checked. The
    * set-up runs them from `cores` threads at once: at sf0.001 a query
    * is mostly driver-side planning and per-job latency, which overlap. */
  private def warm(names: Seq[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      names.map(q => pool.submit(() => Answers.digestFrame(graft.SparkEntry.queries(q)(spark, warmData)).collect()))
        .foreach(_.get())
    } finally pool.shutdown()
  }

  def run(): Unit = {
    if (trace) tracer.install()
    workload match {
      case "convert" => convert()
      case "interactive" => interactive()
      case "pipeline" => pipeline()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def corpus(): Corpus = phase("corpus") {
    val (c, hit) = Corpus.ensure(new File(work, "corpus"), seed, Main.CorpusBytes, cores)
    info("corpus_cache_hit") = hit
    info("corpus_bytes") = c.bytes
    info("corpus_entries") = c.entries.size
    info("corpus_nested_entries") = c.entries.count(_.nested)
    info("corpus_inputs") = c.inputs.size
    c
  }

  // ---- convert -------------------------------------------------------------

  private def convert(): Unit = {
    val c = corpus()
    val inputs = c.inputs
    val out = new File(work, "convert_out").getAbsolutePath
    val opts = ConvertOptions()
    val hashes = c.entries.map(_.sha256).sorted

    def check(s: ArchiveConverter.ConversionStats): Verdict =
      if (s.rows != c.entries.size) wrong(s"convert rows ${s.rows}, manifest ${c.entries.size}")
      else if (s.bytes != c.bytes) wrong(s"convert bytes ${s.bytes}, manifest ${c.bytes}")
      else if (s.errors != 0) wrong(s"convert errors ${s.errors}")
      else () => {
        val got = spark.read.parquet(out).select(lower(hex(col("hash")))).collect().map(_.getString(0)).sorted
        verdict(got.toSeq == hashes, "converted sha256 multiset differs from the manifest")()
      }

    // The first converts run JIT-cold (up to 10x a steady one) and the
    // JVM keeps speeding up for about 15 more, so a run makes a fixed
    // number of converts, two per second asked for, and every run
    // measures the same stretch of that ramp.
    phase("warmup")((0 until 3).foreach(_ => check(ArchiveConverter.convert(spark, inputs, out, opts))()))
    ready()
    (0 until math.ceil(seconds * 2).toInt.max(1)).foreach { _ =>
      timedOp("convert", "convert", "convert", traced = false)(check(ArchiveConverter.convert(spark, inputs, out, opts)))
      if (trace) timedOp("convert", "convert", "layers", traced = true)(tracedConvert(c, inputs, out, opts, check))
    }
  }

  /** The convert operation split by layer: each layer's public entry
    * point on its own, then the walk-only Spark job, then the full
    * convert. */
  private def tracedConvert(c: Corpus, inputs: Seq[String], out: String, opts: ConvertOptions,
      check: ArchiveConverter.ConversionStats => Verdict): Verdict = {
    val buf = new Array[Byte](1 << 16)
    tracer.span("io") {
      inputs.foreach { in =>
        val (_, s) = Sniff.decompress(new FileInputStream(in))
        try {
          var n = s.read(buf); var total = 0L
          while (n >= 0) { total += n; n = s.read(buf) }
          tracer.count("bytes", total.toDouble)
        } finally s.close()
      }
    }
    /** Walk every input; returns (entries, entries inside a nested archive). */
    def walkAll(span: String, o: ConvertOptions): (Int, Int) = tracer.span(span) {
      var entries, nested = 0
      inputs.foreach { in =>
        ArchiveWalker.walkInput(in, o).foreach { e =>
          entries += 1
          if (Main.NestedMarks.exists(e.path.contains)) nested += 1
          tracer.count("bytes", e.size.toDouble)
        }
      }
      tracer.count("entries", entries)
      tracer.count("nested_entries", nested)
      (entries, nested)
    }
    val walked = walkAll("walk.scan", opts.copy(computeHash = false, materializeContent = false))
    walkAll("walk.full", opts)
    tracer.span("convert.walk")(ArchiveConverter.filteredEntries(spark, inputs, opts).count())
    val stats = tracer.span("convert")(ArchiveConverter.convert(spark, inputs, out, opts))
    tracer.drain()
    val outBytes = Option(new File(out).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    tracer.count("rows", stats.rows.toDouble)
    tracer.count("bytes_in", stats.bytes.toDouble)
    tracer.count("bytes_out", outBytes.toDouble)
    tracer.count("errors", stats.errors.toDouble)
    val want = (c.entries.size, c.entries.count(_.nested))
    if (walked != want) wrong(s"walked (entries, nested) $walked, manifest $want") else check(stats)
  }

  // ---- interactive ---------------------------------------------------------

  private def interactive(): Unit = {
    val c = corpus()
    val out = new File(work, "interactive_out").getAbsolutePath
    phase("setup_convert") {
      val s = ArchiveConverter.convert(spark, c.inputs, out, ConvertOptions())
      require(s.rows == c.entries.size && s.bytes == c.bytes, s"set-up conversion wrote $s")
    }
    val inputDir = c.inputDir.getAbsolutePath
    val extOf = "\\.([A-Za-z0-9]+)$".r.unanchored
    def ext(p: String) = p match { case extOf(e) => e; case _ => "" }
    def base(p: String) = new File(p).getName

    def archive(prefix: String, rnd: Random): Verdict = {
      val lo = (math.exp(rnd.nextDouble() * math.log(64 << 10)) + 1).toLong
      val hi = lo * (4 + rnd.nextInt(61))
      val got = query("archive", "sources") {
        spark.read.format("archive").load(inputDir)
          .where(col("path").startsWith(prefix) && col("size") >= lo && col("size") < hi)
          .select("source", "path", "size")
      }(_.collect().map(r => (base(r.getString(0)), r.getString(1), r.getLong(2))).sorted.toSeq)
      tracer.count("entries_walked", c.entries.size.toDouble)
      () => {
        val want = c.entries.filter(e => e.path.startsWith(prefix) && e.size >= lo && e.size < hi)
          .map(e => (e.input, e.path, e.size)).sorted
        verdict(got == want, s"archive prefix=$prefix size=[$lo,$hi): ${got.size} rows, manifest ${want.size}")()
      }
    }

    def parquet(kind: Int, rnd: Random): Verdict = kind match {
      case 0 =>
        val lo = rnd.nextInt(4096).toLong
        val got = query("parquet", "queries.build") {
          spark.read.parquet(out).where(col("size") >= lo).groupBy("hash").agg(count(lit(1)).as("n"))
            .where(col("n") > 1).agg(count(lit(1)), coalesce(sum("n"), lit(0L)))
        }(_.collect()(0))
        () => {
          val groups = c.entries.filter(_.size >= lo).groupBy(_.sha256).values.map(_.size).filter(_ > 1)
          verdict(got.getLong(0) == groups.size && got.getLong(1) == groups.sum,
            s"duplicate groups size>=$lo: $got, manifest ${groups.size}/${groups.sum}")()
        }
      case 1 =>
        val got = query("parquet", "functions") {
          spark.read.parquet(out)
            .select(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1).as("ext"),
              GraftFunctions.is_utf8(col("content")).cast("long").as("u"))
            .groupBy("ext").agg(count(lit(1)), sum("u"))
        }(_.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
        () => {
          val want = c.entries.groupBy(e => ext(e.path)).map { case (k, es) =>
            k -> (es.size.toLong, es.count(_.utf8).toLong) }
          verdict(got == want, s"utf8 share by extension: $got, manifest $want")()
        }
      case 2 =>
        val k = 5 + rnd.nextInt(46)
        val got = query("parquet", "queries.build") {
          spark.read.parquet(out).select("size").orderBy(desc("size")).limit(k)
        }(_.collect().map(_.getLong(0)).toSeq)
        () => verdict(got == c.entries.map(_.size).sorted(Ordering[Long].reverse).take(k), s"top-$k sizes differ")()
      case _ =>
        val path = c.entries(rnd.nextInt(c.entries.size)).path
        val got = query("parquet", "queries.build") {
          spark.read.parquet(out).where(col("path") === path)
            .select(col("source"), col("size"), lower(hex(col("hash"))))
        }(_.collect().map(r => (base(r.getString(0)), r.getLong(1), r.getString(2))).sorted.toSeq)
        () => verdict(got == c.entries.filter(_.path == path).map(x => (x.input, x.size, x.sha256)).sorted,
          s"lookup $path")()
    }

    phase("warmup") {
      val w = new Random(seed ^ 0x5eedL)
      warm(Main.SqlQueries)
      (0 until 4).foreach(k => parquet(k, w)())
      (0 until 2).foreach(k => archive(Main.ArchivePrefixes(k), w)())
    }
    ready()
    // The run is made of whole cycles. A cycle asks every sql query once,
    // one archive query per path prefix, and as many parquet queries
    // spread evenly over the four kinds, all shuffled by the seed; so
    // every run has the same mix and only the order and the size ranges,
    // top-k widths and looked-up paths depend on the seed.
    val rnd = new Random(seed)
    val n = Main.SqlQueries.size
    val cycle: Seq[(String, String)] =
      Main.SqlQueries.map(q => ("sql", q)) ++ Main.ArchivePrefixes.map(p => ("archive", p)) ++
        (0 until n).map(i => ("parquet", s"parquet${i % 4}"))
    // A cycle takes about 15 s. A traced run alternates traced and
    // untraced queries and makes at least 100, enough for a 90th percentile.
    val cycles = math.max((seconds / 15).toInt, if (trace) 3 else 1)
    var done = 0
    (0 until cycles).foreach { _ =>
      rnd.shuffle(cycle).foreach { case (cls, name) =>
        val r = new Random(rnd.nextLong())
        timedOp("query", cls, name, traced = trace && done % 2 == 1) {
          cls match {
            case "archive" => archive(name, r)
            case "parquet" => parquet(name.last - '0', r)
            case _ => registryQuery(name, "queries.build")
          }
        }
        done += 1
      }
    }
  }

  // ---- pipeline ------------------------------------------------------------

  /** No warm-up: a batch pipeline runs once in a fresh JVM, so the
    * measured pass includes JIT and codegen, as a user's run does. A
    * traced run makes that cold pass its warm-up, then a traced and an
    * untraced warm pass, whose difference is the tracing overhead. */
  private def pipeline(): Unit = {
    def pass(i: Int, traced: Boolean): Unit = {
      val order = new Random(seed * 31 + i).shuffle(Main.PipelineQueries)
      timedOp("pass", "pipeline", "pass", traced) {
        val verdicts = order.map { q =>
          try registryQuery(q, if (Main.StreamingQueries(q)) "streaming" else "ops")
          catch { case e: Exception => failed(q, e) }
        }
        () => verdicts.map(_()).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      }
    }
    if (trace) phase("warmup") {
      pass(0, traced = false)
      ops(ops.size - 1) = ops.last.copy(kind = "warmup")
    }
    ready()
    // a pass takes about 50 s
    (1 to math.max((seconds / 50).toInt, if (trace) 2 else 1)).foreach(i => pass(i, traced = trace && i % 2 == 1))
  }

  // ---- result --------------------------------------------------------------

  def result(): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "jvm_start_ms" -> rt.getStartTime, "ready_ms" -> readyMs, "end_ms" -> System.currentTimeMillis(),
      "proc_cpu_s" -> Main.cpuSeconds(), "rss_hwm_kb" -> vmHwmKb(),
      "phases" -> phases.toSeq.map { case (k, v) => Map("name" -> k, "s" -> v) },
      "info" -> info.toMap,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "cls" -> o.cls, "name" -> o.name,
        "wall_s" -> o.wall, "cpu_s" -> o.cpu, "traced" -> o.traced, "checks" -> o.checks,
        "wrong" -> o.wrong)),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "label" -> s.label, "start" -> s.start, "end" -> s.end,
        "c" -> s.counters.synchronized(s.counters.toMap))))
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}
