package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.Tables
import graft.ingest.{CopySink, CopyTarget, Importer}
import graft.operators
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Closed-loop benchmark of one workload in one fresh JVM.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <baseDir> <scaledDir> <smallDir> <workDir>
  *
  * One client issues the workload's ops one after another on a
  * `local[nproc]` session. A run is: set-up once; one untimed check pass
  * that leaves every op's output under `workDir/check` for the DuckDB
  * oracle and records the op's fingerprint; then whole timed passes over
  * the ops, each in an order permuted by the seed, until `seconds` have
  * elapsed and at least the workload's number of passes are done. Whole
  * passes keep the op mix of every run the same; several passes give
  * every op several samples, whose median is its figure. A timed op
  * must reproduce its checked fingerprint. With trace 1 untraced and traced
  * passes alternate, so the tracing overhead is measured in the same run.
  * Results go to `workDir/result.json`.
  */
object Main {
  type Q = (SparkSession, String) => DataFrame

  /** The operator packs SparkEntry assembles, by name. */
  val packs: Seq[(String, Map[String, Q])] = Seq(
    "Relational" -> operators.Relational.queries, "Ingest" -> operators.Ingest.queries,
    "Fn" -> operators.Fn.queries, "Analytic" -> operators.Analytic.queries,
    "Windowed" -> operators.Windowed.queries, "Text" -> operators.Text.queries,
    "Dedup" -> operators.Dedup.queries, "Sim" -> operators.Sim.queries,
    "Udf" -> operators.Udf.queries, "Multimodal" -> operators.Multimodal.queries,
    "Sample" -> operators.Sample.queries, "Reshape" -> operators.Reshape.queries,
    "Flow" -> operators.Flow.queries, "Bucketed" -> operators.Bucketed.queries,
    "Sql" -> operators.Sql.queries, "Train" -> operators.Train.queries,
    "Graph" -> operators.Graph.queries, "Layout" -> operators.Layout.queries)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, base, scaled, small, work) = argv
    new Run(Workloads(workload, base, scaled, small, work), seed.toLong, seconds.toDouble,
      trace == "1", work).apply()
  }

  /** Sum of (row count, high halves, xor) of `xxhash64(struct(*))` over
    * every output row: computes every output column, so Catalyst can prune
    * nothing, yet moves only one row to the driver.
    */
  def force(df: DataFrame): Seq[Long] = {
    val r = df.selectExpr("xxhash64(struct(*)) AS h")
      .selectExpr("count(1)", "coalesce(sum(h >> 32), 0L)", "coalesce(bit_xor(h), 0L)")
      .head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def filesUnder(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    walk(new File(path))
  }

  def bytesUnder(path: String): Long = filesUnder(path).map(_.length).sum

  /** An op's figure in a run: the median of its timed executions. The
    * first timed pass still runs slower while the JIT settles, and a
    * one-off stall is not the op's speed.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** What an op reports about one timed execution beyond its fingerprint. */
final class Ctx(val spark: SparkSession, val spans: Spans) {
  /** Extra per-op quantities (ingest layer figures), summed per key. */
  val extra = mutable.Map[String, Double]().withDefaultValue(0.0)

  /** Run `body` outside the op's latency and under its own job group, so
    * the op's own counters do not include it; returns its seconds.
    */
  def untimed(op: String, name: String)(body: => Unit): Double = {
    val sc = spark.sparkContext
    val group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"probe:$op", name)
    val t0 = System.nanoTime()
    try { spans(op, name)(body); (System.nanoTime() - t0) / 1e9 }
    finally sc.setJobGroup(group, op)
  }
}

/** One unit of closed-loop work, attributed to `pack`. */
abstract class Op(val name: String, val pack: String) {
  /** What the op reads: the parquet input of an ingest op, the corpus
    * directory of a query op.
    */
  def source: String

  /** Run once untimed, leave the output under `out` for the oracle check,
    * and return the fingerprint every timed run must reproduce.
    */
  def check(s: SparkSession, out: String): Seq[Long]

  /** Timed execution: the nanoseconds spent building the plan, and the
    * fingerprint of the result.
    */
  def run(ctx: Ctx): (Long, Seq[Long])

  /** Bookkeeping after every timed execution, outside its time; `traced`
    * adds the layer probes of a traced execution.
    */
  def after(ctx: Ctx, traced: Boolean): Unit = ()
}

/** A registered query of an operator pack over the workload's tables. */
final class QueryOp(name: String, pack: String, fn: Main.Q, dir: String)
    extends Op(name, pack) {
  def source: String = dir

  /** The fingerprint is taken from the written output read back: parquet
    * keeps Spark's types, and the hash ignores column names and order of
    * rows, so it equals the fingerprint of the live result.
    */
  def check(s: SparkSession, out: String): Seq[Long] = {
    fn(s, dir).write.mode("overwrite").parquet(out)
    Main.force(s.read.parquet(out))
  }

  def run(ctx: Ctx): (Long, Seq[Long]) = {
    val t0 = System.nanoTime()
    val df = ctx.spans(name, "build")(fn(ctx.spark, dir))
    val built = System.nanoTime() - t0
    (built, ctx.spans(name, "run")(Main.force(df)))
  }
}

/** A named parquet input of the ingest workload. */
final case class Input(name: String, path: String)

/** `Importer.importParquet` of one input into the COPY-text sink and the
  * parquet sink, values normalized, replacing the previous import.
  */
final class ImportOp(in: Input, work: String) extends Op(s"import_${in.name}", "ingest") {
  def source: String = in.path

  private def importInto(s: SparkSession, out: String): Seq[Long] = {
    val r = Importer.importParquet(s, in.path, in.name, truncate = true,
      normalizeValues = true, copyDir = Some(s"$out/copy"), sinkDir = Some(s"$out/parquet"))
    Seq(r.rowsImported, Main.bytesUnder(s"$out/copy/${in.name}"))
  }

  def check(s: SparkSession, out: String): Seq[Long] = importInto(s, out)

  private val out = s"$work/sink/$name"

  def run(ctx: Ctx): (Long, Seq[Long]) = {
    val fp = ctx.spans(name, "import")(importInto(ctx.spark, out))
    ctx.extra("rows") += fp.head
    (0L, fp)
  }

  /** Sink bytes (COPY text and parquet) and source bytes of the import
    * just timed; traced, also the scan and the encode on their own.
    */
  override def after(ctx: Ctx, traced: Boolean): Unit = {
    ctx.extra("bytes_out") += Main.bytesUnder(out)
    ctx.extra("bytes_in") += Main.bytesUnder(in.path)
    ctx.extra("output_files") += Main.filesUnder(out).size
    if (traced) {
      val raw = ctx.spark.read.parquet(in.path)
      def scanOnce() = ctx.untimed(name, "scan")(
        raw.write.format("noop").mode("overwrite").save())
      val scan0 = scanOnce()
      val enc = ctx.untimed(name, "encode")(
        CopySink.lines(Importer.normalize(raw)).write.format("noop").mode("overwrite").save())
      // the scan is taken on both sides of the encode and the faster kept,
      // so a one-off stall in it does not push encode_s below zero
      val scan = math.min(scan0, scanOnce())
      ctx.extra("scan_s") += scan
      ctx.extra("encode_s") += enc - scan
    }
  }
}

/** Counts what a COPY connection would receive: rows, bytes (each line
  * plus its newline, UTF-8) and COPY calls.
  */
final class CountingTarget(rows: LongAccumulator, bytes: LongAccumulator,
    batches: LongAccumulator) extends CopyTarget {
  def copyIn(table: String, columns: Seq[String], lines: Seq[String],
      delimiter: String, nullAs: String): Long = {
    lines.foreach(l => bytes.add(l.getBytes(UTF_8).length + 1L))
    rows.add(lines.size.toLong)
    batches.add(1L)
    lines.size.toLong
  }
}

/** `CopySink.copyInto` of one input through a [[CountingTarget]], the
  * stand-in for a Postgres connection.
  */
final class CopyIntoOp(in: Input) extends Op(s"copy_into_${in.name}", "ingest") {
  def source: String = in.path
  private var accs: Seq[LongAccumulator] = Nil

  private def copy(s: SparkSession): Seq[Long] = {
    if (accs.isEmpty) accs = Seq.fill(3)(s.sparkContext.longAccumulator)
    accs.foreach(_.reset())
    val Seq(rows, bytes, batches) = accs
    CopySink.copyInto(s.read.parquet(in.path), in.name,
      () => new CountingTarget(rows, bytes, batches))
    accs.map(_.value.longValue)
  }

  def check(s: SparkSession, out: String): Seq[Long] = copy(s)

  def run(ctx: Ctx): (Long, Seq[Long]) = {
    val fp = ctx.spans(name, "copy_into")(copy(ctx.spark))
    ctx.extra("copy_batches") += fp(2)
    (0L, fp)
  }
}

/** A workload: its set-up phases, run in order on a fresh session, its
  * ops, and how many timed passes over them an untraced run makes at
  * least: as many as the run budget leaves room for after set-up and the
  * check pass.
  */
final case class Workload(name: String, setup: Seq[(String, SparkSession => Unit)], ops: Seq[Op],
    passes: Int)

object Workloads {
  private def query(name: String, dir: String): Op = {
    val (pack, qs) = Main.packs.find(_._2.contains(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown query $name"))
    new QueryOp(name, pack, qs(name), dir)
  }

  /** Analyst queries over the 8x corpus, one per pack: lineitem/orders
    * queries (sql_q18_big_orders, join_sortmerge, join_bucketed) and
    * small-table queries.
    */
  val olapQueries: Seq[String] = Seq(
    "sql_q18_big_orders", "join_sortmerge", "join_bucketed", "win_rank", "fn_json",
    "stream_session", "sessionize_events", "pivot_multi_agg", "sample_stratified",
    "fn_udf_scalar", "scan_zorder_prune", "dq_benford")

  /** LLM-data-pipeline queries, one per pack: three read the caches their
    * pack's prewarm built (dedup_minhash, sim_cosine_topk and
    * graph_label_prop, whose label-propagation fixpoint runs in the
    * prewarm), three run the text, training and multimodal kernels.
    */
  val llmQueries: Seq[String] = Seq(
    "dedup_minhash", "sim_cosine_topk", "text_tokenize_stats", "pack_sequences",
    "mm_phash", "graph_label_prop")

  /** The base-corpus table `ingest_copy` imports as a single file of one
    * row group, float arrays (embeddings); lineitem (numbers, dates,
    * short strings) comes from the 8x corpus, eight files.
    */
  val ingestTables: Seq[String] = Seq("embeddings")

  /** First touch of every table: footers read, scan code generated. */
  private def tables(dir: String)(s: SparkSession): Unit =
    Tables.all.foreach(t => Tables(s, dir, t).count())

  private def ingest(base: String, scaled: String, work: String): Workload = {
    val ins = ingestTables.map(t => Input(t, s"$base/$t.parquet")) :+
      Input("lineitem_x8", s"$scaled/lineitem.parquet")
    Workload("ingest_copy",
      Seq("tables" -> (s => ins.foreach(i => s.read.parquet(i.path).count()))),
      ins.flatMap(i => Seq(new ImportOp(i, work), new CopyIntoOp(i))), passes = 4)
  }

  private def olap(scaled: String): Workload = Workload("olap_scaled",
    Seq("tables" -> tables(scaled),
      "bucketed" -> (s => { operators.Bucketed.prepare(s, scaled); () }),
      "layout" -> (s => operators.Layout.prewarm(s, scaled))),
    olapQueries.map(query(_, scaled)), passes = 4)

  private def llm(corpus: String): Workload = Workload("llm_pipeline",
    Seq("dedup" -> (s => operators.Dedup.prewarm(s, corpus)),
      "sim" -> (s => operators.Sim.prewarm(s, corpus)),
      "graph" -> (s => operators.Graph.prewarm(s, corpus))),
    llmQueries.map(query(_, corpus)), passes = 4)

  /** `base`: the single-file corpus `ingest_copy` imports; `scaled`: the
    * 8x corpus; `small`: the corpus the LLM-pipeline packs read.
    */
  def apply(name: String, base: String, scaled: String, small: String, work: String): Workload =
    name match {
      case "ingest_copy" => ingest(base, scaled, work)
      case "olap_scaled" => olap(scaled)
      case "llm_pipeline" => llm(small)
      case "ingest_llm" =>
        val (i, l) = (ingest(base, scaled, work), llm(small))
        Workload(name, i.setup ++ l.setup, i.ops ++ l.ops, math.max(i.passes, l.passes))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** One timed op execution. */
final case class Sample(op: Op, group: String, buildNs: Long, totalNs: Long,
    ok: Boolean, traced: Boolean, extra: Map[String, Double])

final class Run(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: String) {
  private val cores = Runtime.getRuntime.availableProcessors
  private val counters = new SparkCounters
  private val spans = new Spans(trace)
  private val rng = new scala.util.Random(seed)

  private def secs(ns: Long): Double = ns / 1e9
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Throwable => "" }

  def apply(): Unit = {
    val load0 = loadavg()
    val t0 = System.nanoTime()
    val root = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as graft.Bench: keep TypedImperativeAggregate group-bys hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default cache of 100 generated classes is smaller than one
      // pass over a workload's ops needs: evicted classes were compiled
      // again and the JIT started over on them, which swung an op's CPU
      // time by 3-5x from one execution to the next
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    root.sparkContext.setLogLevel("ERROR")
    root.sparkContext.addSparkListener(counters)
    val contextS = secs(System.nanoTime() - t0)

    // set-up, timed per phase
    val spark = root
    val setup0 = System.nanoTime()
    val phases = w.setup.map { case (name, f) =>
      spark.sparkContext.setJobGroup(s"setup:$name", name)
      val p0 = System.nanoTime()
      spans("setup", name)(f(spark))
      name -> secs(System.nanoTime() - p0)
    }.toMap
    val setupS = secs(System.nanoTime() - setup0)
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo
    val cacheBlocks = storage.map(_.numCachedPartitions.toLong).sum
    val cacheMb = storage.map(_.memSize).sum / 1e6

    // untimed check pass, in workload order
    val check0 = System.nanoTime()
    val checkSecs = mutable.Map[String, Double]()
    val checks = w.ops.map { op =>
      sc.setJobGroup(s"check:${op.name}", op.name)
      val out = s"$work/check/${op.name}"
      val c0 = System.nanoTime()
      val fp = try Some(op.check(spark, out)) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed in check: $e"); None
      }
      checkSecs(op.name) = secs(System.nanoTime() - c0)
      op -> fp
    }
    val reference = checks.toMap
    val checkS = secs(System.nanoTime() - check0)

    // timed passes: whole passes in seed-permuted order
    val samples = mutable.ArrayBuffer[Sample]()
    val untracedSpans = new Spans(false)
    def pass(traced: Boolean, keep: Boolean = true): Unit = rng.shuffle(w.ops).foreach { op =>
      val phase = if (!keep) "w" else if (traced) "t" else "u"
      val group = s"$phase:${op.name}:${samples.size}"
      sc.setJobGroup(group, op.name)
      val ctx = new Ctx(spark, if (traced) spans else untracedSpans)
      val o0 = System.nanoTime()
      val (build, fp) = try ctx.spans(op.name, "op")(op.run(ctx)) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: $e"); (0L, Nil)
      }
      val total = System.nanoTime() - o0
      op.after(ctx, traced)
      if (keep) samples += Sample(op, group, build, total, reference(op).contains(fp), traced,
        ctx.extra.toMap)
    }
    // a traced run compares its traced with its untraced passes, so it
    // first runs a pass it does not keep: the first pass is the slowest
    if (trace) pass(traced = false, keep = false)
    // with trace, untraced and traced passes alternate, at least two of
    // each, so that neither gets all of the passes the JIT is still
    // settling in
    val modes = if (trace) Seq(false, true) else Seq(false)
    val least = if (trace) math.max(w.passes, 4) else w.passes
    var passes = 0
    val loop0 = System.nanoTime()
    while (passes < least || secs(System.nanoTime() - loop0) < seconds) {
      pass(modes(passes % modes.size)); passes += 1
    }
    val timedS = secs(System.nanoTime() - loop0)
    sc.clearJobGroup()
    BenchBus.drain(sc)
    val load1 = loadavg()

    val results = new Metrics(samples.toSeq, counters, cores).apply() ++
      Map(
        "setup_s" -> setupS,
        "setup.context_s" -> contextS,
        "cache.blocks" -> cacheBlocks.toDouble,
        "cache.mb" -> cacheMb) ++
      Seq("tables", "bucketed", "layout", "dedup", "sim", "graph").map { p =>
        s"setup.${p}_s" -> phases.getOrElse(p, 0.0)
      }

    val per = samples.groupBy(_.op.name)
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val opsJson = w.ops.map { op =>
      val ss = per.getOrElse(op.name, mutable.ArrayBuffer[Sample]()).toSeq
      // share of the cores the op's tasks kept busy while it ran (traced)
      val tr = ss.filter(_.traced)
      val taskMs = tr.map(x => counters.group(x.group).taskDurMs).sum.toDouble
      val busy = if (tr.isEmpty) 0.0 else taskMs / (tr.map(_.totalNs).sum / 1e6 * cores)
      s"""{"name":${q(op.name)},"pack":${q(op.pack)},"checked":${reference(op).isDefined},""" +
        s""""fingerprint":[${reference(op).getOrElse(Nil).mkString(",")}],""" +
        s""""oracle":${graft.SparkEntry.oracleSql.get(op.name).map(q).getOrElse("null")},""" +
        s""""source":${q(op.source)},""" +
        s""""attempted":${ss.size},"failed":${ss.count(!_.ok)},""" +
        s""""check_s":${num(checkSecs(op.name))},""" +
        s""""samples_s":[${ss.map(x => num(secs(x.totalNs))).mkString(",")}],""" +
        s""""cpu_s":[${ss.map(x => num(secs(counters.group(x.group).cpuNs))).mkString(",")}],""" +
        s""""latency_s":${num(Main.median(ss.filter(!_.traced).map(x => secs(x.totalNs))))},""" +
        s""""core_busy_frac":${num(busy)}}"""
    }
    val conditions = Seq(
      "loadavg_start" -> q(load0), "loadavg_end" -> q(load1),
      "nproc" -> cores.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> q(spark.version), "jdk" -> q(sys.props("java.version")),
      "seed" -> seed.toString,
      "check_pass_s" -> num(checkS), "timed_s" -> num(timedS),
      "timed_passes" -> passes.toString)
    val json =
      s"""{"workload":${q(w.name)},"trace":$trace,""" +
        s""""attempted":${samples.size},"failed":${samples.count(!_.ok)},""" +
        s""""conditions":{${conditions.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}},""" +
        s""""metrics":{${results.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}},""" +
        s""""ops":[${opsJson.mkString(",")}]}"""
    Files.write(Paths.get(s"$work/result.json"), json.getBytes(UTF_8))
    if (trace) {
      val lines = spans.all.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${q(s.op)},"name":${q(s.name)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      Files.write(Paths.get(s"$work/spans.jsonl"), lines.mkString("\n").getBytes(UTF_8))
    }
    spark.stop()
  }
}

/** End-to-end metrics from the untraced samples; per-layer metrics from
  * the traced samples (per op execution unless the name says otherwise).
  */
final class Metrics(samples: Seq[Sample], counters: SparkCounters, cores: Int) {
  private def secs(ns: Long): Double = ns / 1e9

  /** End-to-end figures over `ss`. An op's latency is the
    * [[Main.median]] of its executions' latencies: `ops_per_s` is the
    * op count over the sum of these latencies, `op_p50_s` their median;
    * `cpu_s_per_op` is the mean over ops of the median of their
    * executions' executor CPU time. `op_tail_s` is taken over every
    * execution: the highest rank with at least 10 samples beyond it. The
    * ingest figures cover the import ops: rows per second of import
    * latency, and sink bytes (COPY text and parquet) per parquet byte read.
    */
  def endToEnd(ss: Seq[Sample]): Map[String, Double] = {
    val byOp = ss.groupBy(_.op)
    val perOp = byOp.map { case (op, xs) => op -> Main.median(xs.map(x => secs(x.totalNs))) }
    val lat = ss.map(x => secs(x.totalNs)).sorted
    val n = lat.size
    val imports = ss.filter(_.op.isInstanceOf[ImportOp])
    def ex(k: String): Double = imports.map(_.extra.getOrElse(k, 0.0)).sum
    // every import execution weighs in with its op's latency
    val importS = imports.map(x => perOp(x.op)).sum
    Map(
      "ops_per_s" -> (if (perOp.nonEmpty) perOp.size / perOp.values.sum else 0.0),
      "op_p50_s" -> Main.median(perOp.values.toSeq),
      "op_tail_s" -> (if (n == 0) 0.0 else lat(math.max(0, n - 11))),
      "op_tail_pct" -> (if (n > 10) 100.0 * (n - 10) / n else 0.0),
      "op_samples" -> n.toDouble,
      "cpu_s_per_op" -> (if (byOp.isEmpty) 0.0 else byOp.values.map(xs =>
        Main.median(xs.map(x => secs(counters.group(x.group).cpuNs)))).sum / byOp.size),
      "ingest_rows_per_s" -> (if (importS > 0) ex("rows") / importS else 0.0),
      "ingest_bytes_out_per_in" -> (if (ex("bytes_in") > 0) ex("bytes_out") / ex("bytes_in") else 0.0))
  }

  def apply(): Map[String, Double] = {
    val untraced = endToEnd(samples.filter(!_.traced))
    val tr = samples.filter(_.traced)
    if (tr.isEmpty) return untraced
    val traced = endToEnd(tr)
    val byGroup = tr.map(x => x.group -> counters.group(x.group)).toMap
    def total(ss: Seq[Sample]): Counters = {
      val c = new Counters; ss.foreach(x => c += byGroup(x.group)); c
    }
    def per(ss: Seq[Sample], v: Double): Double = if (ss.isEmpty) 0.0 else v / ss.size
    val all = total(tr)
    val wallMs = tr.map(_.totalNs).sum / 1e6
    val mb = 1e6
    val layers = Map(
      "catalyst.analysis_s" -> per(tr, all.analysisMs / 1e3),
      "catalyst.optimization_s" -> per(tr, all.optimizationMs / 1e3),
      "catalyst.planning_s" -> per(tr, all.planningMs / 1e3),
      "sched.jobs" -> per(tr, all.jobs.toDouble),
      "sched.stages" -> per(tr, all.stages.toDouble),
      "sched.tasks" -> per(tr, all.tasks.toDouble),
      "sched.task_wait_s" -> per(tr, all.taskWaitMs / 1e3),
      "sched.core_busy_frac" -> (if (wallMs > 0) all.taskDurMs / (wallMs * cores) else 0.0),
      "exec.task_run_s" -> per(tr, all.runMs / 1e3),
      "exec.task_cpu_s" -> per(tr, all.cpuNs / 1e9),
      "exec.gc_s" -> per(tr, all.gcMs / 1e3),
      "exec.failed_tasks" -> per(tr, all.failedTasks.toDouble),
      "scan.input_mb" -> per(tr, all.inputBytes / mb),
      "scan.input_rows" -> per(tr, all.inputRows.toDouble),
      "shuffle.write_mb" -> per(tr, all.shuffleWrite / mb),
      "shuffle.read_mb" -> per(tr, all.shuffleRead / mb),
      "shuffle.spill_mb" -> per(tr, all.spill / mb),
      "trace.ops_per_s_delta" -> (traced("ops_per_s") - untraced("ops_per_s")),
      "trace.op_p50_s_delta" -> (traced("op_p50_s") - untraced("op_p50_s")),
      "trace.cpu_s_per_op_delta" -> (traced("cpu_s_per_op") - untraced("cpu_s_per_op")))

    val imports = tr.filter(_.op.isInstanceOf[ImportOp])
    val copies = tr.filter(_.op.isInstanceOf[CopyIntoOp])
    def ex(ss: Seq[Sample], k: String): Double = ss.map(_.extra.getOrElse(k, 0.0)).sum
    val recount = imports.map(x => byGroup(x.group).actions("count") / 1e3).sum
    val importS = imports.map(x => secs(x.totalNs)).sum
    val ingest = Map(
      "ingest.scan_s" -> per(imports, ex(imports, "scan_s")),
      "ingest.encode_s" -> per(imports, ex(imports, "encode_s")),
      "ingest.write_s" -> per(imports, importS - recount),
      "ingest.recount_s" -> per(imports, recount),
      "ingest.copy_into_s" -> per(copies, copies.map(x => secs(x.totalNs)).sum),
      "ingest.copy_batches" -> per(copies, ex(copies, "copy_batches")),
      "ingest.jobs_per_import" -> per(imports, total(imports).jobs.toDouble),
      "ingest.output_files" -> per(imports, ex(imports, "output_files")),
      "ingest.rows_per_s" -> traced("ingest_rows_per_s"),
      "ingest.bytes_out_per_in" -> traced("ingest_bytes_out_per_in"))

    val packs = Main.packs.map(_._1).flatMap { p =>
      val ss = tr.filter(_.op.pack == p)
      val c = total(ss)
      Seq(
        s"op.$p.build_s" -> per(ss, ss.map(x => secs(x.buildNs)).sum),
        s"op.$p.run_s" -> per(ss, ss.map(x => secs(x.totalNs - x.buildNs)).sum),
        s"op.$p.jobs" -> per(ss, c.jobs.toDouble),
        s"op.$p.shuffle_mb" -> per(ss, c.shuffleWrite / mb))
    }
    untraced ++ layers ++ ingest ++ packs
  }
}
