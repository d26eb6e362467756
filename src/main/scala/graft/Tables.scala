package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders for the driver-provided parquet star schema
  * (see /root/repo/TESTDATA.md). One parquet file per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") events(spark, dir)
    else {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      checkSchema(dir, name, df.schema)
      df
    }
  }

  /** Expected Spark-read column types per driver table (TESTDATA.md).
    * The driver regenerates testdata between rounds and has silently
    * changed physical types before (r7: events.ts nanos→micros, which
    * cost a session chunk to diagnose from downstream hash mismatches) —
    * so every load fail-fasts with a one-line diff instead. events.ts is
    * checked against its three known physical forms in [[events]];
    * synthetic fixtures staged OUTSIDE the driver's testdata root (spec
    * corpora in tmp dirs) are exempt — the guard pins the driver
    * contract, not user data.
    */
  private[graft] val expectedSchemas: Map[String, Map[String, String]] = Map(
    "region" -> Map("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Map("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Map("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Map("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Map("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Map("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
    "lineitem" -> Map("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz"),
    "events" -> Map("event_id" -> "bigint", "ts" -> "ts", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
    "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Map("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  /** The three physical forms events.ts has shipped in (see [[events]]). */
  private val tsForms = Set("bigint", "timestamp_ntz", "timestamp")

  private[graft] def checkSchema(dir: String, name: String, schema: StructType): Unit =
    if (dir.startsWith("/root/testdata")) expectedSchemas.get(name).foreach { exp =>
      val got = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val diff = (exp.keySet ++ got.keySet).toSeq.sorted.flatMap { c =>
        (exp.get(c), got.get(c)) match {
          case (Some("ts"), Some(b)) if tsForms(b) => None
          case (Some(a), Some(b)) if a == b => None
          case (a, b) => Some(
            s"$c: expected ${a.getOrElse("<absent>")}, got ${b.getOrElse("<absent>")}")
        }
      }
      if (diff.nonEmpty) throw new IllegalStateException(
        s"testdata schema drift in $dir/$name.parquet — ${diff.mkString("; ")}")
    }

  /** events.ts has shipped in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects by default —
    * read nanos as long via the legacy flag and floor-divide to micros,
    * the same ns->us truncation DuckDB applies) and plain timestamp[us]
    * (which parquet annotates isAdjustedToUTC=false, so Spark reads
    * TIMESTAMP_NTZ). Normalize both to session-timezone TimestampType —
    * the session is pinned to UTC, so the NTZ->TZ cast reinterprets the
    * same wall-clock instant and every downstream date/epoch function
    * agrees with DuckDB's naive-timestamp reading of the same file.
    *
    * Deliberate trade-off: the legacy flag is session config (Spark has
    * no per-read option for it), and the driver owns the session, so it
    * is set here at plan-build time. Only nanos columns are affected and
    * events is the only nanos table in the corpus.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    checkSchema(dir, "events", raw.schema)
    normalizeTs(raw, raw.schema("ts").dataType)
  }

  /** `ts` of the stored type `stored` as session-timezone TimestampType. */
  private def normalizeTs(raw: DataFrame, stored: DataType): DataFrame =
    stored match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** readStream twin of [[events]]: file-source streams need an explicit
    * schema, so peek at the stored batch schema first, then apply the
    * same ts normalization. `path` is a directory holding events parquet
    * (tests stage a copy; a production stream would watch a drop dir).
    */
  def eventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stored = spark.read.parquet(path).schema
    normalizeTs(spark.readStream.schema(stored).parquet(path), stored("ts").dataType)
  }

  /** `documents` spread across the session's cores and persisted. The
    * driver parquet is one row group per file, so a direct scan is a
    * single task; queries whose per-row expressions are expensive
    * (tokenize+explode, regex chains, shingling) serialize on that one
    * core. On a real cluster the scan already has thousands of splits —
    * this shared cached repartition recreates that parallelism locally,
    * paid once per session. Queries that need scan-level evidence
    * (pushdown, `_metadata`) must keep using `Tables(...)` directly.
    */
  def docsSpread(spark: SparkSession, dir: String): DataFrame =
    Cached.of(spark, dir, "docs.spread") {
      apply(spark, dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    }
}

/** Run `body` with AQE disabled, restoring the previous setting after.
  *
  * AQE's per-stage materialization adds a measured ~0.3-0.7 s of fixed
  * latency to every TINY stage (micro probe, warm: a 51 k-row
  * filter+localCheckpoint 0.74 → 0.18 s; a broadcast join over a
  * 5.65 M-row cached table 2.1 → 0.7 s — BASELINE.md round-11). A
  * synchronous fixpoint loop runs several tiny checkpoint jobs per
  * round, so the adaptive re-planning dominates the loop's wall clock
  * while having nothing to re-plan: loop join sides are either
  * checkpointed LogicalRDDs (no stats for AQE to act on) or
  * driver-measured broadcast decisions. One-shot queries keep AQE —
  * this wrapper is for the iterative operators only. Session-conf at
  * plan-build time follows the [[Tables.events]] precedent.
  */
object NoAqe {
  // synchronized on the session (as is ShuffleWidth): two overlapping
  // conf-scoped bodies on one session would interleave save/restore and
  // the last finally could pin a stale value for the session lifetime.
  // (The monitor is reentrant, so nesting ShuffleWidth inside NoAqe on
  // one thread — the cc-fold shape — is fine.) Residual, documented:
  // conf-UNSCOPED work racing on the same session still plans under the
  // scoped value; maintenance folds are sub-second-per-round jobs that
  // production runs in their own session.
  def during[T](s: SparkSession)(body: => T): T = s.synchronized {
    val was = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally s.conf.set("spark.sql.adaptive.enabled", was)
  }
}

/** Run an EAGERLY-EXECUTING body under a reduced shuffle width — the
  * manual analog of AQE partition coalescing for the latency-bound
  * fixpoint loops that run AQE-free (their per-stage materialization
  * barriers cost more than coalescing saves, the ktruss lesson): a
  * batch-bounded fold graph on the session-wide partition count pays
  * full-width task launch per round for a few thousand rows. Only
  * applies to jobs that RUN inside `body` (checkpoints, aggregates) —
  * conf is restored before any lazily-returned frame executes.
  */
object ShuffleWidth {
  // session-monitor scoped like NoAqe (see its doc for the rationale
  // and the documented residual)
  def during[T](s: SparkSession, n: Int)(body: => T): T = s.synchronized {
    val was = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", was)
  }
}

/** Session-scoped cache of persisted intermediate frames. Pair-generating
  * dedup/similarity queries reference their shingle/signature/vector
  * tables several times per plan AND across queries; persisting each call
  * separately would pile up duplicate cached copies for the session
  * lifetime. One shared entry per (session, sf-dir, key, index root)
  * instead: the active [[IndexStore]] root is part of every key, so a
  * frame read back from a persisted index never collides with the
  * in-session build of the same key (the lifecycle specs run both paths
  * in one JVM), and callers never spell the root themselves.
  */
object Cached {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** NOT computeIfAbsent: cache builders call `of` for the caches they
    * depend on (postings -> contentGroups -> shingles), and a nested
    * computeIfAbsent on the same map throws IllegalStateException
    * "Recursive update" — which query hits it first depends on Map
    * iteration order, so it surfaced as a nondeterministic per-SF verify
    * failure. get/putIfAbsent allows re-entrancy; if two threads race,
    * the loser unpersists its duplicate and adopts the winner's frame.
    */
  def of(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, dir, IndexStore.active.fold(key)(r => s"$key@$r"))
    val existing = entries.get(k)
    if (existing != null) existing
    else {
      val built = build.persist()
      val prev = entries.putIfAbsent(k, built)
      if (prev != null) { built.unpersist(blocking = false); prev } else built
    }
  }

  /** Evict (and unpersist) every entry whose key ends with `suffix` —
    * `@<root>`, in practice: every entry built under that root.
    * IndexLifecycleSpec uses this to force the corpus-cache parquet
    * read-back that the build's own session entries would otherwise
    * shadow (ADVICE r15): writeAll populates the same key@root entries
    * the subsequent serve would hit, so without eviction a read-back
    * pin compares the in-session build to itself. Production never
    * needs this — a scoring session is a different JVM from the build
    * job.
    */
  def evictKeySuffix(suffix: String): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._3.endsWith(suffix)) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
  }
}

/** Stable scratch locations per corpus directory. Every writer into them
  * uses mode("overwrite"), so one deterministic path per (kind, corpus)
  * is idempotent across runs instead of leaking a temp dir per call.
  */
object Scratch {
  /** `dir` with every character outside [A-Za-z0-9] replaced by `_` —
    * also a valid SQL identifier suffix (metastore table names).
    */
  def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** `graft_<kind>_<tag>` under java.io.tmpdir, as an absolute path. */
  def path(kind: String, dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_${kind}_${tag(dir)}").getAbsolutePath

  /** (session, dir, kind) layouts already written; guarded by `once`'s lock. */
  private val laid = scala.collection.mutable.Set.empty[(SparkSession, String, String)]

  /** [[path]]`(kind, dir)`, after running `write` on it at most once per
    * (session, dir, kind) — the one-time table layouts. The layout is
    * recorded only AFTER `write` returns, so one transient write failure
    * (tmp full, co-tenant I/O error) is retried by the next call instead
    * of handing every later caller a path that holds nothing.
    */
  def once(s: SparkSession, dir: String, kind: String)(write: String => Unit): String =
    synchronized {
      val base = path(kind, dir)
      if (!laid((s, dir, kind))) {
        write(base)
        laid += ((s, dir, kind))
      }
      base
    }
}

/** Run independent one-time cache builds concurrently — Spark schedules
  * jobs submitted from multiple threads of one session side by side,
  * and the prewarm phases were latency-bound on sequential job
  * barriers, not on cluster capacity (r14 verdict ask #4). Callers
  * partition their builds into dependency-disjoint chains; the shared
  * upstream caches are built BEFORE the fan-out so no two threads race
  * on one Cached key (Cached.of tolerates the race, but the loser's
  * duplicate build would waste exactly the time this helper saves).
  * The first failure rethrows to the prewarm's caller.
  */
object Par {
  def run(tasks: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = tasks.map { t =>
      val th = new Thread(() => try t() catch { case e: Throwable => errs.add(e) })
      th.setDaemon(true)
      th.start()
      th
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }
}

/** Determinism helpers so Spark results hash-match the DuckDB oracle.
  *
  * Floating-point summation is order-dependent; Spark's partial/final
  * aggregation over shuffled partitions sums in a different order than
  * DuckDB's scan. Routing sums through a fixed-scale decimal makes the
  * aggregation exact (the source values are money/quantity-like with a
  * short exact decimal expansion), and the final decimal->double cast is
  * identical in both engines.
  */
object Det {
  val Scale = DecimalType(25, 6)

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Scale)).cast(DoubleType)

  /** Order-independent mean: exact decimal sum / non-null count. */
  def davg(c: Column): Column = (sum(c.cast(Scale)).cast(DoubleType) / count(c))

  /** Oracle-side SQL fragment equivalent to [[dsum]]. */
  def oSum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(25,6))) AS DOUBLE)"

  /** Oracle-side SQL fragment equivalent to [[davg]]. */
  def oAvg(expr: String): String =
    s"(CAST(SUM(CAST($expr AS DECIMAL(25,6))) AS DOUBLE) / COUNT($expr))"
}
