package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Driver-contract guards: every query must carry a DuckDB oracle (the
  * driver silently downgrades oracle-less queries to a rows-only check,
  * which reads as a coverage regression), every oracle must point at a
  * real query, and the rows-only exemption list stays explicit.
  */
class ContractSpec extends AnyFunSuite {

  /** Queries allowed to ship without an oracle. Empty since round 5:
    * agg_approx_distinct now hash-verifies its accuracy claim (exact ND +
    * within_5pct boolean) and sim_cosine_topk_lsh's deterministic
    * hyperplanes are replayed exactly in its DuckDB oracle.
    */
  private val rowsOnlyByDesign = Set.empty[String]

  test("every query has an oracle, except the documented rows-only set") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnlyByDesign,
      s"oracle-less queries drifted from the documented set: " +
        s"undocumented=${(missing -- rowsOnlyByDesign).toSeq.sorted.mkString(",")} " +
        s"stale-exemptions=${(rowsOnlyByDesign -- missing).toSeq.sorted.mkString(",")}")
  }

  test("no orphan oracles (every oracle names a registered query)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.toSeq.sorted.mkString(",")}")
  }

  test("oracle SQL is non-empty and free of unescapable control characters") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k: empty oracle")
      // Verify.q() escapes \t \r \n and <0x20; anything else would break
      // the driver's oracle_sql.json load
      val bad = sql.filter(c => c < ' ' && c != '\n' && c != '\t' && c != '\r')
      assert(bad.isEmpty, s"$k: control chars ${bad.map(_.toInt).mkString(",")}")
    }
  }

  test("query count matches the documented coverage") {
    // update alongside SURVEY.md §8 when adding operators
    assert(SparkEntry.queries.size == 299,
      s"queries map has ${SparkEntry.queries.size} entries — update SURVEY.md §8 and this pin")
  }

  test("driver testdata footers match the pinned schemas (fail-fast drift guard)") {
    val s = TestSpark.spark
    // every table loads clean — a driver regeneration that drifts a
    // physical type fails HERE with a one-line diff, not three layers
    // deep in a hash mismatch (the r7 events ns→µs lesson)
    Tables.all.foreach { t => Tables(s, TestSpark.sf, t).schema }
  }

  test("schema drift guard reports a one-line diff on deliberate drift") {
    import org.apache.spark.sql.types._
    val drifted = StructType(Seq(
      StructField("doc_id", IntegerType),          // bigint → int
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType)))          // n_chars missing
    val e = intercept[IllegalStateException] {
      Tables.checkSchema("/root/testdata/sf0.001", "documents", drifted)
    }
    assert(e.getMessage.contains("doc_id: expected bigint, got int"), e.getMessage)
    assert(e.getMessage.contains("n_chars: expected bigint, got <absent>"), e.getMessage)
    // non-driver dirs are exempt: specs stage reduced synthetic corpora
    Tables.checkSchema("/tmp/anywhere", "documents", drifted)
  }

  test("Cached.of keys one key separately under no root and under an index root") {
    val s = TestSpark.spark
    val (dir, key, root) = ("contract-dir", "contract.root.keying", "/contract/root")
    val plain = Cached.of(s, dir, key)(s.range(1).toDF())
    try {
      IndexStore.use(Some(root))
      val rooted = Cached.of(s, dir, key)(s.range(2).toDF())
      assert(rooted ne plain)
      assert(rooted.count() == 2)
      assert(Cached.of(s, dir, key)(fail("entry under the root must be reused")) eq rooted)
    } finally {
      IndexStore.use(None)
      Cached.evictKeySuffix(s"@$root")
    }
    assert(Cached.of(s, dir, key)(fail("entry without a root must be reused")) eq plain)
    assert(plain.count() == 1)
    Cached.evictKeySuffix(key)
  }

  test("IndexStore.artifact rejects an unregistered name and names it") {
    val e = intercept[IllegalArgumentException] {
      IndexStore.artifact(TestSpark.spark, TestSpark.sf, "no_such_artifact")
    }
    assert(e.getMessage.contains("no_such_artifact"), e.getMessage)
  }

  test("IndexStore.corpusCached rejects a name outside the corpus-cache panel and names it") {
    val e = intercept[IllegalArgumentException] {
      IndexStore.corpusCached(TestSpark.spark, TestSpark.sf, "no_such_cache")(
        fail("an unregistered corpus cache must not build"))
    }
    assert(e.getMessage.contains("no_such_cache"), e.getMessage)
  }

  /** `body` on 8 pool threads released together; their results or failures. */
  private def eightAtOnce[T](body: => T): Seq[Future[T]] = {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to 8).map(_ => Future { go.await(); body })
      go.countDown()
      fs.foreach(f => Await.ready(f, 60.seconds))
      fs
    } finally pool.shutdown()
  }

  test("Cached.of is single-flight: concurrent callers of one key build once and share the frame") {
    val s = TestSpark.spark
    val key = "contract.single.flight"
    val builds = new AtomicInteger
    val frames = eightAtOnce(Cached.of(s, "contract-dir", key) {
      builds.incrementAndGet()
      Thread.sleep(200)
      s.range(3).toDF()
    }).map(Await.result(_, 1.second))
    assert(builds.get == 1)
    assert(frames.forall(_ eq frames.head))
    assert(frames.head.count() == 3)
    Cached.evictKeySuffix(key)
  }

  test("Cached.of: a failed build reaches its waiters and leaves no entry, so the next call builds") {
    val s = TestSpark.spark
    val key = "contract.failed.build"
    eightAtOnce(Cached.of(s, "contract-dir", key) {
      Thread.sleep(200)
      throw new IllegalStateException("build failed")
    }).foreach { f =>
      val e = intercept[IllegalStateException](Await.result(f, 1.second))
      assert(e.getMessage == "build failed")
    }
    val builds = new AtomicInteger
    val df = Cached.of(s, "contract-dir", key) { builds.incrementAndGet(); s.range(2).toDF() }
    assert(builds.get == 1)
    assert(df.count() == 2)
    Cached.evictKeySuffix(key)
  }

  test("Cached.of: re-entering the key being built on the same thread throws and names it") {
    val s = TestSpark.spark
    val key = "contract.reentry"
    val e = intercept[IllegalStateException] {
      Cached.of(s, "contract-dir", key)(Cached.of(s, "contract-dir", key)(s.range(1).toDF()))
    }
    assert(e.getMessage.contains(key), e.getMessage)
    // the failed outer build left no entry behind
    assert(Cached.of(s, "contract-dir", key)(s.range(1).toDF()).count() == 1)
    Cached.evictKeySuffix(key)
  }

  test("Scratch.once is single-flight: concurrent callers of one layout write once and get its path") {
    val s = TestSpark.spark
    val writes = new AtomicInteger
    val paths = eightAtOnce(Scratch.once(s, "contract-dir", "once.single") { _ =>
      writes.incrementAndGet()
      Thread.sleep(200)
    }).map(Await.result(_, 1.second))
    assert(writes.get == 1)
    assert(paths.forall(_ == Scratch.path("once.single", "contract-dir")))
  }

  test("Scratch.once writes two different layouts at once") {
    val s = TestSpark.spark
    // each write waits for the other to start: serialized writes would
    // time out on the latch
    val started = new CountDownLatch(2)
    val together = new AtomicInteger
    def write(kind: String): Unit = Scratch.once(s, "contract-dir", kind) { _ =>
      started.countDown()
      if (started.await(30, java.util.concurrent.TimeUnit.SECONDS)) together.incrementAndGet()
    }
    Concurrently(() => write("once.a"), () => write("once.b"))
    assert(together.get == 2, "the two layouts' writes were not in flight together")
  }

  test("Scratch.once: a failed write reaches its waiters and leaves no record, so the next call writes") {
    val s = TestSpark.spark
    eightAtOnce(Scratch.once(s, "contract-dir", "once.failed") { _ =>
      Thread.sleep(200)
      throw new IllegalStateException("write failed")
    }).foreach { f =>
      val e = intercept[IllegalStateException](Await.result(f, 1.second))
      assert(e.getMessage == "write failed")
    }
    val writes = new AtomicInteger
    val base = Scratch.once(s, "contract-dir", "once.failed")(_ => writes.incrementAndGet())
    assert(writes.get == 1)
    assert(base == Scratch.path("once.failed", "contract-dir"))
    assert(Scratch.once(s, "contract-dir", "once.failed")(_ => fail("written twice")) == base)
  }

  test("Fixpoint.run stops at the first no-change round, or reports the budget binding") {
    // state counts down to 0 and then stays there: round 4 is the first
    // round that changes nothing
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val down = Fixpoint.run("countdown", 10, 3) { (n, r) =>
      seen += r
      (math.max(n - 1, 0), n > 0)
    }
    assert(down == Fixpoint.Result("countdown", 0, 4, converged = true))
    assert(seen.toSeq == Seq(1, 2, 3, 4))
    assert(down.requireConverged("unused") == 0)
    val capped = Fixpoint.run("capped", 2, 3)((n, _) => (math.max(n - 1, 0), n > 0))
    assert(capped == Fixpoint.Result("capped", 1, 2, converged = false))
    val e = intercept[IllegalStateException](capped.requireConverged("need a fixpoint"))
    assert(e.getMessage.contains("capped") && e.getMessage.contains("need a fixpoint"), e.getMessage)
  }
}
