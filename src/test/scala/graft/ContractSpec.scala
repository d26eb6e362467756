package graft

import org.scalatest.funsuite.AnyFunSuite

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
}
