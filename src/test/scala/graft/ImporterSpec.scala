package graft

import graft.ingest.Importer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity golden tests mirroring the reference suite's spirit
  * (identifier gates, rename-map edge cases, normalization goldens —
  * /root/reference/tests/ParquetImporterTest.php).
  */
class ImporterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("identifier validation accepts safe, rejects unsafe") {
    Importer.assertSafeTable("public.users")
    Importer.assertSafeColumn("user_id_2")
    intercept[IllegalArgumentException](Importer.assertSafeColumn("bad.column"))
    intercept[IllegalArgumentException](Importer.assertSafeColumn("a b"))
    intercept[IllegalArgumentException](Importer.assertSafeTable("users;drop"))
  }

  test("CLI --map parse keeps valid pairs in order, warns and skips malformed ones") {
    // mirrors the reference's warn+skip behavior
    // (ImportParquetCommand.php:52-66): entries without '=', or with an
    // empty source or target, never reach the importer
    val parsed = graft.ingest.Import.parseMap(
      Some("a=b, c = d ,noequals,=x,y=,  ,last=z"))
    assert(parsed == Seq("a" -> "b", "c" -> "d", "last" -> "z"))
    assert(graft.ingest.Import.parseMap(None) == Seq.empty)
  }

  test("quoteIdentifier quotes schema.table with quote doubling") {
    assert(Importer.quoteIdentifier("users") == "\"users\"")
    assert(Importer.quoteIdentifier("public.users") == "\"public\".\"users\"")
  }

  test("project renames and nulls missing source columns") {
    val df = Seq((1, "alice"), (2, "bob")).toDF("id", "name")
    val out = Importer.project(df, Seq("id" -> "uid", "missing" -> "extra"))
    assert(out.columns.toSeq == Seq("uid", "extra"))
    assert(out.collect().map(r => (r.getInt(0), r.isNullAt(1))).toSeq ==
      Seq((1, true), (2, true)))
  }

  test("normalize: nested -> JSON, timestamp -> micro string") {
    val df = Seq((1, ("bar", 2), java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")))
      .toDF("id", "obj", "ts")
    val row = Importer.normalize(df).collect().head
    assert(row.getString(1) == """{"_1":"bar","_2":2}""")
    assert(row.getString(2) == "2024-01-02 03:04:05.123456+00:00")
  }

  test("importParquet JDBC branch round-trips through embedded Derby") {
    // Spark ships Derby for the Hive metastore; use it as the offline
    // stand-in warehouse so the write.jdbc branch (batchsize, quoting,
    // mode) executes for real. Skips cleanly when no driver is present.
    val hasDerby =
      try { Class.forName("org.apache.derby.jdbc.EmbeddedDriver"); true }
      catch { case _: ClassNotFoundException => false }
    assume(hasDerby, "no embedded JDBC driver on classpath")
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val res = Importer.importParquet(spark, s"${TestSpark.sf}/region.parquet",
      "region_jdbc", jdbcUrl = Some(url), batchSize = 2)
    assert(res.rowsImported == 5)
    val back = spark.read.jdbc(url, Importer.quoteIdentifier("region_jdbc"),
      new java.util.Properties())
    assert(back.count() == 5)
    assert(back.select("r_name").as[String].collect().sorted.head == "AFRICA")
  }

  test("importParquet round-trips rows through a parquet sink table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_imp").toString
    val res = Importer.importParquet(spark, s"${TestSpark.sf}/region.parquet",
      "region_copy", truncate = true, sinkDir = Some(tmp))
    assert(res.rowsImported == 5)
    assert(spark.read.parquet(s"$tmp/region_copy").count() == 5)
    // truncate semantics: re-import overwrites, not appends
    val res2 = Importer.importParquet(spark, s"${TestSpark.sf}/region.parquet",
      "region_copy", truncate = true, sinkDir = Some(tmp))
    assert(res2.rowsImported == 5)
  }

  test("importParquet counts the rows its own write wrote, with no count action") {
    val out = java.nio.file.Files.createTempDirectory("graft_imp_count").toString
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions.add(f)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        actions.add(f)
    }
    spark.listenerManager.register(l)
    val li = s"${TestSpark.sf}/lineitem.parquet"
    var first, appended: graft.ingest.ImportResult = null
    // jobsOf waits for the listener bus to settle before the check below
    try TestSpark.jobsOf {
      first = Importer.importParquet(spark, li, "li", truncate = true,
        normalizeValues = true, copyDir = Some(s"$out/copy"), sinkDir = Some(s"$out/parquet"))
      appended = Importer.importParquet(spark, li, "li", sinkDir = Some(s"$out/parquet"))
    } finally spark.listenerManager.unregister(l)
    assert(!actions.contains("count"), s"actions run: $actions")
    val n = spark.read.parquet(li).count()
    assert(first.rowsImported == n)
    assert(spark.read.text(s"$out/copy/li").count() == n)
    // the append reports its own rows, not the sink's
    assert(appended.rowsImported == n)
    assert(spark.read.parquet(s"$out/parquet/li").count() == 2 * n)
  }

  test("importParquet rejects an import with no sink") {
    val e = intercept[IllegalArgumentException] {
      Importer.importParquet(spark, s"${TestSpark.sf}/region.parquet", "region_none")
    }
    assert(e.getMessage.contains("no sink"))
  }

  test("importParquet rejects a JDBC sink combined with a file sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_imp_mixed").toString
    val e = intercept[IllegalArgumentException] {
      Importer.importParquet(spark, s"${TestSpark.sf}/region.parquet", "region_mixed",
        jdbcUrl = Some("jdbc:derby:memory:graftdb;create=true"), copyDir = Some(tmp))
    }
    assert(e.getMessage.contains("jdbcUrl"))
    // rejected before the scan: nothing was written
    assert(new java.io.File(tmp).list().isEmpty)
  }

  test("importParquet without a columnMap rejects an unsafe source column before any write") {
    val src = java.nio.file.Files.createTempDirectory("graft_imp_badcol").toString
    Seq((1, 2)).toDF("id", "bad col").write.mode("overwrite").parquet(s"$src/in")
    val out = java.nio.file.Files.createTempDirectory("graft_imp_badcol_out").toString
    val e = intercept[IllegalArgumentException] {
      Importer.importParquet(spark, s"$src/in", "badcol",
        sinkDir = Some(out), copyDir = Some(out))
    }
    assert(e.getMessage.contains("Unsafe column name: bad col"))
    assert(new java.io.File(out).list().isEmpty)
  }

  test("importParquet rejects a non-positive batchSize up front") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_imp_batch").toString
    val e = intercept[IllegalArgumentException] {
      Importer.importParquet(spark, s"${TestSpark.sf}/region.parquet", "region_batch",
        copyDir = Some(tmp), batchSize = 0)
    }
    assert(e.getMessage.contains("batchSize"))
    assert(new java.io.File(tmp).list().isEmpty)
  }

  test("CopySink.copyInto rejects a non-positive batchSize up front") {
    // on the driver, before any partition runs: an executor-side
    // failure would surface wrapped in a SparkException instead
    val e = intercept[IllegalArgumentException] {
      graft.ingest.CopySink.copyInto(Seq((1, "a")).toDF("id", "name"), "users",
        () => new RecordingCopyTarget.Recorder, batchSize = 0)
    }
    assert(e.getMessage.contains("batchSize"))
  }
}
