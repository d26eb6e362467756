package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Tables.read`'s schema catalog on tmp-dir fixtures: a resolved
  * schema saves the per-read inference job, a replaced file resolves
  * again, and events' `ts` normalization holds for both physical forms.
  */
class TablesCatalogSpec extends AnyFunSuite {
  import TestSpark.jobsOf
  private lazy val s = TestSpark.spark

  /** Write `rows` to the single parquet FILE `path` (the layout of the
    * tables `Tables(...)` reads), replacing what is there. Every column is int64; `schema` is
    * parquet's message syntax, so a column may carry a timestamp type.
    */
  private def stage(path: String, schema: String)(rows: Seq[Long]*): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(t).withConf(conf).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(t)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.zipWithIndex.foreach { case (v, i) => g.add(i, v) }
      w.write(g)
    } finally w.close()
  }

  private def tmpDir(): String = Files.createTempDirectory("graft_catalog").toString

  test("a second Tables(...) of an unchanged table starts no Spark job at plan build") {
    val dir = tmpDir()
    stage(s"$dir/t.parquet", "message t { required int64 k; }")(Seq(1L), Seq(2L))
    val first = jobsOf(Tables(s, dir, "t"))
    assert(first >= 1, "the first read of a new table should run Spark's schema inference")
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { again = Tables(s, dir, "t") } == 0)
    // a fresh relation per call: a self-join keeps distinct attribute ids
    val ids = Tables(s, dir, "t").queryExecution.analyzed.output.map(_.exprId)
    assert(ids != again.queryExecution.analyzed.output.map(_.exprId))
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("a table file rewritten with one more column and other rows reads as rewritten") {
    val dir = tmpDir()
    stage(s"$dir/t.parquet", "message t { required int64 k; }")(Seq(1L), Seq(2L), Seq(3L))
    assert(Tables(s, dir, "t").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    stage(s"$dir/t.parquet", "message t { required int64 k; required int64 v; }")(
      Seq(10L, 100L), Seq(20L, 200L))
    val df = Tables(s, dir, "t")
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((10L, 100L), (20L, 200L)))
  }

  test("events ts normalizes to TimestampType for the nanos and the NTZ physical forms") {
    val dir = tmpDir()
    val micros = 1700000000123456L
    def tsMicros(): Seq[Long] = {
      val e = Tables(s, dir, "events")
      assert(e.schema("ts").dataType == TimestampType)
      e.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    }
    // TIMESTAMP(NANOS): read as long, floor-divided to micros
    stage(s"$dir/events.parquet",
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")(
      Seq(1L, micros * 1000 + 789))
    assert(tsMicros() == Seq(micros))
    // the same file replaced by plain timestamp[us] (TIMESTAMP_NTZ in Spark)
    stage(s"$dir/events.parquet",
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(MICROS,false)); }")(
      Seq(1L, micros))
    assert(tsMicros() == Seq(micros))
  }

  test("a table read before the first events read is not inferred again after it") {
    // a fresh copy of the corpus, so no earlier suite's entry serves, read
    // with nanosAsLong unset as in a new session
    val dir = tmpDir()
    Tables.all.foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"${TestSpark.sf}/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    Tables.all.filter(_ != "events").foreach(t => Tables(s, dir, t))
    Tables(s, dir, "events")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(jobsOf(Tables(s, dir, "lineitem")) == 0)
  }
}
