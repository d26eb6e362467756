package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of one import run — mirrors the reference's ImportResult
  * (/root/reference/src/ImportResult.php:5-24).
  */
final case class ImportResult(
    sourcePath: String,
    table: String,
    rowsImported: Long,
    durationSeconds: Double)

/** Spark-native re-expression of the reference's whole ingest surface
  * (/root/reference/src/ParquetImporter.php): parquet scan, columnMap
  * projection/rename (missing source column -> NULL,
  * ParquetImporter.php:78-88), value normalization (timestamps ->
  * formatted string, nested -> JSON, ParquetImporter.php:181-202),
  * identifier validation/quoting (:204-233), truncate-then-load (:50-52),
  * and a batched SQL sink (:90-126).
  *
  * Architectural mapping, not a port: the reference streams rows through
  * one PHP process; here the scan is a distributed parquet read (row
  * groups become input splits), normalization is codegen'd Catalyst
  * expressions, and the sink is either a parquet directory (standing in
  * for a warehouse table — no JDBC driver is available offline) or
  * `df.write.jdbc` with `batchsize` playing the reference's 5000-row
  * batching role. Nothing passes through the driver.
  */
object Importer {

  private val ColumnId = "^[A-Za-z0-9_]+$".r
  private val TableId = "^[A-Za-z0-9_.]+$".r

  /** Same gate as ParquetImporter.php:204-210. */
  def assertSafeColumn(name: String): Unit =
    require(ColumnId.matches(name), s"Unsafe column name: $name")

  /** Same gate as ParquetImporter.php:212-216 (dots allowed for schema.table). */
  def assertSafeTable(name: String): Unit =
    require(TableId.matches(name), s"Unsafe table name: $name")

  /** Quote `schema.table` as "schema"."table" with quote-doubling
    * (ParquetImporter.php:225-233).
    */
  def quoteIdentifier(table: String): String =
    table.split('.').map(p => "\"" + p.replace("\"", "\"\"") + "\"").mkString(".")

  /** columnMap projection: every (source -> target) pair in order; a source
    * column absent from the frame projects as NULL (string-typed), matching
    * ParquetImporter.php:83. An empty map means identity.
    */
  def project(df: DataFrame, columnMap: Seq[(String, String)]): DataFrame = {
    if (columnMap.isEmpty) return df
    val present = df.columns.toSet
    val cols = columnMap.map { case (src, tgt) =>
      assertSafeColumn(tgt)
      if (present(src)) col(src).as(tgt)
      else lit(null).cast(StringType).as(tgt)
    }
    df.select(cols: _*)
  }

  /** Sink-side normalization (ParquetImporter.php:181-202): timestamps to
    * 'yyyy-MM-dd HH:mm:ss.SSSSSSxxx' strings (the reference's
    * 'Y-m-d H:i:s.uP'), nested struct/array/map columns to JSON. Scalars
    * pass through. All codegen'd built-ins — no UDFs.
    */
  def normalize(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss.SSSSSSxxx").as(f.name)
        case _: StructType | _: ArrayType | _: MapType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Full pipeline: scan -> project/rename -> (optionally) normalize ->
    * sink. `sinkDir` receives one parquet "table" per target name;
    * `copyDir` writes the reference's primary path — COPY text format
    * (tab / `\N` / escaped, see [[CopySink]]) — as one streamable
    * part-file per partition; the two file sinks may be combined. When
    * `jdbcUrl` is set the frame goes through the JDBC batch writer
    * instead (truncate flag maps to SaveMode.Overwrite + truncate, the
    * reference's TRUNCATE-then-COPY) and no file sink may be given. An
    * import with no sink at all is rejected: it would write nothing yet
    * report every scanned row as imported. Every output column name
    * passes [[assertSafeColumn]] before any write, with or without a
    * columnMap (ParquetImporter.php:204-216). The source is read through
    * [[graft.Tables.read]], and `rowsImported` is counted by the first
    * sink's write (an `Observation`), not by a scan of its own.
    */
  def importParquet(
      spark: SparkSession,
      path: String,
      table: String,
      columnMap: Seq[(String, String)] = Nil,
      truncate: Boolean = false,
      normalizeValues: Boolean = false,
      sinkDir: Option[String] = None,
      jdbcUrl: Option[String] = None,
      copyDir: Option[String] = None,
      batchSize: Int = 5000): ImportResult = {
    assertSafeTable(table)
    val fileSinks = copyDir.isDefined || sinkDir.isDefined
    require(jdbcUrl.isDefined || fileSinks,
      "no sink: give sinkDir, copyDir or jdbcUrl")
    require(!(jdbcUrl.isDefined && fileSinks),
      "jdbcUrl cannot be combined with sinkDir/copyDir")
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val t0 = System.nanoTime()
    val raw = graft.Tables.read(spark, path)
    val projected = project(raw, columnMap)
    projected.columns.foreach(assertSafeColumn)
    val out = if (normalizeValues) normalize(projected) else projected
    // rows imported by THIS run (the reference's ImportResult semantics):
    // counted by the first sink's write itself, so no scan of its own runs
    // and the count is of the rows that write wrote, even when the source
    // is replaced after it; an Append import never reports pre-existing rows
    val written = new Observation()
    val counted = out.observe(written, count(lit(1)).as("rows"))

    val mode = if (truncate) SaveMode.Overwrite else SaveMode.Append
    jdbcUrl match {
      case Some(url) =>
        counted.write.mode(mode)
          .option("truncate", truncate.toString)
          .option("batchsize", batchSize.toString)
          .jdbc(url, quoteIdentifier(table), new java.util.Properties())
      case None =>
        copyDir.foreach { d =>
          CopySink.writeCopyFiles(counted, s"$d/$table", truncate)
        }
        sinkDir.foreach { d =>
          (if (copyDir.isEmpty) counted else out).write.mode(mode).parquet(s"$d/$table")
        }
    }
    val rows = written.get("rows").asInstanceOf[Long]
    ImportResult(path, table, rows, (System.nanoTime() - t0) / 1e9)
  }
}
