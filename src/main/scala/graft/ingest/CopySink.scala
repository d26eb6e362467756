package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One COPY FROM STDIN round-trip — the plug-point the reference reaches
  * through PDO's `pgsqlCopyFromArray`
  * (/root/reference/src/ParquetImporter.php:96-121). A live-Postgres
  * implementation wraps `org.postgresql.copy.CopyManager.copyIn` in a
  * transaction with `SET LOCAL statement_timeout = <ms>` and rolls back
  * on failure, exactly the reference's flushBatch; no JDBC driver ships
  * in this environment, so the bundled implementations are the
  * file-format writer ([[CopySink.writeCopyFiles]]) and test recorders.
  *
  * Implementations are constructed PER PARTITION via a serializable
  * factory — one connection per executor task, never a driver round-trip
  * per row.
  */
trait CopyTarget {

  /** Send one batch of pre-encoded COPY text lines. Returns rows copied.
    * `delimiter`/`nullAs` mirror the reference call signature
    * (ParquetImporter.php:108: tab and `\N`).
    */
  def copyIn(table: String, columns: Seq[String], lines: Seq[String],
      delimiter: String = "\t", nullAs: String = "\\N"): Long
}

/** PostgreSQL COPY-text encoding and sinks, Spark-first: the value codec
  * is a per-column codegen'd expression tree (no UDFs, no driver-side
  * row loop), so encoding runs inside whole-stage codegen and the sink
  * writes from every partition in parallel.
  *
  * Codec parity with the reference's `formatCopyValue`
  * (/root/reference/src/ParquetImporter.php:151-179):
  * NULL -> `\N`; bool -> `1`/`0`; timestamp -> `yyyy-MM-dd
  * HH:mm:ss.SSSSSS+ZZ:ZZ` (the reference's `Y-m-d H:i:s.uP`); nested
  * struct/array/map -> JSON; then `\` `\t` `\r` `\n` escaped in that
  * order (backslash first, :166-169). Binary columns encode as `\N`,
  * matching the reference's resource -> null rule (:197-199).
  */
object CopySink {

  /** COPY-text encoding of one field as a codegen'd Column. */
  def copyValue(f: StructField): Column = {
    val c = col(f.name)
    val formatted: Column = f.dataType match {
      case BooleanType => when(c, lit("1")).otherwise(lit("0"))
      case TimestampType | TimestampNTZType =>
        date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSSxxx")
      case _: StructType | _: ArrayType | _: MapType => escape(to_json(c))
      case StringType => escape(c)
      case BinaryType => lit(null).cast(StringType)
      case _ => c.cast(StringType)
    }
    coalesce(formatted, lit("\\N"))
  }

  /** Backslash FIRST, then tab/CR/LF — the reference's escape order
    * (ParquetImporter.php:166-169); reversing it would double-escape.
    */
  private def escape(c: Column): Column = {
    val bs = replace(c, lit("\\"), lit("\\\\"))
    val tb = replace(bs, lit("\t"), lit("\\t"))
    val cr = replace(tb, lit("\r"), lit("\\r"))
    replace(cr, lit("\n"), lit("\\n"))
  }

  /** The whole row as one tab-joined COPY line (every field is already
    * NULL-coalesced to `\N`, so concat_ws never drops a cell).
    */
  def lineExpr(schema: StructType): Column =
    concat_ws("\t", schema.fields.toSeq.map(copyValue): _*)

  /** Encode `df` to a single-column frame of COPY text lines. */
  def lines(df: DataFrame): DataFrame =
    df.select(lineExpr(df.schema).as("value"))

  /** Distributed COPY-format file sink: one text part-file per partition,
    * each directly streamable to `COPY <table> FROM STDIN`. This is the
    * offline stand-in for the live COPY path — at cluster scale it is
    * also the restartable shape (encode once, replay files into COPY on
    * the warehouse side).
    */
  def writeCopyFiles(df: DataFrame, dir: String, truncate: Boolean = false): Unit =
    lines(df).write
      .mode(if (truncate) SaveMode.Overwrite else SaveMode.Append)
      .text(dir)

  /** Stream `df` into a [[CopyTarget]] from every partition: lines are
    * encoded by codegen upstream, grouped into `batchSize`-row COPY calls
    * (the reference's flush cadence, ParquetImporter.php:62-69 — default
    * 5000), one target instance per partition. Failures surface as the
    * reference's "COPY command failed: ..." (:117-119); the transaction +
    * statement_timeout around each call live inside the target.
    */
  def copyInto(
      df: DataFrame,
      table: String,
      targetFactory: () => CopyTarget,
      batchSize: Int = 5000): Unit = {
    Importer.assertSafeTable(table)
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    val columns = df.columns.toSeq
    columns.foreach(Importer.assertSafeColumn)
    lines(df).foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      if (it.nonEmpty) {
        val target = targetFactory()
        it.map(_.getString(0)).grouped(batchSize).foreach { batch =>
          try target.copyIn(table, columns, batch)
          catch {
            case e: Exception =>
              throw new RuntimeException(s"COPY command failed: ${e.getMessage}", e)
          }
        }
      }
    }
  }
}
