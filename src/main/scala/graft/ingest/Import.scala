package graft.ingest

/** CLI entry mirroring the reference's artisan command
  * (/root/reference/src/Commands/ImportParquetCommand.php:10-17):
  *
  *   runMain graft.ingest.Import <path> <table> \
  *     [--map=src=target,src2=target2] [--sink-dir=DIR] [--jdbc-url=URL] \
  *     [--copy-dir=DIR] [--batch=N] [--truncate] [--normalize]
  *
  * Malformed --map pairs are warned about and skipped, matching the
  * reference's behavior (ImportParquetCommand.php:52-66).
  */
object Import {

  /** Parse `--map` pairs; malformed entries (no `=`, empty source or
    * target) are warned about and skipped, matching the reference
    * (ImportParquetCommand.php:52-66: "Ignoring invalid map entry").
    */
  def parseMap(raw: Option[String]): Seq[(String, String)] =
    raw.toSeq.flatMap(_.split(',')).flatMap { pair =>
      pair.split("=", 2) match {
        case Array(s, t) if s.trim.nonEmpty && t.trim.nonEmpty =>
          Some(s.trim -> t.trim)
        case _ =>
          System.err.println(s"[import] skipping malformed map pair: '$pair'")
          None
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Import <path> <table> [options]")
    val path = args(0)
    val table = args(1)
    val opts = args.drop(2)
    def opt(name: String): Option[String] =
      opts.collectFirst { case a if a.startsWith(s"--$name=") => a.substring(name.length + 3) }

    val columnMap: Seq[(String, String)] = parseMap(opt("map"))

    val spark = graft.Session.local()
    try {
      val res = Importer.importParquet(
        spark, path, table,
        columnMap = columnMap,
        truncate = opts.contains("--truncate"),
        normalizeValues = opts.contains("--normalize"),
        sinkDir = opt("sink-dir"),
        jdbcUrl = opt("jdbc-url"),
        copyDir = opt("copy-dir"),
        batchSize = opt("batch").map(_.toInt).getOrElse(5000))
      println(s"Imported ${res.rowsImported} rows from ${res.sourcePath} " +
        f"into ${res.table} in ${res.durationSeconds}%.2f s")
    } finally spark.stop()
  }
}
