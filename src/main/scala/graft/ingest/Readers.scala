package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Format dispatch + file readers, mirroring the reference's ingestion
  * surface (localsql/localsql.py:78-145):
  *
  *  - format by last extension: csv / xlsx / json (unknown -> None,
  *    file skipped — ref :93-100, :310-311);
  *  - double-extension compression sniff: format.{gz,bz2,xz} handled
  *    transparently by Spark's text readers (codec by extension);
  *    `.zip` and compressed xlsx need explicit decompression (ref :91);
  *  - JSON: NDJSON first, whole-document fallback (ref :106-111), with
  *    nested values stringified for reference parity (ref :72-76) —
  *    disable with stringifyNested=false to keep native Spark structs
  *    (a strict upgrade);
  *  - `-jn` normalize mode flattens nested structs into dotted columns
  *    (ref :112-135).
  *
  * Scale stance: csv/json go through spark.read — distributed,
  * lazily-planned scans with pushdown; only xlsx (inherently small,
  * zip+XML) is driver-side.
  */
object Readers {

  val Compressions = Set("gz", "bz2", "zip", "xz")
  // csv/xlsx/json are the reference's formats (localsql.py:78); parquet
  // and orc are beyond-reference additions — the columnar formats of
  // the scale path (predicate pushdown, partition pruning)
  val Formats = Set("csv", "xlsx", "json", "parquet", "orc")

  /** (format, compression) from a file name, e.g. `a.json.gz` ->
    * (json, Some(gz)); `b.csv` -> (csv, None); unknown -> format None. */
  def sniff(fileName: String): (Option[String], Option[String]) = {
    val parts = fileName.toLowerCase.split('.')
    if (parts.length >= 3 && Compressions(parts.last) && Formats(parts(parts.length - 2)))
      (Some(parts(parts.length - 2)), Some(parts.last))
    else if (parts.length >= 2 && Formats(parts.last)) (Some(parts.last), None)
    else (None, None)
  }

  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** NDJSON first; if the schema comes back corrupt (not line-JSON),
    * retry as a whole-document array/object (multiLine). */
  def json(spark: SparkSession, path: String, stringifyNested: Boolean = true): DataFrame = {
    val lines = spark.read.json(path)
    val parsed =
      if (lines.columns.sameElements(Array("_corrupt_record")) || lines.columns.isEmpty)
        spark.read.option("multiLine", true).json(path)
      else lines
    if (stringifyNested) Flatten.stringifyNested(parsed) else parsed
  }

  /** `-jn` normalize mode: nested objects -> dotted top-level columns. */
  def jsonNormalize(spark: SparkSession, path: String): DataFrame =
    Flatten.flatten(spark.read.json(path))

  /** Dispatch one file to its reader; None for unknown formats (the
    * caller logs and skips, as the reference does). */
  def read(spark: SparkSession, path: String,
           stringifyNested: Boolean = true,
           jsonNormalizeMode: Boolean = false): Option[DataFrame] = {
    val name = java.nio.file.Paths.get(path).getFileName.toString
    sniff(name) match {
      // gz/bz2 decompress transparently inside Spark's text readers
      // (Hadoop codec by extension); zip is not a Hadoop codec and xz
      // has NO default Hadoop codec either — without this branch an
      // .xz file is read as raw compressed bytes, not an error — so
      // both unpack to a temp file first (ref list localsql.py:91).
      case (Some(fmt @ ("csv" | "json")), Some(comp @ ("zip" | "xz"))) =>
        val plain = decompressToTemp(path, comp, "." + fmt)
        read(spark, plain, stringifyNested, jsonNormalizeMode)
      case (Some("csv"), _) => Some(csv(spark, path))
      case (Some("json"), _) =>
        Some(if (jsonNormalizeMode) jsonNormalize(spark, path)
             else json(spark, path, stringifyNested))
      // parquet/orc are internally compressed; a second layer is
      // unsupported (falls through to the unknown-format skip)
      case (Some("parquet"), None) => Some(spark.read.parquet(path))
      case (Some("orc"), None) => Some(spark.read.orc(path))
      case (Some("parquet" | "orc"), Some(_)) => None
      case (Some("xlsx"), None) => Some(Xlsx.read(spark, path))
      case (Some("xlsx"), Some(comp)) =>
        // xlsx is already a zip; a second compression layer must be
        // unpacked before the ZipFile reader can seek (ref supports
        // this via fsspec; rare in practice).
        Some(Xlsx.read(spark, decompressToTemp(path, comp, ".xlsx")))
      case _ => None
    }
  }

  private def decompressToTemp(path: String, comp: String, suffix: String): String = {
    import java.io._
    import java.nio.file.Files
    // bz2/xz go through commons-compress (pure-Java, already on the
    // Spark classpath), matching the reference's {gz,bz2,zip,xz} set
    // (localsql.py:91); an unknown compressor raises the reference's
    // explicit unsupported-compressor error (localsql.py:114).
    val in: InputStream = comp match {
      case "gz" => new java.util.zip.GZIPInputStream(new FileInputStream(path))
      case "bz2" =>
        new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorInputStream(new BufferedInputStream(new FileInputStream(path)))
      case "xz" =>
        new org.apache.commons.compress.compressors.xz
          .XZCompressorInputStream(new BufferedInputStream(new FileInputStream(path)))
      case "zip" =>
        val z = new java.util.zip.ZipInputStream(new FileInputStream(path))
        z.getNextEntry; z
      case other => throw new IllegalArgumentException(
        s"unsupported compression: $other")
    }
    // the file backs a lazily read table for the rest of the JVM's life
    val tmp = Files.createTempFile("graft_unpack", suffix)
    tmp.toFile.deleteOnExit()
    try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.toString
  }
}
