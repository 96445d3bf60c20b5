package graft.io

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.ingest.Xlsx

/** `\s filename` result export (ref localsql/localsql.py:171-193):
  * csv / json(NDJSON) / xlsx by extension; unknown extension is an
  * error, as in the reference (:185-191). parquet/orc are
  * beyond-reference additions — the columnar round-trip formats of the
  * scale path (readable back through `Readers.read`).
  *
  * The reference writes exactly one local file, so we match that
  * contract driver-side for csv/json/parquet/orc via a
  * single-partition write; at scale a user calls `df.write` directly
  * for a distributed, many-file dump — both surfaces exist here.
  */
object Save {

  def save(df: DataFrame, path: String): Unit = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) writeSingle(df, path, "csv")
    else if (lower.endsWith(".json")) writeSingle(df, path, "json")
    else if (lower.endsWith(".parquet")) writeSingle(df, path, "parquet")
    else if (lower.endsWith(".orc")) writeSingle(df, path, "orc")
    else if (lower.endsWith(".xlsx")) Xlsx.write(df, path)
    else throw new IllegalArgumentException(
      s"This file type is not supported: $path (csv, json, xlsx, parquet, orc)")
  }

  /** Distributed write to a temp dir, then move the single part file to
    * the requested path (the reference's one-file contract). The temp
    * dir (with Spark's `_SUCCESS` and `.crc` side files) is deleted
    * whether or not the write succeeds. */
  private def writeSingle(df: DataFrame, path: String, format: String): Unit = {
    import java.nio.file._
    val root = Files.createTempDirectory("graft_save")
    try {
      val tmp = root.resolve("out")
      val writer = df.coalesce(1).write.mode("overwrite")
      (format match {
        case "csv" => writer.option("header", true)
        case _ => writer
      }).format(format).save(tmp.toString)
      val listing = Files.list(tmp)
      val found = try listing.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
      finally listing.close()
      require(found.isDefined, s"no part file produced under $tmp")
      Files.move(found.get, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    } finally {
      val tree = Files.walk(root)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally tree.close()
    }
  }
}
