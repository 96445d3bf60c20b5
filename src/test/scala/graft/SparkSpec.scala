package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, sequential): the
  * engine's [[engine.Conf]] runtime at an explicit local[4]. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = engine.Conf.builder(4, "graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  def tmpDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_test")

  def writeFile(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}
