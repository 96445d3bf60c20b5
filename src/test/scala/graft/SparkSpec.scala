package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, sequential): the
  * engine's [[engine.Conf]] runtime at an explicit local[4]. A suite's
  * [[tmpDir]]s are deleted after the suite; the one warehouse dir of the
  * JVM's session at JVM exit. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = engine.Conf.builder(4, "graft-test")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse.toString)
    .getOrCreate()

  private val tmpDirs = ArrayBuffer.empty[Path]

  def tmpDir(): Path = {
    val d = Files.createTempDirectory("graft_test")
    tmpDirs += d
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally { tmpDirs.foreach(SparkSpec.deleteTree); tmpDirs.clear() }

  def writeFile(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }
}

object SparkSpec {
  /** Created on the first suite's session start, deleted at JVM exit:
    * later suites share the session, and so its warehouse. */
  lazy val warehouse: Path = {
    val d = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(deleteTree(d))
    d
  }

  def deleteTree(root: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
}
