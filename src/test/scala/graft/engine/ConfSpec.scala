package graft.engine

import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** [[Conf]] is the one session definition: no other source builds a
  * SparkSession, nothing reaches the listener bus by reflection, and the
  * shared test session runs the engine's AQE regime. */
class ConfSpec extends SparkSpec {

  private def sources(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"sources not found under ${root.toAbsolutePath}")
    files
  }

  private def hits(files: Seq[java.nio.file.Path], needle: String): Seq[String] =
    files.filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(_.toString.replace('\\', '/')).sorted

  // the needles are split so this file does not match itself
  test("only engine/Conf.scala builds a SparkSession") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    assert(hits(all, "SparkSession" + ".builder") ==
      Seq("src/main/scala/graft/engine/Conf.scala"))
  }

  test("nothing reaches the listener bus by reflection") {
    val all = sources("src/main/scala") ++ sources("src/test/scala") ++
      sources("perfbench/harness/src")
    assert(hits(all, "getMethod(\"" + "listenerBus\")").isEmpty)
  }

  test("the shared test session runs the engine's AQE coalescing regime") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(spark.sparkContext.master == "local[4]")
  }
}
