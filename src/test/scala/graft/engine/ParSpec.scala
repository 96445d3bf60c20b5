package graft.engine

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import graft.SparkSpec

/** [[Par]]: input order, failure and timeout semantics, inherited local
  * properties, and the source rule that it is the engine's only pool. */
class ParSpec extends SparkSpec {

  private def parThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith("graft-par-"))

  test("results come back in input order when the items finish in reverse order") {
    // item i finishes only after item i+1 has, so the finish order is
    // n-1, ..., 0; every item needs its own thread
    val n = math.min(4, spark.sparkContext.defaultParallelism)
    assume(n >= 2)
    val finished = Array.fill(n)(new CountDownLatch(1))
    val order = new ConcurrentLinkedQueue[Int]
    val out = Par.map(spark, 0 until n, 30.seconds) { i =>
      if (i + 1 < n) assert(finished(i + 1).await(20, TimeUnit.SECONDS))
      order.add(i)
      finished(i).countDown()
      i * 10
    }
    assert(order.asScala.toSeq == (0 until n).reverse)
    assert(out == (0 until n).map(_ * 10))
  }

  test("one item runs inline on the caller's thread") {
    val caller = Thread.currentThread
    assert(Par.map(spark, Seq(1), 1.second)(_ => Thread.currentThread) == Seq(caller))
  }

  test("the first failure in input order is rethrown with its cause") {
    val root = new RuntimeException("root")
    val e = intercept[IllegalStateException] {
      Par.map(spark, Seq(0, 1, 2), 30.seconds) {
        case 0 => 0
        // item 2 fails first in time; item 1 is first in input order
        case 1 => Thread.sleep(200); throw new IllegalStateException("one", root)
        case _ => throw new IllegalArgumentException("two")
      }
    }
    assert(e.getMessage == "one")
    assert(e.getCause eq root)
  }

  test("a wedged item fails with a TimeoutException within the bound; no pool thread outlives it") {
    val never = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val t0 = System.nanoTime
    intercept[TimeoutException] {
      Par.map(spark, Seq(0, 1), 500.millis) {
        case 0 =>
          try never.await() catch { case _: InterruptedException => interrupted.countDown() }
          0
        case i => i
      }
    }
    val elapsed = (System.nanoTime - t0).nanos
    assert(elapsed < 5.seconds, s"timed out after $elapsed")
    assert(interrupted.getCount == 0, "the wedged worker was not interrupted")
    eventually(timeout(5.seconds), interval(50.millis)) {
      assert(parThreads.isEmpty, parThreads.map(_.getName))
    }
  }

  test("workers inherit the caller's job group; the per-call tag stays off the caller") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val tags = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
        tags.add(String.valueOf(js.properties.getProperty("spark.job.tags")))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("par-spec-group", "ParSpec job group")
    try {
      val counts = Par.map(spark, Seq(10L, 20L, 30L), 60.seconds)(n => spark.range(n).count())
      assert(counts == Seq(10L, 20L, 30L))
      org.apache.spark.sql.GraftBus.drain(spark)
      assert(groups.size >= 3)
      assert(groups.asScala.forall(_ == "par-spec-group"), groups)
      assert(tags.asScala.forall(_.contains("graft-par-")), tags)
      assert(!sc.getJobTags().exists(_.startsWith("graft-par-")))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("one pool helper, no unbounded waits: the main sources hold no other pool") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"main sources not found under ${root.toAbsolutePath}")
    def hits(needle: String) = files.filter(p =>
      java.nio.file.Files.readString(p).contains(needle)).map(root.relativize(_).toString)
    assert(hits("Duration.Inf").isEmpty)
    assert(hits("Executors.new") == Seq("graft/engine/Par.scala"))
  }
}
