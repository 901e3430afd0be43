package graft.gold

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Latches the spec's UDFs reach from executor tasks. A top-level object
  * is read statically, so tasks share the driver's instances instead of
  * deserialized copies (the suite runs on `local[4]`).
  */
object GoldSinkSpec {
  @volatile var overlap = new CountDownLatch(0)
  @volatile var started = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)
}

class GoldSinkSpec extends AnyFunSuite with SparkTestBase {

  /** One row through `f`, in one partition, so one task per write. */
  private def oneRow(f: UserDefinedFunction) =
    spark.range(0, 1, 1, 1).select(f(col("id")).as("x"))

  /** Tasks of a cancelled job run on until they next check for the kill. */
  private def awaitNoRunningTasks(): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  test("blue/green publish alternates slots and readers see full snapshots") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_gold").toString
    val sink = new GoldSink(root)

    assert(sink.liveDir.isEmpty)
    val v1 = Seq((1, "a")).toDF("k", "v")
    val dir1 = sink.publish(Map("t" -> v1))
    assert(sink.liveDir.contains(dir1))
    assert(spark.read.parquet(s"$dir1/t").count() == 1)

    val v2 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dir2 = sink.publish(Map("t" -> v2))
    assert(dir2 != dir1) // standby slot rebuilt
    assert(sink.liveDir.contains(dir2))
    assert(spark.read.parquet(s"${sink.liveDir.get}/t").count() == 2)

    // third publish swaps back onto the first slot
    val dir3 = sink.publish(Map("t" -> v1))
    assert(dir3 == dir1)
  }

  test("a table dropped from the publish set does not linger from two " +
      "publishes ago") {
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    val root = JFiles.createTempDirectory("graft_goldsink_drop").toString
    val sink = new GoldSink(root)
    val users = Seq((1L, "u")).toDF("id", "name")
    val orders = Seq((1L, 5.0)).toDF("id", "amt")
    sink.publish(Map("users" -> users, "orders" -> orders)) // slot A
    sink.publish(Map("users" -> users, "orders" -> orders)) // slot B
    sink.publish(Map("users" -> users))                     // slot A again
    val live = sink.liveDir.get
    assert(JFiles.exists(Paths.get(live, "users")))
    assert(!JFiles.exists(Paths.get(live, "orders")),
      "retired table served as live from a stale standby")
  }

  test("publish writes its tables at once: each write waits for the other") {
    val sink = new GoldSink(Files.createTempDirectory("graft_gold_overlap").toString)
    GoldSinkSpec.overlap = new CountDownLatch(2)
    // true only if the sibling table's task reached the latch within 30 s:
    // written one after another, the first table would record false.
    val meet = udf { (_: Long) =>
      GoldSinkSpec.overlap.countDown()
      GoldSinkSpec.overlap.await(30, TimeUnit.SECONDS)
    }.asNondeterministic()
    val live = sink.publish(Map("a" -> oneRow(meet), "b" -> oneRow(meet)))
    for (t <- Seq("a", "b"))
      assert(spark.read.parquet(s"$live/$t").collect().map(_.getBoolean(0)).toSeq == Seq(true),
        s"table $t was written while its sibling was not")
  }

  test("a failed write rethrows, cancels its sibling and leaves the live " +
      "slot untouched; the next publish clears the failed attempt") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_gold_fail").toString
    val sink = new GoldSink(root)
    val live = sink.publish(Map("t" -> Seq((1, "a")).toDF("k", "v")))
    val slot = sink.currentSlot

    GoldSinkSpec.started = new CountDownLatch(1)
    GoldSinkSpec.release = new CountDownLatch(1)
    val blocked = udf { (_: Long) =>
      GoldSinkSpec.started.countDown()
      GoldSinkSpec.release.await(60, TimeUnit.SECONDS)
    }.asNondeterministic()
    val failing = udf { (id: Long) =>
      GoldSinkSpec.started.await(30, TimeUnit.SECONDS)
      if (id >= 0) throw new IllegalStateException("gold table write failed")
      id
    }.asNondeterministic()

    val t0 = System.nanoTime()
    val e = try intercept[Exception] {
      sink.publish(Map("blocked" -> oneRow(blocked), "failing" -> oneRow(failing)))
    } finally GoldSinkSpec.release.countDown()
    val secs = (System.nanoTime() - t0) / 1e9

    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("gold table write failed")), e)
    assert(secs < 30, s"publish waited $secs s for the blocked sibling")
    assert(e.getSuppressed.exists(s =>
      String.valueOf(s.getMessage).toLowerCase.contains("cancel")),
      e.getSuppressed.map(_.getMessage).mkString("; "))
    assert(sink.currentSlot == slot)
    assert(sink.liveDir.contains(live))
    assert(spark.read.parquet(s"$live/t").as[(Int, String)].collect().toSeq == Seq((1, "a")))

    awaitNoRunningTasks()
    val next = sink.publish(Map("t" -> Seq((1, "a"), (2, "b")).toDF("k", "v")))
    assert(next != live)
    assert(sink.liveDir.contains(next))
    assert(spark.read.parquet(s"$next/t").count() == 2)
    val listing = Files.list(Paths.get(next))
    val children = try listing.iterator().asScala.map(_.getFileName.toString).toSet
      finally listing.close()
    assert(children == Set("t"), "a directory of the failed attempt survived")
  }
}
