package graft.gold

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Two writers publishing to one gold root at once. Each publish must
  * still go live whole: the two may not share one standby slot, where
  * one would clean away the other's half-written table or both sets would
  * go live mixed.
  */
class GoldSinkConcurrencySpec extends AnyFunSuite with SparkTestBase {

  test("concurrent publishes of disjoint sets: none throws, the live slot " +
      "always holds exactly one complete set") {
    import spark.implicits._
    val sink = new GoldSink(Files.createTempDirectory("graft_gold_race").toString)
    val rounds = 10
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val torn = new ConcurrentLinkedQueue[String]()
    // Runs after each round, while neither writer publishes.
    val check: Runnable = () => try {
      val live = Paths.get(sink.liveDir.get)
      val listing = Files.list(live)
      val names = try listing.iterator().asScala.map(_.getFileName.toString).toSet
        finally listing.close()
      val whole = names.sizeIs == 1 && names.forall { t =>
        Files.exists(live.resolve(t).resolve("_SUCCESS")) &&
          spark.read.parquet(live.resolve(t).toString).as[String].collect().toSeq == Seq(t)
      }
      if (!whole) torn.add(s"$live holds ${names.mkString("{", ", ", "}")}")
    } catch { case e: Throwable => torn.add(e.toString) }
    val (start, done) = (new CyclicBarrier(2), new CyclicBarrier(2, check))
    val writers = Seq("a", "b").map { t => new Thread(() =>
      (0 until rounds).foreach { _ =>
        start.await()
        try sink.publish(Map(t -> Seq(t).toDF("v"))) catch { case e: Throwable => errs.add(e) }
        done.await()
      }) }
    writers.foreach(_.start()); writers.foreach(_.join())
    val (thrown, tornRounds) = (errs.size, torn.size)
    assert(thrown == 0, s"$thrown publishes threw, first: ${errs.peek()}")
    assert(tornRounds == 0, s"$tornRounds of $rounds checks saw a torn set: ${torn.peek()}")
  }
}
