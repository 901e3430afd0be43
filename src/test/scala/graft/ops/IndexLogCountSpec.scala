package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The "already stored, skipped" counts of [[GraphIndex]] maintenance and
  * [[MaxSimIndex]] appends feed only a log line, so they are observed on
  * the eager checkpoint that already runs rather than counted by jobs of
  * their own: a replayed batch's job count is pinned, and the line must
  * still be printed.
  */
class IndexLogCountSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // Jobs of a fully replayed call on these fixtures, as measured. A
  // `count()` is two jobs under adaptive execution and `isEmpty` one, so
  // counting with jobs of their own would read 7 and 10.
  private val GraphReplayJobs = 4
  private val MaxSimReplayJobs = 8

  private def stderrOf(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try f finally System.setErr(old)
    buf.toString("UTF-8")
  }

  private def vec(i: Long): Array[Double] =
    Array.tabulate(6)(d =>
      (if (d == (i % 6).toInt) 4.0 else 0.0) + (((i * 31 + d * 7) % 11) - 5) / 40.0)

  test("GraphIndex: a replayed maintenance batch runs no count job and " +
    "still logs the ignored adds") {
    val corpus = (0L until 24L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("gidx_log").toString
    GraphIndex.write(spark, path, corpus, "vec_id", "embedding", k = 3,
      rounds = 4, simPrecision = 6)
    val v = GraphIndex.liveVersion(spark, path)
    val replay = corpus.filter(col("vec_id") < 5)
    var jobs = 0
    val err = stderrOf {
      jobs = JobCount(spark.sparkContext)(GraphIndex.applyMaintenanceBatch(
        spark, path, replay, "vec_id", "embedding", k = 3, rounds = 4,
        simPrecision = 6))._2
    }
    assert(err.contains("GraphIndex.applyMaintenanceBatch: 5 add(s) for " +
      "already-stored ids ignored"), err)
    assert(GraphIndex.liveVersion(spark, path) == v, "replay wrote a generation")
    assert(jobs <= GraphReplayJobs, s"$jobs jobs")
  }

  test("MaxSimIndex: a replayed append runs no count job and still logs " +
    "the skipped rows") {
    val toks = (for (i <- 0L until 12L; t <- 0 until 3) yield
      (i, t, Array.tabulate(12)(d =>
        (if (d == (i % 4).toInt * 3 + t) 3.0 else 0.0) + ((i * 7 + d) % 5) / 20.0)))
      .toDF("id", "pos", "tv")
    val path = Files.createTempDirectory("maxsim_log").toString
    MaxSimIndex.write(spark, path, toks, "id", "pos", "tv", dims = 12,
      numPlanes = 3, tables = 2)
    val replay = toks.filter(col("id") < 2)
    var jobs = 0
    val err = stderrOf {
      jobs = JobCount(spark.sparkContext)(
        MaxSimIndex.append(spark, path, replay, "id", "pos", "tv"))._2
    }
    // 2 documents × 3 tokens × 2 tables.
    assert(err.contains("MaxSimIndex.append: 12 already-stored token row(s) " +
      "skipped"), err)
    assert(jobs <= MaxSimReplayJobs, s"$jobs jobs")
  }
}
