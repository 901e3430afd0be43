package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase
import graft.ops.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drift-triggered IVF maintenance must stay QUIET on in-distribution
  * batches, FIRE exactly once when an off-codebook cohort arrives
  * (codebook resampled from the live rows, full rebuild), re-reference
  * the monitor on the rebuilt tree (the same cohort no longer fires),
  * and leave the maintained index equal to a scratch build with the
  * post-refit codebook.
  */
class StreamingIvfRefitSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val dims = 8

  private def vec(i: Long, axis: Int): Array[Double] =
    Array.tabulate(dims)(d =>
      (if (d == axis) 10.0 else 0.0) + ((i * 31 + d * 7) % 13) * 0.1)

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"), col("rank").cast("int"),
        round(col("cos"), 9))
      .collect().map(_.toSeq).toSet

  test("quiet on in-distribution; one refit on an off-codebook cohort; " +
    "re-referenced monitor quiet on the same cohort; maintained index " +
    "equals a post-refit scratch build") {
    val base = (0L until 240L).map(i => (i, vec(i, (i % 6).toInt)))
    val codebook = (0 until 6).map(c =>
      (c.toLong, Array.tabulate(dims)(d => if (d == c) 10.0 else 0.5)))
      .toDF("centroid_id", "centroid")
    val path = Files.createTempDirectory("ivf_refit_stream").toString
    IvfIndex.write(path, frame(base), "vec_id", "embedding", codebook)

    val refits = new java.util.concurrent.atomic.AtomicInteger(0)
    val mem = MemoryStream[(Long, Array[Double], String)](spark)
    val stream = mem.toDF().toDF("vec_id", "embedding", "op")
    val ckpt = Files.createTempDirectory("ivf_refit_ckpt").toString
    val q = StreamingIvfRefit.sink(stream, path, ckpt,
      "vec_id", "embedding", "op", threshold = 1.5, centroidMod = 10,
      onRefit = (_, _) => { refits.incrementAndGet(); () }).start()

    // Batch 0: same clusters, fresh ids — maintained, no refit.
    val addsBase = (1000L until 1030L).map(i => (i, vec(i, (i % 6).toInt)))
    mem.addData(addsBase.map { case (i, v) => (i, v, "add") }: _*)
    q.processAllAvailable()
    assert(refits.get() == 0, "in-distribution batch fired a refit")
    def lists() = spark.read.parquet(
      s"$path/${IvfIndex.liveVersion(spark, path)}/lists")
    assert(lists().count() == 270, "batch 0 must append through")

    // Batch 1: one-hot on the ownerless axis — fires exactly one refit;
    // its ids include multiples of 10, so the resampled codebook now
    // has cells in the drifted region.
    val drift1 = (2000L until 2030L).map(i => (i, vec(i, 7)))
    mem.addData(drift1.map { case (i, v) => (i, v, "add") }: _*)
    q.processAllAvailable()
    assert(refits.get() == 1, "off-codebook batch must fire one refit")

    // Batch 2: MORE of the drifted cohort — the monitor is referenced
    // on the rebuilt tree now, so it stays quiet and the rows append.
    val drift2 = (2100L until 2130L).map(i => (i, vec(i, 7)))
    mem.addData(drift2.map { case (i, v) => (i, v, "add") }: _*)
    q.processAllAvailable()
    assert(refits.get() == 1,
      "the drifted cohort's own distribution re-fired after re-reference")
    q.stop()
    assert(lists().count() == 330)

    // The maintained index equals a scratch build over ALL live rows
    // with the refit-TIME codebook (base + batch 0 + batch 1 live rows
    // under the %10 rule; batch 2 appended under those frozen cells).
    val refitCorpus = base ++ addsBase ++ drift1
    val cent = frame(refitCorpus)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val all = frame(refitCorpus ++ drift2)
    val scratch = Files.createTempDirectory("ivf_refit_scr2").toString
    IvfIndex.write(scratch, all, "vec_id", "embedding", cent)
    val probes = frame(Seq((1L, vec(1L, 1)), (1001L, vec(1001L, 5)),
      (2005L, vec(2005L, 7)), (2115L, vec(2115L, 7))))
    val want = canon(IvfIndex.topK(spark, scratch, probes,
      "vec_id", "embedding", k = 3, nprobe = 2))
    val got = canon(IvfIndex.topK(spark, path, probes,
      "vec_id", "embedding", k = 3, nprobe = 2))
    assert(got == want && want.nonEmpty)
    // The drifted probe is served by its own cohort's cells now.
    assert(want.exists(r => r.head == 2005L &&
      r(1).asInstanceOf[Long] >= 2000L))
  }
}
