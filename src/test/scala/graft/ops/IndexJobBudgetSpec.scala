package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkTestBase
import graft.ml.Pq
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IVF-family maintenance and probe paths are bound by how many
  * Spark jobs the driver runs one after another, so their job counts
  * are pinned: an update batch commits one generation from one write,
  * a probe frame is built without a schema-inference job, and the
  * tree an update leaves behind is one data file per list with no
  * tombstones (what the next probe reads).
  */
class IndexJobBudgetSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // Jobs of one update batch as measured on this fixture: the classify
  // aggregate's two, then one plan's broadcasts, exchanges and write;
  // IVF-PQ adds the model collect.
  private val IvfBudget = 9
  private val PqBudget = 10

  private val dims = 8

  private def vec(i: Long, axis: Int): Array[Double] =
    Array.tabulate(dims)(d =>
      (if (d == axis) 3.0 else 0.0) + (((i * 31 + d * 7) % 13) - 6) / 24.0)

  private val corpus = (0L until 96L).map(i => (i, vec(i, (i % 8).toInt)))
    .toDF("vec_id", "embedding")

  private val codebook = (0 until 8).map(c =>
      (c.toLong, Array.tabulate(dims)(d => if (d == c) 3.0 else 0.0)))
    .toDF("centroid_id", "centroid")

  private val probes = corpus.filter(col("vec_id") % 10 === 0)

  private def del(id: Long) = (id, null.asInstanceOf[Array[Double]], "delete")

  // Appends (small files in touched lists), then pending deletes, then
  // the update batch under test: the update must fold all of it.
  private val appendBatch = (200L until 208L)
    .map(i => (i, vec(i, (i % 8).toInt), "add"))
    .toDF("vec_id", "embedding", "op")
  private val deleteBatch = Seq(del(1L), del(2L))
    .toDF("vec_id", "embedding", "op")
  private val updateBatch = ((300L until 304L)
      .map(i => (i, vec(i, (i % 8).toInt), "add")) ++
    Seq(del(5L), del(9L), (9L, vec(109L, 1), "add")))
    .toDF("vec_id", "embedding", "op")

  private def jobs(f: => Unit): Int = JobCount(spark.sparkContext)(f)._2

  /** Data files per `list=` dir under `tree`. */
  private def filesPerList(tree: String): Seq[Int] =
    new File(tree).listFiles().filter(_.getName.startsWith("list="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq

  private def pqModel = Pq.fit(corpus, "vec_id", "embedding", dims = dims,
    m = 4, k = 4, iterations = 2)

  private def batches(apply: DataFrame => Unit): Int = {
    apply(appendBatch)
    apply(deleteBatch)
    jobs(apply(updateBatch))
  }

  test("IVF: an update batch runs within its job budget and leaves one " +
    "file per list, no tombstones; a probe frame builds with no job") {
    val path = Files.createTempDirectory("ivf_budget").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val n = batches(b => IvfIndex.applyMaintenanceBatch(spark, path, b,
      "vec_id", "embedding", "op"))
    assert(n <= IvfBudget, s"update batch ran $n jobs (budget $IvfBudget)")
    val gen = s"$path/${IvfIndex.liveVersion(spark, path)}"
    assert(filesPerList(s"$gen/lists").nonEmpty &&
      filesPerList(s"$gen/lists").forall(_ == 1), filesPerList(s"$gen/lists"))
    assert(!new File(s"$gen/tombstones").exists())
    val built = jobs(IvfIndex.topK(spark, path, probes, "vec_id", "embedding",
      k = 3, nprobe = 2): Unit)
    assert(built == 0, s"building the IVF probe frame ran $built jobs")
  }

  test("IVF-PQ: an update batch runs within its job budget and leaves one " +
    "file per list, no tombstones; a probe frame builds with one job") {
    val path = Files.createTempDirectory("pq_budget").toString
    PqIndex.write(spark, path, corpus, "vec_id", "embedding", codebook,
      pqModel)
    val n = batches(b => PqIndex.applyMaintenanceBatch(spark, path, b,
      "vec_id", "embedding", "op"))
    assert(n <= PqBudget, s"update batch ran $n jobs (budget $PqBudget)")
    val gen = s"$path/${PqIndex.liveVersion(spark, path)}"
    assert(filesPerList(s"$gen/lists").nonEmpty &&
      filesPerList(s"$gen/lists").forall(_ == 1), filesPerList(s"$gen/lists"))
    assert(!new File(s"$gen/tombstones").exists())
    // The one job is the model collect: the PQ codebooks are driver-side.
    val built = jobs(PqIndex.topK(spark, path, probes, "vec_id", "embedding",
      k = 3, candidateK = 12, nprobe = 2): Unit)
    assert(built == 1, s"building the IVF-PQ probe frame ran $built jobs")
  }
}
