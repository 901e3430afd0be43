package graft.ops

import java.io.File
import java.nio.file.Files

import graft.SparkTestBase
import graft.ml.Pq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two inverted-list index families, [[IvfIndex]] and [[PqIndex]],
  * run one lifecycle: the same script of deletes, appends, compactions
  * and rollbacks must behave identically on both.
  *   (a) a delete lands only stored, not-yet-tombstoned ids, so a
  *       replayed delete and a delete of a never-stored id append no
  *       tombstone rows;
  *   (b) compact always rewrites: after an append it leaves exactly one
  *       data file per `list=` dir, with probes unchanged;
  *   (c) compact consumes the mask it folds, so delete → compact(retain
  *       = 2) → rollback brings the deleted ids back.
  */
class ListIndexLifecycleSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def vec(i: Long): Array[Double] = {
    val c = (i % 8).toInt
    Array.tabulate(16)(d =>
      (if (d == 2 * c) 3.0 else 0.0) + (((i * 31 + d * 7) % 11) - 5) / 20.0)
  }

  private val corpus: DataFrame =
    (0L until 96L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private val codebook = corpus.filter(pmod(col("vec_id"), lit(12)) === 0)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))

  private val probes = corpus.filter(pmod(col("vec_id"), lit(7)) === 0)

  // Never a centroid id (those are ≡ 0 mod 12).
  private val doomed = corpus.filter(pmod(col("vec_id"), lit(4)) === 1)
    .select("vec_id")

  /** One family's lifecycle surface, as the script drives it. */
  private final class Family(
      val name: String,
      val write: (String, DataFrame) => Unit,
      val append: (String, DataFrame) => Unit,
      val delete: (String, DataFrame) => Unit,
      val compact: (String, Int) => Unit,
      val rollback: String => Unit,
      val liveVersion: String => String,
      val probe: String => DataFrame)

  private lazy val pqModel = Pq.fit(corpus, "vec_id", "embedding",
    dims = 16, m = 4, k = 4, iterations = 2)

  private val families = Seq(
    new Family("IvfIndex",
      (p, c) => IvfIndex.write(p, c, "vec_id", "embedding", codebook),
      (p, d) => IvfIndex.append(spark, p, d, "vec_id", "embedding"),
      (p, ids) => IvfIndex.delete(spark, p, ids, "vec_id"),
      (p, r) => IvfIndex.compact(spark, p, retain = r),
      p => IvfIndex.rollback(spark, p): Unit,
      p => IvfIndex.liveVersion(spark, p),
      p => IvfIndex.topK(spark, p, probes, "vec_id", "embedding", k = 3,
        nprobe = 2)),
    new Family("PqIndex",
      (p, c) => PqIndex.write(spark, p, c, "vec_id", "embedding", codebook,
        pqModel),
      (p, d) => PqIndex.append(spark, p, d, "vec_id", "embedding"),
      (p, ids) => PqIndex.delete(spark, p, ids, "vec_id"),
      (p, r) => PqIndex.compact(spark, p, retain = r),
      p => PqIndex.rollback(spark, p),
      p => PqIndex.liveVersion(spark, p),
      p => PqIndex.topK(spark, p, probes, "vec_id", "embedding", k = 3,
        candidateK = 12, nprobe = 2)))

  private def canon(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int"), round(col("cos"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet

  /** Tombstone rows of the live generation (0 when it has none). */
  private def tombstoneRows(f: Family, path: String): Long = {
    val dir = s"$path/${f.liveVersion(path)}/tombstones"
    if (new File(dir).exists()) spark.read.parquet(dir).count() else 0L
  }

  /** Data files per `list=` dir of the live generation. */
  private def filesPerList(f: Family, path: String): Seq[Int] =
    new File(s"$path/${f.liveVersion(path)}/lists").listFiles()
      .filter(_.getName.startsWith("list="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq

  families.foreach { f =>
    test(s"${f.name}: a replayed delete and a delete of a never-stored " +
      "id append no tombstone rows") {
      val path = Files.createTempDirectory(s"lifecycle_a_${f.name}").toString
      f.write(path, corpus)
      f.delete(path, doomed)
      val stored = doomed.count()
      assert(tombstoneRows(f, path) == stored)
      val masked = canon(f.probe(path))
      f.delete(path, doomed)
      f.delete(path, Seq(424242L).toDF("vec_id"))
      assert(tombstoneRows(f, path) == stored,
        "a replayed or never-stored delete landed tombstone rows")
      assert(canon(f.probe(path)) == masked)
    }

    test(s"${f.name}: append then compact leaves one data file per list " +
      "with probes unchanged") {
      val path = Files.createTempDirectory(s"lifecycle_b_${f.name}").toString
      f.write(path, corpus.filter(pmod(col("vec_id"), lit(2)) === 0))
      f.append(path, corpus.filter(pmod(col("vec_id"), lit(2)) === 1))
      assert(filesPerList(f, path).exists(_ > 1),
        "fixture: the append must add files to some list")
      val want = canon(f.probe(path))
      val before = f.liveVersion(path)
      f.compact(path, 1)
      assert(f.liveVersion(path) != before, "compact committed nothing")
      val files = filesPerList(f, path)
      assert(files.nonEmpty && files.forall(_ == 1), files)
      assert(canon(f.probe(path)) == want && want.nonEmpty)
    }

    test(s"${f.name}: delete, compact(retain = 2), rollback brings the " +
      "deleted ids back") {
      val path = Files.createTempDirectory(s"lifecycle_c_${f.name}").toString
      f.write(path, corpus)
      val pristine = canon(f.probe(path))
      f.delete(path, doomed)
      val masked = canon(f.probe(path))
      assert(masked != pristine, "fixture: the delete must move probes")
      f.compact(path, 2)
      assert(canon(f.probe(path)) == masked)
      f.rollback(path)
      assert(canon(f.probe(path)) == pristine,
        "rollback of delete + compact kept the deleted ids masked")
    }
  }
}
