package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase
import graft.ops.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming IVF maintenance (SURVEY-beyond surface): a MemoryStream of
  * add/delete ops applied through the foreachBatch sink must leave the
  * SAME index a from-scratch batch build over the surviving corpus
  * would, replays must be no-ops, and delete → compact → re-add must
  * resurrect an id.
  */
class StreamingIvfMaintenanceSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // Deterministic 8-dim corpus: 3 coarse directions as centroids.
  private def vec(i: Long): Array[Float] =
    Array.tabulate(8)(d =>
      (if (d == (i % 3)) 4.0f else 0.0f) + ((i * 13 + d * 5) % 7) / 10.0f)

  private def corpusDf(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def centroids = Seq(0L, 1L, 2L)
    .map(i => (i, Array.tabulate(8)(d => if (d == i) 4.0f else 0.0f)))
    .toDF("centroid_id", "centroid")

  private def probe(path: String, ids: Seq[Long], k: Int = 3) =
    IvfIndex.topK(spark, path, corpusDf(ids), "vec_id", "embedding",
        k = k, nprobe = 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2) + 0))
      .sortBy(x => (x._1, x._3)).toSeq

  private def liveRows(path: String): Long =
    // Count every visible row in the live lists (masked-by-tombstone
    // included) — the replay test's "nothing appended twice" check.
    spark.read.parquet(
      s"$path/${IvfIndex.liveVersion(spark, path)}/lists").count()

  test("stream-built index == batch rebuild; replay is a no-op; compact resurrects") {
    val path = Files.createTempDirectory("graft_ivf_stream").toString
    IvfIndex.write(path, corpusDf(3L to 12L), "vec_id", "embedding", centroids)

    val w = StreamingIvfMaintenance.writer(path, "vec_id", "embedding", "op")
    def batch(rows: Seq[(Long, Array[Float], String)]): DataFrame =
      rows.toDF("vec_id", "embedding", "op")

    // Batch 0: add 13..17 (one id duplicated in-batch), delete 5.
    val b0 = batch((13L to 17L).map(i => (i, vec(i), "add")) ++
      Seq((14L, vec(14L), "add"), (5L, vec(5L), "delete")))
    w(b0, 0L)
    val afterB0 = probe(path, Seq(3L, 7L, 13L))
    val rowsAfterB0 = liveRows(path)

    // Replay the same micro-batch (crash before checkpoint advanced):
    // index must not change — no duplicate appends, no new tombstone
    // effect.
    w(b0, 0L)
    assert(liveRows(path) == rowsAfterB0, "replayed batch appended rows")
    assert(probe(path, Seq(3L, 7L, 13L)) == afterB0)

    // Equivalence: from-scratch build over the surviving corpus
    // (3..17 minus 5) probes identically.
    val ref = Files.createTempDirectory("graft_ivf_ref").toString
    IvfIndex.write(ref, corpusDf((3L to 17L).filter(_ != 5L)),
      "vec_id", "embedding", centroids)
    assert(probe(path, Seq(3L, 7L, 13L)) == probe(ref, Seq(3L, 7L, 13L)))

    // Deleted id is masked at probe time (id 8 shares id 5's Voronoi
    // cell and k=6 covers the whole cell, so a live 5 MUST appear — the
    // negative check is meaningful, and the resurrect check below proves
    // it by finding 5 through the identical probe).
    assert(!probe(path, Seq(8L), k = 6).exists(_._2 == 5L))

    // Tombstoned id stays masked if re-added before compact (documented
    // terminal-until-compact contract)...
    w(batch(Seq((5L, vec(5L), "add"))), 1L)
    assert(!probe(path, Seq(8L), k = 6).exists(_._2 == 5L))
    // ...then compact folds the tombstone and a re-add resurrects.
    IvfIndex.compact(spark, path)
    w(batch(Seq((5L, vec(5L), "add"))), 2L)
    assert(probe(path, Seq(8L), k = 6).exists(_._2 == 5L))
  }

  test("MemoryStream end to end through the sink") {
    val path = Files.createTempDirectory("graft_ivf_stream2").toString
    val ckpt = Files.createTempDirectory("graft_ivf_ckpt").toString
    IvfIndex.write(path, corpusDf(3L to 10L), "vec_id", "embedding", centroids)

    val mem = MemoryStream[(Long, Array[Float], String)](spark)
    val stream = mem.toDF().toDF("vec_id", "embedding", "op")
    val q = StreamingIvfMaintenance.sink(stream, path, ckpt,
      "vec_id", "embedding", "op").start()
    mem.addData((11L, vec(11L), "add"), (12L, vec(12L), "add"))
    q.processAllAvailable()
    mem.addData((4L, vec(4L), "delete"))
    q.processAllAvailable()
    q.stop()

    val ref = Files.createTempDirectory("graft_ivf_ref2").toString
    IvfIndex.write(ref, corpusDf((3L to 12L).filter(_ != 4L)),
      "vec_id", "embedding", centroids)
    assert(probe(path, Seq(3L, 11L)) == probe(ref, Seq(3L, 11L)))
  }

  test("strict live check through the sink: a re-embedded live id that " +
    "assigns elsewhere is dropped, not duplicated") {
    val path = Files.createTempDirectory("graft_ivf_strict").toString
    IvfIndex.write(path, corpusDf(3L to 10L), "vec_id", "embedding",
      centroids)
    // id 3 is stored under direction 0 (3 % 3); the re-embedded vector
    // points along direction 1 — the default guard's touched lists
    // never see the stored copy.
    val reembedded = vec(4L) // 4 % 3 == 1
    val w = StreamingIvfMaintenance.writer(path, "vec_id", "embedding",
      "op", strictLiveCheck = true)
    w(Seq((3L, reembedded, "add")).toDF("vec_id", "embedding", "op"), 0L)
    val copies = spark.read.parquet(
        s"$path/${IvfIndex.liveVersion(spark, path)}/lists")
      .filter(col("neighbor_id") === 3L).count()
    assert(copies == 1L, s"live id duplicated under strict mode: $copies")
  }
}
