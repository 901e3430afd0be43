package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generation branching ([[VersionedTree.branch]] / [[IvfIndex.branch]]):
  * a branch is a hard-linked SNAPSHOT of the live generation that
  * mutates as an independent single-writer tree — deletes, maintenance
  * batches and compactions on the branch must never move the base (the
  * experiment/tenant snapshot-of-a-serving-index contract), the branch
  * must carry the base's full live state INCLUDING pending tombstones,
  * and a torn branch must stay unresolvable (commit marker last).
  *
  * Fixture: the GraphIndexDeleteSpec cluster corpus (6 clusters of 8
  * over one-hot axes) — small enough to brute-check, structured enough
  * that deletes visibly change probe results.
  */
class IndexBranchSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def vec(i: Long): Array[Double] =
    Array.tabulate(6)(d =>
      (if (d == (i % 6).toInt) 4.0 else 0.0) +
        (((i * 31 + d * 7) % 11) - 5) / 40.0)

  private def corpusDf(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private val all = 0L until 48L

  test("GraphIndex.branch: delete + compact on the branch never move " +
    "the base; the branch carries pending tombstones; torn branches " +
    "stay unresolvable") {
    val base = Files.createTempDirectory("gidx_base").toString
    val br = Files.createTempDirectory("gidx_branch").toString + "/t"
    GraphIndex.write(spark, base, corpusDf(all), "vec_id", "embedding",
      k = 5, rounds = 8, simPrecision = 6)
    // Pending tombstone on the BASE before branching: the snapshot must
    // see exactly what the base's readers see.
    GraphIndex.delete(spark, base, Seq(0L).toDF("vec_id"), "vec_id")
    def edges(p: String): Set[(Long, Long)] =
      GraphIndex.edges(spark, p).select("id", "nbr")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseEdges = edges(base)
    assert(!baseEdges.exists(e => e._1 == 0L || e._2 == 0L))

    // A torn earlier branch attempt (no commit marker) must be numbered
    // past, not resurrected.
    new java.io.File(s"$br/graph_v1/nodes").mkdirs()
    GraphIndex.branch(spark, base, br)
    assert(GraphIndex.liveVersion(spark, br) == "graph_v2",
      "branch must number past the torn tree")
    assert(edges(br) == baseEdges, "a fresh branch must read as the base")

    // Hard-link reality (checked BEFORE any branch mutation — compact
    // rewrites the branch's generation): at least one parquet file of
    // the fresh branch shares an inode with the base.
    def inodes(root: String): Set[Any] = {
      val out = scala.collection.mutable.Set.empty[Any]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          out += java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
      walk(new java.io.File(root)); out.toSet
    }
    assert(inodes(s"$base/graph_v1")
      .intersect(inodes(s"$br/graph_v2")).nonEmpty,
      "branch copied bytes instead of linking")

    // Mutate the branch: delete two more ids and COMPACT (fold+repair).
    GraphIndex.delete(spark, br, Seq(6L, 12L).toDF("vec_id"), "vec_id")
    GraphIndex.compact(spark, br, k = 5, rounds = 8, simPrecision = 6)
    val brEdges = edges(br)
    assert(!brEdges.exists(e => Set(0L, 6L, 12L)(e._1) ||
      Set(0L, 6L, 12L)(e._2)))
    assert(edges(base) == baseEdges, "branch mutation leaked into the base")
    assert(GraphIndex.liveVersion(spark, base) == "graph_v1",
      "branch compact must not commit a base generation")

    // And the branch survives the BASE being deleted outright (links
    // keep the shared bytes alive — unlink, not truncate).
    LocalFs.deleteRecursively(new java.io.File(base))
    assert(edges(br) == brEdges, "branch lost data when the base died")
  }

  test("IvfIndex.branch: tombstones travel with the snapshot; branch " +
    "deletes stay private; the commit marker lands last") {
    val base = Files.createTempDirectory("ivf_base").toString
    val br = Files.createTempDirectory("ivf_branch").toString + "/t"
    val c = corpusDf(all)
    val cent = c.filter(pmod(col("vec_id"), lit(8)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    IvfIndex.write(base, c, "vec_id", "embedding", cent)
    IvfIndex.delete(spark, base, Seq(1L).toDF("vec_id"), "vec_id")
    def probe(p: String): Set[(Long, Long)] =
      IvfIndex.topK(spark, p, c.filter(col("vec_id") < 6),
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseProbe = probe(base)
    assert(!baseProbe.exists(_._2 == 1L), "base tombstone must mask id 1")

    IvfIndex.branch(spark, base, br)
    assert(probe(br) == baseProbe,
      "branch must carry the base's pending tombstones")
    IvfIndex.delete(spark, br, Seq(2L, 7L).toDF("vec_id"), "vec_id")
    val brProbe = probe(br)
    assert(!brProbe.exists(r => r._2 == 2L || r._2 == 7L))
    assert(probe(base) == baseProbe, "branch delete leaked into the base")

    // Torn-branch invisibility: a clone that dies before the
    // _GRAFT_COMMIT marker leaves no resolvable generation at the
    // destination.
    val torn = Files.createTempDirectory("ivf_torn").toString + "/t"
    val live = spark.read.parquet( // force base alive
      s"$base/${IvfIndex.liveVersion(spark, base)}/centroids")
    assert(live.count() > 0)
    // Simulate: clone everything, then remove the marker the real
    // branch writes LAST.
    IvfIndex.branch(spark, base, torn)
    val gen = new java.io.File(torn).listFiles()
      .filter(_.getName.startsWith("ivf_v")).head
    assert(new java.io.File(gen, "_GRAFT_COMMIT").exists())
    new java.io.File(gen, "_GRAFT_COMMIT").delete()
    // Nothing is committed: a versioned-but-markerless generation must
    // not resolve.
    assertThrows[Exception](probe(torn))
  }

  test("MaxSimIndex.branch: branch deletes stay private (the fourth " +
    "family's branch surface)") {
    val base = Files.createTempDirectory("ms_base").toString
    val br = Files.createTempDirectory("ms_branch").toString + "/t"
    val toks = (for { i <- 0L until 24L; p <- 0 until 2 }
      yield (i, p, vec(i).slice(3 * p, 3 * p + 3)))
      .toDF("doc_id", "pos", "tv")
    MaxSimIndex.write(spark, base, toks, "doc_id", "pos", "tv",
      dims = 3, numPlanes = 3, tables = 2)
    val probes = toks.filter(col("doc_id") < 2)
    def topDocs(p: String): Set[(Long, Long)] =
      MaxSimIndex.topK(spark, p, probes, "doc_id", "pos", "tv",
          k = 3, tokenK = 4, simPrecision = 6)
        .select("query_id", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseWant = topDocs(base)
    MaxSimIndex.branch(spark, base, br)
    assert(topDocs(br) == baseWant)
    MaxSimIndex.delete(spark, br,
      (0L until 24L).filter(_ % 3 == 1).toDF("doc_id"), "doc_id")
    assert(topDocs(br) != baseWant, "branch delete had no effect")
    assert(!topDocs(br).exists(_._2 % 3 == 1))
    assert(topDocs(base) == baseWant, "branch delete leaked into the base")
  }
}
