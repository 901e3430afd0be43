package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import graft.ml.Pq
import graft.ml.Pq.PqModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** An update batch (same-id delete + add) on [[IvfIndex]] and [[PqIndex]]
  * commits ONE generation: stored rows minus (pending tombstones ∪ the
  * batch's deletes), plus the batch's guarded adds. The earlier
  * formulation — tombstone the deletes, [[IvfIndex.compact]] /
  * [[PqIndex.compact]], then assign and append the adds behind the
  * touched-list guard, with a rebuild when the deletes masked every
  * stored row — is kept below as the reference. Every case applies the
  * same batches to two copies of one index, one per formulation, and
  * compares the probes and the live stored rows after each batch.
  *
  * Fixture: one-hot axis clusters with deterministic noise and an
  * axis-aligned coarse codebook, so id `i` is stored in list `i % lists`
  * and a vector along axis `a` assigns to list `a`.
  */
class IndexUpdateEquivalenceSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val dims = 8

  private def axisVec(i: Long, axis: Int, scale: Double): Array[Double] =
    Array.tabulate(dims)(d =>
      (if (d == axis) scale else 0.0) + (((i * 31 + d * 7) % 13) - 6) / 24.0)

  private def batch(rows: (Long, Array[Double], String)*): DataFrame =
    rows.toDF("vec_id", "embedding", "op")

  private def del(id: Long) = (id, null.asInstanceOf[Array[Double]], "delete")

  private def canon(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank").cast("int"), round(col("cos"), 6))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  /** Stored rows as sorted strings (duplicates kept): list, id, vector
    * and, for IVF-PQ, the code.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.select(col("list").cast("long") +: col("neighbor_id") +:
        col("vec").cast("array<double>") +:
        (if (df.columns.contains("pq_code")) Seq(col("pq_code")) else Nil): _*)
      .collect().map(_.toSeq.map {
        case xs: scala.collection.Seq[_] => xs.mkString(",")
        case x => String.valueOf(x)
      }.mkString("|")).toSeq.sorted

  private def copies(live: Seq[String], id: Long): Int =
    live.count(_.split('|')(1) == id.toString)

  // ---------------------------------------------------------------- IVF

  private val ivfLists = 6

  private def ivfVec(i: Long): Array[Double] =
    axisVec(i, (i % ivfLists).toInt, 10.0)

  private val ivfCorpus = (0L until 60L).map(i => (i, ivfVec(i)))
    .toDF("vec_id", "embedding")

  private val ivfCodebook = (0 until ivfLists).map(c =>
      (c.toLong, Array.tabulate(dims)(d => if (d == c) 10.0 else 0.5)))
    .toDF("centroid_id", "centroid")

  private val ivfProbes = (0L until 60L by 5L).map(i => (i, ivfVec(i)))
    .toDF("vec_id", "embedding")

  /** The earlier update path, verbatim in substance. */
  private def ivfReference(path: String, b: DataFrame,
      strictLiveCheck: Boolean): Unit = {
    val adds = b.filter(col("op") === "add")
      .select(col("vec_id"), col("embedding"))
      .groupBy(col("vec_id")).agg(max(col("embedding")).as("embedding"))
    val dels = b.filter(col("op") === "delete").select(col("vec_id"))
    val upsert = !adds.join(dels, Seq("vec_id"), "left_semi").isEmpty
    if (upsert) {
      if (!dels.isEmpty) IvfIndex.delete(spark, path, dels, "vec_id")
      IvfIndex.compact(spark, path)
      if (VersionedTree.tombstones(spark, ivfGen(path)).isDefined) {
        val cb = spark.read.parquet(s"${ivfGen(path)}/centroids")
          .select(col("centroid_id"), col("centroid"))
          .localCheckpoint(eager = true)
        IvfIndex.write(path, adds, "vec_id", "embedding", cb)
        return
      }
    }
    val assigned = Similarity.invertedLists(adds, "vec_id", "embedding",
      IvfIndex.storedCentFrame(spark, path)).localCheckpoint(eager = true)
    val touched = assigned.select(col("__list")).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.nonEmpty) {
      val lists = s"${ivfGen(path)}/lists"
      val tree = spark.read.parquet(lists)
      val fresh0 = assigned.join(
        tree.filter(col("list").isin(touched: _*)).select(col("neighbor_id")),
        Seq("neighbor_id"), "left_anti")
      val fresh =
        if (!strictLiveCheck) fresh0
        else fresh0.join(tree.select(col("neighbor_id")), Seq("neighbor_id"),
          "left_anti")
      fresh.select(col("__list").as("list"), col("neighbor_id"),
          col("__nv").as("vec"), col("__nn").as("vnorm"))
        .repartition(col("list"))
        .write.mode("append").partitionBy("list").parquet(lists)
    }
    if (!upsert && !dels.isEmpty) IvfIndex.delete(spark, path, dels, "vec_id")
  }

  private def ivfProbe(path: String) = canon(IvfIndex.topK(spark, path,
    ivfProbes, "vec_id", "embedding", k = 4, nprobe = 2))

  private def ivfGen(path: String): String =
    s"$path/${IvfIndex.liveVersion(spark, path)}"

  private def ivfLive(path: String): Seq[String] = {
    val gen = ivfGen(path)
    val tree = spark.read.parquet(s"$gen/lists")
    rows(VersionedTree.tombstones(spark, gen)
      .fold(tree)(t => tree.join(t, Seq("neighbor_id"), "left_anti")))
  }

  /** Apply `batches` through both formulations; compare after each. */
  private def ivfEquivalent(batches: Seq[DataFrame],
      corpus: DataFrame = ivfCorpus,
      strictLiveCheck: Boolean = false): Seq[String] = {
    val got = Files.createTempDirectory("ivf_upd_new").toString
    val ref = Files.createTempDirectory("ivf_upd_ref").toString
    Seq(got, ref).foreach(p =>
      IvfIndex.write(p, corpus, "vec_id", "embedding", ivfCodebook))
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfIndex.applyMaintenanceBatch(spark, got, b, "vec_id", "embedding",
        "op", strictLiveCheck = strictLiveCheck)
      ivfReference(ref, b, strictLiveCheck)
      assert(ivfProbe(got) == ivfProbe(ref), s"probes differ after batch $i")
      assert(ivfLive(got) == ivfLive(ref), s"live rows differ after batch $i")
    }
    ivfLive(got)
  }

  // Update of id 8 (stored in list 2) to a new list-2 vector.
  private def ivfUpdate8 = Seq(del(8L), (8L, axisVec(108L, 2, 10.0), "add"))

  test("IVF: an update over tombstones pending from a delete-only batch") {
    val live = ivfEquivalent(Seq(
      batch(del(2L), del(3L)),
      batch(ivfUpdate8 :+ ((9000L, axisVec(9000L, 4, 10.0), "add")): _*)))
    assert(copies(live, 2L) == 0 && copies(live, 8L) == 1 &&
      copies(live, 9000L) == 1)
  }

  test("IVF: an in-batch duplicate add and a delete of a never-stored id") {
    val live = ivfEquivalent(Seq(batch(ivfUpdate8 ++ Seq(
      (9001L, axisVec(9001L, 3, 10.0), "add"),
      (9001L, axisVec(9101L, 3, 10.0), "add"),
      del(424242L)): _*)))
    assert(copies(live, 9001L) == 1)
  }

  test("IVF: an add of a live id whose stored copy sits in a list another " +
    "add touches is dropped") {
    // 13 is stored in list 1; its new vector assigns to list 4, and 9002
    // lands in list 1 — the guard reads list 1 and sees 13.
    val live = ivfEquivalent(Seq(batch(ivfUpdate8 ++ Seq(
      (13L, axisVec(13L, 4, 10.0), "add"),
      (9002L, axisVec(9002L, 1, 10.0), "add")): _*)))
    assert(copies(live, 13L) == 1 && copies(live, 9002L) == 1)
  }

  test("IVF: the same add with its stored copy in an untouched list is " +
    "duplicated by default and dropped under strictLiveCheck") {
    val b = batch(ivfUpdate8 :+ ((13L, axisVec(13L, 4, 10.0), "add")): _*)
    assert(copies(ivfEquivalent(Seq(b)), 13L) == 2)
    assert(copies(ivfEquivalent(Seq(b), strictLiveCheck = true), 13L) == 1)
  }

  test("IVF: an update of every stored row") {
    val live = ivfEquivalent(Seq(batch(del(7L), del(11L),
        (7L, axisVec(7L, 4, 10.0), "add"),
        (11L, axisVec(11L, 5, 10.0), "add"))),
      corpus = ivfCorpus.filter(col("vec_id").isin(7L, 11L)))
    assert(live.size == 2)
  }

  test("IVF: a replayed update batch converges") {
    val b = batch(ivfUpdate8 ++ Seq(del(5L),
      (9003L, axisVec(9003L, 0, 10.0), "add")): _*)
    val live = ivfEquivalent(Seq(b, b))
    assert(copies(live, 8L) == 1 && copies(live, 9003L) == 1 &&
      copies(live, 5L) == 0)
  }

  // ------------------------------------------------------------- IVF-PQ

  private val pqLists = 8

  private def pqVec(i: Long): Array[Double] =
    axisVec(i, (i % pqLists).toInt, 3.0)

  private val pqCorpus = (0L until 64L).map(i => (i, pqVec(i)))
    .toDF("vec_id", "embedding")

  private val pqCodebook = (0 until pqLists).map(c =>
      (c.toLong, Array.tabulate(dims)(d => if (d == c) 3.0 else 0.0)))
    .toDF("centroid_id", "centroid")

  private lazy val pqModel: PqModel = Pq.fit(pqCorpus, "vec_id", "embedding",
    dims = dims, m = 4, k = 4, iterations = 2)

  private val pqProbes = (0L until 64L by 5L).map(i => (i, pqVec(i)))
    .toDF("vec_id", "embedding")

  /** The earlier update path, verbatim in substance. */
  private def pqReference(path: String, b: DataFrame): Unit = {
    val adds = b.filter(col("op") === "add")
      .select(col("vec_id"), col("embedding"))
      .groupBy(col("vec_id")).agg(max(col("embedding")).as("embedding"))
    val dels = b.filter(col("op") === "delete").select(col("vec_id"))
    val upsert = !adds.join(dels, Seq("vec_id"), "left_semi").isEmpty
    if (!dels.isEmpty) PqIndex.delete(spark, path, dels, "vec_id")
    if (upsert) {
      PqIndex.compact(spark, path)
      val gen = s"$path/${PqIndex.liveVersion(spark, path)}"
      if (new java.io.File(s"$gen/tombstones").exists()) {
        val model = PqIndex.readModel(spark, gen)
        val cb = spark.read.parquet(s"$gen/centroids")
          .select(col("centroid_id"), col("centroid"))
          .localCheckpoint(eager = true)
        PqIndex.write(spark, path, adds, "vec_id", "embedding", cb, model)
        return
      }
    }
    if (!adds.isEmpty) {
      val gen = s"$path/${PqIndex.liveVersion(spark, path)}"
      val cent = spark.read.parquet(s"$gen/centroids").select(
        col("centroid_id").as("__cid"), col("centroid").as("__cv"),
        col("cnorm").as("__cn"))
      val assigned = Similarity.invertedLists(adds, "vec_id", "embedding",
        cent).localCheckpoint(eager = true)
      val touched = assigned.select(col("__list")).distinct()
        .collect().map(_.get(0)).toSeq
      if (touched.nonEmpty) {
        val existing = spark.read.parquet(s"$gen/lists")
          .filter(col("list").isin(touched: _*)).select(col("neighbor_id"))
        val fresh = assigned.join(existing, Seq("neighbor_id"), "left_anti")
          .select(col("neighbor_id").as("vec_id"),
            col("__nv").as("embedding"))
        if (!fresh.isEmpty)
          PqIndex.append(spark, path, fresh, "vec_id", "embedding")
      }
    }
  }

  private def pqProbe(path: String) = canon(PqIndex.topK(spark, path,
    pqProbes, "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2))

  private def pqLive(path: String): Seq[String] = {
    val gen = s"$path/${PqIndex.liveVersion(spark, path)}"
    val lists = spark.read.parquet(s"$gen/lists")
    val live =
      if (!new java.io.File(s"$gen/tombstones").exists()) lists
      else lists.join(spark.read.parquet(s"$gen/tombstones"),
        Seq("neighbor_id"), "left_anti")
    rows(live)
  }

  private def pqEquivalent(batches: Seq[DataFrame],
      corpus: DataFrame = pqCorpus): Seq[String] = {
    val got = Files.createTempDirectory("pq_upd_new").toString
    val ref = Files.createTempDirectory("pq_upd_ref").toString
    Seq(got, ref).foreach(p => PqIndex.write(spark, p, corpus, "vec_id",
      "embedding", pqCodebook, pqModel))
    batches.zipWithIndex.foreach { case (b, i) =>
      PqIndex.applyMaintenanceBatch(spark, got, b, "vec_id", "embedding",
        "op")
      pqReference(ref, b)
      assert(pqProbe(got) == pqProbe(ref), s"probes differ after batch $i")
      assert(pqLive(got) == pqLive(ref), s"live rows differ after batch $i")
    }
    pqLive(got)
  }

  // Update of id 10 (stored in list 2) to a new list-2 vector.
  private def pqUpdate10 = Seq(del(10L), (10L, axisVec(110L, 2, 3.0), "add"))

  test("IVF-PQ: an update over tombstones pending from a delete-only batch") {
    val live = pqEquivalent(Seq(
      batch(del(2L), del(3L)),
      batch(pqUpdate10 :+ ((9000L, axisVec(9000L, 4, 3.0), "add")): _*)))
    assert(copies(live, 2L) == 0 && copies(live, 10L) == 1 &&
      copies(live, 9000L) == 1)
  }

  test("IVF-PQ: an in-batch duplicate add and a delete of a never-stored " +
    "id") {
    val live = pqEquivalent(Seq(batch(pqUpdate10 ++ Seq(
      (9001L, axisVec(9001L, 3, 3.0), "add"),
      (9001L, axisVec(9101L, 3, 3.0), "add"),
      del(424242L)): _*)))
    assert(copies(live, 9001L) == 1)
  }

  test("IVF-PQ: an add of a live id whose stored copy sits in a list " +
    "another add touches is dropped") {
    // 13 is stored in list 5; its new vector assigns to list 2, and 9002
    // lands in list 5.
    val live = pqEquivalent(Seq(batch(pqUpdate10 ++ Seq(
      (13L, axisVec(13L, 2, 3.0), "add"),
      (9002L, axisVec(9002L, 5, 3.0), "add")): _*)))
    assert(copies(live, 13L) == 1 && copies(live, 9002L) == 1)
  }

  test("IVF-PQ: the same add with its stored copy in an untouched list is " +
    "duplicated") {
    val live = pqEquivalent(Seq(
      batch(pqUpdate10 :+ ((13L, axisVec(13L, 2, 3.0), "add")): _*)))
    assert(copies(live, 13L) == 2)
  }

  test("IVF-PQ: an update of every stored row") {
    val live = pqEquivalent(Seq(batch(del(7L), del(11L),
        (7L, axisVec(7L, 4, 3.0), "add"),
        (11L, axisVec(11L, 5, 3.0), "add"))),
      corpus = pqCorpus.filter(col("vec_id").isin(7L, 11L)))
    assert(live.size == 2)
  }

  test("IVF-PQ: a replayed update batch converges") {
    val b = batch(pqUpdate10 ++ Seq(del(5L),
      (9003L, axisVec(9003L, 0, 3.0), "add")): _*)
    val live = pqEquivalent(Seq(b, b))
    assert(copies(live, 10L) == 1 && copies(live, 9003L) == 1 &&
      copies(live, 5L) == 0)
  }

  // ------------------------------------------------------------ rollback

  test("rollback of an update batch (retain = 2) restores the pre-batch " +
    "probes, pending tombstones included, in both families") {
    // Deletes 2 and 3 are pending when the update lands; the update
    // deletes 11..30 and re-embeds 11, which moves the probes.
    val pending = batch(del(2L), del(3L))
    def update(scale: Double) = batch((11L until 31L).map(del) :+
      ((11L, axisVec(111L, 3, scale), "add")): _*)

    val ivf = Files.createTempDirectory("ivf_upd_rbk").toString
    IvfIndex.write(ivf, ivfCorpus, "vec_id", "embedding", ivfCodebook)
    IvfIndex.applyMaintenanceBatch(spark, ivf, pending, "vec_id",
      "embedding", "op")
    val ivfBefore = ivfProbe(ivf)
    IvfIndex.applyMaintenanceBatch(spark, ivf, update(10.0),
      "vec_id", "embedding", "op", retain = 2)
    assert(ivfProbe(ivf) != ivfBefore)
    IvfIndex.rollback(spark, ivf)
    assert(ivfProbe(ivf) == ivfBefore)

    val pq = Files.createTempDirectory("pq_upd_rbk").toString
    PqIndex.write(spark, pq, pqCorpus, "vec_id", "embedding", pqCodebook,
      pqModel)
    PqIndex.applyMaintenanceBatch(spark, pq, pending, "vec_id", "embedding",
      "op")
    val pqBefore = pqProbe(pq)
    PqIndex.applyMaintenanceBatch(spark, pq, update(3.0),
      "vec_id", "embedding", "op", retain = 2)
    assert(pqProbe(pq) != pqBefore)
    PqIndex.rollback(spark, pq)
    assert(pqProbe(pq) == pqBefore)
  }
}
