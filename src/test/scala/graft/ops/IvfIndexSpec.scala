package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF index must serve probe batches with EXACTLY the rows
  * the inline ivfTopKWith produces on the same codebook, lay the lists
  * out partition-pruned by Voronoi cell, and amortize one build across
  * many probe batches.
  */
class IvfIndexSpec extends AnyFunSuite with SparkTestBase {

  private val dims = 8

  // Deterministic synthetic vectors: 240 corpus rows in 6 loose clusters.
  private def corpus: DataFrame = {
    import spark.implicits._
    (0 until 240).map { i =>
      val c = i % 6
      val v = Array.tabulate(dims)(d =>
        (if (d == c) 10.0 else 0.0) + ((i * 31 + d * 7) % 13) * 0.1)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def codebook: DataFrame = {
    import spark.implicits._
    (0 until 6).map { c =>
      (c.toLong, Array.tabulate(dims)(d => if (d == c) 10.0 else 0.5))
    }.toDF("centroid_id", "centroid")
  }

  private def probes: DataFrame = corpus.filter(col("vec_id") % 40 === 0)

  /** The live generation's list tree. */
  private def liveLists(path: String): String =
    s"$path/${IvfIndex.liveVersion(spark, path)}/lists"

  /** Every tombstones dir under `path`, across generations. */
  private def tombstoneDirs(path: String): Seq[java.io.File] =
    new java.io.File(path).listFiles().toSeq.filter(_.isDirectory)
      .flatMap(g => g.listFiles().toSeq)
      .filter(_.getName == "tombstones")

  private def canon(df: DataFrame): Set[Seq[Any]] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank").cast("int"), round(col("cos"), 9))
      .collect().map(_.toSeq).toSet

  test("persisted probe equals the inline ivfTopKWith, build once") {
    val path = Files.createTempDirectory("ivf_index").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val want = canon(Similarity.ivfTopKWith(probes, corpus, "vec_id",
      "embedding", k = 4, codebook, nprobe = 2))
    val got = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("lists land partitioned by Voronoi cell (one directory per list)") {
    val path = Files.createTempDirectory("ivf_layout").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val dirs = new java.io.File(liveLists(path)).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("list="))
    assert(dirs.nonEmpty && dirs.forall(_.matches("list=\\d+")), dirs.toSeq)
    // Every corpus vector exactly once across all lists.
    val total = spark.read.parquet(liveLists(path)).count()
    assert(total == 240L)
  }

  test("many probe batches reuse one artifact, each matching inline") {
    val path = Files.createTempDirectory("ivf_batches").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    Seq(0, 1, 2).foreach { b =>
      val batch = corpus.filter(col("vec_id") % 3 === b && col("vec_id") < 60)
      val want = canon(Similarity.ivfTopKWith(batch, corpus, "vec_id",
        "embedding", k = 3, codebook, nprobe = 2))
      val got = canon(IvfIndex.topK(spark, path, batch, "vec_id",
        "embedding", k = 3, nprobe = 2))
      assert(got == want, s"batch $b")
    }
  }

  test("an empty centroid with an id past the inferred partition type " +
      "cannot wrap onto a real list") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_wrap").toString
    // Codebook = the 6 real cells plus one centroid no corpus vector
    // picks (anti-aligned), whose id (2^32) wraps to 0 — list 0's id —
    // under a bare long→int cast. lists/ holds only ids 0..5, so the
    // directory-inferred partition type is INT.
    val far = Seq((4294967296L, Array.fill(dims)(-10.0)))
      .toDF("centroid_id", "centroid")
    IvfIndex.write(path, corpus, "vec_id", "embedding",
      codebook.unionByName(far))
    // A probe aligned with the empty centroid routes there at nprobe=1;
    // its cell holds nothing, so the answer is NO rows — a wrapped cast
    // would silently serve it list 0's vectors instead.
    val probe = Seq((999L, Array.fill(dims)(-1.0)))
      .toDF("vec_id", "embedding")
    val got = IvfIndex.topK(spark, path, probe, "vec_id", "embedding",
      k = 3, nprobe = 1)
    assert(got.count() == 0L)
    // Real probes through the same index are unaffected by the guard.
    assert(IvfIndex.topK(spark, path, probes, "vec_id", "embedding",
      k = 3, nprobe = 2).count() > 0L)
  }

  test("append: delta vectors probe identically to a from-scratch build " +
      "and untouched lists keep their files byte-identical") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_append").toString
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 === 1)
    IvfIndex.write(path, even, "vec_id", "embedding", codebook)
    // Cluster 5's members are ids ≡ 5 (mod 6); the odd delta only holds
    // some of them — capture an untouched list's file listing first.
    // (All clusters get odd members here, so instead capture EVERY list
    // file pre-append and assert the append only ADDED files.)
    val live = liveLists(path)
    def listFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(live))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath}:${f.length}").toSet
    }
    val before = listFiles()
    IvfIndex.append(spark, path, odd, "vec_id", "embedding")
    val after = listFiles()
    assert(before.subsetOf(after), "append must not rewrite existing files")
    assert(after.size > before.size, "append must add delta files")
    // Probe parity with a from-scratch build over the full corpus.
    val scratch = Files.createTempDirectory("ivf_scratch").toString
    IvfIndex.write(scratch, corpus, "vec_id", "embedding", codebook)
    val got = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    val want = canon(IvfIndex.topK(spark, scratch, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    assert(got == want && got.nonEmpty)
  }

  test("delete: tombstoned ids vanish from probes, equal a from-scratch " +
      "build over the survivors; compact folds and clears the backlog") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_delete").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val doomed = corpus.filter(col("vec_id") % 5 === 2).select("vec_id")
    IvfIndex.delete(spark, path, doomed, "vec_id")
    val scratch = Files.createTempDirectory("ivf_delete_scratch").toString
    IvfIndex.write(scratch, corpus.filter(col("vec_id") % 5 =!= 2),
      "vec_id", "embedding", codebook)
    val want = canon(IvfIndex.topK(spark, scratch, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    val got = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    assert(got == want && got.nonEmpty)
    val doomedIds = doomed.as[Long].collect().toSet
    assert(got.forall(r => !doomedIds.contains(r(1).asInstanceOf[Long])))
    // Deleting an id twice (or one never stored) is a no-op.
    IvfIndex.delete(spark, path, doomed, "vec_id")
    IvfIndex.delete(spark, path, Seq(99999L).toDF("vec_id"), "vec_id")
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) == want)
    // Compact folds tombstones into the rewritten generation and clears
    // them: same probe result, no tombstones/ dir, and the stored lists
    // no longer contain the doomed ids at all.
    IvfIndex.compact(spark, path)
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) == want)
    assert(tombstoneDirs(path).isEmpty)
    val stored = spark.read.parquet(liveLists(path))
      .select("neighbor_id").as[Long].collect().toSet
    assert(stored.intersect(doomedIds).isEmpty)
  }

  test("rebuild clears stale tombstones: a fresh write is a fresh index") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_rebuild_ts").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    IvfIndex.delete(spark, path,
      corpus.filter(col("vec_id") % 5 === 2).select("vec_id"), "vec_id")
    // Rebuild over the FULL corpus: previously deleted ids are
    // legitimately present again and must not stay masked.
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    assert(tombstoneDirs(path).isEmpty)
    val scratch = Files.createTempDirectory("ivf_rebuild_ts_s").toString
    IvfIndex.write(scratch, corpus, "vec_id", "embedding", codebook)
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) ==
      canon(IvfIndex.topK(spark, scratch, probes, "vec_id",
        "embedding", k = 4, nprobe = 2)))
  }

  test("version-keyed tombstones: a dead generation's stale masks never " +
      "filter the rebuilt tree") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_stale_ts").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val oldTree = IvfIndex.liveVersion(spark, path)
    val doomed = corpus.filter(col("vec_id") % 5 === 2).select("vec_id")
    IvfIndex.delete(spark, path, doomed, "vec_id")
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    // Simulate a rebuild that crashed BEFORE retiring the old generation:
    // resurrect its mask dir verbatim. Readers resolve the new generation
    // and must never consult it.
    doomed.select(col("vec_id").as("neighbor_id"))
      .write.parquet(s"$path/$oldTree/tombstones")
    assert(oldTree != IvfIndex.liveVersion(spark, path))
    val scratch = Files.createTempDirectory("ivf_stale_ts_s").toString
    IvfIndex.write(scratch, corpus, "vec_id", "embedding", codebook)
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) ==
      canon(IvfIndex.topK(spark, scratch, probes, "vec_id",
        "embedding", k = 4, nprobe = 2)))
  }

  test("compact restores one file per list with probe parity") {
    val path = Files.createTempDirectory("ivf_compact").toString
    IvfIndex.write(path, corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", codebook)
    IvfIndex.append(spark, path, corpus.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding")
    val want = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    val preCompact = IvfIndex.liveVersion(spark, path)
    IvfIndex.compact(spark, path)
    // The live generation is now the next committed version; the
    // pre-compaction generation is retired.
    val live = IvfIndex.liveVersion(spark, path)
    assert(live.matches("ivf_v\\d+") && live != preCompact, live)
    assert(!new java.io.File(s"$path/$preCompact").exists())
    val dirs = new java.io.File(s"$path/$live/lists").listFiles()
      .filter(_.isDirectory)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d.getName}: ${parts.length} files")
    }
    val got = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    assert(got == want && got.nonEmpty)
    // Crash safety: an UNCOMMITTED higher version (no _GRAFT_COMMIT
    // marker — what an interrupted compaction leaves) is invisible to
    // readers.
    assert(new java.io.File(s"$path/ivf_v7/lists/list=0").mkdirs())
    assert(IvfIndex.liveVersion(spark, path) == live)
    // A committed second compaction numbers past the garbage, takes
    // over, and retires the previous live generation.
    IvfIndex.compact(spark, path)
    assert(IvfIndex.liveVersion(spark, path) == "ivf_v8")
    assert(!new java.io.File(s"$path/$live").exists())
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) == want)
  }

  test("rebuild at an existing path is write-then-retire: a new committed " +
      "version, old trees deleted only after it commits") {
    val path = Files.createTempDirectory("ivf_rebuild").toString
    IvfIndex.write(path, corpus.filter(col("vec_id") < 120),
      "vec_id", "embedding", codebook)
    val v1 = IvfIndex.liveVersion(spark, path)
    // Simulate the crashed-rebuild leftover: an uncommitted higher
    // version that the next rebuild must number past, never resurrect.
    assert(new java.io.File(s"$path/ivf_v5/lists/list=0").mkdirs())
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val v2 = IvfIndex.liveVersion(spark, path)
    assert(v2 == "ivf_v6", v2)
    // Superseded generations (v1 and the uncommitted garbage) are gone...
    assert(!new java.io.File(s"$path/$v1").exists())
    assert(!new java.io.File(s"$path/ivf_v5").exists())
    // ...and the rebuilt index serves the FULL corpus.
    assert(spark.read.parquet(s"$path/$v2/lists").count() == 240L)
    val got = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    val want = canon(Similarity.ivfTopKWith(probes, corpus, "vec_id",
      "embedding", k = 4, codebook, nprobe = 2))
    assert(got == want && got.nonEmpty)
  }

  test("maintenance add of a live id whose CHANGED vector assigns to a " +
    "different list: duplicate by default, dropped under strictLiveCheck") {
    import spark.implicits._
    // id 7 is stored under cluster 1 (7 % 6 == 1); the re-embedded vector
    // points along axis 4, so it assigns to list 4 — a list the batch's
    // touched-list replay guard never reads.
    val changed = Seq((7L,
      Array.tabulate(dims)(d => if (d == 4) 10.0 else 0.0), "add"))
      .toDF("vec_id", "embedding", "op")
    def liveCopies(path: String): Long =
      spark.read.parquet(liveLists(path))
        .filter(col("neighbor_id") === 7L).count()

    val lax = Files.createTempDirectory("ivf_maint_lax").toString
    IvfIndex.write(lax, corpus, "vec_id", "embedding", codebook)
    IvfIndex.applyMaintenanceBatch(spark, lax, changed,
      "vec_id", "embedding", "op")
    // Documented default-mode limitation: the cheap guard is exactly a
    // replay guard — the changed-vector add lands and the id is live in
    // two lists (this assertion is the honest record of that trade).
    assert(liveCopies(lax) == 2L, "default mode should append the changed add")

    val strict = Files.createTempDirectory("ivf_maint_strict").toString
    IvfIndex.write(strict, corpus, "vec_id", "embedding", codebook)
    IvfIndex.applyMaintenanceBatch(spark, strict, changed,
      "vec_id", "embedding", "op", strictLiveCheck = true)
    assert(liveCopies(strict) == 1L, "strict mode must drop the live-id add")
    // And strict mode still appends genuinely-new ids in the same batch.
    val mixed = Seq(
      (7L, Array.tabulate(dims)(d => if (d == 4) 10.0 else 0.0), "add"),
      (9000L, Array.tabulate(dims)(d => if (d == 2) 10.0 else 0.0), "add"))
      .toDF("vec_id", "embedding", "op")
    IvfIndex.applyMaintenanceBatch(spark, strict, mixed,
      "vec_id", "embedding", "op", strictLiveCheck = true)
    assert(liveCopies(strict) == 1L)
    assert(spark.read.parquet(liveLists(strict))
      .filter(col("neighbor_id") === 9000L).count() == 1L)
  }

  test("retention + rollback: compact(retain=2) keeps the previous tree, " +
      "rollback retires the compacted one and RESURRECTS the folded " +
      "deletes; a second rollback has no history and refuses") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_rollback").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val pristine = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    // The bad delete that shipped: mod-5 ids gone, then compacted.
    IvfIndex.delete(spark, path,
      corpus.filter(col("vec_id") % 5 === 2).select("vec_id"), "vec_id")
    IvfIndex.compact(spark, path, retain = 2)
    // Two committed generations on disk; the previous one kept its
    // bytes but its consumed mask is cleared.
    val trees = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.matches("ivf_v\\d+"))
    assert(trees.length == 2, trees.toSeq)
    assert(tombstoneDirs(path).isEmpty)
    val masked = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    assert(masked != pristine)
    // Rollback: the compacted generation retires, the pre-delete tree
    // serves again — probe equals the pristine build exactly.
    IvfIndex.rollback(spark, path)
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) == pristine)
    // No retained history left: a second rollback must refuse.
    val e = intercept[IllegalArgumentException] {
      IvfIndex.rollback(spark, path)
    }
    assert(e.getMessage.contains("retain"))
    // Default retain=1 keeps no history either.
    val p1 = Files.createTempDirectory("ivf_rollback_r1").toString
    IvfIndex.write(p1, corpus, "vec_id", "embedding", codebook)
    IvfIndex.delete(spark, p1, Seq(2L).toDF("vec_id"), "vec_id")
    IvfIndex.compact(spark, p1)
    assert(intercept[IllegalArgumentException] {
      IvfIndex.rollback(spark, p1)
    }.getMessage.contains("retain"))
  }

  test("write(retain=2) keeps the previous tree WITH its masks: rolling " +
      "back a bad rebuild restores the exact pre-rebuild serving state") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_rebuild_rbk").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    // Intentional serving-state delete BEFORE the rebuild.
    IvfIndex.delete(spark, path,
      corpus.filter(col("vec_id") % 5 === 2).select("vec_id"), "vec_id")
    val served = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    // The bad rebuild: half the corpus went missing upstream.
    IvfIndex.write(path, corpus.filter(col("vec_id") < 120),
      "vec_id", "embedding", codebook, retain = 2)
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) != served)
    IvfIndex.rollback(spark, path)
    // Pre-rebuild state EXACTLY — including the intentional mask.
    assert(canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)) == served)
  }

  test("branch refuses a dst that already holds an index") {
    val src = Files.createTempDirectory("ivf_branch_src").toString
    IvfIndex.write(src, corpus, "vec_id", "embedding", codebook)
    val dst = Files.createTempDirectory("ivf_branch_dst").toString
    IvfIndex.write(dst, corpus.filter(col("vec_id") < 60),
      "vec_id", "embedding", codebook)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.branch(spark, src, dst)
    }
    assert(e.getMessage.contains("FRESH"))
    // An absent dst is fine (the normal path).
    val ok = s"${Files.createTempDirectory("ivf_branch_ok").toString}/t"
    IvfIndex.branch(spark, src, ok)
    assert(canon(IvfIndex.topK(spark, ok, probes, "vec_id",
      "embedding", k = 4, nprobe = 2)).nonEmpty)
  }

  test("compact of a fully-tombstoned index keeps the mask instead of " +
      "committing an unreadable empty tree") {
    val path = Files.createTempDirectory("ivf_all_gone").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val before = IvfIndex.liveVersion(spark, path)
    IvfIndex.delete(spark, path, corpus.select("vec_id"), "vec_id")
    IvfIndex.compact(spark, path)
    // No new generation committed; probes still answer (zero rows).
    assert(IvfIndex.liveVersion(spark, path) == before)
    assert(IvfIndex.topK(spark, path, probes, "vec_id", "embedding",
      k = 3, nprobe = 2).count() == 0L)
  }

  test("maintenance batch with same-id delete+add is an UPDATE: the new " +
      "vector serves, replay converges") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_maint_upd").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    // Update id 7 (stored under cluster 1) to a cluster-4 vector, and
    // delete id 11, in one batch.
    val newVec = Array.tabulate(dims)(d => if (d == 4) 10.0 else 0.0)
    val batch = Seq(
      (7L, null.asInstanceOf[Array[Double]], "delete"),
      (7L, newVec, "add"),
      (11L, null.asInstanceOf[Array[Double]], "delete"))
      .toDF("vec_id", "embedding", "op")
    IvfIndex.applyMaintenanceBatch(spark, path, batch,
      "vec_id", "embedding", "op")
    def state() = canon(IvfIndex.topK(spark, path, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    // Equal to a from-scratch build over the updated corpus.
    val scratch = Files.createTempDirectory("ivf_maint_upd_s").toString
    val updated = corpus.filter(col("vec_id") =!= 7L && col("vec_id") =!= 11L)
      .unionByName(Seq((7L, newVec)).toDF("vec_id", "embedding"))
    IvfIndex.write(scratch, updated, "vec_id", "embedding", codebook)
    val want = canon(IvfIndex.topK(spark, scratch, probes, "vec_id",
      "embedding", k = 4, nprobe = 2))
    assert(state() == want && want.nonEmpty)
    // The stored tree holds exactly ONE live copy of 7 (the new vector,
    // not a masked duplicate pair).
    assert(spark.read.parquet(liveLists(path))
      .filter(col("neighbor_id") === 7L).count() == 1L)
    // At-least-once replay of the whole batch converges.
    IvfIndex.applyMaintenanceBatch(spark, path, batch,
      "vec_id", "embedding", "op")
    assert(state() == want)
  }

  test("update batch that masks EVERY stored row rebuilds from the adds " +
      "under the stored codebook — the re-adds must serve, not vanish") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_maint_upd_all").toString
    // Tiny index: only ids {7, 11} stored.
    IvfIndex.write(path,
      corpus.filter(col("vec_id").isin(7L, 11L)),
      "vec_id", "embedding", codebook)
    // One batch deletes BOTH and re-adds both with changed vectors —
    // the whole-corpus re-embed CDC shape. Pre-fix, compact's
    // fold-to-empty guard kept the mask and the re-adds were silently
    // lost (dropped by the already-stored anti-join or left masked).
    val v7 = Array.tabulate(dims)(d => if (d == 4) 10.0 else 0.0)
    val v11 = Array.tabulate(dims)(d => if (d == 5) 10.0 else 0.0)
    val batch = Seq(
      (7L, null.asInstanceOf[Array[Double]], "delete"),
      (11L, null.asInstanceOf[Array[Double]], "delete"),
      (7L, v7, "add"), (11L, v11, "add"))
      .toDF("vec_id", "embedding", "op")
    IvfIndex.applyMaintenanceBatch(spark, path, batch,
      "vec_id", "embedding", "op")
    val updated = Seq((7L, v7), (11L, v11)).toDF("vec_id", "embedding")
    def state() = canon(IvfIndex.topK(spark, path, updated, "vec_id",
      "embedding", k = 2, nprobe = 6))
    val scratch = Files.createTempDirectory("ivf_maint_upd_all_s").toString
    IvfIndex.write(scratch, updated, "vec_id", "embedding", codebook)
    val want = canon(IvfIndex.topK(spark, scratch, updated, "vec_id",
      "embedding", k = 2, nprobe = 6))
    assert(state() == want && want.nonEmpty,
      "whole-index update lost the re-adds")
    // No mask survives the rebuild; replay converges.
    assert(tombstoneDirs(path).isEmpty)
    IvfIndex.applyMaintenanceBatch(spark, path, batch,
      "vec_id", "embedding", "op")
    assert(state() == want)
  }

  test("probe plan is eligible for dynamic partition pruning") {
    val path = Files.createTempDirectory("ivf_dpp").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    val df = IvfIndex.topK(spark, path, probes, "vec_id", "embedding",
      k = 3, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    // The partitioned scan's join key must be the BARE partition
    // attribute (no cast wrapping it) — that is the DPP eligibility
    // condition the reader layout exists for. The cast lives on the
    // broadcast codebook side instead.
    val scanLines = plan.split('\n').filter(_.contains("FileScan"))
    val listScan = scanLines.find(_.contains("lists"))
    assert(listScan.isDefined, plan)
    assert(!listScan.get.contains("cast(list"), listScan.get)
  }

  test("routingDrift: stored-reference build columns equal the inline " +
    "form's (the stored assignment IS the argmax); in-distribution " +
    "deltas read ~1, an off-codebook cohort fires; the mask shrinks " +
    "the reference") {
    import spark.implicits._
    val path = Files.createTempDirectory("ivf_drift").toString
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebook)
    def cohort(ids: Range, axis: Int => Int): DataFrame =
      ids.map { i =>
        val c = axis(i)
        (i.toLong, Array.tabulate(dims)(d =>
          (if (d == c) 10.0 else 0.0) + ((i * 31 + d * 7) % 13) * 0.1))
      }.toDF("vec_id", "embedding")
    // Same cluster structure, fresh ids — in-distribution.
    val inDelta = cohort(1000 until 1030, _ % 6)
    val inline = Similarity.routingDrift(corpus, inDelta,
      "vec_id", "embedding", codebook).collect()(0)
    val stored = IvfIndex.routingDrift(spark, path, inDelta,
      "vec_id", "embedding").collect()(0)
    // The no-argmax shortcut is only sound if the stored `list` key is
    // exactly each row's argmax centroid — pin the integer error sums.
    assert(stored.getLong(0) == inline.getLong(0) &&
      stored.getLong(1) == inline.getLong(1),
      s"stored build cohort $stored != inline $inline")
    assert(stored.getLong(2) == 30L)
    assert(stored.getDouble(4) < 1.5,
      s"in-distribution ratio ${stored.getDouble(4)}")
    // One-hot on the axis NO centroid owns: routes with a large
    // angular slack under the frozen codebook.
    val off = cohort(2000 until 2030, _ => 7)
    val fired = IvfIndex.routingDrift(spark, path, off,
      "vec_id", "embedding").collect()(0)
    assert(fired.getDouble(4) > 1.5,
      s"planted drift ratio ${fired.getDouble(4)}")
    // Tombstoned rows leave the reference cohort.
    IvfIndex.delete(spark, path,
      corpus.filter(col("vec_id") % 2 === 0).select("vec_id"), "vec_id")
    val masked = IvfIndex.routingDrift(spark, path, inDelta,
      "vec_id", "embedding").collect()(0)
    assert(masked.getLong(0) == 120L,
      s"masked reference kept ${masked.getLong(0)} rows")
  }

  test("refit resamples the codebook from the index's own live rows: " +
    "stale-cells build + frozen append + delete + refit ≡ a scratch " +
    "build over the survivors with the full-rule codebook; mask folded") {
    val path = Files.createTempDirectory("ivf_refit").toString
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 === 1)
    // The stale rule can only sample EVEN ids (multiples of 10), whose
    // clusters (id%6) cycle {0,4,2} — the odd clusters have no cells.
    val staleCent = even.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    IvfIndex.write(path, even, "vec_id", "embedding", staleCent)
    IvfIndex.append(spark, path, odd, "vec_id", "embedding")
    val deadPred = col("vec_id") % 16 === 3
    IvfIndex.delete(spark, path,
      corpus.filter(deadPred).select("vec_id"), "vec_id")
    // mod 5 is coprime to 6: the refit codebook reaches every cluster,
    // including the odd ones the appended half brought.
    IvfIndex.refit(spark, path, centroidMod = 5)
    val surv = corpus.filter(!deadPred)
    val fullCent = surv.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val scratch = Files.createTempDirectory("ivf_refit_scr").toString
    IvfIndex.write(scratch, surv, "vec_id", "embedding", fullCent)
    val want = canon(IvfIndex.topK(spark, scratch, probes,
      "vec_id", "embedding", k = 4, nprobe = 2))
    val got = canon(IvfIndex.topK(spark, path, probes,
      "vec_id", "embedding", k = 4, nprobe = 2))
    assert(got == want && got.nonEmpty)
    // The resampled codebook is the full rule over survivors (odd-id
    // centroids arrived; the deleted centroid candidate did not) — it
    // commits inside the new generation, beside the lists it routed.
    assert(spark.read.parquet(
        s"$path/${IvfIndex.liveVersion(spark, path)}/centroids").count() ==
      fullCent.count())
    // The rebuild folded the mask: no tombstoned rows in the new lists.
    assert(spark.read.parquet(liveLists(path))
      .filter(pmod(col("neighbor_id"), lit(16)) === 3).count() == 0)
    assert(tombstoneDirs(path).isEmpty,
      "refit must clear the consumed masks")
  }

  test("refit codebook swap is atomic under rollback and compact: a " +
    "rolled-back refit restores the OLD codebook+tree pairing, and a " +
    "compact after a refit carries the keyed codebook to the new tree") {
    val path = Files.createTempDirectory("ivf_refit_atomic").toString
    val even = corpus.filter(col("vec_id") % 2 === 0)
    val odd = corpus.filter(col("vec_id") % 2 === 1)
    val staleCent = even.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    IvfIndex.write(path, even, "vec_id", "embedding", staleCent)
    IvfIndex.append(spark, path, odd, "vec_id", "embedding")
    // Probes from the ODD clusters (the ones the stale codebook has no
    // cells for) at nprobe = 1 — the single probed cell makes results
    // maximally codebook-dependent, so the pre/post pairing assertions
    // below actually discriminate (the default even-cluster probes at
    // nprobe = 2 returned identical top-4 under both codebooks).
    val oddProbes = corpus.filter(col("vec_id") % 40 === 1)
    def probe() = canon(IvfIndex.topK(spark, path, oddProbes,
      "vec_id", "embedding", k = 4, nprobe = 1))
    val pre = probe()
    val liveBefore = IvfIndex.liveVersion(spark, path)
    val staleN = spark.read.parquet(s"$path/$liveBefore/centroids").count()

    IvfIndex.refit(spark, path, centroidMod = 5, retain = 2)
    val liveAfter = IvfIndex.liveVersion(spark, path)
    assert(new java.io.File(s"$path/$liveAfter/centroids").exists(),
      "refit must commit its codebook inside the new generation")
    assert(spark.read.parquet(s"$path/$liveBefore/centroids").count() ==
      staleN, "refit must not touch the retained generation's codebook")
    val post = probe()
    assert(post != pre, "the resampled codebook must change routing " +
      "on this fixture (otherwise the rollback assertion is vacuous)")

    // The review scenario: rollback of a retained refit must restore
    // the OLD codebook+tree PAIRING, not pair old lists with the refit
    // codebook.
    IvfIndex.rollback(spark, path)
    assert(probe() == pre,
      "rollback re-paired the previous tree with the wrong codebook")
    assert(!new java.io.File(s"$path/$liveAfter").exists(),
      "the retired refit's codebook must go with its generation")

    // Compact after a refit: the codebook travels to the compacted
    // generation (same cells — probes must equal a survivors scratch
    // build under the refit-rule codebook).
    IvfIndex.refit(spark, path, centroidMod = 5)
    val deadPred = col("vec_id") % 12 === 7
    IvfIndex.delete(spark, path,
      corpus.filter(deadPred).select("vec_id"), "vec_id")
    IvfIndex.compact(spark, path)
    val liveC = IvfIndex.liveVersion(spark, path)
    assert(new java.io.File(s"$path/$liveC/centroids").exists(),
      "compact must carry the codebook to the compacted generation")
    val surv = corpus.filter(!deadPred)
    val scratch = Files.createTempDirectory("ivf_refit_atomic_scr")
      .toString
    // The codebook is the REFIT-time rule over all live rows (the
    // delete came after the refit and deletes never move centroids);
    // only the lists shrink to the survivors.
    IvfIndex.write(scratch, surv, "vec_id", "embedding",
      corpus.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid")))
    val want = canon(IvfIndex.topK(spark, scratch, oddProbes,
      "vec_id", "embedding", k = 4, nprobe = 1))
    assert(probe() == want && want.nonEmpty)
  }

  test("a rebuild that crashes before its commit marker leaves the old " +
    "codebook + lists pairing serving; the next write numbers past it") {
    val path = Files.createTempDirectory("ivf_torn_rebuild").toString
    def codebookEvery(m: Int) = corpus.filter(col("vec_id") % m === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    // The odd-cluster probes at nprobe = 1 of the refit-atomic test: the
    // two codebooks route them differently.
    val oddProbes = corpus.filter(col("vec_id") % 40 === 1)
    def probe() = canon(IvfIndex.topK(spark, path, oddProbes,
      "vec_id", "embedding", k = 4, nprobe = 1))
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebookEvery(10))
    val pre = probe()
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebookEvery(5),
      retain = 2)
    val post = probe()
    assert(post != pre, "the second codebook must change routing on " +
      "this fixture (otherwise the crash assertion is vacuous)")
    // A crash before the marker: every tree of the new generation
    // landed, its commit marker did not.
    val torn = IvfIndex.liveVersion(spark, path)
    assert(new java.io.File(s"$path/$torn/_GRAFT_COMMIT").delete())
    assert(probe() == pre,
      "a torn rebuild paired its codebook with the previous lists")
    IvfIndex.write(path, corpus, "vec_id", "embedding", codebookEvery(5))
    val next = IvfIndex.liveVersion(spark, path)
    assert(next.stripPrefix("ivf_v").toInt >
      torn.stripPrefix("ivf_v").toInt, s"$next did not number past $torn")
    assert(!new java.io.File(s"$path/$torn").exists())
    assert(probe() == post)
  }
}
