package graft.ops

import java.nio.file.Files

import graft.SparkTestBase
import graft.ml.Pq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF-PQ index must serve probes with EXACTLY the rows
  * the inline [[Similarity.ivfPqTopK]] produces on the same corpus,
  * coarse codebook and PQ model; the model must survive its parquet
  * round trip bit-exactly (integer-exact centroids); and a torn
  * generation must stay invisible behind the commit marker.
  */
class PqIndexSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // Clustered corpus: 8 one-hot axes (3.0) + deterministic noise over
  // 16 dims — enough structure that lists and codes are non-trivial.
  private def vec(i: Long): Array[Double] = {
    val c = (i % 8).toInt
    Array.tabulate(16)(d =>
      (if (d == 2 * c) 3.0 else 0.0) + (((i * 31 + d * 7) % 11) - 5) / 20.0)
  }

  private def corpus(n: Int): DataFrame =
    (0L until n.toLong).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def canon(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int"), round(col("cos"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet

  test("persisted probe equals inline ivfPqTopK; model round-trips " +
    "bit-exactly; many batches reuse one artifact") {
    val c = corpus(96)
    val model = Pq.fit(c, "vec_id", "embedding", dims = 16, m = 4,
      k = 4, iterations = 2)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val path = Files.createTempDirectory("pq_idx").toString
    PqIndex.write(spark, path, c, "vec_id", "embedding", cent, model)

    val m2 = PqIndex.readModel(spark,
      s"$path/${PqIndex.liveVersion(spark, path)}")
    assert(m2.dims == model.dims && m2.m == model.m)
    for (s <- 0 until model.m) {
      assert(m2.models(s).scale == model.models(s).scale)
      assert(m2.models(s).centroids.map(_.toSeq).toSeq ==
        model.models(s).centroids.map(_.toSeq).toSeq)
    }

    val codes = Pq.encode(c, "vec_id", "embedding", model)
    for (mod <- Seq(0, 1)) {
      val probes = c.filter(pmod(col("vec_id"), lit(7)) === mod)
      val want = canon(Similarity.ivfPqTopK(probes, c, codes,
        "vec_id", "embedding", model, k = 3, candidateK = 12,
        centroidMod = 12, nprobe = 2))
      val got = canon(PqIndex.topK(spark, path, probes,
        "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2))
      assert(got == want && got.nonEmpty, s"probe batch mod $mod")
    }
  }

  test("probe plan shape: codes ride the routed scan (no unpruned " +
    "code-table re-join), list keys stay cast-free for pruning") {
    // The live-DPP assertion below depends on the session's optimizer
    // confs — under non-default configs (DPP off, broadcast disabled)
    // the plan legitimately loses the dynamicpruningexpression marker
    // and the test would flake. Pin the confs this assertion needs and
    // restore them after, so the test checks OUR layout, not the
    // session defaults.
    val dppConfs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    val saved = dppConfs.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    dppConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try testPlanShape()
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def testPlanShape(): Unit = {
    val c = corpus(96)
    val model = Pq.fit(c, "vec_id", "embedding", dims = 16, m = 4,
      k = 4, iterations = 2)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val path = Files.createTempDirectory("pq_idx_plan").toString
    PqIndex.write(spark, path, c, "vec_id", "embedding", cent, model)
    val df = PqIndex.topK(spark, path, c.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    val listScans = plan.split('\n')
      .filter(l => l.contains("FileScan") && l.contains("lists"))
    assert(listScans.nonEmpty, plan)
    // Both list scans carry a LIVE dynamic-partition-pruning filter —
    // stronger than the cast-free eligibility check: the probe's code
    // scan AND the rerank's vector scan each read only probed cells.
    val pruned = listScans.filter(_.contains("dynamicpruningexpression"))
    assert(pruned.size >= 2, listScans.mkString("\n"))
    // The ADC stage's scan projects codes WITHOUT the vector column —
    // the bandwidth story of the one-tree columnar layout.
    assert(listScans.exists(l =>
      l.contains("pq_code:") && !l.contains("vec:")),
      listScans.mkString("\n"))
    // And the rerank's vector scan never drags the codes back in.
    assert(listScans.exists(l =>
      l.contains("vec:") && !l.contains("pq_code:")),
      listScans.mkString("\n"))
  }

  test("delete ≡ survivors-only build under the SAME codebooks; " +
    "replayed deletes append nothing; compact folds the mask and " +
    "clones the model") {
    val c = corpus(96)
    val model = Pq.fit(c, "vec_id", "embedding", dims = 16, m = 4,
      k = 4, iterations = 2)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val path = Files.createTempDirectory("pq_idx_del").toString
    PqIndex.write(spark, path, c, "vec_id", "embedding", cent, model)
    // Delete pred % 4 == 1 never hits a % 12 == 0 centroid id, so the
    // survivors-only INLINE build below keeps the identical coarse
    // codebook — the equality the pure mask promises.
    val deadPred = pmod(col("vec_id"), lit(4)) === 1
    PqIndex.delete(spark, path, c.filter(deadPred).select("vec_id"),
      "vec_id")
    val probes = c.filter(pmod(col("vec_id"), lit(7)) === 0)
    val surv = c.filter(!deadPred)
    val want = canon(Similarity.ivfPqTopK(probes, surv,
      Pq.encode(surv, "vec_id", "embedding", model),
      "vec_id", "embedding", model, k = 3, candidateK = 12,
      centroidMod = 12, nprobe = 2))
    def got() = canon(PqIndex.topK(spark, path, probes,
      "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2))
    assert(got() == want && want.nonEmpty)
    // Replay: both the same batch and a never-stored id append nothing.
    val before = new java.io.File(
      s"$path/${PqIndex.liveVersion(spark, path)}/tombstones")
      .listFiles().count(_.getName.endsWith(".parquet"))
    PqIndex.delete(spark, path, c.filter(deadPred).select("vec_id"),
      "vec_id")
    import spark.implicits._
    PqIndex.delete(spark, path, Seq(424242L).toDF("vec_id"), "vec_id")
    val after = new java.io.File(
      s"$path/${PqIndex.liveVersion(spark, path)}/tombstones")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == before, s"replayed delete appended: $before -> $after")
    // Compact: new committed generation, mask folded (no tombstones
    // dir), probe unchanged, model cloned bit-exactly, deleted rows
    // physically gone from the lists.
    val v1 = PqIndex.liveVersion(spark, path)
    PqIndex.compact(spark, path)
    val v2 = PqIndex.liveVersion(spark, path)
    assert(v2 != v1)
    assert(!new java.io.File(s"$path/$v2/tombstones").exists())
    assert(got() == want)
    val m2 = PqIndex.readModel(spark, s"$path/$v2")
    assert(m2.dims == model.dims &&
      m2.models.map(_.scale).toSeq == model.models.map(_.scale).toSeq)
    assert(spark.read.parquet(s"$path/$v2/lists")
      .filter(pmod(col("neighbor_id"), lit(4)) === 1).count() == 0)
    // Compact with nothing pending still rewrites: a new generation,
    // probes unchanged, one data file per list.
    PqIndex.compact(spark, path)
    val v3 = PqIndex.liveVersion(spark, path)
    assert(v3 != v2)
    assert(got() == want)
    val files = new java.io.File(s"$path/$v3/lists").listFiles()
      .filter(_.getName.startsWith("list="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(files.nonEmpty && files.forall(_ == 1), files)
  }

  test("branch: a hard-linked snapshot mutates independently of the " +
    "shared base") {
    val c = corpus(96)
    val model = Pq.fit(c, "vec_id", "embedding", dims = 16, m = 4,
      k = 4, iterations = 2)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val base = Files.createTempDirectory("pq_idx_base").toString
    val br = Files.createTempDirectory("pq_idx_branch").toString + "/t"
    PqIndex.write(spark, base, c, "vec_id", "embedding", cent, model)
    val probes = c.filter(pmod(col("vec_id"), lit(7)) === 0)
    def probe(p: String) = canon(PqIndex.topK(spark, p, probes,
      "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2))
    val baseWant = probe(base)
    PqIndex.branch(spark, base, br)
    assert(probe(br) == baseWant, "a fresh branch must read as the base")
    // File-level: the branch shares inodes with the base (metadata
    // snapshot, not a data rewrite) — at least the list files link.
    val lv = PqIndex.liveVersion(spark, base)
    val bv = PqIndex.liveVersion(spark, br)
    def inodes(root: String): Set[Any] = {
      val out = scala.collection.mutable.Set.empty[Any]
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        else if (f.getName.endsWith(".parquet"))
          out += java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
      }
      walk(new java.io.File(root)); out.toSet
    }
    val shared = inodes(s"$base/$lv/lists")
      .intersect(inodes(s"$br/$bv/lists"))
    assert(shared.nonEmpty, "branch copied bytes instead of linking")
    // Mutate the branch only: the base's probe must not move.
    PqIndex.delete(spark, br,
      c.filter(pmod(col("vec_id"), lit(4)) === 1).select("vec_id"),
      "vec_id")
    assert(probe(base) == baseWant, "branch delete leaked into the base")
    assert(probe(br) != baseWant, "branch delete had no effect")
    // And compacting the branch rewrites ITS files, never the base's.
    PqIndex.compact(spark, br)
    assert(probe(base) == baseWant, "branch compact leaked into the base")
  }

  test("append under frozen codebooks ≡ full build under the same " +
    "codebooks; untouched cells keep their files; masked ids stay " +
    "masked until compact, then re-append resurrects") {
    val c = corpus(96)
    val model = Pq.fit(c, "vec_id", "embedding", dims = 16, m = 4,
      k = 4, iterations = 2)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val path = Files.createTempDirectory("pq_idx_app").toString
    // Build EVEN half, append ODD half under the stored codebooks.
    PqIndex.write(spark, path, c.filter(pmod(col("vec_id"), lit(2)) === 0),
      "vec_id", "embedding", cent, model)
    val live = PqIndex.liveVersion(spark, path)
    // Cells the odd delta does NOT touch must keep their files
    // byte-identical (append-mode partitioned write).
    def fileSet(): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        else if (f.getName.endsWith(".parquet")) out += f.getPath
      walk(new java.io.File(s"$path/$live/lists")); out.toSet
    }
    val before = fileSet()
    PqIndex.append(spark, path,
      c.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
    assert(before.subsetOf(fileSet()),
      "append rewrote files of the built half")
    val probes = c.filter(pmod(col("vec_id"), lit(7)) === 0)
    val want = canon(Similarity.ivfPqTopK(probes, c,
      Pq.encode(c, "vec_id", "embedding", model),
      "vec_id", "embedding", model, k = 3, candidateK = 12,
      centroidMod = 12, nprobe = 2))
    def got() = canon(PqIndex.topK(spark, path, probes,
      "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2))
    assert(got() == want && want.nonEmpty)
    // Delete a slice, then re-append it WITHOUT compacting: the mask
    // wins (re-appended rows stay invisible), and the next compact
    // drops the re-appended copy with the mask.
    val deadPred = pmod(col("vec_id"), lit(4)) === 1
    val dead = c.filter(deadPred)
    PqIndex.delete(spark, path, dead.select("vec_id"), "vec_id")
    val surv = c.filter(!deadPred)
    val wantSurv = canon(Similarity.ivfPqTopK(probes, surv,
      Pq.encode(surv, "vec_id", "embedding", model),
      "vec_id", "embedding", model, k = 3, candidateK = 12,
      centroidMod = 12, nprobe = 2))
    PqIndex.append(spark, path, dead, "vec_id", "embedding")
    assert(got() == wantSurv, "re-append before compact must stay masked")
    PqIndex.compact(spark, path)
    assert(got() == wantSurv, "compact must drop the masked re-append")
    assert(spark.read.parquet(
        s"$path/${PqIndex.liveVersion(spark, path)}/lists")
      .filter(pmod(col("neighbor_id"), lit(4)) === 1).count() == 0)
    // Resurrect contract: compact (mask folded), THEN append.
    PqIndex.append(spark, path, dead, "vec_id", "embedding")
    assert(got() == want, "append after compact must resurrect")
  }

  test("refit re-trains the codebooks on the index's own live rows: " +
    "stale build + append + delete + refit ≡ survivors build under a " +
    "survivors fit; geometry inferred, centroids cloned, mask folded") {
    val c = corpus(96)
    // The "stale" fit sees only half the cluster axes (i%8 < 4 spikes
    // at dims 0/2/4/6): the appended remainder (spikes at 8/10/12/14)
    // quantizes against codebooks that never saw its subspaces — the
    // drifted-serving state refit exists to repair.
    val seen = c.filter(pmod(col("vec_id"), lit(8)) < 4)
    val unseen = c.filter(pmod(col("vec_id"), lit(8)) >= 4)
    val staleModel = Pq.fit(seen, "vec_id", "embedding", dims = 16,
      m = 4, k = 4, iterations = 2)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val path = Files.createTempDirectory("pq_idx_rft").toString
    PqIndex.write(spark, path, seen, "vec_id", "embedding", cent,
      staleModel)
    PqIndex.append(spark, path, unseen, "vec_id", "embedding")
    val staleErr = PqIndex.meanQuantizationError(spark, path)
    // Tombstone a slice so refit has a mask to fold.
    val deadPred = pmod(col("vec_id"), lit(16)) === 5
    PqIndex.delete(spark, path, c.filter(deadPred).select("vec_id"),
      "vec_id")
    val m2 = PqIndex.refit(spark, path, iterations = 2)
    // The refit model is bit-identical to a survivors fit (value-keyed
    // seeds + integer-exact Lloyd are read-back-invariant).
    val surv = c.filter(!deadPred)
    val wantModel = Pq.fit(surv, "vec_id", "embedding", dims = 16,
      m = 4, k = 4, iterations = 2)
    assert(m2.dims == wantModel.dims && m2.m == wantModel.m)
    for (s <- 0 until m2.m) {
      assert(m2.models(s).scale == wantModel.models(s).scale)
      assert(m2.models(s).centroids.map(_.toSeq).toSeq ==
        wantModel.models(s).centroids.map(_.toSeq).toSeq, s"subspace $s")
    }
    // Probes equal the inline pipeline over survivors under that fit.
    val probes = c.filter(pmod(col("vec_id"), lit(7)) === 0)
    val want = canon(Similarity.ivfPqTopK(probes, surv,
      Pq.encode(surv, "vec_id", "embedding", wantModel),
      "vec_id", "embedding", wantModel, k = 3, candidateK = 12,
      centroidMod = 12, nprobe = 2))
    val got = canon(PqIndex.topK(spark, path, probes,
      "vec_id", "embedding", k = 3, candidateK = 12, nprobe = 2))
    assert(got == want && want.nonEmpty)
    // Mask folded: the refit generation carries no tombstones, and the
    // dead slice is physically gone from its lists.
    val live = PqIndex.liveVersion(spark, path)
    assert(!new java.io.File(s"$path/$live/tombstones").exists(),
      "refit must fold the mask")
    assert(spark.read.parquet(s"$path/$live/lists")
      .filter(pmod(col("neighbor_id"), lit(16)) === 5).count() == 0)
    // The reference error drops: the unseen axes now have codebooks.
    assert(PqIndex.meanQuantizationError(spark, path) < staleErr,
      s"refit error must improve on the stale fit's $staleErr")
  }

  test("a torn generation stays invisible; a committed rebuild retires it") {
    val c = corpus(48)
    val model = Pq.fit(c, "vec_id", "embedding", dims = 16, m = 2,
      k = 4, iterations = 1)
    val cent = c.filter(pmod(col("vec_id"), lit(12)) === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid"))
    val path = Files.createTempDirectory("pq_idx_torn").toString
    PqIndex.write(spark, path, c.filter(col("vec_id") < 36),
      "vec_id", "embedding", cent, model)
    val v1 = PqIndex.liveVersion(spark, path)
    new java.io.File(s"$path/pq_v9/lists").mkdirs() // torn writer
    assert(PqIndex.liveVersion(spark, path) == v1)
    assert(PqIndex.topK(spark, path, c.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 2, candidateK = 8, nprobe = 2)
      .count() > 0)
    PqIndex.write(spark, path, c, "vec_id", "embedding", cent, model)
    assert(PqIndex.liveVersion(spark, path) == "pq_v10")
    assert(!new java.io.File(s"$path/$v1").exists())
    assert(!new java.io.File(s"$path/pq_v9").exists())
  }
}
