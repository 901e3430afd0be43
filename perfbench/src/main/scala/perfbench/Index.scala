package perfbench

import scala.collection.mutable

import graft.ml.{KMeans, Pq}
import graft.ops.{IvfIndex, PqIndex, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The index lifecycle: build IVF and IVF-PQ indexes over a seeded corpus,
  * then alternate maintenance batches of adds, deletes and same-id updates
  * with probe batches. An update makes each family compact inside the
  * batch (deletes, fold, then adds), so every operation has the same
  * shape. Reads and writes hit the same layer: maintenance that leaves
  * small files or tombstones behind shows up as slower probes.
  */
object Index extends AdaptiveSparkPlanHelper {

  val Corpus = 4000
  val Dims = 32
  val Lists = 8
  val KMeansIterations = 2
  val PqSubspaces = 8
  val PqCodes = 16
  val Probes = 32
  val K = 10
  val CandidateK = 100
  /** Per maintenance batch: new ids, deleted ids, re-embedded ids. */
  val Adds = 40
  val Deletes = 20
  val Updates = 10

  private final case class State(ivf: String, pq: String) {
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
    val gone = mutable.Set.empty[Long]
    var nextId = Corpus + 1L
    var generation = 0L
    var lastAdds = Seq.empty[Long]
    var inputBytes = 0L
    val written = mutable.Map("ops.IvfIndex" -> 0L, "ops.PqIndex" -> 0L)
    var batchBytes = 0L
  }

  private def frame(ctx: Ctx, rows: Seq[(Long, Array[Float], String)]): DataFrame = {
    import ctx.spark.implicits._
    rows.map { case (id, v, op) => (id, v.toSeq, op) }.toDF("id", "vec", "op")
  }

  private def stage(ctx: Ctx, rows: Seq[(Long, Array[Float], String)], rel: String): (DataFrame, Long) = {
    frame(ctx, rows).coalesce(1).write.mode("overwrite").parquet(ctx.path(rel))
    (ctx.spark.read.parquet(ctx.path(rel)), Ctx.du(ctx.path(rel), dataOnly = true)._2)
  }

  /** Bytes of the files a call created or rewrote under `root`. */
  private def writtenBy(root: String)(f: => Unit): Long = {
    def snapshot(): Map[String, Long] = {
      val p = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis).toMap
        } finally s.close()
      }
    }
    val before = snapshot()
    f
    snapshot().filter { case (k, t) => !before.get(k).contains(t) }
      .keys.map(k => java.nio.file.Files.size(java.nio.file.Paths.get(k))).sum
  }

  def maintenance(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpusRows = (s: Long) => (1L to Corpus).map(id => (id, Gen.vector(s, id, Dims), "add"))
    def d(s: Long) = Gen.digest(corpusRows(s).iterator.map { case (id, v, _) => s"$id\t${v.mkString(",")}" })
    val dg = d(ctx.seed)
    ctx.check("generator: same seed gives identical input", dg == d(ctx.seed))
    ctx.check("generator: another seed changes the input", dg != d(ctx.seed + 1))
    ctx.info("input_digest") = dg

    val st = ctx.setup(3) { i =>
      val s = State(ctx.path(s"index_$i/ivf"), ctx.path(s"index_$i/pq"))
      val rows = corpusRows(ctx.seed)
      val (corpus, bytes) = stage(ctx, rows, s"input/corpus_$i")
      rows.foreach { case (id, v, _) => s.live(id) = v }
      s.inputBytes = bytes
      val (model, pqModel) = ctx.trace.span("ml.KMeans") {
        (KMeans.fit(corpus, "id", "vec", Lists, KMeansIterations),
          Pq.fit(corpus, "id", "vec", Dims, PqSubspaces, PqCodes, KMeansIterations))
      }
      val cent = KMeans.centroidFrame(corpus, model)
      ctx.trace.span("ops.IvfIndex")(IvfIndex.write(s.ivf, corpus, "id", "vec", cent))
      ctx.trace.span("ops.PqIndex")(PqIndex.write(spark, s.pq, corpus, "id", "vec", cent, pqModel))
      if (i > 0) Ctx.deleteTree(java.nio.file.Paths.get(ctx.path(s"index_${i - 1}")))
      s
    }

    val probeRows = (1 to Probes).map(j => (-j.toLong, Gen.vector(ctx.seed, j.toLong, Dims, 6)))
    val probeLat = mutable.ArrayBuffer.empty[Double]
    val maintLat = mutable.ArrayBuffer.empty[Double]
    val scanned = mutable.Map("ops.IvfIndex" -> (0L, 0L), "ops.PqIndex" -> (0L, 0L))
    val liveFiles = mutable.Map("ops.IvfIndex" -> mutable.ArrayBuffer.empty[Double],
      "ops.PqIndex" -> mutable.ArrayBuffer.empty[Double])

    def probe(i: Int): Unit = {
      // Fixed probes, plus every id the batch just added, asked for under a
      // query id of its own: it must come back as its own nearest neighbour.
      val selfProbes = st.lastAdds.map(id => (-1000000000L - id, st.live(id)))
      val (probes, _) = stage(ctx,
        (probeRows ++ selfProbes).map { case (id, v) => (id, v, "probe") }, s"input/probe_$i")
      val (_, secs) = ctx.timed {
        Seq("ops.IvfIndex" -> st.ivf, "ops.PqIndex" -> st.pq).foreach { case (layer, path) =>
          if (ctx.traced) liveFiles(layer) += Ctx.du(path, dataOnly = true)._1.toDouble
          val (rows, df) = ctx.trace.span(layer) {
            val df =
              if (layer == "ops.IvfIndex") IvfIndex.topK(spark, path, probes, "id", "vec", K)
              else PqIndex.topK(spark, path, probes, "id", "vec", K, CandidateK)
            (df.collect(), df)
          }
          checkProbe(layer, rows, selfProbes.map(_._1))
          if (ctx.traced) {
            val n = collectWithSubqueries(df.queryExecution.executedPlan) {
              case s: FileSourceScanExec => s.metrics("numOutputRows").value
            }.sum
            scanned(layer) = (scanned(layer)._1 + n, scanned(layer)._2 + rows.length)
          }
        }
      }
      probeLat += secs
    }

    def maintain(i: Int): Unit = {
      st.generation += 1
      val rng = new java.util.SplittableRandom(ctx.seed * 7919 + st.generation)
      val ids = st.live.keys.toIndexedSeq
      val chosen = mutable.LinkedHashSet.empty[Long]
      while (chosen.size < Deletes + Updates)
        chosen += ids(rng.nextInt(ids.size))
      val (dels, upds) = chosen.toSeq.splitAt(Deletes)
      val adds = (0 until Adds).map(_ => { st.nextId += 1; st.nextId - 1 })
      val addRows = adds.map(id => (id, Gen.vector(ctx.seed, id, Dims), "add"))
      val updRows = upds.flatMap { id =>
        val v = Gen.vector(ctx.seed, id, Dims, 100 + st.generation)
        Seq((id, st.live(id), "delete"), (id, v, "add"))
      }
      val rows = addRows ++ dels.map(id => (id, st.live(id), "delete")) ++ updRows
      val (batch, bytes) = stage(ctx, rows, s"input/batch_$i")
      st.inputBytes += bytes
      st.batchBytes += bytes
      val (_, secs) = ctx.timed {
        Seq("ops.IvfIndex" -> st.ivf, "ops.PqIndex" -> st.pq).foreach { case (layer, path) =>
          val w = writtenBy(path) {
            ctx.trace.span(layer) {
              if (layer == "ops.IvfIndex") IvfIndex.applyMaintenanceBatch(spark, path, batch, "id", "vec", "op")
              else PqIndex.applyMaintenanceBatch(spark, path, batch, "id", "vec", "op")
            }
          }
          if (ctx.traced) st.written(layer) += w
        }
      }
      maintLat += secs
      dels.foreach { id => st.live.remove(id); st.gone += id }
      (addRows ++ updRows.filter(_._3 == "add")).foreach { case (id, v, _) =>
        st.live(id) = v; st.gone -= id }
      st.lastAdds = adds
    }

    def checkProbe(layer: String, rows: Array[Row], selfIds: Seq[Long]): Unit = {
      val returned = rows.map(_.getAs[Long]("neighbor_id"))
      val dead = returned.filter(id => st.gone.contains(id) || !st.live.contains(id))
      ctx.check(s"$layer: no deleted id is returned", dead.isEmpty,
        s"returned deleted ids ${dead.distinct.take(5).mkString(",")}")
      val top1 = rows.filter(_.getAs[Int]("rank") == 1)
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
      val missed = selfIds.filter(q => !top1.get(q).contains(-1000000000L - q))
      ctx.check(s"$layer: every added id is its own top-1", missed.isEmpty,
        s"${missed.size} of ${selfIds.size} added ids not their own top-1")
    }

    // Warm the probe path (JIT, generated plan code) before timing, as on a
    // serving index; maintenance has no side-effect-free warm-up.
    val (fixedProbes, _) = stage(ctx, probeRows.map { case (id, v) => (id, v, "probe") }, "input/probe_fixed")
    IvfIndex.topK(spark, st.ivf, fixedProbes, "id", "vec", K).collect()
    PqIndex.topK(spark, st.pq, fixedProbes, "id", "vec", K, CandidateK).collect()

    // Maintenance first, so the probes see what the batch left behind
    // (appended small files) and check its deletes and adds.
    ctx.loop("maintain", minOps = 1) { i =>
      maintain(i)
      probe(i)
    }

    // Recall (a traced-run metric) against exact search over the live set.
    if (ctx.traced) ctx.phase("recall") {
      val liveDf = frame(ctx, st.live.toSeq.map { case (id, v) => (id, v, "add") })
      val truth = Similarity.bruteForceTopK(fixedProbes, liveDf, "id", "vec", K).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val ivfGot = IvfIndex.topK(spark, st.ivf, fixedProbes, "id", "vec", K).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val pqGot = PqIndex.topK(spark, st.pq, fixedProbes, "id", "vec", K, CandidateK).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val (ivfRecall, pqRecall) = (ivfGot.count(truth.contains).toDouble / truth.size,
        pqGot.count(truth.contains).toDouble / truth.size)
      ctx.info("recall_ivf") = ivfRecall
      ctx.info("recall_pq") = pqRecall
      ctx.setLayerValue("ops.recall_at_10", (ivfRecall + pqRecall) / 2)
    }

    val stored = Ctx.du(st.ivf)._2 + Ctx.du(st.pq)._2
    ctx.bytesStoredRatio = stored.toDouble / st.inputBytes
    ctx.setLayerValue("ops.probe_p50_s", ctx.median(probeLat))
    ctx.setLayerValue("ops.maint_p50_s", ctx.median(maintLat))
    if (ctx.traced) Seq("ops.IvfIndex", "ops.PqIndex").foreach { l =>
      val (n, res) = scanned(l)
      ctx.setLayerValue(s"$l.rows_scanned_per_result", n.toDouble / math.max(1L, res))
      ctx.setLayerValue(s"$l.write_amp", st.written(l).toDouble / math.max(1L, st.batchBytes))
      ctx.setLayerValue(s"$l.live_files", ctx.median(liveFiles(l)))
    }
  }
}
