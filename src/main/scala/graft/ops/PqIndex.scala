package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.KMeans.KMeansModel
import graft.ml.Pq
import graft.ml.Pq.PqModel

/** Persisted IVF-PQ serving index — the FAISS IVFPQ artifact
  * ([[Similarity.ivfPqTopK]]'s pipeline with every derived frame
  * stored): coarse codebook, per-cell lists carrying the m-byte PQ
  * codes AND the full vectors in ONE columnar tree, and the PQ model
  * itself, so probes at serving time recompute nothing.
  *
  * Layout under `path` (generations via [[VersionedTree]] — three
  * trees, so the commit point is the explicit `_GRAFT_COMMIT` marker,
  * crash-safe like [[GraphIndex]]/[[MaxSimIndex]]):
  *   - `pq_v{n}/centroids` — (centroid_id, centroid, cnorm), the
  *     coarse quantizer ([[Similarity.centFrame]] output, stored so
  *     probe routing is bit-identical to the build's assignment);
  *   - `pq_v{n}/lists`     — PARTITIONED BY `list` (the Voronoi cell):
  *     (neighbor_id, pq_code, vec, vnorm). One tree serves both probe
  *     stages BECAUSE parquet is columnar: the ADC candidate scan
  *     projects only (neighbor_id, pq_code) — 4·m bytes per row, the
  *     dims/m bandwidth shrink PQ exists for — while the exact rerank
  *     reads the `vec` column for only the ≤ |probes|·candidateK
  *     surviving rows. Dynamic partition pruning on the routed list ids
  *     keeps both reads to the probed cells.
  *   - `pq_v{n}/model`     — the integer-exact PQ codebooks as plain
  *     rows (sub, scale, cluster, centroid ARRAY<BIGINT>, dims):
  *     model-sized (m·k rows), collected at probe time — the same
  *     "codebook crosses the driver, corpus never does" budget every
  *     op here observes.
  *
  * [[topK]] replays [[Similarity.ivfPqTopK]]'s stages against the
  * stored frames — route to `nprobe` cells, ADC over stored codes to
  * `candidateK`, exact rerank to k — so persistence is invisible in the
  * result (`q_ann_ivfpq_persist` shares `q_ivf_pq_topk`'s oracle
  * verbatim, the q_ann_ivf_persist stance).
  *
  * APPENDS under FROZEN codebooks ([[append]] — FAISS
  * `IndexIVFPQ.add`): the delta is PQ-encoded with the STORED model and
  * routed with the STORED coarse centroids, landing files only under
  * the touched `list=` dirs. Exact by construction — a probe of
  * old ∪ delta equals a from-scratch build over old ∪ delta under the
  * same codebooks (`q_ann_ivfpq_upsert` gates that equality by
  * oracle). What stays refit-coupled is RECALL, not correctness: a
  * drifted delta quantizes worse under stale codebooks (larger ADC
  * error) and the coarse cells stop matching the corpus — periodic
  * refit + [[write]] remains the freshness cadence; append is the
  * between-rebuilds path.
  *
  * DELETES need no refit — removing rows leaves every stored code and
  * both codebooks exactly valid — and run [[IvfIndex]]'s lifecycle, one
  * implementation for both ([[IvfLists.Family]]): [[delete]] lands only
  * stored, not-yet-tombstoned ids under `pq_v{n}/tombstones/` (a
  * replayed delete appends nothing); [[topK]] masks them out of the
  * routed candidate stream BEFORE the ADC candidateK cut, so a
  * tombstoned probe EXACTLY equals a build over the survivors UNDER THE
  * SAME codebooks (`q_ann_ivfpq_delete`); [[compact]] always rewrites
  * the survivors with centroids and model CLONED, not refit, and
  * consumes the mask it folded. A deleted id is terminal until a
  * compact folds its mask — resurrect = compact, then append — except
  * that an all-tombstoned index keeps its mask, so replacing the whole
  * index is a [[write]].
  *
  * Single-writer, like every index here.
  */
object PqIndex {

  private val versions = new VersionedTree("pq")

  private val lists = new IvfLists.Family("PqIndex", versions,
    Seq("centroids", "model"), (gen, adds) => encodedLists(adds,
      "neighbor_id", "vec", storedCent(adds.sparkSession, gen),
      readModel(adds.sparkSession, gen)))

  def liveVersion(spark: SparkSession, path: String): String =
    versions.liveVersion(spark, path)

  /** Snapshot `srcPath`'s live generation (centroids + lists + model +
    * pending tombstones) into `dstPath` as an independent single-writer
    * tree — hard-linked when local ([[VersionedTree.branch]]).
    */
  def branch(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    versions.branch(spark, srcPath, dstPath): Unit

  /** Retire the live generation so the previous committed one serves
    * again (needs a `retain` > 1 commit history — see
    * [[VersionedTree.rollback]]).
    */
  def rollback(spark: SparkSession, path: String): Unit =
    versions.rollback(spark, path): Unit

  /** Routed + PQ-encoded rows in ONE corpus pass: the inverted-lists
    * frame already carries each row's full vector (`__nv`), and the PQ
    * code is one codebook-kernel call on that same vector
    * ([[Pq.nearest]]) — so encoding INSIDE the lists frame produces
    * bit-identical codes to a separate [[Pq.encode]] pass without the
    * second corpus scan or the neighbor_id join that re-shuffled both
    * sides to stitch them back together (guide §2.4: remove shuffles
    * outright). At corpus scale
    * this turns the build from (2 scans, 3 exchanges, 1 join) into
    * (1 scan, 2 exchanges: the argmax assignment and the cell-keyed
    * write placement).
    */
  private def encodedLists(corpus: DataFrame, idCol: String,
      vecCol: String, cent: DataFrame, model: PqModel): DataFrame =
    Similarity.invertedLists(corpus, idCol, vecCol, cent)
      .select(col("__list").as("list"), col("neighbor_id"),
        Pq.nearest(col("__nv"), model).getField("code").as("pq_code"),
        col("__nv").as("vec"), col("__nn").as("vnorm"))

  /** Build + commit a generation. `centroids` is the coarse codebook as
    * (centroid_id, centroid) — pass the same frame the inline path
    * derives so artifact and inline routing agree.
    */
  def write(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, vecCol: String, centroids: DataFrame,
      model: PqModel, maxRecordsPerFile: Long = 5000000L,
      retain: Int = 1): Unit = {
    val cent = Similarity.centFrame(centroids, "centroid_id", "centroid")
    versions.commitNext(spark, path, retain) { gen =>
      // Three independent trees (model is a driver object; the
      // centroid frame both writers read is model-sized and cheap to
      // evaluate twice): overlap the writes (guide §2.6) so the commit
      // costs ~the corpus-sized lists pass, not the sum of three
      // sequential jobs. The marker still lands after all three.
      Par.jobs(
        () => cent.select(col("__cid").as("centroid_id"),
            col("__cv").as("centroid"), col("__cn").as("cnorm"))
          .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids"),
        () => IvfLists.write(encodedLists(corpus, idCol, vecCol, cent, model),
          s"$gen/lists", "overwrite", maxRecordsPerFile),
        () => writeModel(spark, gen, model))
    }: Unit
  }

  /** Append a delta of NEW corpus vectors under the live generation's
    * FROZEN codebooks (see the object doc): stored-model PQ encode and
    * stored-centroid routing, one row per vector laid out exactly as
    * [[write]] lays it out. [[IvfIndex.append]]'s contract and crash
    * caveat apply unchanged.
    */
  def append(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    lists.append(spark, path, delta, idCol, vecCol, maxRecordsPerFile)

  /** A generation's coarse codebook in the [[Similarity.centFrame]]
    * shape (__cid, __cv, __cn).
    */
  private def storedCent(spark: SparkSession, gen: String): DataFrame =
    IvfLists.read(spark, s"$gen/centroids").select(
      col("centroid_id").as("__cid"), col("centroid").as("__cv"),
      col("cnorm").as("__cn"))

  /** REFIT the PQ codebooks on the index's own current live corpus and
    * commit the re-encoded index as a fresh generation — the ACTION the
    * drift trigger alarms for ([[Pq.quantizationDrift]] /
    * [[graft.streaming.StreamingPqDrift]]): appends under frozen
    * codebooks stay exact, but a drifted corpus quantizes worse and ADC
    * recall decays, and the fix is re-training the quantizer on what
    * the index NOW holds (FAISS retrains on the same cadence).
    *
    * Geometry (dims, m, k, integer scale) is inferred from the STORED
    * model so the refit index swaps in serving-compatible; the coarse
    * centroids are CLONED — refit refreshes the PQ codebooks, it does
    * not move rows between cells (routing unchanged ⇒ the rewrite is
    * cell-local and DPP-pruned probes see the same lists; a full
    * re-clustering of the coarse layer is a [[write]] with new
    * centroids). Pending tombstones are folded: the refit corpus is the
    * SURVIVORS, so the new generation carries no mask (a refit is a
    * rebuild — `q_ann_ivfpq_refit` gates stale-build + append + refit ≡
    * a from-scratch build whose model was fit on the full corpus).
    *
    * Cost, stated honestly: Lloyd re-scans the stored vectors once per
    * iteration (slim (vec)-column reads of the live lists) and the
    * survivor rewrite is one full pass — the price of a rebuild, which
    * is what a refit IS; run it on the drift cadence, not per batch.
    * Returns the refit model so a streaming monitor can re-reference
    * its drift ratios without a re-read. Single-writer, like every
    * mutation here.
    */
  def refit(spark: SparkSession, path: String, iterations: Int,
      maxRecordsPerFile: Long = 5000000L, retain: Int = 1): PqModel = {
    val live = liveVersion(spark, path)
    val stored = readModel(spark, s"$path/$live")
    val corpus = liveCorpus(spark, s"$path/$live")
    require(!corpus.isEmpty,
      s"refit of $path: no live (unmasked) rows — an empty index has " +
        "nothing to fit; repopulate with write()")
    val model = Pq.fit(corpus, "neighbor_id", "vec", stored.dims,
      stored.m, stored.models.head.k, iterations,
      stored.models.head.scale)
    // Model-sized; eager because write() commits a new generation and
    // then retires the one this frame reads from.
    val cent = IvfLists.read(spark, s"$path/$live/centroids")
      .select(col("centroid_id"), col("centroid"))
      .localCheckpoint(eager = true)
    // The corpus frame stays LAZY — write() consumes it fully inside
    // the commit block, before the old generation is retired, and a
    // data-sized localCheckpoint would double-materialize the index.
    write(spark, path, corpus, "neighbor_id", "vec", cent, model,
      maxRecordsPerFile, retain)
    Checkpoints.release(cent)
    model
  }

  /** Mean exact quantization error (recon_dist) of the live unmasked
    * corpus under the STORED model — the reference denominator a drift
    * monitor ratios incoming batches against ([[Pq.quantizationDrift]]
    * semantics with the index itself as the build cohort). One slim
    * (neighbor_id, vec) scan + map-only encode + one aggregation;
    * compute it at build/refit time and cache ([[StreamingPqRefit]]
    * re-reads it only when a refit lands).
    */
  def meanQuantizationError(spark: SparkSession, path: String): Double = {
    val live = liveVersion(spark, path)
    val model = readModel(spark, s"$path/$live")
    val r = Pq.errAgg(liveCorpus(spark, s"$path/$live"),
      "neighbor_id", "vec", model).collect()(0)
    require(r.getLong(0) > 0,
      s"meanQuantizationError of $path: no live rows")
    r.getLong(1).toDouble / r.getLong(0)
  }

  /** The live UNMASKED (neighbor_id, vec) rows of a generation — the
    * lists-minus-tombstones corpus [[refit]] and
    * [[meanQuantizationError]] share.
    */
  private def liveCorpus(spark: SparkSession, gen: String): DataFrame =
    lists.survivors(spark, gen).select(col("neighbor_id"), col("vec"))

  /** One micro-batch of streaming index maintenance — the foreachBatch
    * body behind [[graft.streaming.StreamingPqMaintenance]], and
    * [[IvfIndex.applyMaintenanceBatch]]'s lifecycle without its
    * `strictLiveCheck`: adds are encoded and routed under the FROZEN
    * stored codebooks (model and centroids read once per call) and
    * appended behind the touched-cell replay guard; deletes tombstone as
    * [[delete]] does; a same-id delete+add is an UPDATE that commits one
    * generation from one partitioned write, centroids and model CLONED
    * as in [[compact]].
    */
  def applyMaintenanceBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      opCol: String,
      maxRecordsPerFile: Long = 5000000L,
      retain: Int = 1): Unit =
    lists.applyBatch(spark, path, batch, idCol, vecCol, opCol,
      maxRecordsPerFile, wholeTree = false, retain)

  /** Tombstone a batch of stored ids (see the object doc). Replay-safe,
    * the rule of all four index families ([[VersionedTree.tombstone]]):
    * only currently-stored, not-yet-tombstoned ids land, so a
    * redelivered delete (or a delete of a never-stored id) appends
    * nothing.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit =
    lists.delete(spark, path, ids, idCol)

  /** [[IvfIndex.compact]], with the PQ model CLONED beside the
    * centroids (deletes must not move surviving codes): it always
    * rewrites the survivors one writer per cell, merging appended small
    * files, then deletes the folded generation's mask, so delete →
    * compact(retain = 2) → [[rollback]] resurrects the deleted ids. An
    * all-tombstoned index keeps its mask.
    */
  def compact(spark: SparkSession, path: String,
      maxRecordsPerFile: Long = 5000000L, retain: Int = 1): Unit =
    lists.compact(spark, path, maxRecordsPerFile, retain)

  /** Probe the stored index — result-identical to
    * [[Similarity.ivfPqTopK]] over the same corpus/centroids/model
    * (tombstoned ids masked out of the candidate stream BEFORE the ADC
    * candidateK cut, so a post-delete probe equals a survivors-only
    * build under the same codebooks).
    */
  def topK(spark: SparkSession, path: String, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, candidateK: Int,
      nprobe: Int = 4): DataFrame = {
    require(candidateK >= k, "candidateK must be >= k")
    val live = liveVersion(spark, path)
    val model = readModel(spark, s"$path/$live")
    val cent = storedCent(spark, s"$path/$live")
    val stored = IvfLists.read(spark, s"$path/$live/lists")
    // The pq_code column RIDES the routed candidate join (extra columns
    // on the lists frame survive ivfCandidates): the ADC stage scores
    // codes read off this same partition-pruned scan instead of
    // re-joining the full code table — at corpus scale the probe's only
    // scans are the probed cells. Catalyst prunes __nv/__nn back out of
    // the parquet read (the select below drops them), so the scan stays
    // (neighbor_id, pq_code)-slim.
    val lists = stored.select(col("list").as("__list"),
      col("neighbor_id"), col("pq_code"),
      col("vec").as("__nv"), col("vnorm").as("__nn"))
    val codedRaw = Similarity.ivfCandidates(probes, idCol, vecCol, cent,
        lists, nprobe)
      .select(col("query_id"), col("neighbor_id"), col("pq_code"))
    // Tombstone mask lands on the ROUTED candidate stream, not the
    // parquet scan: masking before the ADC candidateK cut is what makes
    // a post-delete probe equal a survivors-only build, and keeping the
    // scan untouched preserves its dynamic partition pruning (the
    // plan-shape contract PqIndexSpec pins). The rerank below only sees
    // ADC survivors, so the mask here covers it too.
    val coded = VersionedTree.masked(spark, s"$path/$live", codedRaw,
      "neighbor_id")
    val adc = Pq.adcTopKOnCoded(probes, coded, idCol, vecCol, model,
      candidateK)
    // Exact rerank reads the vec column ONLY from the probed cells: the
    // semi-join on the bare partition attribute prunes the vector scan
    // to the ROUTED lists (candidates live there by construction; the
    // prune set comes from probeRouting — the identical routing, no
    // corpus-side re-execution), then the shared rerank joins the
    // ≤ |probes|·candidateK rows.
    val routedLists = Similarity.probeRouting(probes, idCol, vecCol,
        cent, nprobe)
      .select(col("__list").as("list")).distinct()
    val corpusV = stored.select(col("list"), col("neighbor_id"),
        col("vec"))
      .join(broadcast(routedLists), Seq("list"), "left_semi")
      .select(col("neighbor_id").as(idCol), col("vec").as(vecCol))
    Pq.exactRerank(adc, probes, corpusV, idCol, vecCol, k)
  }

  // ------------------------------------------------------------- model

  private def writeModel(spark: SparkSession, gen: String,
      model: PqModel): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until model.m
      km = model.models(s)
      c <- 0 until km.k
    } yield (s, km.scale, c, km.centroids(c).toSeq, model.dims)
    rows.toDF("sub", "scale", "cluster", "centroid", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/model")
  }

  private[graft] def readModel(spark: SparkSession, gen: String): PqModel = {
    val rows = IvfLists.read(spark, s"$gen/model")
      .select(col("sub"), col("scale"), col("cluster"), col("centroid"),
        col("dims"))
      .collect() // model-sized: m·k rows
    require(rows.nonEmpty, s"empty PQ model under $gen")
    val dims = rows.head.getInt(4)
    val bySub = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    val models = bySub.map { case (_, rs) =>
      val scale = rs.head.getLong(1)
      val cents = rs.sortBy(_.getInt(2))
        .map(_.getSeq[Long](3).toArray).toArray
      KMeansModel(scale, cents)
    }.toArray
    PqModel(dims, models)
  }
}
