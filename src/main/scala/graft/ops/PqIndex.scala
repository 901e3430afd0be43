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
  * both codebooks exactly valid — so the [[MaxSimIndex]] pure-mask
  * pattern completes the life cycle here too: [[delete]] appends doc
  * ids under the live generation (`pq_v{n}/tombstones/`, only
  * currently-stored ids land, so a replayed delete appends nothing),
  * [[topK]] anti-joins them out of the routed candidate stream BEFORE
  * the ADC candidateK cut (the rerank only sees ADC survivors, so one
  * mask covers both stages and the DPP-pruned scans stay untouched) —
  * making a tombstoned probe EXACTLY equal a probe of a from-scratch
  * build over
  * the survivors UNDER THE SAME codebooks (`q_ann_ivfpq_delete` gates
  * that equality by oracle) — and [[compact]] folds the mask into a
  * rewritten generation whose centroids and model are CLONED, not
  * refit (re-quantizing on a delete would silently move every
  * surviving code). A deleted id is terminal until [[compact]] folds
  * its mask ([[IvfIndex]]'s stance): re-[[append]]ing it earlier lands
  * rows that stay masked and that the next compact drops — resurrect =
  * compact first, then append. ONE caveat: when the mask covers the
  * ENTIRE index, compact keeps the mask instead of committing an
  * unreadable empty tree (see [[compact]]), so the fold never happens
  * and resurrect-by-compact is unreachable — a whole-index replacement
  * is a [[write]] (rebuild), which clears the consumed mask with the
  * retired tree.
  *
  * Single-writer, like every index here.
  */
object PqIndex {

  private val versions = new VersionedTree("pq")

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
    * FROZEN codebooks (see the object doc): stored-model PQ encode +
    * stored-centroid routing, append-mode partitioned write touching
    * only the delta's cells — one columnar row per vector carrying
    * (pq_code, vec, vnorm) exactly as [[write]] lays it out, so ADC
    * and rerank serve appended rows indistinguishably from built ones.
    *
    * Contract mirrors [[IvfIndex.append]]: delta ids must be NEW —
    * never currently stored (append, not upsert) and never
    * tombstoned-but-uncompacted (the mask wins until [[compact]], which
    * then drops the re-appended copy too; resurrect = compact, then
    * append). Appends land in the LIVE generation with no version
    * swap, so a crash mid-append leaves a torn delta — recovery is
    * delete-the-delta-ids → compact → re-append. Small files
    * accumulate per touched cell; compact on the usual cadence.
    */
  def append(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val gen = s"$path/${liveVersion(spark, path)}"
    IvfLists.write(encodedLists(delta, idCol, vecCol, storedCent(spark, gen),
      readModel(spark, gen)), s"$gen/lists", "append", maxRecordsPerFile)
  }

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
    survivors(spark, gen).select(col("neighbor_id"), col("vec"))

  /** A generation's stored list rows minus its tombstones and the
    * optional `alsoMasked` ids (a `neighbor_id` column). The mask is
    * tombstone- plus batch-sized — broadcast.
    */
  private def survivors(spark: SparkSession, gen: String,
      alsoMasked: Option[DataFrame] = None): DataFrame = {
    val lists = IvfLists.read(spark, s"$gen/lists")
    (VersionedTree.tombstones(spark, gen)
        .map(_.select(col("neighbor_id"))) ++
        alsoMasked.map(_.select(col("neighbor_id").cast("long"))))
      .reduceOption(_ unionByName _)
      .fold(lists)(m => lists.join(broadcast(m), Seq("neighbor_id"),
        "left_anti"))
  }

  /** One micro-batch of streaming index maintenance — the foreachBatch
    * body behind [[graft.streaming.StreamingPqMaintenance]], completing
    * the four-family maintenance story (graph, IVF, token, IVF-PQ).
    * The batch carries an `opCol` of 'add' / 'delete' rows, classified
    * by one aggregate: adds are encoded + routed ONCE under the FROZEN
    * stored codebooks (model and centroids read once per call) and
    * appended behind the touched-cell replay guard of
    * [[IvfIndex.applyMaintenanceBatch]] (a redelivered batch appends
    * exactly the missing rows); deletes tombstone through [[delete]]
    * (already replay-safe).
    *
    * A SAME-id delete+add is an UPDATE, and an update batch commits ONE
    * new generation from one partitioned write: the stored rows minus
    * (pending tombstones ∪ the batch's deletes), plus the adds guarded
    * against those survivors, with centroids and model CLONED as in
    * [[compact]]. The generation is never empty — an update always
    * keeps its add. `retain` passes through, and the previous
    * generation is left untouched, so a rollback restores exactly the
    * pre-batch probes. Single-writer, as everywhere.
    */
  def applyMaintenanceBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      opCol: String,
      maxRecordsPerFile: Long = 5000000L,
      retain: Int = 1): Unit = {
    val shape = IvfLists.classify(batch, idCol, vecCol, opCol)
    val counts = new IvfLists.GuardCounts(shape.adds)
    val live = liveVersion(spark, path)
    val gen = s"$path/$live"
    // Adds encoded with the stored codebooks, in the stored column
    // types, behind the replay guard over `stored`.
    def fresh(stored: DataFrame): DataFrame = {
      val adds = IvfLists.adds(batch, idCol, vecCol, opCol)
        .select(col(idCol),
          col(vecCol).cast(stored.schema("vec").dataType).as(vecCol))
      IvfLists.guard(encodedLists(adds, idCol, vecCol,
          storedCent(spark, gen), readModel(spark, gen)),
        stored, wholeTree = false, counts)
    }
    if (shape.update) {
      val kept = survivors(spark, gen,
        Some(IvfLists.deletes(batch, idCol, opCol)))
      commitLists(spark, path, live, kept.unionByName(fresh(kept)),
        maxRecordsPerFile, retain)
    } else {
      if (shape.deletes)
        delete(spark, path, IvfLists.deletes(batch, idCol, opCol),
          "neighbor_id")
      if (shape.adds > 0) IvfLists.write(
        fresh(IvfLists.read(spark, s"$gen/lists")), s"$gen/lists",
        "append", maxRecordsPerFile)
    }
    counts.log("PqIndex")
  }

  /** Tombstone a batch of stored ids (see the object doc). Replay-safe:
    * only currently-stored, not-yet-tombstoned ids land, so a
    * redelivered delete (or a delete of a never-stored id) appends
    * nothing. The presence check is one slim neighbor_id-column scan
    * with the batch side broadcast — batch-bounded, never a shuffle of
    * the index.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    val gen = s"$path/${liveVersion(spark, path)}"
    val batch = ids.select(col(idCol).cast("long").as("neighbor_id"))
      .distinct()
    val pending = VersionedTree.tombstones(spark, gen).fold(batch)(t =>
      batch.join(broadcast(t.select(col("neighbor_id"))), Seq("neighbor_id"),
        "left_anti"))
    val present = IvfLists.read(spark, s"$gen/lists")
      .select(col("neighbor_id"))
      .join(broadcast(pending), Seq("neighbor_id"), "left_semi")
      .distinct()
      .localCheckpoint(eager = true)
    if (!present.isEmpty)
      present.coalesce(1).write.mode("append").parquet(s"$gen/tombstones")
    Checkpoints.release(present)
  }

  /** Fold pending tombstones into a rewritten committed generation:
    * survivor lists are rewritten (one writer per cell, like [[write]]),
    * while the centroids and the PQ model are CLONED from the live
    * generation — deletes must not move surviving codes (see the object
    * doc). No-op when nothing is tombstoned.
    */
  def compact(spark: SparkSession, path: String,
      maxRecordsPerFile: Long = 5000000L, retain: Int = 1): Unit = {
    val live = liveVersion(spark, path)
    if (VersionedTree.tombstones(spark, s"$path/$live").isEmpty) return
    val kept = survivors(spark, s"$path/$live")
    // An ALL-TOMBSTONED index keeps its mask: committing a generation
    // whose lists dir holds zero rows would land `_GRAFT_COMMIT` over a
    // parquet tree with no data files, and every later [[topK]] read of
    // the resolved generation dies on schema inference
    // (UNABLE_TO_INFER_SCHEMA). The mask already hides everything, so
    // skipping the rewrite is probe-identical ([[IvfIndex.compact]] /
    // MaxSimIndex.readToks stance).
    if (kept.isEmpty) {
      System.err.println(s"[graft] PqIndex.compact: every stored row " +
        s"under $path is tombstoned — keeping the mask instead of " +
        "committing an empty generation. This mask can never be folded " +
        "(every compact would re-hit this case): repopulate with a " +
        "rebuild (write), which clears it")
      return
    }
    commitLists(spark, path, live, kept, maxRecordsPerFile, retain)
  }

  /** Commit `rows` (the stored list layout) as the next generation's
    * lists, with the live generation's centroids and PQ model CLONED —
    * deletes and updates must not move surviving codes. The one rewrite
    * [[compact]] and an update batch share.
    */
  private def commitLists(spark: SparkSession, path: String, live: String,
      rows: DataFrame, maxRecordsPerFile: Long, retain: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    versions.commitNext(spark, path, retain) { gen =>
      IvfLists.write(rows, s"$gen/lists", "overwrite", maxRecordsPerFile)
      Seq("centroids", "model").foreach(t =>
        TreeClone.linkOrCopy(
          new org.apache.hadoop.fs.Path(s"$path/$live/$t"),
          new org.apache.hadoop.fs.Path(s"$gen/$t"), conf))
    }: Unit
  }

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
    val tomb = VersionedTree.tombstones(spark, s"$path/$live")
      .map(_.select(col("neighbor_id")))
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
    val coded = tomb match {
      case None => codedRaw
      case Some(t) =>
        codedRaw.join(broadcast(t.distinct()), Seq("neighbor_id"),
          "left_anti")
    }
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
