package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable IVF index: build the codebook + inverted lists ONCE, write
  * them as parquet, and serve any number of probe batches from the stored
  * artifact — the build-once/probe-many shape real retrieval workloads
  * have (the inline [[Similarity.ivfTopKWith]] re-derives assignments on
  * every call, which is right for one-shot analytics and wrong for a
  * query service fielding thousands of probe batches).
  *
  * Layout under `path` (generations via [[VersionedTree]] — the
  * [[PqIndex]] layout minus the PQ model; every [[write]], [[refit]],
  * [[compact]] and update batch commits the next generation):
  *   - `ivf_v{n}/centroids` — (centroid_id, centroid ARRAY<DOUBLE>,
  *     cnorm): nlist rows, broadcast at probe time. The codebook lives
  *     INSIDE the generation, so a codebook and the lists it routed
  *     commit, roll back and branch as one unit;
  *   - `ivf_v{n}/lists` — (neighbor_id, vec, vnorm) PARTITIONED BY
  *     `list`: each corpus vector exactly once, keyed by its Voronoi
  *     cell;
  *   - `ivf_v{n}/tombstones` — the ids [[delete]] masked, present only
  *     while deletes are pending.
  * Readers resolve the highest generation carrying the `_GRAFT_COMMIT`
  * marker ONCE per call, so a crash at any point of a commit leaves the
  * previous generation serving and the torn one is numbered past.
  *
  * Why `partitionBy(list)` is the load-bearing choice: the probe join's
  * key IS the partition column, and the probe side (queries × nprobe
  * rows) broadcasts — so Spark's dynamic partition pruning turns each
  * probe batch into a scan of ONLY the probed lists' directories. At
  * nlist=4096 and nprobe=8 a batch touches ~0.2% of the corpus bytes;
  * that multiplier is the entire point of IVF, and it survives here
  * WITHOUT a custom reader because the layout lines up with Spark's own
  * pruning machinery. `repartition(list)` before the write keeps it to
  * one writer per list (no small-files explosion); stored vnorm spares
  * every probe batch the norm recompute.
  *
  * Results are identical to the inline path on the same codebook
  * (spec-gated: IvfIndexSpec, oracle-gated: q_ann_ivf_persist).
  */
object IvfIndex {

  private val versions = new VersionedTree("ivf")

  private val lists = new IvfLists.Family("IvfIndex", versions,
    Seq("centroids"), (gen, adds) => listRows(adds, "neighbor_id", "vec",
      storedCent(adds.sparkSession, gen)))

  /** Highest committed generation name, e.g. "ivf_v3". */
  def liveVersion(spark: SparkSession, path: String): String =
    versions.liveVersion(spark, path)

  /** Build the index from a corpus and a caller-supplied codebook (pair
    * with [[graft.ml.KMeans.centroidFrame]], or any sampled frame) and
    * commit it as the next generation under `path`.
    *
    * The codebook and the lists land in the new generation directory and
    * its commit marker lands after both, so a crash at any point leaves
    * the previous codebook + lists pairing serving. `retain` keeps the
    * newest N committed generations (default 1 — live only); a retained
    * generation keeps its pending tombstones, so a [[rollback]] of a bad
    * rebuild restores the exact pre-rebuild serving state, deletes
    * included. The new generation starts with no mask: a rebuild is a
    * fresh index.
    */
  def write(
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centIdCol: String = "centroid_id",
      centVecCol: String = "centroid",
      maxRecordsPerFile: Long = 5000000L,
      retain: Int = 1): Unit = {
    val cent = Similarity.centFrame(centroids, centIdCol, centVecCol)
    versions.commitNext(corpus.sparkSession, path, retain) { gen =>
      // The codebook and lists trees are independent (the model-sized
      // cent frame both read is cheap to evaluate twice): overlap the
      // writes (guide §2.6). The marker still lands after both.
      Par.jobs(
        () => cent.select(col("__cid").as("centroid_id"),
            col("__cv").as("centroid"), col("__cn").as("cnorm"))
          .write.mode("overwrite").parquet(s"$gen/centroids"),
        () => IvfLists.write(listRows(corpus, idCol, vecCol, cent),
          s"$gen/lists", "overwrite", maxRecordsPerFile))
    }: Unit
  }

  /** Snapshot `srcPath`'s live generation (codebook + lists + pending
    * tombstones) into `dstPath` as an independent single-writer tree —
    * hard-linked when local ([[VersionedTree.branch]]).
    */
  def branch(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    versions.branch(spark, srcPath, dstPath): Unit

  /** Append a delta of NEW corpus vectors into the persisted lists
    * without rewriting untouched lists: each delta vector is assigned to
    * its Voronoi cell with the STORED codebook (same argmax + tie-break
    * as [[write]], so it lands in exactly the cell a from-scratch
    * rebuild would put it in), and files land ONLY under the `list=`
    * directories the delta touches. Probe parity with a from-scratch
    * build over old∪delta is gated by the spec and `q_ann_ivf_upsert`.
    *
    * Contract: delta ids must be NEW — never stored (append, not upsert)
    * and never tombstoned-but-uncompacted (tombstones carry no sequence
    * numbers, so the re-appended id stays masked and the next [[compact]]
    * drops it; to resurrect an id, compact first, then append). Small
    * files accumulate per touched list until a [[compact]].
    *
    * Crash caveat: an append lands files directly in the LIVE generation
    * with no version swap, so a crash mid-append leaves a torn delta
    * visible, and re-running it would duplicate the rows that landed.
    * Recovery is delete the delta ids, [[compact]], re-append; the
    * maintenance batch's replay guard ([[applyMaintenanceBatch]]) heals
    * a torn batch by itself.
    */
  def append(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    lists.append(spark, path, delta, idCol, vecCol, maxRecordsPerFile)

  /** Corpus rows assigned to their Voronoi cell under `cent`, in the
    * stored list layout (list, neighbor_id, vec, vnorm).
    */
  private def listRows(corpus: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame): DataFrame =
    Similarity.invertedLists(corpus, idCol, vecCol, cent)
      .select(col("__list").as("list"), col("neighbor_id"),
        col("__nv").as("vec"), col("__nn").as("vnorm"))

  /** One micro-batch of streaming index maintenance — the foreachBatch
    * body behind [[graft.streaming.StreamingIvfMaintenance]], and the
    * lifecycle [[PqIndex.applyMaintenanceBatch]] shares. The batch
    * carries an `opCol` of 'add' / 'delete' rows, classified by one
    * aggregate; deletes tombstone as [[delete]] does, and adds are
    * assigned with the stored codebook and appended.
    *
    * IDEMPOTENT under at-least-once replay, which [[append]] alone is
    * not: adds are anti-joined against the ids ALREADY STORED in the
    * lists the batch touches (a semi-join on the `list` partition key,
    * so dynamic partition pruning reads only those cells), and deletes
    * follow [[delete]]'s replay-safe rule. A replayed add re-derives the
    * same assignment, so the check always sees it — but it is EXACTLY a
    * replay guard: a live id whose CHANGED vector assigns to another list
    * lands live twice. Adds are inserts, not upserts; for feeds that may
    * re-embed live ids, `strictLiveCheck = true` checks the adds against
    * the FULL tree's neighbor_id column (one id-column scan per batch)
    * and drops them with a count in the maintenance log.
    *
    * Across batches a delete is terminal until the next [[compact]]
    * folds it: an add of a tombstoned-but-uncompacted id lands masked.
    * SAME-ID delete + add in ONE batch is an UPDATE, and an update batch
    * commits ONE new generation from one partitioned write: the stored
    * rows minus (pending tombstones ∪ the batch's deletes), plus the
    * adds guarded against those survivors — one file per list and no
    * tombstones, never empty (an update keeps its add). A redelivered
    * update converges. `retain` passes through, and the retained
    * generation keeps its pending tombstones, so a [[rollback]] restores
    * exactly the pre-batch probes. Single writer, as everywhere here.
    */
  def applyMaintenanceBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      opCol: String,
      maxRecordsPerFile: Long = 5000000L,
      strictLiveCheck: Boolean = false,
      retain: Int = 1): Unit =
    lists.applyBatch(spark, path, batch, idCol, vecCol, opCol,
      maxRecordsPerFile, strictLiveCheck, retain)

  /** Mark stored vectors DELETED without touching the lists: ids land in
    * the live generation's `tombstones/` and every probe anti-joins them
    * out before scoring — the LSM delete a parquet-backed index can do
    * (FAISS `remove_ids` rewrites in place). Replay-safe, the rule of all
    * four index families ([[VersionedTree.tombstone]]): only ids that are
    * stored and not yet tombstoned land, so a redelivered delete, or a
    * delete of an id never stored, appends nothing. The mask belongs to
    * its generation, so a rebuild's readers never see it; [[compact]]
    * folds it, restoring probe cost. Tombstones are assumed
    * COMPACTION-BOUNDED: the probe broadcasts them.
    */
  def delete(
      spark: SparkSession,
      path: String,
      ids: DataFrame,
      idCol: String): Unit =
    lists.delete(spark, path, ids, idCol)

  /** REFIT the coarse codebook from the index's OWN live rows and
    * rebuild — the routing layer's drift ACTION ([[routingDrift]] /
    * StreamingIvfDrift alarm; [[graft.ops.PqIndex.refit]]'s sibling,
    * but for the layer where a refit means NEW Voronoi cells, so it is
    * a full [[write]] — no frozen-codebook shortcut exists up here).
    * The new codebook re-applies the deterministic value-keyed
    * sampling rule (`id % centroidMod == 0 && id < centroidCap`, the
    * family the inline [[Similarity.ivfTopK]] samples) over the
    * SURVIVORS — a drifted cohort that appended under stale cells now
    * contributes centroids, and the rebuilt partition covers its
    * region (`q_ann_ivf_refit` gates stale-codebook build + append +
    * refit ≡ a from-scratch build whose codebook sampled the full
    * corpus). A LEARNED-codebook upgrade stays the caller's:
    * [[graft.ml.KMeans]] fit + centroidFrame + [[write]]. Pending
    * tombstones fold (the refit corpus is the survivors); cost is a
    * rebuild, which is what an IVF refit IS — run on the drift
    * cadence.
    *
    * The new codebook and its lists commit as one generation through
    * [[write]]: a crash anywhere leaves the old pairing serving, and a
    * `retain` > 1 refit is [[rollback]]-able to the previous generation
    * with ITS codebook.
    */
  def refit(spark: SparkSession, path: String, centroidMod: Long,
      centroidCap: Long = Long.MaxValue,
      maxRecordsPerFile: Long = 5000000L, retain: Int = 1): Unit = {
    // The corpus frame stays LAZY (it is consumed fully by the list
    // write, before the old generation retires; a data-sized checkpoint
    // would double-materialize the index) — but the codebook-sized
    // centroid frame is EAGER: it feeds the codebook write, the require,
    // and the broadcast assignment, and re-deriving it lazily would
    // re-scan the full index once per consumer.
    val corpus = lists.survivors(spark, s"$path/${liveVersion(spark, path)}")
      .select(col("neighbor_id"), col("vec"))
    val centRows = corpus
      .filter(pmod(col("neighbor_id"), lit(centroidMod)) === 0 &&
        col("neighbor_id") < centroidCap)
      .select(col("neighbor_id").as("centroid_id"),
        col("vec").as("centroid"))
      .localCheckpoint(eager = true)
    if (centRows.isEmpty) {
      Checkpoints.release(centRows)
      throw new IllegalArgumentException(
        s"refit of $path: the rule (id % $centroidMod == 0, id < " +
          s"$centroidCap) sampled no centroids from the live rows — a " +
          "codebook-less index would serve nothing; pick a rule the " +
          "corpus satisfies or supply a learned codebook via write()")
    }
    write(path, corpus, "neighbor_id", "vec", centRows,
      maxRecordsPerFile = maxRecordsPerFile, retain = retain)
    Checkpoints.release(centRows)
  }

  /** [[Similarity.routingDrift]] with the INDEX ITSELF as the build
    * cohort: the stored lists already materialize the assignment (the
    * `list` partition key IS each row's argmax centroid), so the
    * reference side needs no argmax scan — one equi-join of the live
    * unmasked rows against the broadcast stored codebook scores each
    * row against exactly its OWN centroid, while the delta side pays
    * the usual assignment scan. Same output row and the same
    * 1e-4-quantized integer error sums as the inline form; alarm →
    * re-cluster + [[write]] (the IVF refit is a rebuild with a NEW
    * codebook — there is no frozen-codebook shortcut for the routing
    * layer, and re-encoding is the PQ side's problem, not this one's).
    */
  def routingDrift(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val gen = s"$path/${liveVersion(spark, path)}"
    val centStored = storedCent(spark, gen)
    val buildErr = liveRoutingErr(spark, gen, centStored)
      .toDF("build_n", "build_err")
    val deltaErr = Similarity.routingErrAgg(delta, idCol, vecCol,
      centStored).toDF("delta_n", "delta_err")
    buildErr.crossJoin(deltaErr)
      .select(col("build_n"), col("build_err"), col("delta_n"),
        col("delta_err"),
        round((col("delta_err") / col("delta_n")) /
          (col("build_err") / col("build_n")), 4).as("drift_ratio"))
  }

  /** The live generation's stored codebook in the normalized
    * broadcast-small (__cid long, __cv, __cn) frame shape every reader
    * shares ([[Similarity.centFrame]]'s contract).
    */
  private[graft] def storedCentFrame(spark: SparkSession,
      path: String): DataFrame =
    storedCent(spark, s"$path/${liveVersion(spark, path)}")

  private def storedCent(spark: SparkSession, gen: String): DataFrame =
    IvfLists.read(spark, s"$gen/centroids")
      .select(col("centroid_id").cast("long").as("__cid"),
        col("centroid").as("__cv"), col("cnorm").as("__cn"))

  /** Mean 1e-4-quantized angular slack of the live unmasked rows to
    * their OWN stored centroid — [[routingDrift]]'s build-side mean
    * alone, the pre-aggregated reference denominator a drift monitor
    * caches ([[graft.ops.PqIndex.meanQuantizationError]]'s sibling).
    * One equi-join scan of the live lists against the broadcast stored
    * codebook.
    */
  def meanRoutingError(spark: SparkSession, path: String): Double = {
    val gen = s"$path/${liveVersion(spark, path)}"
    val r = liveRoutingErr(spark, gen, storedCent(spark, gen)).collect()(0)
    require(r.getLong(0) > 0, s"meanRoutingError of $path: no live rows")
    r.getLong(1).toDouble / r.getLong(0)
  }

  /** (n, Σ quantized slack) of the live unmasked rows against their
    * OWN stored centroid — the no-argmax scan [[routingDrift]] and
    * [[meanRoutingError]] share (the stored `list` key IS the argmax).
    */
  private def liveRoutingErr(spark: SparkSession, gen: String,
      centStored: DataFrame): DataFrame = {
    lists.survivors(spark, gen)
      .select(col("list").cast("long").as("__cid"), col("vec"),
        col("vnorm"))
      .join(broadcast(centStored), Seq("__cid"))
      .select((Similarity.dot(col("vec"), col("__cv")) /
        (col("vnorm") * col("__cn"))).as("__best"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round((lit(1.0) - col("__best")) * 10000).cast("long"))
          .cast("long").as("err"))
  }

  /** Rewrite the inverted lists back to one writer per list, merging the
    * small files [[append]] accumulates and folding pending tombstones:
    * the survivors commit as the next generation beside a hard link of
    * the live codebook (deletes never move centroids). Every compact
    * rewrites, tombstones pending or not; [[PqIndex.compact]] is the
    * same implementation.
    *
    * MASK CONSUMPTION: after the commit the folded generation's
    * `tombstones/` is deleted, so with `retain` > 1 delete →
    * compact(retain = 2) → [[rollback]] RESURRECTS the deleted ids — the
    * bad-delete-shipped undo. (A crash between the commit and that
    * delete leaves the mask, and a rollback then restores the
    * post-delete state instead.) An ALL-TOMBSTONED index keeps its mask
    * instead of committing an empty generation: NEW ids still append and
    * serve, but repopulating the masked ids needs a rebuild ([[write]]).
    * A reader that resolved the retired generation can still fail
    * mid-scan; deployments should defer its delete by a scan-length grace
    * period (the gold compactor's retention discipline).
    */
  def compact(
      spark: SparkSession,
      path: String,
      maxRecordsPerFile: Long = 5000000L,
      retain: Int = 1): Unit =
    lists.compact(spark, path, maxRecordsPerFile, retain)

  /** Retire the live generation so the previous committed one serves
    * again, codebook included — possible only when the superseding
    * commit ran with `retain` > 1 ([[VersionedTree.rollback]]). The
    * restored generation keeps whatever mask it still has: a rebuild,
    * refit or update batch leaves it, a completed [[compact]] consumed
    * it. Returns the restored generation's name.
    */
  def rollback(spark: SparkSession, path: String): String =
    versions.rollback(spark, path)

  /** Serve one probe batch from the stored artifact. Same output contract
    * as [[Similarity.ivfTopKWith]]: (query_id, neighbor_id, rank, cos).
    */
  def topK(
      spark: SparkSession,
      path: String,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 3): DataFrame = {
    // Tombstoned rows leave the candidate stream BEFORE scoring — a
    // broadcast anti-join on neighbor_id after the list scan, so dynamic
    // partition pruning on `list` is undisturbed.
    val gen = s"$path/${liveVersion(spark, path)}"
    val live = lists.survivors(spark, gen)
    val cent = IvfLists.read(spark, s"$gen/centroids").select(
      IvfLists.listKey(col("centroid_id"), live.schema("list").dataType)
        .as("__cid"),
      col("centroid").as("__cv"), col("cnorm").as("__cn"))
    Similarity.probeInvertedLists(probes, idCol, vecCol, k, cent,
      live.select(col("list").as("__list"), col("neighbor_id"),
        col("vec").as("__nv"), col("vnorm").as("__nn")),
      nprobe)
  }
}
