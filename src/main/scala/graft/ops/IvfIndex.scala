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
  * Layout under `path`:
  *   - `centroids/` — (centroid_id, centroid ARRAY<DOUBLE>, cnorm):
  *     nlist rows, broadcast at probe time. A [[refit]] (which CHANGES
  *     the codebook) instead writes a VERSION-KEYED
  *     `centroids_lists_v{n}` paired with its tree, so codebook and
  *     lists swap atomically under the tree's `_SUCCESS`; readers
  *     resolve via [[centDir]] (keyed-if-present, legacy otherwise),
  *     [[compact]] carries the keyed dir to the compacted tree name,
  *     and [[rollback]] retires it with its tree;
  *   - `lists_v{n}/` (every [[write]], [[compact]] and update batch
  *     emits the next version; a pre-versioning `lists/` tree is still
  *     resolvable) —
  *     (neighbor_id, vec, vnorm) PARTITIONED BY `list`: each corpus
  *     vector exactly once, keyed by its Voronoi cell. Readers resolve
  *     the live tree via [[liveLists]] — the highest
  *     `_SUCCESS`-committed version — so both rebuild and compaction
  *     swaps are crash-safe without renames.
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

  /** Build the index from a corpus and a caller-supplied codebook (pair
    * with [[graft.ml.KMeans.centroidFrame]], or any sampled frame) and
    * persist it under `path` (overwrite).
    *
    * Crash-safety: the fresh list tree is written as the NEXT
    * `lists_v{n+1}` — the same commit path as [[compact]] — so it
    * becomes visible to [[liveLists]] exactly when the committer drops
    * `_SUCCESS`, and stale versions (plus any pre-versioning `lists`
    * tree) are deleted only AFTER that commit. A crash at any point
    * leaves the previous committed tree resolvable; the old
    * delete-then-write order could strand a path with centroids but no
    * list tree at all. Remaining caveat, documented not solved: the
    * centroids/ overwrite is a separate action, so a rebuild that
    * CHANGES the codebook has a window where readers pair new centroids
    * with the old committed lists — cell routing degrades (recall), but
    * every returned row is still a real stored vector with a correct
    * score. Full pair-atomicity needs a manifest; out of scope for a
    * single-writer maintenance job.
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
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val cent = Similarity.centFrame(centroids, centIdCol, centVecCol)
    val spark = corpus.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = s"lists_v${maxVersion(fs, root) + 1}"
    // The codebook and lists trees are independent (the model-sized cent
    // frame both read is cheap to evaluate twice) — overlap the writes
    // (guide §2.6). The commit point is still the lists tree's
    // _SUCCESS, but the overlap adds a crash pairing the sequential order
    // could not produce: a COMMITTED new tree beside a torn centroids
    // overwrite. Readers route with whatever centroid files landed (the
    // recall-only caveat above) or fail the codebook read if none did;
    // pair-atomicity needs [[refit]]'s version-keyed codebook.
    Par.jobs(
      () => cent.select(col("__cid").as("centroid_id"),
          col("__cv").as("centroid"), col("__cn").as("cnorm"))
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => IvfLists.write(listRows(corpus, idCol, vecCol, cent),
        s"$path/$next", "overwrite", maxRecordsPerFile))
    // Only now — the new tree is committed and outranks everything —
    // drop superseded trees beyond the retention window. `retain`
    // keeps the newest N COMMITTED trees (default 1 — live only): a
    // retention > 1 buys [[rollback]] of a bad rebuild, and a RETAINED
    // tree keeps its keyed tombstone dir too, because those masks are
    // part of the serving state a rollback must restore (the deletes
    // were intentional, independent of the rebuild being undone).
    // Tombstone dirs are KEYED TO THEIR LIST TREE
    // (`tombstones_lists_v{n}` — see [[delete]]), so readers of the
    // committed new tree never consult a retained tree's masks even
    // without any cleanup; the deletes below are garbage collection,
    // not correctness. (The legacy unversioned `tombstones` dir is
    // always cleared — pre-migration indexes keep the old
    // single-writer caveat until their first rebuild.)
    retireSuperseded(fs, root, path, retain, consumed = Set.empty)
  }

  /** Committed `lists_v{n}` tree names under `path`, version-ascending —
    * the ONE definition of "committed" retention, rollback and reads
    * must agree on.
    */
  private def committedTrees(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    (if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath.getName)
     else Seq.empty)
      .filter(_.matches("lists_v\\d+"))
      .filter(n => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/$n/_SUCCESS")))
      .sortBy(_.stripPrefix("lists_v").toInt)
  }

  /** Post-commit cleanup shared by [[write]], [[refit]] and
    * every list-tree commit ([[compact]], update batches): keep the
    * newest `retain` COMMITTED list trees (with their keyed tombstone
    * dirs — a retained tree's masks are its serving state), delete
    * every other `lists*` tree (torn leftovers included), the legacy
    * unversioned `lists`/`tombstones`, and the tombstone dirs in
    * `consumed` (masks a compaction just folded — kept trees whose
    * masks were consumed roll back to their PRE-delete state, which is
    * exactly the bad-delete-shipped undo [[rollback]] exists for).
    */
  private def retireSuperseded(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, path: String, retain: Int,
      consumed: Set[String]): Unit = {
    val keep = committedTrees(fs, path).takeRight(retain).toSet
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n == "lists" || (n.matches("lists_v\\d+") && !keep.contains(n))) ||
        (n.startsWith("centroids_") &&
          !keep.contains(n.stripPrefix("centroids_"))) ||
        (n == "tombstones" ||
          (n.startsWith("tombstones_") &&
            !keep.contains(n.stripPrefix("tombstones_"))) ||
          consumed.contains(n))
      }
      .foreach(p => fs.delete(p, true))
  }

  /** Snapshot `srcPath`'s live state into `dstPath` as an independent
    * single-writer tree — hard-linked when local ([[TreeClone]]), so
    * branching a serving index (experiment/tenant snapshot, or a
    * mutation that must not touch a shared base) is metadata work.
    *
    * Layout-aware clone order, commit-marker LAST: centroids, then the
    * live list tree WITHOUT its `_SUCCESS`, then that tree's pending
    * tombstones (a branch sees exactly the source readers' state), and
    * only then the `_SUCCESS` marker — so a torn branch leaves `dstPath`
    * unresolvable instead of half-committed. The live tree keeps its
    * VERSION NAME in the branch because tombstone dirs are keyed to it
    * (`tombstones_lists_v{n}`).
    */
  def branch(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val sfs = p(srcPath).getFileSystem(conf)
    val dfs = p(dstPath).getFileSystem(conf)
    // Fresh-snapshot primitive, like [[VersionedTree.branch]]: a dst
    // already holding an index must be refused — a dst whose existing
    // live tree OUTRANKS the cloned one would leave the clone committed
    // but never resolvable, and one that is outranked would silently
    // shadow the dst's own history.
    if (dfs.exists(p(dstPath))) {
      val entries = dfs.listStatus(p(dstPath)).map(_.getPath.getName)
        .filter(n => n == "lists" || n.matches("lists_v\\d+") ||
          n == "centroids")
      require(entries.isEmpty,
        s"branch target $dstPath already holds an IVF index " +
          s"(${entries.mkString(", ")}) — branch snapshots into a " +
          "FRESH tree")
    }
    val live = liveLists(spark, srcPath)
    TreeClone.linkOrCopy(p(s"$srcPath/centroids"),
      p(s"$dstPath/centroids"), conf)
    // A post-refit source pairs its live tree with a version-keyed
    // codebook — the branch keeps the tree NAME, so the keyed dir
    // travels verbatim and the clone resolves the same pairing.
    if (sfs.exists(p(s"$srcPath/centroids_$live")))
      TreeClone.linkOrCopy(p(s"$srcPath/centroids_$live"),
        p(s"$dstPath/centroids_$live"), conf)
    TreeClone.linkOrCopy(p(s"$srcPath/$live"), p(s"$dstPath/$live"),
      conf, skip = Set("_SUCCESS"))
    Seq(s"tombstones_$live", "tombstones").foreach { t =>
      if (sfs.exists(p(s"$srcPath/$t")))
        TreeClone.linkOrCopy(p(s"$srcPath/$t"), p(s"$dstPath/$t"), conf)
    }
    dfs.create(p(s"$dstPath/$live/_SUCCESS")).close()
  }

  /** Highest existing `lists_v{n}` suffix under `root`, committed OR
    * not — new writers must number past uncommitted leftovers from a
    * crashed rebuild/compaction so they never collide with or get
    * shadowed by garbage. 0 when none exist.
    */
  private def maxVersion(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int =
    if (!fs.exists(root)) 0
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("lists_v\\d+"))
      .map(_.stripPrefix("lists_v").toInt)
      .foldLeft(0)(math.max)

  /** Append a delta of NEW corpus vectors into the persisted lists
    * without rewriting untouched lists: each delta vector is assigned to
    * its Voronoi cell with the STORED codebook (stored cnorm, same
    * argmax + tie-break as [[write]] — so an appended vector lands in
    * exactly the cell a from-scratch rebuild would put it in), and the
    * append-mode partitioned write adds files ONLY under the `list=`
    * directories the delta actually touches. Probe parity with a
    * from-scratch build over old∪delta holds by construction; the spec
    * and `q_ann_ivf_upsert` gate it.
    *
    * Contract: delta ids must be NEW — never currently stored (this is
    * append, not upsert: re-appending duplicates the id in its list)
    * and never tombstoned-but-uncompacted (tombstones carry no sequence
    * numbers, so a re-appended deleted id stays masked at probe time
    * and the next [[compact]] drops it; to resurrect an id, [[compact]]
    * first, then append). Dedup upstream, e.g. [[Dedup.keepFirst]] on
    * id. Growing corpora
    * accumulate small files per touched list — run [[compact]] on the
    * usual compactor cadence to restore one-file-per-list.
    *
    * Crash caveat (append only): unlike [[write]]/[[compact]], an append
    * lands files directly in the LIVE tree with no version swap, so a
    * crash mid-append leaves a torn delta (some lists updated, some not)
    * visible to readers — and re-running the append would duplicate the
    * rows that did land. Recovery for a torn append is delete-the-delta-
    * ids (tombstones mask the partial rows) then re-append after a
    * [[compact]]; a deployment needing atomic deltas should batch them
    * through [[compact]]'s versioned path instead.
    */
  def append(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    IvfLists.write(listRows(delta, idCol, vecCol, storedCentFrame(spark, path)),
      s"$path/${liveLists(spark, path)}", "append", maxRecordsPerFile)

  /** Corpus rows assigned to their Voronoi cell under `cent`, in the
    * stored list layout (list, neighbor_id, vec, vnorm).
    */
  private def listRows(corpus: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame): DataFrame =
    Similarity.invertedLists(corpus, idCol, vecCol, cent)
      .select(col("__list").as("list"), col("neighbor_id"),
        col("__nv").as("vec"), col("__nn").as("vnorm"))

  /** One micro-batch of streaming index maintenance — the foreachBatch
    * body behind [[graft.streaming.StreamingIvfMaintenance]]. The batch
    * carries an `opCol` of 'add' / 'delete' rows, classified by one
    * aggregate; adds are assigned with the stored codebook and appended,
    * deletes tombstone.
    *
    * IDEMPOTENT under at-least-once replay, which is what [[append]]
    * alone is not: the batch's adds are anti-joined against the ids
    * ALREADY STORED in the lists this batch touches — an in-plan
    * semi-join on the `list` partition key, so dynamic partition
    * pruning reads only those partitions' neighbor_id column and the
    * check's cost tracks the batch's own fan-out, not the corpus. A
    * replayed batch (crash before the checkpoint advanced) or a torn
    * append's re-run therefore appends exactly the rows that are
    * missing; tombstone deletes are anti-join semantics and already
    * replay-clean.
    *
    * COROLLARY, stated because it is invisible from the types: the
    * touched-list check is EXACTLY a replay guard, no more. A replayed
    * add re-derives the same assignment (deterministic codebook argmin),
    * so it always lands in a list the check reads — replays are complete
    * no-ops. An add of a live id carrying a CHANGED vector is caught
    * (and dropped, with a count in the maintenance log) only when the
    * new vector still assigns to a list holding the stored copy; if it
    * assigns ELSEWHERE, the default check cannot see the stored copy and
    * the id lands live in two lists — probes then return it twice, with
    * both vectors. Adds are inserts, not upserts; an update is a
    * same-batch delete + add (below). Callers whose feed may carry
    * re-embedded vectors for live ids should set `strictLiveCheck =
    * true`: the adds are then checked against the FULL tree's
    * neighbor_id column instead — making add-of-a-live-id an
    * unconditional, logged no-op at the cost of one id-column scan per
    * batch.
    *
    * Same single-writer assumption as every maintenance op here, and the
    * [[append]] contract still applies across batches: a delete is
    * terminal until the next [[compact]] folds its tombstone — an add of
    * a tombstoned-but-uncompacted id lands masked (spec-gated:
    * delete → compact → re-add resurrects).
    *
    * SAME-ID delete + add in ONE batch is an UPDATE, and an update
    * batch commits ONE new list tree from one partitioned write (the
    * [[compact]] commit): the stored rows minus (pending tombstones ∪
    * the batch's deletes), plus the adds guarded against those
    * survivors. One survivor rewrite per update-carrying batch, leaving
    * one file per list and no tombstones; the tree is never empty, since
    * an update always keeps its add. A redelivered update batch re-masks
    * and re-adds the same vector — it converges. `retain` passes through,
    * and the retained tree keeps its pending tombstones, so a
    * [[rollback]] restores exactly the pre-batch probes.
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
      retain: Int = 1): Unit = {
    val shape = IvfLists.classify(batch, idCol, vecCol, opCol)
    val counts = new IvfLists.GuardCounts(shape.adds)
    // Adds assigned with the stored codebook, in the stored column types,
    // behind the replay guard over `stored`.
    def fresh(stored: DataFrame): DataFrame = {
      val adds = IvfLists.adds(batch, idCol, vecCol, opCol)
        .select(col(idCol),
          col(vecCol).cast(stored.schema("vec").dataType).as(vecCol))
      IvfLists.guard(
        listRows(adds, idCol, vecCol, storedCentFrame(spark, path)),
        stored, strictLiveCheck, counts)
    }
    if (shape.update) {
      val survivors = liveRows(spark, path,
        Some(IvfLists.deletes(batch, idCol, opCol)))
      commitLists(spark, path, survivors.unionByName(fresh(survivors)),
        maxRecordsPerFile, retain, consumed = Set.empty)
    } else {
      val tree = s"$path/${liveLists(spark, path)}"
      if (shape.adds > 0) IvfLists.write(fresh(IvfLists.read(spark, tree)),
        tree, "append", maxRecordsPerFile)
      if (shape.deletes)
        delete(spark, path, IvfLists.deletes(batch, idCol, opCol),
          "neighbor_id")
    }
    counts.log("IvfIndex")
  }

  /** Mark stored vectors DELETED without touching the list trees: ids
    * land in `tombstones_{live tree}/` (plain parquet, append per
    * delete batch, keyed to the tree they mask — see below) and
    * every probe anti-joins them out before scoring — the standard
    * vector-store delete (FAISS `remove_ids` rewrites in place; a
    * parquet-backed index can't, so it tombstones like every LSM).
    * [[compact]] folds tombstones into the rewritten tree and clears
    * them, restoring probe cost. Deleting an id that was never stored —
    * or twice — is a harmless no-op (anti-join semantics), which is
    * what makes the tombstone fold idempotent under crash-replay: if
    * compaction commits the filtered tree but dies before clearing
    * `tombstones/`, the leftover tombstones re-filter rows that no
    * longer exist.
    *
    * Tombstones are assumed COMPACTION-BOUNDED (a maintenance cadence
    * clears them); the probe-side anti-join is keyed on neighbor_id and
    * AQE broadcasts the tombstone side while it is small. An unbounded
    * delete backlog should compact, not accumulate.
    */
  def delete(
      spark: SparkSession,
      path: String,
      ids: DataFrame,
      idCol: String): Unit =
    // Keyed to the tree the ids were deleted FROM: a later rebuild's
    // readers resolve a different tree name and therefore never see
    // this generation's masks, closing the stale-tombstone window a
    // flat `tombstones/` dir left open between a rebuild's tree commit
    // and its cleanup (an id shared across generations would have
    // stayed masked in the NEW index until the cleanup landed).
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .coalesce(1)
      .write.mode("append")
      .parquet(s"$path/tombstones_${liveLists(spark, path)}")

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
    */
  def refit(spark: SparkSession, path: String, centroidMod: Long,
      centroidCap: Long = Long.MaxValue,
      maxRecordsPerFile: Long = 5000000L, retain: Int = 1): Unit = {
    // The corpus frame stays LAZY (it is consumed fully by the list
    // write below, before the old tree retires; a data-sized
    // checkpoint would double-materialize the index) — but the
    // codebook-sized centroid frame is EAGER: it feeds the codebook
    // write, the require, and the broadcast assignment, and re-deriving
    // it lazily would re-scan the full index once per consumer.
    val corpus = liveRows(spark, path).select(col("neighbor_id"), col("vec"))
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
    // A refit CHANGES the codebook, so — unlike [[write]]'s legacy
    // overwrite-centroids-first order — codebook and lists must swap
    // ATOMICALLY: the new codebook lands VERSION-KEYED to the new tree
    // (`centroids_lists_v{n+1}`, invisible to [[centDir]] until that
    // tree's `_SUCCESS` commits), the lists are built under it, and
    // the marker commits BOTH. A crash anywhere leaves the old
    // codebook+tree pairing serving; a `retain` > 1 refit is fully
    // [[rollback]]-able (the retired tree's keyed codebook goes with
    // it, and the previous tree re-pairs with ITS codebook — keyed if
    // it has one, legacy otherwise). The legacy `centroids` dir is
    // never touched here.
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val next = s"lists_v${maxVersion(fs, root) + 1}"
    val cent = Similarity.centFrame(centRows, "centroid_id", "centroid")
    cent.select(col("__cid").as("centroid_id"),
        col("__cv").as("centroid"), col("__cn").as("cnorm"))
      .write.mode("overwrite").parquet(s"$path/centroids_$next")
    IvfLists.write(listRows(corpus, "neighbor_id", "vec", cent),
      s"$path/$next", "overwrite", maxRecordsPerFile)
    Checkpoints.release(centRows)
    retireSuperseded(fs, root, path, retain, consumed = Set.empty)
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
    val centStored = storedCentFrame(spark, path)
    val buildErr = liveRoutingErr(spark, path, centStored)
      .toDF("build_n", "build_err")
    val deltaErr = Similarity.routingErrAgg(delta, idCol, vecCol,
      centStored).toDF("delta_n", "delta_err")
    buildErr.crossJoin(deltaErr)
      .select(col("build_n"), col("build_err"), col("delta_n"),
        col("delta_err"),
        round((col("delta_err") / col("delta_n")) /
          (col("build_err") / col("build_n")), 4).as("drift_ratio"))
  }

  /** Resolve the codebook dir PAIRED with the live list tree: the
    * version-keyed `centroids_lists_v{n}` when the live tree carries
    * one (written by [[refit]], whose codebook+lists swap commits
    * atomically under the tree's `_SUCCESS`), else the legacy
    * unversioned `centroids`. Every reader of the stored codebook MUST
    * come through here — a raw `$path/centroids` read after a refit
    * pairs the wrong codebook with the live tree.
    */
  private[graft] def centDir(spark: SparkSession, path: String): String = {
    val keyed = s"$path/centroids_${liveLists(spark, path)}"
    val p = new org.apache.hadoop.fs.Path(keyed)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      keyed
    else s"$path/centroids"
  }

  /** The stored codebook paired with the live tree, in the normalized
    * broadcast-small (__cid long, __cv, __cn) frame shape every reader
    * shares ([[Similarity.centFrame]]'s contract).
    */
  private[graft] def storedCentFrame(spark: SparkSession,
      path: String): DataFrame =
    IvfLists.read(spark, centDir(spark, path))
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
    val r = liveRoutingErr(spark, path,
      storedCentFrame(spark, path)).collect()(0)
    require(r.getLong(0) > 0, s"meanRoutingError of $path: no live rows")
    r.getLong(1).toDouble / r.getLong(0)
  }

  /** (n, Σ quantized slack) of the live unmasked rows against their
    * OWN stored centroid — the no-argmax scan [[routingDrift]] and
    * [[meanRoutingError]] share (the stored `list` key IS the argmax).
    */
  private def liveRoutingErr(spark: SparkSession, path: String,
      centStored: DataFrame): DataFrame = {
    liveRows(spark, path)
      .select(col("list").cast("long").as("__cid"), col("vec"),
        col("vnorm"))
      .join(broadcast(centStored), Seq("__cid"))
      .select((Similarity.dot(col("vec"), col("__cv")) /
        (col("vnorm") * col("__cn"))).as("__best"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round((lit(1.0) - col("__best")) * 10000).cast("long"))
          .cast("long").as("err"))
  }

  /** The live tombstone set — the dirs keyed to the LIVE list tree plus
    * the legacy unversioned `tombstones/` (pre-migration indexes);
    * empty when none have been written.
    */
  private[ops] def tombstones(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = liveLists(spark, path)
    val existing = Seq(s"$path/tombstones_$live", s"$path/tombstones")
      .filter { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).exists(p)
      }
    if (existing.isEmpty) None
    else Some(existing.map(IvfLists.read(spark, _)).reduce(_ unionByName _))
  }

  /** The live tree's rows minus the tombstone set and the optional
    * `alsoMasked` ids (a `neighbor_id` column) — the survivor frame
    * every fold, refit, drift scan and probe reads.
    */
  private def liveRows(spark: SparkSession, path: String,
      alsoMasked: Option[DataFrame] = None): DataFrame = {
    val stored = IvfLists.read(spark, s"$path/${liveLists(spark, path)}")
    (tombstones(spark, path) ++ alsoMasked).reduceOption(_ unionByName _)
      .fold(stored)(m => stored.join(m, Seq("neighbor_id"), "left_anti"))
  }

  /** Resolve the LIVE inverted-list directory name: the highest
    * `lists_v{n}` whose `_SUCCESS` marker exists (a compacted copy
    * becomes visible exactly when Spark's committer drops the marker —
    * its last step), falling back to the initial `lists` tree. This is
    * how readers stay crash-safe without any rename: an interrupted
    * compaction leaves an uncommitted (marker-less) directory that every
    * reader ignores.
    */
  private[graft] def liveLists(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val versions =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.matches("lists_v\\d+"))
        .filter(n => fs.exists(
          new org.apache.hadoop.fs.Path(s"$path/$n/_SUCCESS")))
        .sortBy(_.stripPrefix("lists_v").toInt)
    versions.lastOption.getOrElse("lists")
  }

  /** Rewrite the inverted lists back to one writer per list, merging the
    * small files [[append]] accumulates. Crash-safe via VERSIONED
    * directories, not renames: the merged copy is written as
    * `lists_v{n+1}` (invisible until the committer's `_SUCCESS` lands —
    * its final step), readers resolve [[liveLists]] to the highest
    * committed version, and only then is the previous tree deleted. A
    * crash at any point leaves either the old committed tree live or
    * both (next compaction cleans up) — never a half-deleted index.
    * A reader that resolved the OLD version name just before its
    * deletion can still fail mid-scan; production deployments should
    * defer the delete by a scan-length grace period (the same retention
    * discipline as the gold compactor).
    */
  def compact(
      spark: SparkSession,
      path: String,
      maxRecordsPerFile: Long = 5000000L,
      retain: Int = 1): Unit = {
    val cur = liveLists(spark, path)
    // Fold tombstones into the rewrite: the compacted tree is born
    // clean, and the tombstone files are cleared only AFTER the tree
    // commits — a crash in between leaves tombstones re-filtering rows
    // that no longer exist, which is a no-op (see [[delete]]).
    val folded = liveRows(spark, path)
    // An ALL-TOMBSTONED index must keep its mask instead of committing
    // an empty tree: a partitioned overwrite of zero rows lands a
    // `_SUCCESS` with no parquet files, and every later read of the
    // resolved live tree dies on schema inference. The mask already
    // hides everything, so skipping the rewrite is behavior-identical
    // for probes (the PqIndex/MaxSimIndex all-deleted stance).
    if (folded.isEmpty) {
      System.err.println(s"[graft] IvfIndex.compact: every stored row " +
        s"under $path is tombstoned — keeping the mask instead of " +
        "committing an empty tree. This mask can never be folded (every " +
        "compact re-hits this case): NEW ids still append and serve " +
        "(the mask only hides the tombstoned ids), but repopulating the " +
        "masked ids needs a rebuild (write), which clears it")
      return
    }
    // The folded generation's masks (version-keyed + legacy) are
    // `consumed`: the committed new tree never consults them, and
    // clearing them means a rollback restores `cur` to its PRE-delete
    // state — rollback undoes the compact AND the deletes it folded,
    // which is the bad-delete-shipped undo.
    commitLists(spark, path, folded, maxRecordsPerFile, retain,
      consumed = Set(s"tombstones_$cur"))
  }

  /** Commit `rows` (the stored list layout) as the next list tree — the
    * rewrite [[compact]] and an update batch share. Numbered past EVERY
    * version dir, committed or not (a crashed writer's leftover must
    * never collide with or outrank it); `consumed` names tombstone dirs
    * the rewrite folded. A post-[[refit]] tree's keyed codebook travels
    * to the new name BEFORE the tree commits (committing first would
    * pair the new tree with the legacy pre-refit codebook).
    */
  private def commitLists(spark: SparkSession, path: String,
      rows: DataFrame, maxRecordsPerFile: Long, retain: Int,
      consumed: Set[String]): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val cur = liveLists(spark, path)
    val next = s"lists_v${maxVersion(fs, root) + 1}"
    val keyedCur = new org.apache.hadoop.fs.Path(s"$path/centroids_$cur")
    if (fs.exists(keyedCur))
      TreeClone.linkOrCopy(keyedCur,
        new org.apache.hadoop.fs.Path(s"$path/centroids_$next"), conf)
    IvfLists.write(rows, s"$path/$next", "overwrite", maxRecordsPerFile)
    retireSuperseded(fs, root, path, retain, consumed)
  }

  /** Retire the LIVE list tree so the previous committed one serves
    * again — possible only when the superseding [[write]]/[[compact]]/
    * update batch ran with `retain` > 1. The restored tree serves with
    * whatever keyed tombstones it still has: a rebuild or an update
    * batch keeps the old tree's masks (its deletes were serving state
    * independent of the commit being undone), while a completed compact
    * cleared the masks it folded — so delete → compact(retain=2) →
    * rollback RESURRECTS the deleted ids (the rollback undoes the
    * delete+compact pair as one commit).
    *
    * Same number-reuse caveat as [[graft.ops.VersionedTree.rollback]]:
    * the next commit re-numbers into the retired slot, so a reader that
    * resolved the retired name pre-rollback could pair it with the
    * recommitted tree — the single writer owns sequencing rollbacks
    * against in-flight probes. A crash-interrupted compact (committed
    * tree, uncleared masks) leaves the retained tree's consumed masks
    * in place; a rollback then restores the post-delete state instead —
    * conservative, and the stale dir is plain to delete by hand.
    */
  def rollback(spark: SparkSession, path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val committed = committedTrees(fs, path)
    require(committed.size >= 2, "rollback needs a retained previous " +
      s"list tree under $path (found ${committed.size} committed; " +
      "write/compact with retain > 1)")
    val retired = committed.last
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/$retired"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/tombstones_$retired"), true)
    // The retired tree's version-keyed codebook (a rolled-back
    // [[refit]]) goes with it — the previous tree re-pairs with ITS
    // codebook (keyed if it has one, legacy otherwise) via [[centDir]].
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$path/centroids_$retired"), true)
    committed(committed.size - 2)
  }

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
    // Tombstoned rows leave the candidate stream BEFORE scoring — keyed
    // anti-join on neighbor_id, broadcast by AQE while the tombstone set
    // is compaction-bounded. Placed after the list scan so dynamic
    // partition pruning on `list` is undisturbed.
    val live = liveRows(spark, path)
    val cent = IvfLists.read(spark, centDir(spark, path)).select(
      IvfLists.listKey(col("centroid_id"), live.schema("list").dataType)
        .as("__cid"),
      col("centroid").as("__cv"), col("cnorm").as("__cn"))
    val lists = live.select(col("list").as("__list"),
      col("neighbor_id"), col("vec").as("__nv"), col("vnorm").as("__nn"))
    Similarity.probeInvertedLists(probes, idCol, vecCol, k, cent, lists, nprobe)
  }
}
