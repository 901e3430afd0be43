package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable kNN graph: build the [[NnDescent]] graph ONCE, write it
  * as parquet, and serve any number of [[GraphSearch]] probe batches —
  * and, crucially, KEEP IT FRESH under continuous ingest without full
  * rebuilds (the [[IvfIndex]] life cycle, for the graph family).
  *
  * Layout under `path`: one directory per generation,
  * `graph_v{n}/nodes` ((id, vec) — the vectors the graph was built
  * over; maintenance needs them to score new pairs) and
  * `graph_v{n}/edges` ((id, nbr, cos) — the directed top-k lists).
  * Because a generation is TWO parquet trees, commit is an explicit
  * `_GRAFT_COMMIT` marker written after both succeed; readers resolve
  * the highest committed version ([[liveVersion]]), so a crash mid-write
  * leaves the previous generation live and the torn one is skipped-past
  * garbage (numbered past, like IvfIndex's uncommitted leftovers).
  *
  * Incremental maintenance ([[applyMaintenanceBatch]]) is where the
  * graph index differs from IVF: an IVF add appends under its Voronoi
  * cell; a graph add must STITCH INTO the neighborhood structure. Each
  * batch:
  *   1. dedups adds in-batch and drops ids already stored (REPLAY-SAFE:
  *      a redelivered batch is a no-op and writes no new generation —
  *      like IVF, an add of a live id is NOT an upsert; dropped adds
  *      are counted and logged);
  *   2. SEEDS each genuinely-new node via [[GraphSearch.topK]] against
  *      the live graph (beam walk — |batch|·beam·k work, never a corpus
  *      scan) plus the NN-Descent bucket init WITHIN the batch (new
  *      nodes arriving together may be each other's neighbors);
  *   3. merges the symmetrized seeds as flagged arrivals
  *      ([[NnDescent.mergeArrivals]] — old nodes gain new neighbors
  *      through the reverse edges here) and runs the LOCALIZED
  *      [[NnDescent.descend]] rounds, which only touch neighborhoods
  *      holding a new edge — the whole point: per-batch cost tracks the
  *      batch's neighborhood footprint, not the corpus;
  *   4. commits `graph_v{n+1}` and deletes superseded generations.
  *
  * Deletes are LSM-style tombstones with LOCALIZED edge repair — the
  * [[IvfIndex]] delete life cycle, adapted to a structure where removal
  * leaves holes: [[delete]] appends ids under the live generation
  * (`graph_v{n}/tombstones/`, small write, replay-safe — only
  * currently-stored ids land), and every reader ([[nodes]]/[[edges]])
  * anti-joins them out of BOTH edge endpoints, so a beam walk neither
  * returns nor routes through deleted nodes (the masked graph IS the
  * stored graph minus the deleted rows — exactly replayable, which is
  * what `q_ann_graph_delete`'s oracle gates). The REPAIR — nodes that
  * lost a neighbor refill their lists via neighbors-of-neighbors — is
  * where the graph differs from IVF's pure mask: [[compact]] (or any
  * [[applyMaintenanceBatch]]) flags the hole nodes' surviving edges and
  * runs the SAME localized [[NnDescent.descend]] rounds maintenance
  * uses, folding the tombstones into the next committed generation.
  * Repair cost tracks the deleted nodes' neighborhood footprint, not
  * the corpus; a node whose ENTIRE list was deleted has no surviving
  * edge to flag and keeps an under-filled list until richer arrivals
  * reach it (the walk's small-world overlay still routes to it —
  * measured, not asserted, in GraphIndexSpec).
  *
  * Because maintenance FOLDS pending tombstones, delete→add across
  * batches is a legitimate update path here (unlike IVF, where an add
  * of a tombstoned-but-uncompacted id stays masked until compact).
  *
  * Single-writer assumption, same as every maintenance op here.
  */
object GraphIndex {

  /** Build and persist generation 1 (or the next generation, on an
    * existing path) from scratch. Ids are made unique first with the
    * maintenance batch's rule (one row per id, deterministic `max`
    * vector), so every stored node — and every probe result — carries
    * its id once.
    */
  def write(spark: SparkSession, path: String, vectors: DataFrame,
      idCol: String, vecCol: String, k: Int, rounds: Int,
      maxDegree: Int = 0, simPrecision: Int = -1,
      retain: Int = 1): Unit = {
    val nodes = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .groupBy("id").agg(max("vec").as("vec"))
    val edges = NnDescent.knnGraph(nodes, "id", "vec", k, rounds,
        maxDegree = maxDegree, simPrecision = simPrecision)
      .select(col("query_id").as("id"), col("neighbor_id").as("nbr"),
        col("cos"))
    commit(spark, path, nodes, edges, retain)
  }

  private val versions = new VersionedTree("graph")

  /** Highest committed generation name, e.g. "graph_v3". */
  def liveVersion(spark: SparkSession, path: String): String =
    versions.liveVersion(spark, path)

  /** Snapshot `srcPath`'s live generation (nodes + edges + pending
    * tombstones) into `dstPath` as an independent single-writer tree —
    * hard-linked when local, so branching a serving graph for an
    * experiment/tenant (or a mutation that must not touch the shared
    * base) is metadata work, not a rebuild. See [[VersionedTree.branch]]
    * for the torn-branch and immutability contracts.
    */
  def branch(spark: SparkSession, srcPath: String, dstPath: String): Unit =
    versions.branch(spark, srcPath, dstPath): Unit

  /** Retire the live generation so the previous committed one serves
    * again — the bad-index-shipped undo. Available only when the
    * superseding commit ran with `retain` > 1; whole-generation
    * semantics ([[VersionedTree.rollback]]): the retired generation's
    * tombstones go with it.
    */
  def rollback(spark: SparkSession, path: String): Unit =
    versions.rollback(spark, path): Unit

  private def liveGen(spark: SparkSession, path: String): String =
    s"$path/${liveVersion(spark, path)}"

  // Every reader below takes a generation its public caller resolved
  // once, so one call reads one generation throughout.
  private def rawNodes(spark: SparkSession, gen: String): DataFrame =
    spark.read.parquet(s"$gen/nodes")

  private def rawEdges(spark: SparkSession, gen: String): DataFrame =
    spark.read.parquet(s"$gen/edges")

  /** Live node vectors, deleted ids masked out. */
  def nodes(spark: SparkSession, path: String): DataFrame =
    liveNodes(spark, liveGen(spark, path))

  private def liveNodes(spark: SparkSession, gen: String): DataFrame =
    VersionedTree.masked(spark, gen, rawNodes(spark, gen), "id")

  /** Live edge lists (id, nbr, cos) — feed [[GraphSearch.topK]] as the
    * graph side. Deleted ids are masked from BOTH endpoints: a walk
    * neither returns nor routes through a deleted node (see the object
    * doc — the masked graph is exactly the stored graph minus deleted
    * rows, the replayable contract).
    */
  def edges(spark: SparkSession, path: String): DataFrame =
    liveEdges(spark, liveGen(spark, path))

  private def liveEdges(spark: SparkSession, gen: String): DataFrame =
    VersionedTree.masked(spark, gen,
      VersionedTree.masked(spark, gen, rawEdges(spark, gen), "id"), "nbr")

  /** Tombstone a batch of ids (see the object doc). Replay-safe by
    * construction ([[VersionedTree.tombstone]]): only ids CURRENTLY
    * stored and not yet tombstoned land, so a redelivered delete (or a
    * delete of a never-stored id) appends nothing and every read stays
    * unchanged.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    val gen = liveGen(spark, path)
    VersionedTree.tombstone(spark, gen, ids, idCol, rawNodes(spark, gen),
      "id")
  }

  /** Fold pending tombstones into a fresh committed generation and
    * REPAIR the holes they left: prune deleted rows, flag every
    * surviving edge of a node that lost a neighbor, and run the same
    * localized [[NnDescent.descend]] rounds maintenance uses — the
    * flagged neighborhoods re-score their neighbors-of-neighbors and
    * refill toward k. A no-op when no tombstones are pending.
    * Implemented as [[applyMaintenanceBatch]] with an empty batch: the
    * maintenance path already folds + repairs (and commits crash-safe).
    */
  def compact(spark: SparkSession, path: String, k: Int, rounds: Int,
      maxDegree: Int = 0, beam: Int = 0, entries: Int = 8,
      overlay: Int = 2, simPrecision: Int = -1, retain: Int = 1): Unit = {
    val gen = liveGen(spark, path)
    maintain(spark, path, gen, rawNodes(spark, gen).limit(0), "id", "vec",
      k, rounds, maxDegree, beam, entries, overlay, simPrecision, retain)
  }

  /** One micro-batch of adds — the foreachBatch body behind
    * [[graft.streaming.StreamingGraphMaintenance]]. `k`/`maxDegree`/
    * `simPrecision` must match the build (the graph has one k; the
    * caller owns that contract, as IVF callers own the codebook's).
    *
    * Pending tombstones are FOLDED here (see the object doc): the new
    * generation is built from the masked trees (deleted rows physically
    * gone), and every surviving node that lost a neighbor has its
    * remaining edges flagged into the SAME localized descent the adds
    * stitch through — one pass repairs holes and stitches arrivals. A
    * batch with nothing fresh AND no pending tombstones writes no new
    * generation (replay no-op).
    */
  def applyMaintenanceBatch(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int, maxDegree: Int = 0, beam: Int = 0, entries: Int = 8,
      overlay: Int = 2, simPrecision: Int = -1, retain: Int = 1): Unit =
    maintain(spark, path, liveGen(spark, path), batch, idCol, vecCol, k,
      rounds, maxDegree, beam, entries, overlay, simPrecision, retain)

  private def maintain(spark: SparkSession, path: String, gen: String,
      batch: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int, maxDegree: Int, beam: Int, entries: Int, overlay: Int,
      simPrecision: Int, retain: Int): Unit = {
    val deg = if (maxDegree > 0) maxDegree else 4 * k
    // A zero-row tombstone file never lands today (delete only writes
    // non-empty batches), but the eagerNonEmpty helper releases the
    // checkpoint before discarding an empty frame if one ever does.
    val tomb = VersionedTree.tombstones(spark, gen)
      .map(_.select(col("id")))
      .flatMap(t => Checkpoints.eagerNonEmpty(t.distinct()))
    val stored = liveNodes(spark, gen).localCheckpoint(eager = false)
    val adds = batch.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      // In-batch transport retry: deterministic vector choice, not
      // arrival order (the IvfIndex.applyMaintenanceBatch rule).
      .groupBy("id").agg(max("vec").as("vec"))
    // ONE materialization answers "which adds are fresh", "how many were
    // dropped" and "is anything fresh at all": the left join against the
    // stored ids is eager-checkpointed (batch-sized — adds are unique by
    // the groupBy), the fresh split reads its blocks, and both counts are
    // observed on the checkpoint's own pass — no job beyond it (guide
    // §1.2: fewer passes; these lifecycle chains are driver-bound on job
    // count, not on bytes). Counts that never arrive leave the log out
    // and the emptiness test to one job.
    val (marked, counts) = Checkpoints.eagerCounted(
      adds.join(stored.select(col("id"), lit(true).as("__stored")),
        Seq("id"), "left"),
      count(col("__stored")), count(when(col("__stored").isNull, 1)))
    val fresh = marked.filter(col("__stored").isNull)
      .select(col("id"), col("vec"))
    counts.map(_.head).filter(_ > 0).foreach(dropped => System.err.println(
      s"[graft] GraphIndex.applyMaintenanceBatch: $dropped add(s) for " +
        "already-stored ids ignored (adds are not upserts; an update is " +
        "delete then add — the delete folds on the next batch)"))
    val freshEmpty = counts.fold(fresh.isEmpty)(_(1) == 0)
    if (freshEmpty && tomb.isEmpty) { // replay no-op, nothing to fold
      Checkpoints.release(stored)
      Checkpoints.release(marked)
      return
    }

    // Seeds: walk the live graph for each new vector (bounded by the
    // beam budget), plus bucket-init pairs WITHIN the batch (rounds = 0
    // knnGraph = exactly the init stage). Skipped wholesale for a
    // fold-only batch (compact): no new vectors, nothing to seed.
    val g0 = liveEdges(spark, gen)
    val stitched = if (freshEmpty) None else {
      val seeds = GraphSearch.topK(g0, "id", "nbr",
          stored, "id", "vec", fresh, "id", "vec",
          k = k, beam = beam, rounds = 3, entries = entries,
          overlay = overlay, simPrecision = simPrecision)
        .select(col("query_id").as("id"), col("neighbor_id").as("nbr"),
          col("cos"))
      val internal = NnDescent.knnGraph(fresh, "id", "vec", k, rounds = 0,
          simPrecision = simPrecision)
        .select(col("query_id").as("id"), col("neighbor_id").as("nbr"),
          col("cos"))
      val arrivals0 = seeds.unionAll(internal)
      val arrivals = arrivals0.unionAll(arrivals0.select(
        col("nbr").as("id"), col("id").as("nbr"), col("cos")))
      Some((seeds, internal, NnDescent.mergeArrivals(g0, arrivals, k)))
    }
    val base = stitched.map(_._3)
      .getOrElse(g0.withColumn("__new", lit(false)))

    // Hole repair (tombstones pending): flag every SURVIVING edge of a
    // node that lost a neighbor, so the descent below re-scores those
    // neighborhoods and refills toward k. Holes come off the RAW edges
    // (the masked view no longer shows who pointed at a deleted node).
    val flagged = tomb match {
      case None => base
      case Some(t) =>
        val holes = rawEdges(spark, gen)
          .join(broadcast(t.select(col("id").as("__tid"))),
            col("nbr") === col("__tid"), "left_semi")
          .select(col("id"))
          .join(broadcast(t), Seq("id"), "left_anti")
          .distinct()
        base.join(holes.select(col("id"), lit(true).as("__hole")),
            Seq("id"), "left")
          .withColumn("__new",
            col("__new") || coalesce(col("__hole"), lit(false)))
          .drop("__hole")
    }

    // Stitch + repair in one localized descent over the updated corpus.
    val vAll = stored.unionByName(fresh)
      .select(col("id"), col("vec").as("__v"),
        Similarity.norm(col("vec")).as("__n"))
      .localCheckpoint(eager = false)
    val refined = NnDescent.descend(vAll, flagged, k, deg, rounds,
      simPrecision)

    commit(spark, path, stored.unionByName(fresh),
      refined.select(col("id"), col("nbr"), col("cos")), retain)
    Checkpoints.release(vAll)
    Checkpoints.release(stored)
    Checkpoints.release(marked)
    Checkpoints.release(refined)
    tomb.foreach(Checkpoints.release)
    // The commit is the last read through these plans, so the checkpoints
    // their producers buried under projections — GraphSearch's final beam
    // inside `seeds`, knnGraph's final edges inside `internal` — are dead
    // too; without the tree release a long-running maintenance stream
    // pins one beam-sized + one batch-edges-sized block set per
    // micro-batch until GC (the exact leak Checkpoints.scala documents).
    stitched.foreach { case (seeds, internal, _) =>
      Checkpoints.releaseTree(seeds)
      Checkpoints.releaseTree(internal)
    }
  }

  // ------------------------------------------------------------ commit

  private def commit(spark: SparkSession, path: String,
      nodes: DataFrame, edges: DataFrame, retain: Int = 1): Unit =
    versions.commitNext(spark, path, retain) { gen =>
      // The two trees are independent and their shared inputs (stored /
      // marked / refined checkpoints) are materialized by the actions
      // that preceded every commit — overlap the writes (guide §2.6);
      // the marker in commitNext still lands strictly after both.
      Par.jobs(
        () => nodes.write.mode("overwrite").parquet(s"$gen/nodes"),
        () => edges.write.mode("overwrite").parquet(s"$gen/edges"))
    }: Unit
}
