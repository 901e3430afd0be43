package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ops.{AsOfJoin, Dedup}
import graft.text.TextFunctions

/** The composed streaming curation pipeline — the one continuous-ingest
  * chain a training-corpus owner actually runs, as a SINGLE foreachBatch
  * query with checkpoint-stop-resume:
  *
  *   exact dedup (within batch + against everything kept so far)
  *     → near-dup drop (MinHash-LSH vs the kept corpus AND vs earlier
  *       rows of the same batch)
  *     → quality filter
  *     → as-of enrichment against a refreshable time-series dimension
  *     → sink, then corpus commit.
  *
  * Why foreachBatch rather than chained stateful operators: each stage is
  * the BATCH operator this library already gates ([[Dedup.exactByDigest]]
  * semantics, [[Dedup.md5MinHashCandidatesAgainst]],
  * [[TextFunctions.qualityScore]], [[AsOfJoin.joinNative]]), applied to
  * the micro-batch against a persistent corpus store — so streaming and
  * batch curation share one implementation and one oracle surface, and
  * the multi-stateful-operator restrictions of a single streaming plan
  * (flatMapGroupsWithState downstream of dropDuplicates) never apply.
  *
  * Exactly-once discipline (the part a restart must not break):
  *   - the kept-corpus store is a [[StreamingGold]] table, published
  *     through the blue/green [[graft.gold.GoldSink]] with its
  *     `_committed_batch` marker inside the swapped slot — a replayed
  *     batchId ≤ committed returns without touching anything;
  *   - the sink is invoked BEFORE the corpus commit. A crash between
  *     sink and commit replays the batch against the UNCHANGED corpus,
  *     recomputing byte-identical output for the same batchId — so the
  *     sink needs only per-batchId idempotence (e.g. overwrite a
  *     batch-keyed path), never cross-batch reconciliation;
  *   - `buildProvider` is re-read every batch (the
  *     [[StreamingAsOfEnrich]] contract): a dimension refreshed by
  *     another job is picked up at the next trigger.
  *
  * Dedup horizon: the corpus store is the horizon — everything ever kept
  * dedups future batches (contrast [[StreamingNearDedup]], whose
  * in-memory state is TTL-bounded; this pipeline's state is a parquet
  * table, so "bounded" means bounded by the CURATED corpus size, which
  * is the artifact being built anyway). Quality-rejected docs do NOT
  * enter the store: a later identical doc re-fails quality by itself.
  *
  * Within-batch near-dup semantics, stated: a row is dropped when ANY
  * earlier batch row (by (ts, id)) within its LSH candidate set clears
  * `tau` — including an earlier row that was itself dropped. On a chain
  * a~b~c (a≁c) this drops c where the sequential streaming operator
  * would keep it; cross-BATCH comparisons never see the difference
  * because only kept rows enter the store.
  *
  * CDC deletes (`opCol` set on [[writer]]/[[processBatch]]): rows whose
  * op is 'delete' carry only the id and are removal EVENTS — applied to
  * the corpus store FIRST (so a dead row's digest stops blocking a NEW
  * doc with identical content arriving in the same batch), then handed
  * to the sink in the SAME delivery as the batch's enriched survivors
  * (op-tagged union), so downstream index-maintenance writers tombstone
  * and stitch from exactly what the corpus committed. Replay-safe end
  * to end: the batchId guard covers the whole batch, and a redelivered
  * delete of an already-gone id is anti-join no-op at every layer.
  *
  * Same-id delete + add in ONE batch is an UPDATE, and it is supported
  * end to end: the corpus store applies the delete first so the new
  * content merges cleanly (an edit-in-place upsert, the reference's
  * embed-sink contract — `src/5_post_pbs_to_discord.py:50-104`), and
  * the sink delivery carries BOTH rows (the id tagged 'delete' plus the
  * enriched survivor tagged 'add') so each downstream index writer can
  * sequence its own family's recipe — the bundled maintenance writers
  * do: the graph folds tombstone+add in one batch natively, while the
  * pure-mask families (IVF, token) apply deletes, COMPACT inside the
  * batch boundary, then append ([[StreamingIvfMaintenance]] /
  * [[StreamingMaxSimMaintenance]]) — an update-carrying batch costs
  * those sinks one survivor rewrite. A custom pure-mask sink that
  * cannot compact mid-batch must reject the delivery itself; silently
  * appending would leave the re-added id masked until its next compact.
  *
  * Rows whose op is NULL or outside {'add','delete'} FAIL the batch
  * loudly: a null-false predicate split would silently drop them —
  * neither applied nor surfaced — which is the one unrecoverable shape
  * (fail-fast beats quiet data loss in a curation pipeline).
  */
class StreamingCuration(
    corpusDir: String,
    idCol: String = "doc_id",
    textCol: String = "text",
    tsCol: String = "ts",
    stopwords: Seq[String] = Seq("the", "a", "and", "of", "to"),
    minQuality: Double = 0.5,
    tau: Double = 0.7,
    shingleSize: Int = 3,
    numHashes: Int = 16,
    bands: Int = 4) {

  require(minQuality >= 0.0 && minQuality <= 1.0, s"minQuality: $minQuality")
  require(tau > 0.0 && tau <= 1.0, s"tau: $tau")
  require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")

  private val store = new StreamingGold(corpusDir, Seq(idCol), tsCol)

  /** Highest batchId whose survivors are committed to the corpus store. */
  def committedBatchId: Long = store.committedBatchId

  /** The kept corpus so far (None before the first commit). */
  def corpus(spark: SparkSession): Option[DataFrame] = store.read(spark)

  /** Wire the full pipeline as one streaming writer. The caller adds the
    * checkpoint location and trigger; `sink` receives the ENRICHED
    * survivors of every non-replayed batch (empty frames included —
    * batchIds are gap-free) and must be idempotent per batchId.
    */
  def writer(
      docs: DataFrame,
      buildProvider: SparkSession => DataFrame,
      enrichKeys: Seq[String],
      buildTime: String,
      valueCols: Seq[String],
      strategy: String = "backward_then_forward",
      opCol: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processBatch(batch, batchId, buildProvider(batch.sparkSession),
        enrichKeys, buildTime, valueCols, strategy, opCol)(sink)
    }

  /** Run one micro-batch through the chain. Replays (batchId ≤ committed)
    * are complete no-ops — the sink is not re-invoked. Public so a manual
    * backfill can feed batches outside a streaming query and inherit the
    * identical idempotence.
    *
    * The WHOLE chain (replay check → corpus read → dedup stages → sink →
    * commit) runs under the store's write lock: a backfill racing a live
    * trigger would otherwise read the same pre-commit corpus twice —
    * each batch's near-dups of the other's survivors never meet, and
    * duplicates enter the corpus permanently — and two racers with one
    * batchId would both pass the replay check and re-invoke the sink.
    * Same discipline as StreamingCountMin.mergeBatch; the inner
    * mergeBatch lock is reentrant.
    */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      build: DataFrame,
      enrichKeys: Seq[String],
      buildTime: String,
      valueCols: Seq[String],
      strategy: String = "backward_then_forward",
      opCol: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): Unit = store.withWriteLock {
    if (batchId > store.committedBatchId) {
      val spark = batch.sparkSession

      // CDC split (opCol set): delete rows carry only the id — they are
      // removal EVENTS, not documents, so they bypass every content
      // stage. Deletes apply FIRST: the add chain below reads the corpus
      // with the batch's deletions already masked, so (a) a
      // delete + re-add of identical content in one batch is an update
      // (the dead row's digest no longer blocks it) and (b) near-dup
      // candidates never match a document this batch just removed.
      // Eagerly materialized — three consumers (corpus mask, sink union,
      // store commit) must see one stable id set.
      val (adds, delIds) = opCol match {
        case None => (batch, None)
        case Some(oc) =>
          // Fail fast on rows OUTSIDE the op domain before splitting: a
          // NULL op matches neither `=== "delete"` nor `=!= "delete"`
          // (both null-false), so without this gate such a row would be
          // silently dropped — neither applied nor dead-lettered.
          val bad = batch
            .filter(col(oc).isNull || !col(oc).isin("add", "delete"))
            .select(col(idCol), col(oc)).limit(5).collect()
          require(bad.isEmpty, "StreamingCuration: batch carries rows " +
            s"whose $oc is outside {'add','delete'}: " +
            bad.map(r => s"${r.get(0)}->${r.get(1)}").mkString(", ") +
            " — fix the feed (a null-false split would drop them " +
            "silently)")
          val d = batch.filter(col(oc) === "delete")
            .select(col(idCol)).distinct().localCheckpoint(eager = true)
          (batch.filter(col(oc) === "add").drop(oc),
            if (d.isEmpty) { graft.ops.Checkpoints.release(d); None }
            else Some(d))
      }
      val corpusNow = (store.read(spark), delIds) match {
        case (Some(c), Some(d)) => Some(c.join(d, Seq(idCol), "left_anti"))
        case (c, _) => c
      }

      // Stage 1 — exact dedup. Within the batch: first sighting per content
      // digest by (ts, id). Across batches: anti-join against every digest
      // the store has kept.
      val digested = adds.withColumn("digest",
        md5(Dedup.normalizeText(col(textCol))))
      val wFirst = Window.partitionBy("digest")
        .orderBy(col(tsCol).asc, col(idCol).asc)
      val firstPerDigest = digested
        .withColumn("__rn", row_number().over(wFirst))
        .filter(col("__rn") === 1).drop("__rn")
      val exactFresh = corpusNow match {
        case Some(c) =>
          firstPerDigest.join(c.select(col("digest")), Seq("digest"), "left_anti")
        case None => firstPerDigest
      }
      // Several stages traverse this frame (two candidate joins, quality,
      // the final persist): cache once, release at the end.
      exactFresh.persist()
      try {
        // Stage 2a — near-dup vs the kept corpus: banded MinHash candidate
        // join (bucketed, new-vs-corpus only), drop at jaccard_est ≥ tau.
        val afterCorpus = corpusNow match {
          case Some(c) =>
            val dropIds = Dedup.md5MinHashCandidatesAgainst(
              exactFresh, c, idCol, textCol, shingleSize, numHashes, bands)
              .filter(col("jaccard_est") >= tau)
              .select(col("id_batch").as(idCol)).distinct()
            exactFresh.join(dropIds, Seq(idCol), "left_anti")
          case None => exactFresh
        }
        // Stage 2b — near-dup within the batch: same candidate machinery
        // against itself; the LATER row of each qualifying pair drops.
        val ords = afterCorpus.select(col(idCol).as("__oid"),
          col(tsCol).as("__ots"))
        val selfDrop = Dedup.md5MinHashCandidatesAgainst(
          afterCorpus, afterCorpus, idCol, textCol, shingleSize, numHashes,
          bands)
          .filter(col("jaccard_est") >= tau &&
            col("id_batch") =!= col("id_corpus"))
          .join(ords.select(col("__oid").as("id_batch"),
            col("__ots").as("__ts_b")), "id_batch")
          .join(ords.select(col("__oid").as("id_corpus"),
            col("__ots").as("__ts_c")), "id_corpus")
          .filter(struct(col("__ts_c"), col("id_corpus")) <
            struct(col("__ts_b"), col("id_batch")))
          .select(col("id_batch").as(idCol)).distinct()
        val afterNear = afterCorpus.join(selfDrop, Seq(idCol), "left_anti")

        // Stage 3 — quality gate. Rejected docs vanish (and stay out of the
        // store: identical future content re-fails on its own).
        val survivors = afterNear.filter(
          TextFunctions.qualityScore(col(textCol), stopwords) >= minQuality)

        // Stage 4 — as-of enrichment of the survivors, then the sink. Sink
        // BEFORE commit: a crash here replays against the unchanged corpus
        // and regenerates identical output for this batchId. The digest is
        // a store-internal column; the sink sees the caller's schema +
        // value columns. Under CDC (opCol set) the sink additionally sees
        // the op column: enriched survivors tagged 'add' plus the delete
        // ids tagged 'delete' (non-key columns null) — one frame carrying
        // the batch's full index-maintenance instruction, so downstream
        // writers tombstone and stitch from the same delivery the corpus
        // committed from.
        val enriched = AsOfJoin.joinNative(survivors.drop("digest"), build,
          enrichKeys, tsCol, buildTime, valueCols, strategy)
        val toSink = (opCol, delIds) match {
          case (None, _) => enriched
          case (Some(oc), None) => enriched.withColumn(oc, lit("add"))
          case (Some(oc), Some(d)) =>
            enriched.withColumn(oc, lit("add")).unionByName(
              d.withColumn(oc, lit("delete")),
              allowMissingColumns = true)
        }
        sink(toSink, batchId)

        // Stage 5 — commit: deletions applied, then survivors (with
        // digest) merge into the blue/green store; marker and data swap
        // atomically.
        store.mergeBatch(survivors, batchId, delIds)
      } finally {
        exactFresh.unpersist()
        delIds.foreach(graft.ops.Checkpoints.release)
      }
    }
  }
}
