package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType,
  ShortType, StructType}

/** What the two IVF families ([[IvfIndex]], [[PqIndex]]) share: their
  * list trees (rows PARTITIONED BY `list`), the maintenance batch's
  * classifier and touched-list replay guard, and the one generation
  * lifecycle ([[Family]]) above the build and the probe.
  */
private[graft] object IvfLists {

  /** Read an engine-written parquet tree with its data schema PINNED
    * from one data file's footer (the Spark row schema every Spark
    * writer stores), read on the driver — so no schema-inference job.
    * Partition columns (`list`) are still inferred from the paths. No
    * data file, or a foreign footer, falls back to inference.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir)
      .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  private def footerSchema(spark: SparkSession,
      dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    // Stops at the first data file; hidden `_`/`.` entries are skipped
    // as Spark's file index skips them.
    val files = fs.listFiles(root, true)
    var found: Option[org.apache.hadoop.fs.Path] = None
    while (found.isEmpty && files.hasNext) {
      val p = files.next().getPath
      val rel = p.toUri.getPath.stripPrefix(root.toUri.getPath)
      if (p.getName.endsWith(".parquet") &&
          !rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
        found = Some(p)
    }
    found.flatMap { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try Option(r.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      finally r.close()
    }
  }

  /** The one partitioned list write: one writer per `list` (no
    * small-files explosion), `maxRecordsPerFile` capping hot cells.
    */
  def write(rows: DataFrame, dir: String, mode: String,
      maxRecordsPerFile: Long): Unit =
    rows.repartition(col("list"))
      .write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("list")
      .parquet(dir)

  /** A centroid id as a join key on a tree's `list` column, cast to the
    * type path inference gave it (long narrows to int): casting the
    * small side keeps the tree's key a bare partition attribute, as
    * dynamic partition pruning requires. An id out of that range (an
    * empty centroid) maps to NULL rather than wrapping onto a real
    * list, and NULL never equi-joins — exactly an empty cell.
    */
  def listKey(id: Column, listType: DataType): Column = {
    val range: Option[(Long, Long)] = listType match {
      case ByteType => Some((Byte.MinValue.toLong, Byte.MaxValue.toLong))
      case ShortType => Some((Short.MinValue.toLong, Short.MaxValue.toLong))
      case IntegerType => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
      case _ => None // long/string/decimal inference: cast is total
    }
    range.fold(id){ case (lo, hi) => when(id.between(lo, hi), id) }
      .cast(listType)
  }

  /** A maintenance batch's distinct added ids, whether it deletes, and
    * whether it UPDATES (one id carrying both).
    */
  final case class Shape(adds: Long, deletes: Boolean, update: Boolean)

  /** Classify a batch of (idCol, vecCol, opCol) rows in ONE aggregate
    * (the id sets are batch-sized). An add counts only with a vector —
    * a null-vector add is never stored — so `adds` is exactly the row
    * count of the batch's assigned adds.
    */
  def classify(batch: DataFrame, idCol: String, vecCol: String,
      opCol: String): Shape = {
    val isAdd = col(opCol) === "add" && col(vecCol).isNotNull
    val isDel = col(opCol) === "delete"
    val addIds = collect_set(when(isAdd, col(idCol)))
    val r = batch.agg(size(addIds),
      coalesce(max(isDel), lit(false)),
      size(array_intersect(addIds, collect_set(when(isDel, col(idCol))))) > 0)
      .head()
    Shape(r.getInt(0).toLong, r.getBoolean(1), r.getBoolean(2))
  }

  /** The touched-list REPLAY GUARD: drop every assigned add whose id is
    * already in `stored` within a list some add of the batch touches
    * (`wholeTree`: anywhere in `stored`). A replayed add re-derives the
    * same assignment, so it always lands in a list the guard reads. The
    * touched lists are an in-plan semi-join on the `list` partition
    * key, so dynamic partition pruning reads only those cells.
    */
  def guard(assigned: DataFrame, stored: DataFrame, wholeTree: Boolean,
      counts: GuardCounts): DataFrame = {
    val seen =
      if (wholeTree) stored
      else stored.join(
        broadcast(assigned.select(
          listKey(col("list"), stored.schema("list").dataType).as("list"))),
        Seq("list"), "left_semi")
    assigned
      .join(seen.select(col("neighbor_id")), Seq("neighbor_id"), "left_anti")
      .observe(counts.kept, count(lit(1)).as("n"))
  }

  /** The adds a [[guard]] dropped, for the maintenance log, with no
    * count job: `offered` is [[classify]]'s (a batch guards its adds
    * exactly when it has some), the kept rows a metric observed on the
    * write that consumed the guard. Metrics arrive through the listener
    * bus, so [[log]] waits (bounded) for them; a row without the value
    * means adaptive execution dropped the observed subtree as empty —
    * nothing kept.
    */
  final class GuardCounts(offered: Long) {
    private[IvfLists] val kept = Observation()

    def log(family: String): Unit = if (offered > 0) {
      val k = scala.util.Try(scala.concurrent.Await.result(kept.future,
          scala.concurrent.duration.Duration(5, "s"))).toOption
        .map(r => if (r.length == 0) 0L else r.getLong(0))
      k.filter(offered > _).foreach(n =>
        System.err.println(s"[graft] $family.applyMaintenanceBatch: " +
          s"${offered - n} add(s) for already-live ids ignored (adds are " +
          "not upserts; an update is a same-batch delete+add)"))
    }
  }

  /** The one append, delete, compact, maintenance batch and survivor
    * read of [[IvfIndex]] and [[PqIndex]] (their docs state the rules).
    * A family is its [[VersionedTree]], the `linked` trees a rewritten
    * generation hard-links from the live one (deletes and updates never
    * move centroids or codes), and `rowsOf`: (generation, adds as
    * (neighbor_id, vec)) → list rows under that generation's codebooks.
    */
  final class Family(name: String, versions: VersionedTree,
      linked: Seq[String], rowsOf: (String, DataFrame) => DataFrame) {

    def append(spark: SparkSession, path: String, delta: DataFrame,
        idCol: String, vecCol: String, maxRecordsPerFile: Long): Unit = {
      val gen = s"$path/${versions.liveVersion(spark, path)}"
      write(rowsOf(gen, delta.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("vec"))),
        s"$gen/lists", "append", maxRecordsPerFile)
    }

    def delete(spark: SparkSession, path: String, ids: DataFrame,
        idCol: String): Unit =
      tombstone(spark, s"$path/${versions.liveVersion(spark, path)}", ids,
        idCol)

    private def tombstone(spark: SparkSession, gen: String, ids: DataFrame,
        idCol: String): Unit =
      VersionedTree.tombstone(spark, gen, ids, idCol,
        read(spark, s"$gen/lists"), "neighbor_id")

    /** Generation `gen`'s list rows minus its tombstones and the optional
      * `also` ids — what every fold, refit, drift scan and IVF probe reads.
      */
    def survivors(spark: SparkSession, gen: String,
        also: Option[DataFrame] = None): DataFrame =
      VersionedTree.masked(spark, gen, read(spark, s"$gen/lists"),
        "neighbor_id", also)

    def compact(spark: SparkSession, path: String, maxRecordsPerFile: Long,
        retain: Int): Unit = {
      val live = versions.liveVersion(spark, path)
      val folded = survivors(spark, s"$path/$live")
      // A zero-row partitioned overwrite lands no parquet files for later
      // reads to infer a schema from; the mask already hides everything.
      if (folded.isEmpty) {
        System.err.println(s"[graft] $name.compact: every stored row " +
          s"under $path is tombstoned — keeping the mask instead of " +
          "committing an empty generation. This mask can never be folded " +
          "(every compact re-hits this case): NEW ids still append and " +
          "serve (the mask only hides the tombstoned ids), but " +
          "repopulating the masked ids needs a rebuild (write), which " +
          "clears it")
        return
      }
      commitLists(spark, path, live, folded, maxRecordsPerFile, retain)
      val mask = new org.apache.hadoop.fs.Path(s"$path/$live/tombstones")
      mask.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(mask, true): Unit
    }

    /** `wholeTree` widens the replay guard to the full tree ([[guard]]). */
    def applyBatch(spark: SparkSession, path: String, batch: DataFrame,
        idCol: String, vecCol: String, opCol: String,
        maxRecordsPerFile: Long, wholeTree: Boolean, retain: Int): Unit = {
      val shape = classify(batch, idCol, vecCol, opCol)
      val counts = new GuardCounts(shape.adds)
      val live = versions.liveVersion(spark, path)
      val gen = s"$path/$live"
      val deletes = batch.filter(col(opCol) === "delete")
        .select(col(idCol).cast("long").as("neighbor_id"))
      // The adds, one row per id (an id twice in one batch must not land
      // twice; the vector choice is max, not arrival order), in the
      // stored vec type, behind the replay guard over `stored`.
      def fresh(stored: DataFrame): DataFrame = {
        val adds = batch.filter(col(opCol) === "add")
          .groupBy(col(idCol).as("neighbor_id"))
          .agg(max(col(vecCol)).as("vec"))
          .select(col("neighbor_id"),
            col("vec").cast(stored.schema("vec").dataType).as("vec"))
        guard(rowsOf(gen, adds), stored, wholeTree, counts)
      }
      if (shape.update) {
        val kept = survivors(spark, gen, Some(deletes))
        commitLists(spark, path, live, kept.unionByName(fresh(kept)),
          maxRecordsPerFile, retain)
      } else {
        if (shape.deletes) tombstone(spark, gen, deletes, "neighbor_id")
        if (shape.adds > 0) write(fresh(read(spark, s"$gen/lists")),
          s"$gen/lists", "append", maxRecordsPerFile)
      }
      counts.log(name)
    }

    /** Commit `rows` as the next generation's lists beside hard links of
      * the live generation's `linked` trees.
      */
    private def commitLists(spark: SparkSession, path: String, live: String,
        rows: DataFrame, maxRecordsPerFile: Long, retain: Int): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      versions.commitNext(spark, path, retain) { gen =>
        write(rows, s"$gen/lists", "overwrite", maxRecordsPerFile)
        linked.foreach(t => TreeClone.linkOrCopy(
          new org.apache.hadoop.fs.Path(s"$path/$live/$t"),
          new org.apache.hadoop.fs.Path(s"$gen/$t"), conf))
      }: Unit
    }
  }
}
