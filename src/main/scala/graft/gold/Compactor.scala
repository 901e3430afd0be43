package graft.gold

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directories — the maintenance half of
  * the layout story: an incremental-append silver layer (idempotent
  * appends, streaming micro-batches, retried partials) accretes files far
  * below the row-group sweet spot, and at 100 TB the scan cost becomes
  * driver listing + per-file open overhead instead of I/O. Compaction
  * rewrites a fragmented directory into ~`targetFileBytes` files.
  *
  * The rewrite lands in a NEW directory: plain-parquet directory swaps
  * are not atomic on object stores, so readers keep the old path until
  * the caller flips their pointer (unlike [[GoldSink]], which owns its
  * pointer and is local-filesystem only). Row content is preserved exactly; intra-file order is not
  * contractual (parquet readers get no ordering guarantee from a
  * directory anyway).
  */
object Compactor {

  /** (file count, total bytes) for the parquet data files under `dir`. */
  def stats(spark: SparkSession, dir: String): (Int, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")
    }
    (files.length, files.map(_.getLen).sum)
  }

  /** Fragmented = more than `minFiles` files AND mean file size under half
    * the target (a directory of two 60 MB files at a 128 MB target is left
    * alone; two hundred 200 KB files are not).
    */
  def fragmented(nFiles: Int, totalBytes: Long, targetFileBytes: Long, minFiles: Int): Boolean =
    nFiles > minFiles && totalBytes / nFiles < targetFileBytes / 2

  def shouldCompact(
      spark: SparkSession, dir: String,
      targetFileBytes: Long, minFiles: Int): Boolean = {
    val (n, bytes) = stats(spark, dir)
    fragmented(n, bytes, targetFileBytes, minFiles)
  }

  /** Rewrite `srcDir` into `destDir` with ~`targetFileBytes` files (at
    * least one). Returns the output file count; no-ops (returns 0, writes
    * nothing) when the source is already healthy. One listing pass feeds
    * both the decision and the size computation — on an object store with
    * thousands of small files (exactly the case this targets) a second
    * listStatus doubles latency and can disagree with the first.
    */
  def compact(
      spark: SparkSession, srcDir: String, destDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 8): Int = {
    val (n, bytes) = stats(spark, srcDir)
    if (!fragmented(n, bytes, targetFileBytes, minFiles)) 0
    else {
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      // mergeSchema, NOT the default single-footer read: a compaction is
      // precisely where old and new files meet, and reading with one
      // file's footer would silently and PERMANENTLY drop columns only
      // newer files carry (the hazard Evolution.scala exists for —
      // rewrites must preserve row content exactly).
      spark.read.option("mergeSchema", "true").parquet(srcDir)
        .repartition(nOut)
        .write.mode("overwrite").parquet(destDir)
      nOut
    }
  }
}
