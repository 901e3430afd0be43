package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Duration, Instant}

import graft.parse.ValueOverride
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cached id→name item dimension (SURVEY.md §2.1 S9; reference
  * `src/4_fetch_item_prices.py:17-52,158-170`): the Wiki item mapping,
  * cached locally so it is not refetched on every run, force-refreshed
  * when a configured item id is missing from the cache, and expiring after
  * a TTL (the reference's cache never ages out — the TTL closes the gap
  * where a stale-but-complete cache hides a renamed item).
  *
  * This is a config-sized DIMENSION (one row per tradeable item, ~4k), so
  * it lives on the driver and joins as a broadcast — never a shuffle side.
  * The transport is pluggable via [[MappingFetcher]], mirroring
  * [[PriceFetcher]]: tests register deterministic fetchers; a production
  * build registers the HTTP client.
  */
object ItemMappingDim {

  case class ItemMeta(id: String, name: String)

  /** How the mapping in a [[Loaded]] was obtained. `StalePartial` is the
    * degraded path: the fetch failed and the readable cache we fell back
    * to is the very cache whose missing required ids (or age) forced the
    * refetch — callers that key on specific ids must still expect misses
    * and must not treat it as a healthy load.
    */
  sealed trait Freshness
  case object Fresh extends Freshness        // fresh cache or successful fetch
  case object StalePartial extends Freshness // failed fetch, degraded cache fallback
  case object Unavailable extends Freshness  // failed fetch, no readable cache

  case class Loaded(mapping: Map[String, ItemMeta], freshness: Freshness)

  /** Load the mapping, preferring a fresh cache (`:26-32`): a readable
    * cache younger than `maxAge` that contains every id in `requiredIds`
    * is returned as-is; a miss on any required id forces a refetch
    * (`:158-170`); a missing/corrupt/expired cache fetches and rewrites
    * (`:34-52`). A failed fetch falls back to the readable cache if one
    * exists (a partial dimension beats losing every item because one id
    * was missing) but reports it as [[StalePartial]]; with no usable
    * cache it yields an empty [[Unavailable]] mapping, as the reference's
    * `return {}` — callers treat that as "cannot proceed".
    */
  def loadWithStatus(
      cachePath: Path,
      fetcher: String,
      requiredIds: Seq[String] = Nil,
      maxAge: Duration = Duration.ofDays(365),
      now: Instant = Instant.now()): Loaded = {
    val cached = readCache(cachePath, maxAge, now)
    cached match {
      case Some(m) if requiredIds.forall(m.contains) => Loaded(m, Fresh)
      case _ =>
        // cold, corrupt, expired, or stale (required id missing) → fetch
        val fetched =
          try MappingFetcher(fetcher)().map(i => i.id -> i).toMap
          catch { case scala.util.control.NonFatal(_) => Map.empty[String, ItemMeta] }
        if (fetched.nonEmpty) { writeCache(cachePath, fetched, now); Loaded(fetched, Fresh) }
        else cached match {
          case Some(m) => Loaded(m, StalePartial)
          case None => Loaded(Map.empty, Unavailable)
        }
    }
  }

  /** [[loadWithStatus]] keeping only the mapping, for callers that treat
    * empty-vs-nonempty as the only signal (the reference's shape).
    */
  def load(
      cachePath: Path,
      fetcher: String,
      requiredIds: Seq[String] = Nil,
      maxAge: Duration = Duration.ofDays(365),
      now: Instant = Instant.now()): Map[String, ItemMeta] =
    loadWithStatus(cachePath, fetcher, requiredIds, maxAge, now).mapping

  /** Resolve the configured overrides against the mapping (`:157-176`):
    * items with a dynamic-price id split into (fetchable ids, ids missing
    * from the mapping). Pure — the force-refresh loop belongs to `load`.
    */
  def itemsToFetch(
      overrides: Seq[ValueOverride],
      mapping: Map[String, ItemMeta]): (Seq[(String, String)], Seq[String]) = {
    val dynamic = overrides.collect {
      case ValueOverride(name, _, Some(id)) => (name, id)
    }
    val (ok, missing) = dynamic.partition { case (_, id) => mapping.contains(id) }
    (ok, missing.map(_._2))
  }

  /** The dimension as a DataFrame for joins — always broadcast-sized. */
  def toDim(spark: SparkSession, mapping: Map[String, ItemMeta]): DataFrame = {
    import spark.implicits._
    mapping.values.toSeq.sortBy(_.id).map(i => (i.id, i.name))
      .toDF("item_id", "item_name")
  }

  // Cache format: line 1 = fetch epoch-millis; then one `id\tname` per
  // line. Dependency-free stand-in for the reference's JSON file (`:23`).
  private def readCache(path: Path, maxAge: Duration, now: Instant): Option[Map[String, ItemMeta]] =
    try {
      if (!Files.exists(path)) return None
      val lines = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
        .split("\n", -1).toSeq
      val fetchedAt = Instant.ofEpochMilli(lines.head.trim.toLong)
      if (Duration.between(fetchedAt, now).compareTo(maxAge) > 0) return None
      Some(lines.tail.filter(_.nonEmpty).map { l =>
        val Array(id, name) = l.split("\t", 2)
        id -> ItemMeta(id, name)
      }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeCache(path: Path, m: Map[String, ItemMeta], now: Instant): Unit = {
    // Names are sanitized into the line format (tab/newline → space): an
    // embedded '\n' would split an entry across lines and make the whole
    // cache unparsable — readCache's NonFatal guard then silently
    // refetches every run AND the StalePartial network-failure fallback
    // is lost. The atomic replace keeps a concurrent reader off torn files.
    def clean(s: String) = s.map(c => if (c == '\t' || c == '\n' || c == '\r') ' ' else c)
    val body = now.toEpochMilli.toString +: m.values.toSeq.sortBy(_.id)
      .map(i => s"${clean(i.id)}\t${clean(i.name)}")
    graft.ops.LocalFs.replaceAtomically(path, body.mkString("\n"))
  }
}

/** Pluggable mapping transport, same pattern as [[PriceFetcher]]. */
object MappingFetcher {
  type Fetch = () => Seq[ItemMappingDim.ItemMeta]
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Fetch]()
  def register(name: String, f: Fetch): Unit = registry.put(name, f)
  def apply(name: String): Fetch = {
    val f = registry.get(name)
    require(f != null, s"no MappingFetcher registered under '$name'")
    f
  }
}
