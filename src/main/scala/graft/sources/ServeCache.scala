package graft.sources

/** Driver-resident serve cache for an index's stats store — one value per
  * stats directory, keyed by the store's CONTENT VERSION (its top-level
  * listing: every admission, heal, compaction, and retirement commits by
  * renaming into the top level, so any change is visible there):
  *
  *  - version match -> the cached value, no Spark job;
  *  - version drift -> one refresh (`load`), then cached again;
  *  - store over the byte budget -> None, and the caller reads the stats
  *    store itself.
  *
  * Staleness degrades to SCANNING, by construction rather than by
  * invalidation: callers list live data files fresh on every query, read a
  * live file the cached stats do not cover unconditionally, and drop cached
  * rows for dead files. File names are never reused (admission ids are
  * unique, rewrites mint fresh UUID part names), so a cached name can never
  * resolve to different bytes. Writers in THIS JVM also [[invalidate]];
  * other writers are caught by the version key. The bloom face caches
  * deserialized filters, the zone face collected stats rows (ServeCacheSpec,
  * ZoneMapStoreSpec). */
private[sources] final class ServeCache[V] {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, ServeCache.Entry[V]]()

  def invalidate(statsDir: String): Unit =
    entries.remove(ServeCache.cacheKey(statsDir)): Unit

  /** Number of stats stores holding an entry. */
  private[sources] def size: Int = entries.size

  /** The cached (or freshly loaded) value; None when the store exceeds
    * [[ServeCache.maxBytes]]. The version is taken BEFORE `load` reads the
    * store, so a stats append racing the refresh leaves a value newer than
    * its recorded version (the next call refreshes again) — never the
    * reverse. A miss also drops the entries of stats stores that no longer
    * exist (a temporary store deleted after use is never read again): after
    * any miss, every entry belongs to a store still on disk. */
  def get(statsDir: String)(load: => V): Option[V] = {
    val key = ServeCache.cacheKey(statsDir)
    val ver = ServeCache.contentVersion(statsDir)
    val hit = entries.get(key)
    if (hit != null && hit.version == ver) return Some(hit.value)
    entries.keySet.removeIf(k => !new java.io.File(k).exists()): Unit
    if (ServeCache.diskBytes(new java.io.File(statsDir)) > ServeCache.maxBytes) {
      entries.remove(key)
      return None
    }
    val v = load
    entries.put(key, ServeCache.Entry(ver, v)): Unit
    Some(v)
  }
}

private[graft] object ServeCache {

  private final case class Entry[V](version: String, value: V)

  /** Driver-side budget per stats store, in on-disk bytes (mutable so a
    * serving deployment — and the specs — can size it to its driver). */
  @volatile private[graft] var maxBytes: Long =
    sys.env.get("GRAFT_SERVE_CACHE_MAX_BYTES").map(_.toLong)
      .getOrElse(256L << 20)

  private def cacheKey(statsDir: String): String =
    new java.io.File(statsDir).getAbsolutePath

  /** Content-version fingerprint: the top-level listing with kinds,
    * sizes, and mtimes. Commit protocol guarantees every visible change
    * renames something into (or out of) the top level. */
  private def contentVersion(statsDir: String): String = {
    val fs = new java.io.File(statsDir).listFiles()
    if (fs == null) "absent"
    else fs.iterator.map(f =>
      s"${f.getName}/${f.isDirectory}/${f.length()}/${f.lastModified()}")
      .toSeq.sorted.mkString("|")
  }

  private def diskBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else {
      val kids = f.listFiles()
      if (kids == null) 0L else kids.iterator.map(diskBytes).sum
    }
}
