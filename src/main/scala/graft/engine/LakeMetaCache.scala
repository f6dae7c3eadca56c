package graft.engine

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}

/** Hit, miss and entry counts of [[LakeMetaCache]] since process start. */
final case class MetaCacheStats(hits: Long, misses: Long, entries: Int)

/** The one process-wide cache of lake metadata that never changes once
  * written: manifest facts, registry parses, data-dir listings, parsed
  * stats and bloom sidecars, footer row counts, and deletion-vector
  * bindings, refs and sizes.
  *
  * Listing and sidecar keys are a path together with the modification
  * time and length of one `getFileStatus` ([[stamp]]): a lake deleted
  * and re-created at the same path (tag-named `d-<tag>` dirs reuse
  * their names) stamps differently, so those entries cannot go stale
  * and nothing needs invalidating; the stamp replaces the existence
  * probe the uncached reads made anyway. Deletion-vector entries key on
  * a DV sidecar's name, modification time and length from the
  * `_deletes` listing, for the same reason (tag-derived uuids repeat).
  * Footer entries key on a part file's path, a name never reused.
  * Manifest facts and registry parses key on their file's stamp too
  * ([[VersionedLake.resolve]]).
  * Least-recently-used entries drop once the entries' weights
  * (approximate bytes) pass [[MaxWeight]]. */
private[graft] object LakeMetaCache {
  val MaxWeight: Long = 64L << 20

  private val lru = // key → (value, weight), least recently used first
    new java.util.LinkedHashMap[Any, (Any, Long)](1024, 0.75f, true)
  private var weight = 0L
  private val hits = new AtomicLong
  private val misses = new AtomicLong

  /** The value cached under `key`, computed on a miss. A compute that
    * throws caches nothing, so a failure is retried by the next call. */
  def memo[V](key: Any)(compute: => V): V =
    lru.synchronized(Option(lru.get(key))) match {
      case Some((v, _)) => hits.incrementAndGet(); v.asInstanceOf[V]
      case None =>
        misses.incrementAndGet()
        val v = compute
        val w = weightOf(v)
        lru.synchronized {
          Option(lru.put(key, (v, w))).foreach(old => weight -= old._2)
          weight += w
          val it = lru.values.iterator
          while (weight > MaxWeight && it.hasNext) {
            weight -= it.next()._2
            it.remove()
          }
        }
        v
    }

  /** The value cached under `key`, if any; computes nothing. */
  def peek[V](key: Any): Option[V] =
    lru.synchronized(Option(lru.get(key))).map { case (v, _) =>
      hits.incrementAndGet(); v.asInstanceOf[V]
    }

  /** Approximate retained bytes of a cached value. A collection is
    * weighed element by element in a loop — before the `Product` case,
    * which a `List` also matches and would recurse through once per
    * element. */
  private[graft] def weightOf(v: Any): Long = v match {
    case _: org.apache.hadoop.fs.FileStatus => 512L
    case b: java.util.BitSet => 64L + b.size / 8
    case s: String => 48L + 2L * s.length
    case a: Array[_] => 64L + a.iterator.map(weightOf).sum
    case c: Iterable[_] => 64L + c.iterator.map(weightOf).sum
    case p: Product => 32L + p.productIterator.map(weightOf).sum
    case _ => 16L
  }

  /** (qualified path, modification time, length) of `p` from one
    * `getFileStatus`; None when `p` does not exist. */
  def stamp(f: FileSystem, p: Path): Option[(String, Long, Long)] =
    try {
      val st = f.getFileStatus(p)
      Some((st.getPath.toString, st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  def stats: MetaCacheStats =
    lru.synchronized(MetaCacheStats(hits.get, misses.get, lru.size))
}
