package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver-side memo of COLLECTED registry / zone-map projections, keyed by
  * the immutable (root, version, columns) triple.
  *
  * Every planning read of a store's metadata (a point probe's Bloom row, a
  * box read's rectangles, a range read's windows) was a fresh
  * `spark.read.parquet(_zonemap…).select(…).collect()` — one full driver
  * job (parquet analysis + scheduling) per probe, so a 20-probe demo paid
  * 20 identical jobs to read the same few-KB artifact. A version directory
  * is immutable (TableStore's whole contract), so the collected rows are
  * correct for as long as the version exists: memoize them once per
  * projection. Bounded by an LRU (entries are registry-sized — per-shard
  * stat rows, never data) and dropped wholesale by
  * [[graft.GraftEngine.releaseCaches]] alongside the operators' persisted
  * frames, the same lifecycle every other planning cache in the engine
  * follows. Vacuumed versions age out of the LRU naturally; a re-read of a
  * vacuumed version was already an error before memoization.
  */
object MetaCache {

  private val cache =
    new graft.util.LruCache[(String, Long, String), Array[Row]](128)

  /** The collected `cols` projection of `frame` (a registry / zone-map
    * read of `root`'s immutable version `v`), memoized.
    */
  def rows(frame: => DataFrame, root: String, v: Long,
           cols: Seq[String]): Array[Row] =
    cache.getOrElseUpdate((root, v, cols.mkString(","))) {
      frame.select(cols.map(col): _*).collect()
    }

  /** Merged-HLL distinct estimates, keyed by (root, version, column,
    * shard-set digest): a versioned snapshot is immutable, so the estimate
    * over a shard subset never changes. The shard subset enters the key as
    * a fixed-size digest, not the joined id list — a wide store's
    * admitted-shard lists are unbounded key material.
    */
  private val ndvCache =
    new graft.util.LruCache[(String, Long, String, String), Long](256)

  /** The memoized distinct estimate of `c` over the shard set digested as
    * `shardDigest` in `root`'s version `v`.
    */
  def ndv(root: String, v: Long, c: String, shardDigest: String)(estimate: => Long): Long =
    ndvCache.getOrElseUpdate((root, v, c, shardDigest))(estimate)

  /** Drop every memoized projection and estimate (wired into
    * `GraftEngine.releaseCaches`).
    */
  def clear(): Unit = { cache.clear(); ndvCache.clear() }

  /** Drop every memoized projection and estimate of `root` — called by
    * [[TableStore.commitStaged]] on every successful commit, which closes
    * the staleness edge structurally: a root deleted and re-created at the
    * same path restarts version numbering, so without invalidation the
    * (root, version) key of the NEW incarnation would silently serve the
    * OLD store's rows. Entries for still-on-disk versions re-collect on
    * next use (registry-sized reads — planning cost, never data).
    */
  def invalidateRoot(root: String): Unit = {
    cache.removeIf(_._1 == root)
    ndvCache.removeIf(_._1 == root)
  }

  /** Number of memoized projections (for tests). */
  def size: Int = cache.size

  /** Driver-side replay of the Bloom admission the distributed probe
    * ([[graft.operators.SketchOps.bloomMightContain]]) and the engine's
    * registry commit both compute: bit `splitmix64(x + i) & mask` for
    * every i < k — false ⇒ definitely absent, never a false negative.
    */
  def bloomAdmits(words: Seq[Long], x: Long, bitsLog2: Int, k: Int): Boolean = {
    val mask = (1L << bitsLog2) - 1
    var i = 0
    while (i < k) {
      val p = graft.functions.HashKernels.splitmix64(x + i) & mask
      if ((words((p >>> 6).toInt) & (1L << (p & 63L).toInt)) == 0L) return false
      i += 1
    }
    true
  }

  /** The shard ids whose `bloomCol` filter admits ANY of `values` — the
    * driver-side form of the broadcast-probe-collect pattern for LITERAL
    * probe lists (a handful of values against registry-sized metadata:
    * pure arithmetic, zero Spark jobs). Sorted ascending.
    */
  def admittedShards(frame: => DataFrame, root: String, v: Long,
                     bloomCol: String, values: Seq[Long],
                     bitsLog2: Int, k: Int): Seq[Int] =
    rows(frame, root, v, Seq("shard", bloomCol)).iterator.collect {
      case r if !r.isNullAt(1) &&
        values.exists(bloomAdmits(r.getSeq[Long](1), _, bitsLog2, k)) =>
        r.getInt(0)
    }.toSeq.sorted
}
