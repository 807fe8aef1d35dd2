package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * Memory-accounted LRU over persisted session artifacts — the Spark analogue
 * of the reference's sparse-index cache tier:
 *  - cache/AbstractLruCache.java — an access-recency map with
 *    `evict(ramBytesToRelease)` looping least-recent-first until enough
 *    bytes are freed or the cache is empty;
 *  - cache/MemoryUsageManager.java + cache/RamBytesRecorder.java — byte
 *    accounting against a fixed limit, recorded once at admission so the
 *    release always matches what was charged;
 *  - cache/CircuitBreakerManager.java — admission asks the breaker and
 *    returns FALSE instead of throwing when the charge would trip it;
 *  - cache/CacheGatedPostingsReader.java — the two-tier read: cache first,
 *    underlying storage on miss, populate after; a refused admission still
 *    serves the read from storage.
 *
 * Spark-side the "cache" is `persist()` and the "storage" is the artifact's
 * lineage. An entry is a built artifact (one Dataset, an [[Index]], a pair
 * of IVF tables) with every Dataset it keeps persisted: eviction unpersists
 * them all (the blocks are dropped, the plans stay valid), and a
 * breaker-refused admission returns the artifact UNPERSISTED — every read
 * still succeeds, it just recomputes from source, exactly the gated
 * reader's fallback. The LRU decision lives at the layer that knows the
 * artifact boundaries: Spark's own storage-memory eviction drops BLOCKS
 * (per-partition, no artifact-level recency), not whole cold artifacts.
 *
 * The charge is MEASURED, not estimated, and recorded once at admission
 * so release always matches it (RamBytesRecorder's contract): the storage
 * snapshot is taken before the build runs, every Dataset the entry holds
 * is materialized, and the cached block bytes they added — less what
 * nested builds were charged — plus a [[BoundedCache.DriverHeld]]'s driver
 * bytes — are weighed, like ramBytesUsed on a built structure. An artifact
 * that alone exceeds the limit is un-persisted again and counted as a breaker rejection. (A
 * plan-statistics estimate degrades to Long.MaxValue whenever any operator
 * cannot be estimated, which would silently reject every admission.) Tests
 * and deterministic entries pass an explicit weigher.
 *
 * Builds run one at a time, so a key is built once however many callers
 * ask for it, and a build's storage delta holds only its own blocks; hits
 * never wait for a build of another key.
 */
class BoundedCache[K](val limitBytes: Long,
                      weigher: Option[Dataset[_] => Long] = None) {
  require(limitBytes > 0, "limitBytes must be positive")

  private case class Entry(value: Any, held: Seq[Dataset[_]], bytes: Long)
  // accessOrder=true: iteration is least-recently-used first, the same
  // recency order AbstractLruCache keeps in its ConcurrentLinkedHashMap
  private val entries = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true)
  // monitors are reentrant: a build may get the entries it is built from
  private val building = new Object
  private var usedBytes, admittedBytes = 0L
  private var hitN, missN, evictN, rejectN = 0L

  /** Two-tier read (CacheGatedPostingsReader) of a one-Dataset artifact:
   *  the cached Dataset on hit; on miss `build` runs, is persisted and
   *  admitted if the breaker allows — evicting
   *  least-recent entries first — else returned unpersisted (the
   *  read-from-storage fallback). */
  def get[T](key: K)(build: => Dataset[T]): Dataset[T] =
    getOrBuild(key)(BoundedCache.persisted(build))

  /** Atomic get-or-build of any artifact: `build` returns the artifact and
   *  every Dataset it keeps persisted, which admission materializes before
   *  weighing them. One build per key even under concurrent callers; a
   *  build that throws leaves no entry. */
  def getOrBuild[A](key: K)(build: => (A, Seq[Dataset[_]])): A =
    lookup[A](key).getOrElse(building.synchronized {
      lookup[A](key).getOrElse(admit(key, build))
    })

  private def lookup[A](key: K): Option[A] = synchronized {
    Option(entries.get(key)).map { e => hitN += 1; e.value.asInstanceOf[A] }
  }

  private def admit[A](key: K, build: => (A, Seq[Dataset[_]])): A = {
    synchronized { missN += 1 }
    val sc = Option.when(weigher.isEmpty)(SparkSession.active.sparkContext)
    val before = sc.fold(Set.empty[Int])(_.getRDDStorageInfo.map(_.id).toSet)
    val nested = synchronized(admittedBytes)
    val (value, held) = build
    held.foreach(_.count())
    val driver = value match { case d: BoundedCache.DriverHeld => d.driverBytes; case _ => 0L }
    val bytes = driver + (weigher match {
      case Some(w) => held.map(d => math.max(w(d), 0L)).sum
      case None => math.max(0L, sc.get.getRDDStorageInfo.filterNot(r => before(r.id))
        .map(r => r.memSize + r.diskSize).sum - (synchronized(admittedBytes) - nested))
    })
    synchronized {
      if (bytes > limitBytes) {
        // even an empty cache cannot hold it: the breaker refuses
        // (CircuitBreakerManager.addMemoryUsage -> false), the blocks are
        // released again, and the caller reads through to the lineage
        rejectN += 1
        held.foreach(d => scala.util.Try(d.unpersist()))
      } else {
        evict(bytes - (limitBytes - usedBytes))
        entries.put(key, Entry(value, held, bytes))
        usedBytes += bytes
        admittedBytes += bytes
      }
    }
    value
  }

  /** Evict least-recently-used entries until at least `ramBytesToRelease`
   *  bytes are freed or the cache is empty (AbstractLruCache.evict).
   *  Evicted artifacts unpersist every Dataset they hold. */
  def evict(ramBytesToRelease: Long): Long = synchronized {
    var left = ramBytesToRelease
    dropWhere(release = true)((_, e) => left > 0 && { left -= e.bytes; true })
  }

  /** Drop everything — the clear-cache action
   *  (rest/RestNeuralSparseClearCacheHandler.java's transport chain). */
  def clear(): Unit = evict(Long.MaxValue)

  /** Evict (unpersist and drop) the entries whose key is `stale` — e.g.
   *  every entry built over an on-disk store that was just deleted. */
  def invalidate(stale: K => Boolean): Unit = dropWhere(release = true)((k, _) => stale(k))

  /** Drop entries whose key fails the predicate WITHOUT unpersisting —
   *  for artifacts bound to an already-stopped SparkContext, whose blocks
   *  died with it. */
  def retainKeys(keep: K => Boolean): Unit = dropWhere(release = false)((k, _) => !keep(k))

  /** Drops the entries `p` selects, in LRU order, and returns their bytes.
   *  A dead SparkContext (session cycling) only needs the accounting
   *  dropped, so unpersist failures are swallowed. */
  private def dropWhere(release: Boolean)(p: (K, Entry) => Boolean): Long = synchronized {
    var dropped = 0L
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      if (p(e.getKey, v)) {
        if (release) { v.held.foreach(d => scala.util.Try(d.unpersist())); evictN += 1 }
        usedBytes -= v.bytes
        dropped += v.bytes
        it.remove()
      }
    }
    dropped
  }

  def contains(key: K): Boolean = synchronized { entries.containsKey(key) }

  /** (stat_name, value) rows — the cache slice of the reference's stats
   *  surface (cache/MemMonitoredCache + stats managers). */
  def stats: Seq[(String, Long)] = synchronized {
    Seq(
      "cache_hits" -> hitN,
      "cache_misses" -> missN,
      "cache_evictions" -> evictN,
      "cache_breaker_rejections" -> rejectN,
      "cache_ram_bytes_used" -> usedBytes,
      "cache_entries" -> entries.size().toLong)
  }
}

object BoundedCache {

  /** An artifact that also keeps driver memory (an [[Index]]'s term
   *  dictionary): admission charges its `driverBytes` too. */
  trait DriverHeld { def driverBytes: Long }

  /** Registry key: the artifact `kind` built over corpus (or store) `dir`
   *  with `params`, in the application `app`. */
  case class Key(app: String, kind: String, dir: String, params: String)

  /** The one session artifact registry: every index (its positions a view
   *  of its blocks), semantic chunk table and ANN structure a session
   *  builds lives here.
   *  The limit is effectively unbounded on a local host unless configured
   *  (-Dgraft.cache.limitBytes); on a memory-tight cluster the bound turns
   *  cold artifacts back into recomputable lineage instead of letting
   *  Spark's block-level storage eviction shred hot ones. */
  val session: BoundedCache[Key] = new BoundedCache(
    sys.props.get("graft.cache.limitBytes").map(_.toLong).getOrElse(1L << 40))

  /** Get-or-build `kind` over `dir` in `spark`'s application (see
   *  [[BoundedCache.getOrBuild]]). Entries of any other application are
   *  dropped first without unpersisting: they are bound to a stopped
   *  SparkContext (the bench cycles sessions in one JVM), whose blocks died
   *  with it, and would otherwise pin dead plans for the JVM's lifetime. */
  def artifact[A](spark: SparkSession, kind: String, dir: String, params: String = "")(
      build: => (A, Seq[Dataset[_]])): A = {
    val app = spark.sparkContext.applicationId
    session.retainKeys(_.app == app)
    session.getOrBuild(Key(app, kind, dir, params))(build)
  }

  /** A one-Dataset artifact, persisted and materialized at its admission. */
  def dataset[T](spark: SparkSession, kind: String, dir: String, params: String = "")(
      build: => Dataset[T]): Dataset[T] =
    artifact(spark, kind, dir, params)(persisted(build))

  private def persisted[T](ds: Dataset[T]): (Dataset[T], Seq[Dataset[_]]) = {
    val p = ds.persist()
    (p, Seq(p))
  }

  /** The on-disk store of an artifact under `root` for corpus `dir`:
   *  `<root>/<dir with every character outside [a-zA-Z0-9.] as _>_<hex>`,
   *  where `<hex>` is the first 16 hex digits of the SHA-256 of `dir`, so
   *  two dirs that spell the same with `_` (`/a/b_c`, `/a_b/c`) get two
   *  stores. */
  def storePath(root: String, dir: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"$root/${dir.replaceAll("[^a-zA-Z0-9.]", "_")}_${java.util.HexFormat.of().formatHex(sha, 0, 8)}"
  }
}
