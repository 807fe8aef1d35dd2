package graft

import org.apache.spark.storage.StorageLevel
import graft.index.BoundedCache

/** Memory-accounted LRU artifact cache (reference: sparse cache/ package —
 *  AbstractLruCache eviction order, MemoryUsageManager accounting,
 *  CircuitBreakerManager refusals, CacheGatedPostingsReader read-through). */
class BoundedCacheSpec extends SparkSpec {
  import spark.implicits._

  private def art(n: Int) = (1 to 10).map(i => (i.toLong * n, n)).toDF("id", "n")

  test("hit returns the same persisted instance; miss admits and materializes") {
    val c = new BoundedCache[String](1000L, Some(_ => 10L))
    val a1 = c.get("a")(art(1))
    assert(a1.storageLevel != StorageLevel.NONE, "admitted artifact is persisted")
    val a2 = c.get("a")(sys.error("hit must not rebuild"): org.apache.spark.sql.DataFrame)
    assert(a1 eq a2, "hit returns the cached instance")
    assert(c.stats.toMap == Map("cache_hits" -> 1L, "cache_misses" -> 1L,
      "cache_evictions" -> 0L, "cache_breaker_rejections" -> 0L,
      "cache_ram_bytes_used" -> 10L, "cache_entries" -> 1L))
  }

  test("LRU eviction: least-recent entry unpersists; access refreshes recency") {
    val c = new BoundedCache[String](100L, Some(_ => 40L))
    val a = c.get("a")(art(1))
    val b = c.get("b")(art(2))
    c.get("a")(art(1)) // hit: b becomes LRU
    val d = c.get("d")(art(3)) // 120 > 100: evicts b, not a
    assert(a.storageLevel != StorageLevel.NONE, "recently-used entry survives")
    assert(b.storageLevel == StorageLevel.NONE, "LRU entry is unpersisted")
    assert(d.storageLevel != StorageLevel.NONE)
    // the evicted key still READS correctly — it just recomputes + readmits
    assert(c.get("b")(art(2)).count() == 10L)
    val m = c.stats.toMap
    assert(m("cache_evictions") == 2L, s"b evicted, then a evicted on b's readmission: $m")
    assert(m("cache_ram_bytes_used") == 80L && m("cache_entries") == 2L)
  }

  test("breaker refusal: an artifact over the whole limit is served unpersisted") {
    val c = new BoundedCache[String](100L, Some(ds => 200L))
    val big = c.get("big")(art(1))
    assert(big.storageLevel == StorageLevel.NONE, "refused admission left no blocks")
    assert(big.count() == 10L, "the read still computes from lineage")
    val m = c.stats.toMap
    assert(m("cache_breaker_rejections") == 1L && m("cache_entries") == 0L
      && m("cache_ram_bytes_used") == 0L)
  }

  test("clear unpersists everything; retainKeys drops accounting only") {
    val c = new BoundedCache[String](1000L, Some(_ => 10L))
    val a = c.get("a")(art(1))
    c.clear()
    assert(a.storageLevel == StorageLevel.NONE && c.stats.toMap.apply("cache_entries") == 0L)
    val b = c.get("app1#b")(art(2))
    c.retainKeys(!_.startsWith("app1"))
    assert(b.storageLevel != StorageLevel.NONE,
      "retainKeys (dead-app cleanup) must not touch the blocks")
    assert(c.stats.toMap.apply("cache_entries") == 0L
      && c.stats.toMap.apply("cache_ram_bytes_used") == 0L)
    b.unpersist()
  }

  test("default weigher measures the actual cached bytes of the admission") {
    val c = new BoundedCache[String](Long.MaxValue / 2)
    c.get("m")(art(1))
    val m = c.stats.toMap
    assert(m("cache_ram_bytes_used") > 0L,
      s"measured storage-info delta must see the cached blocks: $m")
    c.clear()
    assert(c.stats.toMap.apply("cache_ram_bytes_used") == 0L)
  }

  test("concurrent callers of one key: the build runs once, all get the same instance") {
    val c = new BoundedCache[String](1000L, Some(_ => 10L))
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      got.add(c.get("k") { builds.incrementAndGet(); Thread.sleep(200); art(1) })
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    assert(builds.get == 1, "one build per key")
    assert(got.size == 8 && got.toArray.forall(_ eq got.peek()), "every caller got the one entry")
    assert(c.stats.toMap.apply("cache_misses") == 1L && c.stats.toMap.apply("cache_hits") == 7L)
    c.clear()
  }

  test("a build that throws leaves no entry; the next get builds again") {
    val c = new BoundedCache[String](1000L, Some(_ => 10L))
    intercept[IllegalStateException](
      c.get[org.apache.spark.sql.Row]("x")(throw new IllegalStateException("build failed")))
    assert(!c.contains("x") && c.stats.toMap.apply("cache_entries") == 0L)
    var built = false
    val x = c.get("x") { built = true; art(1) }
    assert(built && c.contains("x") && x.storageLevel != StorageLevel.NONE)
    c.clear()
  }

  test("a session artifact drops other applications' entries without unpersisting") {
    val other = BoundedCache.Key("app-stopped", "spec", "/corpus", "")
    val stale = BoundedCache.session.getOrBuild(other) {
      val p = art(3).persist()
      p.count()
      (p, Seq(p))
    }
    val mine = BoundedCache.dataset(spark, "spec", "/corpus")(art(4))
    assert(!BoundedCache.session.contains(other), "another application's entry is dropped")
    assert(stale.storageLevel != StorageLevel.NONE, "its blocks are left alone")
    assert(BoundedCache.session.contains(
      BoundedCache.Key(spark.sparkContext.applicationId, "spec", "/corpus", "")))
    stale.unpersist()
    BoundedCache.session.invalidate(_.kind == "spec")
    assert(mine.storageLevel == StorageLevel.NONE)
  }

  test("evicting an Index entry unpersists its blocks, postings, docLens and termStats") {
    val dir = java.nio.file.Files.createTempDirectory("cache-index").toString
    Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta alpha"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val idx = graft.index.IndexCache.documents(spark, dir)
    idx.postings.count(); idx.docLens.count(); idx.termStats.count()
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size == 2, s"the laid-out blocks and termStats are cached: $held")
    BoundedCache.session.invalidate(_.dir == dir)
    assert(Seq(idx.postings, idx.docLens, idx.termStats).forall(_.storageLevel == StorageLevel.NONE))
    assert((sc.getPersistentRDDs.keySet intersect held).isEmpty,
      "every Dataset the entry held is unpersisted, the block table included")
  }

  test("positions are a view of the warm index entry: no registry entry, no cached RDD") {
    val sc = spark.sparkContext
    def entries = BoundedCache.session.stats.toMap.apply("cache_entries")
    def check(what: String)(warm: => graft.index.Index)(
        positions: => org.apache.spark.sql.Dataset[graft.index.PosBlock]): Unit = {
      val idx = warm
      idx.postings.count()
      val (n0, rdds0) = (entries, sc.getPersistentRDDs.keySet)
      val pos = positions
      assert(pos.count() == idx.postings.count(), s"$what: one positional block per posting block")
      assert(entries == n0, s"$what: positions add no registry entry")
      assert(sc.getPersistentRDDs.keySet == rdds0, s"$what: positions cache no RDD of their own")
    }
    val dir = java.nio.file.Files.createTempDirectory("cache-positions").toString
    Seq((1L, "alpha beta alpha"), (2L, "beta gamma"), (5000L, "gamma delta alpha"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    check("documents")(graft.index.IndexCache.documents(spark, dir))(
      graft.index.IndexCache.positions(spark, dir))
    BoundedCache.session.invalidate(_.dir == dir)
    val sf = "/root/testdata/sf0.001"
    check("corpusField")(graft.index.IndexCache.corpusField(spark, sf, "path"))(
      graft.index.IndexCache.corpusFieldPositions(spark, sf, "path"))
  }

  test("storePath keeps apart two dirs that spell the same with '_'") {
    val a = BoundedCache.storePath("root", "/a/b_c")
    assert(a != BoundedCache.storePath("root", "/a_b/c"))
    assert(a.matches("root/_a_b_c_[0-9a-f]{16}"), a)
    assert(BoundedCache.storePath("root", "/a/b_c") == a, "one dir, one store")
  }

  test("an Index entry is charged the cached bytes of every Dataset it holds") {
    val sc = spark.sparkContext
    def charged = BoundedCache.session.stats.toMap.apply("cache_ram_bytes_used")
    def check(what: String)(build: => graft.index.Index): Unit = {
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val c0 = charged
      val idx = build
      val charge = charged - c0
      idx.postings.count(); idx.docLens.count(); idx.termStats.count()
      val held = sc.getRDDStorageInfo.filterNot(r => before(r.id)).map(r => r.memSize + r.diskSize).sum
      // plus the driver term dictionary the entry keeps
      assert(idx.driverBytes > 0, s"$what: the term dictionary is charged")
      assert(charge > 0 && charge == held + idx.driverBytes,
        s"$what: charged $charge B, holds $held B cached and ${idx.driverBytes} B on the driver")
    }
    val dir = "/root/testdata/sf0.001"
    BoundedCache.session.invalidate(k => k.kind == "index" && k.dir == dir)
    check("IndexCache.documents")(graft.index.IndexCache.documents(spark, dir))
    val store = java.nio.file.Files.createTempDirectory("cache-store").toString
    graft.index.InvertedIndex.buildAndWrite(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", store)
    check("an index read back from a store")(graft.index.IndexCache.cachedIndex(
      spark, "spec-store", store)(Right(graft.index.InvertedIndex.read(spark, store))))
    BoundedCache.session.invalidate(_.kind == "spec-store")
  }
}
