package graft

import java.nio.file.{Files, Paths}

import graft.table._

/** Round-15 parsed-manifest cache: pins the IMMUTABILITY contract the
  * cache stands on (segments are create-new, atomic-rename, never
  * rewritten in place — both the native writer and extwriter name them
  * snapId-uuid), and that cache hits still feed the read log so the
  * SegStats decision-layer proofs keep their meaning. The same cache
  * holds decoded delete files, so a repeated scan reads none. */
class MetaCacheSpec extends SparkSpec {

  private def loc(): String =
    Scratch.dir("graft-metacache").toString

  private def entry(path: String, day: String) =
    FileMeta(path, "data", 0, 0, Map("d" -> day), 1, 1, 1, Map.empty)

  test("a manifest parses once; in-place rewrites are invisible (immutability contract)") {
    val l = loc()
    val rel = Meta.writeManifest(l, "seg-immutable", Seq(entry("a.parquet", "1")))
    val first = Meta.readManifest(l, rel)
    assert(first.map(_.path) == Seq("a.parquet"))
    // violate the contract on purpose: rewrite the SAME path on disk
    // (valid content from a donor segment). The cache serving the
    // original is the documented consequence — no writer may ever do
    // this (unique snapId-uuid names everywhere).
    val donor = Meta.writeManifest(l, "seg-donor", Seq(entry("b.parquet", "2")))
    Files.copy(Paths.get(l, donor), Paths.get(l, rel),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val second = Meta.readManifest(l, rel)
    assert(second.map(_.path) == Seq("a.parquet"),
      "in-place rewrite must be invisible — segments are immutable by contract")
    // a NEW segment name reads fresh, as every real writer produces
    val rel2 = Meta.writeManifest(l, "seg-immutable-2", Seq(entry("c.parquet", "3")))
    assert(Meta.readManifest(l, rel2).map(_.path) == Seq("c.parquet"))
  }

  test("metadata reads close their directory listing (no descriptor growth)") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd")
    def openFds(): Int = fdDir.list().length
    val l = loc()
    GraftTable.create(spark, l, "k bigint")
    Meta.readJson(l) // warm: class loading and the mapper open nothing later
    val before = openFds()
    (1 to 1000).foreach(_ => Meta.readJson(l))
    val grown = openFds() - before
    assert(grown < 10, s"1000 metadata reads left $grown more descriptors open")
  }

  test("cache hits still feed the read log (decision-layer proofs keep their meaning)") {
    val l = loc()
    val rel = Meta.writeManifest(l, "seg-logged", Seq(entry("a.parquet", "1")))
    Meta.readManifest(l, rel) // warm: this one may or may not be logged
    Meta.readLog.clear()
    Meta.recordReads = true
    try { Meta.readManifest(l, rel); Meta.readManifest(l, rel) }
    finally Meta.recordReads = false
    import scala.jdk.CollectionConverters._
    assert(Meta.readLog.asScala.count(_ == rel) == 2,
      s"every logical read must log, cached or not: ${Meta.readLog.asScala.toSeq}")
  }

  test("scan-resistant admission: plane > bound keeps a warm prefix across passes") {
    val l = loc()
    val rels = (1 to 40).map { i =>
      Meta.writeManifest(l, f"seg-scan-$i%03d",
        (1 to 25).map(j => entry(s"plane-$i-$j.parquet", j.toString)))
    }
    val total = rels.map(r => Meta.parseManifest(l, r).weight).sum
    // bound at ~60% of the plane: plain LRU would cycle EVERYTHING through
    // and the second pass would hit nothing (round-15 measurement: warm ==
    // cold); frequency-compared admission must keep the resident prefix
    val cache = new Meta.ManifestCache(total * 6 / 10)
    def pass(): Unit = rels.foreach { r =>
      val k = Paths.get(l, r).toAbsolutePath.toString
      cache.get(k, () => Meta.parseManifest(l, r))
    }
    pass() // cold: admits until full, then rejects (freq 1 vs resident 1+)
    val h0 = cache.hits
    pass() // warm: the resident prefix must serve from cache
    val hits2 = cache.hits - h0
    assert(hits2 * 2 > rels.size,
      s"second pass must hit >50% (=> >2x parse saving): $hits2/${rels.size} " +
        s"resident=${cache.sizeBytes}/${total}")
    pass() // and the prefix must STAY resident, not churn
    assert(cache.hits - h0 - hits2 >= hits2,
      s"third pass regressed: ${cache.hits - h0 - hits2} < $hits2")
  }

  test("single-flight: concurrent first reads of one segment parse once") {
    val l = loc()
    val rel = Meta.writeManifest(l, "seg-flight", Seq(entry("a.parquet", "1")))
    val cache = new Meta.ManifestCache(1L << 20)
    val parses = new java.util.concurrent.atomic.AtomicInteger
    val key = Paths.get(l, rel).toAbsolutePath.toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            gate.await()
            cache.get(key, () => {
              parses.incrementAndGet(); Thread.sleep(50)
              Meta.parseManifest(l, rel)
            }).size
          }
        })
      }
      gate.countDown()
      assert(tasks.map(_.get()).forall(_ == 1))
      assert(parses.get() == 1,
        s"8 concurrent first reads must share ONE parse, got ${parses.get()}")
    } finally pool.shutdown()
  }

  test("hit and miss counters lose no count under concurrent gets") {
    val l = loc()
    val rels = (1 to 4).map(i =>
      Meta.writeManifest(l, s"seg-count-$i", Seq(entry(s"c$i.parquet", "1"))))
    val keys = rels.map(r => Paths.get(l, r).toAbsolutePath.toString -> r)
    val cache = new Meta.ManifestCache(1L << 20)
    val threads = 8
    val perThread = 50000
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val tasks = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            gate.await()
            for (i <- 0 until perThread) {
              val (k, r) = keys((t + i) % keys.size)
              cache.get(k, () => Meta.parseManifest(l, r))
            }
          }
        })
      }
      gate.countDown()
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(cache.hits + cache.misses == threads.toLong * perThread,
      s"hits ${cache.hits} + misses ${cache.misses} != ${threads.toLong * perThread} calls")
  }

  test("the entry-weighted size accounts for what is cached") {
    val l = loc()
    val before = Meta.manifestCacheSize
    val rel = Meta.writeManifest(l, "seg-sized",
      (1 to 5).map(i => entry(s"f$i.parquet", i.toString)))
    Meta.readManifest(l, rel)
    assert(Meta.manifestCacheSize >= before + 5,
      s"5-entry segment must weigh >= 5: before=$before after=${Meta.manifestCacheSize}")
  }

  test("a second scan of the same snapshot reads no delete file") {
    import spark.implicits._
    val t = GraftTable.create(spark, Scratch.dir("graft-metacache")
      .resolve("t").toString, "k bigint, v string")
    t.append((0L until 40L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.delete("k % 5 = 0", WriteMode.MergeOnRead)
    t.delete("k % 5 = 1", WriteMode.DeletionVector)
    t.deleteByKeys(Seq(2L, 7L).toDF("k"))
    val head = t.meta.head("main").get
    val deletes = Meta.readEntries(t.location, head).count(_.fileType != "data")
    assert(deletes == 3)
    val (_, m0) = Meta.manifestCacheCounts
    assert(t.scan().count() == 40 - 8 - 8 - 2)
    val (h1, m1) = Meta.manifestCacheCounts
    assert(m1 > m0, "the first scan decodes the delete files it has not seen")
    assert(t.scan().count() == 40 - 8 - 8 - 2)
    val (h2, m2) = Meta.manifestCacheCounts
    assert(m2 == m1, s"the second scan missed the cache ${m2 - m1} times")
    assert(h2 - h1 == head.manifests.size + deletes,
      s"${h2 - h1} hits for ${head.manifests.size} segments and $deletes delete files")
  }
}
