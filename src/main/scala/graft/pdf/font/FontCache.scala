package graft.pdf.font

import java.util.concurrent.atomic.AtomicLong

/** Content-addressed CROSS-DOCUMENT cache of parsed ToUnicode CMaps.
  *
  * Fonts repeat massively across a crawl (the same subset fonts ship in
  * millions of PDFs produced by the same generators), so the same CMap
  * stream bytes get parsed over and over when caching stops at the
  * document boundary (the per-doc `fontInfoCache` keyed by object ref).
  * This cache keys the PARSED CMap by the decoded stream's exact bytes
  * (reference analog: per-document font caching, docs/ARCHITECTURE.md:
  * 255-260 — extended across documents here because a Spark executor
  * processes thousands of docs per JVM).
  *
  * Design constraints for a 1000-executor run:
  *  - keys hold the FULL byte payload (equality is Arrays.equals, not a
  *    64-bit hash — content-addressing by truncated hash would silently
  *    cross-wire fonts on a collision somewhere in 10^12 documents);
  *  - bounded: ≤ MaxEntries entries AND only payloads ≤ MaxEntryBytes
  *    are cached (a pathological 100 MB CMap — the codec bomb guard's
  *    ceiling — must not pin executor memory), so worst-case footprint
  *    is MaxEntries × MaxEntryBytes = 64 MB/JVM and typically ~KBs;
  *  - thread-safe under local[32]/executor cores: short synchronized
  *    sections around an access-ordered LinkedHashMap (the lock is a
  *    map get/put; the parse itself runs outside the lock).
  *
  * The parsed CMap is immutable (Map + Int), so sharing one instance
  * across documents and threads is safe.
  *
  * SINGLETON / METRICS CAVEAT: both the cache and the hit/miss
  * counters are JVM-GLOBAL. In production that is exactly right (one
  * cache per executor JVM), but in tests and benches it means state
  * leaks across corpora — any spec or A/B arm that reads `hits`/
  * `misses` or asserts cold-start behavior MUST call `clear()` first
  * (the existing specs and `Perf ab fontcache` do). Counters are
  * monotonically cumulative across all corpora the JVM has seen.
  */
object FontCache {

  private val MaxEntries = 512
  private val MaxEntryBytes = 128 * 1024

  /** Exact-bytes key with a cached hash. The hash mixes 8 bytes per
    * step (intrinsified ByteBuffer.getLong) instead of
    * Arrays.hashCode's byte-at-a-time 31x — every LOOKUP constructs a
    * Key and hashes the full payload, which for a realistic ~36 KB
    * CMap made the hash itself a visible slice of the lookup the cache
    * exists to make cheap (mixed-corpus JFR). Correctness is carried
    * by equals (full Arrays.equals, vectorized) exactly as before; the
    * hash only routes buckets and the map never outlives the JVM, so
    * the function change is invisible outside this class. */
  private final class Key(val bytes: Array[Byte]) {
    override val hashCode: Int = {
      val n = bytes.length
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var h = 0x9E3779B97F4A7C15L ^ n
      var i = 0
      while (i + 8 <= n) {
        h = (h ^ bb.getLong(i)) * 0xC2B2AE3D27D4EB4FL
        i += 8
      }
      while (i < n) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001B3L; i += 1 }
      (h ^ (h >>> 32)).toInt
    }
    override def equals(o: Any): Boolean = o match {
      case k: Key => (k eq this) || java.util.Arrays.equals(bytes, k.bytes)
      case _      => false
    }
  }

  private val lru = new java.util.LinkedHashMap[Key, CMap](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, CMap]): Boolean =
      size() > MaxEntries
  }

  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong

  /** Kill switch for the `Perf ab fontcache` A/B. */
  @volatile var enabled: Boolean = true

  /** Parse-through cache: parsed CMap for these exact decoded bytes. */
  def cmap(data: Array[Byte]): CMap = {
    if (!enabled || data.length > MaxEntryBytes) return CMap.parse(data)
    val k = new Key(data)
    val hit = lru.synchronized(lru.get(k))
    if (hit != null) { hitCount.incrementAndGet(); return hit }
    missCount.incrementAndGet()
    val parsed = CMap.parse(data)
    lru.synchronized {
      val again = lru.get(k)
      if (again != null) again
      else { lru.put(k, parsed); parsed }
    }
  }

  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()
  def size: Int = lru.synchronized(lru.size())

  /** Test/bench isolation. */
  def clear(): Unit = {
    lru.synchronized(lru.clear())
    hitCount.set(0)
    missCount.set(0)
  }
}
