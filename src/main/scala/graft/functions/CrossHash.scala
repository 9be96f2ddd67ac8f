package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The cross-engine hash primitive: first 15 hex chars of md5 as a
  * 60-bit non-negative BIGINT. Computable identically in Spark
  * (`conv(substring(md5(x),1,15),16,10)`), DuckDB
  * (`('0x'||substring(md5(x),1,15))::BIGINT`), and the JVM — so
  * hash-bucketed operators (minhash, simhash, media checksums,
  * sign-LSH) stay DuckDB-oracle-checkable instead of rows-only.
  * 60 bits: always positive in signed 64-bit, headroom for exact
  * modular arithmetic. */
object CrossHash {

  /** MessageDigest.getInstance does a provider lookup per call —
    * measured 8× the cost of the digest itself on short inputs.
    * One reusable instance per thread. */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Hash60(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    // 15 hex chars = bytes 0-6 fully + high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >> 4)
  }

  def md5Hash60(s: String): Long =
    md5Hash60(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Executor-wide bounded memo of [[md5Hash60]] for key spaces much
    * smaller than the occurrence stream that keys them, so that after
    * warmup a hash is a map lookup: `Dedup.cachedHash60` serves the
    * SimHash word tokens, the Jaccard/MinHash word shingles and spans,
    * and `TextOps`' lang-id char 3-grams. (`HashEmbedder` hashes its
    * keys directly: on log text its distinct unigrams and bigrams are
    * about 30% of its key stream.) Capped at 2²⁰ entries so a
    * 100 TB shard can't grow it unboundedly (threads racing at the cap
    * may each add one more) — overflow degrades to direct hashing,
    * never wrong results. The memo counts its own inserts:
    * `ConcurrentHashMap.size` sums the map's counter cells on every
    * call. One instance per key space, so one user's keys never crowd
    * out another's. */
  final class Memo60 {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val entries = new java.util.concurrent.atomic.AtomicInteger

    def apply(key: String): Long = {
      val c = cache.get(key)
      if (c != null) c.longValue()
      else {
        val h = md5Hash60(key)
        if (entries.get < (1 << 20) && cache.putIfAbsent(key, h) == null) entries.incrementAndGet()
        h
      }
    }
  }

  /** Column form — pure builtins, codegen'd, no UDF. */
  def md5Hash60Col(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The DuckDB spelling of [[md5Hash60Col]] applied to SQL text. */
  def sqlHash60(sqlExpr: String): String =
    s"('0x' || substring(md5($sqlExpr), 1, 15))::BIGINT"
}
