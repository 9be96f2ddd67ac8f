package graft.ops

import org.apache.spark.sql.SparkSession

/** Session-memoized index-build fits: the PCA Gram and components,
  * the PQ/OPQ/RQ codebooks, the tokenizer vocabularies and the
  * persisted dedup indexes. Each is computed once per fixture and
  * reused by every query that consumes it — the reference's
  * build-once, ask-many shape. A [[Fit]] is declared next to the code
  * that uses it; its memo key is [[OpsShared.dirKey]] of the one table
  * it reads, so overwriting a dir inside one JVM recomputes instead of
  * serving the old corpus's fit.
  *
  * Each fit owns its own map: fits nest (the pc2 deflation reads the
  * pc1 fit and the Gram from inside its own compute), and
  * `ConcurrentHashMap.computeIfAbsent` rejects a compute that re-enters
  * its own map. Eviction down to [[Bound]] therefore runs after the
  * compute returns. A compute that throws stores nothing, so the next
  * call recomputes. */
object Fits {

  /** Entries kept per fit — one per fixture dir a session touches. */
  val Bound = 8

  final class Fit[V] private[Fits] (
      val name: String, table: String, compute: (SparkSession, String) => V) {
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, V]()

    /** `dir`'s path plus the file fingerprint of the table this fit reads. */
    def key(dir: String): String = OpsShared.dirKey(dir, table)

    def apply(s: SparkSession, dir: String): V = {
      val k = key(dir)
      val v = memo.computeIfAbsent(k, _ => compute(s, dir))
      val it = memo.keySet.iterator
      while (memo.size > Bound && it.hasNext) {
        val other = it.next()
        if (other != k) memo.remove(other)
      }
      v
    }

    /** Forget every entry: the next call recomputes from the corpus. */
    def clear(): Unit = memo.clear()

    private[graft] def isWarm(dir: String): Boolean = memo.containsKey(key(dir))

    private[graft] def size: Int = memo.size

    override def toString: String = name
  }

  /** A fit named `name` whose key fingerprints `table` under the dir. */
  def apply[V](name: String, table: String = "embeddings")(
      compute: (SparkSession, String) => V): Fit[V] = new Fit(name, table, compute)
}
