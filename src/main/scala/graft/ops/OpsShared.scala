package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small helpers shared across the vector-operator family — single
  * definitions for logic that was previously copy-pasted per op
  * (fingerprint memo keys, the degenerate-query lookup, driver-side
  * centroid ranking). */
object OpsShared {

  /** Memo key for a local path: the path plus every file's
    * `name:length:mtime` in name order. The full string is the key —
    * never a hash of it, which two fingerprints can share. */
  private[graft] def fingerprintKey(path: String, files: Seq[java.io.File]): String =
    files.sortBy(_.getName).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(s"$path#", "|", "")

  /** Session-memo key for a fixture directory: path + the
    * [[fingerprintKey]] of the backing table, so overwriting a dir
    * inside one JVM invalidates any memo keyed on it instead of
    * silently serving stale results. Non-local filesystems fall back
    * to path-only keying (immutable-ingest assumption). */
  def dirKey(dir: String, table: String = "embeddings"): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    if (!root.exists()) s"$dir#remote"
    else fingerprintKey(dir, Option(root.listFiles()).map(_.toSeq).getOrElse(Seq(root)))
  }

  /** Table-name suffix for a session-built index keyed by `key`: the
    * hex of its 60-bit md5 ([[graft.functions.CrossHash.md5Hash60]]),
    * not of `String.hashCode`. Two keys colliding at 32 bits would
    * share a table name, so the second build would overwrite the
    * first's table while the first's memo entry still points at it. */
  private[graft] def tableSuffix(key: String): String =
    java.lang.Long.toHexString(graft.functions.CrossHash.md5Hash60(key))

  /** The 1-row query-vector lookup every ANN query starts with:
    * `Some(vector)` when the [[VectorQueries.QueryVecId]] row exists
    * and is not all-zero, `None` otherwise — the family-wide
    * degenerate-query convention (missing/zero query → EMPTY result,
    * matching the oracles' empty/NaN-filtered q side). */
  def queryVec(s: SparkSession, dir: String): Option[Array[Float]] =
    Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).toArray)
      .filter(_.exists(_ != 0f))

  /** Eagerly free the executor blocks behind a `localCheckpoint`'d
    * frame. Checkpoint storage is otherwise released only when the
    * ContextCleaner notices the plan is garbage — fine for one result
    * frame, but an iterative loop (label propagation) that leaves
    * every superseded round's blocks to chance accumulates storage
    * across a long session (88-query bench + tri-scale verify in one
    * JVM). Call ONLY on frames whose data has been fully superseded —
    * a released local checkpoint cannot be recomputed. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => () // not a checkpoint frame — nothing to free
    }

  /** Build two INDEPENDENT relation chains from concurrent driver
    * threads so their eager work (localCheckpoint materializations,
    * memoized fits) overlaps instead of serializing — the
    * [[Maintenance.OpsIndexes]] device generalized (guide §2.6
    * overlap-independent-jobs: actions are only sequential because
    * the driver calls them sequentially). Use ONLY when the two
    * thunks share no mutable state and neither reads the other's
    * output. The first thunk to fail stops the other (its Spark
    * jobs cancelled by job tag, tasks interrupted) and its exception
    * propagates unwrapped from the pool's ExecutionException.
    *
    * Thread-local inheritance requirement: the pool is created fresh
    * PER CALL so its two threads are spawned at submit time from the
    * calling thread — Spark's InheritableThreadLocals (active
    * session, job-group/job-description local properties) propagate
    * only at thread creation. Refactoring to a shared/cached pool
    * would silently detach the thunks' Spark jobs from the caller's
    * session properties; keep per-call pools. */
  def concurrently[A, B](fa: => A, fb: => B): (A, B) = {
    import java.util.concurrent._
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tags = Seq.fill(2)(s"graft-concurrently-${java.util.UUID.randomUUID()}")
    // each thunk tags its jobs (a tag, unlike a job group, keeps the
    // caller's group on them) and lets a cancel interrupt its tasks
    def tagged(tag: String, body: => Any): Callable[Any] = () => {
      sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
      body
    }
    def cancelJobs(): Unit = for (c <- sc; t <- tags)
      try org.apache.spark.sql.graft.JobTags.cancelAndWait(c, t, "a concurrent sibling thunk failed")
      catch { case e: TimeoutException => System.err.println(s"[concurrently] cancelling $t: $e") }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val done = new ExecutorCompletionService[Any](pool)
      val ja = done.submit(tagged(tags(0), fa))
      val jb = done.submit(tagged(tags(1), fb))
      try { done.take().get(); done.take().get() }
      catch {
        case e: ExecutionException =>
          // the first thunk to fail stops its sibling: fail its Spark
          // jobs, interrupt its thread, wait for it to exit, and fail
          // any job it started in between — so no job (or the
          // localCheckpoint blocks it would orphan) keeps running
          cancelJobs()
          pool.shutdownNow()
          if (!pool.awaitTermination(60, TimeUnit.SECONDS))
            System.err.println(
              "[concurrently] a thunk was still running 60 s after its sibling failed; rethrowing that failure")
          cancelJobs()
          throw Option(e.getCause).getOrElse(e)
      }
      (ja.get().asInstanceOf[A], jb.get().asInstanceOf[B])
    } finally pool.shutdown()
  }

  /** Driver-side double cosine distance of a centroid against the
    * query — the probe-ranking metric (sequential fold; ties broken
    * by the caller's stable sort on centroid id). */
  def cosineDistTo(q: Array[Float], c: Array[Double]): Double = {
    var dotp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < c.length) {
      dotp += c(i) * q(i); na += c(i) * c(i); nb += q(i).toDouble * q(i); i += 1
    }
    1.0 - dotp / (math.sqrt(na) * math.sqrt(nb))
  }
}
