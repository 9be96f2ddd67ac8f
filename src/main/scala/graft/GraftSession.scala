package graft

import org.apache.spark.sql.SparkSession

/** The one builder of every session this repo creates: the timed run
  * (`Bench`, `BenchOne`, `PlanDump`), the oracle dump (`Verify`), the
  * interactive CLIs and the test suites. It takes deployment inputs
  * only, so the session `Verify` checks is the session `Bench` times.
  * A caller that seems to need a different setting is a finding about
  * that setting, not a reason for a switch here. */
object GraftSession {

  /** Build (or join) the JVM's session on `master` with `partitions`
    * shuffle partitions and, when given, a private warehouse dir. */
  def create(master: String, partitions: Int,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      // Whole-stage-codegen class cache size (static conf, so it must
      // be set on the FIRST session of the JVM). The Spark default is
      // 100 entries — a 252-query registry generates thousands of
      // codegen units per pass, so at the default every timed pass
      // recompiles essentially every fragment from scratch (janino,
      // 10-50 ms each): pure cross-query cache thrash, not per-query
      // cost. A cache sized to the workload reports each query's own
      // steady state — the same number a single-query JVM (BenchOne)
      // already reports — and is equally right on a production driver
      // running a repeated mix.
      .config("spark.sql.codegen.cache.maxEntries", 8192L)
      // no defaultParallelism floor on scan splits: parquet can only
      // split at row-group boundaries, so the floor manufactures
      // (cores − rowGroups) EMPTY scan tasks per stage — pure task
      // overhead at any scale; real parallelism comes from bytes/
      // row-groups (and the re-split rule where a pass needs it)
      .config("spark.sql.files.minPartitionNum", 1L)
      // AQE coalesce floor: keep the 1 MB default. A 64 KB floor was
      // A/B-tested per query (graft.BenchOne, sf0.1): it buys ~25% on the
      // compute-dense pair-verify stages (dedup_jaccard_prefix) but
      // costs the LM-chain queries 40-100% (bigram/jm/kn_logprob,
      // doremi, dsir, excess_select — many cheap small shuffles where
      // 32 tasks of scheduling overhead dominate 2 tasks of work),
      // a clear net loss. At production shuffle sizes neither floor
      // binds, so the default is also the honest at-scale setting.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(d => b.config("spark.sql.warehouse.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
