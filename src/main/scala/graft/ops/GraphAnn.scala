package graft.ops

import graft.functions.VectorFunctions.{cosineDist, r6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-local navigable-small-world graph ANN — the engine's
  * answer to the reference's HNSW index (log-vector `index.py:432-435`
  * configures ChromaDB's `hnsw:space=cosine`), re-expressed in Spark's
  * execution model the way Lucene/segment systems ship HNSW: ONE graph
  * PER PARTITION, built and searched inside `mapPartitions`, with a
  * global exact-rescored top-k merge of the ≤ k·partitions candidates.
  *
  * Why this shape at 100 TB: a single monolithic graph cannot be built
  * or held on one node, but per-shard graphs parallelize perfectly —
  * each executor answers from its local graph in sub-linear time
  * (greedy best-first beam over ~log-degree neighborhoods instead of a
  * full scan), and the merge moves only k rows per partition. Shards ≡
  * partitions means the index co-lives with the data layout
  * (`repartition(shards, vec_id)` here; bucketed index files in a
  * materialized deployment, the [[KMeansVec.ivfIndex]] pattern).
  *
  * Construction is the classic NSW incremental insert — deterministic:
  * nodes inserted in ascending `vec_id`, each linked bidirectionally to
  * its [[M]] nearest among already-inserted nodes (found by beam search
  * with [[EfConstruction]]), neighbor lists pruned to closest-[[M]]
  * with id tie-breaks. A hierarchy (the H of HNSW) buys nothing at
  * per-partition node counts — the entry hop count is already tiny —
  * so a single layer keeps build cost flat.
  *
  * Correctness gate: at the registered settings the beam is wide
  * enough that the merged candidates contain the true top-k on the
  * fixture corpus (recall@5 = 1.0, asserted in GraphAnnSpec across
  * scales and partitionings), so the DuckDB oracle is the EXACT kNN
  * query — the same gate `ann_lsh_topk` takes. Final distances are
  * computed by the shared r6(cosineDist) column kernel, so values are
  * bit-identical to every other kNN query. */
object GraphAnn extends QueryModule {

  /** Max neighbors kept per node (graph degree). */
  val M = 12

  /** Beam width while inserting (candidate pool for neighbor pick). */
  val EfConstruction = 48

  /** Beam width while querying (≥ k; wider = higher recall). */
  val EfSearch = 64

  /** Minimum shard count: the floor [[shardsFor]] never goes below, so
    * small corpora (the fixtures) always build the same 8 graphs and
    * the oracle stays deterministic. */
  val Shards = 8

  /** Rows one shard's build task is sized for. A build task holds its
    * whole shard in memory (`it.toArray` — inherent to graph
    * construction), so this bounds per-task footprint: at 768-dim
    * float vectors, 100k rows ≈ 300 MB of vectors + O(n·M) adjacency,
    * comfortably inside an executor core's share. */
  val TargetRowsPerShard = 100000L

  /** Shard count for a corpus of `rows` vectors:
    * `max(Shards, ceil(rows / TargetRowsPerShard))`. A pure function
    * of the row count, so derived sharding is as deterministic as the
    * fixed constant — membership never depends on file layout. At
    * 100 TB (billions of vectors) this yields tens of thousands of
    * bounded-size shards instead of 8 unbuildable ones. */
  def shardsFor(rows: Long): Int =
    math.min(
      math.max(Shards.toLong, (rows + TargetRowsPerShard - 1) / TargetRowsPerShard),
      Int.MaxValue.toLong).toInt

  def annGraphTopk(
      s: SparkSession, dir: String, k: Int = 5, shards: Option[Int] = None): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    // missing/all-zero query row → empty result (the family-wide
    // degenerate-query convention, DegenerateQuerySpec)
    val qOpt = OpsShared.queryVec(s, dir)
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val kk = k
    import s.implicits._
    // parquet-metadata count: cheap even at scale, and a pure function
    // of the corpus, so the derived shard count is layout-independent
    val nShards = shards.getOrElse(shardsFor(e.count()))
    val candidates = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
      // hash-partition by id: graph membership is a pure function of
      // (vec_id, shard count), independent of file layout / upstream
      // partitioning
      .repartition(nShards, col("vec_id"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val vecs = rows.map(_._3.toArray)
          val keep = rows.indices.filter(i => vecs(i).exists(_ != 0f)).toArray
          if (keep.isEmpty) Iterator.empty
          else {
            val g = build(keep.map(vecs))
            val top = g.search(qVec, math.max(EfSearch, kk))
            top.take(kk).iterator.map { i =>
              val r = rows(keep(i))
              (r._1, r._2, r._3)
            }
          }
        }
      }
      .toDF("vec_id", "label", "embedding")
    OpsShared.rescoreTopK(candidates, qVec, k)
  }

  /** Query batches at or below this many rows ride the driver-collect
    * + torrent-broadcast path (10k × 64-dim float queries ≈ 3 MB —
    * one cheap replication, and the corpus never shuffles twice).
    * Above the cap the batch is NEVER collected: queries fan out to
    * every shard through a cogroup shuffle instead, so driver and
    * per-executor memory stay flat however large the batch grows.
    * The fan-out (queries × shards rows in flight) is inherent to
    * shard-local graph ANN — like Lucene, every segment's graph must
    * see every query — and a shuffle spreads that cost across the
    * cluster where a broadcast would concentrate it on every
    * executor's heap. */
  val BatchQueryBroadcastCap = 10000L

  /** Distributed multi-query graph search — the serving-batch form:
    * each shard's NSW graph is built ONCE and searched for EVERY
    * query in the batch, then one exact rescore + a bounded per-query
    * rank window merges the k·shards candidates per query. Build cost
    * amortizes across the whole batch, which is precisely why serving
    * stacks batch their queries; nothing is per-query driver work.
    *
    * Two size-gated regimes for HOW queries reach the shard tasks
    * (identical results, asserted in GraphAnnSpec; the above-cap plan
    * is pinned broadcast-free in PlanSpec):
    *  - ≤ [[BatchQueryBroadcastCap]] rows: collect + one torrent
    *    broadcast (bounded by the cap; the broadcast's lifetime is
    *    tied to the returned plan — the ContextCleaner reclaims it
    *    when the plan is garbage-collected, the localCheckpoint
    *    convention).
    *  - above the cap: the batch stays distributed — each query row
    *    is exploded to one (shard, query) pair and cogrouped with the
    *    corpus on the shard key (the SAME `pmod(hash(vec_id), n)`
    *    assignment `repartition` uses, so the per-shard graphs are
    *    identical), each shard task builds its graph once and streams
    *    the query iterator through it. Per-task memory = one shard +
    *    one query at a time.
    *
    * Query set = the [[VectorQueries.knnBatch]] convention (vec_id <
    * 3 are queries, the rest corpus), so exact batch kNN is the
    * oracle — recall 1.0 at the registered settings, the single-query
    * gate. */
  def annGraphBatchTopk(
      s: SparkSession, dir: String, k: Int = 3,
      shards: Option[Int] = None,
      broadcastCap: Long = BatchQueryBroadcastCap): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.t(s, dir, "embeddings")
    val kk = k
    val nShards = shards.getOrElse(shardsFor(e.count()))
    val corpus = e.filter(col("vec_id") >= 3)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
    val nQ = e.filter(col("vec_id") < 3).count()
    val withQe: DataFrame =
      if (nQ <= broadcastCap) {
        val qRows = e.filter(col("vec_id") < 3)
          .select(col("vec_id"), col("embedding").cast("array<float>"))
          .as[(Long, Seq[Float])].collect().sortBy(_._1)
          .map { case (i, v) => (i, v.toArray) }
          .filter(_._2.exists(_ != 0f))
        val qsB = s.sparkContext.broadcast(qRows)
        val candidates = corpus
          .repartition(nShards, col("vec_id"))
          .mapPartitions { it =>
            val rows = it.toArray.sortBy(_._1)
            if (rows.isEmpty) Iterator.empty
            else {
              val vecs = rows.map(_._3.toArray)
              val keep = rows.indices.filter(i => vecs(i).exists(_ != 0f)).toArray
              if (keep.isEmpty) Iterator.empty
              else {
                val g = build(keep.map(vecs))
                qsB.value.iterator.flatMap { case (qid, q) =>
                  g.search(q, math.max(EfSearch, kk)).take(kk).iterator.map { i =>
                    val r = rows(keep(i))
                    (qid, r._1, r._2, r._3)
                  }
                }
              }
            }
          }
          .toDF("query_id", "vec_id", "label", "embedding")
        val qDf = qRows.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("query_id", "qe")
          .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
        candidates.join(broadcast(qDf), "query_id")
      } else {
        // distributed query side: explode each query to its (shard,
        // query) fan-out rows, cogroup with the corpus on the shard
        // key. hash() IS the Murmur3 repartition hash, so membership
        // matches the broadcast path bit-for-bit.
        val cKV = corpus
          .withColumn("shard", pmod(hash(col("vec_id")), lit(nShards)).cast("int"))
          .as[(Long, Int, Seq[Float], Int)]
          .groupByKey(_._4)
        val qKV = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"),
            col("embedding").cast("array<float>").as("qe"))
          .withColumn("shard", explode(sequence(lit(0), lit(nShards - 1))))
          .as[(Long, Seq[Float], Int)]
          .groupByKey(_._3)
        cKV.cogroup(qKV) { (_, cIt, qIt) =>
          val rows = cIt.map(r => (r._1, r._2, r._3)).toArray.sortBy(_._1)
          if (rows.isEmpty) Iterator.empty
          else {
            val vecs = rows.map(_._3.toArray)
            val keep = rows.indices.filter(i => vecs(i).exists(_ != 0f)).toArray
            if (keep.isEmpty) Iterator.empty
            else {
              val g = build(keep.map(vecs))
              // queries STREAM through: never materialized per task
              qIt.flatMap { case (qid, qe, _) =>
                val q = qe.toArray
                if (!q.exists(_ != 0f)) Iterator.empty
                else g.search(q, math.max(EfSearch, kk)).take(kk).iterator.map { i =>
                  val r = rows(keep(i))
                  (qid, r._1, r._2, r._3, qe)
                }
              }
            }
          }
        }.toDF("query_id", "vec_id", "label", "embedding", "qe")
      }
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    withQe
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= kk)
      .select(col("query_id"), col("rn"), col("vec_id"), col("dist"))
      .orderBy(col("query_id"), col("rn"))
  }

  // ----------------------------------------------------------- graph

  /** One partition's NSW graph over `vecs` (local indices 0..n-1).
    * `adj` is read live (the build searches the partial graph through
    * the same instance while inserting — no per-insert copies). */
  private[graft] final class Graph(
      vecs: Array[Array[Float]],
      adj: Array[scala.collection.mutable.ArrayBuffer[Int]]) {

    /** Greedy best-first beam search: returns up to `ef` local node
      * ids ordered by ascending distance to `q` (id tie-break). */
    def search(q: Array[Float], ef: Int): Array[Int] = {
      val n = vecs.length
      if (n == 0) return Array.empty
      val d = new Array[Double](n)
      java.util.Arrays.fill(d, Double.NaN)
      def dist(i: Int): Double = {
        if (d(i).isNaN) d(i) = cosine(q, vecs(i))
        d(i)
      }
      val visited = new java.util.BitSet(n)
      // frontier: min-heap by (dist, id); results: max-heap by (dist, id)
      val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val frontier = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
      val results = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord)
      val entry = 0
      visited.set(entry)
      frontier.enqueue((dist(entry), entry))
      results.enqueue((dist(entry), entry))
      while (frontier.nonEmpty) {
        val (cd, c) = frontier.dequeue()
        // stop when the closest unexplored candidate cannot improve
        // the worst of the ef results — the standard HNSW bound
        if (results.size >= ef && cd > results.head._1) frontier.clear()
        else {
          var ni = 0
          val ns = adj(c)
          while (ni < ns.length) {
            val nb = ns(ni)
            if (!visited.get(nb)) {
              visited.set(nb)
              val nd = dist(nb)
              if (results.size < ef || nd < results.head._1 ||
                  (nd == results.head._1 && nb < results.head._2)) {
                frontier.enqueue((nd, nb))
                results.enqueue((nd, nb))
                if (results.size > ef) results.dequeue()
              }
            }
            ni += 1
          }
        }
      }
      results.dequeueAll.toArray.reverse.map(_._2)
    }

    /** Adjacency of local node `i` (materialized-index export). */
    def neighborsOf(i: Int): Array[Int] = adj(i).toArray
  }

  /** Deterministic incremental NSW build over local vectors. */
  private[graft] def build(vecs: Array[Array[Float]]): Graph = {
    val n = vecs.length
    val adj = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int](M + 1))
    val g = new Graph(vecs, adj) // live view: searches see every insert so far
    var i = 1
    while (i < n) {
      // candidates among inserted nodes 0..i-1 via search in the
      // partial graph, then keep the M nearest as links
      val cand = g.search(vecs(i), EfConstruction)
        .filter(_ < i)
      val near = cand.take(M)
      near.foreach { nb =>
        adj(i) += nb
        adj(nb) += i
        if (adj(nb).length > M) {
          // prune to the M closest of nb's neighbors (id tie-break) —
          // keeps degree bounded, deterministic
          val pruned = adj(nb).toArray
            .map(x => (cosine(vecs(nb), vecs(x)), x))
            .sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
            .take(M).map(_._2)
          adj(nb).clear()
          adj(nb) ++= pruned
        }
      }
      i += 1
    }
    g
  }

  /** Plain double cosine distance, sequential ascending fold — the
    * ranking metric inside the graph (final reported distances go
    * through the shared r6(cosineDist) column kernel instead). */
  private[graft] def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dp += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.MaxValue
    else 1.0 - dp / (math.sqrt(na) * math.sqrt(nb))
  }

  // ----------------------------------------- materialized graph index

  /** Build the per-shard NSW graphs ONCE and persist them as a
    * Hive-partitioned parquet index (`shard=N/` dirs): one row per
    * vector carrying its adjacency as neighbor vec_ids. This is the
    * index-build-time half of the deployment story — the same
    * materialized split [[KMeansVec.ivfIndex]] and
    * [[Quantize.writeSqIndex]] make: the O(n·ef·M) construction cost
    * is paid once per shard at ingest, queries only read. */
  /** The shared build core: per-shard NSW graphs over `vecs`, emitted
    * as persisted-index rows. `shardBase` offsets the shard tag so an
    * appended segment's shards never collide with existing ones. */
  private def graphIndexRows(
      vecs: org.apache.spark.sql.Dataset[(Long, Int, Seq[Float])],
      nShards: Int, shardBase: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs
      .repartition(nShards, col("vec_id"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        val vs = rows.map(_._3.toArray)
        val keep = rows.indices.filter(i => vs(i).exists(_ != 0f)).toArray
        if (keep.isEmpty) Iterator.empty
        else {
          val g = build(keep.map(vs))
          // the shard tag IS the build partition: queries only need
          // rows of one graph to land together again, whatever the id
          val shard = shardBase + org.apache.spark.TaskContext.getPartitionId()
          keep.indices.iterator.map { li =>
            val r = rows(keep(li))
            (shard, r._1, r._2, r._3, g.neighborsOf(li).map(n => rows(keep(n))._1).toSeq)
          }
        }
      }
      .toDF("shard", "vec_id", "label", "embedding", "neighbors")
  }

  def writeGraphIndex(
      s: SparkSession, dir: String, indexPath: String,
      shards: Option[Int] = None): Unit = {
    import s.implicits._
    val e = Tables.t(s, dir, "embeddings")
    val nShards = shards.getOrElse(shardsFor(e.count()))
    val sel = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
    graphIndexRows(sel, nShards, shardBase = 0)
      .write.mode("overwrite").partitionBy("shard").parquet(indexPath)
  }

  /** Append a batch of new vectors into an EXISTING materialized graph
    * index without rebuilding it — the Lucene segment pattern: the
    * batch becomes fresh shard ids (new NSW graphs) past the current
    * maximum, written as new `shard=N/` dirs; existing shards are
    * never read or rewritten. The reference's store has the same
    * property (ChromaDB `collection.add` inserts into its HNSW index
    * incrementally, `index.py:432-449`); this is its bulk-parallel
    * form. Repeated appends accumulate small segments;
    * [[compactGraphIndex]] is the periodic merge. Caller contract:
    * batch vec_ids are new (an upsert dedups before appending). */
  /** Start of the tag-keyed segment-id space: batch tag t owns shard
    * ids [base + t·span, base + (t+1)·span). Far above any derived
    * bulk shard count, so the two spaces never collide. */
  private[graft] val SegTagBase = 1000000

  /** Max segment shards one tagged batch may produce (span width). */
  private[graft] val SegTagSpan = 10000

  /** `segmentTag = None`: plain at-least-once append — fresh shard
    * ids past the current bulk maximum (tag-space ids excluded from
    * the max so the spaces stay disjoint); a replayed batch would
    * duplicate its rows.
    *
    * `segmentTag = Some(t)` (e.g. the ingest batch's sequence number):
    * IDEMPOTENT append — the batch's shard ids are a pure function of
    * the tag ([[SegTagBase]] + t·[[SegTagSpan]] + i), written with
    * dynamic partition OVERWRITE, so a replay rewrites exactly its
    * own `shard=N/` dirs instead of appending duplicates. This is the
    * standard Spark idempotent-sink pattern (deterministic partition
    * keys + dynamic overwrite), and with it an at-least-once batch
    * delivery becomes effectively exactly-once for this index. The
    * tag space holds ~214k batches before the int shard range runs
    * out — [[maintainGraphIndex]] compacts (collapsing all segments
    * back to the dense range) orders of magnitude sooner on any real
    * ingest. */
  def appendGraphIndex(
      s: SparkSession, indexPath: String, batch: DataFrame,
      segmentTag: Option[Long] = None): Unit = {
    import s.implicits._
    val sel = batch
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .select(col("vec_id"), col("label").cast("int"),
        col("embedding").cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
    val n = sel.count()
    if (n > 0) {
      // segment shard count from the BATCH size: a small batch is one
      // graph, a bulk backfill still gets bounded build tasks
      val segShards = math.max(1L, (n + TargetRowsPerShard - 1) / TargetRowsPerShard).toInt
      segmentTag match {
        case None =>
          val base = s.read.parquet(indexPath)
            .filter(col("shard").cast("int") < SegTagBase)
            .agg(coalesce(max(col("shard").cast("int")), lit(-1))).head().getInt(0) + 1
          graphIndexRows(sel, segShards, shardBase = base)
            .write.mode("append").partitionBy("shard").parquet(indexPath)
        case Some(tag) =>
          require(tag >= 0 && tag <= (Int.MaxValue - SegTagBase).toLong / SegTagSpan,
            s"segment tag $tag outside the id space — compact the index first")
          require(segShards <= SegTagSpan,
            s"batch needs $segShards segment shards, tag span is $SegTagSpan — " +
              "split the batch or raise TargetRowsPerShard")
          // dynamic overwrite for THIS write only (a session-wide
          // setting would leak into concurrent writes of the session)
          graphIndexRows(sel, segShards, shardBase = SegTagBase + tag.toInt * SegTagSpan)
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard").parquet(indexPath)
      }
    }
  }

  /** Merge an appended-to index into a fresh generation at `outPath`:
    * re-shard ALL vectors with [[shardsFor]] and rebuild — the Lucene
    * segment-merge half of the maintenance story (a NEW path, the
    * [[Maintenance.mergePolicy]] generation swap). */
  def compactGraphIndex(s: SparkSession, indexPath: String, outPath: String): Unit = {
    import s.implicits._
    val all = s.read.parquet(indexPath)
      .select(col("vec_id"), col("label").cast("int"),
        col("embedding").cast("array<float>"))
      .as[(Long, Int, Seq[Float])]
    graphIndexRows(all, shardsFor(all.count()), shardBase = 0)
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)
  }

  /** Default compaction threshold. Search cost is linear in segment
    * count (every shard's graph answers every query — the Lucene
    * many-small-segments tax), so the policy bounds it: steady small
    * appends accumulate up to this many segments before one merge
    * re-shards everything back to [[shardsFor]]'s derived count. */
  val DefaultMaxSegments = 64

  /** The graph index's [[Maintenance.mergePolicy]]: past `maxSegments`
    * `shard=N/` segment dirs, [[compactGraphIndex]] into `outPath`.
    * Returns true when a compaction ran. */
  def maintainGraphIndex(
      s: SparkSession, indexPath: String, outPath: String,
      maxSegments: Int = DefaultMaxSegments): Boolean =
    Maintenance.mergePolicy(s, "graph", indexPath, Some("shard"))(
      (_, segments) => segments > maxSegments)(compactGraphIndex(s, indexPath, outPath))

  /** Query a materialized graph index: NO construction — each task
    * reassembles its shards' adjacency from the persisted rows and
    * runs the same beam search, then the global exact-rescored merge.
    * At 100 TB this is the steady-state query path: the build cost is
    * amortized at ingest and a query touches each shard's graph
    * sub-linearly instead of scanning its vectors. */
  def graphSearchIndexed(
      s: SparkSession, indexPath: String, qVec: Array[Float], k: Int = 5): DataFrame = {
    import s.implicits._
    val kk = k
    val candidates = s.read.parquet(indexPath)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"),
        col("neighbors"), col("shard").cast("int"))
      .as[(Long, Int, Seq[Float], Seq[Long], Int)]
      // co-locate each persisted shard's rows; the task count is free
      // to follow spark.sql.shuffle.partitions because correctness
      // only needs one shard's rows together, however many shards the
      // index was WRITTEN with
      .repartition(col("shard"))
      .mapPartitions { it =>
        // a task may hold several shards (hash collisions): search each
        // shard's graph independently, emit each one's local top-k
        it.toArray.groupBy(_._5).iterator.flatMap { case (_, rows0) =>
          val rows = rows0.sortBy(_._1)
          val local = rows.map(_._1).zipWithIndex.toMap
          val vecs = rows.map(_._3.toArray)
          val adj = rows.map(r =>
            scala.collection.mutable.ArrayBuffer.from(r._4.iterator.flatMap(local.get)))
          val g = new Graph(vecs, adj)
          g.search(qVec, math.max(EfSearch, kk)).take(kk).iterator.map { i =>
            val r = rows(i)
            (r._1, r._2, r._3)
          }
        }
      }
      .toDF("vec_id", "label", "embedding")
    OpsShared.rescoreTopK(candidates, qVec, k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_graph_topk" -> ((s, d) => annGraphTopk(s, d)),
    "ann_graph_batch" -> ((s, d) => annGraphBatchTopk(s, d)))

  /** Exact-kNN oracle: at the registered (M, ef, shards) the merged
    * candidate set provably contains the true top-5 on the fixtures
    * (GraphAnnSpec recall sweep), so the approximate plan must emit
    * exactly the exact answer — the `ann_lsh_topk` gate pattern.
    * The batch query takes the exact BATCH kNN oracle the same way. */
  val oracles: Map[String, String] = Map(
    "ann_graph_topk" -> VectorQueries.knnTopkSql,
    "ann_graph_batch" -> VectorQueries.knnBatchSql)
}
