package graft.ops

import graft.functions.OracleMath._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over the `embeddings` fixture
  * (ARRAY<FLOAT> dim 64): exact brute-force kNN (the correctness
  * baseline), grouped kNN, vector stats, all-pairs near-duplicate
  * detection, and an LSH-bucketed ANN variant as the scale path.
  *
  * The oracle expresses cosine with an explicit sequential
  * double-precision fold (`list_sum(list_transform(...))`) that
  * matches VectorFunctions' `aggregate(zip_with(...))` op-for-op,
  * so pre-round values are bit-identical.
  */
object VectorQueries extends QueryModule {
  import Tables.t

  val QueryVecId = 0L

  private def withQuery(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === QueryVecId).select(col("embedding").as("qe"))
    // query vector broadcast as a 1-row dim table; probe side scans
    // with column pruning (never reads label until after scoring)
    e.filter(col("vec_id") =!= QueryVecId)
      .crossJoin(broadcast(q))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
  }

  private def cosineOracleCte: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryVecId),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> $QueryVecId)""".stripMargin

  /** Exact top-5 cosine neighbors of vec 0 — plans as
    * TakeOrderedAndProject (bounded per-partition heaps, no sort). */
  def knnTopk(s: SparkSession, dir: String): DataFrame = knnTopkK(s, dir, 5)

  /** Exact top-k, parameterized — ground truth for the recall
    * harness (RecallSpec). */
  def knnTopkK(s: SparkSession, dir: String, k: Int): DataFrame =
    withQuery(s, dir)
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)

  val knnTopkSql: String =
    s"""$cosineOracleCte
       |SELECT vec_id, label, dist FROM scored
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  /** Top-3 neighbors per label via the bounded-heap TopKPairs
    * aggregate (O(k) state per group, map-side partial heaps — only
    * k rows per group per partition cross the shuffle, vs the
    * window form's full per-partition sort). Output is identical to
    * `row_number().over(orderBy(dist, vec_id)) <= 3` — proven in
    * TopKAggSpec — so the window-based oracle SQL still matches. */
  def knnPerLabel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKAgg
    withQuery(s, dir)
      .groupBy(col("label"))
      .agg(TopKAgg.topkPairs(col("dist"), col("vec_id"), 3).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("label"), (col("pos") + 1).cast("long").as("rn"),
        col("s.id").as("vec_id"), col("s.dist").as("dist"))
      .orderBy(col("label"), col("rn"))
  }

  val knnPerLabelSql: String =
    s"""$cosineOracleCte
       |SELECT label, CAST(rn AS BIGINT) AS rn, vec_id, dist
       |FROM (SELECT label, vec_id, dist,
       |             row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rn
       |      FROM scored)
       |WHERE rn <= 3
       |ORDER BY label, rn""".stripMargin

  /** Per-label vector stats: count + mean L2 norm (norm rounded
    * before the exact-decimal mean so engine-order effects vanish). */
  def embedStats(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    e.withColumn("nrm", r6(l2norm(col("embedding"))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), davg(col("nrm")).as("avg_norm"))
      .orderBy(col("label"))
  }

  val embedStatsSql: String =
    """SELECT label, COUNT(*) AS n,
      |  CAST(SUM(CAST(nrm AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_norm
      |FROM (SELECT label,
      |        round(sqrt(list_sum(list_transform(embedding,
      |              x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 6) + 0 AS nrm
      |      FROM embeddings)
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** Embedding-cosine near-duplicate pairs (sim ≥ 0.45). Norms are
    * precomputed per row, then the smaller relation is broadcast for
    * a nested-loop pairwise pass — O(n²·dim) compute but no shuffle.
    * At 100 TB this brute-force form is replaced by [[annLshTopk]]- or KMeansVec.ivfTopK-style
    * bucketing; it stays here as the exact reference semantics. */
  def embedNeardup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings", resplit = true)
      .withColumn("nrm", l2norm(col("embedding")))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("nrm").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("sim", r6(try_divide(dot(col("emb_a"), col("emb_b")), col("na") * col("nb"))))
      .filter(col("sim") >= 0.45)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val embedNeardupSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT vec_a, vec_b, sim FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_sum(list_transform(range(1, len(a.embedding)+1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |          / (a.nrm * b.nrm), 6) + 0 AS sim
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |WHERE sim >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Blocked all-pairs variant of [[embedNeardup]]: the vector table
    * is collected and broadcast — the fast plan while the table fits
    * in memory (same footprint the BroadcastNestedLoopJoin would
    * pay); above [[NeardupGateRows]] the gated entry switches to
    * [[embedNeardupTriangle]], which holds no full copy anywhere —
    * and each partition scores its rows against the broadcast
    * block in tight primitive loops. Identical output: the dot fold
    * matches FloatDotProduct op-for-op and rounding happens in the
    * same r6 Column afterward. mapPartitions is justified here by
    * measurement: the BNLJ form pays per-pair join-row copies that
    * dominate its runtime. */
  def embedNeardupBlocked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val all = rows.collect().sortBy(_._1)
    val norms = all.map { case (_, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(acc)
    }
    val bc = s.sparkContext.broadcast((all, norms))
    val raw = rows.mapPartitions { it =>
      val (arr, nrm) = bc.value
      it.flatMap { case (ida, va) =>
        var na = 0.0
        var i = 0
        while (i < va.length) { na += va(i).toDouble * va(i).toDouble; i += 1 }
        val sna = math.sqrt(na)
        arr.indices.iterator.flatMap { j =>
          val (idb, vb) = arr(j)
          if (idb <= ida) Iterator.empty
          else {
            var dot = 0.0
            var d = 0
            while (d < va.length) { dot += va(d).toDouble * vb(d).toDouble; d += 1 }
            val sim = dot / (sna * nrm(j))
            // cheap pre-filter well below the rounded threshold so
            // emitted rows stay tiny; exact threshold applied post-r6
            if (sim >= 0.4499) Iterator.single((ida, idb, sim)) else Iterator.empty
          }
        }
      }
    }.toDF("vec_a", "vec_b", "raw_sim")
    raw.withColumn("sim", r6(col("raw_sim")))
      .filter(col("sim") >= 0.45)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Distributed exact all-pairs — the above-cap twin of
    * [[embedNeardupBlocked]]. Triangle blocking: rows hash into
    * `blocks` blocks; task (i, j), i ≤ j, scores block i against
    * block j. The a-side replicates each row to tasks (blk, j) for
    * j ≥ blk, the b-side to (i, blk) for i ≤ blk, so the pair key
    * `(a.blk, b.blk)` co-partitions one shuffle join and every
    * unordered pair meets exactly once (proof: for blk(x) < blk(y)
    * only task (blk(x), blk(y)) holds both, with x on the a-side;
    * the diagonal task holds both orders and the id filter keeps
    * one). O(n·B) shuffled rows, no broadcast, no driver collect —
    * each executor holds at most two blocks at a time. Exact
    * all-pairs compute is inherently O(n²·dim); this distributes
    * its *memory* so the cap failure mode (driver OOM) is gone. */
  def embedNeardupTriangle(s: SparkSession, dir: String, blocks: Int = 16): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("nrm", l2norm(col("embedding")))
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
    val a = e
      .withColumn("tj", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("na"), col("blk").as("ba"), col("tj"))
    val b = e
      .withColumn("ti", explode(sequence(lit(0), col("blk"))))
      .select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nb"), col("blk").as("bb"), col("ti"))
    a.join(b, col("ba") === col("ti") && col("tj") === col("bb"))
      .filter(col("ba") < col("bb") ||
        (col("ba") === col("bb") && col("vec_a") < col("vec_b")))
      .withColumn("sim", r6(try_divide(dot(col("emb_a"), col("emb_b")), col("na") * col("nb"))))
      .filter(col("sim") >= 0.45)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Row cap for the collect-broadcast all-pairs plan: above this the
    * driver copy is an OOM, not a slow query, so the registered
    * `embed_neardup` switches to [[embedNeardupTriangle]] (same
    * size-gate pattern as Dedup.componentsOf). 200k × 64 floats ≈
    * 50 MB broadcast — comfortable; the gate is the MEMORY bound,
    * not a perf crossover. */
  val NeardupGateRows = 200000L

  /** The registered `embed_neardup`: one name, one exact semantics,
    * scale-safe at any input size. The row count is a parquet
    * metadata read (count-star over footers), not a data scan. */
  def embedNeardupGated(s: SparkSession, dir: String): DataFrame =
    embedNeardupGated(s, dir, NeardupGateRows)

  def embedNeardupGated(s: SparkSession, dir: String, cap: Long): DataFrame = {
    val n = t(s, dir, "embeddings").count()
    if (n <= cap) embedNeardupBlocked(s, dir)
    else embedNeardupTriangle(s, dir, blocks = math.min(64, (n / 100000L + 2)).toInt)
  }

  // ---- ANN: random-hyperplane LSH bucketing (scale path) ----

  private val Planes = 6
  /** Registered ann_lsh_topk PER-BAND Hamming probe radius
    * (RecallSpec pins recall@5 ≥ 0.9 at this setting on sf0.1). */
  val ProbeRadius = 1
  private val Dim = 64

  /** Deterministic pseudo-random hyperplanes: component (p, d) is a
    * sign drawn from the cross-engine md5 hash, so the DuckDB oracle
    * rebuilds the identical plane table (48 planes × 64 dims — tiny
    * in both engines). Sign-projection LSH: bucket = code of
    * dot-product signs; cosine-close vectors collide with high
    * probability. */
  private def planeSign(p: Int, d: Int): Double =
    if ((graft.functions.CrossHash.md5Hash60("p" + p + "_" + d) & 1L) == 0L) 1.0 else -1.0

  /** Memoized sign table (md5 runs once per (plane, dim) per JVM). */
  private lazy val planeTable: Array[Array[Double]] =
    Array.tabulate(NeardupBands * Dim, Dim)(planeSign)

  /** One boxed pass over the incoming Seq — every plane loop after
    * this reads primitives. (The UDF input is a boxed collection;
    * reading it 48×64 times per row instead of once dominated the
    * whole query's runtime before this hoist.) */
  private def toPrim(emb: Seq[Float]): Array[Double] = {
    val a = new Array[Double](emb.length)
    var i = 0
    while (i < a.length) { a(i) = emb(i); i += 1 }
    a
  }

  private def signCodePrim(emb: Array[Double], band: Int): Int = {
    var code = 0
    var p = 0
    while (p < Planes) {
      val signs = planeTable(band * Dim + p)
      var acc = 0.0
      var d = 0
      while (d < emb.length) { acc += emb(d) * signs(d); d += 1 }
      if (acc >= 0) code |= (1 << p)
      p += 1
    }
    code
  }

  private def signCode(emb: Seq[Float], band: Int): Int =
    signCodePrim(toPrim(emb), band)

  /** Shared oracle CTE: the sign-plane table + per-(vec, plane)
    * projection accumulated as the SAME sequential double fold the
    * engine runs, then per-band sign codes. `bands` = how many
    * 6-plane bands to build. */
  private def lshCodesCte(bands: Int): String =
    s"""signs AS (
       |  SELECT pg, list(CASE WHEN (${graft.functions.CrossHash.sqlHash60("'p' || pg || '_' || d")}) & 1 = 0
       |                       THEN 1.0 ELSE -1.0 END ORDER BY d) AS sg
       |  FROM UNNEST(range(0, ${bands * Dim})) AS t(pg), UNNEST(range(0, $Dim)) AS u(d)
       |  WHERE pg % $Dim < $Planes
       |  GROUP BY pg),
       |proj AS (
       |  SELECT e.vec_id, s.pg // $Dim AS band, s.pg % $Dim AS p,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * s.sg[i])) AS acc
       |  FROM embeddings e CROSS JOIN signs s),
       |codes AS (
       |  SELECT vec_id, band,
       |    CAST(SUM(CASE WHEN acc >= 0 THEN 1 << p ELSE 0 END) AS INT) AS code
       |  FROM proj GROUP BY vec_id, band)""".stripMargin

  /** Independent sign-codes for multi-band LSH repetition. */
  val NeardupBands = 8
  private val codesUdf = udf { (emb: Seq[Float]) =>
    val a = toPrim(emb)
    Array.tabulate(NeardupBands)(b => signCodePrim(a, b))
  }

  /** Approximate top-5 neighbors of vec 0 via LSH bucket probing:
    * candidates = vectors whose 6-bit sign-code is within Hamming
    * distance 2 of the query's code (multi-probe: true neighbors at
    * moderate angles disagree on ~2 planes in expectation), then
    * exact cosine top-k on the survivors. At scale: the code is a
    * partition key — the probe touches ~22/64 of buckets instead of
    * the full scan; more planes + banding tightens that as corpus
    * density grows. Oracle-checked (md5-derived plane table); recall
    * vs exact kNN additionally asserted in EntrySpec. */
  def annLshTopk(s: SparkSession, dir: String): DataFrame =
    annLshTopkK(s, dir, 5, ProbeRadius)

  /** Sign-LSH top-k with multi-band repetition: a row is a candidate
    * when ANY of the [[NeardupBands]] independent 6-plane sign codes
    * is within `probeRadius` Hamming of the query's code for that
    * band (single-band multiprobe caps out — at sf0.1 density one
    * 6-bit band at radius 2 recalls only 0.2 of the true top-5; 8
    * bands at radius 1 recall ≥0.9, the classic repetition-vs-probes
    * trade measured in RecallSpec). Candidates are exact-rescored,
    * so precision is 1 and only recall is approximate. At 100 TB the
    * (band, code) pair is a posting-list/partition key exactly like
    * the IVF cell — the probe enumerates 7·8 buckets instead of
    * filter-scanning — while the bench form keeps the one-pass
    * broadcast-query scan with zero shuffle. */
  def annLshTopkK(s: SparkSession, dir: String, k: Int, probeRadius: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    // query vector + its 8 band codes resolve on the driver (one
    // 1-row lookup, the ivfTopK pattern) so the corpus pass is a
    // single scan with an early-exit band-match predicate — no
    // broadcast join and no interpreted array-HOF in the filter
    // (exists(zip_with(...)) is CodegenFallback and measured ~3×
    // the whole query's remaining cost)
    // missing/all-zero query row → empty result (the oracle's NaN
    // filter drops every row when the query side is degenerate)
    val qOpt = e.filter(col("vec_id") === QueryVecId)
      .select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).toArray)
      .filter(_.exists(_ != 0f))
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val qSeq = scala.collection.immutable.ArraySeq.unsafeWrapArray(qVec)
    val qcodes = Array.tabulate(NeardupBands)(b => signCode(qSeq, b))
    val radius = probeRadius
    val matchUdf = udf { (emb: Seq[Float]) =>
      val a = toPrim(emb)
      var b = 0
      var hit = false
      while (b < NeardupBands && !hit) {
        if (Integer.bitCount(signCodePrim(a, b) ^ qcodes(b)) <= radius) hit = true
        b += 1
      }
      hit
    }
    e.filter(col("vec_id") =!= QueryVecId)
      .filter(matchUdf(col("embedding")))
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(qVec))))
      .filter(!isnan(col("dist")))
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Multi-query batch kNN (the reference's ChromaDB query accepts a
    * LIST of query embeddings): 3 query vectors broadcast as a tiny
    * dim table, one scan of the corpus scores all of them, window
    * top-3 per query_id. The per-(row, query) cosine is the same
    * mirrored expression shape as single-query kNN. */
  def knnBatch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    e.filter(col("vec_id") >= 3)
      .crossJoin(broadcast(qs))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("rn"), col("vec_id"), col("dist"))
      .orderBy(col("query_id"), col("rn"))
  }

  val knnBatchSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
      |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
      |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
      |  FROM embeddings e, q
      |  WHERE e.vec_id >= 3)
      |SELECT query_id, CAST(rn AS BIGINT) AS rn, vec_id, dist
      |FROM (SELECT query_id, vec_id, dist,
      |             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
      |      FROM scored)
      |WHERE rn <= 3
      |ORDER BY query_id, rn""".stripMargin

  /** kNN-classifier label evaluation — the embedding-space health
    * check SURVEY §5.5 sketches ("majority label of 5-NN ≈ query
    * label"): the first 20 vectors are held out as probes, each is
    * classified by the majority label of its exact 5-NN among the
    * rest (ties → lexicographically smallest label), and per-label
    * accuracy is reported. Low accuracy for a label means its region
    * of the space is mush — retrieval, ANN cells, and semantic dedup
    * will all be unreliable there before any of them is run.
    *
    * Scale shape: the probe set is a bounded broadcast (the audit-
    * sample convention — at production scale the probes are a hash
    * sample, the corpus side is the one scan); scoring is the batch
    * kNN plan (window per probe, never a global sort); voting and
    * accuracy are probe-count-sized aggregations. */
  def knnLabelEval(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    val top = e.filter(col("vec_id") >= 20)
      .crossJoin(broadcast(qs))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("true_label"), col("label"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    val pred = top.groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === 1)
    pred.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("label") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc", r6(col("n_correct").cast("double") / col("n_eval")))
      .orderBy(col("label"))
  }

  val knnLabelEvalSql: String =
    """WITH q AS (SELECT vec_id AS query_id, label AS true_label, embedding AS qe
      |           FROM embeddings WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.query_id, q.true_label, e.vec_id, e.label,
      |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
      |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
      |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
      |  FROM embeddings e, q
      |  WHERE e.vec_id >= 20),
      |top5 AS (
      |  SELECT query_id, true_label, label FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
      |    FROM scored)
      |  WHERE rn <= 5),
      |votes AS (SELECT query_id, true_label, label, COUNT(*) AS votes
      |          FROM top5 GROUP BY query_id, true_label, label),
      |pred AS (
      |  SELECT query_id, true_label, label AS pred_label FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
      |    FROM votes)
      |  WHERE vr = 1)
      |SELECT true_label AS label, COUNT(*) AS n_eval,
      |  CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  round(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) + 0 AS acc
      |FROM pred GROUP BY true_label
      |ORDER BY label""".stripMargin

  /** Rocchio pseudo-relevance feedback (the classic query-expansion
    * loop, Rocchio 1971 as used in modern dense PRF): retrieve the
    * exact top-10 for the query, move the query vector toward their
    * centroid (q' = q + 0.75·mean(top-10)), and re-retrieve the
    * final top-5 with the expanded vector — one extra retrieval
    * round for a recall boost, no model required.
    *
    * Scale shape: round 1 is the proven exact-kNN plan
    * (TakeOrderedAndProject); the feedback centroid is a
    * 10-vector decimal-bridged mean — DIM doubles through the
    * driver (the centroid rule, same as every Lloyd fit); round 2
    * is one more scan with the literal expanded vector. Nothing
    * corpus-sized ever leaves the executors. */
  def rocchioTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q0 = e.filter(col("vec_id") === QueryVecId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    val prf = withQuery(s, dir)
      .orderBy(col("dist"), col("vec_id")).limit(10)
    val means = prf
      .select(posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(r6(davg(r6(col("v").cast("double")))).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // expanded query truncated to FLOAT — the storage dtype every
    // other query vector has (and what the native cosine expression
    // expects); the oracle mirrors the same IEEE narrowing
    val qp = Array.tabulate(q0.length)(i => (q0(i) + 0.75 * means(i)).toFloat)
    OpsShared.rescoreTopK(e.filter(col("vec_id") =!= QueryVecId), qp, 5)
  }

  val rocchioTopkSql: String =
    s"""$cosineOracleCte,
       |prf AS (SELECT vec_id FROM scored ORDER BY dist, vec_id LIMIT 10),
       |pe AS (SELECT e.embedding FROM prf JOIN embeddings e USING (vec_id)),
       |md AS (
       |  SELECT d,
       |    round(CAST(SUM(CAST(round(CAST(embedding[d] AS DOUBLE), 6) + 0 AS DECIMAL(38,6))) AS DOUBLE)
       |          / COUNT(*), 6) + 0 AS m
       |  FROM pe, UNNEST(range(1, len(embedding) + 1)) AS t(d)
       |  GROUP BY d),
       |qp AS (
       |  SELECT list(CAST(CAST(q.qe[d] AS DOUBLE) + 0.75 * md.m AS FLOAT) ORDER BY d) AS qv
       |  FROM md, q),
       |final AS (
       |  SELECT e.vec_id, e.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qp.qv[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(qp.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e, qp
       |  WHERE e.vec_id <> $QueryVecId)
       |SELECT vec_id, label, dist FROM final
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  /** LSH-bucketed near-duplicate pairs — the 100 TB path for
    * [[embedNeardup]]: vectors sharing a sign-LSH code land in one
    * bucket; pairs expand map-side within buckets and their exact
    * cosine is verified (so precision is 1; recall trades against
    * bucket count — multi-band repetition raises it, same pattern
    * as MinHash banding). One shuffle on the code; never all-pairs.
    *
    * Recall is regime-dependent by the collision math
    * (p_band = (1 − θ/π)^6 per band): ≈0.5 at the fixture's
    * coincidental sim≈0.47 pairs, measured 1.0 at sim ≥ 0.8 — the
    * range real near-duplicates occupy (RecallSpec injects perturbed
    * copies and pins this). Driving recall up at LOW thresholds
    * requires near-all-pairs candidate volume with any hash family;
    * that exact semantics is what the gated [[embedNeardupGated]]
    * provides. Oracle-checked: DuckDB rebuilds the md5 plane table
    * and codes. */
  def embedNeardupLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // candidate generation carries ONLY ids through the shuffles
    // (packed pair key); embeddings rejoin after dedup, so the wide
    // vector payload never rides the bucket or dedup exchanges
    val banded = e
      .select(col("vec_id"), posexplode(codesUdf(col("embedding"))).as(Seq("band", "code")))
    val pairs = banded
      .groupBy(col("band"), col("code"))
      .agg(sort_array(collect_list(col("vec_id"))).as("members"))
      .filter(size(col("members")) >= 2)
      .select(explode(expr(
        "flatten(transform(members, (x, i) -> " +
          "transform(slice(members, i + 2, size(members)), y -> shiftleft(x, 32) + y)))"))
        .as("pk"))
      .distinct()
      .select(shiftright(col("pk"), 32).as("vec_a"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("vec_b"))
    val withNorm = e.withColumn("nrm", l2norm(col("embedding")))
    val a = withNorm.select(col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("na"))
    val b = withNorm.select(col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nb"))
    // no broadcast hint: AQE broadcasts the vector sides while they
    // fit and degrades to shuffle joins on the ids at corpus scale
    pairs
      .join(a, Seq("vec_a"))
      .join(b, Seq("vec_b"))
      .withColumn("sim", r6(try_divide(dot(col("emb_a"), col("emb_b")), col("na") * col("nb"))))
      .filter(col("sim") >= 0.45)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Oracle mirror of [[annLshTopk]]: identical 8-band plane table
    * and codes, any-band Hamming probe, same cosine rescoring. */
  val annLshTopkSql: String =
    s"""WITH ${lshCodesCte(NeardupBands)},
       |qc AS (SELECT band, code AS qcode FROM codes WHERE vec_id = $QueryVecId),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryVecId),
       |cand AS (
       |  SELECT e.vec_id, e.label, e.embedding
       |  FROM embeddings e
       |  WHERE e.vec_id <> $QueryVecId
       |    AND EXISTS (
       |      SELECT 1 FROM codes c JOIN qc ON qc.band = c.band
       |      WHERE c.vec_id = e.vec_id
       |        AND bit_count(xor(CAST(c.code AS BIGINT), CAST(qc.qcode AS BIGINT))) <= $ProbeRadius)),
       |scored AS (
       |  SELECT c.vec_id, c.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(c.embedding)+1),
       |              i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM cand c, q)
       |SELECT vec_id, label, dist FROM scored
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  /** Oracle mirror of [[embedNeardupLsh]]: same 8-band codes, same
    * bucket pairing, same exact-cosine verify. */
  val embedNeardupLshSql: String =
    s"""WITH ${lshCodesCte(NeardupBands)},
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM codes x JOIN codes y
       |    ON x.band = y.band AND x.code = y.code AND x.vec_id < y.vec_id),
       |n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings)
       |SELECT vec_a, vec_b, sim FROM (
       |  SELECT p.vec_a, p.vec_b,
       |    round(list_sum(list_transform(range(1, len(a.embedding)+1),
       |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |          / (a.nrm * b.nrm), 6) + 0 AS sim
       |  FROM pairs p
       |  JOIN n a ON a.vec_id = p.vec_a
       |  JOIN n b ON b.vec_id = p.vec_b)
       |WHERE sim >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Per-label embedding-space separability report — the audit a
    * label set (weak labels, cluster assignments, source tags used
    * as supervision) needs BEFORE anyone trains on it: for every
    * vector, cosine to its OWN label centroid minus cosine to the
    * nearest OTHER centroid (the margin). A label with negative-
    * margin mass isn't separable in this embedding space, and
    * `top_confusion` names the label it collapses into —
    * `cluster_silhouette` asks this of unsupervised cells; this asks
    * it of the GIVEN labels.
    *
    * Determinism bridge: zero-norm vectors are excluded up front
    * (quirk Q4's rule — they have no direction, and they'd poison
    * the centroid mean); per-(label, dim) centroid components are
    * exact-DECIMAL means r6'd back (order-independent); dots and
    * norms are sequential double folds (the VectorFunctions
    * contract); margins are differences of r6 images (6-decimal
    * lattice, subtraction exact); the mean margin rides the
    * micro-unit HALF_UP identity SHIFTED by +1 so the div identity
    * never sees a negative numerator; nearest-other ties break to
    * the smaller label via the same (cos DESC, label) window in both
    * engines.
    *
    * Scale shape: centroids are a labels×dims aggregation (map-side
    * partial over the posexplode — the one token-stream-sized pass);
    * the centroid relation is label-count-bounded and BROADCAST;
    * scoring is map-only n×L; best-other is a vec-keyed window; the
    * report is one label-keyed aggregation plus a labels²-bounded
    * confusion argmax. */
  def labelMarginReport(s: SparkSession, dir: String): DataFrame =
    labelMarginReportOf(t(s, dir, "embeddings"), checkpoint = true)

  /** `checkpoint = true` materializes the two shared relations (the
    * filtered vectors feed centroid build AND scoring; the margin
    * relation feeds the report AND the confusion argmax) — the
    * qualityEnsemble reuse rule. PlanSpec passes `false` so the full
    * lineage is visible to the plan pins. */
  private[graft] def labelMarginReportOf(
      e: DataFrame, checkpoint: Boolean): DataFrame = {
    def cp(d: DataFrame): DataFrame = if (checkpoint) d.localCheckpoint(true) else d
    val v = cp(e
      .withColumn("nrm", r6(l2norm(col("embedding"))))
      .where(col("nrm") > 0))
    val cen = v
      .select(col("label").as("clabel"), posexplode(col("embedding")).as(Seq("dim", "fv")))
      .groupBy(col("clabel"), col("dim"))
      .agg(r6(davg(col("fv").cast("double"))).as("c"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cen"))
      .withColumn("cnorm",
        r6(sqrt(aggregate(transform(col("cen"), x => x * x),
          lit(0.0), (a, x) => a + x))))
      .where(col("cnorm") > 0)
    val scored = v.crossJoin(broadcast(cen))
      .withColumn("cos",
        r6(dotHof(col("embedding"), col("cen")) / (col("nrm") * col("cnorm"))))
      .select(col("vec_id"), col("label"), col("clabel"), col("cos"))
    val own = scored.where(col("clabel") === col("label"))
      .select(col("vec_id"), col("label"), col("cos").as("cos_own"))
    val wb = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("clabel"))
    val other = scored.where(col("clabel") =!= col("label"))
      .withColumn("rn", row_number().over(wb))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cos").as("cos_other"), col("clabel").as("nearest"))
    val m = cp(own.join(other, "vec_id")
      .select(col("vec_id"), col("label"),
        r6(col("cos_own") - col("cos_other")).as("margin"), col("nearest")))
    // mean margin: +1-shifted micro-units so div never sees a negative
    val rep = m
      .withColumn("m6", round((col("margin") + 1) * 1e6).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("m6")).as("q6"),
        sum((col("margin") < 0).cast("long")).as("n_confused"))
      .select(col("label"), col("n_vecs"), col("n_confused"),
        ((expr("(2 * q6 + n_vecs) div (2 * n_vecs)") - lit(1000000L))
          .cast("double") / 1e6).as("mean_margin"),
        (expr("(2 * n_confused * 1000000 + n_vecs) div (2 * n_vecs)")
          .cast("double") / 1e6).as("confusion_rate"))
    val wt = Window.partitionBy(col("label"))
      .orderBy(col("k").desc, col("nearest"))
    val top = m.where(col("margin") < 0)
      .groupBy(col("label"), col("nearest"))
      .agg(count(lit(1)).as("k"))
      .withColumn("rn", row_number().over(wt))
      .where(col("rn") === 1)
      .select(col("label"), col("nearest"))
    rep.join(top, Seq("label"), "left")
      .select(col("label"), col("n_vecs"), col("mean_margin"),
        col("n_confused"), col("confusion_rate"),
        coalesce(col("nearest"), lit(-1)).as("top_confusion"))
      .orderBy(col("label"))
  }

  /** Oracle mirror (prefix `lmr_`): the same exclusion, DECIMAL
    * centroid means, sequential list folds, shifted div identity,
    * and (cos DESC, label) tie-break. */
  val labelMarginReportSql: String =
    """WITH lmr_v AS MATERIALIZED (
      |  SELECT vec_id, label, embedding, nrm FROM (
      |    SELECT vec_id, label, embedding,
      |      round(sqrt(list_sum(list_transform(embedding,
      |            x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 6) + 0 AS nrm
      |    FROM embeddings)
      |  WHERE nrm > 0),
      |lmr_cd AS (
      |  SELECT label AS clabel, i AS dim,
      |    round(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
      |          / COUNT(*), 6) + 0 AS c
      |  FROM lmr_v, UNNEST(range(1, len(embedding)+1)) AS u(i)
      |  GROUP BY label, i),
      |lmr_c0 AS (SELECT clabel, list(c ORDER BY dim) AS cen FROM lmr_cd GROUP BY clabel),
      |lmr_c AS MATERIALIZED (
      |  SELECT clabel, cen,
      |    round(sqrt(list_sum(list_transform(cen, x -> x*x))), 6) + 0 AS cnorm
      |  FROM lmr_c0
      |  WHERE round(sqrt(list_sum(list_transform(cen, x -> x*x))), 6) + 0 > 0),
      |lmr_s AS MATERIALIZED (
      |  SELECT v.vec_id, v.label, c.clabel,
      |    round(list_sum(list_transform(range(1, len(v.embedding)+1),
      |            i -> CAST(v.embedding[i] AS DOUBLE) * c.cen[i]))
      |          / (v.nrm * c.cnorm), 6) + 0 AS cos
      |  FROM lmr_v v, lmr_c c),
      |lmr_o AS (SELECT vec_id, label, cos AS cos_own FROM lmr_s WHERE clabel = label),
      |lmr_b AS (
      |  SELECT vec_id, cos AS cos_other, clabel AS nearest FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
      |    FROM lmr_s WHERE clabel <> label)
      |  WHERE rn = 1),
      |lmr_m AS MATERIALIZED (
      |  SELECT o.vec_id, o.label,
      |    round(o.cos_own - b.cos_other, 6) + 0 AS margin, b.nearest
      |  FROM lmr_o o JOIN lmr_b b USING (vec_id)),
      |lmr_r AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST(SUM(CAST(round((margin + 1) * 1000000) AS BIGINT)) AS BIGINT) AS q6,
      |    CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_confused
      |  FROM lmr_m GROUP BY label),
      |lmr_t AS (
      |  SELECT label, nearest FROM (
      |    SELECT label, nearest,
      |      row_number() OVER (PARTITION BY label ORDER BY COUNT(*) DESC, nearest) AS rn
      |    FROM lmr_m WHERE margin < 0 GROUP BY label, nearest)
      |  WHERE rn = 1)
      |SELECT r.label, r.n_vecs,
      |  CAST((2 * r.q6 + r.n_vecs) // (2 * r.n_vecs) - 1000000 AS DOUBLE) / 1000000.0
      |    AS mean_margin,
      |  r.n_confused,
      |  CAST((2 * r.n_confused * 1000000 + r.n_vecs) // (2 * r.n_vecs) AS DOUBLE)
      |    / 1000000.0 AS confusion_rate,
      |  COALESCE(t.nearest, -1) AS top_confusion
      |FROM lmr_r r LEFT JOIN lmr_t t USING (label)
      |ORDER BY r.label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "label_margin_report" -> (labelMarginReport _),
    "embed_neardup_lsh" -> (embedNeardupLsh _),
    "knn_batch" -> (knnBatch _),
    "knn_topk" -> (knnTopk _),
    "knn_per_label" -> (knnPerLabel _),
    "q12_embed_stats" -> (embedStats _),
    "embed_neardup" -> ((s: SparkSession, dir: String) => embedNeardupGated(s, dir)),
    "knn_label_eval" -> (knnLabelEval _),
    "rocchio_topk" -> (rocchioTopk _),
    "ann_lsh_topk" -> (annLshTopk _))

  val oracles: Map[String, String] = Map(
    "knn_batch" -> knnBatchSql,
    "knn_topk" -> knnTopkSql,
    "knn_per_label" -> knnPerLabelSql,
    "q12_embed_stats" -> embedStatsSql,
    "embed_neardup" -> embedNeardupSql,
    "knn_label_eval" -> knnLabelEvalSql,
    "label_margin_report" -> labelMarginReportSql,
    "rocchio_topk" -> rocchioTopkSql,
    "ann_lsh_topk" -> annLshTopkSql,
    "embed_neardup_lsh" -> embedNeardupLshSql)
}
