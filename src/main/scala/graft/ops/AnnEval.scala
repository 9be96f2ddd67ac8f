package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN backend evaluation — the recall harness an index deployment
  * runs before switching backends or retuning (the reference pins its
  * store's HNSW defaults, `/root/reference/index.py:432-435`; this op
  * is the measurement that justifies such a choice): every
  * approximate backend's top-k against the exact-kNN ground truth for
  * the registered query, as one relation.
  *
  * Composition, not re-implementation: each backend row set IS the
  * corresponding registered query (`ann_graph_topk`, `ann_ivf_topk`,
  * `ann_ivfpq_topk`, `ann_lsh_topk`, `ann_pq_topk`, `ann_sq_topk`),
  * so the report inherits their individually-proven oracle parity;
  * the evaluation itself is a union + left join against the 5-row
  * exact set + one tiny aggregation. At scale the cost is the sum of
  * the backend searches — each already sub-linear by its own design —
  * and the ground-truth scan, which is exactly what a recall audit
  * must pay (run it on a sampled query set, not per query, in
  * production).
  */
object AnnEval extends QueryModule {

  private val K = 5

  private[graft] val BackendNames =
    Seq("bq", "graph", "ivf", "ivfpq", "lsh", "pq", "rq", "sq", "sq4")

  private def backends(s: SparkSession, dir: String): Seq[(String, DataFrame)] =
    BackendNames.zip(Seq(
      Bq.bqTopK(s, dir),
      GraphAnn.annGraphTopk(s, dir),
      KMeansVec.ivfTopK(s, dir),
      Pq.annIvfPqTopk(s, dir),
      VectorQueries.annLshTopk(s, dir),
      Pq.annPqTopk(s, dir),
      Rq.annRqTopk(s, dir),
      Quantize.sqTopK(s, dir),
      Quantize.sq4TopK(s, dir)))

  /** backend, returned, hits, recall@5 — ordered by backend name.
    * EVERY backend always has a row: the aggregation left-joins
    * against the literal backend list, so a degenerate backend that
    * returns zero rows reports recall 0.0 instead of silently
    * vanishing from its own audit (groupBy would drop the empty
    * group — the one failure mode a recall report exists to catch). */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = VectorQueries.knnTopkK(s, dir, K)
      .select(col("vec_id").as("evid"))
    val all = backends(s, dir)
      .map { case (n, df) => df.select(lit(n).as("backend"), col("vec_id")) }
      .reduce(_ union _)
    val agg = all.join(exact, col("vec_id") === col("evid"), "left")
      .groupBy(col("backend"))
      .agg(count(lit(1)).as("returned"), count(col("evid")).as("hits"))
    BackendNames.toDF("backend")
      .join(agg, Seq("backend"), "left")
      .select(col("backend"),
        coalesce(col("returned"), lit(0L)).as("returned"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        r6(coalesce(col("hits"), lit(0L)).cast("double") / lit(K.toDouble))
          .as("recall_at_5"))
      .orderBy(col("backend"))
  }

  /** The oracle composes each backend's own proven oracle SQL as a
    * subquery (graph ANN's declared oracle is exact kNN — recall 1.0
    * at the registered settings is its gate). */
  val annRecallReportSql: String = {
    def sub(name: String, sql: String) =
      s"SELECT '$name' AS backend, vec_id FROM (\n$sql\n)"
    val union = Seq(
      sub("bq", Bq.bqTopKSql),
      sub("graph", VectorQueries.knnTopkSql),
      sub("ivf", KMeansVec.ivfTopKSql),
      sub("ivfpq", Pq.annIvfPqTopkSql),
      sub("lsh", VectorQueries.annLshTopkSql),
      sub("pq", Pq.annPqTopkSql),
      sub("rq", Rq.annRqTopkSql),
      sub("sq", Quantize.sqTopKSql),
      sub("sq4", Quantize.sq4TopKSql)).mkString("\nUNION ALL\n")
    val nameList = BackendNames.map(n => s"'$n'").mkString(", ")
    s"""WITH exact AS (SELECT vec_id AS evid FROM (
       |${VectorQueries.knnTopkSql}
       |)),
       |allb AS (
       |$union
       |),
       |names AS (SELECT unnest([$nameList]) AS backend),
       |agg AS (
       |  SELECT backend, COUNT(*) AS returned, COUNT(e.evid) AS hits
       |  FROM allb a LEFT JOIN exact e ON a.vec_id = e.evid
       |  GROUP BY backend)
       |SELECT n.backend, CAST(coalesce(agg.returned, 0) AS BIGINT) AS returned,
       |  CAST(coalesce(agg.hits, 0) AS BIGINT) AS hits,
       |  round(CAST(coalesce(agg.hits, 0) AS DOUBLE) / $K.0, 6) + 0 AS recall_at_5
       |FROM names n LEFT JOIN agg ON agg.backend = n.backend
       |ORDER BY n.backend""".stripMargin
  }

  // ------------------------------------------------ batch recall

  private val BatchK = 3

  private[graft] val BatchBackendNames = Seq("graph", "ivf")

  /** Batch recall audit — the form a production audit actually runs:
    * recall of each BATCH backend ([[GraphAnn.annGraphBatchTopk]],
    * [[KMeansVec.ivfBatchTopK]]) against exact batch kNN, per
    * (backend, query) plus one mean row per backend (`query_id = -1`,
    * so the relation needs no NULL-ordering convention). The same
    * totality guarantee as [[annRecallReport]]: the (backend × query)
    * grid left-joins the results, so a backend that drops a query
    * reports recall 0.0 for it instead of vanishing. Cost at scale =
    * the two batch searches (each already sub-linear per query) + the
    * exact ground-truth batch over the SAMPLED query set — exactly
    * what a recall audit must pay, and why it runs on a sample. */
  def annRecallBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT checkpointed (r15 A/B): `exact` and `per` are each
    // referenced twice, but the duplicate backend subtrees run as
    // CONCURRENT stages of the one job and the wall-clock stays flat
    // — eager checkpoints serialized them and measured worse
    // (fresh-JVM min 1.93 s → 2.20 s).
    val exact = VectorQueries.knnBatch(s, dir)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    val results = Seq(
      ("graph", GraphAnn.annGraphBatchTopk(s, dir)),
      ("ivf", KMeansVec.ivfBatchTopK(s, dir)))
      .map { case (n, df) =>
        df.select(lit(n).as("backend"), col("query_id"), col("vec_id")) }
      .reduce(_ union _)
    val grid = BatchBackendNames.toDF("backend")
      .crossJoin(exact.select(col("query_id")).distinct())
    val perPair = results
      .join(exact, Seq("query_id", "vec_id"), "left")
      .groupBy(col("backend"), col("query_id"))
      .agg(count(lit(1)).as("returned"), count(col("hit")).as("hits"))
    val per = grid.join(perPair, Seq("backend", "query_id"), "left")
      .select(col("backend"), col("query_id"),
        coalesce(col("returned"), lit(0L)).as("returned"),
        coalesce(col("hits"), lit(0L)).as("hits"))
    val perQuery = per
      .select(col("backend"), col("query_id"), col("returned"), col("hits"),
        r6(col("hits").cast("double") / lit(BatchK.toDouble)).as("recall_at_3"))
    val mean = per.groupBy(col("backend"))
      .agg(sum(col("returned")).as("returned"), sum(col("hits")).as("hits"),
        count(lit(1)).as("nq"))
      .select(col("backend"), lit(-1L).as("query_id"), col("returned"), col("hits"),
        r6(col("hits").cast("double") / (lit(BatchK.toDouble) * col("nq")))
          .as("recall_at_3"))
    perQuery.unionByName(mean)
      .orderBy(col("backend"), col("query_id"))
  }

  /** Oracle: composes the two batch backends' own proven oracles
    * (graph batch's declared oracle IS exact batch kNN — recall 1.0
    * at the registered settings is its gate; IVF batch replays its
    * probe plan), then the same grid + per-query + mean tail. */
  val annRecallBatchSql: String = {
    val nameList = BatchBackendNames.map(n => s"'$n'").mkString(", ")
    s"""WITH exact AS (SELECT query_id, vec_id FROM (
       |${VectorQueries.knnBatchSql}
       |)),
       |gb AS (SELECT 'graph' AS backend, query_id, vec_id FROM (
       |${VectorQueries.knnBatchSql}
       |)),
       |ib AS (SELECT 'ivf' AS backend, query_id, vec_id FROM (
       |${KMeansVec.ivfBatchTopKSql}
       |)),
       |allb AS (SELECT * FROM gb UNION ALL SELECT * FROM ib),
       |grid AS (
       |  SELECT n.backend, q.query_id
       |  FROM (SELECT unnest([$nameList]) AS backend) n
       |  CROSS JOIN (SELECT DISTINCT query_id FROM exact) q),
       |pp AS (
       |  SELECT a.backend, a.query_id, COUNT(*) AS returned,
       |    COUNT(e.vec_id) AS hits
       |  FROM allb a LEFT JOIN exact e
       |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id
       |  GROUP BY a.backend, a.query_id),
       |per AS (
       |  SELECT g.backend, g.query_id,
       |    coalesce(pp.returned, 0) AS returned, coalesce(pp.hits, 0) AS hits
       |  FROM grid g LEFT JOIN pp
       |    ON pp.backend = g.backend AND pp.query_id = g.query_id)
       |SELECT backend, query_id, returned, hits, recall_at_3 FROM (
       |  SELECT backend, query_id, CAST(returned AS BIGINT) AS returned,
       |    CAST(hits AS BIGINT) AS hits,
       |    round(CAST(hits AS DOUBLE) / $BatchK.0, 6) + 0 AS recall_at_3
       |  FROM per
       |  UNION ALL
       |  SELECT backend, CAST(-1 AS BIGINT) AS query_id,
       |    CAST(SUM(returned) AS BIGINT) AS returned,
       |    CAST(SUM(hits) AS BIGINT) AS hits,
       |    round(CAST(SUM(hits) AS DOUBLE) / ($BatchK.0 * COUNT(*)), 6) + 0 AS recall_at_3
       |  FROM per GROUP BY backend)
       |ORDER BY backend, query_id""".stripMargin
  }

  // ------------------------------------------- retrieval quality

  private val NdcgK = 10

  /** (doc_id, pos) — positions within a ≤[[NdcgK]]-row top-k slice;
    * the window is over a bounded relation (TakeOrderedAndProject
    * heads), the boundedRankKey contract. */
  private def ranked(df: DataFrame, idCol: String,
      ord: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("pos", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(graft.functions.WindowKeys.boundedRankKey(col(idCol)))
        .orderBy(ord: _*)))
      .select(col(idCol).as("doc_id"), col("pos"))

  /** Ranking-quality metrics — the eval a retrieval stack runs when
    * recall alone can't arbitrate (recall counts set membership;
    * NDCG/MRR grade POSITIONS): NDCG@10 and MRR of the keyword
    * (`bm25_topk`) and fused (`hybrid_rrf`) rankings against graded
    * relevance from the exact-cosine ranking (rel = 11 − exact rank,
    * the standard graded-from-gold construction), plus the exact
    * ranking itself as a self-validating row — its DCG fold IS the
    * IDCG fold, so ndcg = 1.0 and mrr = 1.0 by construction
    * (spec-asserted). Composition, not re-implementation: every
    * ranked list is a registered query's own proven result. Cost at
    * scale = the component searches (each bounded/sub-linear by its
    * own design) + arithmetic over ≤10-row lists; the joins are
    * broadcasts of the 10-row relevance set. Per-position gains are
    * r6-rounded then decimal-summed (§8.5 bridge) with ln(x)/ln(2)
    * spelled identically in both engines. */
  def retrievalNdcg(s: SparkSession, dir: String): DataFrame = {
    val log2 = (c: org.apache.spark.sql.Column) => log(c) / log(lit(2.0))
    val exactR = ranked(VectorQueries.knnTopkK(s, dir, NdcgK), "vec_id",
      Seq(col("dist"), col("vec_id")))
    val rel = exactR.select(col("doc_id"),
      (lit(NdcgK + 1) - col("pos")).cast("long").as("rel"))
    val systems = Seq(
      "bm25" -> ranked(Retrieval.bm25Topk(s, dir), "doc_id",
        Seq(col("score").desc, col("doc_id"))),
      "exact" -> exactR,
      "hybrid" -> ranked(Retrieval.hybridRrf(s, dir), "doc_id",
        Seq(col("fused").desc, col("doc_id"))))
    val all = systems
      .map { case (n, df) => df.select(lit(n).as("system"), col("doc_id"), col("pos")) }
      .reduce(_ union _)
    // ideal position of relevance r is 11 − r (rel grades are distinct
    // by construction), so IDCG folds over the same 10-row relation
    val idcg = rel.select(
        r6(col("rel").cast("double") /
          log2((lit(NdcgK + 1) - col("rel")).cast("double") + 1)).as("g"))
      .agg(OracleMath.dsum(col("g")).as("idcg"))
    val scored = all.join(broadcast(rel), Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("gain",
        r6(col("rel").cast("double") / log2(col("pos").cast("double") + 1)))
    scored.groupBy(col("system"))
      .agg(
        count(lit(1)).as("returned"),
        count(when(col("rel") > 0, lit(1))).as("hits"),
        OracleMath.dsum(col("gain")).as("dcgraw"),
        min(when(col("rel") > 0, col("pos"))).as("fp"))
      .crossJoin(broadcast(idcg))
      .select(col("system"), col("returned"), col("hits"),
        r6(col("dcgraw")).as("dcg"),
        r6(col("dcgraw") / col("idcg")).as("ndcg"),
        r6(coalesce(lit(1.0) / col("fp"), lit(0.0))).as("mrr"))
      .orderBy(col("system"))
  }

  /** Oracle: the exact list is the proven kNN oracle at k=10, the
    * system lists are the registered bm25/hybrid oracles verbatim;
    * metric arithmetic mirrors the Column fold exactly. */
  val retrievalNdcgSql: String = {
    val exact10 = VectorQueries.knnTopkSql.replace("LIMIT 5", s"LIMIT $NdcgK")
    s"""WITH exact AS (
       |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY dist, vec_id) AS pos
       |  FROM (
       |$exact10
       |  )),
       |rel AS (SELECT doc_id, CAST(${NdcgK + 1} - pos AS BIGINT) AS rel FROM exact),
       |bm AS (
       |  SELECT 'bm25' AS system, doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS pos
       |  FROM (
       |${Retrieval.bm25TopkSql}
       |  )),
       |hy AS (
       |  SELECT 'hybrid' AS system, doc_id,
       |    row_number() OVER (ORDER BY fused DESC, doc_id) AS pos
       |  FROM (
       |${Retrieval.hybridRrfSql}
       |  )),
       |ex AS (SELECT 'exact' AS system, doc_id, pos FROM exact),
       |allr AS (SELECT * FROM bm UNION ALL SELECT * FROM ex UNION ALL SELECT * FROM hy),
       |idcg AS (
       |  SELECT CAST(SUM(CAST(round(CAST(rel AS DOUBLE) /
       |      (ln(CAST(${NdcgK + 1} - rel AS DOUBLE) + 1) / ln(2.0)), 6) + 0
       |    AS DECIMAL(38,6))) AS DOUBLE) AS idcg
       |  FROM rel),
       |scored AS (
       |  SELECT a.system, a.pos, coalesce(r.rel, 0) AS rel,
       |    round(CAST(coalesce(r.rel, 0) AS DOUBLE) /
       |          (ln(CAST(a.pos AS DOUBLE) + 1) / ln(2.0)), 6) + 0 AS gain
       |  FROM allr a LEFT JOIN rel r USING (doc_id)),
       |agg AS (
       |  SELECT system, COUNT(*) AS returned,
       |    COUNT(CASE WHEN rel > 0 THEN 1 END) AS hits,
       |    CAST(SUM(CAST(gain AS DECIMAL(38,6))) AS DOUBLE) AS dcgraw,
       |    MIN(CASE WHEN rel > 0 THEN pos END) AS fp
       |  FROM scored GROUP BY system)
       |SELECT system, CAST(returned AS BIGINT) AS returned,
       |  CAST(hits AS BIGINT) AS hits,
       |  round(dcgraw, 6) + 0 AS dcg,
       |  round(dcgraw / idcg, 6) + 0 AS ndcg,
       |  round(coalesce(CAST(1 AS DOUBLE) / fp, CAST(0 AS DOUBLE)), 6) + 0 AS mrr
       |FROM agg CROSS JOIN idcg
       |ORDER BY system""".stripMargin
  }

  // ------------------------------------------- matryoshka truncation

  private[graft] val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** Matryoshka truncation audit (Kusupati et al. 2022): recall@5 of
    * retrieval over only the first m dimensions against the
    * full-dimension exact top-5, for m ∈ [[MatryoshkaDims]] — the
    * measurement behind the "shorten the vectors, keep the recall"
    * memory/bandwidth trade MRL-trained encoders advertise. The
    * full-width row (m = dim) reproduces the exact ranking by
    * construction — recall 1.0 is the report's self-validation, the
    * retrieval_ndcg convention. Each truncated retrieval is the
    * SAME TakeOrderedAndProject scan shape as exact kNN (a sliced
    * array is narrower, never wider); the audit costs |dims| scans
    * of (vec_id, embedding) and one 4-row join. At scale the scans
    * fuse trivially into a sampled-query audit; the m-grid left
    * join keeps a degenerate truncation (zero rows) visible as 0.0. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.cosineDist
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding").as("qe"))
    val exact = VectorQueries.knnTopkK(s, dir, K).select(col("vec_id").as("evid"))
    val all = MatryoshkaDims.map { m =>
      e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
        .crossJoin(broadcast(q))
        .withColumn("dist",
          r6(cosineDist(slice(col("embedding"), 1, m), slice(col("qe"), 1, m))))
        .filter(!isnan(col("dist")) && col("dist").isNotNull)
        .select(col("vec_id"), col("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(K)
        .select(lit(m).as("m"), col("vec_id"))
    }.reduce(_ union _)
    val agg = all.join(exact, col("vec_id") === col("evid"), "left")
      .groupBy(col("m")).agg(count(col("evid")).as("hits"))
    MatryoshkaDims.toDF("m")
      .join(agg, Seq("m"), "left")
      .select(col("m").cast("long").as("m"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        r6(coalesce(col("hits"), lit(0L)).cast("double") / lit(K.toDouble))
          .as("recall_at_5"))
      .orderBy(col("m"))
  }

  /** Per-m truncated scoring mirrors the exact-kNN fold over the
    * sliced prefix; the grid + left-join tail is the recall-report
    * convention. */
  val matryoshkaRecallSql: String = {
    def topM(m: Int): String =
      s"""SELECT $m AS m, vec_id FROM (
         |  SELECT e.vec_id,
         |    round(1.0 - list_sum(list_transform(range(1, $m + 1),
         |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
         |          / (sqrt(list_sum(list_transform(e.embedding[1:$m], x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         |             * sqrt(list_sum(list_transform(q.qe[1:$m], x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> ${VectorQueries.QueryVecId}
         |  ORDER BY dist, vec_id LIMIT $K)""".stripMargin
    val union = MatryoshkaDims.map(topM).mkString("\nUNION ALL\n")
    val dimList = MatryoshkaDims.mkString(", ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings
       |           WHERE vec_id = ${VectorQueries.QueryVecId}),
       |exact AS (SELECT vec_id AS evid FROM (
       |${VectorQueries.knnTopkSql}
       |)),
       |allm AS (
       |$union
       |),
       |agg AS (
       |  SELECT m, COUNT(e.evid) AS hits
       |  FROM allm a LEFT JOIN exact e ON a.vec_id = e.evid
       |  GROUP BY m),
       |dims AS (SELECT unnest([$dimList]) AS m)
       |SELECT CAST(d.m AS BIGINT) AS m,
       |  CAST(coalesce(agg.hits, 0) AS BIGINT) AS hits,
       |  round(CAST(coalesce(agg.hits, 0) AS DOUBLE) / $K.0, 6) + 0 AS recall_at_5
       |FROM dims d LEFT JOIN agg ON agg.m = d.m
       |ORDER BY m""".stripMargin
  }

  // ------------------------------------------- IVF nprobe sweep

  private[graft] val ProbeGrid = Seq(1, 2, 4, 8)

  /** The nprobe operating curve — the tuning table an IVF deployment
    * is actually sized from: recall@5 against exact kNN at each probe
    * count in [[ProbeGrid]]. Probing more cells buys recall linearly
    * in scan cost (nprobe/k of the corpus per query); this table is
    * where the knee is read off. `ann_recall_report` grades backends
    * at their registered knobs; this grades ONE backend across its
    * knob — the other half of a real tuning session.
    *
    * Cost shape: the Lloyd fit is paid ONCE ([[KMeansVec.fit]] is
    * called once and shared across all four searches via
    * [[KMeansVec.ivfTopKFrom]]); each sweep point then scans only its
    * probed cells. The grid left-join keeps a degenerate point (zero
    * rows) visible as recall 0.0 — the report-totality convention. */
  def ivfProbeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fitted = KMeansVec.fit(s, dir, iters = 1)
    val exact = VectorQueries.knnTopkK(s, dir, K).select(col("vec_id").as("evid"))
    val all = ProbeGrid.map { p =>
      KMeansVec.ivfTopKFrom(fitted, s, dir, K, p)
        .select(lit(p).as("nprobe"), col("vec_id"))
    }.reduce(_ union _)
    val agg = all.join(exact, col("vec_id") === col("evid"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("returned"), count(col("evid")).as("hits"))
    ProbeGrid.toDF("nprobe")
      .join(agg, Seq("nprobe"), "left")
      .select(col("nprobe").cast("long").as("nprobe"),
        coalesce(col("returned"), lit(0L)).as("returned"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        r6(coalesce(col("hits"), lit(0L)).cast("double") / lit(K.toDouble))
          .as("recall_at_5"))
      .orderBy(col("nprobe"))
  }

  /** Oracle: each sweep point is the proven IVF oracle replayed at
    * that nProbe ([[KMeansVec.ivfTopKSqlProbes]] — same init/assign
    * CTEs, parametric probe LIMIT), nested as independent subqueries
    * so their CTE names cannot collide; the grid + left-join tail is
    * the recall-report convention. */
  val ivfProbeSweepSql: String = {
    val union = ProbeGrid.map { p =>
      s"SELECT $p AS nprobe, vec_id FROM (\n${KMeansVec.ivfTopKSqlProbes(p)}\n)"
    }.mkString("\nUNION ALL\n")
    val probeList = ProbeGrid.mkString(", ")
    s"""WITH exact AS (SELECT vec_id AS evid FROM (
       |${VectorQueries.knnTopkSql}
       |)),
       |allp AS (
       |$union
       |),
       |agg AS (
       |  SELECT nprobe, COUNT(*) AS returned, COUNT(e.evid) AS hits
       |  FROM allp a LEFT JOIN exact e ON a.vec_id = e.evid
       |  GROUP BY nprobe),
       |grid AS (SELECT unnest([$probeList]) AS nprobe)
       |SELECT CAST(g.nprobe AS BIGINT) AS nprobe,
       |  CAST(coalesce(agg.returned, 0) AS BIGINT) AS returned,
       |  CAST(coalesce(agg.hits, 0) AS BIGINT) AS hits,
       |  round(CAST(coalesce(agg.hits, 0) AS DOUBLE) / $K.0, 6) + 0 AS recall_at_5
       |FROM grid g LEFT JOIN agg ON agg.nprobe = g.nprobe
       |ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------ hubness audit

  private val HubProbes = 20
  private val HubK = 5
  private val HubTop = 10

  /** Hubness audit (Radovanović et al., JMLR 2010) — the
    * embedding-space pathology ANN recall numbers hide: in high
    * dimensions some vectors ("hubs") appear in a wildly
    * disproportionate share of OTHER points' k-NN lists, dragging
    * retrieval toward the same results regardless of query. Measured
    * as k-occurrence over the [[HubProbes]]-probe holdout (the
    * knn_label_eval sampling convention): each probe's exact top-5
    * among the corpus, then how often each corpus vector occurs —
    * the top-[[HubTop]] occurrence counts ARE the hub report, and a
    * max far above k·probes/corpus is the red flag that precedes
    * bad retrieval diversity (the case for [[graft.ops.Rerank
    * .mmrTopk]] rerank or [[graft.ops.Pca]] whitening).
    *
    * Scale shape: the probe slice broadcasts, ONE corpus scan scores
    * all probes, per-probe top-k is a bounded rank window, the
    * occurrence count is a tiny aggregation — the batch-kNN plan
    * plus one groupBy. */
  def hubnessReport(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosineDist
    import org.apache.spark.sql.expressions.Window
    val e = Tables.t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") < HubProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    e.filter(col("vec_id") >= HubProbes)
      .crossJoin(broadcast(qs))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= HubK)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("vec_id"))
      .limit(HubTop)
  }

  val hubnessReportSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |           WHERE vec_id < $HubProbes),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e, q
       |  WHERE e.vec_id >= $HubProbes),
       |topk AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, dist,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |    FROM scored
       |    WHERE dist IS NOT NULL AND NOT isnan(dist))
       |  WHERE rn <= $HubK)
       |SELECT vec_id, COUNT(*) AS n_occ
       |FROM topk GROUP BY vec_id
       |ORDER BY n_occ DESC, vec_id
       |LIMIT $HubTop""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hubness_report" -> (hubnessReport _),
    "ivf_probe_sweep" -> (ivfProbeSweep _),
    "ann_recall_report" -> (annRecallReport _),
    "ann_recall_batch" -> (annRecallBatch _),
    "matryoshka_recall" -> (matryoshkaRecall _),
    "retrieval_ndcg" -> (retrievalNdcg _))

  val oracles: Map[String, String] = Map(
    "hubness_report" -> hubnessReportSql,
    "ivf_probe_sweep" -> ivfProbeSweepSql,
    "ann_recall_report" -> annRecallReportSql,
    "ann_recall_batch" -> annRecallBatchSql,
    "matryoshka_recall" -> matryoshkaRecallSql,
    "retrieval_ndcg" -> retrievalNdcgSql)
}
