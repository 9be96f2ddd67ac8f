package graft.ops

import graft.functions.VectorFunctions.{cosineDist, r6}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Post-retrieval reranking + mining over the `embeddings` fixture —
  * the result-side operators a RAG/training pipeline runs AFTER the
  * candidate generator (reference serving path: log-vector
  * `ask.py:200-203` returns the raw ascending-distance top-k; these
  * are the standard refinements on that shortlist):
  *
  *   - [[mmrTopk]]: Maximal Marginal Relevance diversification
  *     (Carbonell & Goldstein 1998) — greedy λ·rel − (1−λ)·redundancy
  *     selection over a bounded shortlist.
  *   - [[hardNegatives]]: hard-negative mining for contrastive /
  *     retrieval training — per-anchor nearest neighbors inside a
  *     similarity band (close, but not near-duplicate).
  *
  * Scale shapes: candidate generation is the distributed part
  * (TakeOrderedAndProject for MMR's shortlist; broadcast-anchors ×
  * corpus scan with bounded TopKPairs heaps for mining). The MMR
  * greedy step itself is O(shortlist·k) on ≤ [[MmrShortlist]] rows —
  * a driver-side rerank of a bounded shortlist, exactly where real
  * serving stacks run it. At 100 TB nothing here materializes more
  * than the shortlist.
  *
  * Determinism: all selection metrics are full-double sequential
  * folds (the VectorFunctions order, mirrored op-for-op in the
  * oracle CTEs), so argmax decisions are bit-identical across
  * engines; every tie breaks on vec_id.
  */
object Rerank extends QueryModule {
  import Tables.t

  val MmrShortlist = 20
  val MmrK = 5
  val MmrLambda = 0.5

  // hard-negative band on r6 cosine distance: past near-dup range
  // (fixture min ≈ 0.61) but meaningfully closer than the ≈0.99
  // median — "similar, not duplicate"
  val NegDistLo = 0.70
  val NegDistHi = 0.85
  val NegAnchors: Seq[Long] = Seq(1L, 2L, 3L)
  val NegK = 3

  /** Sequential-fold Σ a[i]·b[i] in doubles — bit-identical to
    * DuckDB's `list_sum(list_transform(...))` and to the codegen'd
    * FloatDotProduct (same left-to-right IEEE order). */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Unrounded cosine similarity, the oracle's exact expression
    * shape `dot / (sqrt(xx_a) * sqrt(xx_b))`. */
  private def simD(a: Array[Float], b: Array[Float]): Double =
    dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))

  private val mmrSchema = StructType(Seq(
    StructField("rnk", LongType, nullable = false),
    StructField("vec_id", LongType),
    StructField("label", IntegerType),
    StructField("dist", DoubleType)))

  /** MMR-diversified top-k: exact cosine shortlist (top
    * [[MmrShortlist]] by r6 distance — the same bounded
    * TakeOrderedAndProject plan as knn_topk), then greedy selection
    * of [[MmrK]] results maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`.
    *
    * The greedy loop runs on the collected shortlist (≤ 20 rows ×
    * 64 floats — bounded by construction, the PQ-shortlist
    * convention); selection uses UNROUNDED doubles so the oracle's
    * unrolled argmax CTEs reproduce every pick bit-for-bit. */
  def mmrTopk(s: SparkSession, dir: String): DataFrame = {
    val empty = s.createDataFrame(s.sparkContext.emptyRDD[Row], mmrSchema)
    OpsShared.queryVec(s, dir) match {
      case None => empty
      case Some(q) =>
        val e = t(s, dir, "embeddings")
        val cand = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
          .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(q))))
          .filter(!isnan(col("dist")) && col("dist").isNotNull)
          .select(col("vec_id"), col("label"), col("dist"), col("embedding"))
          .orderBy(col("dist"), col("vec_id"))
          .limit(MmrShortlist)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
            r.getSeq[Float](3).toArray))
        if (cand.isEmpty) return empty

        val simq = cand.map { case (_, _, _, emb) => simD(emb, q) }
        val n = cand.length
        val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
        val remaining = scala.collection.mutable.BitSet(0 until n: _*)
        while (picked.length < math.min(MmrK, n)) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          remaining.foreach { i =>
            // first pick ranks by pure relevance (no redundancy yet);
            // later picks by λ·rel − (1−λ)·max-sim-to-picked
            val score =
              if (picked.isEmpty) simq(i)
              else {
                var ms = Double.NegativeInfinity
                picked.foreach { j => ms = math.max(ms, simD(cand(i)._4, cand(j)._4)) }
                MmrLambda * simq(i) - (1.0 - MmrLambda) * ms
              }
            // the oracle's ORDER BY score DESC, vec_id — exact score
            // ties resolve to the lowest vec_id in both engines
            if (score > bestScore ||
              (score == bestScore && (best < 0 || cand(i)._1 < cand(best)._1))) {
              bestScore = score; best = i
            }
          }
          picked += best
          remaining -= best
        }
        val rows = picked.zipWithIndex.map { case (i, r) =>
          Row((r + 1).toLong, cand(i)._1, cand(i)._2, cand(i)._3)
        }
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), mmrSchema)
    }
  }

  private def foldSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin

  /** Oracle mirror of [[mmrTopk]]: the greedy selection unrolled as
    * chained 1-row argmax CTEs (the Lloyd-unroll technique from
    * KMeansVec) — pick t maximizes the same unrounded
    * `0.5·simq − 0.5·greatest(sim to picks 1..t−1)` with vec_id
    * tie-break. */
  val mmrTopkSql: String = {
    val qid = VectorQueries.QueryVecId
    val picks = (2 to MmrK).map { tstep =>
      val priors = (1 until tstep).map(i => s"p$i").toSeq
      val pairJoins = priors.zipWithIndex.map { case (p, i) =>
        s"JOIN pair s$i ON s$i.va = c.vec_id AND s$i.vb = $p.vec_id"
      }.mkString("\n  ")
      val notPicked = priors.map(p => s"c.vec_id <> $p.vec_id").mkString(" AND ")
      val ms =
        if (priors.length == 1) "s0.sim"
        else s"greatest(${priors.indices.map(i => s"s$i.sim").mkString(", ")})"
      s"""p$tstep AS (
         |  SELECT c.vec_id, c.label, c.dist FROM shortlist c
         |  CROSS JOIN ${priors.mkString(" CROSS JOIN ")}
         |  $pairJoins
         |  WHERE $notPicked
         |  ORDER BY $MmrLambda * c.simq - ${1.0 - MmrLambda} * $ms DESC, c.vec_id
         |  LIMIT 1)""".stripMargin
    }
    val out = (1 to MmrK).map(tstep =>
      s"SELECT CAST($tstep AS BIGINT) AS rnk, vec_id, label, dist FROM p$tstep")
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |cand AS (
       |  SELECT e.vec_id, e.label, e.embedding,
       |    ${foldSql("e.embedding", "q.qe")}
       |      / (sqrt(${foldSql("e.embedding", "e.embedding")})
       |         * sqrt(${foldSql("q.qe", "q.qe")})) AS simq
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> $qid),
       |scored AS (
       |  SELECT *, round(1.0 - simq, 6) + 0 AS dist FROM cand
       |  WHERE simq IS NOT NULL AND NOT isnan(simq)),
       |shortlist AS (
       |  SELECT * FROM scored ORDER BY dist, vec_id LIMIT $MmrShortlist),
       |pair AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ${foldSql("a.embedding", "b.embedding")}
       |      / (sqrt(${foldSql("a.embedding", "a.embedding")})
       |         * sqrt(${foldSql("b.embedding", "b.embedding")})) AS sim
       |  FROM shortlist a JOIN shortlist b ON a.vec_id <> b.vec_id),
       |p1 AS (
       |  SELECT vec_id, label, dist FROM shortlist
       |  ORDER BY simq DESC, vec_id LIMIT 1),
       |${picks.mkString(",\n")}
       |$out
       |ORDER BY rnk""".stripMargin
  }

  /** Hard-negative mining: for each anchor vector, the [[NegK]]
    * nearest neighbors whose r6 cosine distance falls in
    * [[[NegDistLo]], [[NegDistHi]]) — close enough to be confusable,
    * far enough to not be a near-duplicate (the batch that makes
    * contrastive retrieval training work). Anchors broadcast as a
    * tiny dim table; per-anchor top-k via the bounded TopKPairs
    * heaps (only k rows per anchor per partition cross the
    * shuffle). */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKAgg
    val e = t(s, dir, "embeddings")
    val anchors = e.filter(col("vec_id").isin(NegAnchors: _*))
      .select(col("vec_id").as("anchor_id"), col("embedding").as("qe"))
    e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(col("dist").isNotNull && !isnan(col("dist")))
      .filter(col("dist") >= NegDistLo && col("dist") < NegDistHi)
      .groupBy(col("anchor_id"))
      .agg(TopKAgg.topkPairs(col("dist"), col("vec_id"), NegK).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("anchor_id"), (col("pos") + 1).cast("long").as("rn"),
        col("s.id").as("vec_id"), col("s.dist").as("dist"))
      .orderBy(col("anchor_id"), col("rn"))
  }

  val hardNegativesSql: String =
    s"""WITH a AS (
       |  SELECT vec_id AS anchor_id, embedding AS qe FROM embeddings
       |  WHERE vec_id IN (${NegAnchors.mkString(", ")})),
       |scored AS (
       |  SELECT a.anchor_id, e.vec_id,
       |    round(1.0 - ${foldSql("e.embedding", "a.qe")}
       |          / (sqrt(${foldSql("e.embedding", "e.embedding")})
       |             * sqrt(${foldSql("a.qe", "a.qe")})), 6) + 0 AS dist
       |  FROM embeddings e CROSS JOIN a
       |  WHERE e.vec_id <> a.anchor_id),
       |banded AS (
       |  SELECT * FROM scored
       |  WHERE dist IS NOT NULL AND NOT isnan(dist)
       |    AND dist >= $NegDistLo AND dist < $NegDistHi)
       |SELECT anchor_id, CAST(rn AS BIGINT) AS rn, vec_id, dist
       |FROM (SELECT anchor_id, vec_id, dist,
       |        row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
       |      FROM banded)
       |WHERE rn <= $NegK
       |ORDER BY anchor_id, rn""".stripMargin

  /** Contrastive-triplet mining — the batch that trains an embedding
    * model: for each anchor, the hardest positive (nearest neighbor
    * sharing the anchor's label) and the hardest negative (nearest
    * neighbor with a DIFFERENT label), plus the margin between them.
    * A negative margin is a violated triplet — exactly the examples
    * a triplet/InfoNCE loss learns from; near-zero margins are the
    * semi-hard band. Anchors are the [[NegAnchors]] probe convention
    * [[hardNegatives]] already uses, so the two miners compose into
    * one training-pair feed.
    *
    * Scale shape: anchors broadcast as a tiny dim table, ONE corpus
    * scan scores all of them, and each (anchor, polarity) argmin is
    * a struct-min aggregate — map-side combined, never a per-anchor
    * sort. The anchor set is the bounded audit-sample convention; a
    * production run hash-samples anchors and keeps the same plan. */
  def contrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val anchors = e.filter(col("vec_id").isin(NegAnchors: _*))
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(col("dist").isNotNull && !isnan(col("dist")))
    val same = col("label") === col("a_label")
    scored.groupBy(col("anchor_id"))
      .agg(
        min(when(same, struct(col("dist").as("dist"), col("vec_id").as("id")))).as("p"),
        min(when(!same, struct(col("dist").as("dist"), col("vec_id").as("id")))).as("n"))
      // an anchor missing either polarity has no triplet — dropped,
      // matching the oracle's inner p⋈n join
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        col("p.id").as("pos_id"), col("p.dist").as("pos_dist"),
        col("n.id").as("neg_id"), col("n.dist").as("neg_dist"),
        r6(col("n.dist") - col("p.dist")).as("margin"))
      .orderBy(col("anchor_id"))
  }

  val contrastiveTripletsSql: String =
    s"""WITH a AS (
       |  SELECT vec_id AS anchor_id, label AS a_label, embedding AS qe
       |  FROM embeddings WHERE vec_id IN (${NegAnchors.mkString(", ")})),
       |scored AS (
       |  SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
       |    round(1.0 - ${foldSql("e.embedding", "a.qe")}
       |          / (sqrt(${foldSql("e.embedding", "e.embedding")})
       |             * sqrt(${foldSql("a.qe", "a.qe")})), 6) + 0 AS dist
       |  FROM embeddings e CROSS JOIN a
       |  WHERE e.vec_id <> a.anchor_id),
       |ok AS (
       |  SELECT * FROM scored WHERE dist IS NOT NULL AND NOT isnan(dist)),
       |p AS (
       |  SELECT anchor_id, vec_id, dist,
       |    row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
       |  FROM ok WHERE label = a_label),
       |n AS (
       |  SELECT anchor_id, vec_id, dist,
       |    row_number() OVER (PARTITION BY anchor_id ORDER BY dist, vec_id) AS rn
       |  FROM ok WHERE label <> a_label)
       |SELECT p.anchor_id, p.vec_id AS pos_id, p.dist AS pos_dist,
       |  n.vec_id AS neg_id, n.dist AS neg_dist,
       |  round(n.dist - p.dist, 6) + 0 AS margin
       |FROM p JOIN n ON n.anchor_id = p.anchor_id
       |WHERE p.rn = 1 AND n.rn = 1
       |ORDER BY p.anchor_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mmr_topk" -> (mmrTopk _),
    "hard_negatives" -> (hardNegatives _),
    "contrastive_triplets" -> (contrastiveTriplets _))

  val oracles: Map[String, String] = Map(
    "mmr_topk" -> mmrTopkSql,
    "hard_negatives" -> hardNegativesSql,
    "contrastive_triplets" -> contrastiveTripletsSql)
}
