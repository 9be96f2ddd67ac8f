package graft.ops

import graft.functions.VectorFunctions.{cosineDist, r6}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Greedy k-center coreset selection (farthest-point sampling) —
  * Gonzalez's 2-approximation for the k-center objective, the
  * diversity-based data-selection recipe of Sener & Savarese (ICLR
  * 2018, "Active Learning for CNNs: A Core-Set Approach"): pick the
  * point farthest (cosine distance) from everything selected so far,
  * k times. The selected set covers the embedding space with the
  * smallest max-distance radius any greedy method can certify — the
  * geometric dual of dedup (dedup removes the closest pairs; a
  * coreset KEEPS the mutually farthest rows).
  *
  * Scale shape — the Lloyd's-on-Spark convention ([[KMeansVec]],
  * [[Bpe]]): per round, ONE map-only corpus pass scores every row's
  * min distance to the ≤[[K]] selected centers riding the closure
  * (K·dim doubles), and the argmax is a 1-row
  * TakeOrderedAndProject collect. K rounds total — no pairwise
  * materialization, no shuffle beyond the bounded top-1, driver
  * state bounded by K·dim at any corpus size.
  *
  * Determinism: distances are r6-rounded before the argmax (§8.5
  * bridge — the comparison key is bit-identical in DuckDB), ties
  * break on vec_id, the seed is the lowest vec_id (FPS's arbitrary
  * seed made deterministic), zero-norm rows are excluded up front so
  * NULL never reaches `least`. The oracle unrolls the K rounds as
  * materialized CTEs: mₖ = least(mₖ₋₁, dist to cₖ), cₖ₊₁ = argmax.
  */
object Coreset extends QueryModule {
  import Tables.t

  /** Selected-set size. Bounded and small: the greedy loop is
    * inherently sequential in k (each pick conditions the next), so
    * k IS the round count — production coreset sweeps run k in the
    * thousands with the same per-round plan. */
  val K = 5

  private val outSchema = StructType(Seq(
    StructField("rnk", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType),
    StructField("mind", DoubleType, nullable = true)))

  private val posNorm =
    "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (a, v) -> a + v) > 0"

  /** The K greedy picks: selection rank, vec_id, label, and `mind` —
    * the pick's distance to the nearest previously selected center
    * at pick time (NULL for the seed). The mind sequence is the
    * k-center radius trace: non-increasing, and its last value is
    * the certified covering radius of the selected set. */
  def kcenterSelect(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(expr(posNorm))
      .select(col("vec_id"), col("label"), col("embedding"))

    val seed = e.orderBy(col("vec_id")).limit(1).collect()
    if (seed.isEmpty)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], outSchema)

    // (vec_id, label, mind-at-pick, embedding); driver state ≤ K·dim
    // label is nullable in the fixture contract — read it boxed so a
    // NULL label flows through to the (nullable) output column
    def labelOf(r: Row, i: Int): Integer =
      if (r.isNullAt(i)) null else Integer.valueOf(r.getInt(i))
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Integer, Option[Double], Array[Float])](
      (seed(0).getLong(0), labelOf(seed(0), 1), None,
        seed(0).getSeq[Float](2).toArray))

    while (picked.length < K) {
      val minDist = picked.map { case (_, _, _, c) =>
        r6(cosineDist(col("embedding"), typedLit(c.toSeq)))
      }.reduceLeft(least(_, _))
      val next = e
        .filter(!col("vec_id").isin(picked.map(_._1).toSeq: _*))
        .withColumn("mind", minDist)
        .orderBy(col("mind").desc, col("vec_id"))
        .limit(1)
        .collect()
      if (next.isEmpty) {
        // fewer than K usable rows — emit what was selected
        return finish(s, picked.toSeq)
      }
      picked += ((next(0).getLong(0), labelOf(next(0), 1),
        Some(next(0).getDouble(3)), next(0).getSeq[Float](2).toArray))
    }
    finish(s, picked.toSeq)
  }

  private def finish(
      s: SparkSession,
      picked: Seq[(Long, Integer, Option[Double], Array[Float])]): DataFrame = {
    val rows = picked.zipWithIndex.map { case ((id, label, mind, _), i) =>
      Row((i + 1).toLong, id, label, mind.map(Double.box).orNull)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), outSchema)
      .orderBy(col("rnk"))
  }

  /** DuckDB cosine distance between row alias `$a` and 1-row center
    * CTE alias `$c`, both carrying a precomputed squared norm `xx` —
    * the same `1 − dot/(√xxₐ·√xx_c)` IEEE op order as the engine's
    * fused FloatCosineDistance (corpus side first). */
  private def distSql(a: String, c: String): String =
    s"""round(1.0 - list_sum(list_transform(range(1, len($a.embedding)+1),
       |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($c.embedding[i] AS DOUBLE)))
       |    / (sqrt($a.xx) * sqrt($c.xx)), 6) + 0""".stripMargin

  val kcenterSelectSql: String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, label, embedding,
         |    list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS xx
         |  FROM embeddings
         |  WHERE vec_id <> ${VectorQueries.QueryVecId}
         |    AND list_sum(list_transform(embedding,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
         |c1 AS MATERIALIZED (
         |  SELECT vec_id, label, embedding, xx FROM e ORDER BY vec_id LIMIT 1),
         |m1 AS MATERIALIZED (
         |  SELECT e.vec_id, e.label, e.embedding, e.xx,
         |    ${distSql("e", "c")} AS mind
         |  FROM e, c1 c)""".stripMargin
    var r = 2
    while (r <= K) {
      val prevM = s"m${r - 1}"
      val excl = (1 until r).map(i => s"SELECT vec_id FROM c$i").mkString(" UNION ALL ")
      sb ++=
        s""",
           |c$r AS MATERIALIZED (
           |  SELECT vec_id, label, embedding, xx, mind FROM $prevM
           |  WHERE vec_id NOT IN ($excl)
           |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
      if (r < K) {
        sb ++=
          s""",
             |m$r AS MATERIALIZED (
             |  SELECT m.vec_id, m.label, m.embedding, m.xx,
             |    least(m.mind, ${distSql("m", "c")}) AS mind
             |  FROM $prevM m, c$r c)""".stripMargin
      }
      r += 1
    }
    val arms = (1 to K).map { i =>
      val mind = if (i == 1) "CAST(NULL AS DOUBLE)" else "mind"
      s"SELECT CAST($i AS BIGINT) AS rnk, vec_id, label, $mind AS mind FROM c$i"
    }
    sb ++= "\n" + arms.mkString("\nUNION ALL\n") + "\nORDER BY rnk"
    sb.result()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kcenter_select" -> (kcenterSelect _))

  val oracles: Map[String, String] = Map(
    "kcenter_select" -> kcenterSelectSql)
}
