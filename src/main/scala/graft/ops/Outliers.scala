package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.{cosineDist, l2norm, r6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding outlier detection — the label-noise / contamination
  * sweep a training-data pipeline runs before fitting on labeled (or
  * pseudo-labeled) embeddings: distance of every vector to its OWN
  * label's centroid, z-scored within the label, worst offenders
  * first. A vector that is far from its assigned group in embedding
  * space is a mislabel, a near-duplicate collision, or genuinely
  * hard — all worth surfacing (the confident-learning recipe, run on
  * geometry instead of classifier probabilities).
  *
  * Scale shape: centroids are one posexplode aggregation (labels ×
  * dim cells through the shuffle, decimal-bridged means — the
  * KMeansVec update machinery), labels·dim doubles to the driver —
  * bounded by the label vocabulary, never the corpus. Scoring is a
  * broadcast join of the tiny centroid table + the fused codegen'd
  * cosine, and the final ranking is a bounded top-20
  * TakeOrderedAndProject. Per-label moment stats ride the same
  * broadcast pattern. Centroid dims truncate to FLOAT before the
  * dot (the k-means §8.5 bridge rule), so DuckDB replays every
  * distance bit-for-bit.
  */
object Outliers extends QueryModule {
  import Tables.t

  val TopN = 20

  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(l2norm(col("embedding")) > 0)
    // per-label centroid: decimal-bridged per-dimension means
    val cent = e.select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(OracleMath.davg(r6(col("v").cast("double"))).as("m"))
      .collect()
    val centDf = cent.groupBy(_.getInt(0)).toSeq
      .map { case (l, rows) =>
        (l, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq) }
      .sortBy(_._1)
      .toDF("label", "cent")
    val scored = e.join(broadcast(centDf), "label")
      .withColumn("dist", r6(cosineDist(col("embedding"), col("cent"))))
      .filter(col("dist").isNotNull && !isnan(col("dist")))
    val stats = scored.groupBy(col("label"))
      .agg(OracleMath.davg(col("dist")).as("m1"),
        OracleMath.davg(r6(col("dist") * col("dist"))).as("m2"))
      .withColumn("sd", sqrt(greatest(col("m2") - col("m1") * col("m1"), lit(0.0))))
      .select(col("label"), col("m1"), col("sd"))
    scored.join(broadcast(stats), "label")
      .withColumn("z", when(col("sd") > 0,
        r6((col("dist") - col("m1")) / col("sd"))).otherwise(lit(0.0)))
      .select(col("vec_id"), col("label"), col("dist"), col("z"))
      .orderBy(col("z").desc, col("vec_id"))
      .limit(TopN)
  }

  val embedOutliersSql: String = {
    val xx = "list_sum(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE vec_id <> ${VectorQueries.QueryVecId}
       |    AND sqrt(${xx.format("embedding")}) > 0),
       |cd AS (
       |  SELECT label, i AS d,
       |    CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE), 6) + 0 AS DECIMAL(38,6)))
       |         AS DOUBLE) / COUNT(*) AS m
       |  FROM e, UNNEST(range(1, len(embedding) + 1)) AS u(i)
       |  GROUP BY label, i),
       |cent AS (SELECT label, list(CAST(m AS FLOAT) ORDER BY d) AS cent
       |         FROM cd GROUP BY label),
       |scored0 AS (
       |  SELECT e.vec_id, e.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding) + 1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(cent[i] AS DOUBLE)))
       |          / (sqrt(${xx.format("e.embedding")})
       |             * sqrt(${xx.format("cent")})), 6) + 0 AS dist
       |  FROM e JOIN cent USING (label)),
       |scored AS (SELECT * FROM scored0 WHERE dist IS NOT NULL AND NOT isnan(dist)),
       |st AS (
       |  SELECT label,
       |    CAST(SUM(CAST(dist AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m1,
       |    CAST(SUM(CAST(round(dist * dist, 6) + 0 AS DECIMAL(38,6))) AS DOUBLE)
       |      / COUNT(*) AS m2
       |  FROM scored GROUP BY label),
       |stz AS (SELECT label, m1, sqrt(greatest(m2 - m1 * m1, 0.0)) AS sd FROM st)
       |SELECT vec_id, label, dist,
       |  CASE WHEN sd > 0 THEN round((dist - m1) / sd, 6) + 0 ELSE 0.0 END AS z
       |FROM scored JOIN stz USING (label)
       |ORDER BY z DESC, vec_id
       |LIMIT $TopN""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_outliers" -> (embedOutliers _))

  val oracles: Map[String, String] = Map(
    "embed_outliers" -> embedOutliersSql)
}
