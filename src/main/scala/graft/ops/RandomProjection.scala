package graft.ops

import graft.functions.CrossHash
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection (Achlioptas 2003 sign
  * matrix): y_c = (1/√k) · Σ_d x_d · s_{c,d} with s ∈ {−1, +1} —
  * the data-independent dimensionality reduction beside the
  * data-dependent PCA family ([[Pca]]): no fit pass at all, so it is
  * the transform of choice when the corpus is too large (or too
  * fresh) to fit, and the JL lemma bounds pairwise-distance
  * distortion at 1 ± ε with k = O(log n / ε²) REGARDLESS of the
  * input dimension or data distribution.
  *
  * Shape at 100 TB: the sign matrix is [[ProjK]]×[[Pca.Dim]] values
  * derived from the cross-engine md5 hash — parameter-bounded
  * closure state (1 KB), so the projection is MAP-ONLY: no fit, no
  * join, no shuffle, and it streams (frozen-model scoring, the
  * [[Dsir]]/[[Bloom]] shape). Because the matrix is hash-derived
  * rather than RNG-drawn, every engine regenerates it identically —
  * the projection (and its distortion profile) replays bit-exactly
  * in DuckDB.
  */
object RandomProjection extends QueryModule {
  import Tables.t

  /** Target dimension. 16 keeps √k = 4 exact in binary, so the
    * final scaling divides exactly in both engines. */
  val ProjK = 16

  /** s_{c,d} = +1 iff md5Hash60("jl:c:d") is even — one definition
    * for the JVM closure and the oracle SQL. */
  private def signOf(c: Int, d: Int): Double =
    if (CrossHash.md5Hash60(s"jl:$c:$d") % 2 == 0) 1.0 else -1.0

  private lazy val signs: Array[Array[Double]] =
    Array.tabulate(ProjK, Pca.Dim)(signOf)

  /** All ProjK components of one embedding, ascending-d sequential
    * fold per component (the cosine-kernel convention). */
  private[graft] def projectVec(emb: Seq[Float]): Array[Double] = {
    val out = new Array[Double](ProjK)
    var c = 0
    while (c < ProjK) {
      val row = signs(c)
      var acc = 0.0
      var d = 0
      while (d < row.length && d < emb.length) {
        acc += emb(d).toDouble * row(d); d += 1
      }
      out(c) = acc / 4.0
      c += 1
    }
    out
  }

  /** Long-form projected coordinates of the first 10 vectors:
    * (vec_id, c, y). The projection itself is corpus-wide and
    * map-only; the vec_id < 10 cut is only the bounded RESULT the
    * gate compares. */
  def jlProject(s: SparkSession, dir: String): DataFrame = {
    val proj = udf { (emb: Seq[Float]) => projectVec(emb) }
    t(s, dir, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), posexplode(proj(col("embedding"))).as(Seq("c", "y")))
      .select(col("vec_id"), col("c").cast("long").as("c"), r6(col("y")).as("y"))
      .orderBy(col("vec_id"), col("c"))
  }

  private def signSql(c: String, d: String): String =
    s"(CASE WHEN ${CrossHash.sqlHash60(s"'jl:' || CAST($c AS VARCHAR) || ':' || CAST($d AS VARCHAR)")} % 2 = 0 " +
      "THEN 1.0 ELSE -1.0 END)"

  val jlProjectSql: String =
    s"""SELECT vec_id, CAST(c AS BIGINT) AS c,
       |  round(list_sum([CAST(embedding[d+1] AS DOUBLE) * ${signSql("c", "d")}
       |                  FOR d IN range(0, ${Pca.Dim})]) / 4.0, 6) + 0 AS y
       |FROM embeddings, range(0, $ProjK) t(c)
       |WHERE vec_id < 10
       |ORDER BY vec_id, c""".stripMargin

  /** The JL guarantee, measured: squared-distance ratio
    * ‖y_a−y_b‖²/‖x_a−x_b‖² for every pair among the first 10
    * vectors — concentrated around 1 with spread ~1/√k. (At scale
    * this audit runs on a hash-sampled pair subset; the transform
    * under audit is the same map-only pass.) */
  def jlDistortion(s: SparkSession, dir: String): DataFrame = {
    val proj = udf { (emb: Seq[Float]) => projectVec(emb) }
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), proj(col("embedding")).as("p"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("xa"), col("p").as("pa"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("xb"), col("p").as("pb"))
    val d2 = udf { (x: Seq[Float], y: Seq[Float]) =>
      var acc = 0.0
      var i = 0
      while (i < x.length && i < y.length) {
        val t = x(i).toDouble - y(i).toDouble; acc += t * t; i += 1
      }
      acc
    }
    val p2 = udf { (x: Seq[Double], y: Seq[Double]) =>
      var acc = 0.0
      var i = 0
      while (i < x.length && i < y.length) {
        val t = x(i) - y(i); acc += t * t; i += 1
      }
      acc
    }
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .withColumn("orig2", d2(col("xa"), col("xb")))
      .withColumn("proj2", p2(col("pa"), col("pb")))
      .filter(col("orig2") > 0)
      .select(col("vec_a"), col("vec_b"),
        r6(col("proj2") / col("orig2")).as("ratio"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val jlDistortionSql: String =
    s"""WITH p AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    [list_sum([CAST(embedding[d+1] AS DOUBLE) * ${signSql("c", "d")}
       |               FOR d IN range(0, ${Pca.Dim})]) / 4.0
       |     FOR c IN range(0, $ProjK)] AS pv
       |  FROM embeddings WHERE vec_id < 10)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  round(
       |    list_sum([(a.pv[c+1] - b.pv[c+1]) * (a.pv[c+1] - b.pv[c+1])
       |              FOR c IN range(0, $ProjK)]) /
       |    list_sum([(CAST(a.embedding[d+1] AS DOUBLE) - CAST(b.embedding[d+1] AS DOUBLE)) *
       |              (CAST(a.embedding[d+1] AS DOUBLE) - CAST(b.embedding[d+1] AS DOUBLE))
       |              FOR d IN range(0, ${Pca.Dim})]), 6) + 0 AS ratio
       |FROM p a JOIN p b ON a.vec_id < b.vec_id
       |WHERE list_sum([(CAST(a.embedding[d+1] AS DOUBLE) - CAST(b.embedding[d+1] AS DOUBLE)) *
       |               (CAST(a.embedding[d+1] AS DOUBLE) - CAST(b.embedding[d+1] AS DOUBLE))
       |               FOR d IN range(0, ${Pca.Dim})]) > 0
       |ORDER BY vec_a, vec_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jl_project" -> (jlProject _),
    "jl_distortion" -> (jlDistortion _))

  val oracles: Map[String, String] = Map(
    "jl_project" -> jlProjectSql,
    "jl_distortion" -> jlDistortionSql)
}
