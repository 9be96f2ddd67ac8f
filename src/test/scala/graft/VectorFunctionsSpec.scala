package graft

import graft.functions.VectorFunctions._
import graft.query.Knn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("cosine similarity matches hand-computed value") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(cosineSim(col("a"), col("b"))).head.getDouble(0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - expected) < 1e-12)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val got = df.select(cosineSim(col("a"), col("b")).as("s")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
  }

  test("zero vector → NULL sim under ANSI mode (excluded by Knn per quirk Q4 fix)") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val row = df.select(cosineSim(col("a"), col("b"))).head
    assert(row.isNullAt(0))
  }

  test("knn topK: exact ranking with zero-vector exclusion") {
    val index = Seq(
      ("a", Array(1.0f, 0.0f)),
      ("b", Array(0.9f, 0.1f)),
      ("c", Array(0.0f, 1.0f)),
      ("z", Array(0.0f, 0.0f))).toDF("id", "embedding")
    val hits = Knn.topK(index, typedLit(Array(1.0f, 0.0f)), k = 3).collect()
    assert(hits.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // zero vector never appears even with k > matches
    assert(!hits.map(_.getString(0)).contains("z"))
  }

  test("knn topK(k=n) ordering equals full sort by (dist, id)") {
    val rnd = new scala.util.Random(1)
    val rows = (0 until 50).map(i => (f"id$i%03d", Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val index = rows.toDF("id", "embedding")
    val q = typedLit(Array.fill(8)(0.25f))
    val viaTopK = Knn.topK(index, q, k = 50).collect().map(_.getString(0)).toSeq
    val viaSort = Knn.scored(index, q)
      .orderBy(col("dist"), col("id")).collect().map(_.getString(0)).toSeq
    assert(viaTopK == viaSort)
  }

  test("knn plans as TakeOrderedAndProject (no global sort)") {
    // parquet-backed (a local relation would constant-fold away)
    val index = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumnRenamed("vec_id", "id")
    val q = typedLit(Array.fill(64)(0.1f))
    val plan = Knn.topK(index, q, k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"unexpected plan: $plan")
  }

  test("native FloatDotProduct is bit-identical to the HOF fold (oracle parity)") {
    val rnd = new scala.util.Random(9)
    val rows = (0 until 200).map(_ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      dot(col("a"), col("b")).as("native"),
      dotHof(col("a"), col("b")).as("hof")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("fused cosine distance is bit-identical to the composed form") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 200).map(_ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))) :+
      ((Array.fill(64)(0.0f), Array.fill(64)(0.5f))) // zero-norm → both NULL
    val df = rows.toDF("a", "b")
    val got = df.select(
      cosineDist(col("a"), col("b")).as("fused"),
      cosineDistHof(col("a"), col("b")).as("composed")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native dot participates in whole-stage codegen") {
    val index = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = index
      .select(dot(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefix marks a WholeStageCodegen stage in the compact plan
    assert(plan.contains("*(1) Project") && plan.contains("float_dot"), s"plan: $plan")
  }

  test("sql registration: float_dot callable from SQL") {
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
    val got = spark.sql(
      "SELECT float_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), " +
        "CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d").head.getDouble(0)
    assert(got == 11.0)
    val cos = spark.sql(
      "SELECT float_cosine_distance(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), " +
        "CAST(array(0.0, 1.0) AS ARRAY<FLOAT>)) AS d").head.getDouble(0)
    assert(cos == 1.0, "orthogonal vectors: cosine distance 1")
  }

  test("assembleContext formats and orders hits") {
    val hits = Seq(
      (0.2, "f1:1", "f1", 1, "worse chunk"),
      (0.1, "f0:0", "f0", 0, "best chunk"))
      .toDF("dist", "id", "source", "chunk_index", "text")
    val ctx = Knn.assembleContext(hits).head.getString(0)
    assert(ctx ==
      "File: f0 (chunk 0)\nbest chunk\n\nFile: f1 (chunk 1)\nworse chunk\n\n")
  }
}
