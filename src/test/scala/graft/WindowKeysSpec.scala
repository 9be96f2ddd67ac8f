package graft

import graft.functions.WindowKeys
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The constant-but-not-foldable bounded-window key: survives the
  * optimizer, and NULL inputs share the single partition. */
class WindowKeysSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("null keys share the single window partition (no duplicate rank 1s)") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("b"), None).toDF("v")
    val w = Window.partitionBy(WindowKeys.boundedRankKey(col("v")))
      .orderBy(col("v").asc_nulls_first)
    val ranks = df.withColumn("rn", row_number().over(w))
      .collect().map(_.getInt(1)).sorted.toSeq
    assert(ranks == Seq(1, 2, 3, 4), s"nulls split the partition: $ranks")
  }

  test("key survives optimization: window keeps a partition spec") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    val w = Window.partitionBy(WindowKeys.boundedRankKey(col("x"))).orderBy(col("x"))
    val plan = df.withColumn("rn", row_number().over(w))
      .queryExecution.optimizedPlan.toString
    // EliminateWindowPartitions would leave "windowspecdefinition(" with
    // no partition expressions before the order spec
    assert(!plan.contains("windowspecdefinition(x"),
      s"partition key was folded away:\n$plan")
    // TextOps.vocabHead's shape: a NON-nullable string from
    // explode(split(..)), grouped, ranked over the post-limit head
    val head = Seq("a b a", "c a b").toDF("text")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(2)
    val headPlan = head.withColumn("rnk", row_number().over(
        Window.partitionBy(WindowKeys.boundedRankKey(col("word")))
          .orderBy(col("cnt").desc, col("word"))))
      .queryExecution.optimizedPlan
    val specs = headPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(specs.nonEmpty && specs.forall(_.nonEmpty),
      s"partition key was folded away for a non-nullable input:\n$headPlan")
    // TextOps.heapsFit's shape: a NON-nullable integer column over the
    // literal range grid, summed cumulatively
    val gridPlan = spark.range(0, 8).select(col("id").as("b"))
      .select(col("b"), sum(col("b")).over(
        Window.partitionBy(WindowKeys.boundedRankKey(col("b"))).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
      .queryExecution.optimizedPlan
    val gridSpecs = gridPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(gridSpecs.nonEmpty && gridSpecs.forall(_.nonEmpty),
      s"partition key was folded away for the literal grid:\n$gridPlan")
  }
}
