package graft

import graft.ops.KMeansVec
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.01"

  test("assignments are deterministic and partition-order independent") {
    val a1 = KMeansVec.assign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = KMeansVec.assign(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2)
    assert(a1.size == 500)
    assert(a1.values.toSet.subsetOf((0L until KMeansVec.K.toLong).toSet))
  }

  test("clusters are non-degenerate: several populated, all vectors covered") {
    val prof = KMeansVec.clusterProfile(spark, sf).collect()
    val total = prof.map(_.getAs[Long]("n")).sum
    assert(total == 500)
    assert(prof.length >= 3, s"collapsed to ${prof.length} clusters")
  }

  test("kmeans_clusters on fewer vectors than K: every vector covered, cluster ids from the shorter init") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 5 < K = 10: the prefix init has 5 centroids, and every Lloyd
    // update must size itself from it
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-small").toString
    (1L to 5L).map(id => (id, Array.tabulate(4)(d => (id * (d + 1) % 7).toFloat).toSeq, 0))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val prof = KMeansVec.clusterProfile(spark, dir).collect()
    assert(prof.map(_.getAs[Long]("n")).sum == 5, prof.toSeq)
    assert(prof.forall(r => r.getAs[Long]("cluster") < 5), prof.toSeq)
  }

  test("materialized ivf index: probe search prunes partitions, matches inline ivf") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    KMeansVec.writeIvfIndex(spark, sf, idx, iters = 1)
    val q = graft.ops.Tables.t(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") ===
        graft.ops.VectorQueries.QueryVecId)
      .head().getSeq[Float](1).toArray
    val indexed = KMeansVec.ivfSearchIndexed(spark, idx, q)
    // physical proof of the scale claim: cluster IN (...) resolves
    // as PartitionFilters at the scan, not a post-scan Filter
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"probe must prune partitions: $plan")
    // same fit, same probes, sentinel excluded at write → the indexed
    // search answers EXACTLY like the inline query
    val inline = KMeansVec.ivfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val got = indexed.collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got === inline, "indexed probe search must equal inline IVF")
  }

  test("ivf batch search: 3 queries, deterministic, per-rank dominated by exact batch") {
    val b1 = KMeansVec.ivfBatchTopK(spark, sf).collect()
    val b2 = KMeansVec.ivfBatchTopK(spark, sf).collect()
    assert(b1.map(_.toSeq).toSeq == b2.map(_.toSeq).toSeq, "deterministic")
    assert(b1.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    val exact = graft.ops.VectorQueries.knnBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    b1.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ds = rows.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(ds == ds.sorted, s"query $q not ascending: $ds")
      // probing a subset can only lose candidates: per rank, the IVF
      // distance is >= the exact batch distance
      ds.zipWithIndex.foreach { case (d, i) =>
        exact.get((q, i + 1L)).foreach(ed =>
          assert(d >= ed - 1e-12, s"query $q rank ${i + 1}: ivf $d < exact $ed"))
      }
    }
  }

  test("ivf batch search: above-cap un-hinted regime returns exactly the hinted rows") {
    // broadcastCap = 0 drops the probe-side hint (the plan a
    // million-query batch runs, AQE choosing the join); only the join
    // strategy may change, never the rows
    val hinted = KMeansVec.ivfBatchTopK(spark, sf).collect().map(_.toSeq).toSeq
    val unhinted = KMeansVec.ivfBatchTopK(spark, sf, broadcastCap = 0)
      .collect().map(_.toSeq).toSeq
    assert(unhinted == hinted, "gated regimes diverged")
  }

  test("ivf probe search: k sorted rows, deterministic, rank-dominated by exact knn") {
    val ivf1 = KMeansVec.ivfTopK(spark, sf).collect()
    val ivf2 = KMeansVec.ivfTopK(spark, sf).collect()
    assert(ivf1.map(_.toSeq).toSeq === ivf2.map(_.toSeq).toSeq, "deterministic")
    assert(ivf1.length === 5)
    val dists = ivf1.map(_.getAs[Double]("dist")).toSeq
    assert(dists === dists.sorted, "ascending distance")
    // probing a subset can only lose candidates: per rank, the IVF
    // distance is >= the exact global top-k distance
    val exact = graft.ops.VectorQueries.knnTopk(spark, sf).collect()
      .map(_.getAs[Double]("dist")).toSeq
    dists.zip(exact).foreach { case (iv, ex) =>
      assert(iv >= ex - 1e-9, s"ivf dist $iv beats exact $ex — impossible")
    }
  }

  test("filtered ivf search: every hit satisfies the predicate, probe-consistent") {
    val rows = KMeansVec.ivfFilteredTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.length <= 5)
    rows.foreach(r => assert(KMeansVec.FilterLabels.contains(r.getAs[Int]("label")),
      s"hit outside the metadata filter: $r"))
    val dists = rows.map(_.getAs[Double]("dist")).toSeq
    assert(dists === dists.sorted, "ascending distance")
    // the filtered search over ALL cells (nProbe = k) must equal the
    // exact filtered kNN — the filter composes, it doesn't approximate
    val full = KMeansVec.ivfFilteredTopK(spark, sf, k = 5, nProbe = KMeansVec.K)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val exactFiltered = graft.ops.VectorQueries.knnTopkK(spark, sf, 100).collect()
      .filter(r => KMeansVec.FilterLabels.contains(r.getAs[Int]("label")))
      .take(5).map(_.getAs[Long]("vec_id")).toSeq
    assert(full === exactFiltered,
      "all-cells filtered search must reduce to exact filtered kNN")
  }

  test("cluster_sample equalizes cell densities at the smallest cell's rate") {
    val rows = graft.ops.KMeansVec.clusterSample(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(1))
    val rate = rows.map(_.getDouble(2))
    val kept = rows.map(_.getLong(3))
    val minN = n.min
    // the smallest cell keeps everything (rate 1.0, kept = n)
    val smallest = rows(n.indexOf(minN))
    assert(smallest.getDouble(2) == 1.0)
    assert(smallest.getLong(3) == minN)
    rows.indices.foreach { i =>
      assert(kept(i) <= n(i))
      assert(kept(i) > 0, s"cell ${rows(i).getLong(0)} sampled to zero")
      // hash-threshold expectation is minN per cell; allow sampling
      // variance but require the equalization to bite
      assert(kept(i) <= minN * 2, s"cell kept ${kept(i)} far above target $minN")
      assert(rate(i) <= 1.0 && rate(i) > 0.0)
    }
    // balancing: kept spread is much tighter than raw spread
    assert(kept.max - kept.min <= (n.max - n.min) || n.max == n.min)
  }

  test("cluster_topics: 3 terms per cluster, idf never negative, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.ops.KMeansVec.clusterTopics(spark, dir).collect()
    val byCluster = rows.groupBy(_.getLong(0))
    assert(byCluster.size == graft.ops.KMeansVec.K,
      s"expected every cluster labeled, got ${byCluster.keySet}")
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_.getLong(1)).toSeq.sorted == Seq(1L, 2L, 3L), s"cluster $c ranks")
      assert(rs.map(_.getString(2)).distinct.length == 3, s"cluster $c repeated term")
      rs.foreach(r => assert(r.getDouble(3) >= 0.0, s"negative tf-idf in cluster $c"))
    }
    val again = graft.ops.KMeansVec.clusterTopics(spark, dir).collect()
    assert(rows.toSeq == again.toSeq)
  }

  // --- k-means|| initialization ------------------------------------------

  private def initCost(centers: Array[Array[Double]],
      points: Array[Array[Float]]): Double =
    points.map { x =>
      centers.map { c =>
        var s = 0.0; var i = 0
        val n = math.min(x.length, c.length)
        while (i < n) { val d = x(i).toDouble - c(i); s += d * d; i += 1 }
        s
      }.min
    }.sum

  test("kmeans_par_init: k spread centers, deterministic, beats the naive prefix seed") {
    val rows = KMeansVec.kmeansParInit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == KMeansVec.K)
    assert(rows.map(_._1).distinct.length == KMeansVec.K, "center ids distinct")
    rows.foreach { case (_, rnd, w) =>
      assert(rnd >= 0 && rnd <= KMeansVec.ParRounds)
      assert(w >= 0)
    }
    // deterministic across runs (hash coins, no RNG state)
    val again = KMeansVec.kmeansParInit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)

    // the seeding's point: lower within-cluster cost than the naive
    // lowest-k-ids prefix seed the fixture-deterministic fit uses
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val points = e.values.toArray
    val parCenters = rows.map(r => e(r._1).map(_.toDouble))
    val naiveCenters = e.toSeq.sortBy(_._1).take(KMeansVec.K)
      .map(_._2.map(_.toDouble)).toArray
    val (cPar, cNaive) = (initCost(parCenters, points), initCost(naiveCenters, points))
    info(s"kmeans|| cost $cPar vs naive prefix $cNaive")
    assert(cPar <= cNaive, s"oversampled+weighted seed should not lose: $cPar vs $cNaive")
  }

  test("index_drift_report: a planted shifted batch is flagged for retrain; in-distribution is not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // batch_1 (vec_id % 4 = 3, odd vec_id div 4) is shifted +10 in
    // every dimension — far outside anything the frozen quantizer
    // (trained on the train slice) covers; batch_0 stays in
    // distribution. The report must flag EXACTLY the shifted batch.
    val dim = 4
    val rows = (1L to 200L).map { id =>
      val shifted = id % 4 == 3 && (id / 4) % 2 == 1
      val base = Array.tabulate(dim)(i => (((id * 7 + i) % 5).toFloat) * 0.1f)
      val emb = if (shifted) base.map(_ + 10.0f) else base
      (id, emb.toSeq, (id % 3).toInt)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift").toString
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = KMeansVec.indexDriftReport(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("err_ratio"), r.getAs[Int]("retrain"))).toMap
    assert(got.keySet == Set("train", "batch_0", "batch_1"))
    assert(got("train")._2 == 0 && got("train")._1 == 1.0)
    assert(got("batch_0")._2 == 0,
      s"in-distribution batch must not be flagged: ${got("batch_0")}")
    assert(got("batch_1")._2 == 1 &&
      got("batch_1")._1 > KMeansVec.DriftRetrainRatio,
      s"shifted batch must be flagged: ${got("batch_1")}")
  }

  test("semdedup_eps_sweep: grid total, monotone with eps, planted trio drops two of twelve") {
    import graft.ops.KMeansVec
    val got = KMeansVec.semdedupEpsSweep(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == KMeansVec.SemDedupEpsGrid, "grid totality, ordered")
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3 && b._4 >= a._4,
        s"loosening eps must shrink pairs/drops and raise retention: $a -> $b")
    }
    got.foreach { case (_, np, nd, ret) =>
      assert(nd <= np && ret >= 0 && ret <= 1)
    }

    // planted: ids 1-3 share one one-hot vector (sim 1.0, same cell by
    // the lowest-cluster tiebreak), 9 orthogonal fillers -> exactly 3
    // pairs at every eps, survivorship drops ids 2 and 3, retention
    // 1 - 2/12
    import org.apache.spark.sql.functions.col
    val dim = 12
    val rows = (1 to 12).map { id =>
      val hot = if (id <= 3) 0 else id - 1 // ids 1-3 collapse onto dim 0
      (id.toLong, Array.tabulate(dim)(d => if (d == hot) 1.0f else 0.0f).toSeq, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-eps").toString
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = KMeansVec.semdedupEpsSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    planted.foreach { case (eps, np, nd, ret) =>
      assert(np == 3 && nd == 2 && ret == 0.833333,
        s"eps=$eps: expected (3 pairs, 2 dropped, 0.833333), got ($np, $nd, $ret)")
    }
  }

  test("semantic_decontam_cells: a planted benchmark copy flags within its cell; orthogonal vectors do not") {
    import graft.ops.KMeansVec
    // fixture invariants: the relation is TOTAL (one row per corpus
    // vector, so an all-quiet corpus still returns rows), corpus-side
    // ids only, matches reference benchmark ids only, and flagged ⇔
    // best sim at or above the operating point
    val real = KMeansVec.semanticDecontaminateCells(spark, sf).collect()
    assert(real.nonEmpty, "totality: every corpus vector reports a row")
    real.foreach { r =>
      assert(r.getLong(0) % 50 != 0, s"corpus ids only: $r")
      if (!r.isNullAt(2))
        assert(r.getLong(2) % 50 == 0, s"benchmark ids only as matches: $r")
      val flaggedExpected =
        !r.isNullAt(3) && r.getDouble(3) >= KMeansVec.SemDecontamCellEps
      assert((r.getInt(4) == 1) == flaggedExpected, s"flag/sim mismatch: $r")
    }
    // planted: benchmark vec 50 = e0, benchmark vec 100 = e1, corpus
    // vec 1 = an exact copy of e0 (same cell by construction: identical
    // vectors assign identically); fillers orthogonal -> only (1, 50)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dim = 12
    val rows = (Seq((50L, 0), (100L, 1), (1L, 0)) ++ (2 to 11).map(i => (i.toLong, i)))
      .map { case (id, hot) =>
        (id, Array.tabulate(dim)(d => if (d == hot) 1.0f else 0f).toSeq, 0) }
    val dir = java.nio.file.Files.createTempDirectory("graft-semdc-cells").toString
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val all = KMeansVec.semanticDecontaminateCells(spark, dir).collect()
    assert(all.length == 11, s"one total row per corpus vector: ${all.length}")
    val got = all.filter(_.getInt(4) == 1)
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 50L, 1.0)), s"exactly the planted copy: ${got.toSeq}")
  }

  test("bitext_mine: margin deflates a hub — the true pair wins despite a LOWER raw cosine") {
    import graft.ops.KMeansVec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // fixture invariants: total over side-X, matches are side-Y only,
    // mined ⇔ margin at or above the threshold
    val real = KMeansVec.bitextMine(spark, sf).collect()
    assert(real.nonEmpty, "totality over the label-0 side")
    real.foreach { r =>
      val minedExpected =
        !r.isNullAt(4) && r.getDouble(4) >= KMeansVec.BitextMarginThreshold
      assert((r.getInt(5) == 1) == minedExpected, s"mined/margin mismatch: $r")
    }
    // planted: ids 0..9 are orthogonal centroid seeds (label 2 — on
    // neither side); all actors carry 0.3*d0 so they co-locate in
    // cell 0. y_h is a HUB (close to x AND the three fillers);
    // y_t is x's true pair (close to x only). Raw cosine prefers
    // y_h; the ratio margin divides by y_h's high average top-k
    // similarity and flips the ranking to y_t.
    val dim = 16
    def v(pairs: (Int, Double)*) =
      Array.tabulate(dim)(d => pairs.collectFirst { case (`d`, x) => x.toFloat }.getOrElse(0f)).toSeq
    val seeds = (0 until 10).map(i => (i.toLong, v(i -> 1.0), 2))
    val x  = (10L, v(0 -> 0.3, 10 -> 1.0), 0)
    val fs = Seq(11L, 12L, 13L).zipWithIndex.map { case (id, i) =>
      (id, v(0 -> 0.3, 12 -> 1.0, (13 + i) -> 0.05), 0) }
    val yt = (14L, v(0 -> 0.3, 10 -> 0.6, 11 -> 0.8), 1)
    val yh = (15L, v(0 -> 0.3, 10 -> 0.7, 12 -> 0.72), 1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (p, q) => p.toDouble * q }.sum
      d / (math.sqrt(a.map(p => p.toDouble * p).sum) * math.sqrt(b.map(p => p.toDouble * p).sum))
    }
    assert(cos(x._2, yh._2) > cos(x._2, yt._2) + 0.05,
      "premise: the hub must beat the true pair on RAW cosine")
    val dir = java.nio.file.Files.createTempDirectory("graft-bitext").toString
    (seeds ++ Seq(x) ++ fs ++ Seq(yt, yh)).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = KMeansVec.bitextMine(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(4), r.getInt(5))).toMap
    assert(got.contains(10L), s"x must report a row: $got")
    val (matchId, margin, mined) = got(10L)
    assert(matchId == 14L, s"margin must pick the true pair over the hub: $got")
    assert(margin >= KMeansVec.BitextMarginThreshold && mined == 1,
      s"true pair clears the mining threshold: $got")
  }

  test("proto_prune drops exactly the most-prototypical 3/10 of every cell, deterministically") {
    def run() = KMeansVec.protoPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val got = run()
    assert(got.length == 500, "totality: one row per embedding")
    assert(got.toSeq == run().toSeq, "deterministic across invocations")
    got.groupBy(_._2).foreach { case (cl, rows) =>
      val n = rows.length
      val dropN = (KMeansVec.ProtoDropNum * n / KMeansVec.ProtoDropDen).toInt
      assert(rows.count(_._4 == 0) == dropN,
        s"cluster $cl: ${rows.count(_._4 == 0)} dropped, want floor(3·$n/10) = $dropN")
      // the cut follows the (proto desc, vec_id) order exactly: sort
      // and check the first dropN are the dropped ones
      val ordered = rows.sortBy(r => (-r._3, r._1))
      assert(ordered.take(dropN).forall(_._4 == 0) && ordered.drop(dropN).forall(_._4 == 1),
        s"cluster $cl: keep flags out of prototypicality order")
      // every survivor is at most as prototypical as every dropped row
      if (dropN > 0 && dropN < n)
        assert(ordered(dropN - 1)._3 >= ordered(dropN)._3)
    }
  }
}
