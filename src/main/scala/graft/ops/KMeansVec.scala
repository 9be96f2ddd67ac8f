package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic k-means over `ARRAY<FLOAT>` embeddings — the IVF
  * coarse quantizer (SURVEY §4.1: "IVF-style coarse quantization via
  * groupBy(cluster)" is the 100 TB ANN path; sign-LSH in
  * VectorQueries is the hash-based alternative).
  *
  * Determinism: centroids initialize from the k lowest vec_ids, a
  * fixed iteration count, squared-euclidean assignment with a
  * cluster-id tiebreak, and decimal-bridged per-dimension sums for
  * the centroid update (partition-order independent). Same inputs →
  * identical clustering on any cluster size.
  *
  * Scale shape per iteration: one broadcast of k·dim centroid
  * doubles out, one map-side assignment pass, one k·dim-group
  * aggregation back — the canonical Lloyd's-on-Spark loop (k·dim
  * floats through the driver per iteration, never the data).
  */
object KMeansVec extends QueryModule {
  import Tables.t

  val K = 10
  val Iters = 3

  /** The nearest centroid's id ([[Codebook.nearest]]: lowest id on
    * exact ties). A closure UDF, not a literal struct-array
    * expression: the literal form regenerates different codegen
    * source for every centroid update, so EVERY Lloyd iteration (and
    * every query invocation) paid a janino recompile — measured as
    * the dominant cost of the whole fit at sf0.1. The UDF keeps one
    * stable plan and runs primitive loops. */
  private[ops] def assignUdf(centroids: Array[Array[Double]]) = {
    val book = Codebook.flat(centroids)
    udf { (emb: Seq[Float]) =>
      val x = Codebook.doubles(emb)
      book.nearest(x, 0, book.selfDot(x, 0))
    }
  }

  /** The fused squared distance to the NEAREST centroid — the k-means
    * quantization error. */
  private[ops] def minDistUdf(centroids: Array[Array[Double]]) = {
    val book = Codebook.flat(centroids)
    udf { (emb: Seq[Float]) =>
      val x = Codebook.doubles(emb)
      val xx = book.selfDot(x, 0)
      book.d2(x, 0, xx, book.nearest(x, 0, xx))
    }
  }

  /** Run Lloyd's iterations; returns the centroids that produced the
    * final assignment together with that assignment (a consistent
    * pair — the centroids are NOT the post-update ones, so an IVF
    * probe ranked against them sees exactly the cells the vectors
    * were assigned to). */
  def fit(s: SparkSession, dir: String, k: Int = K, iters: Int = Iters)
      : (Array[Array[Double]], DataFrame) = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    var centroids = Codebook.prefix(e, k, col("embedding"))
    var used: Array[Array[Double]] = centroids
    var assigned: DataFrame = null
    (1 to iters).foreach { it =>
      used = centroids
      assigned = e.withColumn("cluster", assignUdf(centroids)(col("embedding")))
      // the update after the LAST assignment is never consumed (the
      // returned pair is the pre-update centroids + their assignment),
      // so skip it — iters=1 callers pay only the init collect and a
      // lazy assignment, no aggregation job at all
      if (it < iters)
        centroids = Codebook.lloyd(
          assigned, array(col("cluster")), col("embedding"), Array(centroids))(0)
    }
    (used, assigned)
  }

  /** Lloyd's assignments only: (vec_id, cluster). */
  def assign(s: SparkSession, dir: String, k: Int = K, iters: Int = Iters): DataFrame =
    fit(s, dir, k, iters)._2
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))

  /** Cluster profile: sizes + mean norm per cluster — the quality
    * signal an IVF index build monitors. Oracle-checked: Lloyd's is
    * deterministic and every arithmetic step (fused-dot assignment,
    * r6+decimal centroid means) is mirrored in [[clusterProfileSql]]
    * as three unrolled iterations; determinism and
    * partitioning-independence additionally asserted in KMeansSpec. */
  def clusterProfile(s: SparkSession, dir: String): DataFrame = {
    val a = assign(s, dir)
    val e = t(s, dir, "embeddings")
    a.join(e, "vec_id")
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        r6(OracleMath.davg(r6(graft.functions.VectorFunctions.l2norm(col("embedding")))))
          .as("avg_norm"))
      .orderBy(col("cluster"))
  }

  /** IVF probe search — the quantizer's payoff: exact cosine top-k
    * restricted to the `nProbe` cells whose centroids are nearest
    * the query. At 100 TB the fit runs once at index build, the
    * corpus is written partitioned/bucketed BY CELL, and a probe
    * reads ~nProbe/k of the data (partition pruning does the skip);
    * here the fit runs inline (one Lloyd's pass) so the query stays
    * self-contained. Scoring within probed cells is the same fused
    * cosine + TakeOrderedAndProject as exact kNN — IVF changes what
    * is SCANNED, not how candidates are scored. */
  def ivfTopK(s: SparkSession, dir: String, k: Int = 5, nProbe: Int = 3): DataFrame = {
    // check the 1-row query lookup BEFORE paying the distributed
    // Lloyd fit: a missing/zero query returns empty regardless — and
    // hand the fetched vector down so the normal path does not repeat
    // the lookup job
    OpsShared.queryVec(s, dir) match {
      case None =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("vec_id").cast("long").as("cluster"),
            lit(0d).as("dist"))
          .filter(lit(false))
      case some =>
        ivfTopKFrom(fit(s, dir, K, iters = 1), s, dir, k, nProbe, some)
    }
  }

  /** Probe search over an already-fitted quantizer — lets a caller
    * (or the RecallSpec sweep) pay the Lloyd's fit once and vary
    * k/nProbe freely, exactly like the materialized-index flow where
    * the fit happens at build time. `preFetchedQ` skips the 1-row
    * query lookup when the caller already performed it. */
  def ivfTopKFrom(
      fitted: (Array[Array[Double]], DataFrame),
      s: SparkSession,
      dir: String,
      k: Int,
      nProbe: Int,
      preFetchedQ: Option[Array[Float]] = None,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    import graft.functions.VectorFunctions.{cosineDist, r6}
    val (centroids, assigned) = fitted
    // missing or all-zero query row → EMPTY result, not an exception —
    // the oracle's q CTE is empty/NaN-filtered in the same cases (the
    // sqTopK/annLshTopk convention)
    val qOpt = preFetchedQ.orElse(OpsShared.queryVec(s, dir))
    if (qOpt.isEmpty)
      return assigned
        .select(col("vec_id"), col("label"), col("cluster").cast("long").as("cluster"),
          lit(0d).as("dist"))
        .filter(lit(false))
    val q = qOpt.get
    assigned
      .filter(col("cluster").isin(OpsShared.probeCells(centroids, q, nProbe): _*))
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(pred)
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(q))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .select(col("vec_id"), col("label"), col("cluster").cast("long").as("cluster"),
        col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Label subset for the filtered-search fixture query — ~30%
    * selectivity over the 10 fixture labels. */
  val FilterLabels: Seq[Int] = Seq(2, 5, 7)

  /** Filtered vector search — the vector-DB "metadata filter + ANN"
    * composition (search WHERE label ∈ S): the IVF probe prunes the
    * scan to nProbe cells exactly as [[ivfTopK]], and the metadata
    * predicate applies INSIDE the probed cells before scoring, so
    * selective filters reduce work instead of adding a post-pass.
    *
    * At 100 TB this is probe-cell partition pruning × parquet
    * predicate pushdown on the metadata column — both skips happen
    * at the scan. Caveat baked into the contract: a fixed nProbe
    * under a highly selective filter can return fewer than k rows;
    * production searchers widen probes adaptively (probe until k
    * survivors), which is a driver-side loop over the same plan. */
  def ivfFilteredTopK(s: SparkSession, dir: String, k: Int = 5, nProbe: Int = 3): DataFrame =
    OpsShared.queryVec(s, dir) match {
      case None =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), col("vec_id").cast("long").as("cluster"),
            lit(0d).as("dist"))
          .filter(lit(false))
      case some =>
        ivfTopKFrom(fit(s, dir, K, iters = 1), s, dir, k, nProbe, some,
          pred = col("label").isin(FilterLabels: _*))
    }

  /** Materialized IVF index: vectors written PARTITIONED BY CELL,
    * centroids persisted beside them — the physical form behind the
    * "probing IS partition pruning" claim. At 100 TB the fit runs at
    * index-build time and every probe query after that reads only
    * nProbe/k of the files (Hive-style partition dirs → the scan's
    * PartitionFilters, asserted in KMeansSpec). */
  /** `trainDir` decouples WHERE the coarse quantizer is trained from
    * WHAT is assigned and persisted — the production shape at scale:
    * fit centroids on a stable representative sample, assign the
    * whole corpus (and later appends) against those frozen centroids.
    * Defaults to `dir` (train ≡ index corpus, the original form). */
  def writeIvfIndex(
      s: SparkSession,
      dir: String,
      outDir: String,
      k: Int = K,
      iters: Int = 1,
      trainDir: Option[String] = None): Array[Array[Double]] = {
    val centroids = fit(s, trainDir.getOrElse(dir), k, iters)._1
    t(s, dir, "embeddings")
      // the query sentinel row is not corpus (the writeGraphIndex /
      // writePqIndex convention): persisting it would make an indexed
      // search over its own corpus return the query itself
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .withColumn("cluster", assignUdf(centroids)(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("label"),
        col("cluster").cast("int").as("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$outDir/vectors")
    writeCentroids(s, centroids, outDir)
    centroids
  }

  /** The centroid sidecar of an IVF / IVF-PQ index: one JSON file of
    * (cluster, centroid) rows under `<indexDir>/centroids`. */
  private[ops] def writeCentroids(
      s: SparkSession, centroids: Array[Array[Double]], indexDir: String): Unit = {
    import s.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .json(s"$indexDir/centroids")
  }

  /** Persisted centroids back from the sidecar, cluster-ordered. */
  private[ops] def readCentroids(s: SparkSession, indexDir: String): Array[Array[Double]] =
    s.read.json(s"$indexDir/centroids")
      .collect()
      .map(r => (r.getAs[Long]("cluster").toInt,
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
      .sortBy(_._1).map(_._2)

  /** Append a batch of new vectors into an EXISTING materialized IVF
    * index: assign against the FROZEN centroids from the sidecar (no
    * refit — the FAISS `add` contract) and land the rows as new files
    * inside their `cluster=N/` partition dirs. Map-only: reads the
    * k·dim sidecar, never the existing vectors, and partition pruning
    * keeps working because appends land in the same cell layout.
    * Centroid drift under a shifting distribution is the periodic
    * retrain+rewrite ([[writeIvfIndex]] to a fresh generation).
    *
    * `dedupeExisting`: the [[Maintenance.appendIndexRows]] replay
    * guard, its existing-row scan pruned to the batch's own cells. */
  def appendIvfIndex(
      s: SparkSession, indexDir: String, batch: DataFrame,
      dedupeExisting: Boolean = false): Unit = {
    val centroids = readCentroids(s, indexDir)
    val rows = batch
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        col("label").cast("int").as("label"))
      .withColumn("cluster", assignUdf(centroids)(col("embedding")).cast("int"))
    Maintenance.appendIndexRows(s, s"$indexDir/vectors", rows, dedupeExisting, cells = true)
  }

  /** Files per cell before [[maintainIvfIndex]] compacts: every
    * append adds ≥1 file to each cell it touches, and probe cost
    * grows with the per-cell file count (each probed cell's files
    * are opened and merge-read). */
  val DefaultMaxFilesPerCell = 16

  /** Fold an appended-to IVF index's accumulated small files into a
    * fresh generation at `outDir`: one pass re-bucketing the vector
    * rows into one file per cell; the centroid sidecar is copied
    * BYTE-VERBATIM (the quantizer stays frozen — compaction is file
    * maintenance, never a retrain; drift is [[writeIvfIndex]] to a
    * new generation). A NEW directory, never in place — the
    * generation-swap rule. */
  def compactIvfIndex(s: SparkSession, indexDir: String, outDir: String): Unit = {
    Maintenance.compactCells(s, s"$indexDir/vectors", s"$outDir/vectors")
    Maintenance.copySidecar(s, s"$indexDir/centroids", s"$outDir/centroids")
  }

  /** The IVF index's [[Maintenance.mergePolicy]]: past
    * `maxFilesPerCell` average files per cell, [[compactIvfIndex]]
    * into `outDir`. Returns true when a compaction ran. */
  def maintainIvfIndex(
      s: SparkSession, indexDir: String, outDir: String,
      maxFilesPerCell: Int = DefaultMaxFilesPerCell): Boolean =
    Maintenance.mergePolicy(s, "IVF", s"$indexDir/vectors", Some("cluster"))(
      (files, cells) => files > maxFilesPerCell.toLong * cells)(compactIvfIndex(s, indexDir, outDir))

  /** Probe search over a materialized IVF index: rank the persisted
    * centroids against the query on the driver (k rows), then scan
    * ONLY the probed cell partitions — `cluster IN (...)` resolves
    * at listing time, so unprobed cells cost zero I/O. Scoring is
    * the same fused cosine + TakeOrderedAndProject as exact kNN. */
  def ivfSearchIndexed(
      s: SparkSession,
      indexDir: String,
      q: Array[Float],
      k: Int = 5,
      nProbe: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions.{cosineDist, r6}
    s.read.parquet(s"$indexDir/vectors")
      .filter(col("cluster").isin(OpsShared.probeCells(readCentroids(s, indexDir), q, nProbe): _*))
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(q))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .select(col("vec_id"), col("label"), col("cluster").cast("long").as("cluster"),
        col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  // ---- Oracle SQL: Lloyd's unrolled as CTE chains. Every float op
  // mirrors the engine bit-for-bit: the assignment distance is the
  // SAME fused form x·x − 2·x·float(c) + Σc², centroid updates are
  // r6-rounded decimal means, and ties break on lowest cluster. ----

  /** Sequential double fold Σ e[i]·e[i] (matches FloatDotProduct). */
  private def xx(e: String): String =
    s"list_sum(list_transform($e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"

  /** Assignment + update pair for iteration t (centroids c{t-1} →
    * assignment a{t} → centroids c{t}). The engine truncates
    * centroid dims to FLOAT for the dot (typedLit(c.map(_.toFloat)))
    * but keeps Σc² in full doubles — both mirrored. */
  private[ops] def assignCte(t: Int): String =
    s"""s$t AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cluster,
       |    ${xx("e.embedding")}
       |      - 2.0 * list_sum(list_transform(range(1, len(e.embedding) + 1),
       |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(CAST(c.emb[i] AS FLOAT) AS DOUBLE)))
       |      + list_sum(list_transform(c.emb, v -> v * v)) AS d2
       |  FROM embeddings e CROSS JOIN c${t - 1} c),
       |a$t AS (
       |  SELECT vec_id, label, embedding, cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |    FROM s$t)
       |  WHERE rn = 1)""".stripMargin

  private def updateCte(t: Int): String =
    s"""u$t AS (
       |  SELECT a.cluster, d,
       |    CAST(SUM(CAST(round(CAST(a.embedding[d] AS DOUBLE), 6) + 0 AS DECIMAL(38,6))) AS DOUBLE)
       |      / COUNT(*) AS cd
       |  FROM a$t a, UNNEST(range(1, len(a.embedding) + 1)) AS t(d)
       |  GROUP BY a.cluster, d),
       |c$t AS (
       |  SELECT p.cluster, coalesce(n.emb, p.emb) AS emb
       |  FROM c${t - 1} p
       |  LEFT JOIN (SELECT cluster, list(cd ORDER BY d) AS emb FROM u$t GROUP BY cluster) n
       |  USING (cluster))""".stripMargin

  /** c0 = the k lowest vec_ids' embeddings as doubles, cluster id =
    * rank within that prefix (the engine's array index). */
  private[ops] def initCte: String =
    s"""c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $K))""".stripMargin

  val clusterProfileSql: String = {
    val iters = (1 to Iters).map { t =>
      if (t < Iters) assignCte(t) + ",\n" + updateCte(t) else assignCte(t)
    }.mkString(",\n")
    s"""WITH $initCte,
       |$iters
       |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n,
       |  round(CAST(SUM(CAST(round(nrm, 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_norm
       |FROM (SELECT cluster, sqrt(${xx("embedding")}) AS nrm FROM a$Iters)
       |GROUP BY cluster
       |ORDER BY cluster""".stripMargin
  }

  /** Euclidean distances to the nearest and second-nearest centroid
    * ([[Codebook.nearest]]'s top two), so the nearest cluster here IS
    * the assigned cluster. d2 can go epsilon-negative when a vector
    * coincides with its centroid; both engines clamp at 0 before the
    * sqrt. */
  private[ops] def twoNearestUdf(centroids: Array[Array[Double]]) = {
    val book = Codebook.flat(centroids)
    udf { (emb: Seq[Float]) =>
      val x = Codebook.doubles(emb)
      val ab = new Array[Double](2)
      book.nearest(x, 0, book.selfDot(x, 0), ab)
      ab(0) = math.sqrt(math.max(ab(0), 0.0))
      ab(1) = math.sqrt(math.max(ab(1), 0.0))
      ab
    }
  }

  /** Simplified (centroid-based) silhouette per cluster — the
    * clustering-quality audit an IVF/SemDeDup build reads before
    * trusting its cells: s = (b − a) / max(a, b) with a = distance
    * to the NEAREST centroid (≡ the assigned one) and b = distance
    * to the second nearest. The full silhouette is O(n²) pairwise
    * and dead at corpus scale; the centroid form (Hruschka et al.'s
    * "simplified silhouette") is MAP-ONLY given the k·dim fit — one
    * UDF pass + one cluster-keyed aggregation, no pair ever
    * materializes. Near +1 = compact well-separated cell, near 0 =
    * boundary mush (cells an ANN probe will mis-rank and a
    * cluster-sampling pass should not treat as strata). */
  def clusterSilhouette(s: SparkSession, dir: String): DataFrame = {
    val (centroids, assigned) = fit(s, dir)
    assigned
      .withColumn("ab", twoNearestUdf(centroids)(col("embedding")))
      .select(col("cluster"),
        col("ab").getItem(0).as("a"), col("ab").getItem(1).as("b"))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"),
        r6(OracleMath.davg(r6(col("sil")))).as("avg_sil"))
      .orderBy(col("cluster"))
  }

  /** Chains the proven Lloyd CTEs; a/b are ranks 1/2 of the final
    * iteration's per-(vec, cluster) d2 relation — the assignment
    * argmin and the silhouette's nearest centroid are the same row
    * by construction. */
  lazy val clusterSilhouetteSql: String = {
    val iters = (1 to Iters).map { t =>
      if (t < Iters) assignCte(t) + ",\n" + updateCte(t) else assignCte(t)
    }.mkString(",\n")
    s"""WITH $initCte,
       |$iters,
       |dd AS MATERIALIZED (
       |  SELECT vec_id, cluster, sqrt(greatest(d2, 0)) AS dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |  FROM s$Iters),
       |ab AS (
       |  SELECT d1.vec_id, d1.cluster, d1.dist AS a, dn.dist AS b
       |  FROM (SELECT * FROM dd WHERE rn = 1) d1
       |  JOIN (SELECT * FROM dd WHERE rn = 2) dn USING (vec_id)),
       |sil AS (
       |  SELECT cluster,
       |    CASE WHEN greatest(a, b) = 0 THEN 0.0
       |         ELSE (b - a) / greatest(a, b) END AS sil
       |  FROM ab)
       |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n,
       |  round(CAST(SUM(CAST(round(sil, 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_sil
       |FROM sil GROUP BY cluster
       |ORDER BY cluster""".stripMargin
  }

  /** Per-cluster topic terms: top-3 words by cluster-level TF-IDF
    * (tf = word count inside the cluster; idf = ln(#clusters /
    * #clusters containing the word)) over the k-means partition of
    * the embedding space, with documents joined on the fixture's
    * vec_id ≡ doc_id identity — the "what IS this cluster" label a
    * SemDeDup-style curation pass reads before deciding which
    * clusters to prune. Ubiquitous words score ln(1) = 0, so the
    * table surfaces exactly the cluster-SPECIFIC vocabulary.
    *
    * Shape at 100 TB: the Lloyd fit is the shared k·dim model
    * (broadcast-safe); the doc join keys on id; tf is one
    * map-side-combined aggregation of the token stream; cf is
    * vocab-sized (NO static hint — the tfidf rule); the 1-row
    * cluster count is the one legitimate broadcast; top-3 is a
    * cluster-keyed window, never a global sort. */
  def clusterTopics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = assign(s, dir)
    val d = t(s, dir, "documents")
    val tok = d.join(a, d("doc_id") === a("vec_id"))
      .select(col("cluster"), explode(split(col("text"), " ")).as("word"))
    val tf = tok.groupBy(col("cluster"), col("word")).agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("word")).agg(count(lit(1)).as("cf"))
    val nc = a.select(col("cluster")).distinct().agg(count(lit(1)).as("n_clusters"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("score").desc, col("word"))
    tf.join(cf, Seq("word"))
      .crossJoin(broadcast(nc))
      .withColumn("score",
        r6(col("tf") * log(col("n_clusters").cast("double") / col("cf"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("cluster"), col("rn"), col("word"), col("score"))
      .orderBy(col("cluster"), col("rn"))
  }

  val clusterTopicsSql: String = {
    val iters = (1 to Iters).map { t =>
      if (t < Iters) assignCte(t) + ",\n" + updateCte(t) else assignCte(t)
    }.mkString(",\n")
    s"""WITH $initCte,
       |$iters,
       |asgn AS MATERIALIZED (SELECT vec_id, cluster FROM a$Iters),
       |tok AS (
       |  SELECT a.cluster, unnest(string_split(d.text, ' ')) AS word
       |  FROM documents d JOIN asgn a ON a.vec_id = d.doc_id),
       |tf AS (SELECT cluster, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |cf AS (SELECT word, COUNT(*) AS cf FROM tf GROUP BY 1),
       |nc AS (SELECT COUNT(DISTINCT cluster) AS n_clusters FROM asgn),
       |scored AS (
       |  SELECT tf.cluster, tf.word,
       |    round(tf * ln(CAST(n_clusters AS DOUBLE) / cf), 6) + 0 AS score
       |  FROM tf JOIN cf USING (word) CROSS JOIN nc)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rn AS BIGINT) AS rn, word, score
       |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
       |                                   ORDER BY score DESC, word) AS rn
       |      FROM scored)
       |WHERE rn <= 3
       |ORDER BY cluster, rn""".stripMargin
  }

  /** Oracle mirror of [[ivfTopK]]: one Lloyd's assignment under c0,
    * centroid probe ranking by the driver's double cosine (ties by
    * cluster id — Scala's stable sort), exact cosine rescoring in
    * the probed cells. */
  private def ivfTopKSqlWhere(extra: String): String = ivfTopKSqlProbes(3, extra)

  /** [[ivfTopKSql]] with a parametric probe count — the sweep oracle
    * ([[AnnEval]]'s nprobe operating curve) replays the same plan at
    * each nProbe. */
  private[ops] def ivfTopKSqlProbes(nProbe: Int, extra: String = ""): String =
    s"""WITH $initCte,
       |${assignCte(1)},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${VectorQueries.QueryVecId}),
       |probes AS (
       |  SELECT c.cluster FROM c0 c, q
       |  ORDER BY 1.0 - list_sum(list_transform(range(1, len(q.qe) + 1),
       |        i -> c.emb[i] * CAST(q.qe[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(c.emb, v -> v * v)))
       |         * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
       |    c.cluster
       |  LIMIT $nProbe),
       |scored AS (
       |  SELECT a.vec_id, a.label, CAST(a.cluster AS BIGINT) AS cluster,
       |    round(1.0 - list_sum(list_transform(range(1, len(a.embedding) + 1),
       |              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(${xx("a.embedding")})
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM a1 a JOIN probes p ON p.cluster = a.cluster
       |  CROSS JOIN q
       |  WHERE a.vec_id <> ${VectorQueries.QueryVecId}$extra)
       |SELECT vec_id, label, cluster, dist FROM scored
       |WHERE dist IS NOT NULL AND NOT isnan(dist)
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  val ivfTopKSql: String = ivfTopKSqlWhere("")

  /** Query batches at or below this many rows ride an explicit
    * broadcast hint on the probe side (the right default: the CORPUS
    * side must never shuffle for a serving batch, and a bounded batch
    * is cheap to replicate — 100k × 64-dim float queries ≈ 30 MB per
    * executor). Above the cap the hint is DROPPED and the probe join
    * runs as a plain equi-join: AQE picks the strategy from the
    * measured size, so a million-query batch degrades to a shuffle
    * join instead of a multi-GB per-executor broadcast. */
  val BatchBroadcastCap = 100000L

  /** Distributed multi-query IVF probe search — the serving-batch
    * form (the reference's store accepts a LIST of query embeddings;
    * this is that shape against the IVF layout): per-query probe
    * cells come from a map-side ranking against the broadcast
    * centroid table (k·dim doubles in the closure — never a corpus
    * shuffle), each query then scans ONLY its probed cells via one
    * equi-join on the cell id, and per-query top-k is a bounded rank
    * window. NOTHING is per-query driver work — 3 queries here, a
    * million-query batch at scale, same plan shape; only the join
    * strategy shifts at [[BatchBroadcastCap]] (explicit broadcast
    * below — fixture-deterministic, corpus never moves — plain
    * equi-join above, AQE deciding; both regimes return identical
    * rows, asserted in KMeansSpec, and the above-cap plan is pinned
    * hint-free in PlanSpec). Query set = the
    * [[VectorQueries.knnBatch]] convention (vec_id < 3 are queries,
    * the rest corpus); the gate's query count is one metadata-cheap
    * pushdown-filtered count of that tiny slice. */
  def ivfBatchTopK(
      s: SparkSession, dir: String, k: Int = 3, nProbe: Int = 3,
      broadcastCap: Long = BatchBroadcastCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosineDist, r6}
    val e = t(s, dir, "embeddings")
    val (centroids, assigned) = fit(s, dir, K, iters = 1)
    val probeUdf = udf((qe: Seq[Float]) => OpsShared.probeCells(centroids, qe.toArray, nProbe))
    val qprobes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("cluster", explode(probeUdf(col("qe"))))
    val nQ = e.filter(col("vec_id") < 3).count()
    val probeSide = if (nQ <= broadcastCap) broadcast(qprobes) else qprobes
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    assigned.filter(col("vec_id") >= 3)
      .withColumn("cluster", col("cluster").cast("int"))
      .join(probeSide, "cluster")
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("dist"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Oracle mirror of [[ivfBatchTopK]]: the same init/assign CTEs,
    * per-query probe ranking as a window over the query×centroid
    * cross (3×k rows), then the probed-cell scan + per-query rank. */
  val ivfBatchTopKSql: String =
    s"""WITH $initCte,
       |${assignCte(1)},
       |qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |pr AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT q.query_id, c.cluster,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        1.0 - list_sum(list_transform(range(1, len(q.qe) + 1),
       |              i -> c.emb[i] * CAST(q.qe[i] AS DOUBLE)))
       |            / (sqrt(list_sum(list_transform(c.emb, v -> v * v)))
       |               * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
       |        c.cluster) AS pn
       |    FROM c0 c, qs q)
       |  WHERE pn <= 3),
       |scored AS (
       |  SELECT q.query_id, a.vec_id,
       |    round(1.0 - list_sum(list_transform(range(1, len(a.embedding) + 1),
       |              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(${xx("a.embedding")})
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM a1 a
       |  JOIN pr ON pr.cluster = a.cluster
       |  JOIN qs q ON q.query_id = pr.query_id
       |  WHERE a.vec_id >= 3)
       |SELECT query_id, CAST(rn AS BIGINT) AS rn, vec_id, dist
       |FROM (SELECT query_id, vec_id, dist,
       |             row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rn
       |      FROM scored
       |      WHERE dist IS NOT NULL AND NOT isnan(dist))
       |WHERE rn <= 3
       |ORDER BY query_id, rn""".stripMargin

  /** Oracle mirror of [[ivfFilteredTopK]] — the same probe replay
    * with the metadata predicate inside the probed cells. */
  val ivfFilteredTopKSql: String =
    ivfTopKSqlWhere(s" AND a.label IN (${FilterLabels.mkString(", ")})")

  /** Semantic dedup, SemDeDup-style (cluster-then-compare): one
    * Lloyd's assignment partitions the corpus into k cells, then
    * pairwise cosine runs ONLY within each cell — the cluster id is
    * the join key, so candidate volume is Σ|cell|² instead of n²
    * (the k-means step is what makes semantic dedup sub-quadratic
    * at corpus scale; semantically-near duplicates land in the same
    * cell by construction because assignment is distance-based).
    * Emits within-cell pairs with cosine ≥ [[SemDedupThreshold]],
    * keep = the lower vec_id (min-id survivorship). */
  val SemDedupThreshold = 0.4

  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{dot, l2norm, r6}
    // materialize the assignment once: the self-join otherwise
    // re-runs the scan and the assignUdf pass per side. localCheckpoint
    // (not cache()) because CacheManager entries live until explicitly
    // unpersisted — repeated invocations (bench loop, tri-scale verify
    // in one session) would accumulate cached partitions forever —
    // while checkpoint blocks are released by the ContextCleaner as
    // soon as the returned plan is garbage-collected
    val assigned = fit(s, dir, K, iters = 1)._2
      .withColumn("nrm", l2norm(col("embedding")))
      .filter(col("nrm") > 0)
      .localCheckpoint(true)
    val a = assigned.select(col("cluster").as("ca"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("na"))
    val b = assigned.select(col("cluster").as("cb"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nb"))
    a.join(b, col("ca") === col("cb") && col("vec_a") < col("vec_b"))
      .withColumn("sim", r6(try_divide(dot(col("emb_a"), col("emb_b")), col("na") * col("nb"))))
      .filter(col("sim") >= SemDedupThreshold)
      .select(col("ca").cast("long").as("cluster"), col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("cluster"), col("vec_a"), col("vec_b"))
  }

  /** Oracle mirror of [[semanticDedup]]: the one-iteration assignment
    * CTE, then within-cluster pairwise cosine with the same
    * sequential folds (zero-norm rows excluded on both sides). */
  val semanticDedupSql: String =
    s"""WITH $initCte,
       |${assignCte(1)},
       |n AS (
       |  SELECT cluster, vec_id, embedding, sqrt(${xx("embedding")}) AS nrm
       |  FROM a1
       |  WHERE ${xx("embedding")} > 0)
       |SELECT cluster, vec_a, vec_b, sim FROM (
       |  SELECT CAST(x.cluster AS BIGINT) AS cluster,
       |    x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    round(list_sum(list_transform(range(1, len(x.embedding)+1),
       |            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
       |          / (x.nrm * y.nrm), 6) + 0 AS sim
       |  FROM n x JOIN n y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
       |WHERE sim >= $SemDedupThreshold
       |ORDER BY cluster, vec_a, vec_b""".stripMargin

  /** Cosine threshold for the cell-scoped decontamination variant —
    * the [[SemDedupThreshold]] operating point: a flagged vector is a
    * near-duplicate-grade match of a benchmark vector. */
  val SemDecontamCellEps = 0.4

  /** Cell-scoped semantic decontamination — the LARGE-benchmark
    * regime of [[graft.ops.Curation.semanticDecontaminate]]: when the
    * benchmark set is too big to broadcast (the full eval-suite union
    * at 100 TB), both sides take one Lloyd's assignment and the
    * benchmark comparison runs ONLY within each k-means cell — the
    * [[semanticDedup]] sub-quadratic shape with the pair predicate
    * swapped from `vec_a < vec_b` to corpus-vs-benchmark. Benchmark
    * convention: every 50th vector (the decontaminate % 50 rule).
    * Output: EVERY corpus vector with its cell, best in-cell
    * benchmark match (max sim, min bench_id tiebreak; NULL when its
    * cell holds no benchmark vector) and a 0/1 `flagged` indicator —
    * the keep-list a decontamination run actually applies, and total
    * at any scale (a quiet corpus reports all-zeros rather than an
    * empty relation — the EntrySpec rows>0 rule).
    *
    * Scale shape: ONE assignment pass (localCheckpointed — both sides
    * read it), one cluster-keyed equi-join (never a cross join), the
    * argmax window partitioned per corpus vector over its in-cell
    * benchmark candidates, one corpus-keyed totality left join.
    * Semantically-near leaks land in the same cell by construction
    * (assignment is distance-based) — the SemDeDup recall argument. */
  def semanticDecontaminateCells(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{dot, l2norm, r6}
    val assigned = fit(s, dir, K, iters = 1)._2
      .withColumn("nrm", l2norm(col("embedding")))
      .filter(col("nrm") > 0)
      .localCheckpoint(true)
    val bench = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("cluster").as("cb"), col("vec_id").as("bench_id"),
        col("embedding").as("be"), col("nrm").as("nb"))
    val base = assigned.filter(col("vec_id") % 50 =!= 0)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("bench_id"))
    val best = base
      .join(bench, col("cluster") === col("cb"))
      .withColumn("sim", r6(try_divide(dot(col("embedding"), col("be")), col("nrm") * col("nb"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bench_id"), col("sim"))
    base.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(best, Seq("vec_id"), "left")
      .withColumn("flagged",
        when(col("sim") >= SemDecontamCellEps, 1).otherwise(0))
      .orderBy(col("vec_id"))
  }

  /** Oracle mirror of [[semanticDecontaminateCells]]: the assignment
    * CTE, within-cell corpus×benchmark cosine, per-corpus-vector
    * argmax, totality left join, threshold as the flagged CASE. */
  val semanticDecontaminateCellsSql: String =
    s"""WITH $initCte,
       |${assignCte(1)},
       |n AS (
       |  SELECT cluster, vec_id, embedding, sqrt(${xx("embedding")}) AS nrm
       |  FROM a1
       |  WHERE ${xx("embedding")} > 0),
       |sims AS (
       |  SELECT x.vec_id, y.vec_id AS bench_id,
       |    round(list_sum(list_transform(range(1, len(x.embedding)+1),
       |            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
       |          / (x.nrm * y.nrm), 6) + 0 AS sim
       |  FROM n x JOIN n y ON x.cluster = y.cluster
       |  WHERE x.vec_id % 50 <> 0 AND y.vec_id % 50 = 0),
       |best AS (
       |  SELECT vec_id, bench_id, sim FROM (
       |    SELECT vec_id, bench_id, sim,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id) AS rn
       |    FROM sims)
       |  WHERE rn = 1)
       |SELECT c.vec_id, CAST(c.cluster AS BIGINT) AS cluster, b.bench_id, b.sim,
       |  CASE WHEN b.sim >= $SemDecontamCellEps THEN 1 ELSE 0 END AS flagged
       |FROM n c LEFT JOIN best b USING (vec_id)
       |WHERE c.vec_id % 50 <> 0
       |ORDER BY c.vec_id""".stripMargin

  /** Neighbors averaged per side for the [[bitextMine]] margin
    * denominator — Artetxe & Schwenk use k=4 in the CCMatrix
    * pipeline. */
  val MarginK = 4

  /** Mining threshold for [[bitextMine]] — ratio-margin ≥ this flags
    * a candidate pair (the published pipelines operate at 1.04–1.06;
    * the exact value is a knob, the MACHINERY is what's pinned). */
  val BitextMarginThreshold = 1.05

  /** Margin-based bitext mining (Artetxe & Schwenk 2019; the
    * CCMatrix shape): candidate translation pairs between two corpus
    * sides scored by RATIO margin — cos(x,y) divided by the mean of
    * each side's top-[[MarginK]] neighbor cosines — which cancels
    * hubness (a vector that is close to EVERYTHING scores high raw
    * cosine everywhere; dividing by its average top-k similarity
    * deflates exactly those hubs). Sides here are embedding labels 0
    * and 1 (the fixture's stand-in for two languages); at deployment
    * the sides are the language-split halves of an aligned corpus.
    * Cell-scoped like [[semanticDecontaminateCells]]: one Lloyd
    * assignment on the union, candidates and the top-k averages both
    * computed within each k-means cell (the SemDeDup recall
    * argument), so no all-pairs join ever forms. Output is TOTAL
    * over side-X vectors: best in-cell match (max margin, min y
    * tiebreak) with r6 cosine, r6 margin, and a 0/1 `mined` flag.
    *
    * Arithmetic bridge: cosines are r6 then lifted to exact
    * micro-units; the per-side top-k means use the exact-integer
    * half-up mean on (sim6 + 1e6) SHIFTED values (cosines can be
    * negative; the established (2q+n) div (2n) identity needs
    * nonnegative operands for div ≡ // across engines) and unshift
    * after; the margin is one double division of exact integers,
    * r6-rounded, NULL-guarded when the denominator is ≤ 0.
    *
    * Scale shape: ONE assignment pass (localCheckpointed), ONE
    * cell-keyed pair pass (localCheckpointed — three consumers: the
    * two top-k means and the argmax), windows partitioned per vector
    * over in-cell candidates only, one totality left join. */
  def bitextMine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{dot, l2norm, r6}
    val assigned = fit(s, dir, K, iters = 1)._2
      .withColumn("nrm", l2norm(col("embedding")))
      .filter(col("nrm") > 0)
      .localCheckpoint(true)
    def sideOf(lbl: Int, v: String) = assigned.filter(col("label") === lbl)
      .select(col("cluster").as(s"c$v"), col("vec_id").as(v),
        col("embedding").as(s"e$v"), col("nrm").as(s"n$v"))
    val xs = sideOf(0, "x")
    val ys = sideOf(1, "y")
    val sims = xs.join(ys, col("cx") === col("cy"))
      .withColumn("sim6", round(
        r6(try_divide(dot(col("ex"), col("ey")), col("nx") * col("ny"))) * 1e6)
        .cast("long"))
      .select(col("x"), col("y"), col("sim6"))
      .localCheckpoint(true)
    def topkMean(key: String, other: String, out: String) = {
      val w = Window.partitionBy(col(key)).orderBy(col("sim6").desc, col(other))
      sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= MarginK)
        .groupBy(col(key))
        .agg(sum(col("sim6") + 1000000L).as("q"), count(lit(1)).as("n"))
        .select(col(key), (expr("(2 * q + n) div (2 * n)") - 1000000L).as(out))
    }
    val scored = sims
      .join(topkMean("x", "y", "ax6"), "x")
      .join(topkMean("y", "x", "ay6"), "y")
      .withColumn("margin",
        when(col("ax6") + col("ay6") <= 0, lit(null).cast("double"))
          .otherwise(r6(lit(2.0) * col("sim6") / (col("ax6") + col("ay6")))))
      .filter(col("margin").isNotNull)
    val wb = Window.partitionBy(col("x")).orderBy(col("margin").desc, col("y"))
    val best = scored.withColumn("rn", row_number().over(wb)).filter(col("rn") === 1)
      .select(col("x").as("vec_id"), col("y").as("match_id"),
        (col("sim6").cast("double") / 1e6).as("sim"), col("margin"))
    xs.select(col("x").as("vec_id"), col("cx").cast("long").as("cluster"))
      .join(best, Seq("vec_id"), "left")
      .withColumn("mined",
        when(col("margin") >= BitextMarginThreshold, 1).otherwise(0))
      .orderBy(col("vec_id"))
  }

  /** Oracle mirror of [[bitextMine]]: the assignment CTE, one
    * in-cell cross-side pair pass lifted to micro-units, shifted
    * exact-integer top-k means per side, the double-division margin
    * with its ≤0 guard, per-x argmax, totality left join. */
  val bitextMineSql: String =
    s"""WITH $initCte,
       |${assignCte(1)},
       |bt_n AS (
       |  SELECT cluster, vec_id, label, embedding, sqrt(${xx("embedding")}) AS nrm
       |  FROM a1
       |  WHERE ${xx("embedding")} > 0),
       |bt_p AS MATERIALIZED (
       |  SELECT x.vec_id AS x, y.vec_id AS y,
       |    CAST(round(1000000 * (round(list_sum(list_transform(range(1, len(x.embedding)+1),
       |            i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
       |          / (x.nrm * y.nrm), 6) + 0)) AS BIGINT) AS sim6
       |  FROM bt_n x JOIN bt_n y ON x.cluster = y.cluster
       |  WHERE x.label = 0 AND y.label = 1),
       |bt_ax AS (
       |  SELECT x, (2 * SUM(sim6 + 1000000) + COUNT(*)) // (2 * COUNT(*)) - 1000000 AS ax6
       |  FROM (SELECT x, y, sim6,
       |          row_number() OVER (PARTITION BY x ORDER BY sim6 DESC, y) AS rn
       |        FROM bt_p)
       |  WHERE rn <= $MarginK GROUP BY x),
       |bt_ay AS (
       |  SELECT y, (2 * SUM(sim6 + 1000000) + COUNT(*)) // (2 * COUNT(*)) - 1000000 AS ay6
       |  FROM (SELECT x, y, sim6,
       |          row_number() OVER (PARTITION BY y ORDER BY sim6 DESC, x) AS rn
       |        FROM bt_p)
       |  WHERE rn <= $MarginK GROUP BY y),
       |bt_sc AS (
       |  SELECT p.x, p.y, p.sim6,
       |    CASE WHEN ax.ax6 + ay.ay6 <= 0 THEN NULL
       |         ELSE round(2.0 * p.sim6 / (ax.ax6 + ay.ay6), 6) + 0 END AS margin
       |  FROM bt_p p JOIN bt_ax ax USING (x) JOIN bt_ay ay USING (y)),
       |bt_best AS (
       |  SELECT x, y, sim6, margin FROM (
       |    SELECT x, y, sim6, margin,
       |      row_number() OVER (PARTITION BY x ORDER BY margin DESC, y) AS rn
       |    FROM bt_sc WHERE margin IS NOT NULL)
       |  WHERE rn = 1)
       |SELECT c.vec_id, CAST(c.cluster AS BIGINT) AS cluster, b.y AS match_id,
       |  CAST(b.sim6 AS DOUBLE) / 1000000.0 AS sim, b.margin,
       |  CASE WHEN b.margin >= $BitextMarginThreshold THEN 1 ELSE 0 END AS mined
       |FROM bt_n c LEFT JOIN bt_best b ON b.x = c.vec_id
       |WHERE c.label = 0
       |ORDER BY c.vec_id""".stripMargin

  /** Threshold grid for [[semdedupEpsSweep]] — spans conservative to
    * aggressive; the grid MIN equals [[SemDedupThreshold]] so the
    * one materialized pair relation serves every grid point. */
  val SemDedupEpsGrid: Seq[Double] = Seq(0.4, 0.6, 0.8)

  /** SemDeDup ε tuning curve — the knob study Abbas et al. 2023 run
    * before committing a threshold: for each ε in
    * [[SemDedupEpsGrid]], how many within-cell pairs exceed it, how
    * many documents the keep-the-lower-id survivorship would drop,
    * and what fraction of the corpus survives. Retention falls as ε
    * loosens; the deployed ε is the loosest value whose retention
    * still meets the data budget.
    *
    * Scale shape: [[semanticDedup]]'s ONE cluster-scoped pair pass
    * (its threshold = the grid min) serves the whole grid; the grid
    * expands against the near-dup-sized pair relation, never the
    * corpus; the denominator is a 1-row broadcast count. */
  def semdedupEpsSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.l2norm
    val pairs = semanticDedup(s, dir).select(col("vec_b"), col("sim"))
    val nTotal = t(s, dir, "embeddings")
      .filter(l2norm(col("embedding")) > 0)
      .agg(count(lit(1)).as("n"))
    val grid = SemDedupEpsGrid.toDF("eps")
    val cells = grid.crossJoin(pairs)
      .filter(col("sim") >= col("eps"))
      .groupBy(col("eps"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("vec_b")).as("n_dropped"))
    grid.join(cells, Seq("eps"), "left")
      .crossJoin(broadcast(nTotal))
      .select(col("eps"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        r6(lit(1.0) - coalesce(col("n_dropped"), lit(0L)).cast("double") / col("n"))
          .as("retention"))
      .orderBy(col("eps"))
  }

  /** Oracle mirror of [[semdedupEpsSweep]]: the semantic-dedup pair
    * SQL nested verbatim (its own WITH is scoped inside the
    * subquery), grid totality via left join, zero-norm rows excluded
    * from the denominator exactly like the engine. */
  lazy val semdedupEpsSweepSql: String = {
    val gridList = SemDedupEpsGrid.mkString(", ")
    s"""WITH e_pairs AS MATERIALIZED (
       |  SELECT vec_b, sim FROM ($semanticDedupSql)),
       |e_n AS (
       |  SELECT COUNT(*) AS n FROM embeddings
       |  WHERE ${xx("embedding")} > 0),
       |e_grid AS (SELECT unnest([$gridList]) AS eps),
       |e_cells AS (
       |  SELECT g.eps, COUNT(*) AS n_pairs,
       |    COUNT(DISTINCT p.vec_b) AS n_dropped
       |  FROM e_grid g JOIN e_pairs p ON p.sim >= g.eps
       |  GROUP BY g.eps)
       |SELECT g.eps AS eps,
       |  CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(c.n_dropped, 0) AS BIGINT) AS n_dropped,
       |  round(1.0 - CAST(COALESCE(c.n_dropped, 0) AS DOUBLE) / n.n, 6) + 0 AS retention
       |FROM e_grid g CROSS JOIN e_n n LEFT JOIN e_cells c ON c.eps = g.eps
       |ORDER BY g.eps""".stripMargin
  }

  /** Cluster-balanced (density-equalizing) sampling — the geometric
    * form of stratified balancing where the strata are LEARNED
    * k-means cells instead of labels (the DataComp/SSL-curation
    * density-sampling recipe, and SemDeDup's sibling: dedup removes
    * near-identical pairs, density sampling thins over-dense REGIONS
    * wholesale). Each cell is downsampled by deterministic
    * hash-threshold to the smallest cell's rate: rate_c = min_n /
    * n_c, keep iff u(vec_id) < rate_c.
    *
    * Scale shape: the cell-size relation is K rows (parameter-
    * bounded → broadcast under the centroid rule), the min a 1-row
    * broadcast, the keep decision map-only — zero coordination, the
    * sample_hash property at cell granularity. Output is the
    * per-cell audit (n, rate, kept), the report a curation run
    * reads before materializing the sample. */
  def clusterSample(s: SparkSession, dir: String): DataFrame = {
    val a = assign(s, dir)
    val sizes = a.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val mn = sizes.agg(min(col("n")).as("mn"))
    val u = ((graft.functions.CrossHash.md5Hash60Col(concat(lit("cs:"), col("vec_id").cast("string")))
      % Dsir.TwoPow50).cast("double") + lit(0.5)) / lit(Dsir.TwoPow50).cast("double")
    a.join(broadcast(sizes), "cluster")
      .crossJoin(broadcast(mn))
      .withColumn("rate", r6(col("mn").cast("double") / col("n")))
      .withColumn("keep", (u < col("rate")).cast("int"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_cell"), min(col("rate")).as("rate"),
        sum(col("keep")).as("kept"))
      .select(col("cluster"), col("n_cell").as("n"), col("rate"), col("kept"))
      .orderBy(col("cluster"))
  }

  val clusterSampleSql: String = {
    val h = graft.functions.CrossHash.sqlHash60("'cs:' || CAST(vec_id AS VARCHAR)")
    val iters = (1 to Iters).map { t =>
      if (t < Iters) assignCte(t) + ",\n" + updateCte(t) else assignCte(t)
    }.mkString(",\n")
    s"""WITH $initCte,
       |$iters,
       |sizes AS (SELECT cluster, COUNT(*) AS n FROM a$Iters GROUP BY cluster),
       |mn AS (SELECT MIN(n) AS mn FROM sizes),
       |rws AS (
       |  SELECT a.vec_id, a.cluster,
       |    round(CAST(mn.mn AS DOUBLE) / s.n, 6) + 0 AS rate,
       |    (CAST($h % ${Dsir.TwoPow50} AS DOUBLE) + 0.5)
       |      / CAST(${Dsir.TwoPow50} AS DOUBLE) AS u
       |  FROM a$Iters a JOIN sizes s USING (cluster) CROSS JOIN mn)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(rate) AS rate,
       |  CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept
       |FROM rws GROUP BY cluster
       |ORDER BY cluster""".stripMargin
  }

  // --------------------------------------------- prototype pruning

  /** Prune fraction for [[protoPrune]] as an exact rational: the
    * [[ProtoDropNum]]/[[ProtoDropDen]] most prototypical examples of
    * every cluster are dropped (floor semantics; keep = 10·rank >
    * 3·n is pure integer arithmetic, so both engines agree on the
    * cut row even when 0.3·n is whole). */
  val ProtoDropNum = 3L
  val ProtoDropDen = 10L

  /** Cosine of each vector to its ASSIGNED centroid — the
    * prototypicality score of SSL-prototype pruning (Sorscher et
    * al., NeurIPS 2022: with abundant data, dropping the EASIEST —
    * most prototypical — examples beats random pruning; the hard
    * shell of each cluster carries the information). Built from the
    * [[Codebook]] folds so the score is exactly replayable: centroid
    * dims float-truncated for the cross term, Σc² in full doubles,
    * zero-norm guard (ANSI divide) → 0. */
  private[ops] def protoUdf(centroids: Array[Array[Double]]) = {
    val book = Codebook.flat(centroids)
    udf { (emb: Seq[Float], cluster: Int) =>
      val x = Codebook.doubles(emb)
      val xx = book.selfDot(x, 0)
      val cc = book.sumSq(0, cluster)
      if (xx == 0.0 || cc == 0.0) 0.0
      else book.cross(x, 0, cluster) / (math.sqrt(xx) * math.sqrt(cc))
    }
  }

  /** SSL-prototype pruning: rank every vector within its k-means
    * cell by cosine to the cell centroid and drop the most
    * prototypical [[ProtoDropNum]]/[[ProtoDropDen]] of each cell —
    * the "keep the hard examples" data-pruning recipe (Sorscher et
    * al. 2022), the selection-side complement of [[semanticDedup]]
    * (which removes near-identical PAIRS; this thins the easy CORE
    * of every region wholesale).
    *
    * Scale shape: scoring is map-only (K·dim centroids ride the UDF
    * closure, exactly like assignment), then ONE exchange keyed on
    * the cluster id serves both the rank and the cell size (window
    * functions over the same partition key share the sort). The
    * fixture's K=10 makes 10 reducers; at corpus scale K grows with
    * the data (an IVF-grade quantizer is thousands of cells), so
    * per-cell partitions stay bounded — same argument as the IVF
    * cell layout this fit already feeds. Ordering ties (equal r6
    * score) break on vec_id, so the cut is deterministic. */
  def protoPrune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (used, assigned) = fit(s, dir, K, Iters)
    val w = Window.partitionBy(col("cluster"))
    val scored = assigned
      .withColumn("proto", r6(protoUdf(used)(col("embedding"), col("cluster"))))
    scored
      .withColumn("rn", row_number().over(w.orderBy(col("proto").desc, col("vec_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("proto"),
        (col("rn") * ProtoDropDen > col("n") * ProtoDropNum).cast("int").as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Oracle mirror of [[protoPrune]]: the full Lloyd chain (the
    * final assignment a3 is ranked against the centroids c2 that
    * produced it — [[fit]]'s consistent pair), cosine with the same
    * float-truncated cross term, r6 BEFORE the window rank. */
  val protoPruneSql: String = {
    val iters = (1 to Iters).map { t =>
      if (t < Iters) assignCte(t) + ",\n" + updateCte(t) else assignCte(t)
    }.mkString(",\n")
    s"""WITH $initCte,
       |$iters,
       |sc AS (
       |  SELECT a.vec_id, a.cluster,
       |    CASE WHEN ${xx("a.embedding")} = 0
       |           OR list_sum(list_transform(c.emb, v -> v * v)) = 0 THEN 0.0
       |    ELSE round(
       |      list_sum(list_transform(range(1, len(a.embedding) + 1),
       |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(CAST(c.emb[i] AS FLOAT) AS DOUBLE)))
       |      / (sqrt(${xx("a.embedding")})
       |         * sqrt(list_sum(list_transform(c.emb, v -> v * v)))), 6) + 0 END AS proto
       |  FROM a$Iters a JOIN c${Iters - 1} c ON c.cluster = a.cluster),
       |r AS (
       |  SELECT vec_id, cluster, proto,
       |    row_number() OVER (PARTITION BY cluster ORDER BY proto DESC, vec_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster) AS n
       |  FROM sc)
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, proto,
       |  CAST(CASE WHEN rn * $ProtoDropDen > n * $ProtoDropNum THEN 1 ELSE 0 END AS INT) AS keep
       |FROM r
       |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------- k-means|| init

  /** Oversampling factor per k-means|| round (Bahmani et al., VLDB
    * 2012 recommend l = Θ(k); 2k is their benchmarked sweet spot). */
  val ParL: Int = 2 * K

  /** Fixed round count — the paper's point is that O(log n) rounds
    * beat k-means++'s k sequential passes; ~5 rounds suffice in
    * their experiments, 3 do here (fixture k = 10). */
  val ParRounds = 3

  /** Hard cap on selections accepted per round (lowest vec_ids
    * first) — E[selected] = l per round, but the coin flips are
    * unbounded above; the cap turns a pathological round into a
    * bounded driver collect. Mirrored in the oracle as ORDER BY
    * vec_id LIMIT. */
  val ParSelCap: Int = 4 * ParL

  /** r6 of the squared euclidean distance over the shared dims —
    * per-pair r6 then min keeps every fold partition-order-independent
    * and DuckDB-recomputable (the §8.5 bridge); the sequential
    * ascending fold over dims matches list_sum's order exactly. */
  private def r6SqDist(xs: Array[Float], cv: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(xs.length, cv.length)
    while (i < n) {
      val d = xs(i).toDouble - cv(i).toDouble
      s += d * d; i += 1
    }
    OracleMath.r6d(s)
  }

  private def sqDistTo(cand: Array[(Long, Array[Float])]) =
    (x: Seq[Float]) => {
      val xs = x.toArray
      var best = Double.MaxValue
      var c = 0
      while (c < cand.length) {
        val r = r6SqDist(xs, cand(c)._2)
        if (r < best) best = r
        c += 1
      }
      best
    }

  /** k-means|| scalable initialization (Bahmani et al., VLDB 2012) —
    * the production answer to "how do you SEED the coarse quantizer
    * at 100 TB": k-means++'s k sequential full passes are replaced by
    * [[ParRounds]] rounds that each sample ~[[ParL]] candidates in
    * PARALLEL with probability l·d²(x,C)/φ, then the oversampled
    * candidate set is weighted by how many points it attracts and
    * reduced to k centers (deterministic reduction: heaviest k by
    * (weight, id) — the candidates already cover every mass region,
    * which is the property the paper proves). The engine's Lloyd fit
    * ([[fit]]) keeps its lowest-k-ids init for fixture determinism of
    * every downstream IVF oracle; THIS op is the documented
    * at-scale seeding path, consumable via [[ivfTopKFrom]].
    *
    * Scale shape per round: candidates ride the task closure
    * (≤ 1 + rounds·[[ParSelCap]] small vectors — the broadcast-
    * centroid convention), the distance scan is map-only, φ is ONE
    * decimal-bridged scalar to the driver, and the selection collect
    * is bounded by [[ParSelCap]] (expected l). The final weighting is
    * one map-only argmin + a candidates-sized aggregation. Total:
    * O(rounds) scans, zero shuffles beyond the tiny weight groupBy —
    * vs k full passes for k-means++.
    *
    * Randomness is the [[graft.functions.CrossHash]] 60-bit md5
    * uniform u = h/2^60 keyed by (round, vec_id) — deterministic,
    * engine-independent, and replayed verbatim in the oracle. */
  def kmeansParInit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    var cand: Vector[(Long, Array[Float], Int)] = e
      .orderBy(col("vec_id")).limit(1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, 0)).toVector
    (1 to ParRounds).foreach { round =>
      val d2Udf = udf(sqDistTo(cand.map(c => (c._1, c._2)).toArray))
      val scored = e.withColumn("d2", d2Udf(col("embedding")))
      val phi = scored.agg(OracleMath.dsum(col("d2"))).head().getDouble(0)
      val u = graft.functions.CrossHash
        .md5Hash60Col(concat(lit(s"kpp:$round:"), col("vec_id").cast("string")))
        .cast("double") / lit(1152921504606846976.0)
      val sel = scored
        .filter(u < least(lit(1.0), lit(ParL.toDouble) * col("d2") / lit(phi)))
        .orderBy(col("vec_id")).limit(ParSelCap)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, round))
      cand = cand ++ sel
    }
    // weight = points attracted (argmin by (r6 d², candidate id))
    val candArr = cand.map(c => (c._1, c._2)).toArray
    val argminUdf = udf { (x: Seq[Float]) =>
      val xs = x.toArray
      var bestD = Double.MaxValue; var bestId = Long.MaxValue
      var c = 0
      while (c < candArr.length) {
        val r = r6SqDist(xs, candArr(c)._2)
        if (r < bestD || (r == bestD && candArr(c)._1 < bestId)) {
          bestD = r; bestId = candArr(c)._1
        }
        c += 1
      }
      bestId
    }
    val weights = e.withColumn("cid", argminUdf(col("embedding")))
      .groupBy(col("cid")).agg(count(lit(1)).as("weight"))
    val rounds = cand.map(c => (c._1, c._3.toLong)).toDF("cid", "sel_round")
    rounds.join(weights, Seq("cid"), "left")
      .select(col("cid").as("center_id"), col("sel_round"),
        coalesce(col("weight"), lit(0L)).as("weight"))
      .orderBy(col("weight").desc, col("center_id"))
      .limit(K)
  }

  /** Oracle: the rounds replay as MATERIALIZED CTE generations (cN =
    * candidates after round N; sN = round N's coin-flip winners,
    * capped in vec_id order), distances as per-pair r6'd list folds,
    * the coin as the shared CrossHash 60-bit uniform. */
  val kmeansParInitSql: String = {
    def sqd(a: String, b: String): String =
      s"""list_sum(list_transform(range(1, len($a) + 1),
         |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
    val u = graft.functions.CrossHash
      .sqlHash60("'kpp:' || r.rnd || ':' || CAST(d.vec_id AS VARCHAR)")
    val rounds = (1 to ParRounds).map { t =>
      s"""d$t AS MATERIALIZED (
         |  SELECT e.vec_id, MIN(round(${sqd("e.embedding", "c.embedding")}, 6) + 0) AS d2
         |  FROM embeddings e CROSS JOIN c${t - 1} c
         |  GROUP BY e.vec_id),
         |phi$t AS (SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) AS phi FROM d$t),
         |s$t AS MATERIALIZED (
         |  SELECT d.vec_id FROM d$t d CROSS JOIN phi$t CROSS JOIN (SELECT $t AS rnd) r
         |  WHERE $u / 1152921504606846976.0
         |        < LEAST(1.0, $ParL.0 * d.d2 / phi)
         |  ORDER BY d.vec_id LIMIT $ParSelCap),
         |c$t AS MATERIALIZED (
         |  SELECT * FROM c${t - 1}
         |  UNION ALL
         |  SELECT e.vec_id, e.embedding FROM embeddings e JOIN s$t USING (vec_id))"""
        .stripMargin
    }.mkString(",\n")
    val roundTags = (s"SELECT vec_id, CAST(0 AS BIGINT) AS sel_round FROM c0" +:
      (1 to ParRounds).map(t =>
        s"SELECT vec_id, CAST($t AS BIGINT) AS sel_round FROM s$t")).mkString("\nUNION ALL\n")
    s"""WITH c0 AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
       |$rounds,
       |tags AS ($roundTags),
       |nearest AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.vec_id AS cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${sqd("e.embedding", "c.embedding")}, 6) + 0, c.vec_id) AS rn
       |    FROM embeddings e CROSS JOIN c$ParRounds c)
       |  WHERE rn = 1),
       |w AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS weight FROM nearest GROUP BY cid)
       |SELECT t.vec_id AS center_id, t.sel_round,
       |  CAST(coalesce(w.weight, 0) AS BIGINT) AS weight
       |FROM tags t LEFT JOIN w ON w.cid = t.vec_id
       |ORDER BY weight DESC, center_id
       |LIMIT $K""".stripMargin
  }

  /** Retrain trigger for [[indexDriftReport]]: a batch whose mean
    * quantization error exceeds this multiple of the train-time error
    * flags the frozen quantizer as stale. */
  val DriftRetrainRatio = 1.5

  /** Frozen-quantizer drift monitor — the follow-through every
    * append path was missing: [[appendIvfIndex]] (and the PQ/RQ
    * twins) freeze centroids/codebooks from the sidecar for
    * bit-identity, but nothing measured when the data distribution
    * outgrew them. The corpus splits into the train slice
    * (vec_id % 4 < 3 — what a production index trained on) and two
    * append batches (vec_id % 4 = 3, alternating by vec_id div 4);
    * each vector's quantization error is its fused squared distance
    * to the nearest FROZEN centroid (the first-[[K]] init of the
    * train slice — the fit(iters=1) convention the IVF oracles
    * replay); each batch reports its mean error, the ratio to the
    * train-time error, and the retrain flag (ratio >
    * [[DriftRetrainRatio]] ⇒ schedule [[writeIvfIndex]] to a fresh
    * generation instead of more appends).
    *
    * Scale shape: the K·dim frozen quantizer rides the closure; ONE
    * map-only corpus scan, a 3-group aggregation, a 1-row broadcast
    * of the train baseline. At 100 TB the same report runs per
    * append batch against the persisted sidecar. */
  /** The frozen coarse quantizer the drift family scores against:
    * first-[[K]] vectors of the train slice (the fit(iters=1) init
    * convention the IVF oracles replay). At 100 TB this is the
    * persisted sidecar ([[readCentroids]]); here it derives from the
    * fixture so the registered query is self-contained. */
  def driftCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    t(s, dir, "embeddings")
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(col("vec_id") % 4 < 3)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(K).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** Per-row quantization error of ANY (vec_id, embedding) relation
    * under FROZEN centroids. Map-only; the K·dim model rides the
    * closure. */
  def driftErrors(e: DataFrame, cents: Array[Array[Double]]): DataFrame =
    e.select(col("vec_id"), r6(minDistUdf(cents)(col("embedding"))).as("err"))

  def indexDriftReport(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
    val cents = driftCentroids(s, dir)
    val batched = driftErrors(e, cents).select(
      when(col("vec_id") % 4 < 3, lit("train"))
        .when(expr("(vec_id div 4) % 2") === 0, lit("batch_0"))
        .otherwise(lit("batch_1")).as("batch"),
      col("err"))
    val agg = batched.groupBy(col("batch"))
      .agg(count(lit(1)).as("n"),
        r6(OracleMath.davg(col("err"))).as("avg_qerr"))
    val trainRow = agg.filter(col("batch") === "train")
      .select(col("avg_qerr").as("train_qerr"))
    agg.crossJoin(broadcast(trainRow))
      .select(col("batch"), col("n"), col("avg_qerr"),
        // a zero train error (perfectly quantized train slice) makes
        // the ratio degenerate: equal-zero batches report 1 (no
        // drift), any nonzero batch reports +Inf (maximal drift) —
        // total semantics, no ANSI divide-by-zero
        when(col("train_qerr") === 0,
          when(col("avg_qerr") === 0, lit(1.0))
            .otherwise(lit(Double.PositiveInfinity)))
          .otherwise(r6(col("avg_qerr") / col("train_qerr")))
          .as("err_ratio"))
      .withColumn("retrain",
        (col("err_ratio") > DriftRetrainRatio).cast("int"))
      .orderBy(col("batch"))
  }

  /** Oracle mirror: frozen centroids = first-K train-slice vectors,
    * per-vector MIN of the fused distance over the K-row cross join,
    * decimal-bridged batch means, ratio and flag off the rounded
    * aggregates. */
  val indexDriftReportSql: String =
    s"""WITH d_base AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS xx
       |  FROM embeddings WHERE vec_id <> ${VectorQueries.QueryVecId}),
       |d_cent AS MATERIALIZED (
       |  SELECT embedding AS c,
       |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS cc
       |  FROM (SELECT vec_id, embedding FROM d_base
       |        WHERE vec_id % 4 < 3 ORDER BY vec_id LIMIT $K)),
       |d_pv AS MATERIALIZED (
       |  SELECT vec_id,
       |    round(MIN((xx - 2 * list_sum(list_transform(range(1, len(b.embedding) + 1),
       |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c[i] AS DOUBLE)))) + cc), 6) + 0 AS err
       |  FROM d_base b CROSS JOIN d_cent
       |  GROUP BY vec_id, xx),
       |d_agg AS MATERIALIZED (
       |  SELECT CASE WHEN vec_id % 4 < 3 THEN 'train'
       |              WHEN (vec_id // 4) % 2 = 0 THEN 'batch_0'
       |              ELSE 'batch_1' END AS batch,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    round(CAST(SUM(CAST(err AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_qerr
       |  FROM d_pv GROUP BY 1)
       |SELECT batch, n, avg_qerr, err_ratio,
       |  CAST(err_ratio > $DriftRetrainRatio AS INT) AS retrain
       |FROM (
       |  SELECT a.batch, a.n, a.avg_qerr,
       |    CASE WHEN t.avg_qerr = 0 THEN
       |           CASE WHEN a.avg_qerr = 0 THEN 1.0 ELSE 'infinity'::DOUBLE END
       |         ELSE round(a.avg_qerr / t.avg_qerr, 6) + 0 END AS err_ratio
       |  FROM d_agg a CROSS JOIN (SELECT avg_qerr FROM d_agg WHERE batch = 'train') t)
       |ORDER BY batch""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "index_drift_report" -> (indexDriftReport _),
    "kmeans_par_init" -> (kmeansParInit _),
    "kmeans_clusters" -> (clusterProfile _),
    "cluster_silhouette" -> (clusterSilhouette _),
    "cluster_topics" -> (clusterTopics _),
    "semantic_dedup" -> (semanticDedup _),
    "semantic_decontam_cells" -> (semanticDecontaminateCells _),
    "bitext_mine" -> (bitextMine _),
    "semdedup_eps_sweep" -> (semdedupEpsSweep _),
    "cluster_sample" -> (clusterSample _),
    "proto_prune" -> (protoPrune _),
    "ann_ivf_topk" -> ((s, d) => ivfTopK(s, d)),
    "ann_ivf_batch" -> ((s, d) => ivfBatchTopK(s, d)),
    "ann_filtered_topk" -> ((s, d) => ivfFilteredTopK(s, d)))

  val oracles: Map[String, String] = Map(
    "index_drift_report" -> indexDriftReportSql,
    "kmeans_par_init" -> kmeansParInitSql,
    "kmeans_clusters" -> clusterProfileSql,
    "cluster_silhouette" -> clusterSilhouetteSql,
    "cluster_topics" -> clusterTopicsSql,
    "semantic_dedup" -> semanticDedupSql,
    "semantic_decontam_cells" -> semanticDecontaminateCellsSql,
    "bitext_mine" -> bitextMineSql,
    "semdedup_eps_sweep" -> semdedupEpsSweepSql,
    "cluster_sample" -> clusterSampleSql,
    "proto_prune" -> protoPruneSql,
    "ann_ivf_topk" -> ivfTopKSql,
    "ann_ivf_batch" -> ivfBatchTopKSql,
    "ann_filtered_topk" -> ivfFilteredTopKSql)
}
