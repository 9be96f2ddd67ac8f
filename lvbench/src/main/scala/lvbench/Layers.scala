package lvbench

import graft.Graft
import graft.embed.{EmbedOps, HashEmbedder}
import graft.index.{IndexManifest, VectorIndex}
import graft.ingest.{Chunker, Sources}
import graft.ops.Retrieval
import graft.query.Knn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}

/** The traced run's per-layer probes, made from outside the program
  * through each layer's public entry point. Run on both workloads, so
  * a change to one layer shows where it should and where it should
  * not. */
object Layers {

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Ingest → embed → index, materialized one layer further each time.
    * The layers fuse into one lazy plan, so a layer's self time is its
    * cumulative time minus the one before it. Medians of `reps`. */
  def ingestChain(spark: SparkSession, tr: Tracer, tree: Path, out: Path, reps: Int): Seq[Metric] = {
    val dir = tree.toString
    val spans = Seq("ingest.scan", "ingest.read", "ingest.chunk", "embed.embed", "index.write")
    var counts = Seq.empty[Metric]
    val cumulative = (0 until reps).map { r =>
      val op = -100 - r
      val scan = Sources.scan(spark, dir)
      val read = Sources.readTextFiles(spark, dir)
      val chunks = Chunker.chunkDF(read, "source", "content", Chunker.DefaultChunkSize)
      val embedded = EmbedOps.withEmbedding(chunks, "text", "embedding", HashEmbedder.default)
      val manifest = IndexManifest("", dir, HashEmbedder.default.kind, HashEmbedder.default.model,
        Chunker.DefaultChunkSize, out.toString)
      val steps: Seq[() => Unit] = Seq(
        () => materialize(scan), () => materialize(read), () => materialize(chunks),
        () => materialize(embedded), () => VectorIndex.write(embedded, out.toString, manifest))
      val t = spans.zip(steps).map { case (name, step) =>
        val t0 = System.nanoTime(); tr.span(name, op)(step()); ms(t0)
      }
      if (r == 0) counts = ingestCounts(spark, tree, read, out)
      t
    }
    val med = spans.indices.map(i => Stats.median(cumulative.map(_(i))))
    val self = med.head +: med.indices.tail.map(i => med(i) - med(i - 1))
    Seq("ingest.scan_ms", "ingest.read_self_ms", "ingest.chunk_self_ms",
      "embed.embed_self_ms", "index.write_self_ms").zip(self).map { case (n, v) => Metric(n, v, "ms") } ++
      counts
  }

  private def ingestCounts(spark: SparkSession, tree: Path, read: DataFrame, out: Path): Seq[Metric] = {
    val all = Files.walk(tree).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
    val listed = all.length.toDouble
    val kept = read.count().toDouble
    val v = VectorIndex.readVectors(spark, out.toString)
      .agg(count(lit(1)), sum(when(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x) === 0.0, 1).otherwise(0)))
      .head()
    val parts = Files.list(out.resolve(VectorIndex.VectorsDir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    Seq(
      Metric("ingest.files_listed", listed, "count"),
      Metric("ingest.files_kept", kept, "count"),
      Metric("ingest.keep_ratio", kept / listed, "ratio"),
      Metric("ingest.bytes_in", all.map(Files.size).sum.toDouble, "bytes"),
      Metric("ingest.chunks", v.getLong(0).toDouble, "count"),
      Metric("embed.vectors", v.getLong(0).toDouble, "count"),
      Metric("embed.zero_vectors", v.getLong(1).toDouble, "count"),
      Metric("index.bytes_written", parts.map(Files.size).sum.toDouble, "bytes"),
      Metric("index.files_written", parts.length.toDouble, "count"))
  }

  /** Per question: each query layer on its own, then the session's
    * `ask` and `askHybrid` with the engine counters around them. */
  def query(spark: SparkSession, tr: Tracer, session: Graft.AskSession, index: Path,
      questions: Seq[String]): Seq[Metric] = {
    val storage = spark.sparkContext.getRDDStorageInfo
    val cachedFrac = storage.map(_.numCachedPartitions).sum.toDouble /
      math.max(1, storage.map(_.numPartitions).sum)
    val vectors = VectorIndex.readVectors(spark, index.toString)
      .withColumn("_uid", concat_ws("\u0000", col("source"), col("chunk_index")))
      .persist()
    materialize(vectors)
    val rows = questions.zipWithIndex.map { case (q, i) =>
      val op = -200 - i
      val t0 = System.nanoTime()
      val qv = tr.span("embed.question", op)(EmbedOps.embedLiteral(q, HashEmbedder.default))
      val embedUs = ms(t0) * 1000
      val t1 = System.nanoTime()
      tr.span("query.topk", op)(
        Knn.topK(vectors.select("_uid", "embedding"), qv, 5, idCol = "_uid").collect())
      val topk = ms(t1)
      val t2 = System.nanoTime()
      val hits = tr.span("query.fetch", op)(Knn.topKWithFetch(vectors, qv, 5, idCol = "_uid",
        fetchCols = Seq("id", "source", "chunk_index", "text")).cache())
      tr.span("query.fetch", op)(hits.count())
      val fetch = ms(t2)
      val t3 = System.nanoTime()
      tr.span("query.assemble", op)(Knn.assembleContext(hits).head())
      val assemble = ms(t3)
      hits.unpersist()
      val t4 = System.nanoTime()
      tr.span("ops.bm25", op)(Retrieval
        .bm25Score(vectors.select("_uid", "text"), "_uid", "text", HashEmbedder.tokenize(q).distinct.toSeq)
        .filter(col("score") > 0).orderBy(col("score").desc, col("_uid"))
        .limit(Retrieval.FuseDepth).collect())
      val bm25 = ms(t4)
      val (askC, askMs) = around(tr, "query.ask", op)(session.ask(q))
      val (hybC, hybMs) = around(tr, "query.ask_hybrid", op)(session.askHybrid(q))
      Seq(embedUs, topk, fetch - topk, assemble, bm25,
        askC.jobs, askC.tasks, askC.catalystMs, askC.busyMs / askMs,
        hybC.jobs, hybC.tasks, hybC.catalystMs, hybC.busyMs / hybMs)
    }
    vectors.unpersist()
    val names = Seq(
      "embed.question_us" -> "us", "query.topk_ms" -> "ms", "query.fetch_self_ms" -> "ms",
      "query.assemble_ms" -> "ms", "ops.bm25_ms" -> "ms",
      "spark.jobs_per_ask" -> "count", "spark.tasks_per_ask" -> "count",
      "spark.catalyst_ms_per_ask" -> "ms", "spark.task_share_ask" -> "ratio",
      "spark.jobs_per_hybrid" -> "count", "spark.tasks_per_hybrid" -> "count",
      "spark.catalyst_ms_per_hybrid" -> "ms", "spark.task_share_hybrid" -> "ratio")
    names.zipWithIndex.map { case ((n, u), i) => Metric(n, Stats.median(rows.map(_(i))), u) } :+
      Metric("query.index_cached_frac", cachedFrac, "ratio")
  }

  /** Counters and wall time of one operation. */
  def around[T](tr: Tracer, name: String, op: Int)(body: => T): (Counts, Double) = {
    val c0 = tr.counts()
    val t0 = System.nanoTime()
    tr.span(name, op)(body)
    val wall = ms(t0)
    (tr.counts() - c0, wall)
  }

  /** Engine totals over a measured window of `wallS` seconds. */
  def window(c: Counts, wallS: Double, ops: Int): Seq[Metric] = {
    val cores = Runtime.getRuntime.availableProcessors
    val busyS = c.busyMs / 1e3
    Seq(
      Metric("spark.tasks", c.tasks.toDouble, "count"),
      Metric("spark.task_busy_s", busyS, "s"),
      Metric("spark.cpu_s", c.cpuNs / 1e9, "s"),
      Metric("spark.idle_core_s", wallS * cores - busyS, "s"),
      Metric("spark.utilization", busyS / (wallS * cores), "ratio"),
      Metric("spark.shuffle_bytes", c.shuffleBytes.toDouble, "bytes"),
      Metric("spark.spill_bytes", c.spillBytes.toDouble, "bytes"),
      Metric("spark.gc_ms", c.gcMs.toDouble, "ms"),
      Metric("spark.task_failures", c.taskFailures.toDouble, "count"),
      Metric("spark.jobs_per_op", c.jobs.toDouble / ops, "count"),
      Metric("spark.tasks_per_op", c.tasks.toDouble / ops, "count"),
      Metric("spark.catalyst_ms_per_op", c.catalystMs.toDouble / ops, "ms"),
      Metric("spark.task_share", busyS / wallS, "ratio"))
  }
}
