package graft

import graft.embed.EmbedOps
import graft.ops.Relational
import graft.query.Knn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Physical-plan hygiene (the 100 TB contract): filters push to the
  * parquet scan, column pruning reaches the reader, dim joins
  * broadcast, top-k never global-sorts. These assert the *plan*, not
  * the result — regressions here are silent at test scale and fatal
  * at cluster scale. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("q01: shipdate predicate is pushed to the parquet scan") {
    val plan = Relational.pricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"plan: $plan")
  }

  test("q02: dim tables join via BroadcastHashJoin, no cartesian") {
    val plan = Relational.revenueByNation(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("knn topKWithFetch: scoring scan prunes the text column") {
    // build a real parquet chunk index with a fat text column
    val dir = Files.createTempDirectory("graft-plan").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val chunks = docs.selectExpr("concat('d', doc_id) AS id", "text", "source")
    EmbedOps.withEmbedding(chunks, "text").write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)

    val q = EmbedOps.embedLiteral("anything")
    val fetched = Knn.topKWithFetch(index, q, k = 3, idCol = "id",
      fetchCols = Seq("source", "text"))
    val plan = fetched.queryExecution.executedPlan.toString
    // two scans: the scoring one must read only (id, embedding)
    val scanSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(scanSchemas.exists(s => s.contains("embedding") && !s.contains("text")),
      s"no pruned scoring scan found: $scanSchemas")
    assert(fetched.columns.contains("text"))
    // and the payload fetch is a broadcast join of the k-row side
    assert(plan.contains("BroadcastHashJoin"), s"plan: $plan")
  }

  test("exact knn never global-sorts: TakeOrderedAndProject, no Sort+Exchange") {
    val index = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumnRenamed("vec_id", "id")
    val plan = Knn.topK(index, EmbedOps.embedLiteral("q"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
  }

  test("decontaminate: benchmark gram set broadcasts; corpus side never shuffles pre-join") {
    val plan = graft.ops.Curation.decontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan: $plan")
  }

  test("sample_hash: scan prunes to (doc_id, lang) — no text read") {
    val plan = graft.ops.Curation.sampleHash(spark, sf)
      .queryExecution.executedPlan.toString
    val scanSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(scanSchemas.nonEmpty && scanSchemas.forall(s => !s.contains("text")),
      s"text column must be pruned from the sampling scan: $scanSchemas")
  }

  test("q25: correlated subquery decorrelates to aggregate + join") {
    val plan = Relational.correlatedSubquery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalarSubquery"),
      "per-row subquery re-execution must be rewritten away")
    assert(plan.contains("Join"), s"decorrelated join expected: $plan")
  }

  test("bm25: one token shuffle, stats broadcast, no per-term joins") {
    val plan = graft.ops.Retrieval.bm25Topk(spark, sf)
      .queryExecution.executedPlan.toString
    // corpus stats arrive as a broadcast nested-loop of ONE row, not
    // a shuffle join; the only hash joins would be per-term lookups
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"per-term shuffle join crept in: $plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort: $plan")
  }

  test("hybrid rrf: both candidate lists are TakeOrderedAndProject, never a global sort") {
    val plan = graft.ops.Retrieval.hybridRrf(spark, sf)
      .queryExecution.executedPlan.toString
    val topk = "TakeOrderedAndProject".r.findAllMatchIn(plan).size
    assert(topk >= 2, s"expected both top-L lists as TakeOrderedAndProject: $plan")
  }

  test("chunk pipeline is map-only: no exchange before the index write") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(concat(lit("doc/"), col("doc_id")).as("source"),
        translate(col("text"), " ", "\n").as("content"))
    val chunks = EmbedOps.withEmbedding(
      graft.ingest.Chunker.chunkDF(docs, "source", "content", 200), "text")
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in ingest: $plan")
  }

  test("semantic_dedup: self-join keyed on cluster — never a cartesian") {
    val plan = graft.ops.KMeansVec.semanticDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan: $plan")
  }

  test("embed_neardup triangle: co-partitioned equi-join, no cartesian/BNLJ") {
    val plan = graft.ops.VectorQueries.embedNeardupTriangle(spark, sf, blocks = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan: $plan")
  }

  test("source_curation: single aggregation pass, scan pruned to its four columns") {
    val plan = graft.ops.Curation.sourceCuration(spark, sf)
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // one scan, reading only source/n_chars/text (fp and ttr derive
    // from text) — doc_id and lang never leave the reader
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("doc_id") && !s.contains("lang")), s"schemas: $schemas")
  }

  test("dedup_incremental: batch-vs-corpus candidates via equi-join, no cartesian/BNLJ") {
    val plan = graft.ops.Dedup.dedupIncremental(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan: $plan")
  }

  test("norm_dedup: one shuffle, keyed on the 16-byte norm key (not the text)") {
    val plan = graft.ops.Dedup.normDedup(spark, sf)
      .queryExecution.executedPlan.toString
    // text is consumed map-side by the md5(normalize(...)) projection;
    // the single exchange hash-partitions on the digest key only
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges: $plan")
    assert(plan.contains("Exchange hashpartitioning(norm_key"), s"plan: $plan")
  }

  test("seq_pack: exactly one shuffle (the per-source pack), then partial aggs") {
    val plan = graft.ops.Curation.seqPack(spark, sf)
      .queryExecution.executedPlan.toString
    // the per-source collect + the (source, seq) rollup hash-partition
    // on the SAME source-prefixed key: no extra exchanges beyond them
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"$exchanges exchanges: $plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("tfidf: vocabulary join carries no broadcast hint (driver-OOM guard at web scale)") {
    // the df side is one row per distinct word — billions at corpus
    // scale. The LOGICAL plan must not pin it as a broadcast; AQE may
    // still choose one at runtime when the measured size is small,
    // which is exactly the desired behavior.
    // the single legitimate hint is the 1-row corpus-size aggregate
    val hinted = graft.ops.TextOps.tfidfTopTerms(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
             j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    assert(hinted.size <= 1, s"only the 1-row n_docs side may be hinted, got: $hinted")
  }

  test("unigram_logprob: vocabulary join carries no broadcast hint (same web-scale guard)") {
    // vocab is one row per distinct token — unbounded at corpus
    // scale; only the 1-row corpus-total aggregate may stay hinted
    val hinted = graft.ops.Retrieval.unigramLogprob(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
             j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    assert(hinted.size <= 1, s"only the 1-row total side may be hinted, got: $hinted")
  }

  test("bigram_logprob: map-side bigrams — no cartesian, no static hints on vocab sides") {
    val df = graft.ops.Retrieval.bigramLogprob(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.isEmpty, s"bigram/left-marginal sides are vocab-sized: $hinted")
  }

  test("source_kl: no static hints on the vocab-sized marginal joins") {
    val hinted = graft.ops.Curation.sourceKl(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
             j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    assert(hinted.size <= 1, s"only the 1-row corpus total may be hinted: $hinted")
  }

  test("embed_outliers: bounded top-20 via TakeOrderedAndProject, centroid join broadcast") {
    val plan = graft.ops.Outliers.embedOutliers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"global sort instead of top-k:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"centroid/stats join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q17: supplier side carries no broadcast hint (dim grows with scale factor)") {
    // nation/region are fixed-size dims; supplier is ~SF·10k rows —
    // an explicit hint would pin a ~1B-row broadcast at the 100 TB SF
    val hinted = graft.ops.Relational.supplierParts(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
             j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    assert(hinted.isEmpty, s"no join in q17 may carry a static hint, got: $hinted")
  }

  test("ann_ivf_batch: probe-side broadcast is size-gated — un-hinted plan above the cap") {
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
             j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    // below the cap (fixture: 3 queries) the explicit hint is the
    // deliberate, bounded choice — exactly one hinted join
    assert(hints(graft.ops.KMeansVec.ivfBatchTopK(spark, sf)).size == 1)
    // above the cap the hint must vanish so AQE picks the strategy
    // from the measured batch size (driver-OOM guard at serving scale)
    assert(hints(graft.ops.KMeansVec.ivfBatchTopK(spark, sf, broadcastCap = 0)).isEmpty,
      "query-batch side must not carry a static hint above the cap")
  }

  test("ann_graph_batch above the cap: no broadcast anywhere, no cartesian") {
    val plan = graft.ops.GraphAnn.annGraphBatchTopk(spark, sf, broadcastCap = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), s"plan: $plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan: $plan")
    assert(!plan.contains("BroadcastExchange"), s"plan: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("ann_graph_topk: one shard exchange, candidates merge via TakeOrdered — no global sort") {
    val plan = graft.ops.GraphAnn.annGraphTopk(spark, sf)
      .queryExecution.executedPlan.toString
    // exactly the repartition(Shards, vec_id) that defines graph
    // membership; per-partition search emits ≤ k rows each, so the
    // final top-k is a bounded-heap TakeOrderedAndProject
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges: $plan")
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("embed_whiten: the whitened view is map-only — no exchange, no join") {
    val plan = graft.ops.Pca.whitenAll(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan: $plan")
    assert(!plan.contains("Join"), s"plan: $plan")
  }

  test("source_pagerank: rank walk is all equi-joins — no cartesian, 1-row masses broadcast") {
    val plan = graft.ops.PageRank.sourcePagerank(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // the dangling-mass scalar rides a broadcast, never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"plan: $plan")
  }

  test("source_triangles: oriented wedge + closing joins are equi-joins — no cartesian/BNLJ") {
    val plan = graft.ops.PageRank.sourceTriangles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan: $plan")
  }

  test("dataset_card: rollup plans ONE Expand over one documents scan") {
    val plan = graft.ops.Curation.datasetCard(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"plan: $plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"$scans scans: $plan")
  }

  test("source_communities: label walk is all equi-joins and node-keyed windows — no cartesian") {
    val plan = graft.ops.PageRank.sourceCommunities(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan: $plan")
    // every vote-pick window is node-partitioned, never a global sort
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcSpecs = "windowspecdefinition\\(source#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == srcSpecs, s"unpartitioned window: $plan")
  }

  test("ann_bq_topk: both phases bounded top-k, query resolved driver-side — no join at all") {
    val plan = graft.ops.Bq.bqTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    // the query fingerprint rides the UDF closure; the corpus pass is
    // a pure scan→shortlist pipeline with no join of any kind
    assert(!plan.contains("Join"), s"plan: $plan")
  }

  test("ann_sq4_topk: both phases bounded top-k, query quantized driver-side — no join at all") {
    val plan = graft.ops.Quantize.sq4TopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    assert(!plan.contains("Join"), s"plan: $plan")
  }

  test("quality_calibrated: exactly the source-keyed window — no global-sort window partition") {
    val plan = graft.ops.Retrieval.qualityCalibrated(spark, sf)
      .queryExecution.executedPlan.toString
    // a percent_rank over the WHOLE corpus would plan a single-
    // partition window ("Window ... ORDER BY" with no partition
    // spec); the calibrated form must key every window by source
    assert(plan.contains("windowspecdefinition(source#"), s"plan: $plan")
    // every window in the plan is source-partitioned
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcSpecs = "windowspecdefinition\\(source#".r.findAllIn(plan).size
    assert(allSpecs == srcSpecs, s"unpartitioned window present: $plan")
  }

  test("length_bias_report: cutoffs broadcast back, no corpus sort, windows source-keyed only") {
    val df = graft.ops.Curation.lengthBiasReport(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // bucketing must ride the broadcast cutoff scalars (ppl_buckets
    // pattern) — no window keyed on anything but source, and no
    // global sort of n_chars
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcSpecs = "windowspecdefinition\\(source#".r.findAllIn(plan).size
    assert(allSpecs == srcSpecs, s"unkeyed window present: $plan")
    assert(!plan.contains("Sort [n_chars"), s"corpus length sort present: $plan")
  }

  test("filter_agreement: one doc-keyed equi-join, windows only source-keyed, kappa on a 1-row broadcast") {
    val df = graft.ops.Curation.filterAgreement(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // the only window is qualityCalibrated's source-keyed percent_rank
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcSpecs = "windowspecdefinition\\(source#".r.findAllIn(plan).size
    assert(allSpecs == srcSpecs, s"unkeyed window present: $plan")
  }

  test("semdedup_eps_sweep: cluster-keyed pair join, grid never meets the corpus") {
    val df = graft.ops.KMeansVec.semdedupEpsSweep(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the within-cell pair join must stay the cluster-keyed equi-join
    // (semantic_dedup's shape); the only cross joins are the 3-row
    // grid against the near-dup-sized pairs and the 1-row denominator
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    val cartesians = "CartesianProduct|BroadcastNestedLoopJoin".r.findAllIn(
      plan.split("== Initial Plan ==")(0)).size
    assert(cartesians <= 2, s"corpus-sized cross join present ($cartesians): $plan")
  }

  test("source_overlap_report: attribution joins hint-free, no cartesian/window") {
    val df = graft.ops.Dedup.sourceOverlapReport(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.isEmpty, s"a static hint crept onto an attribution join: $hinted")
  }

  test("boilerplate_scrub: no cartesian/window; df and rebuild joins hint-free") {
    val df = graft.ops.Curation.boilerplateScrub(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    // (source, hash) df join and the doc-keyed text rejoin both scale
    // with the corpus — no static broadcast hints anywhere (AQE
    // decides); the rebuild itself is a map-only array filter
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.isEmpty, s"a static hint crept onto a corpus-sized join: $hinted")
  }

  test("minhash_perm_sweep: no cartesian, signature joins hint-free, grid rides map-side") {
    val df = graft.ops.Dedup.minhashPermSweep(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    // the corpus-sized signature relation joins the truth pairs on
    // doc_id without a static broadcast hint (AQE decides); only the
    // 3-row grid may carry one
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.isEmpty, s"a static hint crept onto a sweep join: $hinted")
  }

  test("proto_prune: map-only scoring, every window keyed by cluster, no join") {
    val plan = graft.ops.KMeansVec.protoPrune(spark, sf)
      .queryExecution.executedPlan.toString
    // centroids ride the UDF closure (like assignment), so the plan
    // must contain no join at all; the rank and the cell size must
    // share the cluster-keyed window partition — a global (orderless-
    // partition) window would serialize the corpus through 1 reducer
    assert(!plan.contains("Join"), s"plan: $plan")
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val clSpecs = "windowspecdefinition\\(cluster#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == clSpecs, s"unkeyed window present: $plan")
  }

  test("bloom_decontaminate: corpus probe is join-free — the bitset rides the closure") {
    val plan = graft.ops.Bloom.bloomDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    // the exact variant pays a broadcast hash join + a doc_id
    // aggregation; the bloom probe must be a pure scan→UDF→filter
    // pipeline with no join and no aggregation exchange at all
    assert(!plan.contains("Join"), s"plan: $plan")
    assert(!plan.contains("HashAggregate"), s"plan: $plan")
  }

  test("jl_project: transform is map-only — no join, no aggregation, vec_id filter pushed") {
    val plan = graft.ops.RandomProjection.jlProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"plan: $plan")
    assert(!plan.contains("HashAggregate"), s"plan: $plan")
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"),
      s"plan: $plan")
  }

  test("cluster_topics: cf join un-hinted (vocab-sized), window keyed by cluster") {
    val df = graft.ops.KMeansVec.clusterTopics(spark, sf)
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    // the single legitimate hint is the 1-row cluster-count aggregate
    assert(hinted.size <= 1, s"only the 1-row nc side may be hinted: $hinted")
    val plan = df.queryExecution.executedPlan.toString
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val cSpecs = "windowspecdefinition\\(cluster#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == cSpecs, s"unkeyed window: $plan")
  }

  test("dedup_jaccard_prefix: frequency join carries no broadcast hint (vocab-sized side)") {
    // df is one row per distinct shingle — unbounded at corpus scale
    val hinted = graft.ops.Dedup.dedupJaccardPrefix(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
             j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
    assert(hinted.isEmpty, s"no side of the prefix pipeline may be hinted: $hinted")
  }

  test("cluster_silhouette: map-only scoring — one cluster-keyed aggregation, no joins") {
    val plan = graft.ops.KMeansVec.clusterSilhouette(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"silhouette must not join: $plan")
    assert(!plan.contains("CartesianProduct"))
    // the only exchange is the final cluster-keyed aggregation
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"$exchanges exchanges: $plan")
  }

  test("knn_label_eval: bounded probe side broadcasts; windows keyed by query_id") {
    val df = graft.ops.VectorQueries.knnLabelEval(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probe slice must broadcast: $plan")
    assert(!plan.contains("CartesianProduct"))
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val qSpecs = "windowspecdefinition\\(query_id#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == qSpecs, s"unkeyed window: $plan")
  }

  test("jm_logprob: no static hints on the three vocab-sized model joins") {
    val df = graft.ops.Retrieval.jmLogprob(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    // the single legitimate hint is the 1-row corpus-total aggregate
    assert(hinted.size <= 1, s"only the 1-row total side may be hinted: $hinted")
  }

  test("rep_ngrams: scan prunes to (doc_id, text); shuffles key on doc-scoped groups") {
    val df = graft.ops.TextOps.repNgrams(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    val scanSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(scanSchemas.nonEmpty && scanSchemas.forall(s =>
        s.contains("doc_id") && s.contains("text") && !s.contains("lang")),
      s"scan must read only (doc_id, text): $scanSchemas")
  }

  test("zipf_fit: vocabulary head via TakeOrderedAndProject — never a global vocab sort") {
    val plan = graft.ops.TextOps.zipfFit(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("vocab_coverage: bounded top-grid head, corpus total never joins the vocab side") {
    val plan = graft.ops.TextOps.vocabCoverage(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("ccnet_sample: cutoffs ride a 1-row broadcast; selection is window-free and sort-free") {
    val df = graft.ops.Retrieval.ccnetSample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // CCNet's literal recipe sorts the corpus by score; this form must
    // bucket via two broadcast scalars instead — no window, and no
    // sort other than the 3-row final ORDER BY (never one keyed on the
    // per-doc score column)
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    assert(!plan.contains("Sort [avg_nll"), s"corpus-wide score sort present: $plan")
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.forall(
        _.joinType == org.apache.spark.sql.catalyst.plans.Cross),
      s"a keyed join carries a hint: $hinted")
  }

  test("excess_select: only 1-row sides carry hints (corpus total + percentile cut)") {
    val df = graft.ops.Retrieval.excessSelect(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    // the only legitimate hints are 1-row scalar sides (corpus total,
    // percentile cut) riding CROSS joins; the vocab/bigram model
    // equi-joins must stay hint-free (the tfidf rule)
    assert(hinted.forall(
        _.joinType == org.apache.spark.sql.catalyst.plans.Cross),
      s"a keyed join carries a hint: $hinted")
  }

  test("ivf_probe_sweep: every sweep point is a bounded top-k; no cartesian anywhere") {
    val plan = graft.ops.AnnEval.ivfProbeSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val heads = "TakeOrderedAndProject".r.findAllIn(plan).size
    assert(heads >= graft.ops.AnnEval.ProbeGrid.size,
      s"one bounded head per sweep point: $heads")
  }

  test("token_budget_sample: windows keyed by source — no global-sort window") {
    val plan = graft.ops.Curation.tokenBudgetSample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val keyed = "windowspecdefinition\\(source#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == keyed, s"unkeyed window: $plan")
  }

  test("best_passage: bounded top-k head; chunk stats ride a 1-row broadcast — no cartesian") {
    val plan = graft.ops.Retrieval.bestPassage(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("hubness_report: probes broadcast; every window keyed by query_id") {
    val plan = graft.ops.AnnEval.hubnessReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val keyed = "windowspecdefinition\\(query_id#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == keyed, s"unkeyed window: $plan")
  }

  test("media_dedup: postings shuffle carries fingerprints, pairs expand map-side — no cartesian/SMJ") {
    val plan = graft.ops.Multimodal.mediaDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("SortMergeJoin"), s"pairs must expand from postings, not a join: $plan")
  }

  test("lsh_band_sweep: one bucket exchange serves all bandings; no cartesian pair join") {
    val plan = graft.ops.Dedup.lshBandSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // candidate pairs come from per-bucket expansion, never a
    // corpus-side self-join: the only SMJ allowed is the audit's
    // pair-keyed full-outer against the truth relation
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    assert(smj <= 2, s"pair generation must stay join-free: $plan")
  }

  test("minhash_lsh: hot-bucket cap sits BELOW the member aggregate (pre-materialization)") {
    val full = graft.ops.Dedup.minhashLsh(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // children print after parents: the bucket_n cap filter must be a
    // descendant of the collect_list aggregate, so no member list is
    // ever materialized for a bucket the cap rejects
    val aggIdx = plan.indexOf("collect_list")
    val capIdx = plan.indexOf("bucket_n")
    assert(aggIdx >= 0 && capIdx >= 0 && aggIdx < capIdx,
      s"cap must be below the member aggregate: $plan")
    // est is scored map-side in the bucket expansion — the 64-hash
    // signatures never ride the pair-distinct shuffle
    val distinctAgg = "HashAggregate\\(keys=\\[doc_a[^\\]]*\\]".r.findFirstIn(plan)
    assert(distinctAgg.exists(!_.contains("sig")),
      s"signatures must not ride the distinct shuffle: $distinctAgg")
  }

  test("kn_logprob: hint-free model joins, no cartesian beyond the 1-row ntypes broadcast") {
    val df = graft.ops.Retrieval.knLogprob(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
           j.hint.rightHint.exists(_.strategy.isDefined) => j
    }
    assert(hinted.size <= 1, s"only the 1-row ntypes side may be hinted: $hinted")
  }

  test("index_drift_report: map-only scoring — no sort-merge join, no cartesian") {
    val plan = graft.ops.KMeansVec.indexDriftReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the baseline is a 1-row broadcast, never a shuffle join: $plan")
  }

  test("media_phash_dedup: cap below the member aggregate; pairs expand map-side") {
    val full = graft.ops.Multimodal.mediaPhashDedup(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("SortMergeJoin"), s"pairs must expand from buckets: $plan")
    val aggIdx = plan.indexOf("collect_list")
    val capIdx = plan.indexOf("bucket_n")
    assert(aggIdx >= 0 && capIdx >= 0 && aggIdx < capIdx,
      s"cap must sit below the member aggregate: $plan")
  }

  test("ppl_buckets_approx: sketch cutoffs broadcast back — no global sort, no window") {
    val plan = graft.ops.Retrieval.pplBucketsApprox(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("approx_percentile") || plan.contains("percentile_approx"),
      s"cutoffs must come from the sketch aggregate: $plan")
    assert(!plan.contains("windowspecdefinition"), s"bucketing must be map-only: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("boilerplate_report: block df joins hint-free on (source, hash); no cartesian") {
    val plan = graft.ops.Curation.boilerplateReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"), s"no window needed: $plan")
  }

  test("kmeans_par_init: weighting is one map-only argmin + tiny aggregation") {
    val plan = graft.ops.KMeansVec.kmeansParInit(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("SortMergeJoin"),
      s"candidate tags are driver-local — must broadcast: $plan")
    assert(plan.contains("HashAggregate"), s"plan: $plan")
  }

  test("contrastive_triplets: anchors broadcast; one scan feeds one grouped argmin") {
    val plan = graft.ops.Rerank.contrastiveTriplets(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"anchor side must broadcast: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must never shuffle for 3 anchors: $plan")
  }

  test("substr_dedup: min-struct survivorship — no corpus window, no cartesian") {
    val plan = graft.ops.Dedup.substrDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // first-occurrence selection is ONE aggregation per window hash,
    // never a rank window over the posting stream
    assert(!plan.contains("WindowExec") && !plan.contains("windowspecdefinition"),
      s"survivorship must be the min-struct aggregate, not a window: $plan")
  }

  test("bitext_mine: cell-keyed candidates only; every window keyed per vector") {
    val plan = graft.ops.KMeansVec.bitextMine(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    val keyed = "windowspecdefinition\\([xy]#".r.findAllIn(plan).size
    assert(allSpecs > 0 && allSpecs == keyed,
      s"every window must partition per vector ($keyed/$allSpecs): $plan")
  }

  test("quality_ensemble: extrema ride a 1-row broadcast; fusion is window-free") {
    val plan = graft.ops.Curation.qualityEnsemble(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(plan.contains("Broadcast"), s"min/max must broadcast back: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"min-max normalization needs no rank window: $plan")
  }

  test("curriculum_order: tertile cutoffs broadcast; no rank window materializes an ordinal") {
    val plan = graft.ops.Retrieval.curriculumOrder(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(plan.contains("Broadcast"), s"cutoffs must broadcast: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"the order is a sort, never a global ordinal window: $plan")
  }

  test("hilbert_key: map-only keying — no join anywhere") {
    val plan = graft.ops.Maintenance.hilbertKey(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"plan: $plan")
  }

  test("langid_ngram: map-only closure scoring — no join, no aggregation before the output sort") {
    val plan = graft.ops.TextOps.langidNgram(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"scoring must be one closure pass: $plan")
    assert(!plan.contains("HashAggregate"),
      s"per-doc terms fold inside the UDF, never in an exchange: $plan")
  }

  test("homoglyph_dedup: one map pass + one 16-byte-key window — no join anywhere") {
    val plan = graft.ops.Dedup.homoglyphDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"skeleton hashing is map-only: $plan")
    val specs = "windowspecdefinition\\(skel_key".r.findAllIn(plan).size
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    assert(all > 0 && specs == all,
      s"every window must partition on the skeleton key ($specs/$all): $plan")
  }

  test("soft_dedup_weights: corpus pays one join against the narrow component relation") {
    val plan = graft.ops.Dedup.softDedupWeights(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"weights are arithmetic, never a window: $plan")
  }

  test("memorization_spans: islands window is DOC-keyed; survivorship never windows the posting stream") {
    val plan = graft.ops.Dedup.memorizationSpans(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"every window must partition per doc ($docKeyed/$all): $plan")
  }

  test("substr_dedup_maximal: islands window DOC-keyed; survivorship is min-struct, never a posting-stream window") {
    val plan = graft.ops.Dedup.substrDedupMaximal(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // the only windows are the per-doc islands ordinal — the
    // first-occurrence election must stay a min-struct aggregation
    // (a corpus-wide window over the posting stream would put a
    // 10^6-occurrence boilerplate window on one task)
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"every window must partition per doc ($docKeyed/$all): $plan")
  }

  test("dedup_funnel: survivor windows key on text/norm hashes; no cartesian") {
    val plan = graft.ops.Dedup.dedupFunnel(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    // every window partition key must be one of the pre-projected
    // 16-byte md5 keys — raw text as a key would ship full documents
    // through the exchange and serialize a mega-duplicate class onto
    // one task
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val hashKeyed = "windowspecdefinition\\([tn]key".r.findAllIn(plan).size
    assert(all > 0 && hashKeyed == all,
      s"every survivor window must key on tkey/nkey md5 hashes ($hashKeyed/$all): $plan")
    assert(!plan.contains("windowspecdefinition(text"),
      s"no window may partition on raw text: $plan")
  }

  test("ngram_coverage: one gram stream, (n, gram-hash)-keyed distinct + probe, no window") {
    val plan = graft.ops.TextOps.ngramCoverage(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"coverage is joins + aggregates, never a window: $plan")
    // every exchange must key on the 60-bit gram hash, never the raw
    // gram string — the string would carry ~5-10× the shuffle bytes
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toList
    assert(parts.nonEmpty && parts.forall(p => !p.matches(".*\\bg#.*")),
      s"no exchange may carry the raw gram column: $parts")
  }

  test("heaps_fit: octile scalars broadcast; windows only over the bounded 8-row curve") {
    val df = graft.ops.TextOps.heapsFit(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(plan.contains("Broadcast"), s"the max-id scalar must broadcast: $plan")
    // ONE Window exec hosts both cumulative frames, and its input is
    // the literal 8-row grid (grid-constant partition key) — never a
    // corpus-wide ordinal
    val execs = "Window \\[".r.findAllIn(plan).size
    assert(execs == 1, s"one bounded window exec: $plan")
    // the key is pre-projected (`_wN = WindowKeys.boundedRankKey(b)`)
    // before the exec
    assert("least\\(length\\(cast\\(b#\\d+L as string\\)\\), 0\\) AS _w\\d".r
      .findAllIn(plan).nonEmpty,
      s"window must key on the grid-constant boundedRankKey(b): $plan")
  }

  test("decontam_spans: islands window DOC-keyed; benchmark probe is a semi-join, no cartesian") {
    val plan = graft.ops.Curation.decontamSpans(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(plan.contains("LeftSemi"), s"benchmark membership must probe as a semi-join: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"every window must partition per doc ($docKeyed/$all): $plan")
  }

  test("collocation_pmi: count floor below the unigram joins; scalars broadcast; no window") {
    val df = graft.ops.TextOps.collocationPmi(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"), s"joins + aggregates only: $plan")
    assert(plan.contains("BroadcastExchange"), s"the N/B scalars must broadcast: $plan")
    // the cxy >= floor filter must sit BELOW the unigram joins in the
    // tree (children print after parents), so only surviving
    // collocations ever join the vocabulary counts
    val full = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i => plan.substring(0, i)
    }
    val joinIdx = full.indexOf("Join")
    val floorIdx = full.indexOf("Filter (cxy#")
    assert(joinIdx >= 0 && floorIdx > joinIdx,
      s"count floor must apply before the unigram joins: $full")
  }

  test("substr_threshold_sweep: ONE islands pass, grid as a 1-row stacked aggregation, never grid×corpus") {
    val plan = graft.ops.Dedup.substrThresholdSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"islands window must partition per doc ($docKeyed/$all): $plan")
    // the grid rides ONE Generate (stack) over a 1-row aggregate —
    // the posting stream is scanned once, not once per threshold
    assert("Generate stack".r.findAllIn(plan).size == 1, s"one stack: $plan")
  }

  test("decontam_union_report: flag chains join doc-keyed; 4-row stack over one aggregate; no cartesian") {
    val plan = graft.ops.Curation.decontamUnionReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert("Generate stack".r.findAllIn(plan).size == 1, s"one stack: $plan")
  }

  test("media_text_align: map-only embed towers, one equi-join, no cartesian, no window") {
    val plan = graft.ops.Multimodal.mediaTextAlign(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"pair scoring is a join + map, never a window: $plan")
  }

  test("media_keyframes: one map pass, predecessor lag MEDIA-keyed, no join") {
    val plan = graft.ops.Multimodal.mediaKeyframes(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"framing + signing is map-only: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"every window must partition per media asset ($docKeyed/$all): $plan")
  }

  test("quality_threshold_sweep: one pass over the ensemble, grid as conditional sums, no window") {
    val plan = graft.ops.Curation.qualityThresholdSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"the grid is conditional sums in ONE aggregation, never a window: $plan")
  }

  test("epoch_shuffle_report: map-only keying + one 1-row aggregation — no join, no window") {
    val plan = graft.ops.Curation.epochShuffleReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"keying is map-only: $plan")
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
  }

  test("repetition_scrub: the whole scrub is ONE map pass — no join, no window, no agg") {
    val plan = graft.ops.Dedup.repetitionScrub(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"intra-doc means corpus-independent — no join: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"islands are computed inside the row kernel, never a window: $plan")
    assert(!plan.contains("HashAggregate"),
      s"nothing aggregates — detection/cut/rebuild are row-local: $plan")
  }

  test("url_filter: the blocklist config relation BROADCASTS; corpus side aggregates once") {
    val plan = graft.ops.Curation.urlFilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"a KB-scale config relation must broadcast: $plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus-side rollup must never shuffle against the blocklist: $plan")
  }

  test("license_report: every marker counts in ONE documents scan; no join, no window") {
    val df = graft.ops.Curation.licenseReport(spark, sf)
    val full = df.queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("Join"), s"the marker table is compiled map-side: $plan")
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"one corpus pass for ALL markers ($scans scans): $plan")
  }

  test("maximal_scrub_incremental: islands window DOC-keyed; probe is a semi join, no cartesian") {
    val plan = graft.ops.Dedup.maximalScrubIncremental(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"every window must partition per doc ($docKeyed/$all): $plan")
  }

  test("repetition_grain_sweep: ONE map-only kernel pass, grid joined broadcast, no corpus-keyed window") {
    val plan = graft.ops.Dedup.repetitionGrainSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the 4-row grid must broadcast, never shuffle the corpus: $plan")
    assert(!plan.contains("windowspecdefinition"),
      s"all grains score inside the row kernel — no window: $plan")
    // exactly one corpus scan feeds every grid cell
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one kernel pass serves ALL grains: $plan")
  }

  test("gopher_threshold_sweep: one signal scan, grid as conditional sums of ONE aggregate, no join no window") {
    val plan = graft.ops.Curation.gopherThresholdSweep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"every cutoff reads the same pass: $plan")
    assert(!plan.contains("windowspecdefinition"), s"no window: $plan")
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one scan serves the whole grid: $plan")
  }

  test("source_temperature_mix: ONE corpus aggregation; the per-T window partitions on temperature over source-cardinality rows") {
    val plan = graft.ops.Curation.sourceTemperatureMix(spark, sf)
      .queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one corpus scan: $plan")
    // exactly two windows, both over the ≤|sources|-row relation:
    // the grand-total (boundedRankKey global-over-bounded slice) and
    // the per-temperature normalization
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val tKeyed = "windowspecdefinition\\(temperature".r.findAllIn(plan).size
    assert(all == 2 && tKeyed == 1,
      s"two bounded windows: grand total + per-T normalization ($tKeyed/$all): $plan")
  }

  test("maximal_scrub_residual: probe and hit counts are hash joins against the distinct hash set, no cartesian, islands DOC-keyed") {
    val full = graft.ops.Dedup.maximalScrubResidual(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("CartesianProduct"),
      s"the only cross joins are 1-row scalar assemblies: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(docKeyed == all,
      s"island windows are DOC-keyed, bounded by doc length ($docKeyed/$all): $plan")
  }

  test("context_budget_report: one scan, grid as conditional sums of ONE aggregate, no join no window") {
    val plan = graft.ops.Curation.contextBudgetReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"every length reads the same pass: $plan")
    assert(!plan.contains("windowspecdefinition"), s"no window: $plan")
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one scan serves the whole grid: $plan")
  }

  test("source_cap_sample: ONE source-keyed exchange — the cap window and the report agg share it; no join") {
    val full = graft.ops.Curation.sourceCapSample(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("Join"), s"cap + report are window + agg, no join: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcKeyed = "windowspecdefinition\\(source".r.findAllIn(plan).size
    assert(all == 1 && srcKeyed == 1, s"exactly the cap window, SOURCE-keyed ($srcKeyed/$all): $plan")
    val hashEx = "Exchange hashpartitioning\\(source".r.findAllIn(plan).size
    val otherHashEx = "Exchange hashpartitioning\\(".r.findAllIn(plan).size - hashEx
    assert(hashEx == 1 && otherHashEx == 0,
      s"the aggregation reuses the window's source partitioning ($hashEx source / $otherHashEx other): $plan")
  }

  test("lm_anomaly_spans: windows all DOC-keyed; mean derives from the vocab relation, no cartesian") {
    val full = graft.ops.Curation.lmAnomalySpans(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("CartesianProduct"),
      s"scalar assemblies are 1-row broadcasts: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val docKeyed = "windowspecdefinition\\(doc_id".r.findAllIn(plan).size
    assert(all > 0 && docKeyed == all,
      s"window sums and islands are DOC-keyed, bounded by doc length ($docKeyed/$all): $plan")
  }

  test("source_epochs_report: ONE corpus aggregation, the same two bounded windows as the mix — no extra scan for the budget") {
    val plan = graft.ops.Curation.sourceEpochsReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one corpus scan — the budget derives from the same grand-total window: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val tKeyed = "windowspecdefinition\\(temperature".r.findAllIn(plan).size
    assert(all == 2 && tKeyed == 1,
      s"two bounded windows: grand total + per-T normalization ($tKeyed/$all): $plan")
  }

  test("markup_artifacts_report: all four artifact counters ride ONE scan + one aggregation; no join, no window") {
    val plan = graft.ops.Curation.markupArtifactsReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"counters are one projection: $plan")
    assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one corpus pass for ALL artifact kinds: $plan")
  }

  test("mojibake_report and code_ratio_report: ONE scan + one aggregation each; no join, no window") {
    for (q <- Seq(graft.ops.Curation.mojibakeReport(spark, sf),
                  graft.ops.Curation.codeRatioReport(spark, sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"counters are one projection: $plan")
      assert(!plan.contains("windowspecdefinition"), s"plan: $plan")
      assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
        s"one corpus pass: $plan")
    }
  }

  test("synthetic_text_report: ONE corpus scan; the dominant-marker window runs on the AGGREGATED relation, source-keyed") {
    val plan = graft.ops.Curation.syntheticTextReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"all eight marker counters share one scan: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcKeyed = "windowspecdefinition\\(source".r.findAllIn(plan).size
    assert(all == 1 && srcKeyed == 1,
      s"exactly one SOURCE-keyed window (the argmax), after aggregation: $plan")
  }

  test("quality_length_confound: ONE rollup aggregation serves sources AND the (all) row; the ensemble join is doc-keyed") {
    val plan = graft.ops.Curation.qualityLengthConfound(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(plan.contains("Expand") || plan.contains("expand"),
      s"rollup expands once instead of a second aggregation + union: $plan")
    assert(!plan.contains("windowspecdefinition"), s"no global ranks: $plan")
  }

  test("event_transitions: ONE user-keyed window over events; row totals ride a from_type window on the AGGREGATED relation; no join") {
    val full = graft.ops.Events.eventTransitions(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("Join"), s"pure window + aggregation: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val userKeyed = "windowspecdefinition\\(user_id".r.findAllIn(plan).size
    val fromKeyed = "windowspecdefinition\\(from_type".r.findAllIn(plan).size
    assert(all == 2 && userKeyed == 1 && fromKeyed == 1,
      s"exactly the lead window (user-keyed) + the total window (post-agg): $plan")
    assert("events\\.parquet".r.findAllIn(plan).size <= 1, s"one events pass: $plan")
  }

  test("label_margin_report: the centroid relation is broadcast; the best-other window is VEC-keyed; no cartesian blowup beyond the bounded centroid cross") {
    val full = graft.ops.VectorQueries.labelMarginReportOf(
        spark.read.parquet(s"$sf/embeddings.parquet"), checkpoint = false)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroids broadcast to the vector scan: $plan")
    val vecKeyed = "windowspecdefinition\\(vec_id".r.findAllIn(plan).size
    assert(vecKeyed >= 1, s"best-other argmax is vec-keyed: $plan")
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
  }

  test("burstiness_report: one token scan; top-k is TakeOrderedAndProject, never a global sort") {
    val plan = graft.ops.TextOps.burstinessReport(spark, sf)
      .queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"one corpus pass: $plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plan: $plan")
    assert(!plan.contains("Join"), s"cf and df come from one aggregation chain: $plan")
  }

  test("source_distinctive_terms: source totals broadcast; top-k window SOURCE-keyed; no cartesian") {
    val full = graft.ops.TextOps.sourceDistinctiveTerms(spark, sf)
      .queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"source totals and the grand total are broadcast-scale: $plan")
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val srcKeyed = "windowspecdefinition\\(source".r.findAllIn(plan).size
    assert(all == 1 && srcKeyed == 1,
      s"exactly the top-k window, SOURCE-keyed ($srcKeyed/$all): $plan")
  }

  test("release_pipeline: all five stages compose off ONE corpus scan — no per-stage re-join") {
    val plan = graft.ops.Curation.releasePipeline(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan: $plan")
    assert(!plan.contains("Join"), s"stages must not re-join their own scans: $plan")
    val scans = "documents\\.parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"$scans corpus scans (release contract is <= 2, actual 1): $plan")
    // exactly the survivorship (text) and cap (source) windows
    val all = "windowspecdefinition\\(".r.findAllIn(plan).size
    val txt = "windowspecdefinition\\(text".r.findAllIn(plan).size
    val src = "windowspecdefinition\\(source".r.findAllIn(plan).size
    assert(all == txt + src && txt >= 1 && src >= 1,
      s"only text-keyed + source-keyed windows allowed ($txt+$src/$all): $plan")
  }
}
