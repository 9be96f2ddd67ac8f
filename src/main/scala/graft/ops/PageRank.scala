package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted PageRank over the SOURCE-similarity graph — domain-level
  * graph centrality (Page et al. 1999), the curation signal that
  * spots template/boilerplate hub domains: sources sharing many
  * word-shingles with many other sources (mirrors, aggregators,
  * boilerplate families) concentrate rank; isolated original domains
  * stay near the teleport floor.
  *
  * Graph build: (source, shingle) DISTINCT pairs → inverted index on
  * the shingle → co-occurrence counts per source pair (the
  * [[Dedup.dedupJaccard]] machinery at source granularity, same
  * posting-size cap as the skew guard) → symmetric weighted edges.
  *
  * Iteration (the Pregel shape, 3 unrolled rounds like
  * [[KMeansVec]]'s Lloyd loop): p' = (1−d)/N + d·(Σ_in p·w/W +
  * dangling/N). Each round is ONE join of the rank relation with the
  * edge relation plus one aggregation — no driver materialization of
  * nodes or edges at any graph size; the dangling mass is a single
  * broadcast scalar. Per-edge contributions are r6-rounded then
  * decimal-summed (§8.5), so every round is partition-order-free and
  * the whole walk replays as unrolled DuckDB CTEs.
  */
object PageRank extends QueryModule {
  import Tables.t

  val Damp = 0.85

  /** Teleport mass (1 − d) precomputed as the ONE JVM double both
    * engines consume: DuckDB evaluates the literal `1.0 - 0.85` in
    * exact DECIMAL (0.15) while the JVM computes
    * 0.15000000000000002 — interpolating this value (and CASTing it
    * to DOUBLE in SQL) keeps every round's pre-round rank
    * bit-identical instead of one ulp apart. */
  val Tele: Double = 1.0 - Damp

  val Iters = 3

  /** Sources-per-shingle posting cap — same role as
    * [[Dedup.MaxPosting]]: a boilerplate shingle shared by every
    * domain on the web would otherwise fan out quadratically. */
  val MaxSrcPosting = 50

  private val ShingleK = Dedup.ShingleK

  /** (source, shingle-string) pairs, distinct within each doc, pure
    * builtins. NOT globally distinct — the caller's `collect_set`
    * dedups inside the one aggregation, so the stream shuffles once,
    * not twice. */
  private def srcShingles(d: DataFrame): DataFrame =
    d.select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= ShingleK)
      .select(col("source"), explode(array_distinct(expr(
        s"transform(sequence(0, size(w) - $ShingleK), " +
          s"i -> concat_ws(' ', slice(w, i + 1, $ShingleK)))"))).as("shingle"))

  /** Undirected source-pair edges (a < b, shared-shingle weight) via
    * the capped inverted index — the graph both [[sourcePagerank]]
    * and [[sourceTriangles]] walk. `collect_set` replaces the old
    * distinct-then-collect_list pair: identical sorted source sets,
    * ONE shingle shuffle instead of two, and the map-side partial
    * already folds each shingle's sources to the tiny per-source
    * set, so the exchange carries sets, not the raw stream. */
  private[ops] def srcPairs(docs: DataFrame): DataFrame =
    srcShingles(docs)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")).between(2, MaxSrcPosting))
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("w"))

  /** PageRank after [[Iters]] rounds: (source, n_out, pr) ordered by
    * rank descending. n_out = total outgoing edge weight (0 for
    * isolated sources, which contribute via the dangling term). */
  def sourcePagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents", resplit = true)
    // the graph relations are STATIC across rounds but referenced in
    // every unrolled iteration's lineage — eager localCheckpoint
    // computes each once (shingle pass, edge aggregation, degree
    // join) instead of once per reference in the final plan
    // the undirected pair table is the expensive part (shingle scan +
    // two aggregations) and the union/degree/dangling derivations
    // below reference it FOUR times — checkpoint it first so the
    // pipeline runs once and everything downstream derives from the
    // edge-sized leaf. nodes ∥ pairs and em ∥ dangling are pairwise
    // independent (both of each pair derive from already-materialized
    // frames), so each pair's checkpoint jobs run from concurrent
    // driver threads instead of serializing (guide §2.6).
    val (nodes, pairs) = OpsShared.concurrently(
      docs.select(col("source")).distinct().localCheckpoint(true),
      srcPairs(docs).localCheckpoint(true))
    val n = nodes.count()
    val nD = n.toDouble
    val edges = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
    val outw = edges.groupBy(col("a")).agg(sum(col("w")).as("ow"))
    val (em, dangling) = OpsShared.concurrently(
      edges.join(outw, "a").localCheckpoint(true),
      nodes.join(edges.select(col("a").as("source")).distinct(),
        Seq("source"), "left_anti").localCheckpoint(true))

    // every round re-joins the rank frame with `em`/`nodes`, whose
    // lineage the frame already carries — explicit aliases keep the
    // self-join column references unambiguous
    // NOT checkpointed per round (r15 A/B): the rank frame is
    // referenced 3× per round, but every reference re-expands only
    // joins over the checkpointed LEAVES above, which the scheduler
    // runs as concurrent stages — a per-round eager checkpoint
    // serialized those stages and measured WORSE (fresh-JVM min
    // 5.22 s → 5.69 s), unlike sourceCommunities whose per-round
    // vote subtree is expensive enough to win from it.
    var p = nodes.withColumn("p", r6(lit(1.0) / lit(nD)))
    var it = 0
    while (it < Iters) {
      val contrib = p.alias("pp")
        .join(em.alias("ee"), col("pp.source") === col("ee.a"))
        .select(col("ee.b").as("source"),
          r6(col("pp.p") * col("ee.w") / col("ee.ow")).as("term"))
        .groupBy(col("source"))
        .agg(OracleMath.dsum(col("term")).as("csum"))
      val dang = p.alias("pd")
        .join(dangling.alias("dd"), col("pd.source") === col("dd.source"))
        .agg(coalesce(OracleMath.dsum(col("pd.p")), lit(0.0)).as("dg"))
      p = nodes.alias("nn")
        .join(contrib.alias("cc"), col("nn.source") === col("cc.source"), "left")
        .crossJoin(broadcast(dang))
        .select(col("nn.source").as("source"),
          r6(lit(Tele) / lit(nD) +
            lit(Damp) * (coalesce(col("cc.csum"), lit(0.0)) +
              col("dg") / lit(nD))).as("p"))
      it += 1
    }
    // n_out from the CHECKPOINTED em (one row per source after
    // distinct) — joining the raw outw would re-derive the whole
    // shingle/edge pipeline for one column
    p.alias("pf")
      .join(em.select(col("a"), col("ow")).distinct().alias("oo"),
        col("pf.source") === col("oo.a"), "left")
      .select(col("pf.source").as("source"),
        coalesce(col("oo.ow"), lit(0L)).as("n_out"),
        col("pf.p").as("pr"))
      .orderBy(col("pr").desc, col("source"))
  }

  val sourcePagerankSql: String = {
    val shingleExpr = (1 to ShingleK).map(t => s"w[i+$t]").mkString(" || ' ' || ")
    def round(i: Int, prev: String): String =
      s"""c$i AS (
         |  SELECT em.b AS source,
         |    CAST(SUM(CAST(round(p.p * em.w / em.ow, 6) + 0
         |      AS DECIMAL(38,6))) AS DOUBLE) AS csum
         |  FROM $prev p JOIN em ON em.a = p.source
         |  GROUP BY em.b),
         |dg$i AS (
         |  SELECT COALESCE(CAST(SUM(CAST(p.p AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS dg
         |  FROM $prev p JOIN dangling d ON d.source = p.source),
         |p$i AS (
         |  SELECT n.source,
         |    round(CAST($Tele AS DOUBLE) / nn.n + $Damp * (COALESCE(c.csum, 0.0)
         |      + dg$i.dg / nn.n), 6) + 0 AS p
         |  FROM nodes n CROSS JOIN nn CROSS JOIN dg$i
         |  LEFT JOIN c$i c ON c.source = n.source)""".stripMargin
    s"""WITH nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |tok AS (
       |  SELECT source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT source, $shingleExpr AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |good AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxSrcPosting),
       |pairs AS (
       |  SELECT a.source AS a, b.source AS b, COUNT(*) AS w
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
       |  JOIN good g ON g.shingle = a.shingle
       |  GROUP BY a.source, b.source),
       |edges AS MATERIALIZED (
       |  SELECT a, b, w FROM pairs
       |  UNION ALL SELECT b AS a, a AS b, w FROM pairs),
       |outw AS (SELECT a, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY a),
       |em AS MATERIALIZED (SELECT e.a, e.b, e.w, o.ow FROM edges e JOIN outw o ON o.a = e.a),
       |dangling AS MATERIALIZED (
       |  SELECT source FROM nodes
       |  EXCEPT SELECT DISTINCT a AS source FROM edges),
       |p0 AS (SELECT n.source, round(1.0 / nn.n, 6) + 0 AS p
       |       FROM nodes n CROSS JOIN nn),
       |${(1 to Iters).map(i => round(i, s"p${i - 1}")).mkString(",\n")}
       |SELECT p.source, CAST(COALESCE(o.ow, 0) AS BIGINT) AS n_out, p.p AS pr
       |FROM p$Iters p LEFT JOIN outw o ON o.a = p.source
       |ORDER BY pr DESC, p.source""".stripMargin
  }

  /** Triangle counting on the source graph with DEGREE-ORDERED
    * orientation (Cohen's MR trick, the GraphFrames/GraphX shape):
    * orient every undirected edge from its (degree, name)-smaller
    * endpoint to the larger, so each triangle has exactly ONE apex
    * with out-edges to the other two — wedges enumerate once, and
    * per-apex out-degree is bounded by O(√E) whatever the degree
    * skew (the hub that would explode a naive wedge join is always
    * the wedge's SINK, never its apex). Plan: one self-equi-join of
    * the oriented edges on the apex + one closing-edge equi-join —
    * no cartesian, integer arithmetic end to end.
    *
    * Output: per-source degree, triangle participation, and the
    * clustering coefficient 2·tri/(deg·(deg−1)) — the
    * template-family detector (boilerplate domain clusters close
    * into cliques; organic similarity stays wedge-open). */
  def sourceTriangles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents", resplit = true)
    val nodes = docs.select(col("source")).distinct()
    val und = srcPairs(docs).select(col("a"), col("b")).localCheckpoint(true)
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("src"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("dst"))
      .localCheckpoint(true)
    val wedges = oriented.alias("e1")
      .join(oriented.alias("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("apex"),
        col("e1.dst").as("x"), col("e2.dst").as("y"))
    val closed = wedges.join(und,
      least(col("x"), col("y")) === col("a") &&
        greatest(col("x"), col("y")) === col("b"))
      .select(col("apex"), col("x"), col("y"))
    val perNode = closed
      .select(explode(array(col("apex"), col("x"), col("y"))).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("tri"))
    nodes
      .join(deg.select(col("n").as("source"), col("deg")), Seq("source"), "left")
      .join(perNode, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          r6(lit(2.0) * col("tri") / (col("degree") * (col("degree") - 1))))
          .otherwise(lit(0.0)))
      .orderBy(col("tri").desc, col("source"))
  }

  val sourceTrianglesSql: String = {
    val shingleExpr = (1 to ShingleK).map(t => s"w[i+$t]").mkString(" || ' ' || ")
    s"""WITH nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |tok AS (
       |  SELECT source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT source, $shingleExpr AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |good AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxSrcPosting),
       |und AS MATERIALIZED (
       |  SELECT a.source AS a, b.source AS b
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
       |  JOIN good g ON g.shingle = a.shingle
       |  GROUP BY a.source, b.source),
       |deg AS MATERIALIZED (
       |  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
       |  GROUP BY n),
       |oriented AS MATERIALIZED (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |    THEN u.a ELSE u.b END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |    THEN u.b ELSE u.a END AS dst
       |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
       |closed AS (
       |  SELECT e1.src AS apex, e1.dst AS x, e2.dst AS y
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.src = e2.src AND e1.dst < e2.dst
       |  JOIN und ON und.a = least(e1.dst, e2.dst)
       |    AND und.b = greatest(e1.dst, e2.dst)),
       |pn AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS tri FROM (
       |    SELECT apex AS source FROM closed
       |    UNION ALL SELECT x FROM closed
       |    UNION ALL SELECT y FROM closed)
       |  GROUP BY source)
       |SELECT n.source,
       |  CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
       |  CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
       |  CASE WHEN COALESCE(d.deg, 0) >= 2
       |    THEN round(2.0 * COALESCE(p.tri, 0)
       |               / (COALESCE(d.deg, 0) * (COALESCE(d.deg, 0) - 1)), 6) + 0
       |    ELSE 0.0 END AS clustering
       |FROM nodes n
       |LEFT JOIN deg d ON d.n = n.source
       |LEFT JOIN pn p ON p.source = n.source
       |ORDER BY tri DESC, n.source""".stripMargin
  }

  /** Label-propagation rounds for [[sourceCommunities]] — fixed and
    * unrolled in the oracle like [[Iters]]. */
  val LpaRounds = 3

  /** Community detection on the source graph by SYNCHRONOUS weighted
    * label propagation (Raghavan et al. 2007) — the template-family
    * clusterer one level up from [[sourceTriangles]]'s local
    * coefficient: mirror/boilerplate domains that share heavy
    * shingle edges converge onto one community label in a handful of
    * rounds, giving curation a whole-family handle (drop or
    * downweight the entire community) instead of pairwise edges.
    *
    * Determinism: labels start as the source name; each round every
    * node simultaneously adopts the label with the largest total
    * vote, where neighbors vote their label at the connecting edge
    * weight and the node votes its CURRENT label at its maximum
    * incident edge weight (ties → smallest label). The self-vote is
    * the anti-oscillation device: plain synchronous LPA flips a
    * 2-node cluster's labels forever (the classic bipartite
    * oscillation), while a self-vote at max-edge strength turns that
    * exchange into a tie both nodes resolve to the same minimum
    * label — yet a genuinely dominant neighboring community
    * (Σ votes > own max edge) still absorbs the node. No randomized
    * visit order anywhere, so the fixed [[LpaRounds]] rounds replay
    * exactly as unrolled CTEs. All arithmetic is integer
    * (shingle-count weights), so there is no float bridge anywhere.
    *
    * Scale shape: per round ONE equi-join of the label relation with
    * the checkpointed edge relation, one (node, label) aggregation,
    * and one per-node window (partitioned by node — never a global
    * sort). The graph is source-granularity: nodes are domains, not
    * documents, so even a web-scale corpus keeps this relation
    * orders of magnitude smaller than the data it curates. */
  def sourceCommunities(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents", resplit = true)
    // same pair-table checkpoint as [[sourcePagerank]]: the union's
    // two branches would otherwise each run the shingle pipeline.
    // nodes ∥ pairs are independent — concurrent construction
    // overlaps their checkpoint jobs (guide §2.6).
    val (nodes, pairs) = OpsShared.concurrently(
      docs.select(col("source")).distinct().localCheckpoint(true),
      srcPairs(docs).localCheckpoint(true))
    val edges = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
      .localCheckpoint(true)
    val maxw = edges.groupBy(col("a").as("source"))
      .agg(max(col("w")).as("selfw")).localCheckpoint(true)

    // per-round checkpoint: `lab` is referenced three times per round
    // (neighbor votes, self votes, next-round rebuild), so the
    // unrolled lineage tripled per iteration (174 Exchanges in the
    // r15-measured plan; fresh-JVM A/B 4.63 → 3.54 s). The frame is
    // one row per SOURCE — node-sized — so the eager checkpoint is
    // near-free and the plan stays constant. The LAST round stays
    // un-checkpointed so the final plan keeps the vote-pick windows
    // PlanSpec pins as node-partitioned.
    var lab = nodes.withColumn("lab", col("source")).localCheckpoint(true)
    var it = 0
    while (it < LpaRounds) {
      val nbVotes = edges.alias("e")
        .join(lab.alias("l"), col("e.b") === col("l.source"))
        .groupBy(col("e.a").as("source"), col("l.lab").as("cand"))
        .agg(sum(col("e.w")).as("wsum"))
      val selfVotes = lab.alias("l2").join(maxw.alias("m"),
          col("l2.source") === col("m.source"))
        .select(col("l2.source").as("source"), col("l2.lab").as("cand"),
          col("m.selfw").as("wsum"))
      // a neighbor sharing the node's own label votes the same cand
      // key as the self-vote — totals are per (node, label)
      val scores = nbVotes.unionByName(selfVotes)
        .groupBy(col("source"), col("cand"))
        .agg(sum(col("wsum")).as("wsum"))
      val pick = scores
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("wsum").desc, col("cand"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("cand"))
      // isolated sources never receive a candidate and keep their own
      // name as label (they are their own singleton community)
      lab = nodes.alias("n")
        .join(pick.alias("p"), col("n.source") === col("p.source"), "left")
        .select(col("n.source").as("source"),
          coalesce(col("p.cand"), col("n.source")).as("lab"))
      if (it < LpaRounds - 1) lab = lab.localCheckpoint(true)
      it += 1
    }
    val sizes = lab.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
    lab.join(sizes, "lab")
      .select(col("source"), col("lab").as("community"), col("csize"))
      .orderBy(col("csize").desc, col("community"), col("source"))
  }

  val sourceCommunitiesSql: String = {
    val shingleExpr = (1 to ShingleK).map(t => s"w[i+$t]").mkString(" || ' ' || ")
    def round(i: Int, prev: String): String =
      s"""s$i AS (
         |  SELECT source, cand, CAST(SUM(wsum) AS BIGINT) AS wsum FROM (
         |    SELECT e.a AS source, l.lab AS cand, CAST(SUM(e.w) AS BIGINT) AS wsum
         |    FROM edges e JOIN $prev l ON l.source = e.b
         |    GROUP BY e.a, l.lab
         |    UNION ALL
         |    SELECT l.source, l.lab AS cand, m.selfw AS wsum
         |    FROM $prev l JOIN maxw m ON m.source = l.source)
         |  GROUP BY source, cand),
         |p$i AS (
         |  SELECT source, cand FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY source ORDER BY wsum DESC, cand) AS rn FROM s$i)
         |  WHERE rn = 1),
         |l$i AS (
         |  SELECT n.source, COALESCE(p.cand, n.source) AS lab
         |  FROM nodes n LEFT JOIN p$i p ON p.source = n.source)""".stripMargin
    s"""WITH nodes AS MATERIALIZED (SELECT DISTINCT source FROM documents),
       |tok AS (
       |  SELECT source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT source, $shingleExpr AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |good AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxSrcPosting),
       |pairs AS (
       |  SELECT a.source AS a, b.source AS b, COUNT(*) AS w
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
       |  JOIN good g ON g.shingle = a.shingle
       |  GROUP BY a.source, b.source),
       |edges AS MATERIALIZED (
       |  SELECT a, b, w FROM pairs
       |  UNION ALL SELECT b AS a, a AS b, w FROM pairs),
       |maxw AS MATERIALIZED (
       |  SELECT a AS source, CAST(MAX(w) AS BIGINT) AS selfw
       |  FROM edges GROUP BY a),
       |l0 AS (SELECT source, source AS lab FROM nodes),
       |${(1 to LpaRounds).map(i => round(i, s"l${i - 1}")).mkString(",\n")},
       |sizes AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS csize
       |          FROM l$LpaRounds GROUP BY lab)
       |SELECT l.source, l.lab AS community, s.csize
       |FROM l$LpaRounds l JOIN sizes s ON s.lab = l.lab
       |ORDER BY s.csize DESC, community, l.source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_pagerank" -> (sourcePagerank _),
    "source_triangles" -> (sourceTriangles _),
    "source_communities" -> (sourceCommunities _))

  val oracles: Map[String, String] = Map(
    "source_pagerank" -> sourcePagerankSql,
    "source_triangles" -> sourceTrianglesSql,
    "source_communities" -> sourceCommunitiesSql)
}
