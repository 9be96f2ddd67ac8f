package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.{cosineDist, r6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval + hybrid fusion — the query-side surface the
  * reference actually serves (log search): BM25 scoring, reciprocal
  * -rank fusion of the keyword and vector rankings (the classic
  * hybrid-search combiner for a vector DB with a keyword side), and
  * a unigram log-likelihood quality score (the perplexity-proxy
  * curation signal of LLM data pipelines).
  *
  * Scale shapes:
  *   - BM25: ONE groupBy over the token stream with per-term
  *     conditional aggregates (a search query is a handful of
  *     terms → fixed columns, no per-term join), corpus stats as a
  *     broadcast 1-row aggregate. At 100 TB the token groupBy is
  *     the only shuffle and it is map-side-combined.
  *   - RRF: two rankings (each a window over a scored scan) joined
  *     on doc id — never materializes scores × scores.
  *   - unigram NLL: doc-term counts ⋈ broadcast vocabulary counts;
  *     per-term contributions r6-rounded then decimal-summed, so
  *     the result is partition-order-independent AND
  *     DuckDB-recomputable (§8.5 bridge rule).
  */
object Retrieval extends QueryModule {
  import Tables.t

  /** The flagship ask — same terms as SparkEntry.entry's question. */
  val QueryTerms: Seq[String] = Seq("spark", "join", "shuffle", "slow", "query", "error")
  val K1 = 1.2
  val B = 0.75
  val TopK = 10
  val RrfK = 60

  /** Generic BM25 scorer: per-row score of `textCol` against
    * `terms`, keyed by `idCol` (score unrounded — fold order is the
    * fixed term order, mirrored verbatim in SQL so the doubles match
    * bitwise). One token-stream groupBy; per-term tf/df live in
    * fixed conditional-aggregate columns (a search query is a
    * handful of terms), so there is never a per-term join. Tokens are
    * `split(' ')`, as the DuckDB oracles of its fixture queries split. */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val id = col(idCol)
    if (terms.isEmpty) // no signal — an empty list, so RRF degrades
      return docs.select(id, lit(0L).as("dl"), lit(0.0).as("score")).limit(0)
    // sanitized column suffixes: terms may contain arbitrary chars
    val named = terms.zipWithIndex
    val toks = docs.select(id, explode(split(col(textCol), " ")).as("tok"))
    val perDoc = toks.groupBy(id).agg(
      count(lit(1)).as("dl"),
      named.map { case (term, i) =>
        sum(when(col("tok") === term, 1L).otherwise(0L)).as(s"tf_$i")
      }: _*)
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("total") +:
      named.map { case (_, i) =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")
      }
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("total").cast("double") / col("n_docs")
    def termScore(i: Int): Column = {
      val tf = col(s"tf_$i")
      val idf = log((col("n_docs") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5)) + lit(1.0))
      when(tf > 0,
        idf * (tf * lit(K1 + 1.0)) /
          (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    val score = named.map { case (_, i) => termScore(i) }.reduceLeft(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(id, col("dl"), score.as("score"))
  }

  private def bm25Scored(s: SparkSession, dir: String): DataFrame =
    bm25Score(t(s, dir, "documents"), "doc_id", "text", QueryTerms)

  /** BM25 top-10 docs for the flagship query. */
  def bm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir)
      .select(col("doc_id"), r6(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)

  /** SQL spelling of the per-term BM25 contribution — operation
    * order identical to [[bm25Scored]]'s Column expression. */
  private def termScoreSql(term: String): String =
    s"""CASE WHEN tf_$term > 0
       |  THEN ln((n_docs - df_$term + 0.5) / (df_$term + 0.5) + 1.0)
       |       * (tf_$term * ${K1 + 1.0})
       |       / (tf_$term + $K1 * (${1.0 - B} + $B * dl / (CAST(total AS DOUBLE) / n_docs)))
       |  ELSE 0.0 END""".stripMargin.replace('\n', ' ').replaceAll(" +", " ")

  private def bm25Cte: String = {
    val tfCols = QueryTerms.map(term =>
      s"SUM(CASE WHEN tok = '$term' THEN 1 ELSE 0 END) AS tf_$term").mkString(",\n    ")
    val dfCols = QueryTerms.map(term =>
      s"SUM(CASE WHEN tf_$term > 0 THEN 1 ELSE 0 END) AS df_$term").mkString(",\n    ")
    val scoreExpr = QueryTerms.map(termScoreSql).mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS dl,
       |    $tfCols
       |  FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(dl) AS total,
       |    $dfCols
       |  FROM per_doc),
       |bm25 AS (
       |  SELECT doc_id, dl, $scoreExpr AS score
       |  FROM per_doc, stats)""".stripMargin
  }

  val bm25TopkSql: String =
    s"""WITH $bm25Cte
       |SELECT doc_id, round(score, 6) + 0 AS score
       |FROM bm25
       |ORDER BY score DESC, doc_id
       |LIMIT $TopK""".stripMargin

  /** Candidate-list depth for RRF: each system contributes its
    * top-L; ranks within a top-L prefix equal the global ranks, so
    * the fusion is exact for every surviving doc while the plan
    * never globally sorts — each list is a TakeOrderedAndProject
    * (bounded per-partition heaps) and the rank window runs over L
    * rows. This is the 100 TB shape: RRF over full corpus rankings
    * would be a single-partition sort of the world. */
  val FuseDepth = 100

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 ranking
    * and the exact-cosine vector ranking (query = vec 0, the same
    * vector every kNN query uses; vec_id ≡ doc_id in the fixtures).
    * fused = 1/(k+r_bm25) + 1/(k+r_knn), k = 60 — the standard RRF
    * combiner: rank-based, so the two systems' incomparable score
    * scales never mix; docs must appear in both top-L lists. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val bm = bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(FuseDepth)
      .withColumn("r_kw",
        // bounded ≤FuseDepth-row slice — see WindowKeys.boundedRankKey
        row_number().over(Window.partitionBy(
          graft.functions.WindowKeys.boundedRankKey(col("doc_id")))
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_kw"))
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding").as("qe"))
    val vec = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .crossJoin(broadcast(q))
      .withColumn("dist", r6(cosineDist(col("embedding"), col("qe"))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .orderBy(col("dist"), col("vec_id")).limit(FuseDepth)
      .withColumn("r_vec",
        row_number().over(Window.partitionBy(
          graft.functions.WindowKeys.boundedRankKey(col("vec_id")))
          .orderBy(col("dist"), col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("r_vec"))
    bm.join(vec, "doc_id")
      .withColumn("fused",
        r6(lit(1.0) / (lit(RrfK.toDouble) + col("r_kw")) +
          lit(1.0) / (lit(RrfK.toDouble) + col("r_vec"))))
      .select(col("doc_id"), col("r_kw").cast("long").as("r_kw"),
        col("r_vec").cast("long").as("r_vec"), col("fused"))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(TopK)
  }

  val hybridRrfSql: String =
    s"""WITH $bm25Cte,
       |kw AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_kw
       |  FROM (SELECT doc_id, score FROM bm25
       |        ORDER BY score DESC, doc_id LIMIT $FuseDepth)),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${VectorQueries.QueryVecId}),
       |scored AS (
       |  SELECT e.vec_id AS doc_id,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> ${VectorQueries.QueryVecId}),
       |vec AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY dist, doc_id) AS r_vec
       |  FROM (SELECT doc_id, dist FROM scored
       |        WHERE dist IS NOT NULL AND NOT isnan(dist)
       |        ORDER BY dist, doc_id LIMIT $FuseDepth))
       |SELECT kw.doc_id, CAST(r_kw AS BIGINT) AS r_kw, CAST(r_vec AS BIGINT) AS r_vec,
       |  round(1.0 / ($RrfK.0 + r_kw) + 1.0 / ($RrfK.0 + r_vec), 6) + 0 AS fused
       |FROM kw JOIN vec ON vec.doc_id = kw.doc_id
       |ORDER BY fused DESC, kw.doc_id
       |LIMIT $TopK""".stripMargin

  /** Unigram negative log-likelihood per doc — the perplexity-proxy
    * quality score: nll = −Σ c(w)·ln(p(w)) / |D| with p(w) from the
    * corpus itself. Per-term contributions r6-rounded then
    * decimal-summed (order-independent, cross-engine exact). */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // NOT checkpointed (r15 A/B): the dw/vocab diamond re-runs only a
    // cheap token explode per reference and the duplicate branches run
    // as concurrent stages — materializing them measured WORSE
    // standalone (fresh-JVM min 1.09 s → 1.57 s). Consumers that
    // reference the WHOLE nll relation twice (ppl_buckets,
    // ccnet_sample) checkpoint at their own level instead, where the
    // duplicated subtree is the full LM chain. One further exception:
    // a consumer that pairs this doc-keyed RESULT with the bigram
    // chain via OpsShared.concurrently (doremiWeights, excessSelect)
    // may eagerly checkpoint the result so both chains materialize in
    // parallel — that is overlap, not the losing in-query barrier.
    val dw = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val vocab = dw.groupBy(col("tok")).agg(sum(col("c")).as("cw"))
    val total = vocab.agg(sum(col("cw")).as("t"))
    // NO broadcast hint on vocab: one row per distinct token is
    // billions at web-corpus scale (the tfidf_top_terms rule — an
    // explicit hint OOMs the driver where a plain shuffle join on
    // `tok` is safe; AQE still broadcasts when measured-small). The
    // 1-row corpus total stays hinted.
    dw.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .withColumn("term", r6(col("c") * log(col("cw").cast("double") / col("t"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), OracleMath.dsum(col("term")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        r6(-col("s") / col("n_tokens")).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  val unigramLogprobSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |dw AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
      |vocab AS (SELECT tok, SUM(c) AS cw FROM dw GROUP BY tok),
      |tot AS (SELECT SUM(cw) AS t FROM vocab),
      |terms AS (
      |  SELECT doc_id, c,
      |    round(c * ln(CAST(cw AS DOUBLE) / t), 6) + 0 AS term
      |  FROM dw JOIN vocab USING (tok) CROSS JOIN tot)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  round(-CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE) / SUM(c), 6) + 0 AS avg_nll
      |FROM terms GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Bigram negative log-likelihood per doc — the next perplexity
    * proxy up from [[unigramLogprob]]: nll = −Σ c(w1w2)·ln(c(w1w2)
    * / c(w1·)) / n_bigrams, with counts from the corpus itself (the
    * train-on-self form: every scored bigram is observed, so the
    * unsmoothed conditional is total). Bigrams materialize map-side
    * as a `zip_with` over the token array and its tail — no
    * self-join, no window; the corpus model is two hash aggregations
    * (bigram counts, left-token marginals) rejoined on their keys.
    * At 100 TB the join keys are the bigram/token strings and AQE
    * picks the strategy — the same no-static-hint rule as the
    * unigram vocabulary. Per-term contributions r6-rounded then
    * decimal-summed (order-independent, cross-engine exact). */
  def bigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bi = d.select(col("doc_id"),
      explode(expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bg"))
    // same count-table materialization as [[unigramLogprob]]: db and
    // corpus are each referenced twice, so the bigram explode ran per
    // reference (20 Exchanges / 6 scans measured r15)
    val db = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val corpus = db.groupBy(col("bg")).agg(sum(col("c")).as("cbg"))
      .localCheckpoint(true)
    val lefts = corpus
      .groupBy(element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("cbg")).as("cw1"))
    db.join(corpus, "bg")
      .join(lefts, element_at(split(col("bg"), " "), 1) === col("w1"))
      .withColumn("term", r6(col("c") * log(col("cbg").cast("double") / col("cw1"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), OracleMath.dsum(col("term")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(-col("s") / col("n_bigrams")).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  val bigramLogprobSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
      |       FROM toks),
      |db AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
      |corpus AS (SELECT bg, SUM(c) AS cbg FROM db GROUP BY bg),
      |lefts AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(cbg) AS cw1
      |          FROM corpus GROUP BY 1),
      |terms AS (
      |  SELECT doc_id, c,
      |    round(c * ln(CAST(cbg AS DOUBLE) / cw1), 6) + 0 AS term
      |  FROM db JOIN corpus USING (bg)
      |  JOIN lefts ON split_part(bg, ' ', 1) = lefts.w1)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |  round(-CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE) / SUM(c), 6) + 0 AS avg_nll
      |FROM terms GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Jelinek–Mercer interpolated LM scoring — the smoothing tier
    * between [[unigramLogprob]] and [[bigramLogprob]]: each bigram
    * position scores ln(λ·p(w2|w1) + (1−λ)·p(w2)) with λ = 0.75, so
    * an unseen-context position degrades to the unigram prior
    * instead of dominating the NLL (the standard fix the unsmoothed
    * bigram model needs the moment it scores text it was not fit
    * on). Same dataflow as the two parents — map-side bigrams, two
    * hash-aggregated model relations plus the vocab join, all
    * hint-free (the tfidf rule), 1-row total broadcast — one extra
    * vocab-keyed join over bigramLogprob, nothing more. */
  def jmLogprob(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bi = d.select(col("doc_id"),
      explode(expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bg"))
    // the doc×bigram count table feeds the model fit AND the scoring
    // join, and the bigram-type table feeds marginals AND the join —
    // unchecked, the explode+count lineage re-expands per reference
    // (30 Exchanges / 10 scans measured r15). Materializing the two
    // count tables is exactly what an LM fit does; the corpus pass
    // runs once.
    val db = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val corpus = db.groupBy(col("bg")).agg(sum(col("c")).as("cbg"))
      .localCheckpoint(true)
    val lefts = corpus
      .groupBy(element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("cbg")).as("cw1"))
    val toks = d.select(explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cw"))
    val total = vocab.agg(sum(col("cw")).as("t"))
    db.join(corpus, "bg")
      .join(lefts, element_at(split(col("bg"), " "), 1) === col("w1"))
      .join(vocab, element_at(split(col("bg"), " "), 2) === col("tok"))
      .crossJoin(broadcast(total))
      .withColumn("term", r6(col("c") * log(
        lit(0.75) * (col("cbg").cast("double") / col("cw1")) +
          lit(0.25) * (col("cw").cast("double") / col("t")))))
      // exact micro-unit mean (the knLogprob remedy — this query hit
      // the same 7th-digit-half boundary at sf0.1, 1 row)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(round(-col("term") * 1e6).cast("long")).as("q"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(2 * q + n_bigrams) div (2 * n_bigrams)").cast("double") / 1e6)
          .as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  val jmLogprobSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT doc_id,
      |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
      |       FROM toks),
      |db AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
      |corpus AS (SELECT bg, SUM(c) AS cbg FROM db GROUP BY bg),
      |lefts AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(cbg) AS cw1
      |          FROM corpus GROUP BY 1),
      |uni AS (SELECT tok, COUNT(*) AS cw
      |        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |        GROUP BY tok),
      |tot AS (SELECT SUM(cw) AS t FROM uni),
      |terms AS (
      |  SELECT doc_id, c,
      |    round(c * ln(0.75 * (CAST(cbg AS DOUBLE) / cw1)
      |               + 0.25 * (CAST(cw AS DOUBLE) / t)), 6) + 0 AS term
      |  FROM db JOIN corpus USING (bg)
      |  JOIN lefts ON split_part(bg, ' ', 1) = lefts.w1
      |  JOIN uni ON split_part(bg, ' ', 2) = uni.tok
      |  CROSS JOIN tot),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CAST(round(-term * 1000000) AS BIGINT)) AS BIGINT) AS q
      |  FROM terms GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  CAST((2 * q + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0 AS avg_nll
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  /** Absolute discount for the Kneser–Ney family (the standard D). */
  val KnDiscount = 0.75

  /** Interpolated Kneser–Ney bigram scoring — the smoothing CCNet-
    * class filters actually use (KenLM's default), one tier above
    * [[jmLogprob]]: instead of interpolating with the raw UNIGRAM
    * prior (which lets a frequent-but-context-bound word — the
    * classic "Francisco" — soak up backoff mass in contexts it never
    * follows), each position scores
    * ln((c(w1w2) − D)/c(w1·) + D·N1+(w1·)/c(w1·) · p_cont(w2)) with
    * p_cont(w2) = N1+(·w2)/N1+(··) — the CONTINUATION prior: how many
    * distinct contexts w2 follows, not how often it occurs. All four
    * count relations are exact integers over the bigram-type table,
    * so the oracle replays them exactly; train-on-self means every
    * scored bigram is observed (c ≥ 1 > D keeps the discounted term
    * positive). Dataflow = [[jmLogprob]]'s: map-side bigrams, hash-
    * aggregated model relations rejoined hint-free on their string
    * keys, one 1-row broadcast. */
  def knLogprob(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bi = d.select(col("doc_id"),
      explode(expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bg"))
    // same count-table materialization as [[unigramLogprob]]; corpus
    // here feeds THREE marginal fits (lefts, conts, ntypes) plus the
    // scoring join (32 Exchanges / 10 scans measured r15)
    val db = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val corpus = db.groupBy(col("bg")).agg(sum(col("c")).as("cbg"))
      .localCheckpoint(true)
    val lefts = corpus
      .groupBy(element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("cbg")).as("cw1"), count(lit(1)).as("nfol"))
    val conts = corpus
      .groupBy(element_at(split(col("bg"), " "), 2).as("w2"))
      .agg(count(lit(1)).as("ncont"))
    val ntypes = corpus.agg(count(lit(1)).as("nt"))
    db.join(corpus, "bg")
      .join(lefts, element_at(split(col("bg"), " "), 1) === col("w1"))
      .join(conts, element_at(split(col("bg"), " "), 2) === col("w2"))
      .crossJoin(broadcast(ntypes))
      .withColumn("term", r6(col("c") * log(
        (col("cbg").cast("double") - lit(KnDiscount)) / col("cw1") +
          (lit(KnDiscount) * col("nfol") / col("cw1")) *
          (col("ncont").cast("double") / col("nt")))))
      // exact micro-unit fold (the §8.5 integer remedy, the
      // weightedFpUdf precedent): each r6 term becomes its exact
      // ×1e6 BIGINT, the per-doc mean is an exact half-up integer
      // division — a double r6(-s/n) flaked at sf0.1 when the true
      // rational terminated at the 7th-digit half (observed, 1 row)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(round(-col("term") * 1e6).cast("long")).as("q"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(2 * q + n_bigrams) div (2 * n_bigrams)").cast("double") / 1e6)
          .as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  val knLogprobSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bi AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
       |       FROM toks),
       |db AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg),
       |corpus AS (SELECT bg, SUM(c) AS cbg FROM db GROUP BY bg),
       |lefts AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(cbg) AS cw1,
       |            COUNT(*) AS nfol
       |          FROM corpus GROUP BY 1),
       |conts AS (SELECT split_part(bg, ' ', 2) AS w2, COUNT(*) AS ncont
       |          FROM corpus GROUP BY 1),
       |nt AS (SELECT COUNT(*) AS nt FROM corpus),
       |terms AS (
       |  SELECT doc_id, c,
       |    round(c * ln((CAST(cbg AS DOUBLE) - $KnDiscount) / cw1
       |               + (($KnDiscount * nfol) / cw1)
       |                 * (CAST(ncont AS DOUBLE) / nt)), 6) + 0 AS term
       |  FROM db JOIN corpus USING (bg)
       |  JOIN lefts ON split_part(bg, ' ', 1) = lefts.w1
       |  JOIN conts ON split_part(bg, ' ', 2) = conts.w2
       |  CROSS JOIN nt),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CAST(round(-term * 1000000) AS BIGINT)) AS BIGINT) AS q
       |  FROM terms GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  CAST((2 * q + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0 AS avg_nll
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  /** Held-out bigram NLL under either smoothing — the form the
    * planted KN-vs-JM spec drives (train-on-self can never show the
    * difference: no unseen mass). Model relations come from `train`
    * only; eval bigrams LEFT-join them, and the unseen cases take
    * each smoother's own backoff: JM falls to the add-1 UNIGRAM
    * prior (0 conditional for an unseen context), KN to the add-1
    * CONTINUATION prior — which is exactly where "Francisco" hurts
    * JM and not KN. Total by construction (every p > 0). */
  private[graft] def heldoutBigramNll(
      train: DataFrame, eval: DataFrame, kn: Boolean): DataFrame = {
    def biOf(d: DataFrame) = d.select(col("doc_id"),
      explode(expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bg"))
    val corpus = biOf(train).groupBy(col("bg")).agg(count(lit(1)).as("cbg"))
    val lefts = corpus.groupBy(element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("cbg")).as("cw1"), count(lit(1)).as("nfol"))
    val conts = corpus.groupBy(element_at(split(col("bg"), " "), 2).as("w2"))
      .agg(count(lit(1)).as("ncont"))
    val uni = train.select(explode(split(col("text"), " ")).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("cw"))
    val stats = uni.agg(sum(col("cw")).as("t"), count(lit(1)).as("v"))
      .crossJoin(corpus.agg(count(lit(1)).as("nt")))
    val ev = biOf(eval).groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(corpus, Seq("bg"), "left")
      .join(lefts, Seq("w1"), "left")
      .join(conts, Seq("w2"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
    val pCont = (coalesce(col("ncont"), lit(0L)) + 1).cast("double") /
      (col("nt") + col("v") + 1)
    val pUni = (coalesce(col("cw"), lit(0L)) + 1).cast("double") /
      (col("t") + col("v") + 1)
    val p =
      if (kn)
        when(col("cw1").isNotNull,
          greatest(coalesce(col("cbg"), lit(0L)).cast("double") - KnDiscount, lit(0.0)) /
            col("cw1") +
            (lit(KnDiscount) * col("nfol") / col("cw1")) * pCont)
          .otherwise(pCont)
      else
        lit(0.75) * when(col("cw1").isNotNull,
          coalesce(col("cbg"), lit(0L)).cast("double") / col("cw1"))
          .otherwise(lit(0.0)) +
          lit(0.25) * pUni
    ev.withColumn("term", col("c") * log(p))
      .groupBy(col("doc_id"))
      .agg((-sum(col("term")) / sum(col("c"))).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): score every
    * doc with the corpus-self unigram LM ([[unigramLogprob]]), cut
    * the score distribution at its exact tertiles, and report the
    * head / middle / tail segments — the classic split where "head"
    * (lowest NLL ≈ lowest perplexity) feeds training first. Cutoffs
    * are two scalar aggregates broadcast back over the scored docs,
    * so bucketing is map-only — no global sort of the corpus, unlike
    * CCNet's literal sort-then-split. Spark's exact `percentile`
    * buffers per-value counts on one reducer; at real corpus scale
    * swap in `approx_percentile` (the registered
    * `approx_percentiles` twin documents that path) — the bucket
    * semantics are unchanged. Both engines interpolate at (n−1)·p;
    * r6 absorbs interpolation-order ulps (the textPercentiles
    * bridge). */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    // the nll relation feeds the tertile cutoffs AND the bucketing —
    // unchecked, each reference re-expands the whole LM chain. The
    // doc-level checkpoint runs the chain once (fresh-JVM min
    // 1.82 s → 1.49 s measured r15).
    val nll = unigramLogprob(s, dir).localCheckpoint(true)
    val cuts = nll.agg(
      r6(percentile(col("avg_nll"), lit(1.0 / 3))).as("c1"),
      r6(percentile(col("avg_nll"), lit(2.0 / 3))).as("c2"))
    nll.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_nll") <= col("c1"), lit("head"))
          .when(col("avg_nll") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        r6(OracleMath.davg(col("avg_nll"))).as("mean_nll"),
        min(col("avg_nll")).as("min_nll"),
        max(col("avg_nll")).as("max_nll"))
      .orderBy(col("bucket"))
  }

  val pplBucketsSql: String =
    s"""WITH nll AS (${unigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |cuts AS (
       |  SELECT round(quantile_cont(avg_nll, CAST(1 AS DOUBLE) / 3), 6) + 0 AS c1,
       |         round(quantile_cont(avg_nll, CAST(2 AS DOUBLE) / 3), 6) + 0 AS c2
       |  FROM nll),
       |b AS (
       |  SELECT CASE WHEN avg_nll <= c1 THEN 'head'
       |              WHEN avg_nll <= c2 THEN 'middle'
       |              ELSE 'tail' END AS bucket,
       |         n_tokens, avg_nll
       |  FROM nll CROSS JOIN cuts)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  round(CAST(SUM(CAST(avg_nll AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS mean_nll,
       |  MIN(avg_nll) AS min_nll, MAX(avg_nll) AS max_nll
       |FROM b GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** Deterministic curriculum ordering — the data-ORDER op a staged
    * training run consumes: every doc gets a difficulty phase (0 =
    * fluent head, 1 = middle, 2 = tail, by the same exact NLL
    * tertiles as [[pplBuckets]]) and a content-independent 60-bit
    * shuffle key (salted doc_id hash), so ORDER BY (phase,
    * shuffle_key) replays the easy-to-hard curriculum with a stable
    * within-phase shuffle — re-runnable bit-identically, which is
    * what makes training order auditable. n_tokens rides along for
    * budget slicing. At 100 TB the output order is a
    * range-partitioned sort on (phase, shuffle_key) — the zorder
    * write shape, not a single-partition window; no global ordinal
    * is materialized for exactly that reason. */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    // the [[pplBuckets]] nll-level checkpoint (cutoffs + phase
    // assignment both consume the relation)
    val nll = unigramLogprob(s, dir).localCheckpoint(true)
    val cuts = nll.agg(
      r6(percentile(col("avg_nll"), lit(1.0 / 3))).as("c1"),
      r6(percentile(col("avg_nll"), lit(2.0 / 3))).as("c2"))
    nll.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        when(col("avg_nll") <= col("c1"), 0)
          .when(col("avg_nll") <= col("c2"), 1)
          .otherwise(2).as("phase"),
        graft.functions.CrossHash.md5Hash60Col(
          concat(lit("curriculum:"), col("doc_id").cast("string"))).as("shuffle_key"),
        col("n_tokens"))
      .orderBy(col("phase"), col("shuffle_key"), col("doc_id"))
  }

  lazy val curriculumOrderSql: String = {
    val h = graft.functions.CrossHash.sqlHash60("'curriculum:' || CAST(doc_id AS VARCHAR)")
    s"""WITH co_nll AS (${unigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |co_cuts AS (
       |  SELECT round(quantile_cont(avg_nll, CAST(1 AS DOUBLE) / 3), 6) + 0 AS c1,
       |         round(quantile_cont(avg_nll, CAST(2 AS DOUBLE) / 3), 6) + 0 AS c2
       |  FROM co_nll)
       |SELECT doc_id,
       |  CASE WHEN avg_nll <= c1 THEN 0
       |       WHEN avg_nll <= c2 THEN 1
       |       ELSE 2 END AS phase,
       |  $h AS shuffle_key,
       |  n_tokens
       |FROM co_nll CROSS JOIN co_cuts
       |ORDER BY phase, shuffle_key, doc_id""".stripMargin
  }

  /** Per-bucket keep rates for [[ccnetSample]] — CCNet's released
    * corpora keep the fluent head fully, sample the middle, and
    * mostly drop the tail (Wenzek et al. 2020 publish head+middle as
    * the default training cut; the tail survives only for
    * robustness studies). */
  val CcnetRates: Seq[(String, Double)] =
    Seq("head" -> 1.0, "middle" -> 0.5, "tail" -> 0.1)

  /** CCNet differential bucket sampling — the SELECTION stage that
    * follows [[pplBuckets]]'s tertile split: each doc's bucket gets
    * its own keep rate, and the keep decision is the deterministic
    * md5 hash-threshold (the `sample_hash`/`cluster_sample` uniform:
    * u = (h mod 2⁵⁰ + ½)/2⁵⁰, identical in both engines), so once
    * the two cutoff scalars broadcast, selection is MAP-ONLY — no
    * global sort, no per-doc coordination, the shape that holds at
    * 100 TB (swap the exact tertiles for the registered
    * approx_percentile twin's cutoffs at real scale). Report = per
    * bucket: rate, docs, kept docs, kept token mass. */
  def ccnetSample(s: SparkSession, dir: String): DataFrame = {
    // same nll-level checkpoint as [[pplBuckets]] (cutoffs + scoring
    // both consume it; fresh-JVM min 1.85 s → 1.56 s measured r15)
    val nll = unigramLogprob(s, dir).localCheckpoint(true)
    val cuts = nll.agg(
      r6(percentile(col("avg_nll"), lit(1.0 / 3))).as("c1"),
      r6(percentile(col("avg_nll"), lit(2.0 / 3))).as("c2"))
    val u = ((graft.functions.CrossHash.md5Hash60Col(
      concat(lit("cc:"), col("doc_id").cast("string")))
      % Dsir.TwoPow50).cast("double") + lit(0.5)) / lit(Dsir.TwoPow50).cast("double")
    val rate = CcnetRates.tail.foldLeft(
      when(col("bucket") === CcnetRates.head._1, CcnetRates.head._2)) {
      case (acc, (b, r)) => acc.when(col("bucket") === b, r)
    }
    nll.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_nll") <= col("c1"), lit("head"))
          .when(col("avg_nll") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .withColumn("rate", rate)
      .withColumn("keep", (u < col("rate")).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        min(col("rate")).as("rate"),
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        sum(when(col("keep") === 1L, col("n_tokens")).otherwise(0L)).as("tokens_kept"))
      .orderBy(col("bucket"))
  }

  val ccnetSampleSql: String = {
    val h = graft.functions.CrossHash.sqlHash60("'cc:' || CAST(doc_id AS VARCHAR)")
    val rateCase = CcnetRates
      .map { case (b, r) => s"WHEN bucket = '$b' THEN $r" }
      .mkString("CASE ", " ", " END")
    s"""WITH nll AS (${unigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |cuts AS (
       |  SELECT round(quantile_cont(avg_nll, CAST(1 AS DOUBLE) / 3), 6) + 0 AS c1,
       |         round(quantile_cont(avg_nll, CAST(2 AS DOUBLE) / 3), 6) + 0 AS c2
       |  FROM nll),
       |b AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN avg_nll <= c1 THEN 'head'
       |         WHEN avg_nll <= c2 THEN 'middle'
       |         ELSE 'tail' END AS bucket,
       |    (CAST($h % ${Dsir.TwoPow50} AS DOUBLE) + 0.5)
       |      / CAST(${Dsir.TwoPow50} AS DOUBLE) AS u
       |  FROM nll CROSS JOIN cuts),
       |r AS (SELECT *, $rateCase AS rate FROM b)
       |SELECT bucket, MIN(rate) AS rate, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN u < rate THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
       |FROM r GROUP BY bucket
       |ORDER BY bucket""".stripMargin
  }

  /** Sketch accuracy for [[pplBucketsApprox]] (Greenwald–Khanna rank
    * error ≤ 1/accuracy). */
  val PplApproxAccuracy = 10000

  /** The at-scale twin of [[pplBuckets]], registered rather than just
    * documented: identical bucket semantics with the tertile cutoffs
    * from `approx_percentile` (a mergeable per-partition sketch — no
    * single-reducer per-value buffer, the swap-in a 100 TB corpus
    * requires). Rows-gated by declared design (the HLL/KLL sketch
    * precedent: sketch internals are engine-specific, so no DuckDB
    * hash oracle); the error-bound spec pins the bucket counts to the
    * exact twin within the sketch's rank-error guarantee. */
  def pplBucketsApprox(s: SparkSession, dir: String): DataFrame = {
    // the [[pplBuckets]] nll-level checkpoint, same two-reference shape
    val nll = unigramLogprob(s, dir).localCheckpoint(true)
    val pcts = percentile_approx(col("avg_nll"),
      array(lit(1.0 / 3), lit(2.0 / 3)), lit(PplApproxAccuracy))
    val cuts = nll.agg(pcts.as("cs"))
      .select(r6(element_at(col("cs"), 1)).as("c1"),
        r6(element_at(col("cs"), 2)).as("c2"))
    nll.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_nll") <= col("c1"), lit("head"))
          .when(col("avg_nll") <= col("c2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        r6(OracleMath.davg(col("avg_nll"))).as("mean_nll"),
        min(col("avg_nll")).as("min_nll"),
        max(col("avg_nll")).as("max_nll"))
      .orderBy(col("bucket"))
  }

  /** DoReMi-style domain reweighting (Xie et al., NeurIPS 2023) with
    * the engine's two n-gram LMs standing in for proxy/reference:
    * per-source EXCESS LOSS = mean over the source's docs of
    * (unigram NLL − bigram NLL) — how much the richer model improves
    * on the simpler one, the "learnability" signal DoReMi upweights —
    * and one exponentiated-gradient step from the baseline share:
    * w ∝ share · exp(η·excess), normalized. Domains whose text has
    * exploitable structure (high excess) gain weight; memorized /
    * degenerate domains (excess ≈ 0) lose it.
    *
    * Scale shape: both NLL relations are the proven one-aggregation
    * plans; the per-source reduce is one hash aggregation; the
    * normalizer is ONE scalar broadcast back (the mixture_weights
    * convention). exp() ulp drift across engines is collapsed by
    * r6-rounding the r6-rounded exponent's image — the ln() parity
    * argument the whole §8.5 bridge already rests on. */
  val DoremiEta = 1.0

  def doremiWeights(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
    // the two LM chains are independent corpus passes; built inline,
    // the bigram's eager count-table checkpoints run first and the
    // unigram chain only starts inside the perSrc job afterwards.
    // Checkpointing u on a concurrent thread overlaps the two chains
    // (guide §2.6) — u is doc-keyed (doc_id, double), 16 B/doc.
    val (u, b) = OpsShared.concurrently(
      unigramLogprob(s, dir).select(col("doc_id"), col("avg_nll").as("u_nll"))
        .localCheckpoint(true),
      bigramLogprob(s, dir).select(col("doc_id"), col("avg_nll").as("b_nll")))
    // perSrc / raw are SOURCE-sized (one row per domain) but each is
    // referenced twice downstream (tot + raw; norm + final), and every
    // reference re-expands the full two-LM lineage — the r15-measured
    // initial plan carried 158 Exchanges / 56 parquet scans for what
    // is physically a 2-pass job. Eagerly checkpointing the two tiny
    // frames computes the LM chain ONCE and keeps the plan linear;
    // the rows are identical, only the lineage is truncated.
    val perSrc = d.join(u, "doc_id").join(b, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        r6(OracleMath.davg(col("u_nll") - col("b_nll"))).as("excess"))
      .localCheckpoint(true)
    val tot = perSrc.agg(sum(col("n_docs")).as("nd"))
    val raw = perSrc.crossJoin(broadcast(tot))
      .withColumn("share", r6(col("n_docs").cast("double") / col("nd")))
      .withColumn("w_raw", r6(col("share") * exp(lit(DoremiEta) * col("excess"))))
      .localCheckpoint(true)
    val norm = raw.agg(OracleMath.dsum(col("w_raw")).as("wsum"))
    raw.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("excess"), col("share"),
        r6(col("w_raw") / col("wsum")).as("weight"))
      .orderBy(col("source"))
  }

  val doremiWeightsSql: String =
    s"""WITH u AS (${unigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |b AS (${bigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |per AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    round(CAST(SUM(CAST(u.avg_nll - b.avg_nll AS DECIMAL(38,6))) AS DOUBLE)
       |          / COUNT(*), 6) + 0 AS excess
       |  FROM documents d JOIN u USING (doc_id) JOIN b USING (doc_id)
       |  GROUP BY d.source),
       |tot AS (SELECT SUM(n_docs) AS nd FROM per),
       |raw AS (
       |  SELECT source, n_docs, excess,
       |    round(CAST(n_docs AS DOUBLE) / nd, 6) + 0 AS share,
       |    round((round(CAST(n_docs AS DOUBLE) / nd, 6) + 0)
       |          * exp($DoremiEta * excess), 6) + 0 AS w_raw
       |  FROM per CROSS JOIN tot),
       |norm AS (SELECT CAST(SUM(CAST(w_raw AS DECIMAL(38,6))) AS DOUBLE) AS wsum FROM raw)
       |SELECT source, n_docs, excess, share,
       |  round(w_raw / wsum, 6) + 0 AS weight
       |FROM raw CROSS JOIN norm
       |ORDER BY source""".stripMargin

  /** Per-source quantile calibration of the unigram-LM quality score
    * — the cross-domain fairness fix for any global threshold (CCNet
    * cuts per LANGUAGE for the same reason): a global NLL bar keeps
    * almost everything from an easy domain and guts a hard one,
    * while a within-source percentile keeps the best
    * [[CalibKeepFrac]] of EVERY source. keep = percent_rank within
    * the doc's own source ≤ the fraction.
    *
    * Scale shape: one shuffle on `source`, per-source sort inside
    * the window. A pathological mega-domain makes that partition
    * sort-heavy; the documented at-scale swap is per-source
    * `approx_percentile` cutoffs broadcast back (two map passes, no
    * per-source sort — the ppl_buckets pattern), identical keep
    * semantics. percent_rank is deterministic here because the
    * window orders by (avg_nll, doc_id) — a unique key. */
  val CalibKeepFrac = 0.7

  /** The calibrated scoring WITHOUT the presentation sort — for
    * composition (e.g. [[Curation.filterAgreement]] consumes only
    * the keep flag; a trailing global sort below its join would be
    * pure waste). */
  private[ops] def calibratedScores(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source")).orderBy(col("avg_nll"), col("doc_id"))
    unigramLogprob(s, dir).join(d, "doc_id")
      .withColumn("src_pr", r6(percent_rank().over(w)))
      .select(col("doc_id"), col("source"), col("avg_nll"), col("src_pr"),
        (col("src_pr") <= CalibKeepFrac).cast("int").as("keep"))
  }

  def qualityCalibrated(s: SparkSession, dir: String): DataFrame =
    calibratedScores(s, dir).orderBy(col("doc_id"))

  val qualityCalibratedSql: String =
    s"""WITH nll AS (${unigramLogprobSql.replace("ORDER BY doc_id", "")})
       |SELECT doc_id, d.source, avg_nll,
       |  round(percent_rank() OVER (PARTITION BY d.source
       |                             ORDER BY avg_nll, doc_id), 6) + 0 AS src_pr,
       |  CAST(round(percent_rank() OVER (PARTITION BY d.source
       |                                  ORDER BY avg_nll, doc_id), 6) + 0
       |       <= $CalibKeepFrac AS INT) AS keep
       |FROM nll JOIN documents d USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Passages returned by [[bestPassage]]. */
  val PassageK = 5

  /** Chunk-level BM25 passage retrieval — the keyword twin of the
    * reference's own serving shape (it retrieves CHUNKS, not
    * documents — log-vector `ask.py` returns chunk context): the
    * corpus is chunked with the reference chunker ([[graft.ingest
    * .Chunker]], the chunk_stats greedy line-packer), every chunk is
    * BM25-scored against the flagship query WITH CHUNK-LEVEL corpus
    * statistics (chunk df/avgdl — passage statistics, not document
    * statistics), the best passage per document survives, and the
    * top-[[PassageK]] documents return with their winning passage.
    * This is "answer locality": a long document with one relevant
    * paragraph outranks a mildly-relevant-everywhere one.
    *
    * Scale shape: chunking is map-only (the index_pipeline UDF),
    * scoring is the proven one-groupBy BM25 plan over the chunk
    * stream, best-per-doc is a doc-keyed window over scored chunks,
    * and the final top-k is a bounded TakeOrderedAndProject. */
  def bestPassage(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val chunkUdf = udf((txt: String) =>
      graft.ingest.Chunker.chunkLines(txt, TextOps.ChunkStatsSize))
    // chunk identity is a STRUCT key (groupBy handles it natively) —
    // no doc_id*K+idx packing, so no chunk-count overflow at any
    // document size
    val chunks = d
      .select(col("doc_id"),
        posexplode(chunkUdf(translate(col("text"), " ", "\n")))
          .as(Seq("chunk_idx", "ctext")))
      .select(struct(col("doc_id"), col("chunk_idx")).as("cid"),
        translate(col("ctext"), "\n", " ").as("text"))
    val scored = bm25Score(chunks, "cid", "text", QueryTerms)
      .select(col("cid.doc_id").as("doc_id"),
        col("cid.chunk_idx").cast("long").as("chunk_idx"),
        col("score"))
    // rank on the ROUNDED score (r6-before-compare, the bm25Topk /
    // hubness_report bridge rule): ln() may differ from DuckDB's in
    // the last ulps, so a near-tied chunk pair ranked on the raw
    // double could pick different winners per engine; chunk_idx
    // breaks exact ties deterministically
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(r6(col("score")).desc, col("chunk_idx"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_idx"), r6(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(PassageK)
  }

  /** Oracle: the chunk_stats recursive fold assigns each word its
    * chunk number, chunk token streams feed the bm25 conditional-
    * aggregate shape with CHUNK-level stats, then best-per-doc +
    * top-k. */
  val bestPassageSql: String = {
    val tfCols = QueryTerms.zipWithIndex.map { case (term, i) =>
      s"SUM(CASE WHEN tok = '$term' THEN 1 ELSE 0 END) AS tf_$i" }.mkString(",\n    ")
    val dfCols = QueryTerms.zipWithIndex.map { case (_, i) =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i" }.mkString(",\n    ")
    def termScore(i: Int): String =
      s"""CASE WHEN tf_$i > 0
         |  THEN ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
         |       * (tf_$i * ${K1 + 1.0})
         |       / (tf_$i + $K1 * (${1.0 - B} + $B * dl / (CAST(total AS DOUBLE) / n_docs)))
         |  ELSE 0.0 END""".stripMargin.replace('\n', ' ').replaceAll(" +", " ")
    val scoreExpr = QueryTerms.indices.map(termScore).mkString(" + ")
    s"""WITH RECURSIVE w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |words AS (
       |  SELECT doc_id, i, length(ws[i]) + 1 AS lsz
       |  FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |step(doc_id, i, csize, cno) AS (
       |  SELECT doc_id, 1, lsz, 1 FROM words WHERE i = 1
       |  UNION ALL
       |  SELECT s.doc_id, s.i + 1,
       |    CASE WHEN s.csize + nw.lsz > ${TextOps.ChunkStatsSize} THEN nw.lsz
       |         ELSE s.csize + nw.lsz END,
       |    CASE WHEN s.csize + nw.lsz > ${TextOps.ChunkStatsSize} THEN s.cno + 1
       |         ELSE s.cno END
       |  FROM step s JOIN words nw ON nw.doc_id = s.doc_id AND nw.i = s.i + 1),
       |ctoks AS MATERIALIZED (
       |  SELECT s.doc_id, s.cno - 1 AS chunk_idx, w.ws[s.i] AS tok
       |  FROM step s JOIN w ON w.doc_id = s.doc_id),
       |per_chunk AS (
       |  SELECT doc_id, chunk_idx, COUNT(*) AS dl,
       |    $tfCols
       |  FROM ctoks GROUP BY doc_id, chunk_idx),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(dl) AS total,
       |    $dfCols
       |  FROM per_chunk),
       |bm AS (
       |  SELECT doc_id, chunk_idx, $scoreExpr AS score
       |  FROM per_chunk, stats),
       |best AS (
       |  SELECT doc_id, chunk_idx, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY round(score, 6) + 0 DESC, chunk_idx) AS rn
       |    FROM bm)
       |  WHERE rn = 1)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  round(score, 6) + 0 AS score
       |FROM best
       |ORDER BY score DESC, doc_id
       |LIMIT $PassageK""".stripMargin
  }

  /** Fraction of docs the excess-loss selection keeps. */
  val ExcessKeepFrac = 0.3

  /** Excess-loss data selection — the doc-level form of the RHO-style
    * "learnability" rule (select where a stronger model improves most
    * over a weaker one), with the engine's two corpus-self LMs as the
    * model pair: excess = unigram NLL − bigram NLL per document, keep
    * the top [[ExcessKeepFrac]] of docs by excess. High excess means
    * the document has exploitable sequential structure the richer
    * model rewards — the signal [[doremiWeights]] aggregates per
    * SOURCE, applied here per DOCUMENT as a selection, which is the
    * form a pretraining data pipeline actually materializes.
    *
    * Scale shape: both NLL relations are the proven one-aggregation
    * plans; the join is doc_id-keyed; the cutoff is ONE scalar
    * percentile broadcast back, so the keep decision is map-only — no
    * global rank of the corpus (the ppl_buckets pattern; at real
    * scale the percentile swaps to approx_percentile, semantics
    * unchanged). */
  def excessSelect(s: SparkSession, dir: String): DataFrame = {
    // same concurrent two-LM construction as [[doremiWeights]]: the
    // u-side checkpoint exists to OVERLAP the independent unigram
    // chain with the bigram's eager count-table checkpoints.
    val (u, b) = OpsShared.concurrently(
      unigramLogprob(s, dir).select(col("doc_id"), col("avg_nll").as("u_nll"))
        .localCheckpoint(true),
      bigramLogprob(s, dir).select(col("doc_id"), col("avg_nll").as("b_nll")))
    // `ex` is doc-keyed (doc_id, excess) — two narrow columns — but
    // referenced twice (the percentile cut and the keep projection),
    // and each reference re-expands BOTH LM subplans (82 Exchanges /
    // 24 scans in the r15-measured initial plan). The eager
    // checkpoint computes the two-LM join once; at corpus scale the
    // materialized frame is 16 bytes/doc — the same order as the
    // shuffle the percentile already pays.
    val ex = u.join(b, "doc_id")
      .select(col("doc_id"), r6(col("u_nll") - col("b_nll")).as("excess"))
      .localCheckpoint(true)
    val cut = ex.agg(
      r6(percentile(col("excess"), lit(1.0 - ExcessKeepFrac))).as("c"))
    ex.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("excess"),
        (col("excess") >= col("c")).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  val excessSelectSql: String =
    s"""WITH u AS (${unigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |b AS (${bigramLogprobSql.replace("ORDER BY doc_id", "")}),
       |ex AS (
       |  SELECT u.doc_id, round(u.avg_nll - b.avg_nll, 6) + 0 AS excess
       |  FROM u JOIN b USING (doc_id)),
       |cut AS (
       |  SELECT round(quantile_cont(excess, ${1.0 - ExcessKeepFrac}), 6) + 0 AS c
       |  FROM ex)
       |SELECT doc_id, excess,
       |  CAST(excess >= c AS INT) AS keep
       |FROM ex CROSS JOIN cut
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "best_passage" -> (bestPassage _),
    "excess_select" -> (excessSelect _),
    "bm25_topk" -> (bm25Topk _),
    "hybrid_rrf" -> (hybridRrf _),
    "unigram_logprob" -> (unigramLogprob _),
    "bigram_logprob" -> (bigramLogprob _),
    "jm_logprob" -> (jmLogprob _),
    "kn_logprob" -> (knLogprob _),
    "ppl_buckets" -> (pplBuckets _),
    "curriculum_order" -> (curriculumOrder _),
    "ccnet_sample" -> (ccnetSample _),
    // rows-gated by declared design (sketch cutoffs; see Scaladoc) —
    // deliberately ABSENT from `oracles`
    "ppl_buckets_approx" -> (pplBucketsApprox _),
    "doremi_weights" -> (doremiWeights _),
    "quality_calibrated" -> (qualityCalibrated _))

  val oracles: Map[String, String] = Map(
    "best_passage" -> bestPassageSql,
    "excess_select" -> excessSelectSql,
    "bm25_topk" -> bm25TopkSql,
    "hybrid_rrf" -> hybridRrfSql,
    "unigram_logprob" -> unigramLogprobSql,
    "bigram_logprob" -> bigramLogprobSql,
    "jm_logprob" -> jmLogprobSql,
    "kn_logprob" -> knLogprobSql,
    "ppl_buckets" -> pplBucketsSql,
    "curriculum_order" -> curriculumOrderSql,
    "ccnet_sample" -> ccnetSampleSql,
    "doremi_weights" -> doremiWeightsSql,
    "quality_calibrated" -> qualityCalibratedSql)
}
