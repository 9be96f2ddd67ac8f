package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer — the OTHER
  * major tokenizer family next to BPE (Kudo 2018): fit a piece
  * vocabulary with unigram log-prob costs from substring statistics,
  * then segment every word by VITERBI — the minimum-cost path
  * through the word's piece lattice (BPE applies merges greedily;
  * unigram-LM picks the globally cheapest segmentation).
  *
  * Fit ([[unigramVocab]]): one corpus pass collapses the token
  * stream to weighted distinct words (the [[Bpe]] convention);
  * candidate pieces are ALL substrings of length ≤ [[MaxPieceLen]]
  * weighted by word frequency; the vocabulary is the top
  * [[VocabTop]] by (count, piece) UNION all single characters (the
  * coverage guarantee that makes every word encodable); cost(p) =
  * −ln(count_p / total), r6-rounded.
  *
  * Encode ([[unigramEncode]]): the DP runs per DISTINCT word inside
  * a UDF — the vocabulary (≤ VocabTop + alphabet entries, parameter-
  * bounded → closure under the centroid rule) rides to the
  * executors, each word costs O(len·MaxPieceLen) — then joins back
  * to the token stream (each distinct word segmented ONCE, the
  * bpe_encode shape). Per-step scores are r6-rounded after EVERY
  * accumulation and ties break on the smallest predecessor (longest
  * piece), so the whole lattice walk replays in DuckDB: unrolled
  * per-position DP CTEs + a recursive backtrack counting pieces.
  *
  * Scale shape: two aggregations (word counts, piece counts), one
  * bounded top-V collect, one map-only DP pass over distinct words,
  * one join back to the stream — no per-word driver work, no
  * unbounded state anywhere.
  */
object UnigramLm extends QueryModule {
  import Tables.t

  val MaxPieceLen = 4
  val VocabTop = 48

  /** DP position cap — the oracle unrolls this many per-position
    * CTEs. Words longer than this are excluded from the piece
    * statistics in BOTH engines (real tokenizers route such outliers
    * through byte-fallback; the fixture's longest word is 8). */
  val MaxWordLen = 16

  val VocabOut = 20

  private def r6d(x: Double): Double = OracleMath.r6d(x)

  /** Weighted distinct words: (w, f), empty strings and
    * over-[[MaxWordLen]] words excluded (mirrored in every CTE). */
  // resplit opt-in per consumer (r16 A/B): the EM pass re-splits its
  // input (heavy Viterbi UDF over the word relation), the FITTER does
  // not — its piece-stats pass runs post-shuffle already and the extra
  // input stage measured a net loss on unigram_vocab's cold fit.
  private def wordsDf(s: SparkSession, dir: String, resplit: Boolean = false): DataFrame =
    t(s, dir, "documents", resplit = resplit)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** The fitted vocabulary: piece → (count, cost), memoized per
    * directory. Bounded by VocabTop + alphabet size. */
  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long, Double)]]()

  private[graft] def clearVocabCache(): Unit = vocabCache.clear()

  private[graft] def fittedVocab(s: SparkSession, dir: String): Seq[(String, Long, Double)] =
    vocabCache.computeIfAbsent(OpsShared.dirKey(dir), _ => {
      val pieces = wordsDf(s, dir)
        .select(col("f"), explode(expr(
          s"""flatten(transform(sequence(1, least($MaxPieceLen, length(w))),
             |  l -> transform(sequence(0, length(w) - l),
             |    i -> substring(w, i + 1, l))))""".stripMargin)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      val top = pieces.orderBy(col("cnt").desc, col("piece")).limit(VocabTop)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val chars = pieces.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val vocab = (top ++ chars).distinct
      val tot = vocab.map(_._2).sum
      vocab.map { case (p, c) =>
        (p, c, r6d(-math.log(c.toDouble / tot.toDouble)))
      }.toSeq
    })

  /** Top-[[VocabOut]] fitted pieces — the fit's audit surface. */
  def unigramVocab(s: SparkSession, dir: String): DataFrame = {
    val v = fittedVocab(s, dir)
    import s.implicits._
    v.sortBy { case (p, c, _) => (-c, p) }.take(VocabOut)
      .toDF("piece", "cnt", "cost")
  }

  val unigramVocabSql: String = vocabCtes +
    s"""
       |SELECT piece, cnt, cost FROM vcost
       |ORDER BY cnt DESC, piece LIMIT $VocabOut""".stripMargin

  private def vocabCtes: String =
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $MaxWordLen
       |  GROUP BY w),
       |pieces AS MATERIALIZED (
       |  SELECT substr(w, i + 1, l) AS piece, CAST(SUM(f) AS BIGINT) AS cnt
       |  FROM words,
       |    UNNEST(range(1, $MaxPieceLen + 1)) AS pl(l),
       |    UNNEST(range(0, len(w))) AS ps(i)
       |  WHERE l <= len(w) AND i + l <= len(w)
       |  GROUP BY 1),
       |vocab AS (
       |  SELECT DISTINCT piece, cnt FROM (
       |    SELECT piece, cnt FROM
       |      (SELECT piece, cnt FROM pieces ORDER BY cnt DESC, piece LIMIT $VocabTop)
       |    UNION ALL
       |    SELECT piece, cnt FROM pieces WHERE len(piece) = 1)),
       |vtot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab),
       |-- MATERIALIZED: the DP chain references words/vcost once per
       |-- unrolled position×arm; inlined they re-evaluate the corpus
       |-- scan per reference (fd blowup — the pcaChainSql lesson)
       |vcost AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    round(-ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)), 6) + 0 AS cost
       |  FROM vocab, vtot)""".stripMargin

  /** ONE lattice fill shared by the stats and pieces paths — the
    * per-step r6 rounding and smallest-predecessor tie-break live
    * here and nowhere else, so the encode and EM oracles cannot
    * drift apart. Returns (best, back) arrays. */
  private def fillLattice(
      w: String, vocab: Map[String, Double]): (Array[Double], Array[Int]) = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.MaxValue)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        if (best(j) != Double.MaxValue) {
          vocab.get(w.substring(j, i)) match {
            case Some(cost) =>
              val cand = r6d(best(j) + cost)
              if (cand < best(i)) { best(i) = cand; back(i) = j }
            case None => ()
          }
        }
        j += 1
      }
      i += 1
    }
    (best, back)
  }

  /** Per-distinct-word Viterbi stats via the closure vocabulary:
    * returns (n_pieces, score) or null when unencodable (cannot
    * happen while the char-coverage union holds). */
  private def viterbiUdf(vocab: Map[String, Double]) =
    udf { (w: String) =>
      val n = w.length
      val (best, back) = fillLattice(w, vocab)
      if (best(n) == Double.MaxValue) None
      else {
        var k = 0
        var pos = n
        while (pos > 0) { pos = back(pos); k += 1 }
        Some((k, best(n)))
      }
    }

  /** Per-document segmentation profile: word count, total pieces,
    * fertility (pieces per word — THE tokenizer-quality number), and
    * mean per-word path cost. */
  /** Per-distinct-word Viterbi stats (w, n_pieces, score) — the
    * relation [[unigramEncode]] joins back to the token stream. */
  private[graft] def wordStats(s: SparkSession, dir: String): DataFrame = {
    val vocab = fittedVocab(s, dir).map { case (p, _, c) => p -> c }.toMap
    val vit = viterbiUdf(vocab)
    wordsDf(s, dir, resplit = true)
      .withColumn("st", vit(col("w")))
      .filter(col("st").isNotNull)
      .select(col("w"), col("st._1").as("n_pieces"), col("st._2").as("score"))
  }

  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    val wstats = wordStats(s, dir)
    val toks = t(s, dir, "documents", resplit = true)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
    // exact micro-unit means (the knLogprob remedy): r6 of a double
    // division flaked at sf0.1 when the true rational terminated at
    // the 7th-digit half (observed on avg_score, 1 row); both ratios
    // fold as exact integers with a half-up integer division
    toks.join(wstats, "w")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"),
        sum(round(col("score") * 1e6).cast("long")).as("qs"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (expr("(2 * n_pieces * 1000000 + n_words) div (2 * n_words)")
          .cast("double") / 1e6).as("fertility"),
        (expr("(2 * qs + n_words) div (2 * n_words)")
          .cast("double") / 1e6).as("avg_score"))
      .orderBy(col("doc_id"))
  }

  /** Per-language word/piece/byte counts under the frozen unigram LM
    * — the [[TokenizerEval.tokenizerFertilityLang]] arm. Same word
    * regime and Viterbi stats as [[unigramEncode]]; words the
    * lattice cannot segment drop from words AND bytes. */
  private[ops] def fertilityLangCounts(s: SparkSession, dir: String): DataFrame = {
    val wstats = wordStats(s, dir)
    t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
      .join(wstats, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"),
        sum(octet_length(col("w"))).cast("long").as("n_bytes"))
      .select(lit("unigram").as("tokenizer"), col("lang"),
        col("n_words"), col("n_pieces"), col("n_bytes"))
  }

  private[ops] lazy val fertilityLangCountsSql: String =
    s"""$unigramStatsCtes,
       |tokl AS (
       |  SELECT lang, w FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $MaxWordLen)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(strlen(t.w)) AS BIGINT) AS n_bytes
       |FROM tokl t JOIN wstats s ON s.w = t.w
       |GROUP BY lang""".stripMargin

  /** Shared CTE prefix through the per-word `wstats`
    * (w, n_pieces, score) relation: vocab costs, the unrolled DP
    * lattice, the recursive backtrack — generated for any
    * [[MaxWordLen]]. */
  private[ops] lazy val unigramStatsCtes: String = {
    val dps = (1 to MaxWordLen).map { i =>
      val arms = (math.max(0, i - MaxPieceLen) until i).map { j =>
        s"""      SELECT d.w, round(d.score + v.cost, 6) + 0 AS score, $j AS back
           |      FROM dp$j d JOIN words wl ON wl.w = d.w
           |      JOIN vcost v ON v.piece = substr(d.w, ${j + 1}, ${i - j})
           |      WHERE len(wl.w) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      // every DP level is MATERIALIZED: dp$i is referenced by up to
      // MaxPieceLen later levels plus alldp — inlined, the chain
      // expands into a 4^MaxWordLen scan tree (observed as a runaway
      // DuckDB evaluation; same class as the pcaChainSql fd blowup)
      s"""dp$i AS MATERIALIZED (
         |  SELECT w, score, back FROM (
         |    SELECT w, score, back,
         |      row_number() OVER (PARTITION BY w ORDER BY score, back) AS rn
         |    FROM (
         |$arms
         |    ))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val allArms = (1 to MaxWordLen)
      .map(i => s"SELECT w, $i AS pos, score, back FROM dp$i")
      .mkString("\n  UNION ALL ")
    s"""$vocabCtes,
       |dp0 AS MATERIALIZED (SELECT w, CAST(0.0 AS DOUBLE) AS score, 0 AS back FROM words),
       |$dps,
       |alldp AS MATERIALIZED (
       |  $allArms),
       |bt AS (
       |  SELECT w, len(w) AS pos, 0 AS k FROM words
       |  UNION ALL
       |  SELECT b.w, a.back, b.k + 1
       |  FROM bt b JOIN alldp a ON a.w = b.w AND a.pos = b.pos
       |  WHERE b.pos > 0),
       |wstats AS (
       |  SELECT ws.w, np.k AS n_pieces, dp.score
       |  FROM words ws
       |  JOIN alldp dp ON dp.w = ws.w AND dp.pos = len(ws.w)
       |  JOIN (SELECT w, k FROM bt WHERE pos = 0) np ON np.w = ws.w)""".stripMargin
  }

  /** Unrolled DP + recursive backtrack, generated for any
    * [[MaxWordLen]]. */
  val unigramEncodeSql: String =
    s"""$unigramStatsCtes,
       |toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $MaxWordLen),
       |agg AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
       |    CAST(SUM(CAST(round(s.score * 1000000) AS BIGINT)) AS BIGINT) AS qs
       |  FROM toks t JOIN wstats s ON s.w = t.w
       |  GROUP BY t.doc_id)
       |SELECT doc_id, n_words, n_pieces,
       |  CAST((2 * n_pieces * 1000000 + n_words) // (2 * n_words) AS DOUBLE) / 1000000.0 AS fertility,
       |  CAST((2 * qs + n_words) // (2 * n_words) AS DOUBLE) / 1000000.0 AS avg_score
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  /** Viterbi path pieces (not just counts) — backtracks the same
    * [[fillLattice]] back-pointer chain the stats UDF walks. */
  private def viterbiPiecesUdf(vocab: Map[String, Double]) =
    udf { (w: String) =>
      val n = w.length
      val (best, back) = fillLattice(w, vocab)
      if (best(n) == Double.MaxValue) None
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var pos = n
        while (pos > 0) { out += w.substring(back(pos), pos); pos = back(pos) }
        Some(out.reverse.toArray)
      }
    }

  /** One hard-EM (Viterbi-EM) re-estimation round — the training
    * step SentencePiece iterates: E-step = each word's Viterbi path
    * under the current costs (the [[wordStats]] lattice walk,
    * emitting pieces), M-step = piece mass re-counted from the paths
    * (weighted by word frequency, add-1 smoothed over the SAME
    * vocabulary so unused pieces shrink to the floor instead of
    * dividing by zero). Pieces the Viterbi actually uses GAIN mass;
    * candidates that only existed as substring statistics drain —
    * the sharpening each EM round buys.
    *
    * Shape: one map-only path pass over distinct words, one
    * vocab-bounded aggregation, driver arithmetic on ≤|V| rows.
    * Output: the re-estimated top-[[VocabOut]] vocabulary. */
  def unigramEm(s: SparkSession, dir: String): DataFrame = {
    val vocab = fittedVocab(s, dir)
    val costs = vocab.map { case (p, _, c) => p -> c }.toMap
    val vp = viterbiPiecesUdf(costs)
    val counts2 = wordsDf(s, dir, resplit = true)
      .withColumn("pieces", vp(col("w")))
      .filter(col("pieces").isNotNull)
      .select(explode(col("pieces")).as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("c2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nv = vocab.size
    val tot2 = counts2.values.sum
    import s.implicits._
    vocab.map { case (p, _, _) =>
      val c2 = counts2.getOrElse(p, 0L)
      (p, c2, r6d(-math.log((c2 + 1).toDouble / (tot2 + nv).toDouble)))
    }.sortBy { case (p, c2, _) => (-c2, p) }.take(VocabOut)
      .toDF("piece", "cnt", "cost")
  }

  val unigramEmSql: String = {
    // the encode chain minus its final SELECT, then: pieces from the
    // backtrack (carried on the recursion), recounted mass, smoothed
    // re-estimated costs over the SAME vocabulary
    val dpChain = unigramEncodeSql
      .substring(0, unigramEncodeSql.indexOf(",\nbt AS ("))
    s"""$dpChain,
       |btp AS (
       |  SELECT w, len(w) AS pos, CAST(NULL AS VARCHAR) AS piece FROM words
       |  UNION ALL
       |  SELECT b.w, a.back, substr(b.w, a.back + 1, b.pos - a.back)
       |  FROM btp b JOIN alldp a ON a.w = b.w AND a.pos = b.pos
       |  WHERE b.pos > 0),
       |c2 AS (
       |  SELECT p.piece, CAST(SUM(ws.f) AS BIGINT) AS c2
       |  FROM (SELECT w, piece FROM btp WHERE piece IS NOT NULL) p
       |  JOIN words ws ON ws.w = p.w
       |  GROUP BY p.piece),
       |t2 AS (
       |  SELECT CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS t,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM vcost) AS nv
       |  FROM c2)
       |SELECT v.piece, CAST(COALESCE(c.c2, 0) AS BIGINT) AS cnt,
       |  round(-ln(CAST(COALESCE(c.c2, 0) + 1 AS DOUBLE)
       |            / CAST(t2.t + t2.nv AS DOUBLE)), 6) + 0 AS cost
       |FROM vcost v LEFT JOIN c2 c ON c.piece = v.piece CROSS JOIN t2
       |ORDER BY cnt DESC, v.piece LIMIT $VocabOut""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "unigram_vocab" -> (unigramVocab _),
    "unigram_encode" -> (unigramEncode _),
    "unigram_em" -> (unigramEm _))

  val oracles: Map[String, String] = Map(
    "unigram_vocab" -> unigramVocabSql,
    "unigram_encode" -> unigramEncodeSql,
    "unigram_em" -> unigramEmSql)
}
