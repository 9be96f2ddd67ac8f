package graft.ops

import graft.functions.VectorFunctions.r6
import graft.ingest.Chunker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY §2.B string
  * rows + the training-data-pipeline text suite): per-language
  * stats, token counting, quality scoring, fingerprinting,
  * language-ID heuristic, chunk statistics.
  *
  * All-builtin expressions (split / explode / higher-order filter)
  * so everything stays inside whole-stage codegen; UDFs appear only
  * where a sequential fold is inherent (chunker, rolling hash).
  */
object TextOps extends QueryModule {
  import Tables.t

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Per-language corpus stats: doc count, char totals, token
    * totals. Map-side partial agg on a 5-value key. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      .orderBy(col("lang"))
  }

  val textStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Global top-20 tokens: explode → count → top-k. The explode
    * fans out ~rows×tokens but partial aggregation collapses it
    * map-side before the single shuffle on the word key. */
  def topWords(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(20)
  }

  val topWordsSql: String =
    """SELECT w AS word, COUNT(*) AS cnt
      |FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      |GROUP BY w
      |ORDER BY cnt DESC, word
      |LIMIT 20""".stripMargin

  /** Document-frequency floor for [[burstinessReport]] — cf/df on a
    * df=1 term is just that term's count in its one doc; the
    * statistic means something only across several documents. */
  val BurstMinDf = 5

  /** Term burstiness report (Church & Gale): for each term,
    * collection frequency cf over document frequency df — the mean
    * occurrences per CONTAINING document. Content words burst
    * (cf/df ≫ 1: a doc about a topic repeats its terms); function
    * words spread (cf/df ≈ cf/n_docs). The top of this list is the
    * template/boilerplate tell zipf_fit's global curve blurs: a term
    * with df=5 but cf=500 lives in five near-identical generated
    * pages. Top-20 by burstiness, ties to the lexicographically
    * earlier term; tokenization is the repo's split-on-space
    * convention (identical to [[topWords]], empty tokens included).
    *
    * Arithmetic: cf and df are exact BIGINTs; burstiness is the
    * micro-unit HALF_UP ratio (2·cf·10⁶ + df) div (2·df) — exact
    * integer end to end, headroom to cf ≈ 4.6e12 tokens per term
    * (beyond that the sum lifts to DECIMAL, documented not needed at
    * 100 TB: no single TERM carries trillions of occurrences outside
    * the stopword head, and the head is still < 1e13).
    *
    * Scale shape: ONE token scan; the (term, doc) pre-aggregation
    * collapses map-side before the only wide shuffle (term key);
    * the final top-k is TakeOrderedAndProject, never a global
    * sort. */
  def burstinessReport(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("term"))
      .agg(sum(col("k")).as("cf"), count(lit(1)).as("df"))
      .where(col("df") >= BurstMinDf)
      .select(col("term"), col("cf"), col("df"),
        (expr("(2 * cf * 1000000 + df) div (2 * df)").cast("double") / 1e6)
          .as("burstiness"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(20)

  /** Oracle mirror (prefix `bur_`): identical tokenization, floor,
    * and HALF_UP micro-unit ratio. */
  val burstinessReportSql: String =
    s"""WITH bur_t AS (
       |  SELECT doc_id, w AS term
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)),
       |bur_d AS (SELECT term, doc_id, COUNT(*) AS k FROM bur_t GROUP BY term, doc_id),
       |bur_c AS (
       |  SELECT term, CAST(SUM(k) AS BIGINT) AS cf, CAST(COUNT(*) AS BIGINT) AS df
       |  FROM bur_d GROUP BY term)
       |SELECT term, cf, df,
       |  CAST((2 * cf * 1000000 + df) // (2 * df) AS DOUBLE) / 1000000.0 AS burstiness
       |FROM bur_c
       |WHERE df >= $BurstMinDf
       |ORDER BY burstiness DESC, term
       |LIMIT 20""".stripMargin

  /** Minimum bigram count for [[collocationPmi]] — PMI is notoriously
    * unstable on rare pairs (a hapax bigram of two hapax words maxes
    * the score), so the standard practice is a hard count floor. */
  val PmiMinCount = 5

  /** Collocation mining by pointwise mutual information — the
    * phrase-discovery pass a tokenizer-vocabulary or stopword-list
    * review runs: bigrams whose joint probability beats the product
    * of their unigram probabilities, PMI = ln(c_xy·N²/(B·c_x·c_y)),
    * computed in log-sum form so no product overflows double's exact
    * integer range. Count floor [[PmiMinCount]]; top-50 by PMI, ties
    * (x, y).
    *
    * Scale shape: ONE token scan serves both streams (unigrams by
    * explode, bigrams by index-pair transform over the same split);
    * the bigram count floor applies BEFORE the two unigram-count
    * joins, so the joined relation is the surviving collocations,
    * not the corpus; N and B are 1-row broadcast scalars. */
  def collocationPmi(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(split(col("text"), " ").as("ws"))
    val uni = d.select(explode(col("ws")).as("x"))
      .filter(length(col("x")) > 0)
      .groupBy(col("x")).agg(count(lit(1)).as("cx"))
    // size >= 2 guard BEFORE the pair transform: Spark's
    // sequence(0, -1) DESCENDS (the mediaFrames lesson), so a
    // single-word doc would fabricate an out-of-range pair
    val biRaw = d.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS x, ws[i + 1] AS y))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .filter(length(col("x")) > 0 && length(col("y")) > 0)
    val bi = biRaw
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= PmiMinCount)
    val nTotal = uni.agg(coalesce(sum(col("cx")), lit(0L)).as("nn"))
    // B = the bigram EVENT count — the same nonempty-pair stream the
    // c_xy counts come from, so the PMI event spaces are consistent
    // (a raw adjacency count would include empty-token pairs the
    // numerator excludes and uniformly understate every PMI)
    val bTotal = biRaw.agg(count(lit(1)).as("bb"))
    bi.join(uni, Seq("x"))
      .join(uni.select(col("x").as("y"), col("cx").as("cy")), Seq("y"))
      .crossJoin(broadcast(nTotal))
      .crossJoin(broadcast(bTotal))
      .select(col("x"), col("y"), col("cxy").as("n_xy"),
        r6(log(col("cxy").cast("double")) + lit(2.0) * log(col("nn").cast("double"))
          - log(col("bb").cast("double")) - log(col("cx").cast("double"))
          - log(col("cy").cast("double"))).as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(50)
  }

  /** Oracle mirror of [[collocationPmi]] — same tokenization (raw
    * space split, empties dropped), same log-sum PMI term order. */
  val collocationPmiSql: String =
    s"""WITH cp_w AS (SELECT string_split(text, ' ') AS ws FROM documents),
       |cp_u AS MATERIALIZED (
       |  SELECT w AS x, COUNT(*) AS cx
       |  FROM cp_w, UNNEST(ws) AS t(w)
       |  WHERE length(w) > 0
       |  GROUP BY w),
       |cp_braw AS MATERIALIZED (
       |  SELECT ws[i] AS x, ws[i + 1] AS y
       |  FROM cp_w, UNNEST(range(1, len(ws))) AS t(i)
       |  WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0),
       |cp_b AS (
       |  SELECT x, y, COUNT(*) AS cxy
       |  FROM cp_braw
       |  GROUP BY x, y
       |  HAVING COUNT(*) >= $PmiMinCount),
       |cp_n AS (SELECT COALESCE(SUM(cx), 0) AS nn FROM cp_u),
       |cp_t AS (SELECT COUNT(*) AS bb FROM cp_braw)
       |SELECT b.x, b.y, CAST(b.cxy AS BIGINT) AS n_xy,
       |  round(ln(CAST(b.cxy AS DOUBLE)) + 2.0 * ln(CAST(n.nn AS DOUBLE))
       |    - ln(CAST(t.bb AS DOUBLE)) - ln(CAST(u.cx AS DOUBLE))
       |    - ln(CAST(v.cx AS DOUBLE)), 6) + 0 AS pmi
       |FROM cp_b b
       |JOIN cp_u u ON u.x = b.x
       |JOIN cp_u v ON v.x = b.y
       |CROSS JOIN cp_n n
       |CROSS JOIN cp_t t
       |ORDER BY pmi DESC, b.x, b.y
       |LIMIT 50""".stripMargin

  /** Per-document quality signals: token count, distinct tokens,
    * type-token ratio, stopword ratio — the length/stopword slice of
    * an LLM-data quality score, all in codegen'd array functions. */
  /** Type-token ratio of a split token array — ONE definition shared
    * by docQuality and Curation.sourceCuration so the two "TTR"
    * columns can never diverge. */
  def ttrOf(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    r6(size(array_distinct(w)).cast("double") / size(w))

  def docQuality(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val w = split(col("text"), " ")
    d.select(
        col("doc_id"),
        size(w).cast("long").as("n_tokens"),
        size(array_distinct(w)).cast("long").as("n_distinct"),
        ttrOf(w).as("ttr"),
        r6(size(filter(w, x => x.isInCollection(Stopwords))).cast("double") / size(w))
          .as("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  val docQualitySql: String =
    s"""SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) + 0 AS ttr,
       |  round(CAST(len(list_filter(w, x -> x IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS DOUBLE) / len(w), 6) + 0 AS stop_ratio
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Gopher repetition signals (Rae et al. 2021 §A1.1, the filters
    * the unigram TTR in [[docQuality]] can't see): the fraction of
    * 2-grams taken by the single most frequent 2-gram, and the
    * fraction of 3-grams that are duplicated (count > 1) — looping
    * boilerplate scores high on both while keeping a healthy TTR.
    * N-grams materialize map-side (`zip_with` over the token array
    * and its tails — the bigramLogprob convention, no self-join);
    * both signals are doc_id-keyed aggregations, so the only
    * shuffles hash on doc_id. Docs with < 3 tokens have no 3-gram
    * and are out of scope of the filter (dropped, like the
    * shingle-minimum rule in Dedup). */
  def repNgrams(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val w = split(col("text"), " ")
    val base = d.select(col("doc_id"), w.as("w")).filter(size(col("w")) >= 3)
    val g2 = base.select(col("doc_id"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), (a, b) -> concat(a, ' ', b))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(r6(max(col("c")).cast("double") / sum(col("c"))).as("top2_frac"))
    val g3 = base.select(col("doc_id"), explode(expr(
        "zip_with(zip_with(slice(w, 1, size(w) - 2), slice(w, 2, size(w) - 2), (a, b) -> concat(a, ' ', b)), " +
          "slice(w, 3, size(w) - 2), (ab, c) -> concat(ab, ' ', c))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(r6(sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).cast("double") / sum(col("c")))
        .as("dup3_frac"))
    g2.join(g3, "doc_id")
      .select(col("doc_id"), col("top2_frac"), col("dup3_frac"))
      .orderBy(col("doc_id"))
  }

  val repNgramsSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |             WHERE len(string_split(text, ' ')) >= 3),
      |g2 AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      |    FROM tok)
      |  GROUP BY doc_id, g),
      |t2 AS (SELECT doc_id, round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) + 0 AS top2_frac
      |       FROM g2 GROUP BY doc_id),
      |g3 AS (
      |  SELECT doc_id, g, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |                                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |    FROM tok)
      |  GROUP BY doc_id, g),
      |t3 AS (SELECT doc_id,
      |         round(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 6) + 0 AS dup3_frac
      |       FROM g3 GROUP BY doc_id)
      |SELECT doc_id, top2_frac, dup3_frac
      |FROM t2 JOIN t3 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Content fingerprint for exact-dup detection at scale: md5 of
    * the text (hash-compare instead of string-compare in the
    * downstream groupBy). Oracle-checkable since both engines emit
    * identical lowercase hex. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** 64-bit polynomial rolling hash (content-defined fingerprint
    * primitive for shift-resistant dup detection). Unit-tested;
    * used by SimHash via token hashes. */
  def rollingHash64(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 1315423911L + s.charAt(i).toLong; i += 1 }
    h
  }

  /** Language-ID heuristic: per-language marker-token vote with
    * deterministic tie-break (marker hit count, then lang code).
    * Word-soup fixtures carry no real language signal, so this
    * checks the *mechanism* (oracle-matched via [[langIdSql]]). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  /** The (hits, lang) score structs over a word-array column — ONE
    * definition shared by [[langId]] and the release pipeline's
    * lang gate ([[graft.ops.Curation]] releasePipelineOf), so the
    * two cannot drift. array_max over these structs = max hits,
    * ties broken by max lang code. */
  def langScoreStructs(w: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(filter(w, x => x.isInCollection(markers))).as("hits"),
        lit(lang).as("lang"))
    }

  /** Best marker-hit count of a word array (the langId vote's max). */
  def markerHitsOf(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_max(array(langScoreStructs(w): _*)).getField("hits")

  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val w = split(col("text"), " ")
    val scores = langScoreStructs(w)
    // array_max on (hits, lang) structs: max hits, then max lang —
    // deterministic; flip lang ordering is irrelevant for a tie of
    // zero-signal soup but stable.
    d.select(col("doc_id"), col("lang").as("lang_true"),
        array_max(array(scores: _*)).getField("lang").as("lang_pred"),
        array_max(array(scores: _*)).getField("hits").cast("long").as("marker_hits"))
      .withColumn("agree", (col("lang_true") === col("lang_pred")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Oracle mirror of [[langId]]: per-language marker hit counts as
    * scalar columns, `greatest` for the max, and a descending-lang
    * CASE chain replicating `array_max`'s (hits, lang) struct
    * ordering — max hits, ties broken by max lang code. */
  // ------------------------------------------ hashed char-n-gram language ID

  /** Feature-space size of the n-gram language classifier — the
    * [[graft.ops.Dsir.Buckets]] fixed-capacity rule: the model is
    * (langs × 512) rows whatever the corpus size, which is what
    * justifies broadcasting it. */
  val LangIdBuckets = 512

  /** Per-doc (bucket, count) pairs for the n-gram classifier in ONE
    * closure pass — hashed through [[Dedup.cachedHash60]] because
    * the char-3-gram space is tiny (≈50k distinct over the fixture
    * corpus), so after warmup every gram is a map lookup instead of
    * an md5: the column-expression explode+md5+groupBy form ran the
    * full digest 15M times and cost 3.4 s at sf0.1 vs ~1.5 s for
    * this shape, which also deletes the first aggregation exchange
    * (counts are combined in-doc before they ever leave the map
    * side). Bucket ids and counts are bit-identical to the HOF form
    * — same md5Hash60, same % — so the DuckDB oracle is untouched. */
  /** Code-point array of a doc — gram windows must count CODE
    * POINTS, not UTF-16 units: DuckDB's substring/length are
    * code-point based, so a supplementary-plane char (emoji, rare
    * CJK) indexed by char would stream different grams engine vs
    * oracle. For BMP-only text this is byte-identical to char
    * indexing. */
  private[graft] def codePoints(text: String): Array[Int] = {
    val out = new Array[Int](text.codePointCount(0, text.length))
    var i = 0
    var j = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  private val langGramUdf = udf { (text: String) =>
    val cps = if (text == null) Array.empty[Int] else codePoints(text)
    if (cps.length < 3) Array.empty[(Long, Long)]
    else {
      // bucket domain is exactly [0, 512) — a flat primitive array
      // beats any map (no boxing, no probing)
      val counts = new Array[Long](LangIdBuckets)
      var i = 0
      var nz = 0
      val n = cps.length - 2
      while (i < n) {
        val b = (Dedup.cachedHash60(new String(cps, i, 3)) % LangIdBuckets).toInt
        if (counts(b) == 0L) nz += 1
        counts(b) += 1L
        i += 1
      }
      val out = new Array[(Long, Long)](nz)
      var b = 0
      var j = 0
      while (b < LangIdBuckets) {
        if (counts(b) != 0L) { out(j) = (b.toLong, counts(b)); j += 1 }
        b += 1
      }
      out
    }
  }

  /** fastText-style language classifier: multinomial Naive Bayes
    * over hashed char-3-grams, trained on the even-doc_id half of
    * the corpus (labels = the `lang` column) and scoring EVERY doc.
    * The upgrade over [[langId]]'s five-marker-word vote: n-grams
    * see sub-word charset signal, so a document using none of the
    * 25 marker words still classifies (the marker vote degenerates
    * to its tie-break there).
    *
    * Arithmetic bridge (the dsir_weights pattern): per-bucket terms
    * c·ln((c_{l,b}+1)/(c_l+512)) are r6-rounded then DECIMAL-summed
    * (partition-order-free), the smoothed log-prior is r6-rounded
    * and added in double, and argmax breaks 6-decimal ties by max
    * lang — every step replays bit-exactly in DuckDB.
    *
    * Scale shape: ONE corpus explode (chars per doc) into ONE
    * map-side-combined (doc, bucket) count; the model and its
    * DENSIFIED (lang × bucket) grid are parameter-bounded and
    * broadcast; scoring is a map-side join + one (doc, lang)
    * aggregation; argmax is a max-struct GROUP BY, no window over
    * the corpus. Docs too short for one 3-gram predict the sentinel
    * '' (kept total via left join). */
  /** Fitted language model: sorted lang codes, r6 log-priors, and
    * the densified per-bucket log-likelihood rows `ll(b)(i)` for
    * lang i — ≤ (512 × langs) doubles, parameter-bounded by
    * construction (the centroid rule), so it rides a UDF closure as
    * freely as a broadcast join. */
  private[graft] case class LangidModel(
      langs: Seq[String], priors: Array[Double], ll: Array[Array[Double]])

  /** Fit the NB model on the even-doc_id half — two parameter-bounded
    * collects ((langs × 512) + langs rows); None when the corpus has
    * no training docs. */
  private[graft] def fitLangidModel(s: SparkSession, dir: String): Option[LangidModel] = {
    val d = t(s, dir, "documents")
    val langRows = d.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    if (langRows.isEmpty) None
    else {
      val modelMap = d.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), explode(langGramUdf(col("text"))).as("e"))
        .groupBy(col("lang"), col("e._1").as("b")).agg(sum(col("e._2")).as("clb"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val clMap = modelMap.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
      val ntr = langRows.map(_._2).sum
      val nlang = langRows.length
      // identical double math everywhere: (clb+1)/(cl+512) as
      // doubles, java Math.log ≡ Spark log ≡ DuckDB ln
      val ll = Array.tabulate(LangIdBuckets) { b =>
        langRows.map { case (l, _) =>
          math.log((modelMap.getOrElse((l, b.toLong), 0L) + 1).toDouble /
            (clMap.getOrElse(l, 0L) + LangIdBuckets).toDouble) }.toArray
      }
      val priors = langRows.map { case (_, nl) =>
        graft.functions.OracleMath.r6d(
          math.log((nl + 1).toDouble / (ntr + nlang).toDouble)) }.toArray
      Some(LangidModel(langRows.map(_._1), priors, ll))
    }
  }

  /** Batch scoring under a frozen model: (doc, bucket) counts from
    * the one-pass gram UDF, ONE map-side broadcast join against the
    * bucket-keyed log-likelihood arrays, ONE map-side-combined
    * groupBy(doc_id), max-struct argmax — no langs-fold row blowup
    * and no second corpus shuffle (the per-(doc, lang) row form
    * measured 7.6 s warm at sf0.1; this shape 2-3 s). Docs with no
    * gram are absent (the caller's totality left join restores
    * them). */
  private[graft] def scoreLangid(s: SparkSession, docs: DataFrame, m: LangidModel): DataFrame = {
    val denseWide = s.createDataFrame(
      (0 until LangIdBuckets).map(b => (b.toLong, m.ll(b).toSeq)))
      .toDF("b", "lnv")
    val termCols = m.langs.indices.map(i =>
      graft.functions.OracleMath.dsum(
        r6(col("c") * element_at(col("lnv"), i + 1))).as(s"sf$i"))
    val perDoc = docs.select(col("doc_id"),
        explode(langGramUdf(col("text"))).as("e"))
      .select(col("doc_id"), col("e._1").as("b"), col("e._2").as("c"))
      .join(broadcast(denseWide), "b")
      .groupBy(col("doc_id"))
      .agg(termCols.head, termCols.tail: _*)
    val scored = m.langs.indices.map { i =>
      struct(r6(col(s"sf$i").cast("double") + lit(m.priors(i))).as("s"),
        lit(m.langs(i)).as("lang")) }
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    perDoc.select(col("doc_id"), best.getField("lang").as("lang_pred"))
  }

  /** Map-only closure twin of [[scoreLangid]]: the whole per-doc
    * chain (gram counts → micro-unit exact term sums → r6 scores →
    * max-struct argmax) runs inside one UDF with the frozen model in
    * the closure, so scoring needs no shuffle. Bit-equal to the join
    * form by construction: terms
    * accumulate as exact micro-unit longs (≡ the DECIMAL sum),
    * micros/1e6 is the same correctly-rounded double as the DECIMAL
    * cast, and ties break (s, lang)-max with ASCII lang codes where
    * UTF8 and UTF-16 orders agree — pinned per doc by TextOpsSpec. */
  private[graft] def langidPredictUdf(m: LangidModel) = udf { (text: String) =>
    val cps = if (text == null) Array.empty[Int] else codePoints(text)
    if (cps.length < 3) ""
    else {
      val counts = new Array[Long](LangIdBuckets)
      var i = 0
      val n = cps.length - 2
      while (i < n) {
        val b = (Dedup.cachedHash60(new String(cps, i, 3)) % LangIdBuckets).toInt
        counts(b) += 1L
        i += 1
      }
      val micros = new Array[Long](m.langs.length)
      var b = 0
      while (b < LangIdBuckets) {
        val c = counts(b)
        if (c != 0L) {
          var j = 0
          while (j < m.langs.length) {
            micros(j) += math.round(
              graft.functions.OracleMath.r6d(c * m.ll(b)(j)) * 1e6)
            j += 1
          }
        }
        b += 1
      }
      var bestS = Double.NegativeInfinity
      var bestLang = ""
      var j = 0
      while (j < m.langs.length) {
        val sj = graft.functions.OracleMath.r6d(
          micros(j).toDouble / 1e6 + m.priors(j))
        if (sj > bestS || (sj == bestS && m.langs(j) > bestLang)) {
          bestS = sj
          bestLang = m.langs(j)
        }
        j += 1
      }
      bestLang
    }
  }

  def langidNgram(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val base = d.select(col("doc_id"), col("lang").as("lang_true"))
    fitLangidModel(s, dir) match {
      case None =>
        // no training docs: every prediction is the sentinel
        base.select(col("doc_id"), col("lang_true"),
            lit("").as("lang_pred"), lit(0).as("agree"))
          .orderBy(col("doc_id"))
      case Some(m) =>
        // Parallelize the gram pass when the scan has fewer splits
        // than cores: a small single-row-group parquet file reads as
        // ONE partition, serializing the per-doc gram work onto one
        // core (measured 4 s at sf0.1). The guard keeps the
        // repartition out of at-scale plans, where the scan already
        // has thousands of splits and a forced shuffle of the text
        // would be pure waste.
        val dPar =
          if (d.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
            d.repartition(s.sparkContext.defaultParallelism)
          else d
        // scoring is the map-only closure predictor — ONE pass, zero
        // shuffles before the output sort; bit-equal to the
        // broadcast-join [[scoreLangid]] form by construction
        // (TextOpsSpec pins the equality per doc on the fixture
        // corpus), and the '' sentinel for sub-gram docs falls out of
        // the same closure
        dPar.select(col("doc_id"), col("lang").as("lang_true"),
            langidPredictUdf(m)(col("text")).as("lang_pred"))
          .withColumn("agree", (col("lang_true") === col("lang_pred")).cast("int"))
          .orderBy(col("doc_id"))
    }
  }

  /** Oracle mirror of [[langidNgram]] — the full NB chain in CTEs:
    * char-3-gram hash buckets, even-doc training counts, densified
    * (lang × bucket) grid, r6 terms + DECIMAL sum + r6 prior, argmax
    * via `row_number ORDER BY s DESC, lang DESC` (≡ max-struct). */
  val langidNgramSql: String = {
    val h = graft.functions.CrossHash.sqlHash60("g")
    s"""WITH lg_b AS (
       |  SELECT doc_id, lang, $h % $LangIdBuckets AS b
       |  FROM (
       |    SELECT doc_id, lang, substring(text, i, 3) AS g
       |    FROM documents, UNNEST(range(1, length(text) - 1)) AS t(i)
       |    WHERE length(text) >= 3)),
       |lg_docb AS (SELECT doc_id, b, COUNT(*) AS c FROM lg_b GROUP BY doc_id, b),
       |lg_model AS (
       |  SELECT lang, b, COUNT(*) AS clb FROM lg_b WHERE doc_id % 2 = 0 GROUP BY lang, b),
       |lg_langs AS (
       |  SELECT lang, COUNT(*) AS nl FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
       |-- derive from lg_langs, not lg_model: a training language
       |-- whose docs are all shorter than 3 chars has NO gram rows,
       |-- and an inner derivation would drop it from scoring while
       |-- the engine keeps its smoothed +1/512 likelihoods
       |lg_cl AS (
       |  SELECT l.lang, COALESCE(SUM(m.clb), 0) AS cl
       |  FROM lg_langs l LEFT JOIN lg_model m USING (lang)
       |  GROUP BY l.lang),
       |lg_tot AS (SELECT SUM(nl) AS ntr, COUNT(*) AS nlang FROM lg_langs),
       |lg_dense AS (
       |  SELECT l.lang, gb.b, COALESCE(m.clb, 0) AS clb
       |  FROM lg_langs l
       |  CROSS JOIN (SELECT unnest(range(0, $LangIdBuckets)) AS b) gb
       |  LEFT JOIN lg_model m ON m.lang = l.lang AND m.b = gb.b),
       |lg_terms AS (
       |  SELECT d.doc_id, de.lang,
       |    round(d.c * ln(CAST(de.clb + 1 AS DOUBLE)
       |                   / CAST(cl.cl + $LangIdBuckets AS DOUBLE)), 6) + 0 AS term
       |  FROM lg_docb d
       |  JOIN lg_dense de ON de.b = d.b
       |  JOIN lg_cl cl ON cl.lang = de.lang),
       |lg_scores AS (
       |  SELECT t.doc_id, t.lang,
       |    round(CAST(SUM(CAST(t.term AS DECIMAL(38,6))) AS DOUBLE)
       |      + round(ln(CAST(l.nl + 1 AS DOUBLE)
       |                 / CAST(tt.ntr + tt.nlang AS DOUBLE)), 6), 6) + 0 AS s
       |  FROM lg_terms t
       |  JOIN lg_langs l ON l.lang = t.lang
       |  CROSS JOIN lg_tot tt
       |  GROUP BY t.doc_id, t.lang, l.nl, tt.ntr, tt.nlang),
       |lg_pred AS (
       |  SELECT doc_id, lang AS lang_pred FROM (
       |    SELECT doc_id, lang,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang DESC) AS rn
       |    FROM lg_scores)
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.lang AS lang_true,
       |  COALESCE(p.lang_pred, '') AS lang_pred,
       |  CASE WHEN d.lang = COALESCE(p.lang_pred, '') THEN 1 ELSE 0 END AS agree
       |FROM documents d LEFT JOIN lg_pred p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Per-true-lang agreement between the two language classifiers —
    * the audit run before swapping the marker vote for the n-gram
    * model: exact integer counts only (docs, marker-correct,
    * ngram-correct, both-predict-the-same), no ratio rounding to
    * bridge. One doc-keyed join of two total relations; group keys
    * are the langs present in the corpus. */
  def langidAgreement(s: SparkSession, dir: String): DataFrame = {
    val marker = langId(s, dir)
      .select(col("doc_id"), col("lang_true"), col("lang_pred").as("pm"))
    val ngram = langidNgram(s, dir)
      .select(col("doc_id"), col("lang_pred").as("pn"))
    marker.join(ngram, "doc_id")
      .groupBy(col("lang_true"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("pm") === col("lang_true")).cast("long")).as("n_marker_correct"),
        sum((col("pn") === col("lang_true")).cast("long")).as("n_ngram_correct"),
        sum((col("pm") === col("pn")).cast("long")).as("n_same_pred"))
      .orderBy(col("lang_true"))
  }

  lazy val langidAgreementSql: String =
    s"""WITH la_m AS MATERIALIZED (
       |  SELECT doc_id, lang_true, lang_pred AS pm FROM ($langIdSql)),
       |la_n AS MATERIALIZED (
       |  SELECT doc_id, lang_pred AS pn FROM ($langidNgramSql))
       |SELECT lang_true,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN pm = lang_true THEN 1 ELSE 0 END) AS BIGINT) AS n_marker_correct,
       |  CAST(SUM(CASE WHEN pn = lang_true THEN 1 ELSE 0 END) AS BIGINT) AS n_ngram_correct,
       |  CAST(SUM(CASE WHEN pm = pn THEN 1 ELSE 0 END) AS BIGINT) AS n_same_pred
       |FROM la_m JOIN la_n USING (doc_id)
       |GROUP BY lang_true
       |ORDER BY lang_true""".stripMargin

  /** Confusion matrix of the n-gram classifier — the per-PAIR
    * breakdown [[langidAgreement]]'s per-true-lang totals cannot
    * show: WHICH languages absorb the errors (es→pt-style confusions
    * cluster; a uniform error row means charset noise, a
    * concentrated one means two close charsets need more buckets).
    * Observed (true, pred) pairs with exact counts; sub-gram docs
    * surface under the '' sentinel prediction.
    *
    * Scale shape: the langid scoring pass plus ONE (true, pred)
    * aggregation — group keys bounded by langs². */
  def langidConfusion(s: SparkSession, dir: String): DataFrame =
    langidNgram(s, dir)
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_true"), col("lang_pred"))

  lazy val langidConfusionSql: String =
    s"""WITH lc AS MATERIALIZED (
       |  SELECT lang_true, lang_pred FROM ($langidNgramSql))
       |SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM lc
       |GROUP BY lang_true, lang_pred
       |ORDER BY lang_true, lang_pred""".stripMargin

  val langIdSql: String =
    """WITH h AS (
      |  SELECT doc_id, lang AS lang_true,
      |    len(list_filter(ws, x -> x IN ('the','a','and','of','is')))   AS h_en,
      |    len(list_filter(ws, x -> x IN ('der','die','das','und','ist'))) AS h_de,
      |    len(list_filter(ws, x -> x IN ('el','la','los','es','y')))    AS h_es,
      |    len(list_filter(ws, x -> x IN ('le','la','les','est','et')))  AS h_fr,
      |    len(list_filter(ws, x -> x IN ('de','shi','le','zai','he')))  AS h_zh
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)),
      |p AS (
      |  SELECT doc_id, lang_true,
      |    CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr'
      |         WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en'
      |         ELSE 'de' END AS lang_pred,
      |    CAST(m AS BIGINT) AS marker_hits
      |  FROM (SELECT *, greatest(h_en, h_de, h_es, h_fr, h_zh) AS m FROM h))
      |SELECT doc_id, lang_true, lang_pred, marker_hits,
      |  CASE WHEN lang_true = lang_pred THEN 1 ELSE 0 END AS agree
      |FROM p
      |ORDER BY doc_id""".stripMargin

  /** Chunk statistics via the reference chunker (spaces rewritten to
    * newlines so the line-packer exercises multi-line packing on
    * soup docs): chunks per doc + max chunk length. */
  val ChunkStatsSize = 200

  def chunkStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val chunkUdf = udf((txt: String) => Chunker.chunkLines(txt, ChunkStatsSize))
    d.select(col("doc_id"),
        chunkUdf(translate(col("text"), " ", "\n")).as("chunks"))
      .select(
        col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        array_max(transform(col("chunks"), c => length(c))).cast("long").as("max_chunk_len"))
      .orderBy(col("doc_id"))
  }

  /** Oracle mirror of [[chunkStats]]: the greedy line-packer is a
    * sequential fold, so the oracle replays it as a recursive CTE
    * stepping one word per level across all docs at once. The flush
    * rule (`index.py:304-313`): word i starts a new chunk iff
    * running size + len(word)+1 > chunkSize — the first word always
    * accumulates (flush requires a non-empty current chunk). Running
    * size is monotone within a chunk, so chunk char length =
    * MAX(size) − 1 (sizes count the joining newline per word). */
  val chunkStatsSql: String =
    s"""WITH RECURSIVE w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |words AS (
       |  SELECT doc_id, i, length(ws[i]) + 1 AS lsz
       |  FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |step(doc_id, i, csize, cno) AS (
       |  SELECT doc_id, 1, lsz, 1 FROM words WHERE i = 1
       |  UNION ALL
       |  SELECT s.doc_id, s.i + 1,
       |    CASE WHEN s.csize + nw.lsz > $ChunkStatsSize THEN nw.lsz
       |         ELSE s.csize + nw.lsz END,
       |    CASE WHEN s.csize + nw.lsz > $ChunkStatsSize THEN s.cno + 1
       |         ELSE s.cno END
       |  FROM step s JOIN words nw ON nw.doc_id = s.doc_id AND nw.i = s.i + 1),
       |chunks AS (
       |  SELECT doc_id, cno, MAX(csize) - 1 AS clen
       |  FROM step GROUP BY doc_id, cno)
       |SELECT doc_id, COUNT(*) AS n_chunks, CAST(MAX(clen) AS BIGINT) AS max_chunk_len
       |FROM chunks GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Regex-based token counting (the BPE-ish tokenizer slice of a
    * training pipeline): alpha runs as tokens, long-token and
    * distinct counts. Pattern kept to a POSIX-safe subset so Java
    * and RE2-style engines agree. */
  def tokenRegex(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))
    d.select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        size(filter(toks, t => length(t) >= 6)).cast("long").as("n_long"))
      .orderBy(col("doc_id"))
  }

  val tokenRegexSql: String =
    """SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  CAST(len(list_filter(toks, t -> length(t) >= 6)) AS BIGINT) AS n_long
      |FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** BPE merge-pair statistics — the inner loop of byte-pair-encoding
    * tokenizer TRAINING, distributed: count adjacent symbol pairs
    * across every token occurrence (each BPE iteration merges the
    * argmax pair; this is that argmax's input, here the top-20). One
    * explode + one map-side-combined groupBy — at 100 TB the token
    * fan-out collapses in the partial aggregate before the single
    * shuffle on the pair key, the same shape as [[topWords]]. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents", resplit = true)
    val toks = regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))
    d.select(explode(toks).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  val bpePairsSql: String =
    """WITH toks AS (
      |  SELECT tok FROM documents, UNNEST(regexp_extract_all(text, '[a-z]+')) AS u(tok)
      |  WHERE length(tok) >= 2),
      |pairs AS (
      |  SELECT tok[i:i+1] AS pair
      |  FROM toks, UNNEST(range(1, length(tok))) AS r(i))
      |SELECT pair, COUNT(*) AS cnt FROM pairs
      |GROUP BY pair
      |ORDER BY cnt DESC, pair
      |LIMIT 20""".stripMargin

  /** Exact length percentiles per language (continuous
    * interpolation — both engines use the (n−1)·p rank definition;
    * r6 absorbs interpolation-order ulps). */
  def textPercentiles(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        r6(percentile(col("n_chars"), lit(0.5))).as("p50"),
        r6(percentile(col("n_chars"), lit(0.9))).as("p90"),
        r6(percentile(col("n_chars"), lit(0.99))).as("p99"))
      .orderBy(col("lang"))
  }

  val textPercentilesSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  round(quantile_cont(n_chars, 0.5), 6) + 0 AS p50,
      |  round(quantile_cont(n_chars, 0.9), 6) + 0 AS p90,
      |  round(quantile_cont(n_chars, 0.99), 6) + 0 AS p99
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** The reference's core operation as a benchmark unit: chunk every
    * document and embed every chunk (the full map-only index
    * dataflow minus the write). Oracle-checked end-to-end: the
    * chunker replays as a recursive CTE and the md5-bucket embedder
    * reproduces exactly in SQL (±1 bucket sums and the norm are
    * exact integers; the float truncation is IEEE in both engines).
    * Output is a per-doc scalar projection (chunk count, char count,
    * embedding checksum) because the driver compare cannot hash an
    * ARRAY<FLOAT> column; the checksum consumes every vector
    * element, so Catalyst cannot prune the embed UDF out of the
    * benchmarked plan. */
  def indexPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d.select(
      concat(lit("doc/"), col("doc_id")).as("source"),
      translate(col("text"), " ", "\n").as("content"))
    val embedded = graft.embed.EmbedOps.withEmbedding(
      Chunker.chunkDF(corpus, "source", "content", chunkSize = 200), "text")
    embedded
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(length(col("text"))).as("n_chars"),
        // cross-chunk checksum is quantized to exact integers BEFORE
        // any aggregation: the per-chunk element sum is a sequential
        // IEEE fold over the same floats in the same order in both
        // engines (bit-identical double), and floor(cs * 1e6) of a
        // bit-identical double has no decimal-representation
        // ambiguity at all — unlike a double→DECIMAL(38,6) cast,
        // where Spark converts via the shortest decimal repr and
        // DuckDB via the exact binary value, which round differently
        // whenever the shortest repr terminates near the 6-decimal
        // boundary (SURVEY §8.5). Summing the resulting longs is
        // exact and partition-order independent.
        sum(floor(aggregate(col("embedding"), lit(0d),
          (acc, x) => acc + x) * lit(1e6))).as("embed_checksum"))
      .orderBy(col("source"))
  }

  // ---- Content-defined chunking (CDC) ----

  val CdcWindow = 4
  val CdcMask = 64L

  /** Content-defined chunk boundaries: cut before word p whenever
    * the hash of the [[CdcWindow]]-word window ending at p−1 lands
    * in the boundary class (`h % CdcMask == 0`, expected chunk ≈ 64
    * words). Boundaries depend only on LOCAL content, so an edit
    * shifts at most the chunks it touches — the shift-resistance
    * that makes downstream chunk-level dedup survive insertions
    * (fixed-size chunking re-cuts everything after an edit). No
    * min/max clamp: boundary density is governed by the modulus,
    * and clamping would make the cut decision sequential (a scan
    * dependency where this form is embarrassingly parallel). */
  private val cdcUdf = udf { (text: String) =>
    val w = graft.ops.Dedup.splitWords(text)
    val n = w.length
    val cuts = scala.collection.mutable.ArrayBuffer[Int]()
    var p = CdcWindow
    while (p < n) {
      val win = w.slice(p - CdcWindow, p).mkString(" ")
      if (graft.functions.CrossHash.md5Hash60(win) % CdcMask == 0L) cuts += p
      p += 1
    }
    val bounds = (0 +: cuts :+ n).toArray
    val gaps = bounds.sliding(2).map(b => b(1) - b(0)).filter(_ > 0)
    val maxChunk = if (n == 0) 0 else gaps.max
    (n.toLong, cuts.length.toLong, maxChunk.toLong)
  }

  /** Per-doc CDC profile: word count, cut count, largest chunk. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), cdcUdf(col("text")).as("c"))
      .select(col("doc_id"), col("c._1").as("n_words"),
        col("c._2").as("n_cuts"), col("c._3").as("max_chunk_words"))
      .orderBy(col("doc_id"))
  }

  /** Oracle mirror of [[cdcChunks]]: cut positions from the same
    * md5 window hash, chunk extents via lead() over the cut list
    * (sentinel start 0 / end n). */
  val cdcChunksSql: String =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |cuts AS (
       |  SELECT doc_id, p FROM tok,
       |    UNNEST(range($CdcWindow, len(w))) AS t(p)
       |  WHERE (${graft.functions.CrossHash.sqlHash60(
            s"array_to_string(w[p - ${CdcWindow - 1} : p], ' ')")}) % $CdcMask = 0),
       |bounds AS (
       |  SELECT doc_id, p FROM cuts
       |  UNION ALL SELECT doc_id, 0 FROM tok
       |  UNION ALL SELECT doc_id, len(w) FROM tok),
       |gaps AS (
       |  SELECT doc_id,
       |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p AS gap
       |  FROM bounds)
       |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
       |  CAST((SELECT COUNT(*) FROM cuts c WHERE c.doc_id = t.doc_id) AS BIGINT) AS n_cuts,
       |  CAST(coalesce((SELECT MAX(gap) FROM gaps g
       |                 WHERE g.doc_id = t.doc_id AND g.gap > 0), 0) AS BIGINT)
       |    AS max_chunk_words
       |FROM tok t
       |ORDER BY t.doc_id""".stripMargin

  /** Oracle mirror of [[indexPipeline]]: chunk boundaries from the
    * same recursive greedy fold as [[chunkStatsSql]], tokens = the
    * chunk's nonempty lowercased words, unigram+bigram keys hashed
    * with the `"{seed}|{token}"` md5 scheme (seed 42 = the default
    * embedder), signed bucket sums, integer norm, IEEE float
    * truncation; the per-chunk checksum folds in bucket order (both
    * engines sequential) and the cross-chunk sum goes through the
    * DECIMAL(38,6) bridge on both sides, so it is exact and
    * add-order-free regardless of partitioning. */
  val indexPipelineSql: String =
    s"""WITH RECURSIVE w AS (
       |  SELECT doc_id, 'doc/' || doc_id AS source, string_split(text, ' ') AS ws
       |  FROM documents),
       |words AS (
       |  SELECT doc_id, i, ws[i] AS wrd, length(ws[i]) + 1 AS lsz
       |  FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)),
       |step(doc_id, i, csize, cno) AS (
       |  SELECT doc_id, 1, lsz, 1 FROM words WHERE i = 1
       |  UNION ALL
       |  SELECT s.doc_id, s.i + 1,
       |    CASE WHEN s.csize + nw.lsz > 200 THEN nw.lsz ELSE s.csize + nw.lsz END,
       |    CASE WHEN s.csize + nw.lsz > 200 THEN s.cno + 1 ELSE s.cno END
       |  FROM step s JOIN words nw ON nw.doc_id = s.doc_id AND nw.i = s.i + 1),
       |cw AS (
       |  SELECT st.doc_id, st.cno, st.i, st.csize, wo.wrd
       |  FROM step st JOIN words wo ON wo.doc_id = st.doc_id AND wo.i = st.i),
       |chunks AS (
       |  SELECT doc_id, cno, MAX(csize) - 1 AS clen FROM cw GROUP BY doc_id, cno),
       |toks AS (
       |  SELECT doc_id, cno,
       |    row_number() OVER (PARTITION BY doc_id, cno ORDER BY i) AS p,
       |    lower(wrd) AS tok
       |  FROM cw WHERE length(wrd) > 0),
       |keys AS (
       |  SELECT doc_id, cno, '42|' || tok AS key FROM toks
       |  UNION ALL
       |  SELECT a.doc_id, a.cno, '42|' || a.tok || ' ' || b.tok
       |  FROM toks a JOIN toks b
       |    ON b.doc_id = a.doc_id AND b.cno = a.cno AND b.p = a.p + 1),
       |contrib AS (
       |  SELECT doc_id, cno, h % 64 AS bucket,
       |    CASE WHEN (h >> 32) & 1 = 0 THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM (SELECT doc_id, cno, ${graft.functions.CrossHash.sqlHash60("key")} AS h
       |        FROM keys)),
       |vdim AS (
       |  SELECT doc_id, cno, bucket, SUM(sgn) AS v
       |  FROM contrib GROUP BY doc_id, cno, bucket),
       |norms AS (SELECT doc_id, cno, SUM(v * v) AS nrm FROM vdim GROUP BY doc_id, cno),
       |chksum AS (
       |  SELECT v.doc_id, v.cno,
       |    list_sum(list(CAST(CAST(v.v * (1.0 / sqrt(n.nrm)) AS FLOAT) AS DOUBLE)
       |                  ORDER BY v.bucket)) AS cs
       |  FROM vdim v JOIN norms n ON n.doc_id = v.doc_id AND n.cno = v.cno
       |  WHERE n.nrm > 0
       |  GROUP BY v.doc_id, v.cno),
       |surv AS (SELECT DISTINCT doc_id, cno FROM toks),
       |per_chunk AS (
       |  SELECT s.doc_id, s.cno, c.clen, coalesce(k.cs, 0.0) AS cs
       |  FROM surv s
       |  JOIN chunks c ON c.doc_id = s.doc_id AND c.cno = s.cno
       |  LEFT JOIN chksum k ON k.doc_id = s.doc_id AND k.cno = s.cno)
       |SELECT w2.source, COUNT(*) AS n_chunks,
       |  CAST(SUM(p.clen) AS BIGINT) AS n_chars,
       |  CAST(SUM(CAST(floor(p.cs * 1000000.0) AS BIGINT)) AS BIGINT) AS embed_checksum
       |FROM per_chunk p
       |JOIN (SELECT DISTINCT doc_id, source FROM w) w2 ON w2.doc_id = p.doc_id
       |GROUP BY w2.source
       |ORDER BY w2.source""".stripMargin

  /** TF-IDF top-3 terms per document. Everything stays in-plan: the
    * corpus size N is a broadcast 1-row aggregate (no driver
    * action), tf/df are two hash aggregations over the exploded
    * token stream. The df side is joined WITHOUT a broadcast hint:
    * the vocabulary is one row per distinct word, which at web-corpus
    * scale (URLs, typos, multilingual) is billions of rows — a forced
    * broadcast would OOM the driver, while a plain equi-join on
    * `word` shuffles both sides on the key they were just aggregated
    * by (AQE still broadcasts when the measured size is small). ln()
    * matches between engines to the ulp; r6 absorbs any libm tail
    * difference. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = tok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    // tf already has one row per (doc, word), so df falls out of it —
    // no second token explode / distinct pass over the corpus
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        r6(col("tf") * log(col("n_docs").cast("double") / col("df"))))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("word"), col("tfidf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  val tfidfTopTermsSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word,
      |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) + 0 AS tfidf
      |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rn, word, tfidf
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                   ORDER BY tfidf DESC, word) AS rn
      |      FROM scored)
      |WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  /** Sketch-based percentiles (KLL/GK-style bounded-memory summary —
    * the 100 TB path where exact percentiles would sort the world):
    * same shape as [[textPercentiles]] but via `approx_percentile`
    * with accuracy 10000. Rows-only gate (sketch internals are
    * engine-specific); TextOpsSpec bounds the error against the
    * exact query. */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("p50"),
        approx_percentile(col("n_chars"), lit(0.9), lit(10000)).as("p90"),
        approx_percentile(col("n_chars"), lit(0.99), lit(10000)).as("p99"))
      .orderBy(col("lang"))
  }

  /** Per-doc Shannon entropy of the word distribution (nats) plus
    * the log-normalized form — the information-density quality
    * signal: near-0 normalized entropy = heavy repetition (spam,
    * boilerplate, keyword stuffing — content the gopher top-word
    * fraction only partially sees), near-1 = maximally spread usage.
    * Shape: per-(doc, word) counts, per-doc totals, one rejoin on
    * doc_id — two shuffles on corpus-partition-friendly keys, no
    * vocabulary-sized relation anywhere. Terms r6-rounded then
    * decimal-summed (order-free, cross-engine exact). */
  def docEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val tokc = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = tokc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    tokc.join(totals, "doc_id")
      .withColumn("term", r6((col("c").cast("double") / col("n")) *
        log(col("c").cast("double") / col("n"))))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_tokens"), first(col("n_distinct")).as("n_distinct"),
        r6(-graft.functions.OracleMath.dsum(col("term"))).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1,
          r6(col("entropy") / log(col("n_distinct").cast("double"))))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("entropy"), col("norm_entropy"))
      .orderBy(col("doc_id"))
  }

  val docEntropySql: String =
    """WITH tokc AS (
      |  SELECT doc_id, tok, COUNT(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |tot AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct
      |        FROM tokc GROUP BY doc_id),
      |terms AS (
      |  SELECT doc_id, n, n_distinct,
      |    round((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 6) + 0 AS term
      |  FROM tokc JOIN tot USING (doc_id)),
      |ent AS (
      |  SELECT doc_id,
      |    CAST(max(n) AS BIGINT) AS n_tokens,
      |    CAST(max(n_distinct) AS BIGINT) AS n_distinct,
      |    round(-CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 6) + 0 AS entropy
      |  FROM terms GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct, entropy,
      |  CASE WHEN n_distinct > 1
      |       THEN round(entropy / ln(CAST(n_distinct AS DOUBLE)), 6) + 0
      |       ELSE 0.0 END AS norm_entropy
      |FROM ent
      |ORDER BY doc_id""".stripMargin

  /** Per-document novelty: mean inverse document frequency of the
    * document's DISTINCT word 3-gram shingles — ln(N/df) averaged
    * over the doc's grams. A document of corpus-unique content
    * scores ~ln(N); boilerplate assembled from grams every doc
    * shares scores ~0 — the scalar twin of the pairwise dedup
    * family: pairwise detectors find WHO copied, novelty ranks HOW
    * templated each doc is without materializing any pair.
    *
    * Shape at 100 TB: the shared one-pass shingle stream
    * ([[Dedup.shingles]]), one vocab-sized df aggregation rejoined
    * hint-free (the tfidf rule), the 1-row corpus count as the only
    * broadcast, one doc-keyed fold — no pairs anywhere. */
  def docNovelty(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // the shingle stream feeds the df fit AND the scoring join —
    // checkpoint the per-doc DISTINCT-shingle arrays (the compact
    // form, pre-explode) so the scan + shingle UDF runs once and both
    // branches explode from the materialized arrays (12 Exchanges /
    // 6 scans measured r15).
    val arr = Dedup.withShingleArray(d).localCheckpoint(true)
    val grams = arr.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val df = grams.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    grams.join(df, Seq("shingle"))
      .crossJoin(broadcast(n))
      .withColumn("idf", r6(log(col("n_docs").cast("double") / col("df"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        r6(graft.functions.OracleMath.davg(col("idf"))).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val docNoveltySql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS shingle
      |  FROM tok, UNNEST(range(0, len(w) - 2)) AS u(i)),
      |df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  round(CAST(SUM(CAST(round(ln(CAST(n_docs AS DOUBLE) / df.df), 6) + 0
      |                      AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS novelty
      |FROM sh JOIN df USING (shingle) CROSS JOIN n
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Terms the Zipf fit regresses over — the high-frequency head,
    * where Zipf's law actually holds and where a bounded
    * TakeOrderedAndProject can fetch them without ranking the whole
    * vocabulary. */
  val ZipfTopN = 256

  /** Zipf's-law fit over the corpus vocabulary — the classic corpus
    * -health audit: natural text has ln(freq) ≈ a + s·ln(rank) with
    * slope s ≈ −1; a much flatter slope means boilerplate/templated
    * text (too-even frequencies), a much steeper one means degenerate
    * repetition. Reports the OLS slope, intercept and R² over the
    * top-[[ZipfTopN]] terms.
    *
    * Scale shape: ONE token aggregation (map-side combined) feeds a
    * bounded top-N (TakeOrderedAndProject — the vocabulary is never
    * globally sorted), ranks come from a window over that ≤N-row
    * slice, and the fit is one scalar aggregation of per-term
    * moments. Nothing grows with corpus size except the first
    * vocabulary groupBy, which every text operator already pays.
    *
    * Determinism bridge: x = r6(ln rank), y = r6(ln cnt) and the
    * cross-moments are r6-rounded per term then decimal-summed, so
    * the five sums are bit-identical in both engines; the closed-form
    * slope/intercept/R² arithmetic is mirrored operation-for-
    * operation on those identical doubles. */
  /** The ranked vocabulary head shared by [[zipfFit]] and
    * [[vocabCoverage]]: top-`n` types by (count, word) via a bounded
    * TakeOrderedAndProject, ranks from a window over that ≤n-row
    * slice — the full vocabulary is never globally sorted. */
  private def vocabHead(d: DataFrame, n: Int): DataFrame = {
    val top = d.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(n)
    top.withColumn("rnk",
      row_number().over(Window.partitionBy(
        graft.functions.WindowKeys.boundedRankKey(col("word")))
        .orderBy(col("cnt").desc, col("word"))))
  }

  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleMath
    val ranked = vocabHead(t(s, dir, "documents"), ZipfTopN)
    val terms = ranked
      .select(r6(log(col("rnk").cast("double"))).as("x"),
        r6(log(col("cnt").cast("double"))).as("y"))
      .select(col("x"), col("y"),
        r6(col("x") * col("y")).as("xy"),
        r6(col("x") * col("x")).as("xx"),
        r6(col("y") * col("y")).as("yy"))
    val agg = terms.agg(
      count(lit(1)).as("n_terms"),
      OracleMath.dsum(col("x")).as("sx"),
      OracleMath.dsum(col("y")).as("sy"),
      OracleMath.dsum(col("xy")).as("sxy"),
      OracleMath.dsum(col("xx")).as("sxx"),
      OracleMath.dsum(col("yy")).as("syy"))
    val n = col("n_terms").cast("double")
    agg
      .withColumn("slope", r6((n * col("sxy") - col("sx") * col("sy")) /
        (n * col("sxx") - col("sx") * col("sx"))))
      .select(
        col("n_terms"),
        col("slope"),
        r6((col("sy") - col("slope") * col("sx")) / n).as("intercept"),
        r6(((n * col("sxy") - col("sx") * col("sy")) *
            (n * col("sxy") - col("sx") * col("sy"))) /
          ((n * col("sxx") - col("sx") * col("sx")) *
            (n * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  val zipfFitSql: String =
    s"""WITH v AS (
       |  SELECT w AS word, COUNT(*) AS cnt
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
       |  GROUP BY w ORDER BY cnt DESC, word LIMIT $ZipfTopN),
       |r AS (
       |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk FROM v),
       |xy AS (
       |  SELECT round(ln(CAST(rnk AS DOUBLE)), 6) + 0 AS x,
       |         round(ln(CAST(cnt AS DOUBLE)), 6) + 0 AS y
       |  FROM r),
       |m AS (
       |  SELECT x, y,
       |    round(x * y, 6) + 0 AS xy,
       |    round(x * x, 6) + 0 AS xx,
       |    round(y * y, 6) + 0 AS yy
       |  FROM xy),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(xy AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(xx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(yy AS DECIMAL(38,6))) AS DOUBLE) AS syy
       |  FROM m),
       |f AS (
       |  SELECT *, round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |      / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) + 0 AS slope
       |  FROM a)
       |SELECT n_terms, slope,
       |  round((sy - slope * sx) / CAST(n_terms AS DOUBLE), 6) + 0 AS intercept,
       |  round(((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
       |         * (CAST(n_terms AS DOUBLE) * sxy - sx * sy))
       |      / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx)
       |         * (CAST(n_terms AS DOUBLE) * syy - sy * sy)), 6) + 0 AS r2
       |FROM f""".stripMargin

  /** Vocabulary sizes the coverage curve is evaluated at — geometric,
    * so the curve's knee is visible whatever the corpus's type count
    * (the fixture soup has ~dozens of types; a web corpus has
    * millions — the grid is a knob, the plan is the same bounded
    * top-max(grid) either way). */
  val CoverageGrid: Seq[Int] = Seq(4, 16, 64, 256)

  /** Token-coverage curve — the table a tokenizer designer sizes the
    * vocabulary from: for each candidate vocab size k, what fraction
    * of all corpus token OCCURRENCES the top-k types cover. The
    * knee of this curve is where added vocabulary stops paying for
    * itself (everything past it is handled by subword fallback).
    *
    * Scale shape: the corpus-total token count is a map-only scan
    * aggregate (no explode — `size(split())` per doc); the type
    * counts are the one vocabulary groupBy; the top-max(grid) slice
    * is a bounded TakeOrderedAndProject; ranks window over that
    * bounded slice; the grid sums are conditional aggregates of ≤
    * max(grid) rows. The full vocabulary is never ranked. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val total = d.agg(sum(size(split(col("text"), " ")).cast("long")).as("total"))
    val ranked = vocabHead(d, CoverageGrid.max)
    val covCols = CoverageGrid.map(k =>
      coalesce(sum(when(col("rnk") <= k, col("cnt")).otherwise(lit(0L))), lit(0L))
        .as(s"c$k"))
    val covered = ranked.agg(covCols.head, covCols.tail: _*)
    val stackExpr = CoverageGrid
      .map(k => s"CAST($k AS BIGINT), c$k").mkString(", ")
    covered.crossJoin(broadcast(total))
      .selectExpr("total", s"stack(${CoverageGrid.size}, $stackExpr) AS (k, n_covered)")
      .select(col("k"), col("n_covered"),
        r6(col("n_covered").cast("double") / col("total")).as("frac"))
      .orderBy(col("k"))
  }

  val vocabCoverageSql: String = {
    val kMax = CoverageGrid.max
    val grid = CoverageGrid
      .map(k => s"SELECT CAST($k AS BIGINT) AS k").mkString(" UNION ALL ")
    s"""WITH tot AS (
       |  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total
       |  FROM documents),
       |v AS (
       |  SELECT w AS word, COUNT(*) AS cnt
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
       |  GROUP BY w ORDER BY cnt DESC, word LIMIT $kMax),
       |r AS (
       |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk FROM v),
       |g AS ($grid)
       |SELECT g.k,
       |  CAST(COALESCE(SUM(CASE WHEN r.rnk <= g.k THEN r.cnt ELSE 0 END), 0) AS BIGINT)
       |    AS n_covered,
       |  round(CAST(COALESCE(SUM(CASE WHEN r.rnk <= g.k THEN r.cnt ELSE 0 END), 0)
       |             AS DOUBLE) / (SELECT total FROM tot), 6) + 0 AS frac
       |FROM g LEFT JOIN r ON TRUE
       |GROUP BY g.k
       |ORDER BY g.k""".stripMargin
  }

  /** Train→heldout n-gram coverage — the generalization-side
    * diversity read a data mix is tuned on: for n ∈ {1,2,3}, the
    * fraction of HELDOUT n-gram occurrences (odd doc_ids) whose type
    * was seen in TRAIN (even doc_ids — the langid_ngram split
    * convention). Low unigram coverage means vocabulary mismatch;
    * high trigram coverage means the heldout text is near-verbatim
    * in train (the memorization-adjacent signal, from the LM side).
    * Grid-total: always one row per n.
    *
    * Scale shape: ONE corpus scan builds all three gram streams
    * (explode of a 3-element n-sequence, then one slice-transform
    * per doc — no per-n rescan); grams are hashed to 60 bits BEFORE
    * any exchange (the substrWinUdf rule — shuffling raw gram
    * strings would carry ~5-10× the bytes of the 8-byte key, and
    * coverage only needs gram identity); the train types are one
    * DISTINCT and the coverage probe one left join, both keyed
    * (n, gram-hash) so the exchange is reused; the per-n rollups are
    * 3-row aggregations. */
  /** JVM-direct 60-bit gram hash — same value as
    * `CrossHash.md5Hash60Col` (the conv-substring-md5 column chain)
    * but straight from the digest bytes: the builtin chain allocates
    * a 32-char hex string and re-parses 15 chars per row, measured
    * ~1.9× the whole query's cost at sf0.1 (3.1 s vs 1.6 s) on the
    * ~3×-token gram stream. */
  private val gramHashUdf = udf { (g: String) =>
    graft.functions.CrossHash.md5Hash60(g)
  }

  def ngramCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = t(s, dir, "documents", resplit = true)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), explode(sequence(lit(1), lit(3))).as("n"))
      .filter(size(col("w")) >= col("n"))
      .select((col("doc_id") % 2 === 0).as("is_train"), col("n"),
        explode(expr(
          "transform(sequence(0, size(w) - n), i -> array_join(slice(w, i + 1, n), ' '))"))
          .as("g"))
      .select(col("is_train"), col("n"), gramHashUdf(col("g")).as("gh"))
    // NOT checkpointed (r15 A/B): materializing the 3×-token gram
    // stream costs more than the duplicate explode+hash it saves —
    // the two branches run as concurrent stages (fresh-JVM min
    // 2.23 s → 2.55 s with an eager checkpoint here).
    val train = grams.filter(col("is_train")).select(col("n"), col("gh")).distinct()
    val trainTypes = train.groupBy(col("n")).agg(count(lit(1)).as("train_types"))
    val cov = grams.filter(!col("is_train"))
      .join(train.withColumn("hit", lit(1L)), Seq("n", "gh"), "left")
      .groupBy(col("n"))
      .agg(count(lit(1)).as("held_tokens"),
        coalesce(sum(col("hit")), lit(0L)).as("held_covered"))
    Seq(1, 2, 3).toDF("n")
      .join(trainTypes, Seq("n"), "left")
      .join(cov, Seq("n"), "left")
      .select(col("n"),
        coalesce(col("train_types"), lit(0L)).as("train_types"),
        coalesce(col("held_tokens"), lit(0L)).as("held_tokens"),
        coalesce(col("held_covered"), lit(0L)).as("held_covered"))
      .withColumn("coverage",
        when(col("held_tokens") === 0, lit(0.0))
          .otherwise(r6(col("held_covered").cast("double") / col("held_tokens"))))
      .orderBy(col("n"))
  }

  val ngramCoverageSql: String = {
    val gh = graft.functions.CrossHash.sqlHash60(
      "array_to_string(w[i + 1 : i + n], ' ')")
    s"""WITH nc_w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |nc_g AS MATERIALIZED (
      |  SELECT doc_id % 2 = 0 AS is_train, n, $gh AS gh
      |  FROM nc_w, UNNEST([1, 2, 3]) AS tn(n),
      |       UNNEST(range(0, len(w) - n + 1)) AS ti(i)
      |  WHERE len(w) >= n),
      |nc_tr AS (SELECT DISTINCT n, gh FROM nc_g WHERE is_train),
      |nc_tt AS (SELECT n, COUNT(*) AS train_types FROM nc_tr GROUP BY n),
      |nc_cov AS (
      |  SELECT h.n, COUNT(*) AS held_tokens,
      |    SUM(CASE WHEN t.gh IS NOT NULL THEN 1 ELSE 0 END) AS held_covered
      |  FROM (SELECT n, gh FROM nc_g WHERE NOT is_train) h
      |  LEFT JOIN nc_tr t USING (n, gh)
      |  GROUP BY h.n),
      |nc_grid AS (SELECT UNNEST([1, 2, 3]) AS n)
      |SELECT g.n,
      |  CAST(COALESCE(tt.train_types, 0) AS BIGINT) AS train_types,
      |  CAST(COALESCE(c.held_tokens, 0) AS BIGINT) AS held_tokens,
      |  CAST(COALESCE(c.held_covered, 0) AS BIGINT) AS held_covered,
      |  CASE WHEN COALESCE(c.held_tokens, 0) = 0 THEN 0.0
      |       ELSE round(CAST(c.held_covered AS DOUBLE) / c.held_tokens, 6) + 0
      |  END AS coverage
      |FROM nc_grid g
      |LEFT JOIN nc_tt tt USING (n)
      |LEFT JOIN nc_cov c USING (n)
      |ORDER BY n""".stripMargin
  }

  /** Heaps'-law fit — the vocabulary-GROWTH audit beside
    * [[zipfFit]]'s frequency audit: natural text grows types as
    * V(N) ≈ K·N^β with β ≈ 0.4–0.6; β near 1 means the stream keeps
    * minting new types (OCR noise, random ids), β near 0 means a
    * closed template vocabulary. Fit is OLS on (ln N, ln V) over 8
    * cumulative corpus prefixes (doc_id-order octiles of the id
    * space), reporting β, ln K, and R².
    *
    * Scale shape: per-doc token counts are a map pass into ≤8 bucket
    * rows; type first-occurrences are the ONE vocabulary groupBy
    * (min doc_id per word) also reduced to ≤8 rows; the cumulative
    * curve is a window over those 8 rows (boundedRankKey — never a
    * corpus-wide ordinal), and the fit is the zipf_fit moment
    * machinery (r6 per-term moments, decimal sums, closed form). The
    * degenerate single-populated-bucket corpus (zero x-variance) and
    * the <2-point corpus pin all three fit outputs to 0.0 — guarded
    * identically in both engines. */
  def heapsFit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleMath
    val d = t(s, dir, "documents")
    val mx = d.agg(max(col("doc_id")).as("mx"))
    val docTok = d
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
      .crossJoin(broadcast(mx))
      .select(expr("(doc_id * 8) div (mx + 1)").as("b"), col("nw"))
      .groupBy(col("b")).agg(sum(col("nw")).as("toks"))
    val firstDoc = d
      .select(explode(split(col("text"), " ")).as("word"), col("doc_id"))
      .groupBy(col("word")).agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(mx))
      .select(expr("(fd * 8) div (mx + 1)").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("types"))
    // the window input is the LITERAL 8-row grid, so one partition is
    // the design, not an accident
    val wCum = Window
      .partitionBy(graft.functions.WindowKeys.boundedRankKey(col("b")))
      .orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = s.range(0, 8).select(col("id").as("b"))
      .join(docTok, Seq("b"), "left")
      .join(firstDoc, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("types"), lit(0L)).as("types"))
      // both cumulative frames in ONE projection so they share one
      // Window exec (chained withColumn would alias the partition key
      // twice and stack two execs)
      .select(col("b"),
        sum(col("toks")).over(wCum).as("n_cum"),
        sum(col("types")).over(wCum).as("v_cum"))
      .filter(col("n_cum") > 0 && col("v_cum") > 0)
      .select(r6(log(col("n_cum").cast("double"))).as("x"),
        r6(log(col("v_cum").cast("double"))).as("y"))
    val terms = pts.select(col("x"), col("y"),
      r6(col("x") * col("y")).as("xy"),
      r6(col("x") * col("x")).as("xx"),
      r6(col("y") * col("y")).as("yy"))
    val agg = terms.agg(
      count(lit(1)).as("n_points"),
      OracleMath.dsum(col("x")).as("sx"),
      OracleMath.dsum(col("y")).as("sy"),
      OracleMath.dsum(col("xy")).as("sxy"),
      OracleMath.dsum(col("xx")).as("sxx"),
      OracleMath.dsum(col("yy")).as("syy"),
      min(col("x")).as("mnx"), max(col("x")).as("mxx"),
      min(col("y")).as("mny"), max(col("y")).as("mxy"))
    val n = col("n_points").cast("double")
    val den = n * col("sxx") - col("sx") * col("sx")
    val denY = n * col("syy") - col("sy") * col("sy")
    // zero x-variance must be judged on the POINTS (min = max), not on
    // the moment-form denominator: the r6-rounded moments leave a
    // rounding residue that makes `den` nonzero — and the residue
    // ratio lands on a plausible-looking ±1 slope — exactly when the
    // curve is flat and no fit exists
    val degenerate = col("n_points") < 2 || col("mnx") === col("mxx")
    agg
      .withColumn("beta",
        when(degenerate, lit(0.0))
          .otherwise(r6((n * col("sxy") - col("sx") * col("sy")) / den)))
      .select(
        col("n_points"),
        col("beta"),
        when(degenerate, lit(0.0))
          .otherwise(r6((col("sy") - col("beta") * col("sx")) / n)).as("log_k"),
        when(degenerate || col("mny") === col("mxy"), lit(0.0))
          .otherwise(r6(((n * col("sxy") - col("sx") * col("sy")) *
              (n * col("sxy") - col("sx") * col("sy"))) / (den * denY))).as("r2"))
  }

  val heapsFitSql: String =
    """WITH hf_mx AS (SELECT MAX(doc_id) AS mx FROM documents),
      |hf_dt AS (
      |  SELECT (doc_id * 8) // (mx + 1) AS b,
      |    len(string_split(text, ' ')) AS nw
      |  FROM documents, hf_mx),
      |hf_tok AS (SELECT b, SUM(nw) AS toks FROM hf_dt GROUP BY b),
      |hf_fd AS (
      |  SELECT w AS word, MIN(doc_id) AS fd
      |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
      |  GROUP BY w),
      |hf_vb AS (SELECT (fd * 8) // (mx + 1) AS b FROM hf_fd, hf_mx),
      |hf_typ AS (SELECT b, COUNT(*) AS types FROM hf_vb GROUP BY b),
      |hf_grid AS (SELECT UNNEST(range(0, 8)) AS b),
      |hf_cum AS (
      |  SELECT g.b,
      |    SUM(COALESCE(t.toks, 0)) OVER (ORDER BY g.b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cum,
      |    SUM(COALESCE(v.types, 0)) OVER (ORDER BY g.b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cum
      |  FROM hf_grid g
      |  LEFT JOIN hf_tok t ON t.b = g.b
      |  LEFT JOIN hf_typ v ON v.b = g.b),
      |hf_xy AS (
      |  SELECT round(ln(CAST(n_cum AS DOUBLE)), 6) + 0 AS x,
      |         round(ln(CAST(v_cum AS DOUBLE)), 6) + 0 AS y
      |  FROM hf_cum WHERE n_cum > 0 AND v_cum > 0),
      |hf_m AS (
      |  SELECT x, y,
      |    round(x * y, 6) + 0 AS xy,
      |    round(x * x, 6) + 0 AS xx,
      |    round(y * y, 6) + 0 AS yy
      |  FROM hf_xy),
      |hf_a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
      |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(xy AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(xx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(yy AS DECIMAL(38,6))) AS DOUBLE) AS syy,
      |    MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
      |  FROM hf_m),
      |hf_f AS (
      |  SELECT *,
      |    CAST(n_points AS DOUBLE) * sxx - sx * sx AS den,
      |    CAST(n_points AS DOUBLE) * syy - sy * sy AS den_y,
      |    -- zero x-variance judged on the POINTS (min = max): the
      |    -- r6-rounded moments leave `den` nonzero by residue exactly
      |    -- when the curve is flat (mirrors the engine guard)
      |    CASE WHEN n_points < 2 OR mnx = mxx THEN 0.0
      |         ELSE round((CAST(n_points AS DOUBLE) * sxy - sx * sy)
      |           / (CAST(n_points AS DOUBLE) * sxx - sx * sx), 6) + 0
      |    END AS beta
      |  FROM hf_a)
      |SELECT n_points, beta,
      |  CASE WHEN n_points < 2 OR mnx = mxx THEN 0.0
      |       ELSE round((sy - beta * sx) / CAST(n_points AS DOUBLE), 6) + 0
      |  END AS log_k,
      |  CASE WHEN n_points < 2 OR mnx = mxx OR mny = mxy THEN 0.0
      |       ELSE round(((CAST(n_points AS DOUBLE) * sxy - sx * sy)
      |              * (CAST(n_points AS DOUBLE) * sxy - sx * sy))
      |           / (den * den_y), 6) + 0
      |  END AS r2
      |FROM hf_f""".stripMargin

  /** Count floor for [[sourceDistinctiveTerms]] — the PMI rule
    * ([[PmiMinCount]]) applied to log-odds: hapax-dominated z-scores
    * are noise, so only terms with a global count ≥ this enter. */
  val DistinctiveMinCount = 5

  /** Terms reported per source by [[sourceDistinctiveTerms]]. */
  val DistinctiveTopK = 5

  /** Source-distinctive terms — the "what characterizes this
    * source" appendix of a dataset card (Monroe et al. 2008's
    * log-odds-ratio with a Dirichlet prior, the standard fix for
    * tf-idf's hapax bias in corpus comparison): for each source s
    * and term w, z = (ln odds_s − ln odds_rest) / √(1/(y_s+α) +
    * 1/(y_r+α)) with the uninformative α = ½. Computed on the
    * doubled-integer forms (y+½ = (2y+1)/2, the halves cancel in
    * the odds ratios) so every ln/√ argument is a ratio of exact
    * BIGINTs — no decimal-vs-double literal ambiguity anywhere
    * (§8.5). Top-[[DistinctiveTopK]] per source by the r6'd z.
    *
    * Scale shape: ONE token scan → (source, term) counts; the term
    * marginals and source totals are RE-aggregations of that
    * vocabulary-sized relation, never the corpus; the term-marginal
    * join is key-partitioned with no static hint (the unigramLogprob
    * vocabulary rule), source totals and the grand total broadcast;
    * the top-k window partitions by source over the ≪-corpus
    * surviving relation. */
  def sourceDistinctiveTerms(s: SparkSession, dir: String): DataFrame =
    sourceDistinctiveTermsOf(t(s, dir, "documents"))

  /** Relation form — any (source, text) relation. */
  def sourceDistinctiveTermsOf(d: DataFrame): DataFrame = {
    val st = d.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("ys"))
    val tw = st.groupBy(col("tok")).agg(sum(col("ys")).as("yw"))
      .filter(col("yw") >= DistinctiveMinCount)
    val ns = st.groupBy(col("source")).agg(sum(col("ys")).as("ns"))
    val nn = ns.agg(sum(col("ns")).as("nt"))
    val z = st.join(tw, "tok")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nn))
      .withColumn("yr", col("yw") - col("ys"))
      .withColumn("nr", col("nt") - col("ns"))
      .withColumn("zscore", r6(
        (log((lit(2) * col("ys") + 1).cast("double") /
             (lit(2) * (col("ns") - col("ys")) + 1).cast("double"))
          - log((lit(2) * col("yr") + 1).cast("double") /
                (lit(2) * (col("nr") - col("yr")) + 1).cast("double")))
        / sqrt(lit(2.0) / (lit(2) * col("ys") + 1).cast("double")
             + lit(2.0) / (lit(2) * col("yr") + 1).cast("double"))))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("zscore").desc, col("tok"))
    z.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DistinctiveTopK)
      .select(col("source"), col("tok").as("term"),
        col("ys").as("n_source"), col("yr").as("n_rest"), col("zscore"))
      .orderBy(col("source"), col("zscore").desc, col("term"))
  }

  /** Oracle mirror (prefix `sdt_`): identical doubled-integer odds
    * and term order inside ln/√. */
  val sourceDistinctiveTermsSql: String =
    s"""WITH sdt_c AS MATERIALIZED (
       |  SELECT source, w AS tok, COUNT(*) AS ys
       |  FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
       |  WHERE length(w) > 0
       |  GROUP BY source, w),
       |sdt_w AS (
       |  SELECT tok, SUM(ys) AS yw FROM sdt_c GROUP BY tok
       |  HAVING SUM(ys) >= $DistinctiveMinCount),
       |sdt_s AS (SELECT source, SUM(ys) AS ns FROM sdt_c GROUP BY source),
       |sdt_n AS (SELECT SUM(ns) AS nt FROM sdt_s),
       |sdt_z AS (
       |  SELECT c.source, c.tok, c.ys, w.yw - c.ys AS yr,
       |    round((ln(CAST(2 * c.ys + 1 AS DOUBLE)
       |              / CAST(2 * (s.ns - c.ys) + 1 AS DOUBLE))
       |         - ln(CAST(2 * (w.yw - c.ys) + 1 AS DOUBLE)
       |              / CAST(2 * ((n.nt - s.ns) - (w.yw - c.ys)) + 1 AS DOUBLE)))
       |      / sqrt(CAST(2 AS DOUBLE) / CAST(2 * c.ys + 1 AS DOUBLE)
       |           + CAST(2 AS DOUBLE) / CAST(2 * (w.yw - c.ys) + 1 AS DOUBLE)),
       |      6) + 0 AS zscore
       |  FROM sdt_c c
       |  JOIN sdt_w w USING (tok)
       |  JOIN sdt_s s USING (source)
       |  CROSS JOIN sdt_n n),
       |sdt_r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY zscore DESC, tok) AS rk
       |  FROM sdt_z)
       |SELECT source, tok AS term, CAST(ys AS BIGINT) AS n_source,
       |  CAST(yr AS BIGINT) AS n_rest, zscore
       |FROM sdt_r
       |WHERE rk <= $DistinctiveTopK
       |ORDER BY source, zscore DESC, term""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_distinctive_terms" -> (sourceDistinctiveTerms _),
    "zipf_fit" -> (zipfFit _),
    "heaps_fit" -> (heapsFit _),
    "ngram_coverage" -> (ngramCoverage _),
    "vocab_coverage" -> (vocabCoverage _),
    "doc_novelty" -> (docNovelty _),
    "doc_entropy" -> (docEntropy _),
    "approx_percentiles" -> (approxPercentiles _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "index_pipeline" -> (indexPipeline _),
    "text_percentiles" -> (textPercentiles _),
    "token_regex" -> (tokenRegex _),
    "bpe_pairs" -> (bpePairs _),
    "text_stats" -> (textStats _),
    "top_words" -> (topWords _),
    "burstiness_report" -> (burstinessReport _),
    "collocation_pmi" -> (collocationPmi _),
    "langid_confusion" -> (langidConfusion _),
    "doc_quality" -> (docQuality _),
    "rep_ngrams" -> (repNgrams _),
    "doc_fingerprint" -> (docFingerprint _),
    "lang_id" -> (langId _),
    "langid_ngram" -> (langidNgram _),
    "langid_agreement" -> (langidAgreement _),
    "chunk_stats" -> (chunkStats _),
    "cdc_chunks" -> (cdcChunks _))

  val oracles: Map[String, String] = Map(
    "source_distinctive_terms" -> sourceDistinctiveTermsSql,
    "zipf_fit" -> zipfFitSql,
    "heaps_fit" -> heapsFitSql,
    "ngram_coverage" -> ngramCoverageSql,
    "vocab_coverage" -> vocabCoverageSql,
    "doc_novelty" -> docNoveltySql,
    "doc_entropy" -> docEntropySql,
    "tfidf_top_terms" -> tfidfTopTermsSql,
    "text_percentiles" -> textPercentilesSql,
    "token_regex" -> tokenRegexSql,
    "bpe_pairs" -> bpePairsSql,
    "text_stats" -> textStatsSql,
    "top_words" -> topWordsSql,
    "burstiness_report" -> burstinessReportSql,
    "collocation_pmi" -> collocationPmiSql,
    "langid_confusion" -> langidConfusionSql,
    "doc_quality" -> docQualitySql,
    "rep_ngrams" -> repNgramsSql,
    "doc_fingerprint" -> docFingerprintSql,
    "lang_id" -> langIdSql,
    "langid_ngram" -> langidNgramSql,
    "langid_agreement" -> langidAgreementSql,
    "chunk_stats" -> chunkStatsSql,
    "index_pipeline" -> indexPipelineSql,
    "cdc_chunks" -> cdcChunksSql)
}
