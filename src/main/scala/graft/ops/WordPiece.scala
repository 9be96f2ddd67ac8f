package graft.ops

import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (Schuster & Nakajima 2012 — the BERT family):
  * the THIRD major subword algorithm next to [[Bpe]] (greedy merge
  * training) and [[UnigramLm]] (Viterbi segmentation): a
  * position-split vocabulary — word-INITIAL pieces vs `##`-prefixed
  * CONTINUATION pieces — segmented by greedy LONGEST-MATCH-FIRST
  * from the left. Registering all three families lets a pipeline
  * compare fertility (pieces/word) across tokenizer designs on the
  * same corpus with the same vocabulary budget.
  *
  * Fit ([[wordpieceVocab]]): one corpus pass collapses the token
  * stream to weighted distinct words (the [[Bpe]] convention);
  * candidate pieces are all substrings of length ≤
  * [[UnigramLm.MaxPieceLen]] in their POSITIONAL form (`xy` when the
  * substring starts the word, `##xy` inside it) weighted by word
  * frequency; the vocabulary is the top [[UnigramLm.VocabTop]] by
  * (count, piece) UNION all single characters in both forms — the
  * coverage guarantee that makes every word encodable, so the UNK
  * path never fires on the fit corpus.
  *
  * Encode ([[wordpieceEncode]]): greedy longest-match runs per
  * DISTINCT word in a closure-vocabulary UDF (parameter-bounded →
  * the centroid broadcast rule) and joins back to the token stream —
  * each distinct word segmented once, the [[Bpe]]/[[UnigramLm]]
  * shape. Greedy matching is INTEGER-only — no scores, no float
  * bridge anywhere except the final fertility rounding — and
  * advances ≥1 char per step, so the oracle unrolls exactly
  * [[UnigramLm.MaxWordLen]] match steps as MATERIALIZED CTEs (each
  * level referenced twice — carry + advance — would blow up 2^16
  * inlined; the unigramEncodeSql lesson).
  *
  * Scale shape: two aggregations (word counts, positional piece
  * counts), one bounded top-V collect, one map-only greedy pass over
  * distinct words, one join back to the stream — no per-word driver
  * work, no unbounded state.
  */
object WordPiece extends QueryModule {
  import Tables.t
  import UnigramLm.{MaxPieceLen, MaxWordLen, VocabOut, VocabTop}

  /** Weighted distinct words — the [[UnigramLm]] filter mirrored. */
  private def wordsDf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** Positional piece stats: substrings in initial (`xy`) or
    * continuation (`##xy`) form, frequency-weighted. */
  private def piecesDf(s: SparkSession, dir: String): DataFrame =
    wordsDf(s, dir)
      .select(col("f"), explode(expr(
        s"""flatten(transform(sequence(1, least($MaxPieceLen, length(w))),
           |  l -> transform(sequence(0, length(w) - l),
           |    i -> CASE WHEN i = 0 THEN substring(w, 1, l)
           |         ELSE concat('##', substring(w, i + 1, l)) END)))""".stripMargin))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))

  /** Fitted vocabulary (piece, cnt), memoized per directory:
    * top-[[VocabTop]] positional pieces ∪ single chars in both
    * forms. Bounded by VocabTop + 2·alphabet. */
  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()

  private[graft] def clearVocabCache(): Unit = vocabCache.clear()

  private[graft] def fittedVocab(s: SparkSession, dir: String): Seq[(String, Long)] =
    vocabCache.computeIfAbsent(OpsShared.dirKey(dir), _ => {
      val pieces = piecesDf(s, dir)
      val top = pieces.orderBy(col("cnt").desc, col("piece")).limit(VocabTop)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val chars = pieces.filter(
          length(col("piece")) === 1 ||
            (col("piece").startsWith("##") && length(col("piece")) === 3))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (top ++ chars).distinct.toSeq
    })

  /** Top-[[VocabOut]] fitted pieces — the fit's audit surface,
    * mirroring [[UnigramLm.unigramVocab]]. */
  def wordpieceVocab(s: SparkSession, dir: String): DataFrame = {
    val v = fittedVocab(s, dir)
    import s.implicits._
    v.sortBy { case (p, c) => (-c, p) }.take(VocabOut).toDF("piece", "cnt")
  }

  /** Greedy longest-match piece count per word; None when a word is
    * unencodable (cannot happen while the char-coverage union
    * holds — mirrored by the oracle, where a stuck word leaves the
    * state chain and drops from the join). */
  private def greedyUdf(vocab: Set[String]) =
    udf { (w: String) =>
      var pos = 0
      var k = 0
      var ok = true
      while (pos < w.length && ok) {
        var l = math.min(MaxPieceLen, w.length - pos)
        var found = -1
        while (l >= 1 && found < 0) {
          val cand =
            if (pos == 0) w.substring(0, l) else "##" + w.substring(pos, pos + l)
          if (vocab.contains(cand)) found = l
          l -= 1
        }
        if (found < 0) ok = false else { pos += found; k += 1 }
      }
      if (ok) Some(k) else None
    }

  /** Per-document segmentation profile: word count, total pieces,
    * fertility — directly comparable with [[UnigramLm.unigramEncode]]
    * and [[Bpe]]'s encode on the same corpus. */
  def wordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = fittedVocab(s, dir).map(_._1).toSet
    val enc = greedyUdf(vocab)
    val wstats = wordsDf(s, dir)
      .withColumn("n_pieces", enc(col("w")))
      .filter(col("n_pieces").isNotNull)
      .select(col("w"), col("n_pieces"))
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
    toks.join(wstats, "w")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"),
        r6(sum(col("n_pieces")).cast("double") / count(lit(1))).as("fertility"))
      .orderBy(col("doc_id"))
  }

  /** Shared vocab CTEs: weighted words, positional pieces, fitted
    * vocabulary. MATERIALIZED — the greedy chain references wpv once
    * per unrolled step. */
  private def vocabCtes: String =
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $MaxWordLen
       |  GROUP BY w),
       |wpp AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT CASE WHEN i = 0 THEN substr(w, 1, l)
       |           ELSE '##' || substr(w, i + 1, l) END AS piece, f
       |    FROM words,
       |      UNNEST(range(1, $MaxPieceLen + 1)) AS pl(l),
       |      UNNEST(range(0, len(w))) AS ps(i)
       |    WHERE i + l <= len(w))
       |  GROUP BY piece),
       |wpv AS MATERIALIZED (
       |  SELECT DISTINCT piece FROM (
       |    SELECT piece FROM
       |      (SELECT piece FROM wpp ORDER BY cnt DESC, piece LIMIT $VocabTop)
       |    UNION ALL
       |    SELECT piece FROM wpp
       |    WHERE len(piece) = 1 OR (piece LIKE '##%' AND len(piece) = 3)))""".stripMargin

  val wordpieceVocabSql: String = vocabCtes +
    s""",
       |out AS (
       |  SELECT v.piece, p.cnt FROM wpv v JOIN wpp p ON p.piece = v.piece)
       |SELECT piece, cnt FROM out
       |ORDER BY cnt DESC, piece LIMIT $VocabOut""".stripMargin

  /** Unrolled greedy longest-match: state (w, pos, k); each level
    * carries finished words and advances the rest by their longest
    * vocabulary match at `pos` (row_number over match length). */
  /** Shared CTE prefix through the per-word `wstats` (w, n_pieces)
    * relation — the frozen-tokenizer word table both the per-doc
    * encode and the per-language fertility audit join against. */
  private[ops] lazy val wordpieceStatsCtes: String = {
    def step(i: Int): String =
      s"""g$i AS MATERIALIZED (
         |  SELECT w, pos, k FROM g${i - 1} WHERE pos >= len(w)
         |  UNION ALL
         |  SELECT w, pos + l AS pos, k + 1 AS k FROM (
         |    SELECT g.w, g.pos, g.k, pl.l,
         |      row_number() OVER (PARTITION BY g.w ORDER BY pl.l DESC) AS rn
         |    FROM g${i - 1} g, UNNEST(range(1, $MaxPieceLen + 1)) AS pl(l)
         |    WHERE g.pos < len(g.w) AND g.pos + pl.l <= len(g.w)
         |      AND (CASE WHEN g.pos = 0 THEN substr(g.w, 1, pl.l)
         |           ELSE '##' || substr(g.w, g.pos + 1, pl.l) END)
         |          IN (SELECT piece FROM wpv))
         |  WHERE rn = 1)""".stripMargin
    s"""$vocabCtes,
       |g0 AS MATERIALIZED (SELECT w, 0 AS pos, 0 AS k FROM words),
       |${(1 to MaxWordLen).map(step).mkString(",\n")},
       |wstats AS (
       |  SELECT w, k AS n_pieces FROM g$MaxWordLen WHERE pos >= len(w))""".stripMargin
  }

  val wordpieceEncodeSql: String =
    s"""$wordpieceStatsCtes,
       |toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $MaxWordLen)
       |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
       |  round(CAST(CAST(SUM(s.n_pieces) AS BIGINT) AS DOUBLE) / COUNT(*), 6) + 0 AS fertility
       |FROM toks t JOIN wstats s ON s.w = t.w
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Per-language word/piece/byte counts under the frozen WordPiece
    * — the [[TokenizerEval.tokenizerFertilityLang]] arm. Same word
    * regime and greedy encoder as [[wordpieceEncode]]; unencodable
    * words (greedy dead-ends) drop from words AND bytes, so the
    * ratios compare what the tokenizer actually emits. */
  private[ops] def fertilityLangCounts(s: SparkSession, dir: String): DataFrame = {
    val vocab = fittedVocab(s, dir).map(_._1).toSet
    val enc = greedyUdf(vocab)
    val wstats = wordsDf(s, dir)
      .withColumn("n_pieces", enc(col("w")))
      .filter(col("n_pieces").isNotNull)
      .select(col("w"), col("n_pieces"))
    t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxWordLen)
      .join(wstats, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"),
        sum(octet_length(col("w"))).cast("long").as("n_bytes"))
      .select(lit("wordpiece").as("tokenizer"), col("lang"),
        col("n_words"), col("n_pieces"), col("n_bytes"))
  }

  private[ops] lazy val fertilityLangCountsSql: String =
    s"""$wordpieceStatsCtes,
       |tokl AS (
       |  SELECT lang, w FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $MaxWordLen)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(strlen(t.w)) AS BIGINT) AS n_bytes
       |FROM tokl t JOIN wstats s ON s.w = t.w
       |GROUP BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordpiece_vocab" -> (wordpieceVocab _),
    "wordpiece_encode" -> (wordpieceEncode _))

  val oracles: Map[String, String] = Map(
    "wordpiece_vocab" -> wordpieceVocabSql,
    "wordpiece_encode" -> wordpieceEncodeSql)
}
