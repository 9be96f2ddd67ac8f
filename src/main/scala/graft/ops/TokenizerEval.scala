package graft.ops

import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-tokenizer fertility comparison — the table a tokenizer
  * selection actually gets decided on: corpus-total words, pieces,
  * and pieces-per-word for the three trained subword tokenizers the
  * engine fits (BPE [[Bpe]], unigram-LM [[UnigramLm]], WordPiece
  * [[WordPiece]]), each under its own word regime (BPE trains on
  * `[a-z]+` word runs; unigram/WordPiece on whitespace words ≤ their
  * MaxWordLen — the comparison is of END-TO-END tokenizer stacks,
  * conventions included, which is what a pipeline swaps between).
  *
  * Pure composition: the three per-document encode queries are
  * already oracle-proven; this aggregates each to one corpus row —
  * integer sums (exact), one r6-rounded ratio. Shape at 100 TB: the
  * encodes are the cost (each one corpus pass over already-fitted
  * frozen vocabularies); the fold to three rows is a map-side
  * partial aggregation. The oracle nests the three proven encode
  * SQLs as MATERIALIZED derived tables, so each evaluates once.
  */
object TokenizerEval extends QueryModule {

  private def corpusRow(df: DataFrame, name: String, wordsCol: String): DataFrame =
    df.agg(
        sum(col(wordsCol)).as("n_words"),
        sum(col("n_pieces")).as("np"))
      .select(lit(name).as("tokenizer"),
        col("n_words"), col("np").as("n_pieces"),
        r6(col("np").cast("double") / col("n_words")).as("fertility"))

  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    corpusRow(Bpe.bpeEncode(s, dir), "bpe", "n_tokens")
      .unionAll(corpusRow(UnigramLm.unigramEncode(s, dir), "unigram", "n_words"))
      .unionAll(corpusRow(WordPiece.wordpieceEncode(s, dir), "wordpiece", "n_words"))
      .orderBy(col("tokenizer"))

  val tokenizerFertilitySql: String = {
    def row(name: String, inner: String, wordsCol: String) =
      s"""SELECT '$name' AS tokenizer,
         |  CAST(SUM($wordsCol) AS BIGINT) AS n_words,
         |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
         |  round(CAST(SUM(n_pieces) AS DOUBLE) / SUM($wordsCol), 6) + 0 AS fertility
         |FROM (
         |$inner
         |) ${name}_enc""".stripMargin
    s"""SELECT * FROM (
       |${row("bpe", Bpe.bpeEncodeSql, "n_tokens")}
       |UNION ALL
       |${row("unigram", UnigramLm.unigramEncodeSql, "n_words")}
       |UNION ALL
       |${row("wordpiece", WordPiece.wordpieceEncodeSql, "n_words")}
       |)
       |ORDER BY tokenizer""".stripMargin
  }

  /** Fertility PER LANGUAGE — the standard multilingual tokenizer-
    * choice table: tokens-per-word and bytes-per-token per `lang`
    * (the corpus's language-ID truth column) for each trained family.
    * A language whose fertility is 2× the corpus mean is paying
    * double the sequence length for the same text — THE number that
    * decides vocabulary budgets and per-language sampling in a
    * multilingual pretraining mix (and the reason byte-fallback
    * tokenizers report bytes/token beside pieces/word).
    *
    * Each family keeps its own end-to-end word regime (the
    * [[tokenizerFertility]] contract): BPE counts `[a-z]+` runs,
    * unigram/WordPiece whitespace words ≤ MaxWordLen with
    * unencodable words dropped from words AND bytes. Ratios fold as
    * exact micro-units (the knLogprob remedy — both are sums of
    * integers divided half-up).
    *
    * Scale shape: three already-fitted frozen vocabularies ride
    * closures; each arm is ONE corpus pass collapsing to (lang)
    * groups — the encodes are the cost, the table is map-side
    * partial aggregation over ≤ languages × families rows. */
  def tokenizerFertilityLang(s: SparkSession, dir: String): DataFrame =
    Bpe.fertilityLangCounts(s, dir)
      .unionAll(UnigramLm.fertilityLangCounts(s, dir))
      .unionAll(WordPiece.fertilityLangCounts(s, dir))
      .select(col("tokenizer"), col("lang"),
        col("n_words"), col("n_pieces"), col("n_bytes"),
        (expr("(2 * n_pieces * 1000000 + n_words) div (2 * n_words)")
          .cast("double") / 1e6).as("fertility"),
        (expr("(2 * n_bytes * 1000000 + n_pieces) div (2 * n_pieces)")
          .cast("double") / 1e6).as("bytes_per_piece"))
      .orderBy(col("tokenizer"), col("lang"))

  /** Oracle mirror: the three per-lang count SQLs as nested derived
    * tables (each with its own WITH — the CTE-shadowing rule), the
    * same half-up micro-unit divisions. */
  lazy val tokenizerFertilityLangSql: String = {
    def arm(name: String, inner: String) =
      s"""SELECT '$name' AS tokenizer, lang, n_words, n_pieces, n_bytes,
         |  CAST((2 * n_pieces * 1000000 + n_words) // (2 * n_words) AS DOUBLE)
         |    / 1000000.0 AS fertility,
         |  CAST((2 * n_bytes * 1000000 + n_pieces) // (2 * n_pieces) AS DOUBLE)
         |    / 1000000.0 AS bytes_per_piece
         |FROM (
         |$inner
         |) ${name}_fl""".stripMargin
    s"""SELECT * FROM (
       |${arm("bpe", Bpe.fertilityLangCountsSql)}
       |UNION ALL
       |${arm("unigram", UnigramLm.fertilityLangCountsSql)}
       |UNION ALL
       |${arm("wordpiece", WordPiece.fertilityLangCountsSql)}
       |)
       |ORDER BY tokenizer, lang""".stripMargin
  }

  /** Pairwise vocabulary SURFACE overlap between the three trained
    * tokenizer families — the migration audit run before swapping
    * tokenizers: a high-Jaccard pair means most learned units carry
    * over (embeddings for those pieces transfer meaningfully); a low
    * one means retraining from scratch. Comparison is on surface
    * strings: BPE's units are its merge products (lhs||rhs),
    * WordPiece's continuation marker `##` is stripped (the marker
    * encodes position, not surface), unigram pieces compare as-is.
    *
    * All three vocabularies are PARAMETER-BOUNDED driver values
    * (each trainer already fits on the driver and ships ≤ VocabOut
    * rows — the [[Fits]] rule), so the overlap is
    * exact set arithmetic on the driver, not a corpus pass: the
    * corpus cost is the three fits the parent queries already pay. */
  def tokenizerVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def pieces(df: DataFrame): Set[String] =
      df.collect().map(_.getString(0)).toSet
    val fams = Seq(
      "bpe" -> pieces(Bpe.bpeMerges(s, dir)
        .select(concat(col("lhs"), col("rhs")).as("piece"))),
      "unigram" -> pieces(UnigramLm.unigramVocab(s, dir).select(col("piece"))),
      "wordpiece" -> pieces(WordPiece.wordpieceVocab(s, dir)
        .select(regexp_replace(col("piece"), "^##", "").as("piece"))))
    val rows = for {
      i <- fams.indices
      j <- i + 1 until fams.size
    } yield {
      val (na, a) = fams(i)
      val (nb, b) = fams(j)
      val shared = (a intersect b).size
      val union = a.size + b.size - shared
      val jac = if (union == 0) 0.0
        else graft.functions.OracleMath.r6d(shared.toDouble / union)
      (na, nb, a.size.toLong, b.size.toLong, shared.toLong, jac)
    }
    rows.toDF("family_a", "family_b", "n_a", "n_b", "n_shared", "jaccard")
      .orderBy(col("family_a"), col("family_b"))
  }

  /** Oracle mirror: the three proven vocab SQLs as MATERIALIZED
    * distinct surface sets, pairwise counted. */
  lazy val tokenizerVocabOverlapSql: String = {
    def pair(a: String, b: String) =
      s"""SELECT '$a' AS family_a, '$b' AS family_b,
         |  (SELECT COUNT(*) FROM tv_$a) AS n_a,
         |  (SELECT COUNT(*) FROM tv_$b) AS n_b,
         |  (SELECT COUNT(*) FROM tv_$a x JOIN tv_$b y USING (piece)) AS n_shared""".stripMargin
    s"""WITH tv_bpe AS MATERIALIZED (
       |  SELECT DISTINCT lhs || rhs AS piece FROM (${Bpe.bpeMergesSql}) bm),
       |tv_unigram AS MATERIALIZED (
       |  SELECT DISTINCT piece FROM (${UnigramLm.unigramVocabSql}) uv),
       |tv_wordpiece AS MATERIALIZED (
       |  SELECT DISTINCT regexp_replace(piece, '^##', '') AS piece
       |  FROM (${WordPiece.wordpieceVocabSql}) wv),
       |tv_pairs AS (
       |${pair("bpe", "unigram")}
       |UNION ALL
       |${pair("bpe", "wordpiece")}
       |UNION ALL
       |${pair("unigram", "wordpiece")})
       |SELECT family_a, family_b,
       |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  CAST(n_shared AS BIGINT) AS n_shared,
       |  CASE WHEN n_a + n_b - n_shared = 0 THEN 0.0
       |       ELSE round(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 6) + 0
       |  END AS jaccard
       |FROM tv_pairs
       |ORDER BY family_a, family_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tokenizer_fertility" -> (tokenizerFertility _),
    "tokenizer_fertility_lang" -> (tokenizerFertilityLang _),
    "tokenizer_vocab_overlap" -> (tokenizerVocabOverlap _))

  val oracles: Map[String, String] = Map(
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "tokenizer_fertility_lang" -> tokenizerFertilityLangSql,
    "tokenizer_vocab_overlap" -> tokenizerVocabOverlapSql)
}
