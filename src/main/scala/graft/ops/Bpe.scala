package graft.ops

import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training + corpus encoding — the full
  * loop whose per-iteration input [[TextOps.bpePairs]] exposes: train
  * [[Rounds]] byte-pair merges over the weighted word vocabulary,
  * then encode the corpus with them.
  *
  * Production shape (the HF-tokenizers flow, re-expressed Spark-
  * first): ONE corpus pass collapses the token stream to distinct
  * words with occurrence counts — after that, training never touches
  * the corpus again; every round is a vocab-sized aggregation. Per
  * round: weighted adjacent-symbol-pair counts (map-side combined,
  * one shuffle on the pair key), a 1-row argmax to the driver (count
  * desc, then pair lexicographic — a total order, so training is
  * deterministic on any partitioning), and a map-only left-to-right
  * merge apply. The Lloyd's-on-Spark shape: k·dim scalars through
  * the driver per iteration, never the data.
  *
  * Encoding tokenizes each DISTINCT word once (replaying the merges
  * in rank order — by construction identical to the training-end
  * state) and joins the vocab-sized result back to the per-doc token
  * counts; no static broadcast hint on the vocabulary side (the
  * tfidf/unigram rule).
  *
  * Oracle: the whole training loop replays in DuckDB — pair counts
  * and argmax as plain CTEs per round, the left-to-right non-
  * overlapping merge scan as a recursive CTE stepping one symbol at
  * a time (merge at i → i+2, else emit → i+1), exhausted rounds
  * guarded by a never-matching sentinel pair. Counts are exact
  * integers throughout; both engines break argmax ties on the same
  * (cnt DESC, lhs, rhs) total order, so `bpe_merges` and
  * `bpe_encode` hash-match bit-for-bit.
  */
object Bpe extends QueryModule {
  import Tables.t

  /** Merge rounds for the REGISTERED queries — one argmax merge per
    * round, the Sennrich loop. Training itself is parameterized
    * ([[trainWords]]): a real tokenizer run raises this to 30k+,
    * which the lineage checkpointing below is sized for. */
  val Rounds = 4

  /** Truncate the `words` lineage every this many rounds. Each round
    * stacks one merge UDF on the symbol column, so an unchecked
    * 30k-merge run grows the plan tree and task closures without
    * bound until the driver chokes on analysis alone. A
    * `localCheckpoint` every N rounds keeps plan depth O(N) at the
    * cost of rounds/N vocab-sized materializations; superseded
    * checkpoints are released the moment their successor lands (the
    * [[Dedup.componentsDistributed]] hygiene pattern), so exactly one
    * vocab-sized block set is ever retained. */
  val CheckpointEvery = 8

  /** Left-to-right non-overlapping single-pair merge — the scan the
    * oracle's recursive CTE steps through symbol by symbol. */
  private def mergeOnce(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  private def applyMergeUdf(a: String, b: String) =
    udf { (syms: Seq[String]) => mergeOnce(syms.toArray, a, b).toSeq }

  /** Tokenize one word under a frozen rank-ordered merge list —
    * replays training per word, which IS the training-end state. */
  private[graft] def tokenizeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.map(_.toString).toArray
    merges.foreach { case (a, b) => syms = mergeOnce(syms, a, b) }
    syms.toSeq
  }

  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))

  /** The merge list of the registered [[Rounds]] training rounds (the
    * [[Pq.Codebooks]] convention): bpe_merges is the fitter (timed cold
    * in Bench), bpe_encode the warm consumer. Stops early if the corpus
    * runs out of adjacent pairs (each round's argmax then has no input). */
  val Merges = Fits("bpe.merges", "documents")((s, dir) => trainWords(s, dir, Rounds)._1)

  /** The training loop itself. ONE corpus pass collapses the token
    * stream to (word, count) and is EAGERLY materialized
    * (`localCheckpoint(true)`), so every round's pair-count
    * aggregation replays from vocab-sized checkpoint blocks — the
    * corpus is never touched again, whatever `rounds` is. Every
    * [[CheckpointEvery]] rounds the merge-UDF lineage is truncated by
    * a fresh checkpoint and the superseded blocks are freed; on exit
    * ALL blocks are freed (training state lives in the returned merge
    * list). The returned frame is the final words relation for PLAN
    * INSPECTION (BpeSpec's bounded-depth assertion) — its backing
    * blocks are already released, so it must not be executed. */
  private[graft] def trainWords(
      s: SparkSession, dir: String, rounds: Int): (Seq[(String, String, Long)], DataFrame) = {
    var words = wordCounts(s, dir)
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint(true)
    var liveCkpt = words
    val acc = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val best = words
        .select(col("wcnt"), explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1),
            |         slice(syms, 2, size(syms) - 1),
            |         (x, y) -> struct(x AS a, y AS b))""".stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("wcnt"))
        .groupBy(col("a"), col("b")).agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        acc += ((a, b, c))
        words = words.withColumn("syms", applyMergeUdf(a, b)(col("syms")))
        r += 1
        if (r % CheckpointEvery == 0) {
          words = words.localCheckpoint(true)
          OpsShared.releaseCheckpoint(liveCkpt)
          liveCkpt = words
        }
      }
    }
    OpsShared.releaseCheckpoint(liveCkpt)
    (acc.result(), words)
  }

  /** The learned merge table: (merge_rank, lhs, rhs, cnt at selection
    * time) — what a tokenizer ships as `merges.txt`. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Merges(s, dir).zipWithIndex
      .map { case ((a, b, c), i) => (i + 1, a, b, c) }
      .toDF("merge_rank", "lhs", "rhs", "cnt")
      .orderBy(col("merge_rank"))
  }

  /** Corpus encoding under the trained merges: per-doc token count,
    * piece count, and pieces-per-token compression — the measurement
    * a tokenizer-training run is judged on. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = Merges(s, dir).map(m => (m._1, m._2))
    val encUdf = udf { (word: String) => tokenizeWord(word, merges).length }
    val tokc = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val vocab = tokc.select(col("word")).distinct()
      .withColumn("np", encUdf(col("word")).cast("long"))
    tokc.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("c") * col("np")).as("n_pieces"))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        r6(col("n_pieces").cast("double") / col("n_tokens")).as("pieces_per_token"))
      .orderBy(col("doc_id"))
  }

  // ---- Oracle: the training loop unrolled, one CTE block per round.
  // The merge apply is a recursive scan: state (out, i) starts at
  // ([], 1); each step either merges syms[i],syms[i+1] (advance 2)
  // or emits syms[i] (advance 1); a word is done when i walks past
  // its symbol list. bx$r coalesces an exhausted round's argmax to a
  // sentinel pair of empty strings, which matches no symbol.
  // w0/s0/bx$r/s$r MUST be AS MATERIALIZED: each m$r recursion
  // references bx$r (and transitively the whole prior chain) on
  // EVERY iteration step, so the plain-CTE form re-derives the
  // full train prefix per step — measured 476 s for bpe_encode at
  // sf0.1 vs 0.6 s materialized (and it compounds into every
  // downstream composition: bpe_pack, tokenizer_fertility). ----

  private def roundCte(r: Int): String = {
    val prev = s"s${r - 1}"
    s"""p$r AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(wcnt) AS cnt
       |  FROM $prev, UNNEST(range(1, len(syms))) AS u$r(i)
       |  GROUP BY 1, 2),
       |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |bx$r AS MATERIALIZED (
       |  SELECT coalesce(max(a), '') AS a, coalesce(max(b), '') AS b FROM b$r),
       |m$r AS (
       |  SELECT word, wcnt, syms, CAST([] AS VARCHAR[]) AS out, 1 AS i FROM $prev
       |  UNION ALL
       |  SELECT m.word, m.wcnt, m.syms,
       |    CASE WHEN m.i < len(m.syms) AND m.syms[m.i] = x.a AND m.syms[m.i + 1] = x.b
       |         THEN list_append(m.out, x.a || x.b)
       |         ELSE list_append(m.out, m.syms[m.i]) END,
       |    CASE WHEN m.i < len(m.syms) AND m.syms[m.i] = x.a AND m.syms[m.i + 1] = x.b
       |         THEN m.i + 2 ELSE m.i + 1 END
       |  FROM m$r m, bx$r x WHERE m.i <= len(m.syms)),
       |s$r AS MATERIALIZED (
       |  SELECT word, wcnt, out AS syms FROM m$r WHERE i = len(syms) + 1)""".stripMargin
  }

  private val trainCtes: String =
    s"""WITH RECURSIVE w0 AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS wcnt
       |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS tok FROM documents)
       |  GROUP BY tok),
       |s0 AS MATERIALIZED (
       |  SELECT word, wcnt,
       |    list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
       |  FROM w0),
       |${(1 to Rounds).map(roundCte).mkString(",\n")}""".stripMargin

  val bpeMergesSql: String = {
    val rows = (1 to Rounds)
      .map(r => s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS cnt FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""$trainCtes
       |SELECT * FROM (
       |$rows
       |)
       |ORDER BY merge_rank""".stripMargin
  }

  /** The encode chain's CTE prefix (train rounds + per-doc word
    * counts + per-word piece counts) — shared with downstream
    * composition oracles ([[graft.ops.Curation.bpePackSql]]). */
  private[ops] lazy val bpeEncodePrefixCtes: String =
    s"""$trainCtes,
       |tokc AS (
       |  SELECT doc_id, tok AS word, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |enc AS (SELECT word, len(syms) AS np FROM s$Rounds)""".stripMargin

  val bpeEncodeSql: String =
    s"""$bpeEncodePrefixCtes
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  CAST(SUM(c * np) AS BIGINT) AS n_pieces,
       |  round(CAST(SUM(c * np) AS DOUBLE) / SUM(c), 6) + 0 AS pieces_per_token
       |FROM tokc JOIN enc USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Per-language token/piece/byte counts under the frozen merge
    * list — the [[TokenizerEval.tokenizerFertilityLang]] arm. BPE's
    * own word regime (`[a-z]+` runs), each distinct (lang, word)
    * encoded once. */
  private[ops] def fertilityLangCounts(s: SparkSession, dir: String): DataFrame = {
    val merges = Merges(s, dir).map(m => (m._1, m._2))
    val encUdf = udf { (word: String) => tokenizeWord(word, merges).length }
    val tokc = t(s, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
    val vocab = tokc.select(col("word")).distinct()
      .withColumn("np", encUdf(col("word")).cast("long"))
    tokc.join(vocab, "word")
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("np")).as("n_pieces"),
        sum(col("c") * octet_length(col("word"))).cast("long").as("n_bytes"))
      .select(lit("bpe").as("tokenizer"), col("lang"),
        col("n_words"), col("n_pieces"), col("n_bytes"))
  }

  private[ops] lazy val fertilityLangCountsSql: String =
    s"""$bpeEncodePrefixCtes,
       |tokl AS (
       |  SELECT lang, tok AS word, COUNT(*) AS c
       |  FROM (SELECT lang, unnest(regexp_extract_all(text, '[a-z]+')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2)
       |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_words,
       |  CAST(SUM(c * np) AS BIGINT) AS n_pieces,
       |  CAST(SUM(c * strlen(word)) AS BIGINT) AS n_bytes
       |FROM tokl JOIN enc USING (word)
       |GROUP BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_merges" -> (bpeMerges _),
    "bpe_encode" -> (bpeEncode _))

  val oracles: Map[String, String] = Map(
    "bpe_merges" -> bpeMergesSql,
    "bpe_encode" -> bpeEncodeSql)
}
