package lvbench

import graft.Graft
import graft.embed.HashEmbedder
import graft.index.VectorIndex
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `ask_session`: one `AskSession` over an index built in set-up; a
  * single closed-loop client (each question waits for the previous
  * answer, no think time) sends 4 `ask` to 1 `askHybrid`. The read
  * side of the index: `query`, `ops` BM25 and per-job engine cost. */
object AskWorkload {

  val Spec: LogGen.TreeSpec = LogGen.TreeSpec(textFiles = 250, textBytes = 3L << 20)
  val K = 5
  val MinCycles = 5 // 20 plain asks: the median needs ten samples beyond it
  /** Question latency falls over a JVM's first questions while the JIT
    * compiles the engine's planning and scheduling code; 40 untimed
    * questions take out most of that drop within the run's budget. */
  val WarmQuestions = 40

  def run(spark: SparkSession, a: Args, tr: Tracer): Outcome = {
    val tree = a.work.resolve("tree")
    val index = a.work.resolve("index")
    val questions = LogGen.questions(a.seed, 5000)
    LogGen.write(tree, LogGen.tree(a.seed, Spec))
    Graft.index(spark, tree.toString, index.toString)
    // set-up, three times: open a session on the index and answer one
    // question; the last session stays open
    var session: Graft.AskSession = null
    val setupS = (0 until 3).map { _ =>
      if (session != null) session.close()
      val t0 = System.nanoTime()
      session = Graft.open(spark, index.toString)
      session.ask(questions(0).text, K)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[lvbench] set-up times (s): ${setupS.mkString(" ")}")
    try {
      // the brute-force reference's copy of the index, collected once
      val chunks = VectorIndex.readVectors(spark, index.toString)
        .select("source", "chunk_index", "id", "text", "embedding").collect()
        .map(r => Reference.Chunk(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
          r.getSeq[Float](4).toArray))
        .toSeq
      val byKey = chunks.map(c => (c.source, c.chunkIndex) -> c).toMap
      val firstAnswer = mutable.Map.empty[String, String]
      val run = new Runner(tr)
      def question(i: Int, traced: Boolean): Unit = {
        val q = questions(i % questions.size)
        if (!q.hybrid)
          run.op("ask", i, traced)(session.ask(q.text, K)) { r =>
            val want = Reference.topK(chunks, HashEmbedder.default.embedOne(q.text), K)
            val hits = r.hits.select("source", "chunk_index", "dist").collect()
              .map(h => (h.getString(0), h.getInt(1), h.getDouble(2))).toSeq
            hits == want.map(h => (h.chunk.source, h.chunk.chunkIndex, h.dist)) &&
              r.context == Reference.context(want)
          }
        else
          run.op("ask_hybrid", i, traced)(session.askHybrid(q.text, K)) { r =>
            Reference.parseContext(r.context, byKey).exists(_.size == K) &&
              firstAnswer.getOrElseUpdate(q.text, r.context) == r.context
          }
      }
      questions.take(WarmQuestions).foreach(q =>
        if (q.hybrid) session.askHybrid(q.text, K) else session.ask(q.text, K))
      val heapMb = Main.liveHeapMb(spark)
      run.loop(a.seconds, MinCycles, capS = 100)((c, traced) =>
        (0 until 5).foreach(j => question(WarmQuestions + 5 * c + j, traced)))
      val metrics =
        if (!a.trace) run.endToEnd("ask", setupS, heapMb)
        else run.traced() ++
          Layers.ingestChain(spark, tr, tree, a.work.resolve("probe-index"), reps = 3) ++
          Layers.query(spark, tr, session, index,
            questions.filterNot(_.hybrid).map(_.text).take(6))
        Outcome(run.attempted, run.failed, metrics)
    } finally session.close()
  }
}
