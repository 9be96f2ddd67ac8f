package lvbench

/** In-memory brute-force retrieval that `ask` answers are checked
  * against. It shares no code with the program: it restates the
  * documented contract — cosine distance accumulated in double over
  * float inputs, rounded to 6 decimals half-up on the shortest decimal
  * form, zero-norm vectors excluded, ties broken on
  * `source NUL chunk_index` — and the reference context format.
  */
object Reference {

  final case class Chunk(source: String, chunkIndex: Int, id: String, text: String, vec: Array[Float]) {
    val uid: String = source + "\u0000" + chunkIndex
    val piece: String = s"File: $source (chunk $chunkIndex)\n$text\n\n"
  }

  final case class Hit(chunk: Chunk, dist: Double)

  val NoContext = "No relevant data found in the database."

  def r6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** None when either vector has zero norm. */
  def dist(a: Array[Float], b: Array[Float]): Option[Double] = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) None else Some(r6(1.0 - dot / denom))
  }

  private val byRank: Ordering[Hit] = Ordering.by((h: Hit) => (h.dist, h.chunk.uid))

  def topK(index: Seq[Chunk], q: Array[Float], k: Int): Seq[Hit] =
    index.flatMap(c => dist(c.vec, q).map(Hit(c, _))).sorted(byRank).take(k)

  /** Context as the reference assembles it: one block per hit, in
    * ascending (distance, id, block) order. */
  def context(hits: Seq[Hit]): String =
    if (hits.isEmpty) NoContext
    else hits.sortBy(h => (h.dist, h.chunk.id, h.chunk.piece)).map(_.chunk.piece).mkString

  /** Split a context back into the chunks it quotes, reading each
    * block's header and checking its text against the index. None when
    * a block names no indexed chunk or its text differs. */
  def parseContext(ctx: String, byKey: Map[(String, Int), Chunk]): Option[Seq[Chunk]] = {
    val header = """(?s)File: (.*?) \(chunk (\d+)\)\n""".r
    var rest = ctx
    val out = Seq.newBuilder[Chunk]
    while (rest.nonEmpty) {
      val m = header.findPrefixMatchOf(rest).getOrElse(return None)
      val c = byKey.getOrElse((m.group(1), m.group(2).toInt), return None)
      if (!rest.startsWith(c.piece)) return None
      out += c
      rest = rest.substring(c.piece.length)
    }
    Some(out.result())
  }
}
