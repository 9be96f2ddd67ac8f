package graft

import graft.ingest.Chunker
import graft.functions.CrossHash
import graft.ops.Dedup
import org.scalacheck.{Gen, Prop, Test => SchkTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based pins for the pure row-local kernels — the
  * functions every distributed operator ultimately folds over, so a
  * kernel edge case is a corpus-wide wrong answer. Fixed seed: the
  * suite is deterministic, failures replay. */
class KernelPropertySpec extends AnyFunSuite {

  private def check(label: String, prop: Prop, n: Int = 300): Unit = {
    val res = SchkTest.check(
      SchkTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(Seed(0xC0FFEE42L)), prop)
    assert(res.passed, s"$label: $res")
  }

  private val wordGen: Gen[String] =
    Gen.oneOf(Gen.const(""), Gen.identifier.map(_.take(6)),
      Gen.oneOf("a", "b", "c", "dup"))
  private val textGen: Gen[String] =
    Gen.listOf(wordGen).map(_.mkString(" "))

  test("chunkLines: chunks rejoin to the exact input; only single-line chunks may overflow") {
    val contentGen = for {
      lines <- Gen.listOf(Gen.oneOf(
        Gen.const(""), Gen.identifier, Gen.identifier.map(s => s + " " + s)))
      text <- Gen.const(lines.mkString("\n"))
    } yield text
    check("rejoin", Prop.forAll(contentGen, Gen.choose(1, 40)) { (content, size) =>
      val chunks = Chunker.chunkLines(content, size)
      // no line lost, reordered, or split: the greedy packer only
      // moves SEPARATORS, so rejoining reproduces the input bytes
      chunks.mkString("\n") == content
    })
    check("overflow-is-single-line", Prop.forAll(contentGen, Gen.choose(1, 40)) {
      (content, size) =>
        val chunks = Chunker.chunkLines(content, size)
        // reference quirk Q5: a chunk can exceed the budget only when
        // ONE oversize line forced it — never by accumulation
        chunks.filter(c => c.length + 1 > size).forall(!_.contains("\n"))
    })
  }

  test("md5Hash60: equals the first-15-hex-chars law and stays in [0, 2^60)") {
    val memo = new CrossHash.Memo60
    check("hex-prefix-law", Prop.forAll(Gen.asciiPrintableStr) { s =>
      val h = CrossHash.md5Hash60(s)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = md.map(b => f"$b%02x").mkString.take(15)
      // CrossHash.Memo60 memoizes md5Hash60 for Dedup's tokens,
      // shingles and spans and the lang-id grams — the memo must be
      // value-transparent,
      // on the first (miss) and the second (hit) lookup alike
      h == java.lang.Long.parseLong(hex, 16) && h >= 0L && h < (1L << 60) &&
        memo(s) == h && memo(s) == h
    })
  }

  test("windowHashes: count law and per-window hash == hash of the joined slice") {
    check("window-law", Prop.forAll(textGen, Gen.choose(1, 6)) { (text, l) =>
      val w = Dedup.splitWords(text)
      val hs = Dedup.windowHashes(text, l)
      val countOk = hs.length == math.max(0, w.length - l + 1)
      val valsOk = hs.indices.forall(i =>
        hs(i) == CrossHash.md5Hash60(w.slice(i, i + l).mkString(" ")))
      countOk && valsOk
    })
  }

  test("scrubWords: equals the brute-force interval cover on every input") {
    val startsGen = Gen.listOf(Gen.choose(0, 30)).map(_.sorted)
    check("cover", Prop.forAll(textGen, startsGen, Gen.choose(1, 5)) {
      (text, starts, l) =>
        val w = Dedup.splitWords(text)
        val covered = starts.flatMap(s => s until (s + l)).toSet
        val expect = w.zipWithIndex.collect {
          case (word, i) if !covered.contains(i) => word
        }.mkString(" ")
        Dedup.scrubWords(text, starts, l) == expect
    })
  }

  test("cleanFromPositions: equals the brute-force islands + min-span cover on every input") {
    val posGen = Gen.listOf(Gen.choose(0, 25)).map(_.distinct.sorted)
    check("maximal-cover", Prop.forAll(textGen, posGen,
      Gen.choose(1, 6), Gen.choose(1, 10)) { (text, badPos, atom, minSpan) =>
      // brute force: consecutive flagged starts form an island; an
      // island [s..last] covers words s .. last+atom-1 and cuts only
      // when its covered length clears the min-span
      val w = Dedup.splitWords(text)
      val islands = badPos.foldLeft(List.empty[List[Int]]) {
        case (acc, p) if acc.nonEmpty && p == acc.head.head + 1 =>
          (p :: acc.head) :: acc.tail
        case (acc, p) => List(p) :: acc
      }
      val covered = islands.flatMap { isl =>
        val s = isl.last; val e = isl.head + atom - 1
        if (e - s + 1 >= minSpan) s to e else Nil
      }.toSet
      val expect = w.zipWithIndex.collect {
        case (word, i) if !covered.contains(i) => word
      }.mkString(" ")
      Dedup.cleanFromPositions(text, badPos, atom, minSpan) == expect
    })
  }

  test("tokenizeWord: pieces always concatenate back to the word; merges never add pieces") {
    val wordG = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)
    val mergesG = Gen.listOf(for {
      a <- Gen.oneOf("a", "b", "c", "d", "ab", "cd", "bc")
      b <- Gen.oneOf("a", "b", "c", "d", "ab", "cd", "bc")
    } yield (a, b))
    check("round-trip", Prop.forAll(wordG, mergesG) { (word, merges) =>
      val pieces = graft.ops.Bpe.tokenizeWord(word, merges)
      pieces.mkString("") == word &&
        pieces.forall(_.nonEmpty) &&
        pieces.length <= word.length
    })
  }

  test("maximalCleanOf: equals the brute-force cover at the registered 8/12 grain; duplicated positions are inert") {
    val posGen = Gen.listOf(Gen.choose(0, 45)).map(_.sorted)
    val atom = Dedup.MaximalAtomWords
    val minSpan = Dedup.MaximalMinSpanWords
    check("registered-grain-cover", Prop.forAll(textGen, posGen) { (text, badPosDup) =>
      val badPos = badPosDup.distinct
      val w = Dedup.splitWords(text)
      val islands = badPos.foldLeft(List.empty[List[Int]]) {
        case (acc, p) if acc.nonEmpty && p == acc.head.head + 1 =>
          (p :: acc.head) :: acc.tail
        case (acc, p) => List(p) :: acc
      }
      val covered = islands.flatMap { isl =>
        val s = isl.last; val e = isl.head + atom - 1
        if (e - s + 1 >= minSpan) s to e else Nil
      }.toSet
      val expect = w.zipWithIndex.collect {
        case (word, i) if !covered.contains(i) => word
      }.mkString(" ")
      // the registered-grain kernel matches brute force, AND feeding
      // the duplicated list unchanged gives the same answer (the
      // documented defense-in-depth tolerance)
      Dedup.maximalCleanOf(text, badPos) == expect &&
        Dedup.maximalCleanOf(text, badPosDup) == expect
    })
  }

  test("pack folds: per-bin capacity, token/order conservation, BFD never uses more bins than next-fit") {
    val capGen = Gen.choose(5L, 60L)
    val docsGen = Gen.listOf(Gen.choose(0L, 60L)).map(_.zipWithIndex
      .map { case (n, i) => (i.toLong, n) })
    check("next-fit-laws", Prop.forAll(docsGen, capGen) { (raw, cap) =>
      // the caller truncates to capacity before the fold — mirror it
      val docs = raw.map { case (id, n) => (id, math.min(n, cap)) }
      val out = graft.ops.Curation.nextFitPack(docs, cap)
      val conserve = out.map(t => (t._1, t._3)) == docs
      val seqs = out.map(_._2)
      val contiguous = seqs.isEmpty ||
        (seqs.head == 0L && seqs.zip(seqs.tail).forall {
          case (a, b) => b == a || b == a + 1 })
      val capacity = out.groupBy(_._2).values
        .forall(bin => bin.map(_._3).sum <= cap)
      conserve && contiguous && capacity
    })
    check("bfd-laws", Prop.forAll(docsGen, capGen) { (raw, cap) =>
      val docs = raw.map { case (id, n) => (id, math.min(n, cap)) }
      // the caller pre-sorts n DESC, id ASC
      val sorted = docs.sortBy { case (id, n) => (-n, id) }
      val out = graft.ops.Curation.bfdPack(sorted, cap)
      val conserve = out.map(t => (t._1, t._3)) == sorted
      val capacity = out.groupBy(_._2).values
        .forall(bin => bin.map(_._3).sum <= cap)
      val bfdBins = out.map(_._2).distinct.length
      val nfBins = graft.ops.Curation.nextFitPack(docs, cap)
        .map(_._2).distinct.length
      val lower = {
        val tot = docs.map(_._2).sum
        if (tot == 0) 0L else (tot + cap - 1) / cap
      }
      conserve && capacity && bfdBins <= nfBins &&
        (docs.forall(_._2 == 0) || bfdBins >= lower)
    })
  }

  test("repetitionScanAt: deterministic; the cleaned text is a word-subsequence preserving first occurrences") {
    check("subsequence", Prop.forAll(textGen) { text =>
      val (n1, clean1) = Dedup.repetitionScan(text)
      val (n2, clean2) = Dedup.repetitionScan(text)
      val w = Dedup.splitWords(text)
      val cw = Dedup.splitWords(clean1)
      // subsequence check (multiset-order preserving)
      var i = 0
      var ok = true
      cw.foreach { word =>
        while (i < w.length && w(i) != word) i += 1
        if (i >= w.length) ok = false else i += 1
      }
      n1 == n2 && clean1 == clean2 && (clean1.isEmpty || ok)
    })
  }

  test("Codebook: nearest code, its d2 and the runner-up equal a brute-force fused d2; ties go to the lowest code") {
    // a coarse value grid makes equal distances common; every subspace
    // also copies one code onto its LAST code, so exact ties exist
    val grid = Gen.oneOf(-1.0, -0.5, 0.0, 0.1, 0.25, 1.0 / 3, 0.5, 1.0)
    val caseGen = for {
      m <- Gen.choose(1, 4)
      sd <- Gen.choose(1, 6)
      k <- Gen.choose(1, 8)
      books <- Gen.listOfN(m, Gen.listOfN(k, Gen.listOfN(sd, grid)))
      dups <- Gen.listOfN(m, Gen.choose(0, k - 1))
      x <- Gen.listOfN(m * sd, grid)
    } yield {
      val cb = books.map(_.map(_.toArray).toArray).toArray
      cb.indices.foreach(sp => cb(sp)(k - 1) = cb(sp)(dups(sp)).clone())
      (cb, x.toArray)
    }
    check("nearest", Prop.forAll(caseGen) { case (cb, x) =>
      val book = new graft.ops.Codebook(cb)
      val sd = cb(0)(0).length
      // brute force: the fused form per (subspace, code), written out
      def fused(sp: Int, c: Array[Double]): Double = {
        var xx = 0.0; var xc = 0.0; var cc = 0.0
        for (i <- 0 until sd) {
          val v = x(sp * sd + i)
          xx += v * v; xc += v * c(i).toFloat.toDouble; cc += c(i) * c(i)
        }
        xx - 2.0 * xc + cc
      }
      val want = cb.indices.map { sp =>
        val ds = cb(sp).map(c => fused(sp, c))
        val best = ds.indices.minBy(k => (ds(k), k))
        val second = if (ds.length > 1) ds.sorted.apply(1) else Double.PositiveInfinity
        (best, ds(best), second)
      }
      val codes = new Array[Int](cb.length)
      val err = book.encode(x, codes)
      val perSubspace = cb.indices.forall { sp =>
        val top2 = new Array[Double](2)
        val xx = book.selfDot(x, sp)
        val got = book.nearest(x, sp, xx, top2)
        val (best, d, second) = want(sp)
        got == best && book.d2(x, sp, xx, got) == d && top2(0) == d && top2(1) == second
      }
      perSubspace && codes.toSeq == want.map(_._1) &&
        err == want.map(_._2).foldLeft(0.0)(_ + _)
    })
  }
}
