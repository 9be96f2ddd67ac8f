package lvbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class LogGenSpec extends AnyFunSuite {
  private val spec = LogGen.TreeSpec(textFiles = 40, textBytes = 200000)

  private def written(seed: Long): Map[String, Seq[Byte]] = {
    val root = Files.createTempDirectory("lvbench-gen")
    try {
      LogGen.write(root, LogGen.tree(seed, spec))
      Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    } finally Main.deleteTree(root)
  }

  test("the same seed writes byte-identical files") {
    val a = written(7)
    assert(a.nonEmpty)
    assert(a == written(7))
    assert(a != written(8))
  }

  test("the same seed gives the same questions") {
    assert(LogGen.questions(7, 200) == LogGen.questions(7, 200))
    assert(LogGen.questions(7, 200) != LogGen.questions(8, 200))
  }

  test("the tree holds pruned, binary and oversize-line files") {
    val files = LogGen.tree(7, spec)
    assert(files.map(_.rel).distinct.size == files.size)
    assert(files.exists(f => f.kind == LogGen.Pruned && f.rel.contains("node_modules/")))
    assert(files.exists(f => f.kind == LogGen.Pruned && f.rel.startsWith(".git/")))
    assert(files.filter(_.kind == LogGen.Binary).forall(_.bytes.take(8192).contains(0: Byte)))
    val longest = files.filter(_.kind == LogGen.Kept)
      .map(f => new String(f.bytes, "UTF-8").split("\n").map(_.length).max).max
    assert(longest > 10 * graft.ingest.Chunker.DefaultChunkSize)
  }

  test("every fifth question is hybrid, and hybrid questions repeat") {
    val qs = LogGen.questions(3, 100)
    assert(qs.zipWithIndex.forall { case (q, i) => q.hybrid == (i % 5 == 4) })
    val hybrid = qs.filter(_.hybrid).map(_.text)
    assert(hybrid.distinct.size < hybrid.size)
  }
}
