package lvbench

import graft.Graft
import graft.index.VectorIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

/** `index_tree`: repeated `Graft.index` passes over one seeded log
  * tree, each overwriting the same index path — the write side of the
  * vector index, almost all `ingest`/`embed`/`index` work. */
object IndexTree {

  val Spec: LogGen.TreeSpec = LogGen.TreeSpec(textFiles = 200, textBytes = 3L << 20)
  val MinPasses = 20 // the median needs ten samples beyond it

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Source → SHA-256 of the content ingest must keep. */
  def expected(files: Seq[LogGen.GenFile]): Map[String, String] =
    files.collect { case f if f.kind == LogGen.Kept => f.rel -> sha256(f.bytes) }.toMap

  /** Every kept file, and nothing else, reconstructs exactly from its
    * chunks in `chunk_index` order; every vector is 64-dim with unit
    * norm or all zero. */
  def check(spark: SparkSession, index: Path, want: Map[String, String]): Boolean = {
    val norm2 = aggregate(col("embedding"), lit(0.0), (a, x) => a + x.cast("double") * x.cast("double"))
    val rows = VectorIndex.readVectors(spark, index.toString)
      .select(col("source"), col("chunk_index"), col("text"), size(col("embedding")), norm2)
      .collect()
    val vectorsOk = rows.forall { r =>
      val n2 = r.getDouble(4)
      r.getInt(3) == 64 && (math.abs(n2 - 1.0) < 1e-4 || n2 == 0.0)
    }
    val got = rows.groupBy(_.getString(0)).map { case (src, rs) =>
      src -> sha256(rs.sortBy(_.getInt(1)).map(_.getString(2)).mkString("\n").getBytes(UTF_8))
    }
    vectorsOk && got == want
  }

  def run(spark: SparkSession, a: Args, tr: Tracer): Outcome = {
    val tree = a.work.resolve("tree")
    val index = a.work.resolve("index")
    val run = new Runner(tr)
    val files = LogGen.tree(a.seed, Spec)
    LogGen.write(tree, files)
    val want = expected(files)
    def pass(i: Int, traced: Boolean): Unit =
      run.op("graft.index", i, traced)(Graft.index(spark, tree.toString, index.toString))(
        _ => check(spark, index, want))
    // set-up, three times: a first pass in this JVM
    val setupS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Graft.index(spark, tree.toString, index.toString)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[lvbench] set-up times (s): ${setupS.mkString(" ")}")
    val heapMb = Main.liveHeapMb(spark)
    run.loop(a.seconds, MinPasses, capS = 120)(pass)
    val metrics =
      if (!a.trace) run.endToEnd("graft.index", setupS, heapMb)
      else {
        val session = Graft.open(spark, index.toString)
        try {
          session.ask("warm the session cache")
          run.traced() ++
            Layers.ingestChain(spark, tr, tree, a.work.resolve("probe-index"), reps = 3) ++
            Layers.query(spark, tr, session, index,
              LogGen.questions(a.seed, 60).filterNot(_.hybrid).map(_.text).take(6))
        } finally session.close()
      }
    Outcome(run.attempted, run.failed, metrics)
  }
}
