package lvbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded synthetic log tree and question stream. The same seed gives
  * byte-identical files and the same questions on every JVM.
  *
  * Log lines carry lower-case component names and error codes as
  * space-separated tokens, so BM25 (which splits on spaces and does no
  * case folding) has exact tokens to find. No file has a blank line or
  * a trailing newline: no chunk is then whitespace-only, and every kept
  * file reconstructs exactly from its chunks.
  */
object LogGen {

  /** Where a generated file should end up after ingest. */
  sealed trait Kind
  case object Kept extends Kind    // text outside pruned directories
  case object Pruned extends Kind  // under node_modules/ or .git/
  case object Binary extends Kind  // NUL bytes in the first 8 KB

  final case class GenFile(rel: String, bytes: Array[Byte], kind: Kind)

  /** `textBytes` is spread over `textFiles` lognormal file sizes. */
  final case class TreeSpec(textFiles: Int, textBytes: Long)

  final case class Question(text: String, hybrid: Boolean)

  val Components: Vector[String] = Vector(
    "auth-service", "payment-gateway", "ledger", "kafka-consumer",
    "order-api", "inventory", "search-indexer", "session-store",
    "email-worker", "billing-cron", "image-resizer", "edge-proxy",
    "feature-flags", "rate-limiter", "report-builder", "scheduler")
  val Hosts: Vector[String] = Vector.tabulate(24)(i => f"node-$i%02d")
  val Codes: Vector[String] = Vector.tabulate(120)(i => s"e${1000 + 7 * i}")
  private val Levels = Vector("DEBUG", "INFO", "INFO", "INFO", "WARN", "ERROR")
  private val Reasons = Vector("expired-token", "bad-password", "locked", "mfa-timeout")
  /** Words that no template emits: questions made of them match nothing
    * in BM25 and only hash-noise in the vector space. */
  val AbsentWords: Vector[String] = Vector(
    "zebra", "quokka", "marmalade", "nebula", "origami", "tundra",
    "saxophone", "papyrus", "glacier", "kumquat", "obelisk", "walrus")

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))
  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append("0123456789abcdef".charAt(r.nextInt(16))); i += 1 }
    sb.toString
  }

  private def message(r: SplittableRandom, level: String): String =
    r.nextInt(8) match {
      case 0 => s"timeout calling ${pick(r, Components)} after ${r.nextInt(100, 30000)} ms"
      case 1 => s"connection reset by peer host ${pick(r, Hosts)}"
      case 2 => s"retrying request ${hex(r, 6)} attempt ${r.nextInt(1, 6)}"
      case 3 => s"cache miss for key ${hex(r, 8)} shard ${r.nextInt(32)}"
      case 4 => s"user ${r.nextInt(100000)} login failed reason ${pick(r, Reasons)}"
      case 5 => s"disk usage at ${r.nextInt(50, 100)} percent on ${pick(r, Hosts)}"
      case 6 => s"gc pause ${r.nextInt(5, 900)} ms heap ${r.nextInt(256, 8192)} mb"
      case _ =>
        val status = if (level == "ERROR") 500 + r.nextInt(4) else 200 + r.nextInt(5)
        s"request ${hex(r, 6)} completed status $status in ${r.nextInt(1, 5000)} ms"
    }

  /** One log line: `ts LEVEL component code message`. */
  def line(r: SplittableRandom, component: String): String = {
    val level = pick(r, Levels)
    val code = if (level == "WARN" || level == "ERROR") pick(r, Codes) else "ok"
    f"2026-${r.nextInt(1, 13)}%02d-${r.nextInt(1, 29)}%02dT${r.nextInt(24)}%02d:" +
      f"${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.${r.nextInt(1000)}%03dZ " +
      s"$level $component $code ${message(r, level)}"
  }

  private def textFile(r: SplittableRandom, component: String, bytes: Long): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(line(r, component))
    while (sb.length < bytes) sb.append('\n').append(line(r, component))
    sb.toString.getBytes(UTF_8)
  }

  /** Lognormal sizes (sigma 1.4) scaled to sum to `total`, clipped to
    * [200 B, 3 MB]: most files are small, a few are megabytes. The sizes
    * are the distribution's quantiles in a seeded order, so every seed
    * gets the same size mix and only contents and layout vary. */
  private def sizes(r: SplittableRandom, n: Int, total: Long): Array[Long] = {
    val raw = Array.tabulate(n)(i => math.exp(1.4 * probit((i + 0.5) / n)))
    for (i <- n - 1 to 1 by -1) { // Fisher-Yates
      val j = r.nextInt(i + 1)
      val t = raw(i); raw(i) = raw(j); raw(j) = t
    }
    val scale = total / raw.sum
    raw.map(x => math.min(3L << 20, math.max(200L, (x * scale).toLong)))
  }

  /** Standard normal quantile (Acklam's rational approximation,
    * relative error below 1.2e-9). */
  private def probit(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    def tail(q: Double) =
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    if (p < 0.02425) tail(math.sqrt(-2 * math.log(p)))
    else if (p > 1 - 0.02425) -tail(math.sqrt(-2 * math.log(1 - p)))
    else {
      val q = p - 0.5
      val t = q * q
      (((((a(0) * t + a(1)) * t + a(2)) * t + a(3)) * t + a(4)) * t + a(5)) * q /
        (((((b(0) * t + b(1)) * t + b(2)) * t + b(3)) * t + b(4)) * t + 1)
    }
  }

  /** The whole tree in memory, in a fixed order. Besides the text
    * files it holds a pruned `node_modules/` and `.git/` subtree, a few
    * binary files, and one file whose middle line is far longer than a
    * chunk. */
  def tree(seed: Long, spec: TreeSpec): Vector[GenFile] = {
    val r = new SplittableRandom(seed)
    val out = Vector.newBuilder[GenFile]
    sizes(r, spec.textFiles, spec.textBytes).zipWithIndex.foreach { case (n, i) =>
      val c = pick(r, Components)
      val rel = r.nextInt(3) match {
        case 0 => s"services/$c/$c-$i.log"
        case 1 => s"hosts/${pick(r, Hosts)}/syslog.$i"
        case _ => s"apps/$c/trace/$c-$i.txt"
      }
      out += GenFile(rel, textFile(r, c, n), Kept)
    }
    val longLine = Iterator.continually(s"${pick(r, Components)}=${hex(r, 12)}")
      .take(20000).mkString(" ")
    out += GenFile("hosts/dump/oversize-line.log",
      s"${line(r, "edge-proxy")}\npayload $longLine\n${line(r, "edge-proxy")}".getBytes(UTF_8), Kept)
    for (i <- 0 until math.max(4, spec.textFiles / 40)) {
      out += GenFile(s"web/node_modules/pkg-$i/index.js",
        s"module.exports = function f$i() { return ${r.nextInt()} }".getBytes(UTF_8), Pruned)
      out += GenFile(s".git/objects/${hex(r, 2)}/$i${hex(r, 36)}", textFile(r, "ledger", 2000), Pruned)
    }
    for (i <- 0 until 6) {
      val b = new Array[Byte](r.nextInt(2048, 65536))
      r.nextBytes(b)
      b(r.nextInt(1024)) = 0
      out += GenFile(s"assets/blob-$i.bin", b, Binary)
    }
    out.result()
  }

  /** Write `files` under `root`, which must not exist yet. */
  def write(root: Path, files: Seq[GenFile]): Unit =
    files.foreach { f =>
      val p = root.resolve(f.rel)
      Files.createDirectories(p.getParent)
      Files.write(p, f.bytes)
    }

  /** A closed-loop question stream: every fifth question is hybrid.
    * Hybrid questions come from a pool of 8, so they repeat; about one
    * question in ten is made of words absent from the corpus. */
  def questions(seed: Long, n: Int): Vector[Question] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    def ask(): String =
      if (r.nextInt(10) == 0)
        Iterator.continually(pick(r, AbsentWords)).take(3).mkString(" ")
      else r.nextInt(5) match {
        case 0 => s"why does ${pick(r, Components)} fail with ${pick(r, Codes)}"
        case 1 => s"${pick(r, Codes)} timeout calling ${pick(r, Components)}"
        case 2 => s"connection reset by peer host ${pick(r, Hosts)}"
        case 3 => s"gc pause heap in ${pick(r, Components)} on ${pick(r, Hosts)}"
        case _ => s"login failed reason ${pick(r, Reasons)} ${pick(r, Components)}"
      }
    val hybridPool = Vector.fill(8)(ask())
    Vector.tabulate(n)(i =>
      if (i % 5 == 4) Question(pick(r, hybridPool), hybrid = true)
      else Question(ask(), hybrid = false))
  }
}
