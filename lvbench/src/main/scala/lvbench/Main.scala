package lvbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

object Json {
  def num(x: Double): String =
    if (x.isWhole && math.abs(x) < 1e15) x.toLong.toString else java.lang.Double.toString(x)
  def obj(fields: Seq[(String, Double)]): String =
    fields.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
}

/** A metric as the result line reports it. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: operations checked, and its metrics. */
final case class Outcome(attempted: Int, failed: Int, metrics: Seq[Metric])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`. */
object Main {

  val Workloads: Map[String, (SparkSession, Args, Tracer) => Outcome] = Map(
    "index_tree" -> IndexTree.run,
    "ask_session" -> AskWorkload.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t") },
      Paths.get(get("work")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** Configured like graft.Bench's session: one core per local thread,
    * shuffle partitions = cores, no scan-split floor, AQE, UTC. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  /** Heap the program holds — caches, cached blocks, leaks — after a
    * full collection, in MB. Taken once set-up and warm-up are done:
    * later the engine's job history grows with however many operations
    * fit in the run, which would make the figure depend on speed. */
  def liveHeapMb(spark: SparkSession): Double = {
    // the engine's status listeners retain job history as their events
    // arrive; let every posted event arrive first
    org.apache.spark.ListenerDrain(spark.sparkContext)
    // a first collection lets the engine's cleaner drop the blocks of
    // broadcasts and shuffles nobody references; the second frees them
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Outside the work directory, which the next run clears. */
  def tracePath(a: Args): Path = a.work.resolveSibling("traces").resolve(s"${a.workload}-${a.seed}.json")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, a.trace)
    val out =
      try {
        val o = Workloads(a.workload)(spark, a, tracer)
        if (a.trace) tracer.write(tracePath(a), tracer.counts())
        o
      } finally spark.stop()
    val metrics = out.metrics ++
      (if (a.trace) Seq(Metric("spark.session_start_s", sessionS, "s"),
        Metric("jvm.peak_rss_mb", peakRssMb(), "MB"))
       else Nil)
    val body = metrics.map(m => s""""${m.name}": {"value": ${Json.num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {${body.mkString(", ")}}}""")
  }
}
