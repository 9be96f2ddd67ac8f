package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is listed in `failures.txt` and makes the run exit 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    // Dev-side focus filter (driver never sets this): comma-separated
    // query names to dump, for fast single-query oracle iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = run(spark, sfDir, outDir, only)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed, listed in $outDir/failures.txt")
      sys.exit(1)
    }
  }

  /** Dump every registered query (or those in `only`) under `outDir`,
    * one parquet dir per query, and return the `(name, message)` of
    * each query that threw. A non-empty result is also written to
    * `outDir/failures.txt`, one `name<TAB>message` line per query; a
    * stale list from an earlier run is removed first. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[(String, String)] = {
    Files.createDirectories(Paths.get(outDir))
    val failuresFile = Paths.get(outDir, "failures.txt")
    Files.deleteIfExists(failuresFile)
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.toString).replaceAll("\\s+", " ").trim
          System.err.println(s"[verify] $name failed: $msg")
          Some(name -> msg)
        }
      }
    if (failures.nonEmpty)
      Files.writeString(failuresFile,
        failures.map { case (n, m) => s"$n\t$m\n" }.mkString)
    failures
  }
}
