package graft

/** Optimization-round instrumentation (not part of the library
  * surface): for each named query, write `explain("formatted")` to
  * a plans dir and print a one-line timing split — plan build
  * (analysis+optimization+physical planning) vs two executed passes
  * — plus plan-shape counters (Exchange / scans / Window / UDF
  * nodes). Usage:
  *
  *   runMain graft.PlanDump <outDir> [sfDir] [q1,q2,...]
  *
  * With no query list, runs the whole registry. Same session
  * ([[GraftSession]]) as [[Bench]] so the numbers are comparable.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val sfDir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    import Bench.runFull
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val pre = Bench.setupFor(name)
      try {
        pre(spark, sfDir)
        // planning time: force analysis + optimization + physical plan
        val tp0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val _ = df.queryExecution.executedPlan
        val planS = (System.nanoTime() - tp0) / 1e9
        // Catalyst phase split for the FINAL DataFrame (analysis /
        // optimization / physical planning, ms). The remainder of
        // planS is intermediate-frame planning plus eager work run
        // inside the query builder (checkpoints, memoized fits).
        // tracker.phases is an unordered map — sort by key so the log
        // line is diff-stable across runs
        val phases = df.queryExecution.tracker.phases.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${v.durationMs}ms" }.mkString(" ")
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          formatted.getBytes("UTF-8"))
        val planOnly = sys.env.get("GRAFT_PLAN_ONLY").contains("1")
        // warmup + two timed passes (the bench protocol)
        if (!planOnly) runFull(fn(spark, sfDir))
        def once(): Double = {
          if (planOnly) return -1.0
          pre(spark, sfDir)
          val t0 = System.nanoTime()
          runFull(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        val a = once(); val b = once()
        def cnt(p: String): Int = p.r.findAllMatchIn(formatted).size
        println(f"[plan] $name%-28s plan=$planS%7.3fs run=${math.min(a, b)}%7.3fs " +
          f"(a=$a%6.3f b=$b%6.3f) exch=${cnt("Exchange")}%2d reuse=${cnt("ReusedExchange")}%2d " +
          f"scan=${cnt("Scan parquet")}%2d win=${cnt("\\bWindow\\b")}%2d " +
          f"udf=${cnt("BatchEvalPython|ScalaUDF")}%2d sort=${cnt("\\bSort\\b")}%2d phases: $phases")
      } catch {
        case e: Throwable =>
          println(s"[plan] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
