// Usage: spark-shell -i tools/bench_one.scala with -Dbench.names=a,b,c
// Times named queries with the Bench protocol (warmup + 2 passes, min).
val names = sys.props.getOrElse("bench.names", "dedup_jaccard_prefix").split(",").toSeq
val sfDir = sys.props.getOrElse("bench.sf", "/root/testdata/sf0.1")
import graft.Bench.runFull
val qs = graft.SparkEntry.queries
for (n <- names) {
  val fn = qs(n)
  val pre = graft.Bench.setupFor(n)
  pre(spark, sfDir)
  runFull(fn(spark, sfDir)) // warmup
  val times = (1 to 2).map { _ =>
    pre(spark, sfDir)
    val t0 = System.nanoTime(); runFull(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9
  }
  println(f"[bench-one] $n%-28s min=${times.min}%7.3f  passes=${times.map(t => f"$t%.3f").mkString(",")}")
}
System.exit(0)
