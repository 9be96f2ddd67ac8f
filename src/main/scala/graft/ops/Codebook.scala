package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The arithmetic the k-means quantizers share — IVF cells
  * ([[KMeansVec]]), PQ and OPQ codebooks ([[Pq]], [[Opq]]) and the two
  * residual levels of [[Rq]] — written once, because the DuckDB
  * oracles replay every one of them bit for bit.
  *
  * A codebook is `[subspace][code][dim]` doubles; an IVF quantizer or
  * an RQ level is the one-subspace case ([[Codebook.flat]]). The
  * nearest-code distance of subvector `sp` of x against code k is
  * d2 = (x·x − 2·x·float(c)) + Σc², every fold a sequential double sum
  * over the subvector, ties to the LOWEST code (the oracles' `ORDER BY
  * d2, code`). The float-truncated centroids and Σc² are prepared once
  * here, when the closure is built, not per row. */
final class Codebook(val books: Array[Array[Array[Double]]]) extends Serializable {

  /** Subspace count. */
  val m: Int = books.length

  /** Dims per subspace (0 for a codebook with no codes). */
  val sd: Int = books(0).headOption.fold(0)(_.length)

  private val cf = books.map(_.map(_.map(_.toFloat)))
  private val cc = books.map(_.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  })

  /** Σc² of code k in subspace sp, in full doubles. */
  def sumSq(sp: Int, k: Int): Double = cc(sp)(k)

  /** x·x over subvector sp. */
  def selfDot(x: Array[Double], sp: Int): Double = {
    val off = sp * sd
    var xx = 0.0; var i = 0
    while (i < sd) { val v = x(off + i); xx += v * v; i += 1 }
    xx
  }

  /** x·float(c) over subvector sp against code k. */
  def cross(x: Array[Double], sp: Int, k: Int): Double = {
    val c = cf(sp)(k); val off = sp * sd
    var xc = 0.0; var i = 0
    while (i < sd) { xc += x(off + i) * c(i).toDouble; i += 1 }
    xc
  }

  /** The fused distance of subvector sp to code k; `xx` = [[selfDot]]. */
  def d2(x: Array[Double], sp: Int, xx: Double, k: Int): Double = {
    val xc = cross(x, sp, k)
    xx - 2.0 * xc + cc(sp)(k)
  }

  /** The nearest code of subvector sp (strict <, so ties go to the
    * lowest code; 0 when every d2 is NaN). A non-null `top2` receives
    * the nearest and the second-nearest d2 (+∞ where none exists). */
  def nearest(x: Array[Double], sp: Int, xx: Double, top2: Array[Double] = null): Int = {
    var best = 0
    var bd = Double.PositiveInfinity
    var second = Double.PositiveInfinity
    var k = 0
    // the actual codebook size: a corpus with fewer rows than the
    // requested k yields a shorter prefix
    while (k < books(sp).length) {
      val d = d2(x, sp, xx, k)
      if (d < bd) { second = bd; bd = d; best = k }
      else if (d < second) second = d
      k += 1
    }
    if (top2 != null) { top2(0) = bd; top2(1) = second }
    best
  }

  /** Every subspace's nearest code into `codes`; returns the summed d2
    * of the chosen codes, in ascending subspace order. */
  def encode(x: Array[Double], codes: Array[Int]): Double = {
    var err = 0.0
    var sp = 0
    while (sp < m) {
      val xx = selfDot(x, sp)
      val c = nearest(x, sp, xx)
      codes(sp) = c
      err += d2(x, sp, xx, c)
      sp += 1
    }
    err
  }
}

object Codebook {

  /** A one-subspace codebook: k-means centroids, an RQ level. */
  def flat(centroids: Array[Array[Double]]): Codebook = new Codebook(Array(centroids))

  /** An `ARRAY<FLOAT>` row as doubles (exact widening). */
  def doubles(emb: Seq[Float]): Array[Double] = {
    val x = new Array[Double](emb.length)
    var i = 0
    while (i < x.length) { x(i) = emb(i); i += 1 }
    x
  }

  /** The prefix init: vector column `x` of the `k` rows of `df` with
    * the lowest `vec_id`, as doubles (fewer when `df` is shorter). */
  def prefix(df: DataFrame, k: Int, x: Column): Array[Array[Double]] =
    df.orderBy(col("vec_id")).limit(k)
      .select(x.cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** ONE distributed Lloyd update: `codes` holds each row's code per
    * subspace, `x` its vector; per (subspace, code, dim) the new
    * centroid is the r6+DECIMAL-bridged mean of the member
    * subvectors: dims are r6-rounded first, so the double→decimal
    * conversion is exact in both engines (the §8.5 bridge rule), and
    * the sum is order-free, mirrored by the oracles' update CTEs. A
    * code with no members keeps its `init` centroid, and the result
    * has the shape of `init`. Only the codebook's size in doubles
    * reaches the driver. */
  def lloyd(assigned: DataFrame, codes: Column, x: Column,
      init: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    val sd = init(0).headOption.fold(0)(_.length)
    // one row per vector element p: subspace p div sd, dim p % sd
    val sums = assigned
      .select(codes.as("codes"), posexplode(x).as(Seq("p", "v")))
      .select(expr(s"CAST(p div $sd AS INT)").as("s"),
        expr(s"codes[p div $sd]").as("code"), expr(s"p % $sd").as("d"), col("v"))
      .groupBy(col("s"), col("code"), col("d"))
      .agg(OracleMath.dsum(r6(col("v").cast("double"))).as("sum"), count(lit(1)).as("n"))
      .collect()
    val out = init.map(_.map(_.clone()))
    sums.foreach { r =>
      out(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3) / r.getLong(4)
    }
    out
  }
}
