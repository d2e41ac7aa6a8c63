package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{udaf => mkUdaf}

/** Distributed PCA over an embedding column (`Array[Float]`) — the
  * compression/whitening stage of embedding pipelines (ANN storage
  * reduction, SemDeDup-style pre-clustering, redundancy analysis).
  *
  * Decomposition of the work by scale:
  *
  *  1. [[gramMatrix]] — the only corpus-scale pass: the uncentered
  *     second-moment matrix XᵀX accumulated by a real `Aggregator` with a
  *     bounded upper-triangle `Array[Long]` buffer. Catalyst applies
  *     partial (map-side) aggregation, so each task reduces its slice to
  *     ONE dim(dim+1)/2-long row before the single exchange; per-row
  *     products are 1e-6 long-quantized (round half away from zero, the
  *     engine-portable convention of `Classifier`) so the integer sum is
  *     exact under any partitioning and any merge order.
  *  2. [[powerEigen]] — driver-side top-k eigenpairs of the collected
  *     dim×dim matrix (4096 doubles at dim=64 — trivially bounded) by
  *     fixed-iteration POWER ITERATION with deflation (Mises–Pollaczek-
  *     Geiringer 1929; Golub & Van Loan §7.3). Procedurally deterministic:
  *     a fixed start vector (1/√dim), a fixed iteration count, and all
  *     inner sums LEFT-TO-RIGHT by ascending index — exactly the ordered
  *     sums a SQL oracle reproduces, so every intermediate double is
  *     bit-identical across engines.
  *  3. [[project]] — the top-k components applied as a literal-matrix
  *     map-side projection (k native codegen dot products, zero shuffle),
  *     the same serving shape as the JL random projection.
  *
  * Uncentered by design: the eigensolve runs on XᵀX, not the covariance
  * (LSA convention). For mean-centered PCA subtract the mean upstream
  * with one decimal-sum aggregate and a vector-subtract projection; the
  * oracle contract here stays simpler without it.
  *
  * No counterpart in the reference (EO-only, `/root/reference/
  * openeo_odc_driver/openeo_odc_driver.py` has no embedding ops); this is
  * part of the training-data tier the brief makes first-class.
  */
object Pca {

  /** Round half away from zero — matches both Spark's `round(_, 0)` and
    * DuckDB's `round(x, 0)` on the quantization boundary. */
  private def qround(x: Double): Long =
    if (x >= 0) math.round(x) else -math.round(-x)

  private final class GramAgg(dim: Int)
      extends Aggregator[Seq[Float], Array[Long], Seq[Long]] {
    private val n = dim * (dim + 1) / 2
    def zero: Array[Long] = new Array[Long](n)
    def reduce(buf: Array[Long], v: Seq[Float]): Array[Long] = {
      val a = v.toArray
      var i = 0; var idx = 0
      while (i < dim) {
        val vi = a(i).toDouble
        var j = i
        while (j < dim) {
          buf(idx) += qround(vi * a(j).toDouble * 1e6)
          idx += 1; j += 1
        }
        i += 1
      }
      buf
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) { b1(i) += b2(i); i += 1 }
      b1
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** One-pass distributed Gram (second moment) matrix: rows
    * (i, j, gq) for i <= j, where gq = Σ_rows round(vᵢ·vⱼ·1e6) — the
    * exact integer the oracle's quantized SQL sum reproduces. */
  def gramMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val agg = mkUdaf(new GramAgg(dim))
    val one = df.agg(agg(col(vecCol)).as("_g"))
    val nTri = dim * (dim + 1) / 2
    val iIdx = Array.ofDim[Int](nTri); val jIdx = Array.ofDim[Int](nTri)
    var i = 0; var k = 0
    while (i < dim) {
      var j = i
      while (j < dim) { iIdx(k) = i; jIdx(k) = j; k += 1; j += 1 }
      i += 1
    }
    one.select(posexplode(col("_g")).as(Seq("_p", "gq")))
      .select(
        element_at(typedLit(iIdx.toSeq), col("_p") + 1).as("i"),
        element_at(typedLit(jIdx.toSeq), col("_p") + 1).as("j"),
        col("gq"))
  }

  /** Collected symmetric Gram as driver doubles (gq / 1e6). */
  def collectGram(gram: DataFrame, dim: Int): Array[Array[Double]] = {
    val a = Array.ofDim[Double](dim, dim)
    gram.select("i", "j", "gq").collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val v = r.getLong(2).toDouble / 1e6
      a(i)(j) = v; a(j)(i) = v
    }
    a
  }

  /** Top-k eigenpairs of a symmetric matrix by fixed-iteration power
    * iteration with deflation. Returns (eigenvalue, unit eigenvector)
    * in extraction order. Every sum runs left-to-right by ascending
    * index — the exact order of the oracle's `ORDER BY` sums. */
  def powerEigen(a0: Array[Array[Double]], k: Int,
      iters: Int): Seq[(Double, Array[Double])] = {
    val dim = a0.length
    val a = a0.map(_.clone())
    (0 until k).map { _ =>
      var w = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      var t = 0
      while (t < iters) {
        val u = Array.tabulate(dim) { i =>
          var s = 0.0; var j = 0
          while (j < dim) { s += a(i)(j) * w(j); j += 1 }
          s
        }
        var n2 = 0.0; var i = 0
        while (i < dim) { n2 += u(i) * u(i); i += 1 }
        val nrm = math.sqrt(n2)
        w = if (nrm == 0.0) u else u.map(_ / nrm)
        t += 1
      }
      // Rayleigh quotient λ = wᵀAw (w is unit after the last normalize)
      var lam = 0.0
      var i = 0
      while (i < dim) {
        var s = 0.0; var j = 0
        while (j < dim) { s += a(i)(j) * w(j); j += 1 }
        lam += w(i) * s
        i += 1
      }
      // deflate: A ← A − λ w wᵀ
      i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { a(i)(j) -= lam * w(i) * w(j); j += 1 }
        i += 1
      }
      (lam, w)
    }
  }

  /** Literal-matrix projection: one output column of k component scores
    * per row — k codegen dot products, zero shuffle. */
  def project(df: DataFrame, idCol: String, vecCol: String,
      components: Seq[Array[Double]]): DataFrame = {
    val pcs = components.map { c =>
      Similarity.dot(col(vecCol), array(c.toIndexedSeq.map(lit): _*))
    }
    df.select(col(idCol), array(pcs: _*).as("pc"))
  }

  /** End-to-end PCA projection: Gram pass → driver eigensolve → literal
    * projection. `iters` is part of the result's definition (the oracle
    * replays the same fixed iteration count), not a convergence knob. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int = 2, iters: Int = 8): DataFrame = {
    val gram = collectGram(gramMatrix(df, vecCol, dim), dim)
    val eig = powerEigen(gram, k, iters)
    project(df, idCol, vecCol, eig.map(_._2))
  }

  /** PCA-WHITENED projection: each component score divided by √λ so all
    * retained directions carry unit second moment — the standard
    * preconditioning before cosine/Euclidean comparisons when leading
    * components would otherwise dominate (and the first half of ZCA; the
    * rotate-back is a k×k literal matmul on top of this if basis
    * alignment matters). The divide happens AFTER the dot-product fold
    * (score/√λ, not dot(v, w/√λ)) so the fold itself stays bit-identical
    * to [[pcaProject]] and the oracle's replayed λ divides the same
    * double. Still a pure map-side literal projection — zero shuffle
    * beyond the one Gram exchange. */
  def pcaWhitenProject(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 2, iters: Int = 8): DataFrame = {
    val gram = collectGram(gramMatrix(df, vecCol, dim), dim)
    val eig = powerEigen(gram, k, iters)
    val pcs = eig.map { case (lam, w) =>
      Similarity.dot(col(vecCol), array(w.toIndexedSeq.map(lit): _*)) /
        lit(math.sqrt(lam))
    }
    df.select(col(idCol), array(pcs: _*).as("wpc"))
  }
}
