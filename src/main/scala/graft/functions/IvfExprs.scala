package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types._

/** Native expressions for the IVF index-build hot path. */
object IvfExprs {

  /** Two-level (hierarchical) coarse-quantizer assignment — the 100 TB
    * index-BUILD shape. Flat assignment evaluates all C cell-centroid
    * distances per vector; with the standard nCells ≈ √n sizing that
    * makes a full build O(n^1.5) distance evaluations. The standard fix
    * (FAISS-style hierarchical coarse quantization) routes each vector
    * through G group centers first and only scores the winning group's
    * children: G + C/G distances per row (≈ 2√C at G = √C — e.g.
    * C=448, G=21 → 42 vs 448, a 10× build-work cut).
    *
    * Assignment is APPROXIMATE at group boundaries (a vector whose true
    * nearest cell lives in a losing group lands in the winning group's
    * best cell instead). That shifts a cell boundary, not result
    * correctness: IVF serving probes cells by QUERY-to-centroid
    * distance regardless of how residents were assigned, and recall is
    * what the serve-side probe budget buys (measured in
    * `tools/AnnScaleProbe`; agreement law in SimilaritySpec).
    *
    * ONE virtual call per row with a tight primitive loop inside
    * (RefCodegen since r15: the row loop dominates, but a fallback
    * forced the whole serving projection out of whole-stage codegen
    * and interpreted the child subtree). All argmins
    * are deterministic: groups/children are scanned in ascending id
    * order with strict `<`, so ties break to the lowest id.
    *
    * @param groups   (gid, groupCenter) ascending by gid
    * @param children per group (same order as `groups`): (cid, centroid)
    *                 ascending by cid
    */
  case class TwoLevelArgmin(child: Expression,
      groups: Array[(Long, Array[Double])],
      cells: Array[Array[(Long, Array[Double])]],
      probes: Int)
      extends UnaryExpression with RefCodegen {

    override def dataType: DataType = LongType
    override def prettyName: String = "graft_ivf_assign2"

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float|double>, got ${t.simpleString}")
    }

    private def d2(v: Array[Double], c: Array[Double]): Double = {
      val n = math.min(v.length, c.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
      s
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val v = new Array[Double](n)
      var i = 0
      while (i < n) {
        v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      // top-`probes` groups by distance (tiny insertion sort — probes
      // is 2..4; single-group routing mis-assigns any vector whose true
      // cell lives in the runner-up group, which on real corpora is a
      // large boundary population — measured in AnnScaleProbe)
      val p = math.min(probes, groups.length)
      val topG = new Array[Int](p)
      val topD = Array.fill(p)(Double.PositiveInfinity)
      var g = 0
      while (g < groups.length) {
        val d = d2(v, groups(g)._2)
        var j = p - 1
        if (d < topD(j)) {
          while (j > 0 && d < topD(j - 1)) {
            topD(j) = topD(j - 1); topG(j) = topG(j - 1); j -= 1
          }
          topD(j) = d; topG(j) = g
        }
        g += 1
      }
      var bestC = -1L; var bestCd = Double.PositiveInfinity
      var pi = 0
      while (pi < p) {
        val kids = cells(topG(pi))
        var k = 0
        while (k < kids.length) {
          val d = d2(v, kids(k)._2)
          if (d < bestCd || (d == bestCd && kids(k)._1 < bestC)) {
            bestCd = d; bestC = kids(k)._1
          }
          k += 1
        }
        pi += 1
      }
      bestC
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // ---- registry plumbing (the TextHashExprs pattern): the structure
  // rides into the builder as FOLDABLE literal args and is decoded ONCE
  // at build time — the resulting expression carries plain Scala arrays
  // and a single vector child, so per-row eval never touches Catalyst
  // literals.

  private def fold(e: Expression, what: String): ArrayData = {
    require(e.foldable, s"graft_ivf_assign2 $what must be a literal")
    e.eval(null).asInstanceOf[ArrayData]
  }

  private def dbls(a: ArrayData): Array[Double] =
    Array.tabulate(a.numElements())(a.getDouble)

  private val builder: Seq[Expression] => Expression = { cs =>
    val gc = fold(cs(1), "group centers")
    val groups = Array.tabulate(gc.numElements()) { i =>
      (i.toLong, dbls(gc.getArray(i)))
    }
    val cidA = fold(cs(2), "child ids")
    val cvA = fold(cs(3), "child centroids")
    val children = Array.tabulate(cidA.numElements()) { g =>
      val ids = cidA.getArray(g)
      val vecs = cvA.getArray(g)
      Array.tabulate(ids.numElements()) { j =>
        (ids.getLong(j), dbls(vecs.getArray(j)))
      }
    }
    val probes = {
      require(cs(4).foldable, "graft_ivf_assign2 probes must be a literal")
      cs(4).eval(null).asInstanceOf[Int]
    }
    TwoLevelArgmin(cs.head, groups, children, probes)
  }

  /** injectFunction payload — see [[graft.GraftExtensions]]. */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_ivf_assign2"),
      new ExpressionInfo(classOf[TwoLevelArgmin].getName, "graft_ivf_assign2"),
      builder))

  /** `vec` → assigned centroid id through the two-level structure. */
  def assign2(vec: Column, groups: Array[(Long, Array[Double])],
      children: Array[Array[(Long, Array[Double])]],
      probes: Int = 2): Column = {
    graft.GraftExtensions.registerActive()
    require(groups.length == children.length,
      "groups and children must align")
    val gC = array(groups.map(g =>
      array(g._2.map(x => lit(x)).toSeq: _*)).toSeq: _*)
    val cids = array(children.map(ch =>
      array(ch.map(c => lit(c._1)).toSeq: _*)).toSeq: _*)
    val cvs = array(children.map(ch =>
      array(ch.map(c =>
        array(c._2.map(x => lit(x)).toSeq: _*)).toSeq: _*)).toSeq: _*)
    call_function("graft_ivf_assign2", vec, gC, cids, cvs, lit(probes))
  }
}
