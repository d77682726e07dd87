package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

/** Native codegen dot product over two ArrayType(DoubleType) columns.
  *
  * The composable formulation (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * is correct but its higher-order functions are CodegenFallback — an
  * interpreted per-element closure allocating an intermediate array, which
  * dominates similarity-search runtime. This expression stays inside
  * whole-stage codegen as a tight primitive loop and preserves the exact
  * left-to-right summation order (bit-identical results to the fold and to
  * the DuckDB oracle's list_dot_product).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must already be ArrayType(DoubleType) — callers cast up front
  // (Similarity.asDouble); no ExpectsInputTypes (private[sql] in Spark 4)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest candidate in a driver-supplied centroid set: embedding →
  * struct(d2 DOUBLE, cid INT) — the minimum squared Euclidean distance
  * over the set and the index achieving it (ties → lowest index).
  *
  * Why a custom expression (the [[graft.functions.BandedSig]] lesson,
  * measured again on k-means‖ round 13): folding each candidate in as a
  * `least(d2To(c1), …, d2To(cB))` literal chain works for a handful of
  * candidates but at B ≈ 2k the generated method exceeds Janino's limits,
  * whole-stage codegen bails, and every row pays B interpreted
  * CreateArray-of-64-literals allocations — measured 87 s vs the ++
  * init's 19 s at k=64 on 20k vectors. Here the flattened candidate
  * matrix is ONE reference object and the generated code is a
  * constant-size double loop; B scales to the tens of thousands the
  * k-means‖ recluster is built for.
  *
  * Case-class equality is reference equality on the matrix — fine for
  * the per-round fresh instances the init builds; do not memoize plans
  * across distinct matrices.
  *
  * Non-finite inputs are OUT OF CONTRACT here (a NaN-laced vector
  * returns (Double.MaxValue, 0), not a propagated NaN) — the k-means
  * callers feed finite embeddings only. [[NearestInSetDot]], whose
  * contract is bit-exactness with the crossJoin min(struct), does
  * propagate non-finites faithfully.
  */
case class NearestInSet(child: Expression, cands: Array[Double], dim: Int)
    extends UnaryExpression with PqArrayInput {
  require(dim > 0 && cands.nonEmpty && cands.length % dim == 0,
    s"candidate matrix must be a nonempty multiple of dim=$dim (got ${cands.length})")

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def prettyName: String = "nearest_in_set"

  private def nCands = cands.length / dim

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val x = getter(a)
    // a shorter input would silently score PARTIAL distances (wrong argmin,
    // wrong d2) — fail loudly like the PqArrayInput type check (ADVICE r13)
    if (a.numElements() < dim)
      throw new IllegalArgumentException(s"$prettyName: input vector has " +
        s"${a.numElements()} elements, candidate dim is $dim")
    var best = Double.MaxValue
    var bestC = 0
    var c = 0
    while (c < nCands) {
      val base = c * dim
      var s = 0.0
      var d = 0
      while (d < dim) { val t = x(d) - cands(base + d); s += t * t; d += 1 }
      if (s < best) { best = s; bestC = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cm = ctx.addReferenceObj("nearestCands", cands, "double[]")
      val (best, bestC, c, d, s, t, base) = (
        ctx.freshName("best"), ctx.freshName("bestC"),
        ctx.freshName("c"), ctx.freshName("d"), ctx.freshName("s"),
        ctx.freshName("t"), ctx.freshName("base"))
      s"""
         |if ($arr.numElements() < $dim) {
         |  throw new IllegalArgumentException("$prettyName: input vector has "
         |    + $arr.numElements() + " elements, candidate dim is $dim");
         |}
         |double $best = Double.MAX_VALUE; int $bestC = 0;
         |for (int $c = 0; $c < $nCands; $c++) {
         |  int $base = $c * $dim;
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    double $t = ${genGet(arr, d)} - $cm[$base + $d];
         |    $s += $t * $t;
         |  }
         |  if ($s < $best) { $best = $s; $bestC = $c; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$best, $bestC});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[NearestInSet]] in the DOT-FORM float evaluation the Lloyd E-step's
  * crossJoin shape uses: d2 = (Σx² − 2.0·Σx·c) + Σc², each sum a
  * sequential left-to-right fold ([[DotProduct]]'s order), NOT the
  * direct Σ(x−c)². The two differ in the last ulp, and the E-step's d2
  * feeds oracle-hash-checked outputs (q104's dist column, boundary
  * assignments) — this variant is the drop-in that keeps every oracle
  * bit-exact while removing the ×k row multiplication and the argmin
  * aggregate (SCALING.md "Lloyd E-step shape": 12.2 s → 2.7 s per
  * iteration at k=1024 on
  * 20k vectors). Same tie rule as the min(struct) it replaces: strict <
  * over candidates in index order ≡ lowest cid when the caller feeds the
  * matrix cid-sorted. Σc² per candidate is precomputed once
  * (deterministic — recomputed after deserialization). Non-finite
  * inputs stay in contract too: the argmin loop seeds with candidate 0
  * and replaces on NaN-greatest strictly-smaller — exactly the
  * min(struct) ordering — so a NaN-laced vector (every d2 NaN) returns
  * (NaN, cid 0) and an all-+Inf sweep returns (Inf, cid 0), never a
  * fabricated finite distance.
  */
case class NearestInSetDot(child: Expression, cands: Array[Double], dim: Int)
    extends UnaryExpression with PqArrayInput {
  require(dim > 0 && cands.nonEmpty && cands.length % dim == 0,
    s"candidate matrix must be a nonempty multiple of dim=$dim (got ${cands.length})")

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def prettyName: String = "nearest_in_set_dot"

  private def nCands = cands.length / dim

  @transient private lazy val ccs: Array[Double] = {
    val a = new Array[Double](nCands)
    var c = 0
    while (c < nCands) {
      val base = c * dim
      var s = 0.0
      var d = 0
      while (d < dim) { val t = cands(base + d); s += t * t; d += 1 }
      a(c) = s
      c += 1
    }
    a
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val x = getter(a)
    if (a.numElements() < dim)
      throw new IllegalArgumentException(s"$prettyName: input vector has " +
        s"${a.numElements()} elements, candidate dim is $dim")
    var xx = 0.0
    var d = 0
    while (d < dim) { val t = x(d); xx += t * t; d += 1 }
    // seed with candidate 0, then replace on "strictly smaller under
    // Spark's NaN-greatest ordering" (d2 < best, or best is NaN and d2
    // isn't) — the exact min(struct(d2, cid)) semantics, so non-finite
    // inputs stay in contract: an all-NaN sweep returns (NaN, cid 0),
    // all-+Inf returns (Inf, cid 0), never a fabricated MaxValue. A
    // MaxValue-init strict-< loop would silently return
    // (Double.MaxValue, 0) on a NaN-laced vector.
    var best = 0.0
    var bestC = 0
    var c = 0
    while (c < nCands) {
      val base = c * dim
      var xc = 0.0
      d = 0
      while (d < dim) { xc += x(d) * cands(base + d); d += 1 }
      val d2 = (xx - 2.0 * xc) + ccs(c)
      if (c == 0 || d2 < best || (best != best && d2 == d2)) {
        best = d2; bestC = c
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cm = ctx.addReferenceObj("nearestDotCands", cands, "double[]")
      val cc = ctx.addReferenceObj("nearestDotCcs", ccs, "double[]")
      val (xx, best, bestC, c, d, xc, t, base, d2) = (
        ctx.freshName("xx"), ctx.freshName("best"), ctx.freshName("bestC"),
        ctx.freshName("c"), ctx.freshName("d"), ctx.freshName("xc"),
        ctx.freshName("t"), ctx.freshName("base"), ctx.freshName("d2"))
      s"""
         |if ($arr.numElements() < $dim) {
         |  throw new IllegalArgumentException("$prettyName: input vector has "
         |    + $arr.numElements() + " elements, candidate dim is $dim");
         |}
         |double $xx = 0.0;
         |for (int $d = 0; $d < $dim; $d++) {
         |  double $t = ${genGet(arr, d)};
         |  $xx += $t * $t;
         |}
         |// seed with candidate 0, replace on NaN-greatest strictly-smaller —
         |// the exact min(struct) ordering; all-NaN input propagates
         |// (NaN, cid 0), never a fabricated MAX_VALUE distance
         |double $best = 0.0; int $bestC = 0;
         |for (int $c = 0; $c < $nCands; $c++) {
         |  int $base = $c * $dim;
         |  double $xc = 0.0;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    $xc += ${genGet(arr, d)} * $cm[$base + $d];
         |  }
         |  double $d2 = ($xx - 2.0 * $xc) + $cc[$c];
         |  if ($c == 0 || $d2 < $best || ($best != $best && $d2 == $d2)) {
         |    $best = $d2; $bestC = $c;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$best, $bestC});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column-level dot product backed by the codegen expression. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column-level nearest-candidate struct(d2, cid) over a flattened
    * driver-side candidate matrix (row-major, `dim` doubles per row).
    */
  def nearestInSet(v: Column, cands: Array[Double], dim: Int): Column =
    GraftBridge.column(NearestInSet(GraftBridge.expression(v), cands, dim))

  /** [[nearestInSet]] in the crossJoin-E-step's dot-form float order —
    * bit-exact drop-in for `dot(v,v) − 2·dot(v,c) + dot(c,c)` argmin.
    */
  def nearestInSetDot(v: Column, cands: Array[Double], dim: Int): Column =
    GraftBridge.column(NearestInSetDot(GraftBridge.expression(v), cands, dim))
}
