package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for cosine similarity over `array<float>`
  * (SURVEY §2 D5/E1/E2 hot path).
  *
  * Why not a UDF or the `zip_with`/`aggregate` higher-order form: HOFs and
  * UDFs evaluate through interpreted lambda machinery per element; this
  * expression participates in whole-stage codegen (`doGenCode` emits a
  * tight primitive loop over the unsafe array data — no boxing, no
  * per-element virtual calls). That ordering is exactly the preference
  * ladder the engine follows: built-in functions, then a native
  * `Expression`, and a UDF only as a last resort.
  *
  * Determinism contract (SURVEY §4 rule 3): elements are widened
  * float→double BEFORE multiplication and accumulated left-to-right, and
  * the result is `dot / (sqrt(Σx²)·sqrt(Σy²))` — bit-identical to both the
  * HOF formulation ([[VectorFunctions.cosineHof]]) and the DuckDB oracle's
  * `list_reduce` fold, so the three agree exactly.
  */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be array<float>; VectorFunctions.cosine casts explicitly
  // (ExpectsInputTypes would be the idiomatic check, but its signature
  // types are private[sql] — not implementable outside Spark's packages).
  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    val n = math.min(nx, ny)
    var dot = 0.0; var sxx = 0.0; var syy = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; sxx += xi * xi; syy += yi * yi
      i += 1
    }
    // norms run over each full array (the dot zip stops at the shorter)
    while (i < nx) { val xi = x.getFloat(i).toDouble; sxx += xi * xi; i += 1 }
    i = n
    while (i < ny) { val yi = y.getFloat(i).toDouble; syy += yi * yi; i += 1 }
    dot / (math.sqrt(sxx) * math.sqrt(syy))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xa, ya) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val sxx = ctx.freshName("sxx")
      val syy = ctx.freshName("syy")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($xa.numElements(), $ya.numElements());
         |double $dot = 0.0, $sxx = 0.0, $syy = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $xa.getFloat($i);
         |  double $yi = (double) $ya.getFloat($i);
         |  $dot += $xi * $yi; $sxx += $xi * $xi; $syy += $yi * $yi;
         |}
         |for (int $i = $n; $i < $xa.numElements(); $i++) {
         |  double $xi = (double) $xa.getFloat($i); $sxx += $xi * $xi;
         |}
         |for (int $i = $n; $i < $ya.numElements(); $i++) {
         |  double $yi = (double) $ya.getFloat($i); $syy += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($sxx) * java.lang.Math.sqrt($syy));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineF32 =
    copy(left = newLeft, right = newRight)
}

/** Native random-hyperplane LSH bucket over `array<float>` (SURVEY §2 E2
  * hot path): bit p of the result is the sign of Σᵢ w(p,i)·xᵢ, with the
  * deterministic LCG weight w(p,i) = ((1103515245·(p·dims+i) + 12345)
  * mod 2001) − 1000 — the exact arithmetic of the HOF form
  * ([[VectorFunctions.lshBucketHof]]) and its DuckDB twin, computed in a
  * tight codegen loop instead of per-element interpreted lambdas
  * (the HOF form re-enters the lambda machinery nPlanes·dims times per
  * row). Accumulation is left-to-right double, so all three agree
  * bit-exactly. Children: (vector, dims, nPlanes). */
case class LshBucketF32(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(v: Any, d: Any, p: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val dims = d.asInstanceOf[Int]
    val nPlanes = p.asInstanceOf[Int]
    val n = x.numElements()
    var bucket = 0L
    var pl = 0
    while (pl < nPlanes) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val w = ((1103515245L * (pl.toLong * dims + i) + 12345L) % 2001L) - 1000L
        acc += w.toDouble * x.getFloat(i).toDouble
        i += 1
      }
      if (acc > 0.0) bucket |= 1L << pl
      pl += 1
    }
    bucket
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (va, da, pa) => {
      val pl = ctx.freshName("pl")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val w = ctx.freshName("w")
      val bkt = ctx.freshName("bkt")
      s"""
         |long $bkt = 0L;
         |for (int $pl = 0; $pl < $pa; $pl++) {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $va.numElements(); $i++) {
         |    long $w = ((1103515245L * ((long) $pl * $da + $i) + 12345L) % 2001L) - 1000L;
         |    $acc += (double) $w * (double) $va.getFloat($i);
         |  }
         |  if ($acc > 0.0) $bkt |= 1L << $pl;
         |}
         |${ev.value} = $bkt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LshBucketF32 =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native squared-L2 distance over two `array<double>` columns (E10 PQ
  * assignment hot path). Same arithmetic as [[VectorFunctions.l2sq]]'s
  * HOF fold — per element d = x−y widened/left-to-right, acc += d·d —
  * so results are bit-identical (VecExprSpec asserts it); the HOF form
  * pays interpreted lambda machinery per element × per candidate
  * centroid (r16 sf10: 128 folds/row made a 32k-row assignment cost
  * ~10 s). Zip stops at the shorter array, matching `zip_with` over
  * equal-length inputs (PQ subspaces are fixed-width). */
case class L2SqF64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_l2sq"

  // SQL-registered (graft_l2sq), so arbitrary child types can reach it:
  // getDouble over a non-double array would silently return garbage.
  // ExpectsInputTypes is private[sql]; checkInputDataTypes is the
  // overridable public seam (r16 ADVICE).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    Seq(left, right).zipWithIndex.collectFirst {
      case (c, i) if !c.dataType.isInstanceOf[ArrayType] ||
        c.dataType.asInstanceOf[ArrayType].elementType != DoubleType =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_l2sq argument ${i + 1} must be array<double>, got ${c.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  // A null element makes the distance null, as in the HOF twin's fold
  // (acc + null·null is null) and UnitF32. The element check is
  // emitted only for an argument whose type admits null elements, so a
  // containsNull=false input keeps the bare loop.
  private def elemNulls(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  @transient private lazy val checkLeft = elemNulls(left)
  @transient private lazy val checkRight = elemNulls(right)

  override def nullable: Boolean =
    left.nullable || right.nullable || checkLeft || checkRight

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((checkLeft && x.isNullAt(i)) || (checkRight && y.isNullAt(i))) return null
      val di = x.getDouble(i) - y.getDouble(i)
      acc += di * di
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xa, ya) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val di = ctx.freshName("di")
      val nullElem = Seq(checkLeft -> xa, checkRight -> ya)
        .collect { case (true, arr) => s"$arr.isNullAt($i)" }
      val guard =
        if (nullElem.isEmpty) ""
        else s"if (${nullElem.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = java.lang.Math.min($xa.numElements(), $ya.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $guard
         |  double $di = $xa.getDouble($i) - $ya.getDouble($i);
         |  $acc += $di * $di;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqF64 =
    copy(left = newLeft, right = newRight)
}

/** Native unit-normalization of an `array<float>` vector, float output
  * (E3/F8 trainer hot path). Bit-identical to the HOF chain
  * `unitVia(v, norm(v)).cast("array<float>")` (SimilaritySpec asserts
  * it): per element xd = (double)x[i]; n = √(Σ xd², left-to-right);
  * out[i] = (float)(xd / n) — the same widen → divide → narrow IEEE ops
  * in the same order, so the trained centroids (and every rows-only
  * output downstream of them) are unchanged. The HOF chain evaluated
  * interpreted lambda machinery per element (r16 sf10: 9.3 CPU-s for
  * 32k×64-f rows, on the ONE task a single-row-group parquet scan
  * yields); this is one compiled loop. */
case class UnitF32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // Element nullability PROPAGATES from the child (r16 ADVICE: the
  // embeddings schema is array<float> containsNull=true; declaring false
  // here let a null element be read by getFloat as garbage). compute()
  // mirrors the HOF twin on null elements: a null poisons the norm fold,
  // so every output element is null — same rows as unitVia + cast.
  override def dataType: DataType = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, cn) =>
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = cn)
    case _ =>
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true)
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_unit_f32 argument must be array<float>, got ${other.sql}")
    }
  }

  override def prettyName: String = "graft_unit_f32"

  override def nullSafeEval(v: Any): Any =
    UnitF32.compute(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UnitF32.compute($v);")

  override protected def withNewChildInternal(newChild: Expression): UnitF32 =
    copy(child = newChild)
}

object UnitF32 {
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    // Null-element scan first (r16 ADVICE): the HOF twin's norm fold
    // (aggregate(..., acc + x*x)) yields null on any null element, so
    // every output element of transform(v, x -> x/norm) is null. Mirror
    // that exactly instead of reading the null slot as an arbitrary float.
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](n)) // all-null, same length
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < n) { val xd = v.getFloat(i).toDouble; ss += xd * xd; i += 1 }
    val nrm = math.sqrt(ss)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = (v.getFloat(i).toDouble / nrm).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Session extension registering the engine's native functions in the
  * FunctionRegistry (`spark.sql.extensions=graft.functions.GraftExtensions`
  * — wired by GraftSession), so `graft_cosine(a, b)` is callable from SQL
  * as well as the DataFrame API. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineF32].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineF32(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_unit_f32"),
      new ExpressionInfo(classOf[UnitF32].getName, "graft_unit_f32"),
      (children: Seq[Expression]) => UnitF32(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2SqF64].getName, "graft_l2sq"),
      (children: Seq[Expression]) => L2SqF64(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpr].getName, "graft_shingles"),
      (children: Seq[Expression]) => WordShinglesExpr(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketF32].getName, "graft_lsh_bucket"),
      (children: Seq[Expression]) => LshBucketF32(children.head, children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_stopword_scores"),
      new ExpressionInfo(classOf[StopwordScoresExpr].getName, "graft_stopword_scores"),
      (children: Seq[Expression]) => StopwordScoresExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_gid_set"),
      new ExpressionInfo(classOf[GidSetMd5Expr].getName, "graft_gid_set"),
      (children: Seq[Expression]) => GidSetMd5Expr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_gid_set_xx"),
      new ExpressionInfo(classOf[GidSetXxExpr].getName, "graft_gid_set_xx"),
      (children: Seq[Expression]) => GidSetXxExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashAffineExpr].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashAffineExpr(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_xx"),
      new ExpressionInfo(classOf[MinHashXxExpr].getName, "graft_minhash_xx"),
      (children: Seq[Expression]) => MinHashXxExpr(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHashExpr(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cdc_windows"),
      new ExpressionInfo(classOf[CdcWindowsExpr].getName, "graft_cdc_windows"),
      (children: Seq[Expression]) => CdcWindowsExpr(children.head, children(1), children(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContainsExpr].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        // The sketch argument must be a compile-time literal (lit(bytes)
        // from Prune, or a binary literal in SQL) — the filter is one
        // object per plan, not a per-row value.
        require(children(1).foldable,
          "graft_bloom_contains: the serialized bloom filter must be a literal")
        BloomContainsExpr(children.head,
          children(1).eval(null).asInstanceOf[Array[Byte]])
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_round0"),
      new ExpressionInfo(classOf[Round0Expr].getName, "graft_round0"),
      (children: Seq[Expression]) => Round0Expr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_strip_accents"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "graft_strip_accents"),
      (children: Seq[Expression]) => StripAccentsExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => JaroWinklerExpr(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_haversine_km"),
      new ExpressionInfo(classOf[HaversineKmExpr].getName, "graft_haversine_km"),
      (children: Seq[Expression]) => HaversineKmExpr(children.head, children(1),
        children(2), children(3))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash_agg"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "graft_minhash_agg: k must be a literal")
        MinHashAgg(children.head,
          children(1).eval(null).asInstanceOf[Number].intValue())
      }))
    // B10n — the (c)-path custom operator: rank-filter windows rewrite to
    // the native partial/final top-k-per-group plan (plans/TopKPerGroup).
    ext.injectOptimizerRule(graft.plans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
