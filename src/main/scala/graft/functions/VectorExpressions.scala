package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the similarity hot path.
  *
  * `zip_with + aggregate` column algebra is correct but allocates an
  * intermediate products array per pair — at N² near-dup scale that is
  * pure GC pressure. These expressions fuse the loop, participate in
  * whole-stage codegen (`doGenCode` emits a tight primitive loop), and
  * accumulate strictly left-to-right, so results are bit-identical to
  * the algebraic form (and to the DuckDB oracle's list comprehensions).
  *
  * Over min(len(a), len(b)) elements; null input → null (NullIntolerant
  * via BinaryExpression's default nullable handling).
  */
abstract class VectorFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
}

/** Σ aᵢ·bᵢ — pair with precomputed norms so the N² stage does one fused
  * loop per pair and norm work stays O(N). */
case class DotProduct(left: Expression, right: Expression) extends VectorFoldExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** cos(a,b) = Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²) in one fused pass. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorFoldExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Pack an array<int> of 0..255 values into a binary column — the SQ8
  * index representation: 1 byte per dimension, 8× smaller than the
  * f64 arrays column algebra would otherwise persist. Values outside
  * 0..255 are truncated to their low byte (callers quantize first). */
case class PackU8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<int>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val out = new Array[Byte](a.numElements())
    var i = 0
    while (i < out.length) { out(i) = a.getInt(i).toByte; i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) $a.getInt($i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): PackU8 = copy(child = c)
}

/** Σ (codesᵢ & 0xFF) · vᵢ — the asymmetric (ADC) dot of a packed-u8
  * quantized vector against a full-precision query. Code values are
  * exact small integers, so products and the left-to-right sum are
  * bit-identical to the same algebra over an unpacked double array —
  * the oracle computes the latter. */
case class DotProductBytes(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, array<double>), got ${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[Array[Byte]]
    val v = r.asInstanceOf[ArrayData]
    val n = math.min(codes.length, v.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += (codes(i) & 0xff) * v.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, v) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($c.length, $v.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ($c[$i] & 0xff) * $v.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductBytes =
    copy(left = l, right = r)
}

/** |A ∩ B| of two SORTED arrays (string, bigint, or int — same type on
  * both sides) by linear merge — the verify kernel of the prefix-filter
  * set-similarity join (q167, string shingles) and the closure kernel
  * of the triangle census (q112, long-id sorted adjacency lists).
  *
  * `size(array_intersect(a, b))` is codegen'd but pays, per candidate
  * row, an OpenHashSet build over one side, a probe per element of the
  * other, AND materialization of the intersection array that `size`
  * immediately discards. With both sides sorted (one `sort_array` per
  * DOCUMENT at build time, amortized over every candidate the doc
  * appears in), the count is a single allocation-free merge scan:
  * O(|A|+|B|) UTF8String compares, nothing materialized.
  *
  * CONTRACT: both arrays ascending in UTF8String binary order (what
  * `sort_array` produces for strings) — the caller owns it; unsorted
  * input returns an undercount, never an error. Null ELEMENTS are
  * skipped (never counted, never dereferenced): the expression is
  * registered as a general SQL function callable on arbitrary user
  * arrays, so a null element must degrade to "not a member", not NPE.
  * Duplicate elements advance both cursors together, so on the
  * distinct sets the caller passes the result is exact set overlap. */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  private def elemType: DataType = left.dataType match {
    case ArrayType(t, _) => t
    case _ => org.apache.spark.sql.types.NullType
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if lt == rt &&
          (lt == org.apache.spark.sql.types.StringType ||
            lt == org.apache.spark.sql.types.LongType ||
            lt == org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<string|bigint|int> arguments of " +
          s"the same type, got ${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var cnt = 0L
    val isStr = elemType == org.apache.spark.sql.types.StringType
    val isInt = elemType == org.apache.spark.sql.types.IntegerType
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val c =
          if (isStr) a.getUTF8String(i).compareTo(b.getUTF8String(j))
          else if (isInt) java.lang.Integer.compare(a.getInt(i), b.getInt(j))
          else java.lang.Long.compare(a.getLong(i), b.getLong(j))
        if (c == 0) { cnt += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      val cmp = elemType match {
        case org.apache.spark.sql.types.StringType =>
          s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
        case org.apache.spark.sql.types.IntegerType =>
          s"java.lang.Integer.compare($a.getInt($i), $b.getInt($j))"
        case _ =>
          s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
      }
      s"""
         |int $na = $a.numElements(), $nb = $b.numElements();
         |int $i = 0, $j = 0;
         |long $cnt = 0L;
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    int $c = $cmp;
         |    if ($c == 0) { $cnt++; $i++; $j++; }
         |    else if ($c < 0) $i++;
         |    else $j++;
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IntersectCountSorted =
    copy(left = l, right = r)
}

/** All-centroid rounded dot scores in ONE fused pass:
  * `graft_cell_scores(v, flatCentroids)` → array<double> of
  * round(Σₖ v[k]·C[j][k], 6) for j in 0..nlist−1, where the centroid
  * MATRIX arrives row-major as one foldable literal array
  * (nlist = |flat| / |v|).
  *
  * Replaces the column-algebra form `array(round(graft_dot(v, lit₀),6),
  * …, round(graft_dot(v, lit₆₃),6))`: at nlist = 64 that is 64 separate
  * expressions each carrying a 64-element literal array — the generated
  * projection blows past whole-stage-codegen method limits and falls
  * back to interpreted eval (PlanCost measured q221's assignment at
  * ~65 µs/vector, ~30 s of executor CPU at sf1 for what is 4096 fma).
  * Here the matrix is ONE literal and the scores are one register-
  * blocked loop. Rounding replicates Spark's `round(_, 6)` exactly —
  * java BigDecimal.valueOf (shortest-decimal) → setScale(6, HALF_UP),
  * and, as RoundBase does, NaN/Infinity pass through unrounded
  * (BigDecimal.valueOf throws on non-finite input, so a single bad
  * embedding value must not crash the scan) — so scores, argmax cells,
  * and every oracle hash downstream are bit-identical to the algebraic
  * form. */
case class CellScores(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, array<double>), got " +
          s"${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val flat = r.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val nlist = if (dim == 0) 0 else flat.numElements() / dim
    val out = new Array[Double](nlist)
    var j = 0
    while (j < nlist) {
      var s = 0.0
      val base = j * dim
      var k = 0
      while (k < dim) { s += v.getDouble(k) * flat.getDouble(base + k); k += 1 }
      out(j) =
        if (java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) s
        else java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, flat) => {
      val dim = ctx.freshName("dim")
      val nlist = ctx.freshName("nlist")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      s"""
         |int $dim = $v.numElements();
         |int $nlist = $dim == 0 ? 0 : $flat.numElements() / $dim;
         |double[] $out = new double[$nlist];
         |for (int $j = 0; $j < $nlist; $j++) {
         |  double $s = 0.0;
         |  int $base = $j * $dim;
         |  for (int $k = 0; $k < $dim; $k++) {
         |    $s += $v.getDouble($k) * $flat.getDouble($base + $k);
         |  }
         |  $out[$j] = (Double.isNaN($s) || Double.isInfinite($s)) ? $s
         |    : java.math.BigDecimal.valueOf($s)
         |        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CellScores = copy(left = l, right = r)
}

/** PQ code assignment in ONE fused pass: `graft_pq_codes(v, cbs)` →
  * array<int> of, for each subspace j, the first-match argmin over k of
  * round(Σ_{d} (v[j·ds+d] − cbs[j][k][d])², 6) — the product-quantizer
  * encode step with the codebook as a nested array COLUMN (it is
  * trained at runtime and broadcast, not a foldable literal; m, kk and
  * ds all derive from its shape).
  *
  * Replaces the nested higher-order-function form
  * `transform(seq(m), j -> transform(seq(kk), k -> round(aggregate(
  * seq(ds), …), 6)))` + `array_position(dl, array_min(dl)) − 1`: at
  * m·kk = 256 cells per row the HOF tree pays per-cell lambda
  * dispatch, per-row nested array materialization, and interpreted
  * eval — the sf10 corpus encode (`sim:pq` memo build) measured 651 s,
  * virtually all of it this expression tree. One fused loop with the
  * SAME left-to-right accumulation, the SAME round-half-up (BigDecimal
  * shortest-decimal → setScale(6, HALF_UP), non-finite pass-through —
  * [[CellScores]]' discipline), and the SAME first-match argmin under
  * Spark's total double ordering (java.lang.Double.compare — NaN
  * greatest, −0.0 < 0.0 — exactly `array_min`/`array_position`
  * equivalence), so codes, every downstream ADC ranking, and every
  * oracle hash are bit-identical to the HOF form. */
case class PqCodes(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, array<array<array<double>>>), got " +
          s"${l.simpleString}, ${r.simpleString}")
    }

  // Static nullability of the ELEMENT positions (the type check above
  // accepts containsNull on every level). UnsafeArrayData.getDouble /
  // getArray do NOT bounds- or null-check, so without the runtime gates
  // below a null element or a dimension-mismatched vector silently
  // reads garbage and returns plausible-but-wrong codes — and
  // graft_pq_codes is registered as a user-callable SQL function,
  // unlike the HOF form it replaced (which errored under ANSI). The
  // flags are static per plan, so the null scans cost nothing on the
  // internal non-null paths.
  private lazy val vElemNullable =
    left.dataType.asInstanceOf[ArrayType].containsNull
  private lazy val cbsAnyNullable = right.dataType match {
    case ArrayType(ArrayType(ArrayType(_, e), c), s) => s || c || e
    case _ => true
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val cbs = r.asInstanceOf[ArrayData]
    val m = cbs.numElements()
    val n = v.numElements()
    if (vElemNullable) {
      var i = 0
      while (i < n) {
        if (v.isNullAt(i)) PqCodes.fail(s"vector element $i is NULL")
        i += 1
      }
    }
    val out = new Array[Int](m)
    var j = 0
    var ds0 = -1
    while (j < m) {
      if (cbsAnyNullable && cbs.isNullAt(j))
        PqCodes.fail(s"codebook subspace $j is NULL")
      val sub = cbs.getArray(j)
      val kk = sub.numElements()
      var best = 0.0
      var bestK = 0
      var k = 0
      while (k < kk) {
        if (cbsAnyNullable && sub.isNullAt(k))
          PqCodes.fail(s"codebook centroid ($j,$k) is NULL")
        val cent = sub.getArray(k)
        val ds = cent.numElements()
        if (ds0 < 0) {
          ds0 = ds
          if (n != m.toLong * ds) PqCodes.fail(
            s"vector length $n != m*ds = $m*$ds (codebook shape mismatch)")
        } else if (ds != ds0) PqCodes.fail(
          s"ragged codebook: centroid ($j,$k) has $ds dims, expected $ds0")
        if (cbsAnyNullable) {
          var d = 0
          while (d < ds) {
            if (cent.isNullAt(d))
              PqCodes.fail(s"codebook element ($j,$k,$d) is NULL")
            d += 1
          }
        }
        var s = 0.0
        var d = 0
        while (d < ds) {
          val diff = v.getDouble(j * ds + d) - cent.getDouble(d)
          s += diff * diff
          d += 1
        }
        val rd =
          if (java.lang.Double.isNaN(s) || java.lang.Double.isInfinite(s)) s
          else java.math.BigDecimal.valueOf(s)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (k == 0 || java.lang.Double.compare(rd, best) < 0) { best = rd; bestK = k }
        k += 1
      }
      out(j) = bestK
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cbs) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val rd = ctx.freshName("rd")
      val diff = ctx.freshName("diff")
      val sub = ctx.freshName("sub")
      val cent = ctx.freshName("cent")
      val ds = ctx.freshName("ds")
      val ds0 = ctx.freshName("ds0")
      val kk = ctx.freshName("kk")
      val best = ctx.freshName("best")
      val bestK = ctx.freshName("bestK")
      val fail = "graft.functions.PqCodes$.MODULE$.fail"
      // the runtime gates mirror nullSafeEval exactly; null scans are
      // emitted only when the static element type admits nulls
      val vNullScan = if (vElemNullable)
        s"""
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($v.isNullAt($i)) $fail("vector element " + $i + " is NULL");
           |}""".stripMargin
      else ""
      val subNullCheck = if (cbsAnyNullable)
        s"""if ($cbs.isNullAt($j)) $fail("codebook subspace " + $j + " is NULL");"""
      else ""
      val centNullCheck = if (cbsAnyNullable)
        s"""if ($sub.isNullAt($k)) $fail("codebook centroid (" + $j + "," + $k + ") is NULL");"""
      else ""
      val elemNullScan = if (cbsAnyNullable)
        s"""
           |for (int $d = 0; $d < $ds; $d++) {
           |  if ($cent.isNullAt($d))
           |    $fail("codebook element (" + $j + "," + $k + "," + $d + ") is NULL");
           |}""".stripMargin
      else ""
      s"""
         |int $m = $cbs.numElements();
         |int $n = $v.numElements();
         |$vNullScan
         |int[] $out = new int[$m];
         |int $ds0 = -1;
         |for (int $j = 0; $j < $m; $j++) {
         |  $subNullCheck
         |  org.apache.spark.sql.catalyst.util.ArrayData $sub = $cbs.getArray($j);
         |  int $kk = $sub.numElements();
         |  double $best = 0.0;
         |  int $bestK = 0;
         |  for (int $k = 0; $k < $kk; $k++) {
         |    $centNullCheck
         |    org.apache.spark.sql.catalyst.util.ArrayData $cent = $sub.getArray($k);
         |    int $ds = $cent.numElements();
         |    if ($ds0 < 0) {
         |      $ds0 = $ds;
         |      if ($n != (long) $m * $ds)
         |        $fail("vector length " + $n + " != m*ds = " + $m + "*" + $ds +
         |          " (codebook shape mismatch)");
         |    } else if ($ds != $ds0) {
         |      $fail("ragged codebook: centroid (" + $j + "," + $k + ") has " +
         |        $ds + " dims, expected " + $ds0);
         |    }
         |    $elemNullScan
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $ds; $d++) {
         |      double $diff = $v.getDouble($j * $ds + $d) - $cent.getDouble($d);
         |      $s += $diff * $diff;
         |    }
         |    double $rd = (Double.isNaN($s) || Double.isInfinite($s)) ? $s
         |      : java.math.BigDecimal.valueOf($s)
         |          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |    if ($k == 0 || Double.compare($rd, $best) < 0) { $best = $rd; $bestK = $k; }
         |  }
         |  $out[$j] = $bestK;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqCodes = copy(left = l, right = r)
}

object PqCodes {
  /** Shared failure path for the interpreted and generated code —
    * malformed input (shape mismatch, ragged codebook, null elements)
    * must error loudly instead of silently reading out-of-bounds. */
  def fail(msg: String): Nothing =
    throw new IllegalArgumentException("graft_pq_codes: " + msg)
}

/** All band bucket-ids in ONE fused pass:
  * `graft_band_buckets(v, flatPlanes, bandBits)` → array<int> where
  * bucket b folds its `bandBits` hyperplane signs
  * (round(Σₖ v[k]·P[b·bits+r][k], 6) > 0 → bit r) into an integer —
  * the banded-SRP geometry of the near-dup candidate stage. The plane
  * MATRIX arrives row-major as one foldable literal
  * (nBands = |flat| / (|v|·bandBits)).
  *
  * Same rationale as [[CellScores]]: the column-algebra form built
  * nBands×bandBits separate dot expressions each with a dim-element
  * literal array (128 at the q55 production calibration), risking the
  * codegen-fallback cliff and paying per-expression overhead either
  * way. The sign test replicates `round(_, 6) > 0` exactly — BigDecimal
  * shortest-decimal, setScale(6, HALF_UP), signum; non-finite dots
  * bypass BigDecimal (which throws on NaN/Infinity) and follow Spark's
  * own comparison semantics, where NaN and +Infinity compare greater
  * than 0 — so every bucket id, candidate set, and oracle hash is
  * unchanged. */
case class BandBuckets(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
            org.apache.spark.sql.types.IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, array<double>, int), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def nullSafeEval(l: Any, m: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val flat = m.asInstanceOf[ArrayData]
    val bits = r.asInstanceOf[Int]
    val dim = v.numElements()
    val nBands = if (dim == 0 || bits == 0) 0 else flat.numElements() / (dim * bits)
    val out = new Array[Int](nBands)
    var b = 0
    while (b < nBands) {
      var bucket = 0
      var p = 0
      while (p < bits) {
        var s = 0.0
        val base = (b * bits + p) * dim
        var k = 0
        while (k < dim) { s += v.getDouble(k) * flat.getDouble(base + k); k += 1 }
        val positive =
          if (java.lang.Double.isNaN(s)) true // Spark: NaN > 0
          else if (java.lang.Double.isInfinite(s)) s > 0
          else java.math.BigDecimal.valueOf(s)
            .setScale(6, java.math.RoundingMode.HALF_UP).signum() > 0
        if (positive) bucket |= 1 << p
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, flat, bits) => {
      val dim = ctx.freshName("dim")
      val nBands = ctx.freshName("nBands")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val p = ctx.freshName("p")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      val bucket = ctx.freshName("bucket")
      s"""
         |int $dim = $v.numElements();
         |int $nBands = ($dim == 0 || $bits == 0) ? 0 : $flat.numElements() / ($dim * $bits);
         |int[] $out = new int[$nBands];
         |for (int $b = 0; $b < $nBands; $b++) {
         |  int $bucket = 0;
         |  for (int $p = 0; $p < $bits; $p++) {
         |    double $s = 0.0;
         |    int $base = ($b * $bits + $p) * $dim;
         |    for (int $k = 0; $k < $dim; $k++) {
         |      $s += $v.getDouble($k) * $flat.getDouble($base + $k);
         |    }
         |    boolean ${s}_pos = Double.isNaN($s) ? true /* Spark: NaN > 0 */
         |      : Double.isInfinite($s) ? $s > 0
         |      : java.math.BigDecimal.valueOf($s)
         |          .setScale(6, java.math.RoundingMode.HALF_UP).signum() > 0;
         |    if (${s}_pos) {
         |      $bucket |= 1 << $p;
         |    }
         |  }
         |  $out[$b] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BandBuckets =
    copy(first = f, second = s, third = t)
}

/** Byte-histogram entropy terms of a binary value in ONE pass:
  * `[n_distinct_bytes, Σ c·ln c]` over the 256-bin byte histogram —
  * the per-document reduction of q194's Shannon entropy
  * H = ln(n) − (Σ c·ln c)/n.
  *
  * Replaces the explode-to-byte-rows shape, whose row volume was the
  * CORPUS BYTE COUNT (each byte materialized as a row via hex substring
  * + string conv, then two aggregates over the per-(doc, byte) grid).
  * Here the histogram lives in one int[256] inside the projection, so
  * the operator's row volume is the DOCUMENT count and the entropy is
  * scan-speed column algebra — at 100 TB that is the difference between
  * shuffling the corpus and not. Σ c·ln c accumulates in ascending byte
  * order (deterministic); the exploded form summed in partial-agg order,
  * so both live under the same 6-dp rounding contract vs the oracle. */
case class ByteEntropyStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val hist = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
    var nd = 0.0
    var slnc = 0.0
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) { nd += 1; slnc += c * math.log(c.toDouble) }
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(nd, slnc))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bin => {
      val hist = ctx.freshName("hist")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val c = ctx.freshName("c")
      val nd = ctx.freshName("nd")
      val slnc = ctx.freshName("slnc")
      s"""
         |long[] $hist = new long[256];
         |for (int $i = 0; $i < $bin.length; $i++) { $hist[$bin[$i] & 0xff]++; }
         |double $nd = 0.0, $slnc = 0.0;
         |for (int $b = 0; $b < 256; $b++) {
         |  long $c = $hist[$b];
         |  if ($c > 0) { $nd += 1.0; $slnc += $c * java.lang.Math.log((double) $c); }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new double[]{$nd, $slnc});
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ByteEntropyStats =
    copy(child = c)
}

/** SQL registration so call sites can use `expr("graft_dot(a, b)")` —
  * portable across the Column-API refactors of Spark 4. [[all]] is the
  * one table of the engine's SQL functions: [[register]] adds it to a
  * live session, `graft.GraftExtensions` injects it through
  * `spark.sql.extensions`. */
object GraftFunctions {
  /** One SQL function: its name, its `DESCRIBE FUNCTION` usage and its
    * builder. */
  final case class Fn(name: String, usage: String, build: Seq[Expression] => Expression) {
    val info: ExpressionInfo =
      new ExpressionInfo(build.getClass.getCanonicalName, null, name, usage,
        "", "", "", "", "", "", "built-in")
  }

  val all: Seq[Fn] = Seq(
    Fn("graft_dot", "graft_dot(a, b) - dot product of two array<double> vectors",
      e => DotProduct(e(0), e(1))),
    Fn("graft_cosine", "graft_cosine(a, b) - cosine similarity of two array<double> vectors",
      e => CosineSimilarity(e(0), e(1))),
    Fn("graft_pack_u8", "graft_pack_u8(a) - pack an array<int> of 0..255 codes into binary",
      e => PackU8(e(0))),
    Fn("graft_dot_u8", "graft_dot_u8(codes, v) - dot of packed u8 codes against array<double>",
      e => DotProductBytes(e(0), e(1))),
    Fn("graft_jaro_winkler", "graft_jaro_winkler(a, b) - Jaro-Winkler similarity of two strings",
      e => JaroWinklerSimilarity(e(0), e(1))),
    Fn("graft_intersect_count_sorted",
      "graft_intersect_count_sorted(a, b) - |a ∩ b| of two ascending arrays",
      e => IntersectCountSorted(e(0), e(1))),
    Fn("graft_byte_entropy",
      "graft_byte_entropy(bin) - [distinct bytes, Σ c·ln c] of the byte histogram",
      e => ByteEntropyStats(e(0))),
    Fn("graft_cell_scores",
      "graft_cell_scores(v, flatCentroids) - rounded dot of v against every centroid",
      e => CellScores(e(0), e(1))),
    Fn("graft_pq_codes", "graft_pq_codes(v, codebooks) - product-quantizer codes of v",
      e => PqCodes(e(0), e(1))),
    Fn("graft_band_buckets",
      "graft_band_buckets(v, flatPlanes, bandBits) - banded sign-hash bucket ids of v",
      e => BandBuckets(e(0), e(1), e(2))),
    Fn("graft_record_stamp",
      "graft_record_stamp(baseMicros) - unique consume-time stamp in microseconds", {
        case Seq(base) => RecordStamp(base)
        case exprs => throw new IllegalArgumentException(
          s"graft_record_stamp(baseMicros) takes exactly 1 argument, got ${exprs.length}")
      }),
    Fn("graft_bloom_build",
      "graft_bloom_build(xxhash64Col, estItems, numBits) - serialized Bloom filter aggregate", {
        case Seq(child, est, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(child, est, bits)
        case exprs => throw new IllegalArgumentException(
          s"graft_bloom_build(xxhash64Col, estItems, numBits) takes 3 arguments, got ${exprs.length}")
      }))

  /** Register every function of [[all]] in `spark`'s session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach(f => registry.registerFunction(FunctionIdentifier(f.name), f.info, f.build))
  }

  /** Register `name(xxhash64Col)` as a might-contain probe against a
    * CONCRETE serialized Bloom filter (Catalyst's own
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
    * the runtime-filter expression — codegen'd, no UDF). The filter
    * bytes are embedded as a foldable binary literal, which is exactly
    * what `BloomFilterMightContain` requires of its filter side. */
  def registerBloomProbe(spark: SparkSession, name: String, filter: Array[Byte]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, {
        case Seq(value) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            org.apache.spark.sql.catalyst.expressions.Literal(
              filter, org.apache.spark.sql.types.BinaryType),
            value)
        case exprs => throw new IllegalArgumentException(
          s"$name(xxhash64Col) takes exactly 1 argument, got ${exprs.length}")
      }, "built-in")
}
