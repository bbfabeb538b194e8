package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd product-quantization encoding — the whole per-row PQ encode
  * in one pass: given a raw vector `vec` (array<double>), its L2 norm
  * `norm` (double, > 0 upstream), and `cands` = the codebooks folded
  * into one broadcast value ([[FoldedPqBooks]]: array, subspace-ascending,
  * of struct<subspace int, array<struct<code int, cent array<double>,
  * c2 double>>>, code-ascending, `c2` = ‖cent‖² precomputed) — returns
  * struct<codes: array<int>, rn: double> where `codes[j]` is the code
  * minimizing the subspace distance
  *
  *   ‖sv_j − cent‖² = c2 − 2·(sv_j · cent) + const,  sv_j = unit-vector
  *   slice j (elements vec[j·sub + i] / norm)
  *
  * (ties toward the smaller code — candidate order is evaluation order)
  * and `rn = sqrt(Σ_j c2(codes[j]))`, the reconstruction norm search
  * divides by. The previous formulation exploded every corpus row into m
  * subspace rows, broadcast-joined the codebooks, and ran TWO hash
  * aggregations — a corpus×m shuffle each — per build/append; this is
  * map-only, which (with the map-only cell assignment) makes the entire
  * IVF-PQ append pipeline shuffle-free on the batch side. Subspace width
  * comes from each candidate centroid's own length; a vector shorter
  * than j·sub+sub contributes only its available elements (the slice()
  * clamp semantics of the previous route). Null/empty candidates for any
  * subspace, a subspace entry whose stored id is not its position (a
  * whole subspace missing from the codebooks), or a null vector, yield
  * null.
  */
case class PqEncodeCodes(vec: Expression, norm: Expression, cands: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = norm
  override def third: Expression = cands

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    val candsOk = FoldedPqBooks.accepts(cands.dataType)
    if (vecOk && norm.dataType == DoubleType && candsOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_pq_encode expects (array<double>, double, " +
        "array<struct<int, array<struct<int, array<double>, double>>>>), got " +
        s"${vec.dataType.sql} / ${norm.dataType.sql} / ${cands.dataType.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("rn", DoubleType, nullable = false)))
  // empty candidate lists yield null even on non-nullable children
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(v: Any, n: Any, c: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nm = n.asInstanceOf[Double]
    val subs = c.asInstanceOf[ArrayData]
    val m = subs.numElements()
    if (m == 0) return null
    val codes = new Array[Int](m)
    var c2sum = 0.0
    var off = 0
    var j = 0
    while (j < m) {
      if (subs.isNullAt(j)) return null
      val entry = subs.getStruct(j, 2)
      if (entry.isNullAt(0) || entry.getInt(0) != j || entry.isNullAt(1)) return null
      val list = entry.getArray(1)
      val k = list.numElements()
      if (k == 0) return null
      var best = Double.PositiveInfinity
      var bestCode = -1
      var bestC2 = 0.0
      var sub = 0
      var i = 0
      while (i < k) {
        val row = list.getStruct(i, 3)
        val cent = row.getArray(1)
        sub = cent.numElements()
        val d = math.min(sub, math.max(0, x.numElements() - off))
        var dot = 0.0
        var t = 0
        while (t < d) {
          dot += (x.getDouble(off + t) / nm) * cent.getDouble(t)
          t += 1
        }
        val dist = row.getDouble(2) - 2.0 * dot
        if (dist < best) {
          best = dist; bestCode = row.getInt(0); bestC2 = row.getDouble(2)
        }
        i += 1
      }
      codes(j) = bestCode
      c2sum += bestC2
      off += sub
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new GenericArrayData(codes), math.sqrt(c2sum))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n, c) => {
      val m = ctx.freshName("m")
      val codes = ctx.freshName("codes")
      val c2sum = ctx.freshName("c2sum")
      val off = ctx.freshName("off")
      val j = ctx.freshName("j")
      val entry = ctx.freshName("entry")
      val list = ctx.freshName("list")
      val k = ctx.freshName("k")
      val best = ctx.freshName("best")
      val bestCode = ctx.freshName("bestCode")
      val bestC2 = ctx.freshName("bestC2")
      val sub = ctx.freshName("sub")
      val i = ctx.freshName("i")
      val row = ctx.freshName("row")
      val cent = ctx.freshName("cent")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val dist = ctx.freshName("dist")
      val t = ctx.freshName("t")
      val bad = ctx.freshName("bad")
      s"""
         |int $m = $c.numElements();
         |boolean $bad = ($m == 0);
         |int[] $codes = new int[$m];
         |double $c2sum = 0.0;
         |int $off = 0;
         |for (int $j = 0; $j < $m && !$bad; $j++) {
         |  if ($c.isNullAt($j)) { $bad = true; break; }
         |  org.apache.spark.sql.catalyst.InternalRow $entry = $c.getStruct($j, 2);
         |  if ($entry.isNullAt(0) || $entry.getInt(0) != $j || $entry.isNullAt(1)) {
         |    $bad = true; break;
         |  }
         |  org.apache.spark.sql.catalyst.util.ArrayData $list = $entry.getArray(1);
         |  int $k = $list.numElements();
         |  if ($k == 0) { $bad = true; break; }
         |  double $best = Double.POSITIVE_INFINITY;
         |  int $bestCode = -1;
         |  double $bestC2 = 0.0;
         |  int $sub = 0;
         |  for (int $i = 0; $i < $k; $i++) {
         |    org.apache.spark.sql.catalyst.InternalRow $row = $list.getStruct($i, 3);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cent = $row.getArray(1);
         |    $sub = $cent.numElements();
         |    int $d = java.lang.Math.min($sub,
         |      java.lang.Math.max(0, $v.numElements() - $off));
         |    double $dot = 0.0;
         |    for (int $t = 0; $t < $d; $t++) {
         |      $dot += ($v.getDouble($off + $t) / $n) * $cent.getDouble($t);
         |    }
         |    double $dist = $row.getDouble(2) - 2.0 * $dot;
         |    if ($dist < $best) {
         |      $best = $dist; $bestCode = $row.getInt(0); $bestC2 = $row.getDouble(2);
         |    }
         |  }
         |  $codes[$j] = $bestCode;
         |  $c2sum += $bestC2;
         |  $off += $sub;
         |}
         |if ($bad) { ${ev.isNull} = true; } else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] {
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($codes),
         |      (Object) java.lang.Double.valueOf(java.lang.Math.sqrt($c2sum)) });
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqEncodeCodes =
    copy(vec = newFirst, norm = newSecond, cands = newThird)
}

/** The folded-codebooks type both PQ kernels ([[PqEncodeCodes]],
  * [[PqLutArray]]) consume: array (subspace-ascending) of
  * struct<subspace int, array<struct<code int, cent array<double>,
  * c2 double>>>. The stored subspace id lets a kernel check that entry j
  * really is subspace j. */
private[expressions] object FoldedPqBooks {
  def accepts(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(id, cs)), _) if id.dataType == IntegerType =>
      cs.dataType match {
        case ArrayType(StructType(f), _) if f.length == 3 =>
          f(0).dataType == IntegerType &&
            (f(1).dataType match {
              case ArrayType(DoubleType, _) => true
              case _                        => false
            }) && f(2).dataType == DoubleType
        case _ => false
      }
    case _ => false
  }
}
