package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd per-query ADC lookup-table build — the whole dense LUT in
  * one map-only pass: given a raw query vector `vec` (array<double>),
  * its L2 norm `norm` (double, > 0 upstream), `cands` = the codebooks
  * folded into one broadcast value ([[FoldedPqBooks]], the exact shape
  * [[PqEncodeCodes]] consumes, so build/append encode and search LUT
  * share one folded-books layout) — and `slots` = the per-subspace
  * slot stride (the index kind's `codes`), returns array<double> of
  * length m·slots with
  *
  *   lut[j·slots + code] = (vec/norm) · cent(j, code)
  *
  * and every unassigned slot −∞ (k-means can return fewer than `slots`
  * centers; missing codes are never referenced by encoded rows, and −∞
  * turns a bug into a terrible score instead of a silent shift — the
  * contract of the previous formulation).
  *
  * That previous formulation exploded queries × (m·codes) codebook rows
  * through a BroadcastNestedLoopJoin, collected the pairs into a map
  * with an ObjectHashAggregate (an exchange + a single-task final), and
  * densified with transform(sequence, i -> element_at(map, i)) — an
  * O((m·codes)²) interpreted map probe per query that profiled as a
  * 1.3 s single-task stage per search at sf0.1. This expression is one
  * projection on the queries frame: no explode, no exchange, no
  * aggregate, O(m·codes·sub) multiplies — the arithmetic floor. Dot
  * order matches [[ArrayDot]] (ascending elements), so LUT values are
  * bit-identical to the exploded route's. Null vector, null/empty
  * candidate lists, or a subspace entry whose stored id is not its
  * position (a whole subspace missing, which would otherwise shift every
  * later block) yield null. */
case class PqLutArray(
    vec: Expression, norm: Expression, cands: Expression, slots: Expression)
    extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = norm
  override def third: Expression = cands
  override def fourth: Expression = slots

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    val candsOk = FoldedPqBooks.accepts(cands.dataType)
    if (vecOk && norm.dataType == DoubleType && candsOk &&
        slots.dataType == IntegerType && slots.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_pq_lut expects (array<double>, double, " +
        "array<struct<int, array<struct<int, array<double>, double>>>>, int literal), got " +
        s"${vec.dataType.sql} / ${norm.dataType.sql} / ${cands.dataType.sql} / ${slots.dataType.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // empty candidate lists yield null even on non-nullable children
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_lut"

  override protected def nullSafeEval(v: Any, n: Any, c: Any, s: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nm = n.asInstanceOf[Double]
    val subs = c.asInstanceOf[ArrayData]
    val stride = s.asInstanceOf[Int]
    val m = subs.numElements()
    if (m == 0 || stride <= 0) return null
    val lut = Array.fill(m * stride)(Double.NegativeInfinity)
    var off = 0
    var j = 0
    while (j < m) {
      if (subs.isNullAt(j)) return null
      val entry = subs.getStruct(j, 2)
      if (entry.isNullAt(0) || entry.getInt(0) != j || entry.isNullAt(1)) return null
      val list = entry.getArray(1)
      val k = list.numElements()
      if (k == 0) return null
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
        val code = row.getInt(0)
        if (code >= 0 && code < stride) lut(j * stride + code) = dot
        i += 1
      }
      off += sub
      j += 1
    }
    new GenericArrayData(lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n, c, s) => {
      val m = ctx.freshName("m")
      val lut = ctx.freshName("lut")
      val off = ctx.freshName("off")
      val j = ctx.freshName("j")
      val entry = ctx.freshName("entry")
      val list = ctx.freshName("list")
      val k = ctx.freshName("k")
      val sub = ctx.freshName("sub")
      val i = ctx.freshName("i")
      val row = ctx.freshName("row")
      val cent = ctx.freshName("cent")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val t = ctx.freshName("t")
      val code = ctx.freshName("code")
      val bad = ctx.freshName("bad")
      s"""
         |int $m = $c.numElements();
         |boolean $bad = ($m == 0 || $s <= 0);
         |double[] $lut = $bad ? new double[0] : new double[$m * $s];
         |java.util.Arrays.fill($lut, Double.NEGATIVE_INFINITY);
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
         |    int $code = $row.getInt(0);
         |    if ($code >= 0 && $code < $s) { $lut[$j * $s + $code] = $dot; }
         |  }
         |  $off += $sub;
         |}
         |if ($bad) { ${ev.isNull} = true; } else {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PqLutArray =
    copy(vec = newFirst, norm = newSecond, cands = newThird, slots = newFourth)
}
