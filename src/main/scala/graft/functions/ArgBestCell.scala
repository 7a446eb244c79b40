package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Round 19 (r18 verdict item 3): the nearest-candidate argmin/argmax
  * over a broadcast cell array, as ONE codegen'd loop — replacing the
  * interpreted `aggregate()` higher-order fold ([[graft.ops.ArgFold]]'s
  * SQL) that was the last interpreted loop on the ANN assignment hot
  * path. The fold's per-element kernels (graft_dot / graft_l2sq) were
  * codegen'd but `aggregate` itself is a CodegenFallback
  * HigherOrderFunction: per cell it allocated a boxed (double, long)
  * struct, dispatched an interpreted lambda, and re-entered generated
  * code through the kernel — per (row × cell). These expressions fuse
  * score kernel, HALF_UP rounding and the (score, id) total-order walk
  * into the enclosing stage's generated loop with zero allocation.
  *
  * SEMANTICS — bit-identical to the ArgFold contract (spec-pinned by
  * AssignFoldSpec; real-data parity in BASELINE.md "Fold assignment"):
  *  - comparison walks Spark's double total order
  *    (java.lang.Double.compare: NaN largest, -0.0 < 0.0); ties on the
  *    score break toward the SMALLEST id;
  *  - an uncomputable score (null/ragged cell vector) is the losing
  *    sentinel in BOTH directions (-Infinity for max, NaN for min) —
  *    the nulls-lose contract;
  *  - an all-sentinel row returns (sentinel score, smallest id), never
  *    a fabricated cell;
  *  - an EMPTY cell array returns NULL (callers filter `size(...) > 0`
  *    — the empty-frame-in, empty-frame-out contract);
  *  - rounding replicates Spark's `round(x, dp)` on doubles exactly:
  *    NaN/Infinity pass through, else
  *    BigDecimal.valueOf(x).setScale(dp, HALF_UP).
  *
  * ONE deliberate divergence from the fold (round 20, r19 ADVICE): a
  * NULL TOP-LEVEL input (qv/qn/sv, or the cell array itself) returns
  * NULL — standard Ternary/BinaryExpression null propagation — where
  * the fold's per-cell coalesce assigned such a row the lowest id with
  * a sentinel score. The nulls-lose contract above is about nulls
  * INSIDE a cell (ragged/missing cv), which still lose per-cell; a row
  * with no query vector at all has no meaningful assignment, and a
  * fabricated (sentinel, lowest-id) row is the quieter failure: it
  * lands real rows in cell 0 and skews that cell's stats. Callers that
  * must be loud on null embeddings filter/assert upstream
  * ([[graft.ops.Clustering.assign]] documents this at its input
  * contract); ArgBestCellSpec pins the NULL-in → NULL-out behavior.
  *
  * Cell layout is POSITIONAL: field 0 = id (int or long), field 1 = cv
  * (array<double>), and for the cosine form field 2 = cn (the cell's
  * precomputed norm). Output is struct<s: double, i: bigint> — the
  * same `.s`/`.i` selectors the fold's callers already use. */
object ArgBestCell {
  /** Spark's Round-on-double semantics, shared by eval and codegen. */
  def roundHalfUp(x: Double, dp: Int): Double =
    if (dp < 0 || java.lang.Double.isNaN(x) ||
      java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  val outType: StructType = StructType(Seq(
    StructField("s", DoubleType, nullable = false),
    StructField("i", LongType, nullable = false)))

  private[functions] def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private[functions] def checkCells(cells: DataType, wantCn: Boolean,
      fn: String): TypeCheckResult = cells match {
    case ArrayType(s: StructType, _)
        if s.length == (if (wantCn) 3 else 2) &&
          (s(0).dataType == LongType || s(0).dataType == IntegerType) &&
          isDoubleArray(s(1).dataType) &&
          (!wantCn || s(2).dataType == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<struct<id: int|long, cv: array<double>" +
        (if (wantCn) ", cn: double" else "") +
        s">>, got ${other.simpleString}")
  }
}

/** graft_argmax_cos(qv, qn, cells): best cell under
  * (round(dot(qv, cv) / (qn * cn), 6) DESC, id ASC). The
  * [[graft.ops.Similarity.ivfAssignWith]] race as one fused loop. */
case class ArgMaxCosineCell(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ArgBestCell.isDoubleArray(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_argmax_cos: qv must be array<double>, got " +
          first.dataType.simpleString)
    else if (second.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_argmax_cos: qn must be double, got " +
          second.dataType.simpleString)
    else ArgBestCell.checkCells(third.dataType, wantCn = true,
      "graft_argmax_cos")

  override def dataType: DataType = ArgBestCell.outType
  override def nullable: Boolean = true

  private lazy val idIsLong = third.dataType
    .asInstanceOf[ArrayType].elementType
    .asInstanceOf[StructType](0).dataType == LongType

  override def nullSafeEval(qvAny: Any, qnAny: Any, cellsAny: Any): Any = {
    val qv = qvAny.asInstanceOf[ArrayData]
    val qn = qnAny.asInstanceOf[Double]
    val cells = cellsAny.asInstanceOf[ArrayData]
    val m = cells.numElements()
    if (m == 0) return null
    val n = qv.numElements()
    var have = false; var bs = 0.0; var bi = 0L
    var j = 0
    while (j < m) {
      if (!cells.isNullAt(j)) {
        val cell = cells.getStruct(j, 3)
        val id = if (idIsLong) cell.getLong(0) else cell.getInt(0).toLong
        var s = Double.NegativeInfinity
        if (!cell.isNullAt(1)) {
          val cv = cell.getArray(1)
          if (cv.numElements() == n && !cell.isNullAt(2)) {
            var dot = 0.0; var i = 0
            while (i < n) { dot += qv.getDouble(i) * cv.getDouble(i); i += 1 }
            s = ArgBestCell.roundHalfUp(dot / (qn * cell.getDouble(2)), 6)
          }
        }
        val c = java.lang.Double.compare(s, bs)
        if (!have || c > 0 || (c == 0 && id < bi)) { have = true; bs = s; bi = id }
      }
      j += 1
    }
    if (!have) null
    else InternalRow(bs, bi)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qv, qn, cells) => {
      val m = ctx.freshName("m"); val n = ctx.freshName("n")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val have = ctx.freshName("have"); val bs = ctx.freshName("bs")
      val bi = ctx.freshName("bi"); val cell = ctx.freshName("cell")
      val id = ctx.freshName("id"); val s = ctx.freshName("s")
      val cv = ctx.freshName("cv"); val dot = ctx.freshName("dot")
      val cmp = ctx.freshName("cmp")
      val getId = if (idIsLong) s"$cell.getLong(0)"
        else s"(long) $cell.getInt(0)"
      s"""
         |int $m = $cells.numElements();
         |if ($m == 0) { ${ev.isNull} = true; } else {
         |  int $n = $qv.numElements();
         |  boolean $have = false; double $bs = 0.0; long $bi = 0L;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($cells.isNullAt($j)) continue;
         |    InternalRow $cell = $cells.getStruct($j, 3);
         |    long $id = $getId;
         |    double $s = Double.NEGATIVE_INFINITY;
         |    if (!$cell.isNullAt(1) && !$cell.isNullAt(2)) {
         |      org.apache.spark.sql.catalyst.util.ArrayData $cv =
         |        $cell.getArray(1);
         |      if ($cv.numElements() == $n) {
         |        double $dot = 0.0;
         |        for (int $i = 0; $i < $n; $i++) {
         |          $dot += $qv.getDouble($i) * $cv.getDouble($i);
         |        }
         |        $s = graft.functions.ArgBestCell.roundHalfUp(
         |          $dot / ($qn * $cell.getDouble(2)), 6);
         |      }
         |    }
         |    int $cmp = java.lang.Double.compare($s, $bs);
         |    if (!$have || $cmp > 0 || ($cmp == 0 && $id < $bi)) {
         |      $have = true; $bs = $s; $bi = $id;
         |    }
         |  }
         |  if (!$have) { ${ev.isNull} = true; }
         |  else {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |      .GenericInternalRow(new Object[] {
         |        java.lang.Double.valueOf($bs), java.lang.Long.valueOf($bi)});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): ArgMaxCosineCell =
    copy(first = f, second = s, third = t)
}

/** graft_argmin_l2(sv, cells, dp): best cell under
  * (round(l2sq(sv, cv), dp) ASC, id ASC); dp < 0 skips rounding (the
  * Lloyd-training path compares raw doubles). The
  * [[graft.ops.Clustering.assign]] / pqEncode race as one fused loop. */
case class ArgMinL2Cell(left: Expression, right: Expression, dp: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ArgBestCell.isDoubleArray(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_argmin_l2: sv must be array<double>, got " +
          left.dataType.simpleString)
    else ArgBestCell.checkCells(right.dataType, wantCn = false,
      "graft_argmin_l2")

  override def dataType: DataType = ArgBestCell.outType
  override def nullable: Boolean = true

  private lazy val idIsLong = right.dataType
    .asInstanceOf[ArrayType].elementType
    .asInstanceOf[StructType](0).dataType == LongType

  override def nullSafeEval(svAny: Any, cellsAny: Any): Any = {
    val sv = svAny.asInstanceOf[ArrayData]
    val cells = cellsAny.asInstanceOf[ArrayData]
    val m = cells.numElements()
    if (m == 0) return null
    val n = sv.numElements()
    var have = false; var bs = 0.0; var bi = 0L
    var j = 0
    while (j < m) {
      if (!cells.isNullAt(j)) {
        val cell = cells.getStruct(j, 2)
        val id = if (idIsLong) cell.getLong(0) else cell.getInt(0).toLong
        var s = Double.NaN
        if (!cell.isNullAt(1)) {
          val cv = cell.getArray(1)
          if (cv.numElements() == n) {
            var acc = 0.0; var i = 0
            while (i < n) {
              val d = sv.getDouble(i) - cv.getDouble(i); acc += d * d; i += 1
            }
            s = ArgBestCell.roundHalfUp(acc, dp)
          }
        }
        val c = java.lang.Double.compare(s, bs)
        if (!have || c < 0 || (c == 0 && id < bi)) { have = true; bs = s; bi = id }
      }
      j += 1
    }
    if (!have) null
    else InternalRow(bs, bi)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sv, cells) => {
      val m = ctx.freshName("m"); val n = ctx.freshName("n")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val have = ctx.freshName("have"); val bs = ctx.freshName("bs")
      val bi = ctx.freshName("bi"); val cell = ctx.freshName("cell")
      val id = ctx.freshName("id"); val s = ctx.freshName("s")
      val cv = ctx.freshName("cv"); val acc = ctx.freshName("acc")
      val d = ctx.freshName("d"); val cmp = ctx.freshName("cmp")
      val getId = if (idIsLong) s"$cell.getLong(0)"
        else s"(long) $cell.getInt(0)"
      val rounded = if (dp < 0) s"$acc"
        else s"graft.functions.ArgBestCell.roundHalfUp($acc, $dp)"
      s"""
         |int $m = $cells.numElements();
         |if ($m == 0) { ${ev.isNull} = true; } else {
         |  int $n = $sv.numElements();
         |  boolean $have = false; double $bs = 0.0; long $bi = 0L;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($cells.isNullAt($j)) continue;
         |    InternalRow $cell = $cells.getStruct($j, 2);
         |    long $id = $getId;
         |    double $s = Double.NaN;
         |    if (!$cell.isNullAt(1)) {
         |      org.apache.spark.sql.catalyst.util.ArrayData $cv =
         |        $cell.getArray(1);
         |      if ($cv.numElements() == $n) {
         |        double $acc = 0.0;
         |        for (int $i = 0; $i < $n; $i++) {
         |          double $d = $sv.getDouble($i) - $cv.getDouble($i);
         |          $acc += $d * $d;
         |        }
         |        $s = $rounded;
         |      }
         |    }
         |    int $cmp = java.lang.Double.compare($s, $bs);
         |    if (!$have || $cmp < 0 || ($cmp == 0 && $id < $bi)) {
         |      $have = true; $bs = $s; $bi = $id;
         |    }
         |  }
         |  if (!$have) { ${ev.isNull} = true; }
         |  else {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |      .GenericInternalRow(new Object[] {
         |        java.lang.Double.valueOf($bs), java.lang.Long.valueOf($bi)});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): ArgMinL2Cell = copy(left = l, right = r)
}
