package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two ArrayType(DoubleType) columns.
  *
  * SURVEY §4.3 reserved this exact escalation: "start with
  * zip_with+aggregate built-ins; only if BENCH demands, add a codegen
  * Expression". BENCH demanded — the higher-order-function form allocates a
  * zipped array per row and evaluates a lambda per element, costing ~100×
  * the arithmetic on the all-pairs similarity queries. This expression
  * compiles to a bare fused multiply-add loop over the two UnsafeArrayData
  * buffers (no allocation, stays inside whole-stage codegen), and its
  * accumulation order (index 0..n-1, left to right) is IDENTICAL to both
  * the previous `aggregate(zip_with(...))` form and DuckDB's
  * list_dot_product — bit-for-bit the same IEEE result, so oracle parity is
  * unchanged.
  *
  * Assumes non-null elements (enforced upstream: embeddings are dense
  * float vectors cast to double). Shorter of the two lengths bounds the
  * loop, matching zip_with(x*y) + aggregate semantics where a longer tail
  * would contribute null*value = null; our vectors are equal-length so the
  * case never arises.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Null elements make the whole result NULL — the exact semantics of the
    * aggregate(zip_with(a,b,*)) form this expression replaces. The check is
    * emitted only when the input schema admits null elements, so dense
    * vectors keep the branch-free hot loop.
    */
  private def mayHaveNullElements: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
  }

  /** A null ELEMENT nulls the result even when both array columns are
    * non-nullable, so nullability must include the element dimension —
    * round-10 fix for the round-9 Janino fallback: with the default
    * `left.nullable || right.nullable` = false, `nullSafeCodeGen` never
    * declares `ev.isNull` (it swaps in a false-literal after the fact),
    * but the element-null check in `doGenCode` still assigns the original
    * undeclared name — "Expression "isNull_N" is not an rvalue", a silent
    * per-row interpreter fallback wherever that shape ran. Declaring the
    * expression nullable restores the sanctioned assign-ev.isNull contract
    * (and keeps IsNotNull folds honest for the interpreted path too).
    */
  override def nullable: Boolean =
    left.nullable || right.nullable || mayHaveNullElements

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val checkNulls = mayHaveNullElements
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck = if (mayHaveNullElements)
        s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorOps {
  /** Column-level dot product; both sides must be array<double>. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level sorted-set intersection count; both sides must be
    * array<bigint> sorted ascending with distinct elements.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedLongIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** sortedIntersectCount with PPJoin-style early abandonment for a
    * downstream `jac >= tau` filter (round 22, r21 verdict #5): abandon
    * the merge walk as soon as even a perfect remaining suffix cannot
    * reach the overlap a Jaccard of tau requires. ONLY safe under that
    * filter — see SortedLongIntersectCountBounded for the equivalence
    * argument.
    */
  def sortedIntersectCountBounded(a: Column, b: Column, tau: Double): Column =
    ColumnBridge.column(
      SortedLongIntersectCountBounded(
        ColumnBridge.expression(a), ColumnBridge.expression(b), tau))
}

/** |A ∩ B| for two SORTED-ascending distinct long arrays via a single
  * merge scan — O(n+m) with zero allocation, vs array_intersect's
  * per-row hash-set build + array materialization (we only need the
  * cardinality). Same BENCH-demanded escalation policy as DotProduct;
  * used by the LSH verify stage where candidate volume × set size makes
  * the constant matter. Inputs MUST be sorted distinct (the caller
  * guarantees it via sort_array(array_distinct(...))); nothing is
  * validated at runtime — this is a private fast path, not a public
  * function.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xi = $x.getLong($i); long $yj = $y.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** [[SortedLongIntersectCount]] with POSITIONAL early abandonment (PPJoin's
  * suffix bound, Xiao et al. WWW'08) for consumers that filter on
  * `jac >= tau` (round 22, r21 verdict #5): jac = c/(n+m-c) >= tau forces
  * c >= needed, the smallest count that passes that filter in its own
  * double arithmetic (see [[SortedLongIntersectCountBounded.needed]]), and
  * at any merge position the final count is bounded by
  * c + min(remaining_a, remaining_b) — once that bound drops below
  * `needed`, the walk stops and the PARTIAL count is returned.
  *
  * Output equivalence under the tau filter: for a pair with true jac >= tau
  * the bound never fires (the bound is an upper bound on the true count,
  * which is >= needed), so the exact count — and hence the exact jac in the
  * output — is returned. For a pair with true jac < tau the returned
  * partial c' <= true c < needed, and jac' = c'/(n+m-c') is monotone in c',
  * so the row fails the filter exactly as before. Rows and values are
  * bit-identical either way (IntersectBoundSpec fuzzes this against the
  * exact expression). The bound is checked only on MISMATCH steps (a match
  * leaves `c + remaining` unchanged, so it cannot newly violate the bound);
  * matching pairs pay one extra register add per miss, failing pairs skip
  * the tail of the walk.
  *
  * tau is a plan-time literal (the declared thresholds are constants), so
  * the generated code computes `needed` from the two lengths alone.
  */
case class SortedLongIntersectCountBounded(left: Expression, right: Expression,
    tau: Double) extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count_bounded expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n, m) = (x.numElements(), y.numElements())
    val needed = SortedLongIntersectCountBounded.needed(tau, n, m)
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else {
        if (xi < yj) i += 1 else j += 1
        if (c + math.min(n - i, m - j) < needed) return c
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val needed = ctx.freshName("needed")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val self = SortedLongIntersectCountBounded.getClass.getName + ".MODULE$"
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |long $needed = $self.needed($tau, $n, $m);
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xi = $x.getLong($i); long $yj = $y.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else {
         |    if ($xi < $yj) { $i++; } else { $j++; }
         |    if ($c + java.lang.Math.min($n - $i, $m - $j) < $needed) break;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedLongIntersectCountBounded =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCountBounded {
  /** Smallest c with `c.toDouble / (n + m - c).toDouble >= tau`: the same
    * double division the consumers' jaccard filter evaluates, so a pair
    * that passes the filter never trips the bound. The closed form
    * ceil(tau*(n+m)/(1+tau)) is only the starting guess — in doubles it
    * can overshoot by one (tau=0.8, n=28, m=35 gives 29, yet c=28 yields
    * jac == 0.8 exactly). The division is monotone in c, so stepping from
    * the guess finds the boundary in a step or two.
    */
  def needed(tau: Double, n: Int, m: Int): Long = {
    def passes(c: Long): Boolean = c.toDouble / (n + m - c).toDouble >= tau
    var c = math.ceil(tau * (n + m) / (1.0 + tau)).toLong
    while (c > 0 && passes(c - 1)) c -= 1
    while (c < n + m && !passes(c)) c += 1
    c
  }
}
