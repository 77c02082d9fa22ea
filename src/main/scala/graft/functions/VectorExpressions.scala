package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/dedup hot paths.
  *
  * `aggregate(zip_with(a, b, ...), ...)` builds an intermediate array per
  * row and interprets two lambda closures per element; at 100 TB × 64-d
  * that is the inner loop of every similarity join. [[CosineSimilarity]]
  * replaces it with one fused, whole-stage-codegen'd loop (dot product and
  * both norms in a single pass, same left-to-right summation order, so
  * results are bit-identical to the HOF formulation and the DuckDB
  * oracle).
  *
  * The reference has no vector ops — this is the §7.2.7 extension surface
  * where SURVEY §7.3 predicted custom expressions would first pay off.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
        |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

/** Exact Jaccard similarity of two string arrays, treated as sets.
  * Single hash-set pass instead of array_intersect + array_union (each of
  * which allocates and re-hashes). Interpreted eval is fine here: the
  * dedup verify step runs on LSH candidates only, not the full pair space. */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val sx = new java.util.HashSet[Any]()
    var i = 0
    while (i < x.numElements()) { sx.add(x.getUTF8String(i)); i += 1 }
    val sy = new java.util.HashSet[Any]()
    i = 0
    while (i < y.numElements()) { sy.add(y.getUTF8String(i)); i += 1 }
    var inter = 0
    val it = sy.iterator()
    while (it.hasNext) { if (sx.contains(it.next())) inter += 1 }
    val union = sx.size() + sy.size() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_similarity"
}

/** Exact Jaccard similarity of two SORTED `array<long>` sets (ascending,
  * no duplicates — the caller materializes them once per document with
  * `array_sort(transform(words, w -> xxhash64(w)))`). A single fused
  * merge-intersection in whole-stage codegen: no per-row allocation, no
  * string comparison, no boxing. This is the pair-verify inner loop of the
  * dedup joins — at 9M candidate pairs the HashSet-based
  * [[JaccardSimilarity]] costs minutes where this costs seconds, and at
  * 100 TB the gap is the difference between a feasible verify stage and
  * an infeasible one. */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_long_jaccard expects two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
        |int $nx = $a.numElements(); int $ny = $b.numElements();
        |int $i = 0; int $j = 0; int $inter = 0;
        |while ($i < $nx && $j < $ny) {
        |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
        |  if ($xi == $yj) { $inter++; $i++; $j++; }
        |  else if ($xi < $yj) { $i++; } else { $j++; }
        |}
        |int $union = $nx + $ny - $inter;
        |${ev.value} = $union == 0 ? 0.0 : (double) $inter / $union;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_long_jaccard"
}

/** First common element of two SORTED ascending `array<long>` sets, or
  * NULL when they are disjoint. One fused merge in whole-stage codegen —
  * the exactly-once candidate-emission rule of the prefix-filter joins:
  * a (doc_a, doc_b) pair that shares k prefix tokens appears in k joined
  * rows, and `first_common_long(a.pref, b.pref) == current token` is true
  * in exactly one of them (the minimum shared token), so the join emits
  * each pair once with NO dedup shuffle — the same trick d02's
  * first-matching-band CASE chain plays for LSH bands, generalized to
  * variable-length prefixes. */
case class FirstCommonLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // Like the ascending-sorted requirement, null-free elements are a
    // RUNTIME contract (null elements would be read as arbitrary longs
    // by getLong): it cannot be enforced statically because a parquet
    // round-trip (Materialize reliable mode) erases containsNull=false
    // even though the data is unchanged.
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"first_common_long expects two array<bigint> (null-free, " +
        s"elements sorted ascending) arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) return xi
      else if (xi < yj) i += 1
      else j += 1
    }
    null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val found = ctx.freshName("found")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
        |int $nx = $a.numElements(); int $ny = $b.numElements();
        |int $i = 0; int $j = 0; boolean $found = false;
        |while ($i < $nx && $j < $ny) {
        |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
        |  if ($xi == $yj) { ${ev.value} = $xi; $found = true; break; }
        |  else if ($xi < $yj) { $i++; } else { $j++; }
        |}
        |if (!$found) { ${ev.isNull} = true; }
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "first_common_long"
}

/** Exact intersection size of two SORTED ascending `array<long>` sets
  * (same runtime contract as [[SortedLongJaccard]]), with an EARLY-EXIT
  * miss budget: returns |A∩B| when at most `budget` elements of A are
  * missing from B, and −1 as soon as the (budget+1)-th miss is seen —
  * without finishing the merge. This is the containment-verify inner
  * loop: a candidate pair needs containment(A→B) = |A∩B|/|A| ≥ t, i.e.
  * at most ⌊(1−t)·|A|⌋ misses, so a false candidate (the overwhelming
  * majority — measured 15.8M candidates vs 79k true pairs at sf0.1)
  * dies after ~(1−t)·|A| merge steps instead of |A|+|B|. The −1 branch
  * never lies: misses only accumulate, so once over budget the true
  * containment is provably < t (modulo the caller's epsilon discipline
  * on the budget itself). */
case class SortedLongIntersectBudget(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // null-free elements are a runtime contract, as in FirstCommonLong
    val arraysOk = Seq(first, second).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (arraysOk && third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_long_intersect_within expects (array<bigint> null-free elements, " +
        s"array<bigint> null-free elements, int), got ${first.dataType.simpleString}, " +
        s"${second.dataType.simpleString}, ${third.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any, bud: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val budget = bud.asInstanceOf[Int]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0; var miss = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) {
        miss += 1
        if (miss > budget) return -1
        i += 1
      } else j += 1
    }
    if (miss + (nx - i) > budget) -1 else inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, bud) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter"); val miss = ctx.freshName("miss")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val over = ctx.freshName("over")
      s"""
        |int $nx = $a.numElements(); int $ny = $b.numElements();
        |int $i = 0; int $j = 0; int $inter = 0; int $miss = 0;
        |boolean $over = false;
        |while ($i < $nx && $j < $ny) {
        |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
        |  if ($xi == $yj) { $inter++; $i++; $j++; }
        |  else if ($xi < $yj) {
        |    $miss++;
        |    if ($miss > $bud) { $over = true; break; }
        |    $i++;
        |  } else { $j++; }
        |}
        |${ev.value} = ($over || $miss + ($nx - $i) > $bud) ? -1 : $inter;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "sorted_long_intersect_within"
}

/** Delta-varint codec for SORTED arrays of non-negative longs (dense
  * vocabulary RANKS, not raw 64-bit hashes — uniform hashes have ~2^57
  * average gaps and do not compress; dense ranks over a V-token
  * vocabulary have ~V/|doc| gaps, 2–3 varint bytes each). This is the
  * wire format of the past-broadcast exact-verify attach: the one
  * pair-linear array-laden exchange is the floor of that path, so its
  * per-pair CONSTANT (bytes shipped per attached set) is the knob —
  * measured ~3× smaller than the UnsafeArrayData long-array layout on
  * the sf1.0 corpus. Both methods are called from generated code via the
  * object's static forwarders, keeping the verify inside whole-stage
  * codegen. */
object Varint {

  /** Encode a sorted non-negative long array as unsigned LEB128 deltas
    * (first element absolute, then successive gaps). */
  def encode(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val buf = new Array[Byte](n * 10)
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      val cur = arr.getLong(i)
      var v = cur - prev
      prev = cur
      while ((v & ~0x7FL) != 0L) {
        buf(pos) = ((v & 0x7FL) | 0x80L).toByte; pos += 1; v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
      i += 1
    }
    java.util.Arrays.copyOf(buf, pos)
  }

  /** [[SortedLongIntersectBudget]]'s early-exit merge, transposed onto
    * two delta-varint streams: returns the EXACT |A∩B| when at most
    * `budget` elements of A are missing from B, −1 as soon as the
    * (budget+1)-th miss is proven — including A's un-merged tail once B
    * exhausts, and including the `budget < 0` degenerate case (−1 even
    * on a perfect match, matching the array form bit-for-bit). */
  def intersectWithin(a: Array[Byte], b: Array[Byte], budget: Int): Int = {
    val la = a.length; val lb = b.length
    var ia = 0; var ib = 0
    var va = 0L; var vb = 0L
    var inter = 0; var miss = 0
    var haveA = false; var haveB = false
    while (true) {
      if (!haveA) {
        if (ia >= la) return if (miss > budget) -1 else inter
        var d = 0L; var shift = 0; var bt = 0
        do { bt = a(ia); ia += 1; d |= (bt & 0x7FL) << shift; shift += 7 }
        while ((bt & 0x80) != 0)
        va += d; haveA = true
      }
      if (!haveB) {
        if (ib >= lb) {
          // B exhausted: the current A element and every remaining one
          // is a miss — count them (decode-skip, bounded by the budget)
          miss += 1
          while (miss <= budget && ia < la) {
            var bt = 0
            do { bt = a(ia); ia += 1 } while ((bt & 0x80) != 0)
            miss += 1
          }
          return if (miss > budget) -1 else inter
        }
        var d = 0L; var shift = 0; var bt = 0
        do { bt = b(ib); ib += 1; d |= (bt & 0x7FL) << shift; shift += 7 }
        while ((bt & 0x80) != 0)
        vb += d; haveB = true
      }
      if (va == vb) { inter += 1; haveA = false; haveB = false }
      else if (va < vb) {
        miss += 1
        if (miss > budget) return -1
        haveA = false
      } else haveB = false
    }
    -1 // unreachable
  }
}

/** `varint_delta_encode(array<long>) → binary` — see [[Varint]]. The
  * input must be sorted ascending and non-negative (dense ranks); the
  * expression does not re-check (it sits on a per-doc aggregate output,
  * not user input). */
case class VarintDeltaEncode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"varint_delta_encode expects array<bigint>, got ${other.simpleString}")
    }

  override def nullSafeEval(a: Any): Any =
    Varint.encode(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Varint.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "varint_delta_encode"
}

/** `varint_intersect_within(binary, binary, int) → int` — the budgeted
  * exact-intersection merge over two [[Varint]]-encoded sorted sets;
  * same contract as [[SortedLongIntersectBudget]]. */
case class VarintIntersectWithin(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == BinaryType && second.dataType == BinaryType &&
        third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"varint_intersect_within expects (binary, binary, int), got " +
        s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any, bud: Any): Any =
    Varint.intersectWithin(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], bud.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, bud) => s"graft.functions.Varint.intersectWithin($a, $b, $bud)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "varint_intersect_within"
}

/** Column-level API (SQL names are registered by [[graft.GraftExtensions]]). */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.Bridge

  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a), Bridge.expression(b)))

  def jaccard_similarity(a: Column, b: Column): Column =
    Bridge.column(JaccardSimilarity(
      Bridge.expression(a), Bridge.expression(b)))

  def sorted_long_jaccard(a: Column, b: Column): Column =
    Bridge.column(SortedLongJaccard(
      Bridge.expression(a), Bridge.expression(b)))

  def first_common_long(a: Column, b: Column): Column =
    Bridge.column(FirstCommonLong(
      Bridge.expression(a), Bridge.expression(b)))

  def sorted_long_intersect_within(a: Column, b: Column, budget: Column): Column =
    Bridge.column(SortedLongIntersectBudget(
      Bridge.expression(a), Bridge.expression(b), Bridge.expression(budget)))

  def varint_delta_encode(a: Column): Column =
    Bridge.column(VarintDeltaEncode(Bridge.expression(a)))

  def minhash_sig(whs: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    Bridge.column(MinHashSig(Bridge.expression(whs), numHashes, seed))

  def varint_intersect_within(a: Column, b: Column, budget: Column): Column =
    Bridge.column(VarintIntersectWithin(
      Bridge.expression(a), Bridge.expression(b), Bridge.expression(budget)))

  /** Shared validation for sketch-shape SQL arguments: they must be
    * integer LITERALS (they fix buffer/signature widths baked in at
    * analysis time). Every GraftExtensions entry with such an argument
    * goes through it, so the rule and its error text are defined once. */
  private[graft] def longLitArg(
      x: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, what: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    x match {
      case Literal(v: Int, _: IntegerType) => v.toLong
      case Literal(v: Long, _: LongType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got ${other.sql}")
    }
  }

  /** Reject instead of truncating: a wrapped numHashes would silently
    * build a different sketch shape than the caller asked for. */
  private[graft] def intLitArg(
      x: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, what: String): Int = {
    val v = longLitArg(x, fn, what)
    require(v >= Int.MinValue && v <= Int.MaxValue,
      s"$fn: $what out of int range: $v")
    v.toInt
  }
}
