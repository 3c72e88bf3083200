package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * Lives under `org.apache.spark.sql` because `AbstractDataType` /
  * `ExpressionUtils` are `private[sql]` — the standard packaging for
  * third-party native expressions. The public API is
  * `graft.functions.NativeVector`.
  *
  * These are the innermost loops of the O(n²)-per-bucket pair operators
  * (embedding near-dup, brute-force/IVF knn). A Scala UDF pays per-row
  * conversion — Catalyst copies each ArrayData into an Array[Float]
  * before the call, and the call is a black box to whole-stage codegen.
  * A native BinaryExpression with doGenCode reads ArrayData elements in
  * place inside the generated loop: no copy, no virtual call, fused into
  * the surrounding WholeStageCodegen stage. Interpreted eval
  * (nullSafeEval) is semantically identical for non-codegen paths.
  *
  * Math is a left-to-right double multiply-accumulate in both modes, so
  * results stay bit-identical to a single-threaded oracle evaluating the
  * same expression order (the DuckDB gate relies on this).
  *
  * Null elements inside the arrays are not expected (embeddings are
  * dense); lengths may differ — the loop runs over the common prefix.
  */
final case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: several FloatDots can share one generated Java scope
      // (cosine = dot/(√dot·√dot)); fixed local names would collide
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product over quantized code arrays — the SemDeDup
  * pair loop (int8 codes vs codes) and centroid scoring (codes vs the
  * integer centroid-sum vector). Left is `array<int>`; right is
  * `array<int>` or `array<long>` (resolved once at bind). Result LONG,
  * exact: |code| <= 127 so 127²·dim and 127·sum(|codes|)·dim sit far
  * under Long range — integer sums are associative, which is what keeps
  * the operator hash-checkable in any evaluation order. Replaces the
  * interpreted zip_with+aggregate lambda pair (CodegenFallback) that
  * made dd_semdedup the worst bench ratio in r18's quiet capture.
  *
  * NULL contract (r18 ADVICE): the zip_with+aggregate forms this
  * replaced answer NULL for length-mismatched inputs (zip_with pads
  * with nulls, `null * x` poisons the sum) and for null elements — so
  * this expression does too, instead of silently summing a truncated
  * prefix. The quantizer's fixed-dim non-null codes never hit either
  * branch, so existing call sites are value-identical. */
final case class IntDotLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(IntegerType), ArrayType(LongType)),
      TypeCollection(ArrayType(IntegerType), ArrayType(LongType)))
  override def dataType: DataType = LongType
  // NULL out of non-null inputs on length mismatch / null elements —
  // force the isNull slot even when both children are non-nullable
  override def nullable: Boolean = true
  override def prettyName: String = "int_dot"

  private def isLong(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  private def mayHoldNulls(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
  private lazy val leftIsLong = isLong(left)
  private lazy val rightIsLong = isLong(right)
  // the NULL-element leg of the contract is only reachable when a
  // child's array type admits null elements — when both schemas prove
  // containsNull=false (the dd_semdedup/km_embed quantized-code case),
  // the hot loop is emitted WITHOUT the per-element isNullAt branch
  // (the r18 ADVICE fix added it unconditionally and taxed the tight
  // integer loop; the contract is unchanged, the check is just proven
  // away at plan time)
  private lazy val elementsNullable = mayHoldNulls(left) || mayHoldNulls(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = if (leftIsLong) x.getLong(i) else x.getInt(i).toLong
      val yv = if (rightIsLong) y.getLong(i) else y.getInt(i).toLong
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val bad = ctx.freshName("bad")
      val lget = if (leftIsLong) s"$a.getLong($i)"
        else s"(long) $a.getInt($i)"
      val rget = if (rightIsLong) s"$b.getLong($i)"
        else s"(long) $b.getInt($i)"
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $lget * $rget;
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotLong =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between an `array<float>` (data vector) and an
  * `array<double>` (e.g. a KMeans centroid) — the IVF cell-assignment
  * inner loop. */
final case class FloatDoubleDist2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_double_dist2"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDoubleDist2 =
    copy(left = newLeft, right = newRight)
}

/** Dot product of an `array<float>` (data vector) against an
  * `array<double>` (e.g. a PQ codebook centroid) — the residual IVF-PQ
  * encoding inner loop, where `argmin_c ||x−t−c||²` reduces to
  * `argmin_c (||t+c||² − 2·x·c)` and `x·c` is the only per-row term. */
final case class FloatDoubleDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_double_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDoubleDot =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid id (squared-L2 argmin, first-wins ties) of an
  * `array<float>` vector against a centroid table bound as a REFERENCE
  * OBJECT, not as plan literals. The literal-array formulation
  * (array_position(array_min(array(dist², …)))) was semantically right
  * but carried every centroid component as an expression-tree literal —
  * with 32 cells × 64 dims × several call sites, Catalyst spent seconds
  * per query just walking the tree (measured: the r4 IVF-PQ gate at
  * 500 rows took ~17 s of pure plan overhead). A reference object is
  * one opaque pointer in the plan: analysis cost is O(1) and the row
  * loop is identical machine code. */
final case class NearestCentroid(child: Expression,
    centers: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(a: Any): Any =
    NearestCentroid.assign(a.asInstanceOf[ArrayData], centers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centers", centers, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.NearestCentroid.assign($a, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  /** shared by interpreted eval and generated code — one definition of
    * the loop, bit-identical results on both paths */
  def assign(x: ArrayData, centers: Array[Array[Double]]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      val n = math.min(x.numElements(), ctr.length)
      var d = 0.0
      var j = 0
      while (j < n) {
        val t = x.getFloat(j).toDouble - ctr(j)
        d += t * t
        j += 1
      }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }
}

/** All `m` PQ residual codes of a vector in ONE expression:
  * `code_i = argmin_c normTabs(i)(cell·cs + c) − 2·x_i·c` (the
  * `‖t+c‖² − 2·x·c` expansion — `‖x‖²` is constant in c and drops out).
  * Codebooks and shifted-centroid norm tables ride as reference
  * objects; the previous form spelled each of m × codebookSize
  * distances out as expression nodes over literal arrays, which put
  * ~131k literal doubles in the plan tree for m=16/cs=16/nCells=32.
  * Plain (non-residual) PQ is the nCells=1 special case: pass
  * `cell = 0` and norm tables of the raw codebook norms. */
final case class PqEncodeResidual(left: Expression, right: Expression,
    normTabs: Array[Array[Double]], codebooks: Array[Array[Array[Double]]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_residual"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      PqEncodeResidual.encode(a.asInstanceOf[ArrayData],
        b.asInstanceOf[Int], normTabs, codebooks))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tabs = ctx.addReferenceObj("normTabs", normTabs, "double[][]")
    val books = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  org.apache.spark.sql.graft.PqEncodeResidual.encode($a, $b, $tabs, $books));
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeResidual =
    copy(left = newLeft, right = newRight)
}

object PqEncodeResidual {
  def encode(x: ArrayData, cell: Int, normTabs: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Array[Int] = {
    val m = codebooks.length
    val out = new Array[Int](m)
    var i = 0
    var off = 0 // = i * sub, subvector base offset
    while (i < m) {
      val book = codebooks(i)
      val tab = normTabs(i)
      val cs = book.length
      val sub = book(0).length
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < cs) {
        val ctr = book(c)
        var dot = 0.0
        var j = 0
        while (j < sub) {
          dot += x.getFloat(off + j).toDouble * ctr(j)
          j += 1
        }
        val d = tab(cell * cs + c) - 2.0 * dot
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      out(i) = best
      off += sub
      i += 1
    }
    out
  }
}

/** ADC score: `Σ_i dtab[i·cs + codes[i]]` — the per-candidate PQ lookup
  * sum, one tight loop over the codes array instead of m chained
  * element_at nodes. `dtab` is the per-query (or per query × probed
  * cell) flat lookup table; summation order is i = 0..m−1, identical
  * to the previous expression chain. */
final case class AdcLookupSum(left: Expression, right: Expression,
    codebookSize: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_lookup_sum"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    AdcLookupSum.score(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], codebookSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.AdcLookupSum.score($a, $b, $codebookSize);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLookupSum =
    copy(left = newLeft, right = newRight)
}

object AdcLookupSum {
  def score(codes: ArrayData, dtab: ArrayData, cs: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      s += dtab.getDouble(i * cs + codes.getInt(i))
      i += 1
    }
    s
  }
}

/** Count of array elements contained in a small CONSTANT word set —
  * the text-quality hot loop (`size(filter(toks,
  * t.isInCollection(words)))` is an interpreted ArrayFilter lambda
  * with a per-element linear In; this is a codegen'd loop over a
  * shared UTF8String hash set). Value-identical to the lambda form:
  * duplicates count per occurrence (NOT array_intersect's set
  * semantics), null elements never count, a NULL array answers NULL.
  * The set is built once per (driver, executor) and shipped by
  * reference into the generated code. */
final case class CountInSet(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in_set"

  @transient private lazy val set
      : java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[
      org.apache.spark.unsafe.types.UTF8String](words.size * 2)
    words.foreach(w => s.add(
      org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val m = arr.numElements()
    var n = 0
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set,
      "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = 0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i) && $setRef.contains($a.getUTF8String($i))) $n++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): CountInSet = copy(child = newChild)
}

/** Count of array elements whose (optionally space-trimmed) value
  * matches a CONSTANT regex — the Gopher line/word-rule hot loop
  * (`size(filter(lines, l => trim(l).rlike(re)))` is an interpreted
  * ArrayFilter lambda evaluated per element per row; this is one
  * codegen'd loop over a shared compiled Pattern). Value-identical to
  * the lambda form: `trimFirst` applies UTF8String.trim (ASCII space
  * only — exactly Spark's trim()), the match is Matcher.find (exactly
  * RLIKE's semantics), null elements never count, and a NULL array
  * answers NULL. That last match holds only while
  * `spark.sql.legacy.sizeOfNull` is false (or ANSI mode overrides it):
  * under the legacy setting size(filter(NULL)) is -1, not NULL. The
  * Pattern compiles
  * once per (driver, executor) and ships by reference into the
  * generated code; Pattern is thread-safe (each call gets its own
  * Matcher). */
final case class CountMatching(child: Expression, regex: String,
    trimFirst: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_matching"

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(regex)

  override protected def nullSafeEval(a: Any): Any =
    CountMatching.count(a.asInstanceOf[ArrayData], pattern, trimFirst)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pattern", pattern,
      "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = org.apache.spark.sql.graft.CountMatching.count(
         |  $a, $patRef, $trimFirst);""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CountMatching = copy(child = newChild)
}

object CountMatching {
  def count(arr: ArrayData, pattern: java.util.regex.Pattern,
      trimFirst: Boolean): Int = {
    val m = arr.numElements()
    var n = 0
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        var s = arr.getUTF8String(i)
        if (trimFirst) s = s.trim()
        if (pattern.matcher(s.toString).find()) n += 1
      }
      i += 1
    }
    n
  }
}

/** Column builders (bridging `private[sql]` ExpressionUtils). */
object NativeVectorColumns {
  def countInSet(arr: Column, words: Seq[String]): Column =
    ExpressionUtils.column(
      CountInSet(ExpressionUtils.expression(arr), words))

  def countMatching(arr: Column, regex: String,
      trimFirst: Boolean): Column =
    ExpressionUtils.column(
      CountMatching(ExpressionUtils.expression(arr), regex, trimFirst))
  def floatDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def floatDoubleDist2(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatDoubleDist2(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def intDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      IntDotLong(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def floatDoubleDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatDoubleDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def nearestCentroid(vec: Column, centers: Array[Array[Double]]): Column =
    ExpressionUtils.column(
      NearestCentroid(ExpressionUtils.expression(vec), centers))

  def pqEncodeResidual(vec: Column, cell: Column,
      normTabs: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(
      PqEncodeResidual(ExpressionUtils.expression(vec),
        ExpressionUtils.expression(cell), normTabs, codebooks))

  def adcLookupSum(codes: Column, dtab: Column, codebookSize: Int): Column =
    ExpressionUtils.column(
      AdcLookupSum(ExpressionUtils.expression(codes),
        ExpressionUtils.expression(dtab), codebookSize))
}

/** Column bridge for the VARIANT JSON generators (r17 VERDICT #6):
  * `variant_explode` is registered only as a TABLE-valued function in
  * Spark's SQL registry, so the Column API can't name it — this builds
  * the Catalyst [[org.apache.spark.sql.catalyst.expressions.variant
  * .VariantExplode]] generator directly (the codegen'd JSON path:
  * `parse_json` is RuntimeReplaceable into a StaticInvoke where
  * `from_json` is CodegenFallback/interpreted). */
object VariantColumns {
  def variantExplode(c: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.variant.VariantExplode(
        ExpressionUtils.expression(c)))
}
