// Lives inside org.apache.spark.sql because ExpectsInputTypes/AbstractDataType
// are private[sql] — the standard location for third-party Catalyst
// expressions. The public user-facing surface re-exports from graft.*.
package org.apache.spark.sql.graft

import _root_.graft.core._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the five LSH SQL functions the reference
  * registers (/root/reference/src/lib.rs:42-51). All are deterministic,
  * null-intolerant scalars; parameter arguments must be foldable (query
  * constants), the analysis-time analog of the reference's per-chunk
  * `validate_constant_param` (lib.rs:29-38, SURVEY.md §4.3).
  *
  * Hash families are derived once per parameter set and cached process-wide
  * (SURVEY.md §4.4) instead of the reference's per-row RNG reset — the
  * outputs are identical because the reference reseeds per row
  * (minhash.rs:72, euclidean_hash.rs:86).
  */
object LshParams {
  /** Fail analysis unless all parameter expressions are query constants,
    * with the reference's message text (lib.rs:29-38). */
  def checkConstant(params: Seq[(Expression, String)]): TypeCheckResult = {
    params.find(!_._1.foldable) match {
      case Some((_, name)) =>
        TypeCheckFailure(s"$name must be a constant value, not vary per row")
      case None => TypeCheckSuccess
    }
  }

  def evalLong(e: Expression, name: String): Long = e.eval(null) match {
    case null => throw new IllegalArgumentException(s"$name must not be NULL")
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"$name: unexpected $other")
  }

  def evalDouble(e: Expression, name: String): Double = e.eval(null) match {
    case null => throw new IllegalArgumentException(s"$name must not be NULL")
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(s"$name: unexpected $other")
  }

  def toArrayData(bands: Array[Long], is32: Boolean): ArrayData =
    if (is32) {
      val out = new Array[Int](bands.length)
      var i = 0
      while (i < bands.length) { out(i) = bands(i).toInt; i += 1 } // low-32 truncation, lib.rs:23-27
      new GenericArrayData(out)
    } else new GenericArrayData(bands)

  /** Shared null-safe codegen for expressions whose kernel is an instance
    * method `ref.<method>(childValue)` — avoids CodegenFallback's row
    * materialization and boxing in scan-heavy projections. */
  def refCallGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                     ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
                     instance: AnyRef, className: String, method: String,
                     child: Expression, javaResultType: String)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("graftExpr", instance, className)
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        $javaResultType ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.$method(${childGen.value});
        }
      """
    ev.copy(code = code)
  }
}

/** `lsh_min` / `lsh_min32` — banded MinHash over char-n-gram shingles
  * (text overload, 5 args: minhash.rs:154-192) or caller-provided shingles
  * (list overload, 4 args: minhash.rs:85-150). Overload dispatch follows the
  * reference's execution-time type dispatch (minhash.rs:162-166) but at
  * analysis time, on the first argument's type.
  */
case class LshMin(children: Seq[Expression], is32: Boolean)
    extends Expression with ImplicitCastInputTypes {

  private def isTextMode: Boolean = children.length == 5

  override def prettyName: String = if (is32) "lsh_min32" else "lsh_min"

  override def inputTypes: Seq[AbstractDataType] =
    if (isTextMode) Seq(StringType, LongType, LongType, LongType, LongType)
    else Seq(ArrayType(StringType), LongType, LongType, LongType)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 4 && children.length != 5)
      return TypeCheckFailure(s"$prettyName expects 4 (shingle-list) or 5 (text) arguments")
    // Message parity with the reference's dispatch error (minhash.rs:166).
    // Spark's implicit casts already turn atomics into strings (a superset of
    // the reference's exact-signature matching); this branch catches the
    // genuinely uncastable complex types.
    children.head.dataType match {
      case StringType | ArrayType(_, _) | NullType =>
      case _: org.apache.spark.sql.types.AtomicType =>
      case _ =>
        return TypeCheckFailure("Unsupported argument type for MinHash")
    }
    val base = super.checkInputDataTypes()
    if (!base.isInstanceOf[TypeCheckSuccess.type]) return base
    val paramNames =
      if (isTextMode) Seq("ngram_width", "band_count", "band_size", "seed")
      else Seq("band_count", "band_size", "seed")
    LshParams.checkConstant(children.tail.zip(paramNames))
  }

  override def nullable: Boolean = children.head.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  override def dataType: DataType =
    ArrayType(if (is32) IntegerType else LongType, containsNull = false)

  @transient private lazy val ngramWidth: Int =
    if (isTextMode) LshParams.evalLong(children(1), "ngram_width").toInt else 0
  @transient private lazy val family: MinHashFamily = {
    val off = if (isTextMode) 2 else 1
    MinHashFamily(
      LshParams.evalLong(children(off), "band_count").toInt,
      LshParams.evalLong(children(off + 1), "band_size").toInt,
      LshParams.evalLong(children(off + 2), "seed"))
  }

  /** Unboxed entry point shared by eval and generated code. `v` is a
    * UTF8String (text mode) or ArrayData (shingle-list mode). */
  def hashValue(v: AnyRef): ArrayData = {
    val set =
      if (isTextMode) {
        val s = v.asInstanceOf[UTF8String].getBytes
        Shingles.fromTextUtf8(s, 0, s.length, ngramWidth)
      } else {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val hs = new Array[Int](n)
        var i = 0
        while (i < n) {
          // NULL list elements are untested in the reference; treat as ''.
          val s = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
          val b = s.getBytes
          val cps = Shingles.codePointsUtf8(b, 0, b.length)
          hs(i) = FxHash.hashCodePoints(cps, cps.length)
          i += 1
        }
        Shingles.fromHashes(hs)
      }
    LshParams.toArrayData(family.hash(set), is32)
  }

  override def eval(input: InternalRow): Any = {
    val v = children.head.eval(input)
    if (v == null) null else hashValue(v.asInstanceOf[AnyRef])
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    LshParams.refCallGenCode(ctx, ev, this, classOf[LshMin].getName, "hashValue",
      children.head, "org.apache.spark.sql.catalyst.util.ArrayData")

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** `lsh_euclidean` / `lsh_euclidean32` — banded p-stable (Gaussian) LSH over
  * a double vector (euclidean_hash.rs:20-98). The all-arrays-same-length rule
  * (euclidean_hash.rs:31-45) is enforced per task partition — a deterministic
  * superset of the reference's chunk-scoped check (SURVEY.md §2.2.5).
  */
case class LshEuclidean(children: Seq[Expression], is32: Boolean)
    extends Expression with ImplicitCastInputTypes {

  override def prettyName: String = if (is32) "lsh_euclidean32" else "lsh_euclidean"

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType, LongType, LongType, LongType)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 5)
      return TypeCheckFailure(s"$prettyName expects 5 arguments")
    val base = super.checkInputDataTypes()
    if (!base.isInstanceOf[TypeCheckSuccess.type]) return base
    LshParams.checkConstant(
      children.tail.zip(Seq("bucket_width", "band_count", "band_size", "seed")))
  }

  override def nullable: Boolean = children.head.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  override def dataType: DataType =
    ArrayType(if (is32) IntegerType else LongType, containsNull = false)

  @transient private lazy val bucketWidth: Double =
    LshParams.evalDouble(children(1), "bucket_width")
  @transient private lazy val bandCount: Int =
    LshParams.evalLong(children(2), "band_count").toInt
  @transient private lazy val bandSize: Int =
    LshParams.evalLong(children(3), "band_size").toInt
  @transient private lazy val seed: Long = LshParams.evalLong(children(4), "seed")

  // Last (d -> family) pair; volatile + immutable tuple so concurrent task
  // threads sharing this instance (plan references are per-executor) never
  // see a torn pairing. The same-length rule is enforced against the first
  // dimensionality this instance observed — a deterministic superset of the
  // reference's chunk-scoped check (SURVEY.md §2.2.5). Both holders are
  // lazy vals so they re-initialize after task deserialization (a @transient
  // var's initializer is lost and the field silently resets to 0/null).
  @transient @volatile private var cachedFam: (Int, EuclideanFamily) = _
  @transient private lazy val firstD = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Unboxed entry point shared by eval and generated code. */
  def hashValue(arr: ArrayData): ArrayData = {
    val d = arr.numElements()
    val f0 = if (firstD.compareAndSet(-1, d)) d else firstD.get()
    if (f0 != d)
      throw new IllegalArgumentException("All input arrays must have the same length")
    val c = cachedFam
    val fam = if (c != null && c._1 == d) c._2 else {
      val nf = EuclideanFamily(bucketWidth, bandCount, bandSize, seed, d)
      cachedFam = (d, nf)
      nf
    }
    LshParams.toArrayData(fam.hash(arr.toDoubleArray()), is32)
  }

  override def eval(input: InternalRow): Any = {
    val v = children.head.eval(input)
    if (v == null) null else hashValue(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    LshParams.refCallGenCode(ctx, ev, this, classOf[LshEuclidean].getName, "hashValue",
      children.head, "org.apache.spark.sql.catalyst.util.ArrayData")

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** `lsh_jaccard` — exact Jaccard similarity of two strings' char-n-gram
  * shingle sets; NULL if either side is NULL, 0.0 if either set is empty
  * (minhash.rs:236-296, shingleset.rs:49-57).
  *
  * Unlike the other LSH expressions this one hand-implements `doGenCode`:
  * it sits in join filters evaluated tens of millions of times per bucket
  * (README.md:150-164 pattern), where CodegenFallback's per-row boxing and
  * row materialization are measurable.
  */
case class LshJaccard(left: Expression, right: Expression, width: Expression)
    extends Expression with ImplicitCastInputTypes {

  override def prettyName: String = "lsh_jaccard"
  override def children: Seq[Expression] = Seq(left, right, width)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType, LongType)

  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isInstanceOf[TypeCheckSuccess.type]) return base
    LshParams.checkConstant(Seq(width -> "ngram_width"))
  }

  override def nullable: Boolean = left.nullable || right.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  override def dataType: DataType = DoubleType

  @transient private lazy val ngramWidth: Int =
    LshParams.evalLong(width, "ngram_width").toInt

  // Band-blocking joins (README.md:150-164) evaluate this pairwise over
  // candidate buckets, so the same strings recur millions of times (the
  // buffered join side cycles through its whole bucket per probe row). A
  // process-wide cache of sorted-int-array shingle sets turns O(pairs)
  // shingle builds into O(distinct strings) — ~76M builds at sf0.1 drop to
  // ~15k — and the compact sorted layout (4 B/shingle, merge-scan
  // intersection) keeps the working set inside shared cache where 32
  // thread-private hash sets thrashed DRAM. Bounded by entries and bytes;
  // cleared wholesale on overflow (read-mostly CHM, no eviction machinery).
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Array[Int]](1 << 12)
  @transient private lazy val memoBytes = new java.util.concurrent.atomic.AtomicLong()
  private final val MaxEntries = 1 << 17
  private final val MaxBytes = 256L << 20

  // An entry's bytes are counted only when its insert wins, so a lost race
  // adds nothing and the first entry after a clear is counted.
  private def shingleSet(s: UTF8String): Array[Int] = {
    val hit = memo.get(s)
    if (hit != null) return hit
    val bytes = s.getBytes
    val set = Shingles.sortedShinglesUtf8(bytes, 0, bytes.length, ngramWidth)
    val cost = bytes.length + 4L * set.length + 48L
    if (memo.size() >= MaxEntries || memoBytes.get() + cost > MaxBytes) {
      memo.clear()
      memoBytes.set(0L)
    }
    if (memo.putIfAbsent(s.clone(), set) == null) memoBytes.addAndGet(cost)
    set
  }

  /** Unboxed entry point shared by eval and generated code. */
  def jaccard(a: UTF8String, b: UTF8String): Double =
    Shingles.jaccardSorted(shingleSet(a), shingleSet(b))

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    jaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("lshJaccard", this, classOf[LshJaccard].getName)
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val code =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull} || ${rightGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.jaccard(${leftGen.value}, ${rightGen.value});
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(left = newChildren(0), right = newChildren(1), width = newChildren(2))
}
