package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Ann, Dedup}

/**
 * Codegen expressions for the dedup / ANN hash kernels — the round-5
 * verdict's last boxed-UDF note on plausible 100-TB paths. Each expression
 * calls a static kernel in [[HashKernels]]; the float-vector kernels read
 * Spark's ArrayData IN PLACE (the ScalaUDF forms converted every row to a
 * boxed Seq[Float] + defensive array copy per argument).
 */

/** minhash band buckets of a text column — fuses signature + banding into
 * one call (the UDF form materialized the 64-long signature array per row
 * between two ScalaUDF nodes). */
case class MinhashBandsExpr(child: Expression, shingleN: Int, numHashes: Int, bands: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(t: Any): Any =
    HashKernels.minhashBands(t.asInstanceOf[UTF8String], shingleN, numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.functions.HashKernels.minhashBands($t, $shingleN, $numHashes, $bands)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit simhash of a text column. */
case class SimhashExpr(child: Expression, shingleN: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override protected def nullSafeEval(t: Any): Any =
    Dedup.simhash(t.asInstanceOf[UTF8String].toString, shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"graft.operators.Dedup$$.MODULE$$.simhash($t.toString(), $shingleN)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact word-shingle Jaccard between two text columns. */
case class JaccardExpr(left: Expression, right: Expression, shingleN: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "shingle_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Dedup.jaccard(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.operators.Dedup$$.MODULE$$.jaccard($a.toString(), $b.toString(), $shingleN)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Hyperplane LSH signature of a float-vector column (ArrayData read in place). */
case class PlaneSigExpr(child: Expression, planes: Int) extends UnaryExpression
    with ImplicitCastInputTypes {
  // the Seq[Float] ScalaUDF this replaced made the analyzer cast non-float
  // vectors; declare the same expectation so getFloat never misreads
  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "plane_sig"

  override protected def nullSafeEval(v: Any): Any =
    HashKernels.planeSig(v.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.HashKernels.planeSig($v, $planes)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** sig + all Hamming-1 neighbor buckets (multi-probe expansion). */
case class SigProbesExpr(child: Expression, planes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sig_probes"

  override protected def nullSafeEval(sig: Any): Any =
    HashKernels.sigProbes(sig.asInstanceOf[Long], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.HashKernels.sigProbes($s, $planes)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Cosine similarity of two float-vector columns (ArrayData read in place). */
case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftBridge.AbsDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Index of the nearest IVF centroid by cosine (argmax, ties to the lower
 * list index — exactly the UDF fold it replaces). Centroids ride along as a
 * codegen reference object (nlist x dims floats — tiny). */
case class NearestCentroidExpr(child: Expression, cents: Array[Array[Float]])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  private val centData = HashKernels.asArrayData(cents)

  override protected def nullSafeEval(v: Any): Any =
    HashKernels.nearestCentroid(v.asInstanceOf[ArrayData], centData)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", centData, s"${classOf[ArrayData].getName}[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.HashKernels.nearestCentroid($v, $cRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The `nprobe` nearest IVF list indices, best score first, ties to the
 * lower index — same order law as `sortBy((-score, idx)).take(nprobe)`. */
case class CentroidProbesExpr(child: Expression, cents: Array[Array[Float]], nprobe: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_probes"

  private val centData = HashKernels.asArrayData(cents)

  override protected def nullSafeEval(v: Any): Any =
    HashKernels.centroidProbes(v.asInstanceOf[ArrayData], centData, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", centData, s"${classOf[ArrayData].getName}[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.HashKernels.centroidProbes($v, $cRef, $nprobe)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Stopword-heuristic language id of a text column. NOT null-propagating:
 * null/empty text yields "und", exactly like the UDF form it replaces. */
case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  // never actually null, but declared nullable so the output schema is
  // byte-identical to the ScalaUDF form this replaces (driver schema gate)
  override def nullable: Boolean = true
  override def prettyName: String = "lang_id"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = child.eval(input)
    UTF8String.fromString(graft.operators.TextAnalysis.langIdOf(
      if (t == null) null else t.toString))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
      new StringContext(
        s"""
           |${c.code}
           |boolean ${ev.isNull} = false;
           |UTF8String ${ev.value} = UTF8String.fromString(
           |  graft.operators.TextAnalysis$$.MODULE$$.langIdOf(
           |    ${c.isNull} ? null : ${c.value}.toString()));
           |""".stripMargin)).code())
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** FNV fingerprint of normalized text; null → 0L (UDF-form semantics). */
case class FingerprintExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // schema parity with the ScalaUDF form
  override def prettyName: String = "text_fingerprint"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = child.eval(input)
    graft.operators.TextAnalysis.fingerprintOf(if (t == null) null else t.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
      new StringContext(
        s"""
           |${c.code}
           |boolean ${ev.isNull} = false;
           |long ${ev.value} = graft.operators.TextAnalysis$$.MODULE$$.fingerprintOf(
           |  ${c.isNull} ? null : ${c.value}.toString());
           |""".stripMargin)).code())
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static kernels shared by interpreted eval and generated code. */
object HashKernels {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  def minhashBands(text: UTF8String, shingleN: Int, numHashes: Int, bands: Int): ArrayData = {
    val sig = Dedup.minhashSignature(text.toString, shingleN, numHashes)
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var i = b * rows
      while (i < (b + 1) * rows) { h = h * 1000003L + sig(i); i += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Same fold as [[Ann.signature]], reading the ArrayData in place. */
  def planeSig(v: ArrayData, planes: Int): Long = {
    var sig = 0L
    var p = 0
    val n = v.numElements()
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += v.getFloat(d) * Ann.planeComponent(p, d)
        d += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def sigProbes(sig: Long, planes: Int): ArrayData = {
    val out = new Array[Long](planes + 1)
    out(0) = sig
    var p = 0
    while (p < planes) { out(p + 1) = sig ^ (1L << p); p += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Centroids as `ArrayData`, wrapped once per expression so the scoring
   * loops below reuse [[cosine]]. */
  def asArrayData(vs: Array[Array[Float]]): Array[ArrayData] =
    vs.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData)

  /** argmax over centroids; strict `>` keeps the FIRST max — ties break to
   * the lower list index, like the Seq fold in the UDF it replaces. */
  def nearestCentroid(v: ArrayData, cents: Array[ArrayData]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val s = cosine(v, cents(i))
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  /** Top-`nprobe` centroid indices ordered by (-score, idx) under the same
   * total order as the Scala `sortBy` it replaces (Ordering[Double] is
   * java.lang.Double.compare-based: NaN greatest, -0.0 < 0.0). */
  def centroidProbes(v: ArrayData, cents: Array[ArrayData], nprobe: Int): ArrayData = {
    val n = cents.length
    val scores = new Array[Double](n)
    var i = 0
    while (i < n) { scores(i) = cosine(v, cents(i)); i += 1 }
    // ascending by key (-s, i): index a precedes b iff compare(-s_a,-s_b)<0,
    // ties to the lower index (selection sort keeps it stable)
    @inline def precedes(a: Int, b: Int): Boolean = {
      val c = java.lang.Double.compare(-scores(a), -scores(b))
      if (c != 0) c < 0 else a < b
    }
    val m = math.max(0, math.min(nprobe, n)) // .take(nprobe) tolerated nprobe<0
    val out = new Array[Int](m)
    val used = new Array[Boolean](n)
    var k = 0
    while (k < m) {
      var best = -1
      var j = 0
      while (j < n) {
        if (!used(j) && (best == -1 || precedes(j, best))) best = j
        j += 1
      }
      used(best) = true; out(k) = best; k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Same left-to-right accumulation as [[Ann.cosine]] — bit-identical. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      val av = a.getFloat(i).toDouble
      val bv = b.getFloat(i).toDouble
      dot += av * bv
      na += av * av
      nb += bv * bv
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}

/** Column-level wrappers. */
object HashExprs {
  private def e(c: Column): Expression = GraftBridge.expr(c)

  def minhashBands(text: Column, shingleN: Int, numHashes: Int, bands: Int): Column =
    GraftBridge.column(MinhashBandsExpr(e(text), shingleN, numHashes, bands))

  def simhash(text: Column, shingleN: Int): Column =
    GraftBridge.column(SimhashExpr(e(text), shingleN))

  def jaccard(a: Column, b: Column, shingleN: Int): Column =
    GraftBridge.column(JaccardExpr(e(a), e(b), shingleN))

  def planeSig(vec: Column, planes: Int): Column =
    GraftBridge.column(PlaneSigExpr(e(vec), planes))

  def sigProbes(sig: Column, planes: Int): Column =
    GraftBridge.column(SigProbesExpr(e(sig.cast("long")), planes))

  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineExpr(e(a), e(b)))

  def nearestCentroid(vec: Column, cents: Array[Array[Float]]): Column =
    GraftBridge.column(NearestCentroidExpr(e(vec), cents))

  def centroidProbes(vec: Column, cents: Array[Array[Float]], nprobe: Int): Column =
    GraftBridge.column(CentroidProbesExpr(e(vec), cents, nprobe))

  def langId(text: Column): Column = GraftBridge.column(LangIdExpr(e(text)))

  def fingerprint(text: Column): Column = GraftBridge.column(FingerprintExpr(e(text)))
}
