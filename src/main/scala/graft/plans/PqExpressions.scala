package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the product-quantization hot path
  * (optimization round 17, guide §4: eliminate interpreted
  * `Expression`s in the hot path).
  *
  * The HOF formulations (`transform` × `aggregate` × `zip_with` over a
  * nested-array literal model) evaluate INTERPRETED: per candidate row
  * the encode walked M×k codebook entries through boxed lambda
  * machinery — measured as both the dominant cost of the served PQ
  * search and the source of a 3x full-run GC-pressure swing on
  * q_ann_sql_pq. These expressions run the identical integer
  * arithmetic as tight primitive loops.
  *
  * VALUE CONTRACT (bit-identical to the HOF forms, oracle-pinned):
  *  - quantization = Spark `round(x.cast(double) * q).cast(long)`,
  *    which rounds HALF_UP on the decimal string of the double and
  *    then truncates to long. [[PqOps.quant]] gets the same long from
  *    exact double arithmetic (see its scaladoc for why), including
  *    the NaN/Infinity passthrough of Spark's Round.
  *  - per-subspace distance = Σ (xq − cq)² in longs (exact, order-free).
  *  - encode argmin: entries iterated in ascending entry-id order,
  *    STRICT less — ties keep the smallest id (pqEncode's fold).
  *  - ADC score = Σ_s dtab[s·k + codes[s]] in longs.
  *
  * Null contract: standard null-intolerant expressions (NULL in → NULL
  * out); a NULL array ELEMENT is rejected loudly by [[PqOps.checkDim]]
  * (a plain element read would decode it as 0.0f).
  */
object PqOps {
  /** A wrong-dimension vector — a user's query panel or a corrupt
    * stored embedding — must raise a descriptive error, not an
    * ArrayIndexOutOfBoundsException from generated code (or a silent
    * garbage read). So must a NULL component, which `getFloat` would
    * read as 0.0f. `input` names what the vector is (the expression's
    * caller knows: "query vector", "stored embedding"). One integer
    * compare and m·dsub null-bit reads per ROW — noise next to the
    * M×k×dsub loops it guards.
    */
  def checkDim(v: ArrayData, m: Int, dsub: Int, op: String, input: String): Unit = {
    val n = v.numElements()
    if (n != m * dsub)
      throw new IllegalArgumentException(
        s"$op: wrong-dimension $input: $n components, the PQ model " +
          s"expects ${m * dsub} (m=$m subspaces x dsub=$dsub)")
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"$op: NULL component at position $i of the $input " +
            s"($n components)")
      i += 1
    }
  }

  private final val TwoPow52 = 4503599627370496.0 // 2^52

  /** Spark-Round-exact quantization of one float component:
    * `round(x.toDouble * q).toLong` as Spark computes it, which is
    * HALF_UP rounding of the decimal string `Double.toString(d)`.
    *
    * That string is a decimal that reads back as `d`, so it lies inside
    * `d`'s own rounding interval. For |d| < 2^52 every `k + 0.5` is an
    * exactly representable double, hence it is `d` itself or lies
    * outside that interval: the string can never land on or cross the
    * tie that separates two HALF_UP results, and HALF_UP of the string
    * equals HALF_UP of the exact `d`. Below 2^52, `floor`, `a − floor(a)`
    * and `floor + 1` are all exact, so the branch below computes that
    * exact HALF_UP with no string. At |d| ≥ 2^52 `d` is already an
    * integer; NaN and ±Inf pass through Spark's Round unchanged; all
    * three end in the same truncating `toLong`.
    */
  def quant(x: Float, q: Double): Long = {
    val d = x.toDouble * q
    val a = math.abs(d)
    if (a < TwoPow52) {
      val f = math.floor(a)
      val r = if (a - f >= 0.5) f + 1.0 else f
      (if (d < 0) -r else r).toLong
    } else d.toLong
  }
}

/** PQ-encode a float vector against a literal codebook: for each of
  * the `m` subspaces, the entry id (from `js`, ascending) whose
  * centroid (`cq`, parallel to `js`) minimizes the quantized L2² —
  * strict-less fold, ties to the smallest id. Output: array<int> of
  * length m.
  */
case class PqEncodeExpr(
    child: Expression,
    cq: Array[Array[Array[Long]]],
    js: Array[Array[Int]],
    q: Double,
    dsub: Int,
    input: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  def encode(a: Any): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    val m = cq.length
    PqOps.checkDim(v, m, dsub, prettyName, input)
    val codes = new Array[Int](m)
    val xq = new Array[Long](dsub)
    var s = 0
    while (s < m) {
      var t = 0
      while (t < dsub) {
        xq(t) = PqOps.quant(v.getFloat(s * dsub + t), q)
        t += 1
      }
      var bd = Long.MaxValue
      var bj = -1
      val cs = cq(s)
      val jss = js(s)
      var slot = 0
      while (slot < cs.length) {
        val cent = cs(slot)
        var d2 = 0L
        var u = 0
        while (u < dsub) {
          val dq = xq(u) - cent(u)
          d2 += dq * dq
          u += 1
        }
        if (d2 < bd) { bd = d2; bj = jss(slot) }
        slot += 1
      }
      codes(s) = bj
      s += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(a: Any): Any = encode(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqEncode", this, classOf[PqEncodeExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC distance table against a DENSE literal codebook
  * (`cqFull`: [m][k][dsub], absent entries zero-filled): flat
  * array<long> of m·k quantized L2² values, index s·k + j.
  */
case class PqDtabExpr(
    child: Expression,
    cqFull: Array[Array[Array[Long]]],
    q: Double,
    dsub: Int,
    input: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_dtab"

  def dtab(a: Any): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    val m = cqFull.length
    PqOps.checkDim(v, m, dsub, prettyName, input)
    val k = if (m == 0) 0 else cqFull(0).length
    val out = new Array[Long](m * k)
    val xq = new Array[Long](dsub)
    var s = 0
    while (s < m) {
      var t = 0
      while (t < dsub) {
        xq(t) = PqOps.quant(v.getFloat(s * dsub + t), q)
        t += 1
      }
      val cs = cqFull(s)
      var j = 0
      while (j < k) {
        val cent = cs(j)
        var d2 = 0L
        var u = 0
        while (u < dsub) {
          val dq = xq(u) - cent(u)
          d2 += dq * dq
          u += 1
        }
        out(s * k + j) = d2
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = dtab(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqDtab", this, classOf[PqDtabExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.dtab($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC score: Σ over subspaces of dtab[s·k + codes[s]] — a long. */
case class PqAdcExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<int> codes, array<long> dtab), " +
            s"got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val dtab = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var acc = 0L
    var s = 0
    while (s < m) {
      acc += dtab.getLong(s * k + codes.getInt(s))
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val s = ctx.freshName("s")
        val m = ctx.freshName("m")
        val acc = ctx.freshName("acc")
        s"""
           |int $m = $a.numElements();
           |long $acc = 0L;
           |for (int $s = 0; $s < $m; $s++) {
           |  $acc += $b.getLong($s * $k + $a.getInt($s));
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer L2² between two long arrays — the native form of the
  * served-PQ ADC's `aggregate(zip_with(x, c, (a,b) => (a-b)²), 0L, +)`
  * HOF chain, which evaluated INTERPRETED per (candidate, sub, entry)
  * row (round-18, guide §4). Unlike [[PqEncodeExpr]]/[[PqDtabExpr]]
  * this carries NO model data — both sides are columns (the quantized
  * subvector and the codebook frame's centroid), so the served lane's
  * model-as-data contract (PlanSpec: no codebook literal or
  * model-carrying expression in the plan) is preserved.
  *
  * Null contract mirrors the HOF form bit for bit: NULL array in →
  * NULL out; arrays of DIFFERENT lengths → NULL (zip_with pads the
  * short side with nulls, whose (a-b)² is null, and aggregate's `+`
  * then poisons the sum); a NULL element likewise → NULL.
  */
case class SubD2Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<long>, array<long>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  // can return NULL even for non-null inputs (length mismatch /
  // null element) — must not advertise null-intolerance
  override def nullable: Boolean = true
  override def prettyName: String = "sub_d2"

  /** Boxed Long sum, or null — shared by eval and codegen. */
  def d2(a: Any, b: Any): java.lang.Long = {
    val x = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (c.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || c.isNullAt(i)) return null
      val d = x.getLong(i) - c.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override def nullSafeEval(a: Any, b: Any): Any = d2(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        val bad = ctx.freshName("bad")
        s"""
           |int $n = $a.numElements();
           |boolean $bad = $b.numElements() != $n;
           |long $acc = 0L;
           |for (int $i = 0; !$bad && $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; }
           |  else {
           |    long $d = $a.getLong($i) - $b.getLong($i);
           |    $acc += $d * $d;
           |  }
           |}
           |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Quantized subvectors [m][dsub] of a float vector — the native form
  * of the `xqSubs` HOF (64 Spark-Round-exact roundings per row, no
  * interpreted lambdas). Output: array<array<long>>.
  */
case class PqQuantSubsExpr(
    child: Expression, q: Double, m: Int, dsub: Int, input: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got $t")
  }
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_quant_subs"

  def subs(a: Any): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    PqOps.checkDim(v, m, dsub, prettyName, input)
    val out = new Array[ArrayData](m)
    var s = 0
    while (s < m) {
      val xq = new Array[Long](dsub)
      var t = 0
      while (t < dsub) {
        xq(t) = PqOps.quant(v.getFloat(s * dsub + t), q)
        t += 1
      }
      out(s) = new GenericArrayData(xq)
      s += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(a: Any): Any = subs(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("pqQuantSubs", this, classOf[PqQuantSubsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.subs($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
