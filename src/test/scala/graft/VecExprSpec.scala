package graft

import graft.functions.Hashing
import org.apache.spark.sql.functions._

/** Custom Catalyst expression contract: FloatVecDot / PlaneVecDot must be
  * BIT-IDENTICAL to the higher-order-function formulation (same ordered
  * double fold) — this is what lets the embedding queries swap in the
  * codegen'd path without perturbing the DuckDB-oracle hash compare.
  */
class VecExprSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("FloatVecDot == HOF dot, bit-for-bit, on every vector pair sample") {
    val both = emb
      .select(
        col("vec_id"),
        Hashing.dot(col("embedding"), col("embedding")).as("hof"),
        Hashing.fdot(col("embedding"), col("embedding")).as("gen"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(
        java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  test("FloatVecDot agrees with a driver-side reference computation") {
    val row = emb.select(col("embedding"), Hashing.fdot(col("embedding"), col("embedding"))).first()
    val v = row.getSeq[Float](0)
    var acc = 0.0
    v.foreach(x => acc += x.toDouble * x.toDouble)
    assert(java.lang.Double.doubleToLongBits(acc) ==
      java.lang.Double.doubleToLongBits(row.getDouble(1)))
  }

  test("expression participates in whole-stage codegen") {
    val plan = emb
      .select(Hashing.fdot(col("embedding"), col("embedding")).as("d"))
      .queryExecution
      .executedPlan
      .toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(
      plan.contains("*(1) Project [float_vec_dot"),
      s"float_vec_dot not inside a codegen stage:\n$plan")
  }

  test("null array yields null, not a crash or zero") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (2L, None, Some(Array(3.0f, 4.0f))))
      .toDF("id", "a", "b")
    val out = df
      .select(col("id"), Hashing.fdot(col("a"), col("b")).as("d"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty)
  }

  test("SubD2Expr == HOF aggregate(zip_with) integer L2², incl. null/length edges") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.Exprs
    def subD2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Exprs.column(graft.plans.SubD2Expr(
        Exprs.expression(a), Exprs.expression(b)))
    val rnd = new scala.util.Random(11)
    // random equal-length pairs + a length-mismatch pair + a null array
    // + empty arrays (HOF: zip_with pads with null -> null sum; empty
    // arrays -> the 0L seed)
    val rows = (0 until 400).map { i =>
      val n = 1 + rnd.nextInt(8)
      (i.toLong,
        Some(Array.fill(n)(rnd.nextLong() % 100000L)),
        Some(Array.fill(n)(rnd.nextLong() % 100000L)))
    } ++ Seq(
      (400L, Some(Array(1L, 2L, 3L)), Some(Array(1L, 2L))), // length mismatch
      (401L, None, Some(Array(1L))), // null side
      (402L, Some(Array.empty[Long]), Some(Array.empty[Long]))) // empty
    val df = rows.toDF("id", "a", "b")
    val got = df
      .select(
        col("id"),
        subD2(col("a"), col("b")).as("fast"),
        aggregate(
          zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
          lit(0L),
          (acc, x) => acc + x).as("ref"))
      .collect()
    assert(got.length == rows.length)
    got.foreach { r =>
      val fast = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val ref = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(fast == ref, s"id ${r.getLong(0)}: $fast != $ref")
    }
  }

  test("SubD2Expr participates in whole-stage codegen") {
    import org.apache.spark.sql.graft.Exprs
    // non-foldable source: a literal row would be constant-folded into
    // a LocalTableScan before any codegen stage exists
    val df = spark.range(4).select(
      array(col("id"), col("id") + 1).as("a"),
      array(col("id") * 2, col("id")).as("b"))
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    val plan = df
      .select(Exprs.column(graft.plans.SubD2Expr(
        Exprs.expression(col("a")), Exprs.expression(col("b")))).as("d"))
      .queryExecution.executedPlan
    // the sub_d2 Project must sit INSIDE a codegen stage: below a
    // WholeStageCodegenExec and above the stage's InputAdapter boundary
    def stagedSubD2(p: SparkPlan): Seq[ProjectExec] = p match {
      case _: InputAdapter => Nil
      case pe: ProjectExec
          if pe.projectList.exists(_.exists(_.isInstanceOf[graft.plans.SubD2Expr])) =>
        Seq(pe)
      case other => other.children.flatMap(stagedSubD2)
    }
    val staged = plan.collect { case w: WholeStageCodegenExec => stagedSubD2(w.child) }
    assert(staged.flatten.nonEmpty, s"sub_d2 not inside a codegen stage:\n$plan")
  }

  test("PQ expressions reject a wrong-dimension panel vector loudly") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Array.fill(7)(0.5f))).toDF("id", "v") // dim 7, not m*dsub
    import org.apache.spark.sql.graft.Exprs
    val bad = df.select(Exprs.column(graft.plans.PqQuantSubsExpr(
      Exprs.expression(col("v")), 1000.0, 16, 4, "query vector")).as("q"))
    val e = intercept[Exception] { bad.collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("wrong-dimension query vector: 7 components")),
      s"expected a dimension error naming the input, got: $e")

    // a NULL component would read as 0.0f through getFloat: every PQ
    // expression must reject it, naming the input and the position
    val withNull = Seq((1L, Seq(Some(0.5f), Some(0.25f), None, Some(1.0f))))
      .toDF("id", "v")
    val v = Exprs.expression(col("v"))
    val cq = Array.fill(2, 1, 2)(0L) // m=2 subspaces x 1 entry x dsub=2
    for (pq <- Seq(
        graft.plans.PqQuantSubsExpr(v, 1000.0, 2, 2, "stored embedding"),
        graft.plans.PqEncodeExpr(v, cq, Array.fill(2, 1)(0), 1000.0, 2, "stored embedding"),
        graft.plans.PqDtabExpr(v, cq, 1000.0, 2, "stored embedding"))) {
      val n = intercept[Exception] { withNull.select(Exprs.column(pq)).collect() }
      assert(messages(n).exists(_.contains(
        "NULL component at position 2 of the stored embedding")),
        s"${pq.prettyName}: expected a NULL-component error, got: $n")
    }
  }

  /** Today's reference form of the quantization, kept here as an
    * independent oracle for [[graft.plans.PqOps.quant]]: HALF_UP on the
    * decimal string of the double (what Spark's Round does), then a
    * truncating cast.
    */
  private def quantRef(x: Float, q: Double): Long = {
    val d = x.toDouble * q
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d.toLong
    else
      java.math.BigDecimal.valueOf(d)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Components whose product with `q` is exactly k + 0.5 (where a float
    * allows it) or one float ulp either side, plus the IEEE edges.
    */
  private def tieFloats(q: Double): Seq[Float] = {
    val ties = (0 until 300).flatMap { i =>
      val k = i.toLong * i * 37 + i // spread k over a wide range
      val x = ((k + 0.5) / q).toFloat
      Seq(x, Math.nextUp(x), Math.nextDown(x)).flatMap(f => Seq(f, -f))
    }
    // j/2 for odd j: x·3 = 1.5j, an exact tie at q = 3
    val halves = (1 until 200 by 2).flatMap(j => Seq(j / 2.0f, -j / 2.0f))
    val edges = Seq(0.0f, -0.0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      java.lang.Float.MIN_NORMAL / 2, -java.lang.Float.MIN_NORMAL / 2,
      Float.MaxValue, Float.MinValue, Float.NaN,
      Float.PositiveInfinity, Float.NegativeInfinity)
    ties ++ halves ++ edges
  }

  test("PqOps.quant == the BigDecimal string-rounding form over 1M+ float bit patterns") {
    val rnd = new scala.util.Random(20260817)
    val sweep = Array.fill(1 << 20)(java.lang.Float.intBitsToFloat(rnd.nextInt()))
    for (q <- Seq(1048576.0, 3.0, 1.0, 1000.0, 0.1, 1e6, 12345.678)) {
      val xs = sweep.iterator ++ tieFloats(q).iterator
      var exactTies = 0
      xs.foreach { x =>
        val d = x.toDouble * q
        if (d - math.floor(d) == 0.5) exactTies += 1
        val got = graft.plans.PqOps.quant(x, q)
        val want = quantRef(x, q)
        assert(got == want,
          s"q=$q x=$x (bits ${java.lang.Float.floatToRawIntBits(x)}): $got != $want")
      }
      // 2^20 (x = (k + 0.5)/2^20), 3 and 1 (x = j/2) admit exact ties by construction
      if (q == 1048576.0 || q == 3.0 || q == 1.0)
        assert(exactTies > 0, s"q=$q: no exact k + 0.5 product was exercised")
    }
  }

  test("PqQuantSubsExpr, flattened == Spark transform(round(x * q)), codegen and interpreted") {
    import org.apache.spark.sql.graft.Exprs
    val s = spark
    import s.implicits._
    val (m, dsub) = (4, 4)
    val dim = m * dsub
    for (q <- Seq(1048576.0, 3.0)) {
      val rnd = new scala.util.Random(q.toLong)
      val special = tieFloats(q)
      val vecs = (0 until 200).map(_ => Array.fill(dim)(rnd.nextGaussian().toFloat)) ++
        special.grouped(dim).map(g => g.toArray.padTo(dim, 0.0f))
      // an RDD source, not a local relation: the optimizer would fold a
      // literal row's projection and no codegen stage would run
      val df = spark.sparkContext
        .parallelize(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, 2)
        .toDF("id", "v")
      val fast = flatten(Exprs.column(graft.plans.PqQuantSubsExpr(
        Exprs.expression(col("v")), q, m, dsub, "stored embedding")))
      // the kernel's contract ends in a truncating toLong: the non-ANSI cast
      val ref = transform(col("v"), x => round(x.cast("double") * lit(q)).cast("long"))
      def collectWith(conf: (String, String)*): Map[Long, (Seq[Long], Seq[Long])] = {
        val keys = conf.map(_._1) :+ "spark.sql.ansi.enabled"
        val before = keys.map(k => k -> spark.conf.getOption(k))
        (conf :+ ("spark.sql.ansi.enabled" -> "false")).foreach { case (k, v) =>
          spark.conf.set(k, v)
        }
        try df.select(col("id"), fast.as("fast"), ref.as("ref")).collect()
          .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
        finally before.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      val gen = collectWith()
      val interp = collectWith(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      assert(gen.size == vecs.length && interp.size == vecs.length)
      for ((mode, out) <- Seq("codegen" -> gen, "interpreted" -> interp);
           (id, (f, r)) <- out)
        assert(f == r, s"q=$q $mode id $id: ${f.mkString(",")} != ${r.mkString(",")}")
      assert(gen.keys.forall(id => gen(id)._1 == interp(id)._1))
    }
  }

  test("JaccardGE == rearranged array_intersect threshold on random sorted sets") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // skewed sizes + overlap levels around the 0.9 threshold, incl.
    // exact-equal, disjoint, empty, and off-by-one-element pairs
    val rows = (0 until 500).map { i =>
      val n = 1 + rnd.nextInt(60)
      val base = Seq.fill(n)(rnd.nextInt(80).toLong).distinct
      val drop = rnd.nextInt(3)
      val add = rnd.nextInt(3)
      val other = (base.drop(drop) ++ Seq.fill(add)(80L + rnd.nextInt(10))).distinct
      (i.toLong, base.sorted.toArray, other.sorted.toArray)
    } :+ ((500L, Array.empty[Long], Array(1L, 2L)))
    val df = rows.toDF("id", "a", "b")
    val got = df
      .select(
        col("id"),
        graft.plans.JaccardGE.jaccardGE(col("a"), col("b"), 9, 10).as("fast"),
        (size(array_intersect(col("a"), col("b"))) * 19 >=
          (size(col("a")) + size(col("b"))) * 9).as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(1) == r.getBoolean(2), s"id ${r.getLong(0)}: fast=${r.getBoolean(1)} ref=${r.getBoolean(2)}")
    }
  }

  test("JaccardGE codegen and interpreted eval agree") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(1L, 2L, 3L, 4L), Array(1L, 2L, 3L, 4L)),
      (2L, Array(1L, 2L, 3L, 4L), Array(1L, 2L, 3L, 5L)),
      (3L, Array(1L, 2L), Array(3L, 4L)))
      .toDF("id", "a", "b")
    val pred = graft.plans.JaccardGE.jaccardGE(col("a"), col("b"), 9, 10)
    val gen = df.select(col("id"), pred.as("p")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(gen(1L) && !gen(2L) && !gen(3L))
    // interpreted path: resolved literal children, eval directly.
    // n=4 vs n=4 sharing 3: 19*3=57 < 9*8=72 -> false; identical: true
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def litArr(xs: Array[Long]) = Literal.create(xs, ArrayType(LongType))
    val direct = graft.plans.JaccardGE(
      litArr(Array(1L, 2L, 3L, 4L)), litArr(Array(1L, 2L, 3L, 5L)), 9, 10)
      .eval(null)
    assert(direct == false)
    val same = graft.plans.JaccardGE(
      litArr(Array(1L, 2L, 3L, 4L)), litArr(Array(1L, 2L, 3L, 4L)), 9, 10)
      .eval(null)
    assert(same == true)
  }
}
