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
