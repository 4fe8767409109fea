package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences, CaseWhen,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._

import graft.core.{Exprs, FDiv}

/** `Exprs.fdiv` is one Catalyst node whose interpreted `eval` and generated
  * code both call the scalar rule. Both paths must give, bit for bit, what
  * the `when` tree it replaced gives: x/0 → ±Inf by the sign of x (a NaN x
  * counts as positive, Spark ordering NaN above every double), 0/0 → NaN,
  * null → null.
  */
class ExprsFdivSpec extends SparkSpec {
  import spark.implicits._

  /** The former `Exprs.fdiv`, kept as the reference. */
  private def whenTree(a: Column, b: Column): Column =
    when(b === 0.0,
      when(a === 0.0, lit(Double.NaN))
        .when(a > 0.0, lit(Double.PositiveInfinity))
        .when(a < 0.0, lit(Double.NegativeInfinity)))
      .otherwise(a / b)

  /** The analyzed expression of `f(a, b)` over `df`, bound to its columns. */
  private def bound(df: DataFrame, f: (Column, Column) => Column): Expression = {
    val plan = df.select(f(col("a"), col("b"))).queryExecution.analyzed
    val e = plan.expressions.head match { case a: Alias => a.child; case e => e }
    BindReferences.bindReference(e, plan.children.head.output)
  }

  /** Each row's result as text: `-0.0`, `NaN` and `null` all stay distinct. */
  private def interpreted(e: Expression, rows: Seq[InternalRow]): Seq[String] =
    rows.map(r => String.valueOf(e.eval(r)))

  private def generated(e: Expression, rows: Seq[InternalRow]): Seq[String] = {
    val p = GenerateUnsafeProjection.generate(Seq(e))
    rows.map { r =>
      val out = p(r)
      if (out.isNullAt(0)) "null" else out.getDouble(0).toString
    }
  }

  private def check(df: DataFrame): Unit = {
    val rows = df.collect().toSeq.map(r => InternalRow(r.get(0), r.get(1)))
    val reference = interpreted(bound(df, whenTree), rows)
    val node = bound(df, Exprs.fdiv)
    assert(interpreted(node, rows) == reference)
    assert(generated(node, rows) == reference)
  }

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity

  test("fdiv is one node over its two operands") {
    val df = Seq((1.0, 0.0)).toDF("a", "b")
    bound(df, Exprs.fdiv) match {
      case FDiv(_, _) =>
      case other => fail(s"not one FDiv node: $other")
    }
    val plan = df.select(Exprs.fdiv(col("a"), col("b"))).queryExecution.analyzed
    assert(plan.expressions.head.collect { case c: CaseWhen => c }.isEmpty)
    assert(plan.expressions.head.collect { case a: AttributeReference => a }.size == 2)
  }

  test("fdiv matches the when tree on interpreted and generated paths") {
    val edges: Seq[(java.lang.Double, java.lang.Double)] = Seq[(Double, Double)](
      (1, 0), (-1, 0), (0, 0), (nan, 0), (1, -0.0), (-1, -0.0), (-0.0, 0), (-0.0, -0.0),
      (inf, 0), (-inf, 0), (inf, -0.0), (1, nan), (nan, nan), (0, nan), (6, 3), (-7, 2),
      (1e308, 1e-308), (Double.MinPositiveValue, 2), (3, inf), (inf, inf), (-0.0, 5))
      .map { case (a, b) => (Double.box(a), Double.box(b)) } ++
      Seq[(java.lang.Double, java.lang.Double)](
        (null, 0.0), (null, -0.0), (null, 1.0), (1.0, null), (0.0, null), (nan, null), (null, null))
    check(edges.toDF("a", "b"))
    val rnd = new scala.util.Random(17)
    check(Seq.fill(2000)((rnd.nextGaussian(), if (rnd.nextInt(4) == 0) 0.0 else rnd.nextGaussian()))
      .toDF("a", "b"))
    // long operands, as winRate divides two counts
    val longs = Seq[(java.lang.Long, java.lang.Long)]((5L, 0L), (0L, 0L), (-3L, 0L), (7L, 2L),
      (Long.MaxValue, 3L), (Long.MinValue, -1L), (null, 0L), (1L, null)) ++
      Seq.fill(200)((Long.box(rnd.nextInt(7) - 3L), Long.box(rnd.nextInt(3).toLong)))
    check(longs.toDF("a", "b"))
  }
}
