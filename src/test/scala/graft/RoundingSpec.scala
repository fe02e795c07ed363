package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.operators.Rounding

/** The output-rounding policy is the oracle's `floor(x * 10^s + 0.5) / 10^s`
  * evaluated in double arithmetic — half-up toward +∞ on exact ties, not
  * BigDecimal HALF_UP (away from zero, on the double's decimal string).
  */
class RoundingSpec extends SparkSpecBase {
  import spark.implicits._

  private val xs: Seq[java.lang.Double] = Seq(
    0.0, 0.125, -0.125, 0.00025, -0.00005, 0.00015, -0.00015, 1.005,
    2.675, 1.00005, 1.5e-6, -2.5e-6, 1234.56785, -98765.4321, null)

  private def eval(f: Column => Column): Seq[Option[Double]] =
    xs.toDF("x").select(f(col("x")))
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double])).toSeq

  private def scalaRound(scale: Double)(x: java.lang.Double): Option[Double] =
    Option(x).map(v => math.floor(v * scale + 0.5) / scale)

  test("r2/r4/r6 equal floor(x * 10^s + 0.5) / 10^s, null passes through") {
    assert(eval(Rounding.r2) === xs.map(scalaRound(1e2)))
    assert(eval(Rounding.r4) === xs.map(scalaRound(1e4)))
    assert(eval(Rounding.r6) === xs.map(scalaRound(1e6)))
  }

  test("ties round toward +inf where Spark's round() goes away from zero") {
    val df = Seq(-0.125, 1.005).toDF("x")
    assert(df.select(Rounding.r2(col("x"))).as[Double].collect().toSeq ===
      Seq(-0.12, 1.0))
    assert(df.select(round(col("x"), 2)).as[Double].collect().toSeq ===
      Seq(-0.13, 1.01))
  }

  test("u4 is the scaled half-up integer, LONG for a double input") {
    val u = Seq(0.00025, -0.00005).toDF("x").select(Rounding.u4(col("x")))
    assert(u.schema.head.dataType === org.apache.spark.sql.types.LongType)
    assert(u.as[Long].collect().toSeq === Seq(3L, 0L))
  }

  test("the helpers build the hand-written expression tree (Int scales)") {
    val base = Seq(1.0).toDF("x")
    def tree(c: Column) = base.select(c).queryExecution.analyzed
      .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
    val x = col("x")
    assert(tree(Rounding.r2(x)) === tree(floor(x * 100 + 0.5) / 100))
    assert(tree(Rounding.r4(x)) === tree(floor(x * 10000 + 0.5) / 10000))
    assert(tree(Rounding.r6(x)) ===
      tree(floor(x * 1000000 + lit(0.5)) / 1000000))
    assert(tree(Rounding.money(x)) ===
      tree(floor(x.cast("double") / 100 + 0.5) / 100))
  }
}
