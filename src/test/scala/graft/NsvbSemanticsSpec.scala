package graft

import java.lang.Double.doubleToLongBits
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.expressions.{Add, And, CaseWhen, Divide, EqualTo, Exp,
  Expression, Greatest, IsNotNull, IsNull, LessThan, Literal, Multiply, Not, Or, Pow,
  Subtract, UnaryMinus}
import org.apache.spark.sql.types.{BooleanType, DoubleType}
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.fia.Nsvb

/** ScalaCheck parity of the NSVB kernel's scalar helpers with the
  * Catalyst expressions they stand for, on generated doubles: NULL, NaN,
  * ±0.0, ±Infinity, zero divisors and arbitrary values. Both sides must
  * give the same bits (NaNs compared canonically), the same NULL, or the
  * same error condition. The expressions evaluate under the session's
  * conf, which is ANSI. */
class NsvbSemanticsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(500)

  private def check(name: String, p: Prop): Unit = {
    spark // the expressions read the session's SQL conf
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: ${r.status}")
  }

  private val special = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.0, -1.0, 5.0, Double.MinPositiveValue, Double.MaxValue)

  /** A nullable double, NULL as None. */
  private val dbl: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    3 -> Gen.oneOf(special).map(Some(_)),
    3 -> Gen.choose(-1e3, 1e3).map(Some(_)),
    2 -> Arbitrary.arbitrary[Double].map(Some(_)))
  /** A nullable SQL boolean in the kernel's encoding (1, 0, -1 NULL). */
  private val bool: Gen[Int] = Gen.oneOf(1, 0, -1)

  private def lit(v: Option[Double]): Expression = Literal.create(v.map(Double.box).orNull, DoubleType)
  private def lit(b: Int): Expression =
    Literal.create(if (b < 0) null else java.lang.Boolean.valueOf(b == 1), BooleanType)
  private def arg(v: Option[Double]): Double = Nsvb.arg(v.isEmpty, v.getOrElse(0.0))

  /** The error condition, or the value's bits (None for NULL). */
  private def outcome(f: => Any): Either[String, Option[Long]] =
    try Right(f match {
      case null => None
      case d: Double => if (Nsvb.isNull(d)) None else Some(doubleToLongBits(d))
      case b: Boolean => Some(if (b) 1L else 0L)
      case i: Int => if (i < 0) None else Some(i.toLong)
    }) catch { case e: SparkThrowable => Left(e.getCondition) }

  private def same(kernel: => Any, catalyst: Expression): Prop = {
    val (k, c) = (outcome(kernel), outcome(catalyst.eval()))
    Prop(k == c) :| s"kernel $k, catalyst $c"
  }

  private val binary: Seq[(String, (Double, Double) => Any, (Expression, Expression) => Expression)] = Seq(
    ("add", Nsvb.add, Add(_, _)),
    ("sub", Nsvb.sub, Subtract(_, _)),
    ("mul", Nsvb.mul, Multiply(_, _)),
    ("div", Nsvb.div, Divide(_, _)),
    ("pow", Nsvb.pow, Pow(_, _)),
    ("lt", Nsvb.lt, LessThan(_, _)),
    ("equal", Nsvb.equal, EqualTo(_, _)),
    ("greatest", Nsvb.greatest, (a, b) => Greatest(Seq(a, b))),
    ("pmax", Nsvb.pmax, (a, b) =>
      CaseWhen(Seq(Or(IsNull(a), IsNull(b)) -> Literal(null, DoubleType)), Greatest(Seq(a, b)))))

  for ((name, kernel, catalyst) <- binary)
    test(s"$name matches Catalyst") {
      check(name, Prop.forAll(dbl, dbl) { (a, b) =>
        same(kernel(arg(a), arg(b)), catalyst(lit(a), lit(b)))
      })
    }

  test("exp, neg and notNull match Catalyst") {
    check("unary", Prop.forAll(dbl) { a =>
      same(Nsvb.exp(arg(a)), Exp(lit(a))) &&
        same(Nsvb.neg(arg(a)), UnaryMinus(lit(a), failOnError = true)) &&
        same(Nsvb.notNull(arg(a)), IsNotNull(lit(a)))
    })
  }

  test("and, or, not match Catalyst's three-valued logic") {
    check("logic", Prop.forAll(bool, bool) { (a, b) =>
      same(Nsvb.and(a, b), And(lit(a), lit(b))) &&
        same(Nsvb.or(a, b), Or(lit(a), lit(b))) &&
        same(Nsvb.not(a), Not(lit(a)))
    })
  }

  test("when and ifelse match CASE, evaluating only the branch taken") {
    val boom = Divide(Literal(1.0), Literal(0.0)) // raises when evaluated
    check("case", Prop.forAll(bool, dbl, dbl) { (c, a, b) =>
      same(Nsvb.when(c, arg(a), arg(b)), CaseWhen(Seq(lit(c) -> lit(a)), lit(b))) &&
        same(Nsvb.ifelse(c, arg(a), arg(b)),
          CaseWhen(Seq(lit(c) -> lit(a), Not(lit(c)) -> lit(b)))) &&
        same(Nsvb.ifelse(c, arg(a), Nsvb.div(1.0, 0.0)),
          CaseWhen(Seq(lit(c) -> lit(a), Not(lit(c)) -> boom)))
    })
  }

  test("a zero divisor raises DIVIDE_BY_ZERO on both sides") {
    for (a <- special; z <- Seq(0.0, -0.0)) {
      assert(outcome(Nsvb.div(a, z)) == Left("DIVIDE_BY_ZERO"))
      assert(outcome(Divide(Literal(a), Literal(z)).eval()) == Left("DIVIDE_BY_ZERO"))
    }
  }

  test("comparisons order NaN last and equal to itself; greatest keeps the first of equals") {
    assert(Nsvb.lt(5.0, Double.NaN) == 1 && Nsvb.equal(Double.NaN, Double.NaN) == 1)
    assert(doubleToLongBits(Nsvb.greatest(-0.0, 0.0)) == doubleToLongBits(-0.0))
  }
}
