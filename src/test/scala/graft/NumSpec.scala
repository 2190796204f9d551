package graft

import org.apache.spark.sql.functions.{col, lit, round}

import graft.functions.Num

/** `Num.halfUp` / `Num.grid6` are the scalar twins of Spark's `round` for
  * loops that run outside Catalyst; they must agree with it bit for bit.
  */
class NumSpec extends SparkSpec {

  private val xs = Seq(
    2.5, -2.5, 3.5, 0.5, -0.5, 1.4999999999999998, // HALF_UP ties and a near-tie
    0.0000005, -0.0000005, 0.0000015, 1.2345675, -1.2345675, // ties on the 1e-6 grid
    0.0, -0.0, -2.6e-9, 1e-12, // signed zero and tiny negatives
    123456.7890125, 999999999999.5, -999999999999.5, 1e12 + 0.25, 987654321012.3456)

  test("halfUp equals round(x).cast(long) on literals and on a column") {
    val s = spark
    import s.implicits._
    val lits = xs.map(x => spark.range(1).select(round(lit(x)).cast("long")).head().getLong(0))
    val cols = xs.toDF("x").select(round(col("x")).cast("long")).collect().map(_.getLong(0)).toSeq
    assert(xs.map(Num.halfUp) === lits)
    assert(xs.map(Num.halfUp) === cols)
  }

  test("grid6 equals round(x, 6) + 0.0 bit for bit, signed zero included") {
    val s = spark
    import s.implicits._
    def bits(ds: Seq[Double]) = ds.map(java.lang.Double.doubleToRawLongBits)
    val lits = xs.map(x => spark.range(1).select(Num.round6(lit(x))).head().getDouble(0))
    val cols = xs.toDF("x").select(Num.round6(col("x"))).collect().map(_.getDouble(0)).toSeq
    assert(bits(xs.map(Num.grid6)) === bits(lits))
    assert(bits(xs.map(Num.grid6)) === bits(cols))
    assert(java.lang.Double.doubleToRawLongBits(Num.grid6(-2.6e-9)) === 0L)
  }
}
