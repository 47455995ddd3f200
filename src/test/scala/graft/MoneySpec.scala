package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** The integer-unit money kernel (Relational.moneyUnits / fromUnits /
  * dsum2 / dsum4) against the per-row DECIMAL-cast form it replaced,
  * bit for bit, and the premise it rests on: the data's money columns
  * are exact 2-decimal amounts.
  */
class MoneySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def decimalSum(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private def bits(df: DataFrame, c: String): Seq[Option[Long]] =
    df.select(c).collect().toSeq.map(r =>
      if (r.isNullAt(0)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))))

  /** (g, o, x, p, d): x an exact 2-decimal amount (NULL in group 50),
    * p·(1−d) a ≤4-decimal product. Groups 0–7 are random small amounts
    * with negatives and zeros; group 98's 4-decimal and group 99's
    * 2-decimal unit sums cross 2^53.
    */
  private lazy val data: DataFrame = {
    val rnd = new scala.util.Random(20261017L)
    def amount(bound: Long): Double =
      if (rnd.nextInt(10) == 0) 0.0 else (rnd.nextLong() % bound) / 100.0
    val small = (0 until 2000).map { i =>
      (i % 8, i.toLong, Option(amount(100000000L)), math.abs(amount(10000000L)),
        rnd.nextInt(11) / 100.0)
    }
    val nulls = (0 until 3).map(i => (50, 3000L + i, Option.empty[Double], 1.0, 0.0))
    val big4 = (0 until 100).map { i =>
      (98, 4000L + i, Option(1.0), (1000000000000L - rnd.nextInt(1000000)) / 100.0,
        rnd.nextInt(11) / 100.0)
    }
    val big2 = (0 until 16).map { i =>
      (99, 5000L + i, Option((1000000000000000L - rnd.nextInt(1000000)) / 100.0), 1.0, 0.0)
    }
    (small ++ nulls ++ big4 ++ big2).toDF("g", "o", "x", "p", "d").repartition(4)
  }

  test("fixture: groups 98 and 99 really sum past 2^53 units") {
    val units = data.groupBy("g")
      .agg(sum(floor(col("x") * 100 + 0.5)).as("u2"),
        sum(floor(col("p") * (lit(1) - col("d")) * 10000 + 0.5)).as("u4"))
      .as[(Int, Option[Long], Option[Long])].collect().map(t => t._1 -> t).toMap
    assert(units(99)._2.get > (1L << 53))
    assert(units(98)._3.get > (1L << 53))
    assert(units(0)._2.get.abs < (1L << 53))
  }

  test("grouped dsum2/dsum4 are bit-identical to the DECIMAL-cast sums") {
    val disc = col("p") * (lit(1) - col("d"))
    val got = data.groupBy("g")
      .agg(Relational.dsum2(col("x")).as("k2"), decimalSum(col("x"), 2).as("d2"),
        Relational.dsum4(disc).as("k4"), decimalSum(disc, 4).as("d4"))
      .orderBy("g").cache()
    assert(got.count() === 11)
    assert(bits(got, "k2") === bits(got, "d2"))
    assert(bits(got, "k4") === bits(got, "d4"))
    assert(bits(got.filter(col("g") === 50), "k2") === Seq(None))
    got.unpersist()
  }

  test("a running-window unit sum is bit-identical to the DECIMAL-cast window sum") {
    val w = Window.partitionBy("g").orderBy("o")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = data
      .select(col("g"), col("o"),
        Relational.fromUnits(sum(Relational.moneyUnits(col("x"), 2)).over(w), 2).as("k"),
        sum(col("x").cast("decimal(18,2)")).over(w).cast("double").as("d"))
      .orderBy("g", "o").cache()
    assert(bits(got, "k") === bits(got, "d"))
    // the big group's running sum crosses 2^53: both conversion branches ran
    val big = got.filter(col("g") === 99).select("k").as[Double].collect()
    assert(big.head * 100 < math.pow(2, 53) && big.last * 100 > math.pow(2, 53))
    got.unpersist()
  }

  test("a unit sum past 2^63 raises instead of wrapping") {
    // 10,000 rows of 1.1e13 = 1.1e19 cents > Long.MaxValue (each row is
    // inside the per-row domain, and the old DECIMAL(18,2) cast's)
    val rows = spark.range(10000).select(lit(1.1e13).as("x"))
    val e = intercept[Exception](rows.agg(Relational.dsum2(col("x"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("overflow")), e)
  }

  test("a row outside the exact per-row domain, or NaN, raises") {
    for (x <- Seq(math.pow(2, 50) / 100 * 1.01, -math.pow(2, 50) / 100 * 1.01, Double.NaN)) {
      val rows = Seq(1.0, x).toDF("x")
      val e = intercept[Exception](rows.agg(Relational.dsum2(col("x"))).collect())
      assert(String.valueOf(e.getMessage).contains("exact integer-unit domain"), e)
    }
  }

  // The kernel's premise: every money column the queries sum holds exact
  // 2-decimal amounts — never NULL, never NaN, and each value is the
  // double nearest to k/100 for an integer k (the DECIMAL(18,2) cast
  // agrees). Checked on both committed test scale factors.
  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"money columns are non-null, non-NaN, exact 2-decimal at ${sf.split('/').last}") {
      val cols = Seq(
        "lineitem" -> "l_quantity", "lineitem" -> "l_extendedprice",
        "lineitem" -> "l_discount", "orders" -> "o_totalprice", "events" -> "value")
      for ((table, c) <- cols) {
        val df = if (table == "events") Tables.events(spark, sf) else Tables.load(spark, sf, table)
        val x = col(c)
        val r = df.agg(
          count(lit(1)).as("n"),
          count(when(x.isNull, 1)).as("nulls"),
          count(when(isnan(x), 1)).as("nans")).as[(Long, Long, Long)].head()
        assert(r._1 > 0, s"$table.$c is empty")
        assert(r._2 === 0L, s"$table.$c has NULLs")
        assert(r._3 === 0L, s"$table.$c has NaNs")
        val off = df.filter(
          floor(x * 100 + 0.5) / 100 =!= x || x.cast("decimal(18,2)").cast("double") =!= x)
          .count()
        assert(off === 0L, s"$table.$c has values that are not exact 2-decimal amounts")
      }
    }
  }
}
