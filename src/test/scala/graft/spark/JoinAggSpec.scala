package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_join_agg sums lineitem revenue per order BEFORE the joins, so its
  * double revenue sum is associated differently from the flat joined form
  * the DuckDB oracle states. Two checks pin that this cannot fork an
  * answer:
  *  - the query equals the flat joined formulation (`exceptAll` both ways,
  *    so counts and rounded revenues match exactly);
  *  - every segment's UNROUNDED revenue sits at least [[Margin]] from a
  *    half-cent boundary, the only place `round(, 2)` can flip. Measured
  *    against the exact decimal sum, the double sum is off by ≤ 7.6e-5 at
  *    sf0.1 (≤ 3.1e-6 at sf0.01), so 0.001 leaves over 10× room for any
  *    association order. Data whose segments come closer fails here,
  *    loudly, instead of passing the oracle by luck. */
class JoinAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Margin = BigDecimal("0.001")

  Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
    test(s"q_join_agg ≡ flat joined form, revenue off rounding edges ($sf)") {
      val dir = s"/root/testdata/$sf"
      def tbl(n: String) = spark.read.parquet(s"$dir/$n.parquet")
      val joined = tbl("lineitem").join(tbl("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl("customer").select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
      val revenue = sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
      val flat = joined.agg(countDistinct(col("o_orderkey")).as("n_orders"),
        round(revenue, 2).as("revenue"))
      val query = graft.SparkEntry.queries("q_join_agg")(spark, dir)
      assert(query.count() == 5)
      assert(flat.exceptAll(query).count() == 0 && query.exceptAll(flat).count() == 0)

      joined.agg(revenue.as("raw")).collect().foreach { r =>
        val cents = BigDecimal(r.getDouble(1)) * 100
        val margin = ((cents - cents.setScale(0, BigDecimal.RoundingMode.FLOOR)) - 0.5).abs / 100
        assert(margin >= Margin, s"$sf ${r.getString(0)}: unrounded revenue ${r.getDouble(1)} " +
          s"is $margin from a half-cent boundary, under the $Margin an association order may move")
      }
    }
  }
}
