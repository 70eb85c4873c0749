package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed aggregators (`org.apache.spark.sql.expressions.Aggregator`) — the
  * Dataset-typed extension point the engine exposes for user aggregates
  * (SURVEY §2.10 UDAF surface).
  *
  * `ExactDecimalSum` is the reusable form of the engine's oracle-parity
  * summation: each double is quantized to 4 decimals (HALF_UP — identical to
  * `CAST(x AS DECIMAL(18,4))`) and accumulated exactly, so the result is
  * bit-identical across engines, partitionings, and row orders. Partial
  * aggregation (map-side combine) works because BigDecimal addition is
  * associative — merge() just adds buffer sums.
  */
object Aggregators {

  /** Exact 4-decimal sum of a double column, returned as DOUBLE. */
  class ExactDecimalSum extends Aggregator[java.lang.Double, String, Double] {
    // buffer is the exact decimal as a string (Encoders for JBigDecimal lose
    // scale through Spark's decimal type; a string buffer is lossless)
    def zero: String = "0"
    private def dec(s: String) = new JBigDecimal(s)
    def reduce(b: String, a: java.lang.Double): String =
      if (a == null) b
      else dec(b).add(new JBigDecimal(a.doubleValue()).setScale(4, RoundingMode.HALF_UP)).toPlainString
    def merge(b1: String, b2: String): String = dec(b1).add(dec(b2)).toPlainString
    def finish(b: String): Double = dec(b).doubleValue()
    def bufferEncoder: Encoder[String] = Encoders.STRING
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Register SQL-callable UDAF names. Called once per session by
    * `GraftSession.prepare`; re-registering replaces the same function. */
  def registerAll(spark: SparkSession): Unit =
    spark.udf.register("dsum4", udaf(new ExactDecimalSum)): Unit
}
