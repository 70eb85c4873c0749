package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name"
  val sfDir = "/root/testdata/sf0.001"

  /** Soak multiplier for the model fuzzes (r13, VERDICT item 5): default is
    * the CI-speed op count; `SPARK_GRAFT_SOAK=1` multiplies it 10× for an
    * overnight burn-in, `SPARK_GRAFT_SOAK=<k>` (k>1) multiplies it k×.
    * Seeds are unchanged, so a soak failure reproduces at the same step. */
  def soak(base: Int): Int = sys.env.get("SPARK_GRAFT_SOAK") match {
    case None | Some("") | Some("0") => base
    case Some(v) => base * v.toIntOption.filter(_ > 1).getOrElse(10)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = graft.engine.GraftSession.create("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
