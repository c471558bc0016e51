package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("the fingerprint ignores row order and array element order") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"r$i", i * 0.1, Seq(i, -i, 2 * i)))
    val a = rows.toDF("k", "s", "d", "xs").repartition(1)
    val b = rows.reverse.map { case (k, s, d, xs) => (k, s, d, xs.reverse) }
      .toDF("k", "s", "d", "xs").repartition(7)
    assert(Fingerprint(a) == Fingerprint(b))
  }

  test("the fingerprint sees a changed value, a lost row and a duplicate") {
    import spark.implicits._
    val base = (1 to 50).map(i => (i.toLong, i * 1.5)).toDF("k", "v")
    val fp = Fingerprint(base)
    assert(Fingerprint(base.filter("k != 7")) != fp)
    assert(Fingerprint(base.selectExpr("k", "IF(k = 7, v + 1e-3, v) AS v")) != fp)
    assert(Fingerprint(base.union(base.filter("k = 7"))) != fp)
  }

  test("doubles compare at nine significant digits") {
    import spark.implicits._
    val a = Seq((1L, 0.1 + 0.2)).toDF("k", "v")
    val b = Seq((1L, 0.3)).toDF("k", "v")
    assert(Fingerprint(a) == Fingerprint(b))
  }
}
