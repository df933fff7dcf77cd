package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rows = Seq(
    (1L, "a", 0.1234561, Seq(1.0f, 2.5f)),
    (2L, "b", 2.0, Seq(0.25f)),
    (3L, null, -7.25, Seq.empty[Float]))

  private def fp(data: Seq[(Long, String, Double, Seq[Float])]): String = {
    import spark.implicits._
    Fingerprint.of(data.toDF("id", "s", "x", "v").repartition(3))
  }

  test("row order does not change the fingerprint") {
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows) == fp(Seq(rows(1), rows(2), rows(0))))
  }

  test("column order does not change the fingerprint") {
    import spark.implicits._
    val df = rows.toDF("id", "s", "x", "v")
    assert(Fingerprint.of(df) == Fingerprint.of(df.select("v", "x", "s", "id")))
  }

  test("float noise below the 6-place rounding does not change it") {
    val noisy = rows.map { case (i, s, x, v) => (i, s, x + 3e-9, v) }
    assert(fp(rows) == fp(noisy))
    assert(fp(rows) == fp(rows.map { case (i, s, x, v) => (i, s, x - 3e-9, v) }))
  }

  test("a value change above the rounding, a lost row or a duplicate changes it") {
    assert(fp(rows) != fp(rows.map { case (i, s, x, v) => (i, s, x + 1e-4, v) }))
    assert(fp(rows) != fp(rows.take(2)))
    assert(fp(rows) != fp(rows :+ rows.head))
    assert(fp(rows).startsWith("3:"))
  }

  test("a null moved to another column changes it") {
    import spark.implicits._
    val a = Seq((Option(1L), Option.empty[Long])).toDF("p", "q")
    val b = Seq((Option.empty[Long], Option(1L))).toDF("p", "q")
    assert(Fingerprint.of(a) != Fingerprint.of(b))
  }

  test("negative zero and zero fingerprint alike") {
    import spark.implicits._
    assert(Fingerprint.of(Seq(0.0).toDF("x")) == Fingerprint.of(Seq(-0.0).toDF("x")))
  }
}
