package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Scala canonical form against the cases `tests/test_canon.py` pins
  * the Python form to, so that Spark's rows and DuckDB's rows digest
  * alike. */
class CanonSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit val formats: Formats = DefaultFormats
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()
  private val cases = JsonMethods.parse(Files.readString(
    Paths.get("tests", "canon_cases.json")))

  override def afterAll(): Unit = spark.stop()

  (cases \ "rows").extract[List[JValue]].foreach { c =>
    test((c \ "name").extract[String]) {
      val df = spark.sql((c \ "spark").extract[String])
      val schema = df.schema
      val order = Canon.columnOrder(schema)
      val got = df.queryExecution.toRdd
        .map(r => Canon.row(r, schema, order)).collect()
      assert(got.toSeq === Seq((c \ "row").extract[String]))
    }
  }

  test("sci is Python's %.9e, rounding the exact binary value half-even") {
    assert(Canon.sci(1.5) === "1.500000000e+00")
    assert(Canon.sci(-2.5e-300) === "-2.500000000e-300")
    assert(Canon.sci(1e22) === "1.000000000e+22")
    assert(Canon.sci(9.9999999995) === "9.999999999e+00")
    assert(Canon.sci(0.1f.toDouble) === "1.000000015e-01")
    assert(Canon.sci(-0.0) === "-0.000000000e+00")
  }

  test("the digest is order-free, counts duplicates and ignores column order") {
    val c = cases \ "digest"
    val df = spark.sql((c \ "spark").extract[String])
    val d = Canon.digest(df)
    assert(Canon.columns(df) === (c \ "columns").extract[Seq[String]])
    assert(d.render === (c \ "digest").extract[String])
    assert(Canon.digest(df.repartition(3)) === d)
    assert(Canon.digest(df.select("s", "k")) === d)
    assert(Canon.digest(df.distinct()) !== d)
  }
}
