package graft

import graft.fixtures.Planted
import org.apache.spark.sql.functions._

/** The one-scan planted-fixture builder the oracled queries rely on. */
class PlantedSpec extends SparkSpec {
  import spark.implicits._

  test("variants: a base that already has the __v tag column is refused by name") {
    val base = Seq((1L, 0)).toDF("id", "__v")
    val e = intercept[IllegalArgumentException] {
      Planted.variants(base, Seq(lit(true) -> Seq("id" -> lit(5L))))
    }
    assert(e.getMessage.contains("__v"), e.getMessage)
  }
}
