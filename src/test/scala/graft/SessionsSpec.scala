package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, col, lit}

/** The graft_* function table: every name resolves, and an argument list
  * no entry accepts fails with one IllegalArgumentException that names
  * the function and the argument count. */
class SessionsSpec extends SparkSuite {

  private lazy val df = spark.range(3).selectExpr("id", "cast(id as string) as text")

  private def resolve(name: String, args: Column*): Unit =
    df.select(call_function(name, args: _*)).schema

  private lazy val graftNames: Seq[String] =
    spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0)).toSeq

  test("exactly 37 graft_* functions are registered") {
    assert(graftNames.size == 37, graftNames.sorted.mkString(", "))
  }

  for (n <- Seq(0, 5)) test(s"every graft_* function rejects $n arguments with one error") {
    for (name <- graftNames) {
      val e = intercept[IllegalArgumentException](resolve(name, Seq.fill(n)(col("id")): _*))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"$n arguments"),
        s"$name with $n arguments: ${e.getMessage}")
    }
  }

  test("a non-literal int argument still names the function") {
    val e = intercept[IllegalArgumentException](
      resolve("graft_shingle_hashes", col("text"), col("id")))
    assert(e.getMessage.startsWith("graft_shingle_hashes expects a literal int"), e.getMessage)
  }

  test("optional-argument forms still resolve") {
    resolve("graft_cm_sketch", col("text"))
    resolve("graft_cm_sketch", col("text"), lit(2048))
    resolve("graft_cm_sketch", col("text"), lit(2048), lit(4))
    resolve("graft_hll_distinct", col("id"))
    resolve("graft_hll_distinct", col("id"), lit(12))
    resolve("graft_kmv_sketch", col("id"))
    resolve("graft_kll_sketch", col("id").cast("double"))
  }
}
