package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's only source of inputs: one seed
  * must give the same files byte for byte, another seed other keys. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = java.nio.file.Files.createTempDirectory("perfbench-gen")
  private lazy val spark: SparkSession =
    graft.Sessions.builder("local[2]", "2").getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Files.deleteTree(dir.toFile)
  }

  /** Land the base snapshot and two increments for `seed` under `name`;
    * returns each landed file's bytes, in landing order. */
  private def landAll(seed: Long, name: String): Seq[Array[Byte]] = {
    val gen = new Gen(seed, 2000, 200)
    val d = s"$dir/$name"
    new java.io.File(d).mkdirs()
    val (o0, c0) = gen.base(0.01)
    val (o1, c1) = gen.increment(1, 300, 0.02)
    val (o2, c2) = gen.increment(2, 300, 0.02)
    Seq(o0 -> Gen.OrdersSchema, c0 -> Gen.CustomerSchema, o1 -> Gen.OrdersSchema,
      c1 -> Gen.CustomerSchema, o2 -> Gen.OrdersSchema, c2 -> Gen.CustomerSchema)
      .zipWithIndex.map { case ((rows, schema), i) =>
        Gen.land(spark, rows, schema, d, s"f$i.parquet")
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d, s"f$i.parquet"))
      }
  }

  test("the same seed lands byte-identical files") {
    val a = landAll(7, "a")
    val b = landAll(7, "b")
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
  }

  test("a different seed draws different keys") {
    def keys(seed: Long) = {
      val gen = new Gen(seed, 2000, 200)
      gen.base(0.01)
      gen.increment(1, 300, 0.02)._1.map(_.getLong(0)).toSet
    }
    assert(keys(7) != keys(8))
    assert(new Gen(7, 2000, 200).streamRows(3, 50, 10) != new Gen(8, 2000, 200).streamRows(3, 50, 10))
  }

  test("increments keep keys distinct and record every violator") {
    val gen = new Gen(3, 2000, 200)
    gen.base(0.01)
    val before = gen.violators.size
    val (orders, customers) = gen.increment(1, 300, 0.02)
    val injected = gen.violators.drop(before)
    val dupKeys = injected.filter(_._3 == "unique:o_orderkey").map(_._2).toSet
    val keys = orders.map(_.getLong(0))
    assert(keys.diff(keys.distinct).toSet == dupKeys)
    assert(customers.map(_.getLong(0)).distinct.size == customers.size)
    assert(injected.map(_._3).toSet == Gen.ViolatedRules.toSet)
  }
}
