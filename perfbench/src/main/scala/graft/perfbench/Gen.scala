package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.LocalDateTime
import scala.collection.mutable.ArrayBuffer

/** The benchmark's load generator: seeded CDC changes over the
  * fixture star schema the gold models read (orders plays the
  * employee-event fact, customer/nation the dimension). Every draw comes
  * from one `SplittableRandom(seed)`, so a seed fixes the inputs byte
  * for byte; the program only ever sees the files written here.
  *
  * The generator keeps the current orders state in memory so an update
  * carries a key's unchanged columns, as a CDC row image does. It also
  * records every data-quality violator it injects — the quarantine
  * check compares against that list, never against the program's own
  * output. */
final class Gen(seed: Long, val baseOrders: Int, val baseCustomers: Int) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val base = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val epoch = java.time.LocalDate.of(1992, 1, 1)

  // current order image: key -> (custkey, orderdate offset, priority)
  private val orderCust = new Array[Long](baseOrders + 1)
  private val orderDate = new Array[Int](baseOrders + 1)
  private val orderPrio = new Array[Byte](baseOrders + 1)
  private val custNation = new Array[Int](baseCustomers + 1)
  private val custSegment = new Array[Byte](baseCustomers + 1)
  private var nextOrder = baseOrders.toLong + 1
  private var nextCust = baseCustomers.toLong + 1
  private var nextViolator = ViolatorKeyBase
  private val hot: Array[Long] = {
    val n = math.max(1, baseOrders / 100)
    Array.fill(n)(1L + rnd.nextInt(baseOrders))
  }
  /** (increment, o_orderkey, violated_rule) of every injected violator. */
  val violators = ArrayBuffer.empty[(Int, Long, String)]

  private def ts(increment: Int, second: Int): LocalDateTime =
    base.plusHours(increment.toLong).plusSeconds(second.toLong)
  private def price(): Double = (100000L + rnd.nextLong(50000000L)) / 100.0
  private def acctbal(): Double = (-99999L + rnd.nextLong(1099998L)) / 100.0
  private def existingCust(): Long = 1L + rnd.nextLong(nextCust - 1)

  private def orderRow(key: Long, cust: Long, status: String, p: Double,
      date: Integer, prio: Int, at: LocalDateTime): Row =
    Row(key, cust, status, p,
      if (date == null) null else java.sql.Date.valueOf(epoch.plusDays(date.toLong)),
      Priorities(prio), at)

  private def custRow(key: Long, nation: Int, bal: Double, seg: Int, at: LocalDateTime): Row =
    Row(key, f"Customer#$key%09d", nation.toLong, bal, Segments(seg), at)

  /** Base customers (increment 0): every key once. */
  def customerBase(): Seq[Row] = (1 to baseCustomers).map { k =>
    custNation(k) = rnd.nextInt(25)
    custSegment(k) = rnd.nextInt(Segments.size).toByte
    custRow(k, custNation(k), acctbal(), custSegment(k), ts(0, k % 3600))
  }

  /** Base snapshot (increment 0): every order and customer once, plus
    * `violatorShare` of extra orders that break one rule each. */
  def base(violatorShare: Double): (Seq[Row], Seq[Row]) = {
    val cust = customerBase()
    val orders = ArrayBuffer.empty[Row]
    (1 to baseOrders).foreach { k =>
      orderCust(k) = existingCust()
      orderDate(k) = rnd.nextInt(DateSpan)
      orderPrio(k) = rnd.nextInt(Priorities.size).toByte
      orders += orderRow(k, orderCust(k), Statuses(rnd.nextInt(Statuses.size)), price(),
        orderDate(k), orderPrio(k), ts(0, k % 3600))
    }
    orders ++= violatorRows(0, math.max(4, (baseOrders * violatorShare).toInt))
    (orders.toSeq, cust)
  }

  /** One trickle increment: `nOrders` order changes — skewed hot-key
    * updates, terminations (status F), inserts of new keys and a small
    * share of violators — plus about a tenth as many customer changes.
    * Keys are distinct within an increment. */
  def increment(i: Int, nOrders: Int, violatorShare: Double): (Seq[Row], Seq[Row]) = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val seenCust = scala.collection.mutable.HashSet.empty[Long]
    val cust = ArrayBuffer.empty[Row]
    val nCust = math.max(1, nOrders / 10)
    while (cust.size < nCust) {
      val insert = rnd.nextInt(4) == 0
      val k = if (insert) nextCust else existingCust()
      if (insert || (k <= baseCustomers && seenCust.add(k))) {
        val (nation, seg) =
          if (k <= baseCustomers) (custNation(k.toInt), custSegment(k.toInt).toInt)
          else (rnd.nextInt(25), rnd.nextInt(Segments.size))
        if (insert) nextCust += 1
        cust += custRow(k, nation, acctbal(), seg, ts(i, cust.size))
      }
    }
    val orders = ArrayBuffer.empty[Row]
    val nViol = math.max(4, (nOrders * violatorShare).toInt)
    while (orders.size < nOrders - nViol) {
      val draw = rnd.nextInt(100)
      val at = ts(i, orders.size)
      if (draw < 15) {
        val k = nextOrder
        nextOrder += 1
        orders += orderRow(k, existingCust(), "O", price(), rnd.nextInt(DateSpan),
          rnd.nextInt(Priorities.size), at)
      } else {
        // skewed toward the hot set: u^3 concentrates draws on its head
        val u = rnd.nextDouble()
        val k = if (draw < 85) hot((u * u * u * hot.length).toInt)
          else 1L + rnd.nextLong(baseOrders.toLong)
        if (seen.add(k)) {
          val status = if (draw >= 75 && draw < 85) "F" else Statuses(rnd.nextInt(2))
          val ki = k.toInt
          orders += orderRow(k, orderCust(ki), status, price(), orderDate(ki),
            orderPrio(ki), at)
        }
      }
    }
    orders ++= violatorRows(i, nViol)
    (orders.toSeq, cust.toSeq)
  }

  /** `n` rows breaking one rule each (rotating not_null / between /
    * unique / foreign_key), on keys no valid change ever uses. A unique
    * violation is two otherwise valid rows with one key. */
  private def violatorRows(i: Int, n: Int): Seq[Row] = (0 until n).flatMap { j =>
    val k = nextViolator
    nextViolator += 1
    val at = ts(i, 3000 + j % 600)
    val rule = ViolatedRules(j % ViolatedRules.size)
    violators += ((i, k, rule))
    val cust = existingCust()
    rule match {
      case "not_null:o_orderdate" => Seq(orderRow(k, cust, "O", price(), null, 0, at))
      case "between:o_totalprice" => Seq(orderRow(k, cust, "O", -price(), 1, 0, at))
      case "unique:o_orderkey" =>
        Seq(orderRow(k, cust, "O", price(), 1, 0, at), orderRow(k, cust, "P", price(), 2, 0, at))
      case _ => Seq(orderRow(k, ViolatorKeyBase + k, "O", price(), 1, 0, at))
    }
  }

  /** Debezium change stream over the customer dimension: batch b holds
    * `rows` envelopes. Updates take base keys from a seeded permutation
    * (each key changes at most once, so no micro-batch ever carries a
    * key twice); one in five rows inserts a fresh key. Every
    * `corruptEvery`-th row (at a seeded phase) is corrupted JSON. Rows
    * are (batch, key, after columns…, op, corrupt). */
  def streamRows(batches: Int, rows: Int, corruptEvery: Int): Seq[Row] = {
    val perm = (1L to baseCustomers.toLong).toArray
    var i = perm.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val phase = rnd.nextInt(corruptEvery)
    var next = 0
    var fresh = baseCustomers.toLong * 10
    (0 until batches).flatMap { b =>
      (0 until rows).map { r =>
        val n = b * rows + r
        val insert = rnd.nextInt(5) == 0 || next >= perm.length
        val k = if (insert) { fresh += 1; fresh } else { next += 1; perm(next - 1) }
        val (nation, seg) =
          if (k <= baseCustomers) (custNation(k.toInt), custSegment(k.toInt).toInt)
          else (rnd.nextInt(25), rnd.nextInt(Segments.size))
        Row(b, k, k, f"Customer#$k%09d", nation.toLong, acctbal(), Segments(seg),
          ts(1 + b, r), if (insert) "c" else "u", n % corruptEvery == phase)
      }
    }
  }
}

object Gen {
  val Statuses: Seq[String] = Seq("O", "P", "F")
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Nations: Seq[String] = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val ViolatedRules: Seq[String] = Seq("not_null:o_orderdate", "between:o_totalprice",
    "unique:o_orderkey", "foreign_key:o_custkey")
  val ViolatorKeyBase = 1000000000000L
  val DateSpan = 2405 // 1992-01-01 .. 1998-08-02

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("updated_at", TimestampNTZType)))
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType), StructField("updated_at", TimestampNTZType)))
  val NationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", LongType), StructField("n_name", StringType)))
  /** The `after` image of a customer change event. */
  val CustomerAfter: StructType = CustomerSchema
  val StreamSchema: StructType = StructType(Seq(StructField("batch", IntegerType),
    StructField("key", LongType)) ++ CustomerSchema.fields ++ Seq(
    StructField("op", StringType), StructField("corrupt", BooleanType)))

  def nationRows: Seq[Row] = Nations.zipWithIndex.map { case (n, i) => Row(i.toLong, n) }

  /** Write `rows` as ONE file named `name` in the flat directory `dir`:
    * a single-task Spark write into a staging directory, then a move, so
    * the landing area is one flat directory that grows per increment.
    * Returns the file's size in bytes. */
  def land(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: String,
      name: String, format: String = "parquet"): Long = {
    val staging = s"$dir/_staging_$name"
    val df: DataFrame = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    df.coalesce(1).write.format(format).save(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.move(part.toPath, dst)
    Files.deleteTree(new java.io.File(staging))
    java.nio.file.Files.size(dst)
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }
  /** Files under `f` last modified at or after `sinceMs` (epoch ms). */
  def countSince(f: java.io.File, sinceMs: Double): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countSince(_, sinceMs)).sum).getOrElse(0L)
    else if (f.lastModified() >= sinceMs.toLong) 1L else 0L
}
