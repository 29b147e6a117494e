package graft.perfbench

import graft.Meta
import graft.Meta.Versioned
import graft.ops.{Facts, Incremental, Merge, Quality, Windows}
import graft.sql.GoldModels
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The medallion batch chain over one increment, built only from the
  * engine's public operators: watermark slice → DQ quarantine → bronze
  * upsert MERGE → silver SCD2 MERGE → facts → gold models → one
  * manifest commit. Each layer's output is materialized inside that
  * layer's span by the `Versioned.write` the pipeline makes anyway, so a
  * lazy frame cannot push one layer's work into the next span; the
  * final `commitManifest` makes every table's new version visible at
  * once.
  *
  * `lake` holds the versioned tables and the commit manifests;
  * `landing` the flat landing directories the generator fills. */
final class Chain(spark: SparkSession, tracer: Tracer, val lake: String, landing: String) {
  import Chain._

  private var wmOrders = "1970-01-01 00:00:00"
  private var wmCustomer = "1970-01-01 00:00:00"
  private def observe(df: DataFrame, trace: Long, name: String): DataFrame =
    tracer.observe(df, trace, name)

  private def current(table: String, committed: Option[Map[String, Long]],
      empty: => DataFrame): DataFrame =
    committed.flatMap(_.get(table))
      .map(v => Versioned.read(spark, s"$lake/$table", Some(v)))
      .getOrElse(empty)

  /** Run one increment through the chain; returns the commit id. The
    * first increment (trace 0) loads into empty bronze and silver. */
  def increment(trace: Long): Long = {
    val t = tracer
    val committed = t.span("meta", "meta.resolve", trace) {
      Versioned.committedVersions(spark, lake)
    }
    def empty(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val bronzeT = current("bronze_orders", committed, empty(Gen.OrdersSchema))
    val silverT = current("silver_customer", committed,
      Merge.asScd2(empty(Gen.CustomerSchema).drop("updated_at"), "2000-01-01 00:00:00"))

    // 1. incremental: rows past each watermark, and the next watermarks
    val (orders, customers) = t.span("incremental", "incremental", trace) {
      val o = observe(Incremental.slice(
        spark.read.schema(Gen.OrdersSchema).parquet(s"$landing/orders"),
        "updated_at", wmOrders), trace, "incremental.rows_selected")
      val c = Incremental.slice(
        spark.read.schema(Gen.CustomerSchema).parquet(s"$landing/customer"),
        "updated_at", wmCustomer)
      Incremental.nextWatermark(o, "updated_at").foreach(w => wmOrders = fmt(w))
      Incremental.nextWatermark(c, "updated_at").foreach(w => wmCustomer = fmt(w))
      (o, c)
    }

    // 2. quality: violators to quarantine, the rest admitted
    val (quarantineV, admitted) = t.span("quality", "quality", trace) {
      val ref = silverT.select("c_custkey").unionByName(customers.select("c_custkey"))
      val q = Quality.quarantine(Rules, observe(orders, trace, "quality.rows_checked"),
        Seq("o_orderkey"), Map("customer" -> ref))
      val v = Versioned.write(observe(q, trace, "quality.rows_quarantined"), s"$lake/quarantine")
      val bad = Versioned.read(spark, s"$lake/quarantine", Some(v)).select("o_orderkey")
      (v, orders.join(bad, Seq("o_orderkey"), "left_anti"))
    }

    // 3-4. merge: bronze upsert and silver SCD2
    val bronzeV = t.span("merge", "merge.upsert", trace) {
      Versioned.write(Merge.upsertMerge(
        observe(bronzeT, trace, "merge.target_rows_read"),
        observe(admitted, trace, "merge.rows_changed"), "o_orderkey"),
        s"$lake/bronze_orders")
    }
    val silverV = t.span("merge", "merge.scd2", trace) {
      Versioned.write(Merge.scd2Merge(
        observe(silverT, trace, "merge.target_rows_read"),
        observe(customers, trace, "merge.rows_changed"), "c_custkey", Seq("c_acctbal")),
        s"$lake/silver_customer")
    }
    val bronze = Versioned.read(spark, s"$lake/bronze_orders", Some(bronzeV))
    val silver = Versioned.read(spark, s"$lake/silver_customer", Some(silverV))

    // 5. facts over bronze
    val factVs = t.span("facts", "facts", trace) {
      val emp = bronze.withColumn("hired",
        date_sub(col("o_orderdate"), (col("o_orderkey") % 1000).cast("int")))
      Seq(
        "fact_attrition" -> Facts.attritionFact(emp, "o_orderkey",
          col("o_orderstatus") === "F", col("hired"), col("o_orderdate")),
        "fact_headcount" -> Facts.headcountFact(bronze, "o_orderkey",
          col("o_orderstatus") =!= "F", col("o_orderdate"))
      ).map { case (n, df) =>
        n -> Versioned.write(observe(df, trace, "facts.rows_out"), s"$lake/$n")
      }
    }

    // 6. gold models over the bronze/silver versions just written
    val goldVs = t.span("gold", "gold", trace) {
      registerViews(bronze, silver)
      GoldTables.map { case (n, sql) =>
        n -> Versioned.write(observe(GoldModels.run(spark, sql), trace, "gold.rows_out"),
          s"$lake/$n")
      }
    }

    // 7. one commit makes the increment visible
    val id = t.span("meta", "meta.commit", trace) {
      Versioned.commitManifest(spark, lake,
        Seq("quarantine" -> quarantineV, "bronze_orders" -> bronzeV,
          "silver_customer" -> silverV) ++ factVs ++ goldVs)
    }
    tracer.collectObserved()
    id
  }

  private def registerViews(bronze: DataFrame, silver: DataFrame): Unit = {
    bronze.createOrReplaceTempView("orders")
    silver.filter(col("is_current")).createOrReplaceTempView("customer")
    spark.read.schema(Gen.NationSchema).parquet(s"$landing/nation")
      .createOrReplaceTempView("nation")
  }

  // ---- output checks, run after the timed region ----

  /** Bronze must equal the latest image per key of every admitted
    * landed row (all landed rows minus the generator's violators),
    * compared by bucketed content checksum. */
  def checkBronze(violators: Seq[(Int, Long, String)]): Check = {
    import spark.implicits._
    val bad = violators.map(_._2).distinct.toDF("o_orderkey")
    val landed = spark.read.schema(Gen.OrdersSchema).parquet(s"$landing/orders")
    val expected = Windows.latestPerKey(landed.join(bad, Seq("o_orderkey"), "left_anti"),
      "o_orderkey", "updated_at", "o_orderkey")
    val bronze = Versioned.readCommitted(spark, lake, "bronze_orders")
    val cols = Gen.OrdersSchema.fieldNames.toSeq
    def sums(df: DataFrame) = Meta.tableChecksum(df, cols).collect().map(_.toString).toSet
    val (got, want) = (sums(bronze), sums(expected))
    val diff = got.diff(want).size + want.diff(got).size
    Check("bronze_equals_latest_admitted", diff == 0, s"$diff checksum buckets differ")
  }

  /** The quarantine must hold exactly the injected violators. */
  def checkQuarantine(violators: Seq[(Int, Long, String)]): Check = {
    val want = violators.map(v => (v._2, v._3))
    val got = Versioned.readAll(spark, s"$lake/quarantine").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (extra, missing) = (got.diff(want).size, want.diff(got).size)
    Check("quarantine_equals_injected", extra == 0 && missing == 0,
      s"$extra unexpected, $missing missing rows")
  }

  /** Each committed gold table must equal its model run directly on the
    * committed bronze/silver snapshot (gold tables are small: compared
    * as collected row multisets). */
  def checkGold(): Check = {
    registerViews(Versioned.readCommitted(spark, lake, "bronze_orders"),
      Versioned.readCommitted(spark, lake, "silver_customer"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val bad = GoldTables.filter { case (n, sql) =>
      rows(Versioned.readCommitted(spark, lake, n)) != rows(GoldModels.run(spark, sql))
    }.map(_._1)
    Check("gold_equals_direct_models", bad.isEmpty, s"mismatched: ${bad.mkString(",")}")
  }
}

final case class Check(name: String, ok: Boolean, detail: String)

object Chain {
  import Quality._

  val Rules: Seq[Rule] = Seq(
    NotNull("orders", "o_orderdate"),
    Between("orders", "o_totalprice", 0.0, 1.0e7),
    Unique("orders", "o_orderkey"),
    ForeignKey("orders", "o_custkey", "customer", "c_custkey"))

  val GoldTables: Seq[(String, String)] = Seq(
    "gold_attrition_monthly" -> GoldModels.attritionMonthly,
    "gold_attrition_by_dept" -> GoldModels.attritionByDept,
    "gold_attrition_summary" -> GoldModels.attritionSummary)

  private def fmt(ts: java.sql.Timestamp): String =
    ts.toLocalDateTime.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
}
