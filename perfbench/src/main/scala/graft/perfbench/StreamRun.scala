package graft.perfbench

import graft.ops.{Cdc, Merge}
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Every `StreamingQueryProgress` of the run, kept for the lag mapping
  * (due time → end of the micro-batch that covers the batch in every
  * sink), plus each query's cumulative input rows so the driver can wait
  * for a sink to catch up without polling the sinks. */
final class ProgressLog extends StreamingQueryListener {
  private val lock = new Object
  private val records = ArrayBuffer.empty[String]
  private val cumulative = scala.collection.mutable.Map.empty[String, Long]
  private val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

  def name(id: java.util.UUID, n: String): Unit = { names.put(id, n); () }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val q = Option(names.get(p.id)).getOrElse(p.id.toString)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val durations = Seq("addBatch", "getBatch", "latestOffset", "queryPlanning",
      "walCommit", "commitOffsets", "triggerExecution")
      .map(k => s""""$k":${ms(k)}""").mkString("{", ",", "}")
    lock.synchronized {
      records += s"""{"query":"$q","batch":${p.batchId},"start":$start,""" +
        s""""end":${start + ms("triggerExecution")},"rows":${p.numInputRows},"durations":$durations}"""
      cumulative(q) = cumulative.getOrElse(q, 0L) + p.numInputRows
      lock.notifyAll()
    }
  }

  def minRows(queries: Seq[String]): Long = lock.synchronized {
    queries.map(cumulative.getOrElse(_, 0L)).min
  }

  /** Block until every query has taken in `rows` rows, or `timeoutMs`
    * passes; true when they all have. */
  def awaitRows(queries: Seq[String], rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while (queries.exists(cumulative.getOrElse(_, 0L) < rows) &&
          System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
      !queries.exists(cumulative.getOrElse(_, 0L) < rows)
    }
  }

  def json: String = lock.synchronized(records.mkString("[", ",", "]"))
}

/** The stream chain: Debezium envelopes offered open-loop into a watched
  * directory, forked by `Streams.dlqPipeline` into a valid parquet sink
  * and a JSON DLQ, and folded by `Streams.scd2Sink` into a silver SCD2
  * table — three queries under one non-terminating trigger. */
final class StreamRun(spark: SparkSession, val root: String, gen: Gen,
    batches: Int, rowsPerBatch: Int, corruptEvery: Int) {
  import StreamRun._

  // generated input lives outside `root`, so `root` holds only what the
  // program writes
  private val stage = s"$root-input/stage"
  private val in = s"$root/in"
  val validPath = s"$root/valid"
  val dlqPath = s"$root/dlq"
  val silverPath = s"$root/silver_customer"
  /** rows and corrupted rows per generated batch */
  val batchRows = new Array[Long](batches)
  val batchCorrupt = new Array[Long](batches)

  /** Set-up: generate every batch's envelopes (one Spark write,
    * partitioned by batch) and the base silver table. */
  def generate(): Unit = {
    val base = gen.customerBase()
    val rows = gen.streamRows(batches, rowsPerBatch, corruptEvery)
    rows.foreach { r =>
      batchRows(r.getInt(0)) += 1
      if (r.getBoolean(r.length - 1)) batchCorrupt(r.getInt(0)) += 1
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.StreamSchema)
    val after = Gen.CustomerAfter.fieldNames.toSeq.map(col)
    val env = when(col("op") === "c", Cdc.debeziumEnvelope(after, "c"))
      .otherwise(Cdc.debeziumEnvelope(after, "u"))
    df.select(col("batch"), col("key"),
        when(col("corrupt"), concat(lit("x"), env)).otherwise(env).as("value"),
        col("updated_at").cast("string").as("kafka_ts"))
      .coalesce(1).write.partitionBy("batch").json(stage)
    Merge.asScd2(spark.createDataFrame(java.util.Arrays.asList(base: _*), Gen.CustomerSchema)
      .drop("updated_at"), "2000-01-01 00:00:00")
      .coalesce(1).write.parquet(silverPath)
    new java.io.File(in).mkdirs(): Unit
  }

  /** Start the three queries; returns their names and a stopper. */
  def start(log: ProgressLog, triggerMs: Long): (Seq[String], () => Unit) = {
    val raw = Streams.jsonFileSource(spark, in, RawSchema)
    val trigger = Trigger.ProcessingTime(triggerMs)
    val dlq = Streams.dlqPipeline(raw, "value", "kafka_ts", Cdc.debeziumSchema(Gen.CustomerAfter),
      validPath, dlqPath, s"$root/cp/dlq", trigger)
    val scd2 = Streams.scd2Sink(
      Cdc.debeziumAfter(raw, "value", Gen.CustomerAfter).filter(col("c_custkey").isNotNull),
      silverPath, "c_custkey", Seq("c_acctbal"), s"$root/cp/scd2", trigger)
    log.name(dlq.valid.id, "valid")
    log.name(dlq.dlq.id, "dlq")
    log.name(scd2.id, "scd2")
    (Seq("valid", "dlq", "scd2"), () => { dlq.stopAll(); scd2.stop() })
  }

  /** Publish batch `b` into the watched directory by one rename;
    * returns its size in bytes. */
  def offer(b: Int): Long = {
    val dir = new java.io.File(s"$stage/batch=$b")
    val part = dir.listFiles().filter(_.getName.startsWith("part-")).head
    val bytes = part.length()
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(in, f"b$b%05d.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    bytes
  }

  var validRows = 0L
  var dlqRows = 0L

  /** valid + DLQ = offered, and DLQ = the injected corruptions, over the
    * first `offered` batches. */
  def check(offered: Int): Seq[Check] = {
    val rows = batchRows.take(offered).sum
    val corrupt = batchCorrupt.take(offered).sum
    val dlq = spark.read.schema(DlqSchema).json(dlqPath)
    validRows = spark.read.parquet(validPath).count()
    dlqRows = dlq.count()
    val dlqMarked = dlq.filter(col("value").startsWith("x")).count()
    Seq(
      Check("stream_valid_plus_dlq_equals_offered", validRows + dlqRows == rows,
        s"valid=$validRows dlq=$dlqRows offered=$rows"),
      Check("stream_dlq_equals_injected", dlqRows == corrupt && dlqMarked == corrupt,
        s"dlq=$dlqRows marked=$dlqMarked corrupted=$corrupt"))
  }
}

object StreamRun {
  val RawSchema: StructType = StructType(Seq(StructField("key", LongType),
    StructField("value", StringType), StructField("kafka_ts", StringType)))
  val DlqSchema: StructType = StructType(Seq(StructField("value", StringType),
    StructField("kafka_ts", StringType), StructField("reason", StringType)))
}
