package graft.perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** The pipeline benchmark's JVM side. One run = one workload, one seed:
  *
  *   set-up (session start; input generation, repeated [[SetupReps]]
  *   times and reported per rep; the initial load or stream start, once),
  *   the timed region of `--seconds`, the output checks, then one JSON
  *   record of raw observations written to `--out`. Metric arithmetic
  *   (medians, tails, lag mapping, span self time) happens in
  *   `perfbench/metrics.py`.
  *
  * With `--trace 1` every other operation is traced (spans, Spark
  * listener accounting, observed row counts); the untraced ones give the
  * tracing overhead inside the same process. */
object Main {
  val SetupReps = 3
  val BaseOrders = 150000 // the sf0.1 orders / customer cardinalities
  val BaseCustomers = 15000
  val ViolatorShare = 0.02
  // order changes per trickle increment (plus a tenth as many customer
  // changes); fixed so rows/s and write amplification compare across seeds
  val IncrementOrders = 1000
  val WarmupIncrements = 2
  val StreamRowsPerBatch = 200
  val StreamCorruptEvery = 20
  val StreamTriggerMs = 100L
  // the open-loop offer period: 4 batches/s, below the rate where the
  // lag tail starts to rise on a 4-core box (see perfbench/README.md)
  val StreamPeriodMs = 250.0
  val StreamWarmupBatches = 4
  val LagLimitMs = 10000.0

  final case class Op(id: Long, start: Double, end: Double, rows: Long, bytesWritten: Long,
      filesWritten: Long, bytesLanded: Long, traced: Boolean, ok: Boolean) {
    def json: String =
      s"""{"id":$id,"start":$start,"end":$end,"rows":$rows,"bytes_written":$bytesWritten,""" +
        s""""files_written":$filesWritten,"bytes_landed":$bytesLanded,"traced":$traced,"ok":$ok}"""
  }

  final class Record {
    var sessionS = 0.0
    val setupRepsS = ArrayBuffer.empty[Double]
    var onceS = 0.0
    var timedStart = 0.0
    var timedEnd = 0.0
    val ops = ArrayBuffer.empty[Op]
    val checks = ArrayBuffer.empty[Check]
    val extra = ArrayBuffer.empty[String] // pre-rendered "key":value pairs
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Bytes written through the Hadoop local filesystem so far — every
    * table, manifest and checkpoint write of the program goes through it. */
  def fsBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val root = arg(args, "root")
    val out = arg(args, "out")
    require(Set("cdc_trickle", "backfill", "stream_cdc")(workload), s"unknown workload $workload")

    val rec = new Record
    val t0 = Clock.nowMs
    val spark = Sessions.builder("local[4]", "4")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    rec.sessionS = (Clock.nowMs - t0) / 1000
    val status =
      try {
        workload match {
          case "stream_cdc" => streamCdc(spark, tracer, rec, root, seed, seconds)
          case w => batch(spark, tracer, rec, root, seed, seconds, backfill = w == "backfill")
        }
        if (trace) tracer.drain()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.checks += Check("run_completed", ok = false, e.toString)
          1
      }
    val checksS = (Clock.nowMs - rec.timedEnd) / 1000
    val checks = rec.checks.map(c =>
      s"""{"name":"${c.name}","ok":${c.ok},"detail":${jsonString(c.detail)}}""")
    val json =
      s"""{"workload":"$workload","seed":$seed,"trace":${if (trace) 1 else 0},""" +
        s""""session_s":${rec.sessionS},"setup_reps_s":${rec.setupRepsS.mkString("[", ",", "]")},""" +
        s""""once_s":${rec.onceS},"checks_s":$checksS,"jvm_s":${(Clock.nowMs - t0) / 1000},"timed_start":${rec.timedStart},"timed_end":${rec.timedEnd},""" +
        s""""ops":${rec.ops.map(_.json).mkString("[", ",", "]")},""" +
        s""""checks":${checks.mkString("[", ",", "]")},""" +
        s""""peak_rss_kb":${peakRssKb()},""" +
        rec.extra.map(_ + ",").mkString +
        s""""trace_data":${if (trace) tracer.json else "null"}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // stop state-store maintenance before the session, so shutdown
    // prints no maintenance errors
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
    sys.exit(status)
  }

  /** One set-up rep: a fresh landing area under `dir` holding the
    * generated base snapshot. Returns the generator (which now holds the
    * base state the increments continue from), the landing directory and
    * the bytes landed. */
  private def generateBase(spark: SparkSession, dir: String, seed: Long): (Gen, String, Long) = {
    val gen = new Gen(seed, BaseOrders, BaseCustomers)
    val landing = s"$dir/landing"
    Seq("orders", "customer", "nation").foreach(t => new java.io.File(s"$landing/$t").mkdirs())
    val (orders, customers) = gen.base(ViolatorShare / 10)
    val landed = Gen.land(spark, orders, Gen.OrdersSchema, s"$landing/orders", "i00000.parquet") +
      Gen.land(spark, customers, Gen.CustomerSchema, s"$landing/customer", "i00000.parquet")
    Gen.land(spark, Gen.nationRows, Gen.NationSchema, s"$landing/nation", "nation.parquet")
    (gen, landing, landed)
  }

  private def batch(spark: SparkSession, tracer: Tracer, rec: Record, root: String,
      seed: Long, seconds: Double, backfill: Boolean): Unit = {
    var last: (Gen, String, Long) = null
    (0 until SetupReps).foreach { r =>
      val t = Clock.nowMs
      if (last != null) Files.deleteTree(new java.io.File(s"$root/setup${r - 1}"))
      last = generateBase(spark, s"$root/setup$r", seed)
      rec.setupRepsS += (Clock.nowMs - t) / 1000
    }
    val (gen, landing, baseBytes) = last
    val baseRows = (BaseOrders + BaseCustomers).toLong
    def landIncrement(i: Int): (Long, Long) = {
      val (o, c) = gen.increment(i, IncrementOrders, ViolatorShare)
      val bytes = Gen.land(spark, o, Gen.OrdersSchema, s"$landing/orders", f"i$i%05d.parquet") +
        Gen.land(spark, c, Gen.CustomerSchema, s"$landing/customer", f"i$i%05d.parquet")
      ((o.size + c.size).toLong, bytes)
    }
    // once: the initial bulk load (the trickle's starting state, the
    // backfill's warm-up rep), then for the trickle untimed warm-up
    // increments, so the timed region starts with the increment path hot
    val t1 = Clock.nowMs
    var chain = new Chain(spark, tracer, s"$root/rep0/lake", landing)
    chain.increment(0)
    var i = 1
    if (!backfill) while (i <= WarmupIncrements) {
      landIncrement(i)
      chain.increment(i)
      i += 1
    }
    rec.onceS = (Clock.nowMs - t1) / 1000
    rec.timedStart = Clock.nowMs
    val deadline = rec.timedStart + seconds * 1000
    var failed = false
    while (Clock.nowMs < deadline && !failed) {
      tracer.on = i % 2 == 1
      val (rows, landed) =
        if (backfill) {
          // a fresh, empty lake per rep; the bulk input stays landed
          Files.deleteTree(new java.io.File(s"$root/rep${i - 1}"))
          chain = new Chain(spark, tracer, s"$root/rep$i/lake", landing)
          (baseRows, baseBytes)
        } else landIncrement(i)
      val w0 = fsBytesWritten()
      val start = Clock.nowMs
      val ok =
        try { chain.increment(i); true }
        catch { case e: Throwable => e.printStackTrace(); false }
      val end = Clock.nowMs
      val written = fsBytesWritten() - w0
      // files created by a traced increment (the lake only grows); the
      // listing runs after the increment's end, outside its latency
      val files = if (tracer.on) Files.countSince(new java.io.File(chain.lake), start) else 0L
      rec.ops += Op(i, start, end, rows, written, files, landed, tracer.on, ok)
      tracer.on = false
      failed = !ok
      i += 1
    }
    rec.timedEnd = Clock.nowMs
    rec.checks += chain.checkBronze(gen.violators.toSeq)
    rec.checks += chain.checkQuarantine(gen.violators.toSeq)
    rec.checks += chain.checkGold()
  }

  private def streamCdc(spark: SparkSession, tracer: Tracer, rec: Record, root: String,
      seed: Long, seconds: Double): Unit = {
    // the warm-up batches, one per period of the timed region, one spare
    val batches = StreamWarmupBatches + (seconds * 1000 / StreamPeriodMs).ceil.toInt + 1
    var run: StreamRun = null
    (0 until SetupReps).foreach { r =>
      val t = Clock.nowMs
      if (run != null) Seq("", "-input").foreach(sfx =>
        Files.deleteTree(new java.io.File(s"$root/stream${r - 1}$sfx")))
      run = new StreamRun(spark, s"$root/stream$r", new Gen(seed, BaseOrders, BaseCustomers),
        batches, StreamRowsPerBatch, StreamCorruptEvery)
      run.generate()
      rec.setupRepsS += (Clock.nowMs - t) / 1000
    }
    val log = new ProgressLog
    spark.streams.addListener(log)
    val t1 = Clock.nowMs
    // the streaming layer's micro-batch threads inherit this span at start
    val closeSpan = tracer.openSpan("streams", "streams", 0)
    val (queries, stop) = run.start(log, StreamTriggerMs)
    (0 until StreamWarmupBatches).foreach { b =>
      run.offer(b)
      require(log.awaitRows(queries, run.batchRows.take(b + 1).sum, 120000L),
        s"warm-up batch $b not consumed")
    }
    rec.onceS = (Clock.nowMs - t1) / 1000

    // open loop: timed batch k is due at t0 + k * period, whatever the
    // sinks are doing; lag is measured from the due time
    val w0 = fsBytesWritten()
    val t0 = Clock.nowMs
    rec.timedStart = t0
    val offers = ArrayBuffer.empty[String]
    var b = StreamWarmupBatches
    while (b < batches && (b - StreamWarmupBatches) * StreamPeriodMs < seconds * 1000) {
      val due = t0 + (b - StreamWarmupBatches) * StreamPeriodMs
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      // trace alternating blocks of four batches
      tracer.on = ((b - StreamWarmupBatches) / 4) % 2 == 0
      val bytes = run.offer(b)
      offers += s"""{"batch":$b,"due":$due,"offered":${Clock.nowMs},"rows":${run.batchRows(b)},""" +
        s""""bytes":$bytes,"traced":${tracer.on}}"""
      b += 1
    }
    val offeredRows = run.batchRows.take(b).sum
    val backlog = offeredRows - log.minRows(queries)
    val drained = log.awaitRows(queries, offeredRows, 60000L)
    rec.timedEnd = Clock.nowMs
    tracer.on = false
    stop()
    closeSpan()
    val written = fsBytesWritten() - w0
    // a lower bound: the SCD2 sink overwrites its table each micro-batch
    val files = Files.countSince(new java.io.File(run.root), t0)
    rec.checks += Check("stream_drained", drained, s"backlog after drain wait")
    rec.checks ++= run.check(b)
    rec.extra += s""""stream":{"offers":${offers.mkString("[", ",", "]")},""" +
      s""""warmup_rows":${run.batchRows.take(StreamWarmupBatches).sum},"progress":${log.json},""" +
      s""""queries":${queries.map(q => s""""$q"""").mkString("[", ",", "]")},""" +
      s""""bytes_written":$written,"files_written":$files,"backlog_end_rows":$backlog,"lag_limit_ms":$LagLimitMs,""" +
      s""""rows_valid":${run.validRows},"rows_dlq":${run.dlqRows},"period_ms":$StreamPeriodMs}"""
  }
}
