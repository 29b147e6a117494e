package graft

import graft.functions._
import graft.plans.AsOfMarker
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import scala.reflect.ClassTag

/** Session construction: one place for the engine's config + the custom
  * expression registrations (SparkSessionExtensions.injectFunction — the
  * public extension point; the expressions live in graft.functions).
  *
  * [[functionTable]] is the one place to add a `graft_*` SQL function:
  * one `fn[Expr](name) { case ... }` entry, one `case` per accepted
  * argument list.
  */
object Sessions {

  /** One SQL function: its name, the expression class it builds (named
    * once, as `fn`'s type parameter) and its accepted argument lists. */
  private final case class Fn(name: String, clazz: Class[_],
      build: PartialFunction[Seq[Expression], Expression])

  private def fn[E <: Expression](name: String)(
      build: PartialFunction[Seq[Expression], E])(implicit c: ClassTag[E]): Fn =
    Fn(name, c.runtimeClass, build)

  private def int(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expects a literal int, got $other")
  }

  private val functionTable: Seq[Fn] = Seq(
    fn[ShingleHashes]("graft_shingle_hashes") { case Seq(t, n) => ShingleHashes(t, int(n)) },
    fn[WindowHashes]("graft_window_hashes") { case Seq(t, n) => WindowHashes(t, int(n)) },
    fn[TokenHashes]("graft_token_hashes") { case Seq(t) => TokenHashes(t) },
    fn[MinHashSignature]("graft_minhash_signature") { case Seq(h, k) => MinHashSignature(h, int(k)) },
    fn[SimHash]("graft_simhash") { case Seq(h, b) => SimHash(h, int(b)) },
    fn[SortedIntersectSize]("graft_sorted_intersect_size") { case Seq(a, b) => SortedIntersectSize(a, b) },
    fn[DotProduct]("graft_dot_product") { case Seq(a, b) => DotProduct(a, b) },
    fn[HllDistinct]("graft_hll_distinct") {
      case Seq(x) => HllDistinct(x, 12); case Seq(x, p) => HllDistinct(x, int(p)) },
    fn[HllSketch]("graft_hll_sketch") {
      case Seq(x) => HllSketch(x, 12); case Seq(x, p) => HllSketch(x, int(p)) },
    fn[HllMergeAgg]("graft_hll_merge") { case Seq(s) => HllMergeAgg(s) },
    fn[HllEstimate]("graft_hll_estimate") { case Seq(s) => HllEstimate(s) },
    fn[KmvSketch]("graft_kmv_sketch") {
      case Seq(x) => KmvSketch(x, 1024); case Seq(x, k) => KmvSketch(x, int(k)) },
    fn[KmvMergeAgg]("graft_kmv_merge") { case Seq(s) => KmvMergeAgg(s) },
    fn[KmvEstimate]("graft_kmv_estimate") { case Seq(s) => KmvEstimate(s) },
    fn[KmvJaccard]("graft_kmv_jaccard") { case Seq(a, b) => KmvJaccard(a, b) },
    fn[KllSketchAgg]("graft_kll_sketch") {
      case Seq(x) => KllSketchAgg(x, 256); case Seq(x, k) => KllSketchAgg(x, int(k)) },
    fn[KllMergeAgg]("graft_kll_merge") { case Seq(s) => KllMergeAgg(s) },
    fn[KllQuantile]("graft_kll_quantile") { case Seq(s, q) => KllQuantile(s, q) },
    fn[BloomContains]("graft_bloom_contains") { case Seq(b, h) => BloomContains(b, h) },
    fn[CmSketch]("graft_cm_sketch") {
      case Seq(x) => CmSketch(x, 2048, 4); case Seq(x, w) => CmSketch(x, int(w), 4)
      case Seq(x, w, d) => CmSketch(x, int(w), int(d)) },
    fn[CmMergeAgg]("graft_cm_merge") { case Seq(s) => CmMergeAgg(s) },
    fn[CmEstimate]("graft_cm_estimate") { case Seq(s, x) => CmEstimate(s, x) },
    fn[CmJoinSize]("graft_cm_join_size") { case Seq(a, b) => CmJoinSize(a, b) },
    fn[CmTotal]("graft_cm_total") { case Seq(s) => CmTotal(s) },
    fn[FreqSketch]("graft_freq_sketch") { case Seq(x, c) => FreqSketch(x, int(c)) },
    fn[TopKRows]("graft_topk") { case Seq(key, p, k) => TopKRows(key, p, int(k)) },
    fn[LshBuckets]("graft_lsh_buckets") { case Seq(v, b, d, t) => LshBuckets(v, int(b), int(d), int(t)) },
    fn[CdcBoundaries]("graft_cdc_boundaries") { case Seq(t, w, d) => CdcBoundaries(t, int(w), int(d)) },
    fn[AHash64]("graft_ahash") { case Seq(t) => AHash64(t) },
    fn[AsOfMarker]("graft_asof") { case Seq(l, r, tie) => AsOfMarker(l, r, tie) },
    fn[BitmapSketch]("graft_bitmap_sketch") { case Seq(x) => BitmapSketch(x) },
    fn[BitmapMergeAgg]("graft_bitmap_merge") { case Seq(s) => BitmapMergeAgg(s) },
    fn[BitmapCount]("graft_bitmap_count") { case Seq(s) => BitmapCount(s) },
    fn[NormText]("graft_norm_text") { case Seq(t) => NormText(t) },
    fn[PairProducts]("graft_pair_products") { case Seq(v) => PairProducts(v) },
    fn[CharCounts]("graft_char_counts") { case Seq(t) => CharCounts(t) },
    fn[RollingHash]("graft_rolling_hash") { case Seq(t) => RollingHash(t) })

  /** Registers [[functionTable]] (see graft.functions.TextKernels) and
    * the kernel-fusion optimizer rule (graft.plans.KernelFusion). An
    * argument list no `case` accepts, or a non-literal int argument,
    * throws IllegalArgumentException naming the function. */
  val registerGraftFunctions: SparkSessionExtensions => Unit = { ext =>
    ext.injectOptimizerRule(graft.plans.KernelFusion.apply)
    ext.injectResolutionRule(_ => graft.plans.AsOfRewrite)
    ext.injectPlannerStrategy(graft.plans.AsOfJoinStrategy.apply)
    for (Fn(name, clazz, build) <- functionTable)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
        (args: Seq[Expression]) =>
          (try build.lift(args) catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"$name ${e.getMessage}", e)
          }).getOrElse(throw new IllegalArgumentException(
            s"$name accepts no call with ${args.length} arguments"))))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` = n, restoring the
    * previous value after. Size to the VOLUME a stage actually shuffles
    * (streaming state keys, a near-dup label table), not CPU count —
    * and keep heavy upstream work OUTSIDE the scope: the conf is read at
    * plan time, so anything materialized inside runs at the narrow
    * width. Mutates the session's SQLConf, so callers running queries
    * CONCURRENTLY on one session should instead plan the narrow work on
    * `spark.newSession()` (isolated conf, shared catalog/state).
    *
    * Stateful streaming ops instantiate one state store (with its own
    * checkpoint delta files) PER shuffle partition PER micro-batch — a
    * low-rate stream at the batch-tuned width pays 32 state commits per
    * trigger for a handful of rows. That width is frozen into the
    * checkpoint at first start, so it must be set before the query
    * begins; size it to state volume, not CPU count. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** [[withShufflePartitions]] with AQE partition COALESCING off for the
    * scope: coalescing targets shuffle BYTES, but a hash aggregate's
    * in-memory entry set can be an order of magnitude larger than its
    * compressed shuffle input — a wide aggregate that NEEDS its n slices
    * (q291's 1e8-edge rank aggregation) gets re-fattened by AQE and
    * exhausts unified memory. Skew-join splitting stays on. */
  def withWideAggPartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prevC = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try withShufflePartitions(spark, n)(body)
    finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevC)
  }

  /** Standard engine session builder (UTC, tuned shuffle width, events
    * nanos compat, custom functions). AQE knobs are set explicitly even
    * where they match Spark 4 defaults — runtime partition coalescing
    * and skew-join splitting are part of this engine's 100 TB design
    * (shuffle width here is sized for the local harness; a cluster
    * deployment scales `shuffle.partitions` with executor count and
    * relies on AQE to coalesce). */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Cached plans coalesce like everything else: with the Spark
      // default (false), a frame cached inside a wide-shuffle scope
      // pins its width onto every downstream stage — q290's HyperBall
      // rounds cache at the 256-partition sketch width and re-ran 256
      // near-empty tasks per stage at sf0.1. AQE still keeps partitions
      // at the advisory byte size, so the sf10 wide-state protection is
      // unchanged — the width now ADAPTS to the volume instead of the
      // constant (guide §2: scale-adaptive partitioning).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(registerGraftFunctions)
}
