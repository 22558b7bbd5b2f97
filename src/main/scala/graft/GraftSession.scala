package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning: the one place a
  * session is built and its configuration written down. Bench, Verify,
  * every `graft.tools` main and the test suite run this config, so the
  * oracle, the bench and the specs all exercise the same engine.
  *
  * Scale design: on a real cluster these settings come from spark-submit; the
  * important ones we pin here are AQE (runtime re-planning: skew-join splitting,
  * partition coalescing), a shuffle-partition count matched to local cores
  * (at 100 TB this should be ~2-3x total executor cores), and UTC so date
  * semantics match the DuckDB oracle.
  *
  * No setting has an env override. To re-measure a `spark.sql.*` setting,
  * set it on the running session, e.g.
  * `spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")`;
  * core settings such as the codec only take effect in a new SparkContext.
  */
object GraftSession {

  /** The settings [[local]] applies, in order. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // let AQE convert a sort-merge join back to the faster shuffled-hash
    // form when post-shuffle stats prove the per-partition build fits --
    // the corpus-scale joins hint("merge") for spill-safety and rely on
    // this for the small-scale fast path (forced SHUFFLE_HASH OOMs at the
    // 100x decade: SCALE.md session-8 notes)
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    // cached plans keep AQE re-optimization (coalescing, SMJ->BHJ): the
    // default false pins a cached join at the full shuffle-partition count
    // (merge's s2.cache() measured as 32 near-empty tasks per stage at r12)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // legacy NANOS parquet support belongs at session build, not inside a
    // table loader: Tables.events handles both the nanos-as-long and the
    // native MICROS fixture layouts, and a loader silently toggling a
    // session-global legacy flag would be a trap for any other NANOS
    // parquet read in the same session
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // zstd shuffle blocks measured ~2x smaller than lz4 on the vector/
    // posting exchanges at lower cpu (r12 guide-§2.3 measurement)
    "spark.io.compression.codec" -> "zstd",
    // AQE coalescing's 1 MiB minimum partition floor under-parallelizes
    // CPU-dense work at low byte volume (r13 guide-§2.2 measurement: the
    // w14 range sort coalesced to ~6 partitions and wall rose 25% while
    // byte volume was 6.6 MB; at 256 KiB the sort spreads and both wall
    // AND cpu beat the pinned-width plan). Production-safe: at corpus
    // scale the advisory target dominates and the floor is irrelevant.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
    // ObjectHashAggregate (collect_list/collect_set) falls back to
    // SORT-BASED aggregation after just 128 distinct keys by default,
    // which silently turns every per-doc/per-user list aggregation into a
    // full sort of its input — measured at the 100x doc decade as ALL of
    // d17's 1.7 GB spill and ~2x its aggregate-stage CPU. Every grouped
    // list in this engine is bounded by construction (doc length, a
    // user's calendar days), so the hash map's VALUES are small; 2M keys
    // per partition is the regime the partition sizing already assumes.
    //
    // CONTRACT for new queries: this setting is SESSION-GLOBAL, so every
    // collect_list/collect_set added to the engine must keep its
    // per-group values bounded by construction (cap, slice, or window the
    // group first) — an unbounded-values list agg would have lost its
    // sort-based spill fallback and can OOM an executor instead of
    // spilling. If you cannot bound the values, aggregate under a
    // dedicated session (or reset this conf around the call).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> (1 << 21).toString,
    // Spark's default, pinned: Dataset.observe metrics ride accumulators,
    // which a speculative duplicate task attempt can inflate. The engine
    // calls no observe (GraftSessionSpec guards that), but a caller's
    // observed counts on this session stay exact.
    // GraftSessionSpec fails if this is ever turned on.
    "spark.speculation" -> "false",
    // Generated classes (whole-stage and expression code) live in one LRU
    // cache per JVM. Spark's default of 100 entries is smaller than one
    // Pipeline.run, so every streaming op evicted the previous op's classes
    // and recompiled them: 124-128 Janino compiles per medbench incremental
    // op on 4 vCPUs, 12-27 at this size. Measured working sets: one
    // incremental op ~127 classes; analytics 146 new classes on its first
    // pass and 309 over the whole JVM. 1000 holds all of them with room.
    // STATIC: read once per JVM, when code is first generated, so it only
    // takes effect through the first session built in the JVM.
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Cores a session gets when the caller names none: `SPARK_GRAFT_CPUS`
    * if set, otherwise every available processor.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]").appName("graft")
    val spark = settings(cores)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Classes this JVM's code generator has compiled so far: each one is a
    * miss in the generated-code cache. Report the delta over a span.
    */
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val JobDescription = "spark.job.description"

  /** Runs `body` with `label` as the description of every job it starts
    * (the `spark.job.description` local property, which event logs and
    * listeners see), then restores the previous description. Job groups are
    * left alone: a caller such as a benchmark harness may own them.
    */
  def labelled[T](label: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val before = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body
    finally sc.setLocalProperty(JobDescription, before)
  }

  /** Runs `body`, then unpersists every RDD left persisted since it began.
    * Query functions return DataFrames whose localCheckpoint/cache blocks
    * stay pinned in executor storage; a loop over queries that never frees
    * them squeezes execution memory (measured at sf0.1 in the 8g driver as
    * broad >1.5x inflation of unrelated queries after the dedup family).
    * Only RDDs created during `body` are released: a blanket unpersist
    * would also evict cross-call cached state, and localCheckpoint RDDs are
    * unrecoverable once unpersisted.
    */
  def releasingPinned[T](spark: SparkSession)(body: => T): T = {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinnedBefore.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
