package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Design point is a 1000-executor cluster over ~100 TB; local[N] is only the
  * test harness. Shuffle partitions default to the local core count (32 in the
  * harness) instead of Spark's 200; on a real cluster this is overridden by
  * AQE coalescing, which we leave enabled.
  */
object GraftSession {

  def local(cores: Int = 32): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()

  /** Apply the engine's standard config to any builder (cluster or local). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.appName("graft")
      // Catalyst extensions (SURVEY §4.3): CURIE-prefix predicate →
      // StartsWith rewrite so it pushes into the parquet scan
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // permissive eval: engine semantics are null-on-miss (the reference's
      // grounding functions return None on unmapped input, not errors)
      .config("spark.sql.ansi.enabled", "false")
      // mapping dimensions (xref tables, ~45k-row HGNC-scale) must broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // the events table carries TIMESTAMP(NANOS) which Spark only reads as
      // long nanos; Tables.events re-derives a proper timestamp column
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // ContextCleaner reclaims out-of-scope localCheckpoint/persist
      // blocks and shuffle files only after a DRIVER GC exposes the weak
      // refs; an idle 8g+ heap can go 30+ min (the default interval)
      // without one, so a long many-query session accumulates dead blocks
      // until memory pressure forces the collection at the worst time.
      // 2 min bounds the dead-block inventory at ~zero measured cost
      // (full-bench instrumentation: storage stays <200 MB either way).
      // Another interval: set this key on the builder after `configure`.
      .config("spark.cleaner.periodicGC.interval", "2min")

  /** Production streaming posture: RocksDB-backed state stores. The
    * default HDFS-backed provider keeps every key's state resident in
    * executor memory — even with the sessionizer's O(1)-compacted per-key
    * state, production KEY CARDINALITY (millions of users × stateful
    * operators) makes memory-resident state an OOM budget, while RocksDB
    * spills to local disk with changelog checkpointing. Not the harness
    * default only because per-batch RocksDB overhead dwarfs the
    * dimension-sized test feeds. */
  def withRocksDbState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
}
