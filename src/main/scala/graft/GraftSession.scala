package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session contract and per-query protocol of every graft
  * main (Bench, Verify, RunOne, Plans, DataGen, BaselineChain) and of
  * the test suite. In graft the session configuration IS the
  * execution strategy — Spark's scheduler replaces laygo's
  * sequential/thread/process strategies — so it lives in exactly one
  * place; callers add only deployment paths (warehouse, local dirs).
  */
object GraftSession {

  /** Cores for `local[...]`: `SPARK_GRAFT_CPUS`, else the machine's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The configured builder at `cores` local cores (default [[cpus]]). */
  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // explicit, not default-trusted: AQE re-plans skewed shuffle
      // joins at runtime (SURVEY §4.2); the deterministic salted-join
      // operators (Skew.scala) stay the fallback for aggregation skew
      // and engines where AQE is off.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cap AQE coalescing at 16 MB wire-bytes per reducer: agg hash
      // entries cost ~3-5x their wire bytes on-heap, so the 64 MB
      // default re-collapsed basket_pairs' 36 M-group aggregation at
      // sf3 to 8 partitions of ~4.5 M groups each — the GC tail the
      // r13 chain measured; at 16 MB the same shuffle keeps 26-32
      // reducers. (A wider initialPartitionNum was tried and reverted:
      // it taxed every small-scale query with extra tasks while the
      // advisory cap alone delivers the partition count.)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // events.parquet may carry TIMESTAMP(NANOS); Spark 4 reads it
      // only as a long (ns since epoch), which also keeps ns-precision
      // ordering bit-identical with the DuckDB oracle; a UTC session
      // zone keeps date/timestamp casts identical to the oracle's too.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // RocksDB state store + changelog checkpointing for the
      // streaming replays: the default HDFS-backed provider snapshots
      // the FULL store per micro-batch per partition (O(state·batches)
      // I/O — the super-linear term the r9 sweep flagged in
      // stream_sessionize); RocksDB persists per-batch CHANGELOGS
      // (deltas), so replay I/O follows the update volume instead
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.log.level", "WARN")

  /** `SPARK_GRAFT_ONLY=a,b` restricts Verify, Bench and Plans to the
    * named queries (a dev loop; the graded paths never set it).
    */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  /** The registered queries [[only]] selects. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    only.fold(SparkEntry.queries)(names => SparkEntry.queries.filter(kv => names(kv._1)))

  /** Memo-trainer honesty: the train-once artifacts (BPE merge table,
    * bisecting tree) survive the between-query reset BY DESIGN —
    * derived queries are supposed to measure reuse. But each family's
    * designated TRAINER query must measure a real training run every
    * time it runs (not a memo lookup, the r15-advice gap), so a run
    * of a trainer evicts its family's memo first. Evicting the tree
    * memo wholesale when the tree trainer runs costs the kNN-side
    * queries at most one cold rebuild.
    * For the bisecting tree ONE query carries the trainer role:
    * semdedup_prune rebuilds the full-corpus tree (the larger of the
    * two family trees) every run, so a bench always contains a real
    * measured tree build; the kNN-side queries reuse their memoized
    * half-corpus tree after the first cold run — the production shape
    * (an IVF index is built once and queried many times), and the
    * build cost it skips is bounded above by the number
    * semdedup_prune measures.
    */
  val memoTrainers: Map[String, () => Unit] = Map(
    "bpe_train_steps" -> (() => SparkEntry.evictBpeMemo()),
    "bpe_pretok_train" -> (() => SparkEntry.evictBpeMemo()),
    "bpe_byte_train" -> (() => SparkEntry.evictBpeMemo()),
    "semdedup_prune" -> (() => graft.operators.Similarity.evictTreeMemo()))

  /** The reset between queries: unpersist the intermediates operators
    * persisted AND drop the registry's strong refs (clearCache alone
    * would leave the tracked set growing across a sweep), then clear
    * the catalog cache so the next run pays its full plan, not an
    * InMemoryRelation substitution.
    */
  def reset(spark: SparkSession): Unit = {
    graft.operators.Caching.release()
    spark.catalog.clearCache()
  }

  /** The timed action: a noop WRITE, not count(). A count-star lets
    * the optimizer prune count-irrelevant subtrees — semdedup_prune's
    * entire dominance join vanished under count() (a left join with a
    * provably-unique right side preserves cardinality), so the timing
    * measured assignment only, 3.4× under the real query. The noop
    * sink materializes every output column (the same action
    * Pipeline.consume runs), so the timed plan is the plan a real sink
    * pays, minus I/O.
    */
  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One protocol run of registered query `name`: trainer eviction,
    * build + noop write, reset. Returns wall seconds (the reset
    * included); a failing query throws after the reset.
    */
  def run(spark: SparkSession, name: String, sfDir: String): Double = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    memoTrainers.get(name).foreach(_.apply())
    val t0 = System.nanoTime()
    try noopWrite(fn(spark, sfDir))
    finally reset(spark)
    (System.nanoTime() - t0) / 1e9
  }
}
