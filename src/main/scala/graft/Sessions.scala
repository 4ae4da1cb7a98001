package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine — the ONE session
  * definition tests, `Verify`, `Bench`, `PlanAudit` and the cluster path
  * all run under. [[base]] holds every setting the engine's answers
  * depend on; `local` and `cluster` add only sizing and housekeeping.
  */
object Sessions {

  /** The engine's semantics, shared by every session:
    *   - UTC session timezone so results hash-match the DuckDB oracle;
    *   - ANSI off — reference-compatible cast semantics (Spark 3.5
    *     pre-ANSI): failed string→number casts yield null, which the
    *     regex-ETL cascades rely on;
    *   - TIMESTAMP(NANOS) parquet (the events table) reads as long; set at
    *     construction — not per-read — because the parquet reader consults
    *     this at physical planning, so a read-scoped set/restore would
    *     break lazily-executed queries (see Tables.events);
    *   - AQE on (runtime re-plan: partition coalescing);
    *   - graft extensions injected: native SQL functions (`graft_cosine`
    *     and friends), CosineSelfSimilarityRule and GraftStrategies.
    */
  private def base(appName: String): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")

  /** Cluster-mode session — the knobs that matter at 1000
    * executors / 100 TB, applied on top of whatever master/deploy
    * configuration spark-submit provides:
    *
    *   - shuffle.partitions ≈ 2-3× total cores so AQE coalesces DOWN
    *     (oversized then merged beats undersized then spilled);
    *   - skew-join splitting: runtime re-planning is the first line of
    *     defense against skew (operators/SaltedJoin is the
    *     deterministic fallback);
    *   - files.maxPartitionBytes 256 MB: fewer, fuller scan tasks on a
    *     100 TB table (400k tasks instead of 800k at 128 MB);
    *   - broadcast threshold 64 MB: dimensions up to ~100M rows stay on
    *     the broadcast path instead of shuffling the fact side.
    */
  def cluster(appName: String = "graft", totalCores: Int = 1000 * 4): SparkSession =
    base(appName)
      .config("spark.sql.shuffle.partitions", (totalCores * 2).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .getOrCreate()

  /** Local-mode session (local[cpus], one JVM): shuffle.partitions sized
    * to the machine, not the 200 default. */
  def local(appName: String = "graft", cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = base(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // shuffle files are reclaimed only when their RDDs are JVM-GC'd;
      // under a large -Xmx a long index-build run may never GC, and
      // dead shuffle state accumulates on the ONE local disk until it
      // fills (measured: 54 GB of blockmgr during one x100 reprune).
      // A 2-minute forced-GC cadence keeps the ContextCleaner draining;
      // on a real cluster the same config protects shuffle-dir nodes.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
