package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession settings for the engine.
  *
  * Centralised so Verify / Bench / tests / ad-hoc drivers all run with the
  * same semantics:
  *  - UTC session TZ (oracle parity with DuckDB);
  *  - AQE on (runtime re-plan: skew joins, coalesced shuffle partitions —
  *    the local settings mirror what a 1000-executor deployment would use);
  *  - shuffle partitions sized to the local core count, not the 200 default;
  *  - partition discovery bounded to the same count: opening a table with
  *    more than 32 partition cells lists them in one job of at most that
  *    many tasks, not one task per cell (a 256-cell term_bucket table
  *    otherwise runs a 256-task job, about 1.3 s);
  *  - nanosecond parquet timestamps read as long (Spark has no TIMESTAMP_NS;
  *    [[Tables.events]] converts to microsecond timestamps explicitly);
  *  - one retained SQL execution: with the UI off nothing reads the SQL
  *    status store, yet by default it keeps the plan graphs of the last
  *    1,000 executions, about 0.3 MB per hybrid serve of live heap.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "1")

  /** Session for local runs: all machine cores (local[32] on the target
    * box), shuffle partitions = core count. SPARK_GRAFT_CPUS overrides.
    * Registers the graft SQL functions (vector_dot / vector_cosine).
    */
  def local(defaultCpus: String =
      Runtime.getRuntime.availableProcessors().toString): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
