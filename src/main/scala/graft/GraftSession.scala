package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale configuration. The same
  * settings serve local[] testing and a 1000-executor cluster — only
  * master/shuffle-partition counts move with the deployment.
  *
  * Rationale per setting:
  *  - AQE on (default, pinned): runtime coalescing of shuffle partitions
  *    and skew-join splitting replace the reference's hand-tuned 10k
  *    reducers and cap-based skew handling (SURVEY §4);
  *  - skewJoin enabled: hot keys (super-domains — a few hosts owning a
  *    large share of the link graph) split automatically instead of
  *    stalling a straggler task;
  *  - shuffle partitions sized by the caller: ~2-3× total cores, or
  *    target ≤ ~200 MB per post-shuffle partition at 100 TB inputs;
  *  - maxPartitionBytes 256m: fewer, fuller scan tasks for columnar
  *    parquet reads (pruned columns make row-group reads cheap);
  *  - runtime bloom-filter join on: the reference's explicit Bloom
  *    existence filters (URLFPBloomFilter) fall out of the optimizer;
  *  - GraftExtensions: native codegen expressions registered as SQL
  *    functions;
  *  - finished-job history capped at 100 jobs, stages and SQL executions
  *    (Spark keeps 1000 of each): with the UI off nothing reads it, and a
  *    long-lived query server would otherwise hold the plans and metrics
  *    of its last thousand pages on the heap. Running jobs are never
  *    evicted, so status-tracker progress is unaffected;
  *  - cleanCheckpoints: the context cleaner deletes a reliable checkpoint
  *    (`spark.graft.checkpointDir`) once its RDD is garbage-collected,
  *    so the checkpoint filesystem does not grow with every query.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .withExtensions(new graft.functions.GraftExtensions)

  /** Local session for tests/benchmarks on an n-core box. */
  def local(cores: Int): SparkSession =
    builder(s"local[$cores]", cores).config("spark.ui.enabled", "false").getOrCreate()
}
