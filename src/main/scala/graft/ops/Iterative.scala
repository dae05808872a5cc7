package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Lineage-truncation and state-pinning policy for operators that must
  * materialize intermediate state: iterative ops (PageRank, PPR, HITS,
  * connected components, BPE) whose plans grow per round, and the
  * dedupe/similarity pipelines whose shingle/vector tables feed multiple
  * joins. Every loop pins its state through this object, so the policy
  * lives in one place.
  *
  * `localCheckpoint` stores blocks on executors — cheap, but on a real
  * cluster an executor loss kills the lineage-truncated run mid-flight
  * (a re-run, never a wrong answer). With a checkpoint dir configured
  * the state goes through reliable `checkpoint()` to the fault-tolerant
  * checkpoint filesystem instead — the setting a 1000-executor run
  * should use; local test runs default to the executor-local path.
  *
  * The dir comes from the session conf `spark.graft.checkpointDir`, the
  * one checkpoint setting: set it once at session setup and every graft
  * op picks it up. `setCheckpointDir` is SparkContext-global, so a
  * per-op dir would interleave the checkpoint files of overlapping ops.
  */
private[graft] object Iterative {

  /** Session conf key: when set, every graft materialization point uses
    * reliable checkpoints rooted at this (cluster-visible) path. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  // Plan-only mode: while set on the calling thread, materialize() is the
  // identity — no checkpoint job runs. Query builders are invoked
  // synchronously on the caller's thread, so the flag scopes exactly over
  // one builder call. Used by schema-discovery paths (QueryServer column
  // validation) that need the ANALYZED plan, never its data: an eager
  // checkpoint there would execute the heavy stage on an HTTP handler
  // thread, outside any cancellable job group (and the worker would then
  // redo the same work). Never set this around code that will EXECUTE the
  // returned frame — iterative ops rely on materialize for lineage
  // truncation and stable sampled partition boundaries.
  private val planOnlyFlag = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Run `f` with every graft materialization point downgraded to a
    * no-op on this thread (schema/plan inspection only). */
  def planOnly[A](f: => A): A = {
    val prev = planOnlyFlag.get
    planOnlyFlag.set(java.lang.Boolean.TRUE)
    try f finally planOnlyFlag.set(prev)
  }

  /** The configured reliable checkpoint dir, if any. */
  private def checkpointDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty)

  /** Points the SparkContext's reliable checkpoint dir under `dir`,
    * unless it already is: every `setCheckpointDir` call creates a fresh
    * UUID subdirectory, so calling it per materialization would scatter
    * one query's checkpoints over as many directories. */
  private def useCheckpointDir(spark: SparkSession, dir: String): Unit = {
    val sc = spark.sparkContext
    val root = new Path(dir)
    val qualified = root.getFileSystem(sc.hadoopConfiguration).makeQualified(root)
    if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
      sc.setCheckpointDir(dir)
  }

  /** Materialize one DataFrame under the session-configured policy. */
  def materialize(df: DataFrame): DataFrame =
    if (planOnlyFlag.get) df else materializer(df.sparkSession)(df)

  /** Materialize with SERIALIZED block storage (memory-and-disk-ser) —
    * for edge-scale frames in iterative loops, where the default
    * deserialized localCheckpoint blocks (an object per row on top of
    * each UnsafeRow) crowd the unified memory region that the loop's own
    * aggregation needs. Measured on the 100× HyperBall build: E-row
    * edges+state as deserialized blocks OOM a 12 g heap
    * ([UNABLE_TO_ACQUIRE_MEMORY] mid-round under 32 tasks); serialized
    * blocks complete under the same roof. Reliable-checkpoint mode is
    * unchanged — it is already on-disk. */
  def materializeSer(df: DataFrame): DataFrame =
    if (planOnlyFlag.get) df
    else checkpointDir(df.sparkSession) match {
      case Some(dir) =>
        useCheckpointDir(df.sparkSession, dir)
        df.checkpoint(true)
      case None =>
        df.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Returns the per-round materializer: reliable checkpoints under
    * `spark.graft.checkpointDir`, executor-local checkpoints otherwise. */
  def materializer(spark: SparkSession): DataFrame => DataFrame =
    checkpointDir(spark) match {
      case Some(dir) =>
        useCheckpointDir(spark, dir)
        df => if (planOnlyFlag.get) df else df.checkpoint(true)
      case None =>
        df => if (planOnlyFlag.get) df else df.localCheckpoint(true)
    }

  /** Invariant pin: caches a loop-invariant table hash-partitioned on its
    * per-iteration join key `key`, and materializes it now so every
    * iteration reads the cache. persist() (not checkpoint — Spark's
    * LogicalRDD drops outputPartitioning) keeps the partitioning visible
    * through InMemoryTableScan, so ENSURE_REQUIREMENTS adds no Exchange
    * above the cached side; the partition count is pinned explicitly
    * because an AQE-coalesced width would never match the loop's
    * exchanges. Invariants need no checkpoint — their lineage is
    * constant. The caller unpersists the result once its loop is done. */
  def pinned(df: DataFrame, key: String): DataFrame = {
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val p = df.repartition(nParts, col(key)).persist()
    p.count()
    p
  }

  /** Generation pin policy: with no reliable checkpoint dir, every
    * `LineageCutEvery`-th generation goes through the materializer and
    * the others are persisted. */
  private val LineageCutEvery = 8

  /** The pinned generations of one loop's state.
    *
    * A generation is PERSISTED, not localCheckpoint'ed: LogicalRDD drops
    * outputPartitioning, so a checkpointed O(V) state re-shuffles into
    * the next round's join against a key-pinned invariant, while a
    * persisted one keeps its HashPartitioning visible through
    * InMemoryTableScan and the join stays exchange-free (measured on g5
    * at sf0.1: total shuffle 90.6 → 75.6 MB, wall neutral). The cached
    * generation substitutes as an InMemoryRelation LEAF, so plans stay
    * flat like a checkpoint scan — but the analyzed plan (and every
    * SQL-event explain string) still nests one level per generation, and
    * a 60-iteration chain OOM'd a test JVM building those strings. Every
    * 8th generation therefore goes through the materializer (lineage cut;
    * that one round's join pays the exchange). With
    * `spark.graft.checkpointDir` set (a real cluster) every generation
    * does: re-exchanging V rows per round is the price of surviving
    * executor loss. The fault story is the same under either form: a
    * lost block means re-running the query.
    *
    * A superseded generation stays pinned until [[release]], so a loop
    * can still read the previous state after pinning the next one.
    * [[finish]] hands the final state off through the materializer and
    * releases every generation, so a finished loop leaves no cache entry
    * behind in a long-lived session. */
  final class Generations(spark: SparkSession) {
    private val reliable = checkpointDir(spark).isDefined
    private val cut = materializer(spark)
    private var n = 0
    private var live = List.empty[DataFrame]

    /** Pin `df` as the next generation. */
    def pin(df: DataFrame): DataFrame = {
      n += 1
      val p =
        if (reliable || n % LineageCutEvery == 0) cut(df)
        else { val q = df.persist(); q.count(); q }
      live = p :: live
      p
    }

    /** Release every generation but the newest (unpersist of a
      * checkpointed generation is a CacheManager no-op). */
    def release(): Unit = {
      live.drop(1).foreach(_.unpersist(false))
      live = live.take(1)
    }

    /** Pin `df` and release the generation it supersedes. */
    def advance(df: DataFrame): DataFrame = {
      val p = pin(df)
      release()
      p
    }

    /** Final hand-off: `df` goes through the lineage-cut materializer,
      * then every persisted generation is released. Release the loop's
      * invariants only after this: they feed the final materialization. */
    def finish(df: DataFrame): DataFrame = {
      val out = cut(df)
      live.foreach(_.unpersist(false))
      live = Nil
      out
    }
  }
}
