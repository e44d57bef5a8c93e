package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Materialization helper for iterative driver loops (pointer jumping,
  * label propagation). Two properties every round needs:
  *
  *  - lineage CUT: the self-join otherwise grows the logical plan
  *    exponentially and Catalyst analysis OOMs long before any round
  *    bound trips (observed on a 3-node cycle fixture);
  *  - DETERMINISTIC release: `Dataset.localCheckpoint` alone leaves each
  *    superseded round's blocks to ContextCleaner's GC-driven
  *    reclamation, so a long run on a big graph retains one label-table
  *    copy per round in executor storage, evicting the deliberately
  *    cached edge set. Holding the RDD handle lets the caller unpersist
  *    the previous round the moment the new one is materialized.
  *
  * The Row round-trip costs one deserialization per round versus
  * Dataset.localCheckpoint — the price of an unpersistable handle. The
  * blocks are persisted SERIALIZED (MEMORY_AND_DISK_SER, set before the
  * checkpoint mark so localCheckpoint keeps the level): deserialized
  * GenericRow storage would occupy 3-5x the footprint of the UnsafeRow
  * blocks Dataset.localCheckpoint kept, defeating the release win. */
object Iterate {
  /** Materialize df into a local checkpoint (eager), returning the
    * re-wrapped DataFrame and the RDD handle to unpersist later. */
  def checkpoint(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    rdd.localCheckpoint()
    rdd.count()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** A loop input of n rows, coalesced to 4 partitions below 1M rows:
    * each round runs several shuffle stages, and on a small graph that
    * is pure per-task overhead at the session's shuffle parallelism.
    * Above the threshold the full-parallelism shape is unchanged. */
  def coalesceSmall(df: DataFrame, n: Long): DataFrame =
    if (n < (1L << 20)) df.coalesce(4) else df

  private val lastResult =
    new java.util.concurrent.ConcurrentHashMap[String, RDD[Row]]()

  /** The FINAL round's blocks must outlive the loop (the returned DataFrame
    * reads them), so the loop can't unpersist them — but they must not
    * accumulate either: Bench invokes each iterative query three times per
    * JVM (warmup + two passes), which would pin three label-table copies in
    * executor storage. Registering the result under the query's key
    * releases the PREVIOUS invocation's blocks the moment the new result is
    * materialized, bounding retention to one live copy per query.
    *
    * CONTRACT for callers: the blocks are localCheckpointed (lineage
    * truncated, unrecoverable once dropped), so re-running the same query
    * INVALIDATES the previously returned DataFrame — consume (collect/
    * write) each invocation's result before invoking the query again.
    * Verify, Bench, and the specs all do; a caller holding two live
    * results of one query would need per-invocation keys instead. */
  def registerResult(key: String, rdd: RDD[Row]): Unit = {
    val prev = lastResult.put(key, rdd)
    if (prev != null && (prev ne rdd)) prev.unpersist(blocking = false)
  }
}
