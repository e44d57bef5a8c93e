package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** The fixpoint kernel every iterative loop runs on (pointer jumping,
  * label propagation, relaxation, peeling, the recursive walk): one
  * round state, one relation, carried from a seed through `step` until
  * `converged` says so — the superstep operator of Pregel (Malewicz et
  * al., SIGMOD 2010) as GraphX runs it on Spark. A loop supplies only
  * its seed, its step, its convergence test and its bound; the kernel
  * owns everything else:
  *
  *  - the CHECKPOINT of the seed and of every round. Each is a lineage
  *    cut: the self-join otherwise grows the logical plan exponentially
  *    and Catalyst analysis OOMs long before any round bound trips
  *    (observed on a 3-node cycle fixture). Blocks are persisted
  *    SERIALIZED (MEMORY_AND_DISK_SER, set before the checkpoint mark so
  *    localCheckpoint keeps the level): deserialized GenericRow storage
  *    would occupy 3-5x the footprint of the UnsafeRow blocks;
  *  - the RELEASE of each superseded round the moment its successor is
  *    materialized and tested (`Dataset.localCheckpoint` alone leaves
  *    it to ContextCleaner's GC-driven reclamation, so a long run would
  *    retain one copy per round in executor storage and evict the
  *    cached edge set);
  *  - the round BOUND: while not converged after `r` rounds, round r+1
  *    runs only if r < `maxRounds`, else `require` throws with the
  *    caller's message verbatim. So at most `maxRounds` rounds run, and
  *    a loop that must only fail on a CHANGING round past its limit
  *    passes the limit + 1;
  *  - the release of EVERYTHING it holds when any round throws — the
  *    live state, a materialized successor, the round's caches and
  *    nested results ([[Round]]) and the loop's `inputs`;
  *  - the REGISTRATION of the result under the loop's key, and the
  *    round count it returns.
  *
  * `converged(prev, next, r)` is asked once of the seed (r = 0, prev eq
  * next) and after every round, before `prev` is released; a loop whose
  * test compares two rounds answers false at r = 0, a fixed-round loop
  * tests `r == n` ([[rounds]]). `inputs` are relations every round
  * reads: the kernel caches them before the seed is checkpointed and
  * releases them when the loop ends.
  *
  * CONTRACT for callers of a registered loop: the FINAL round's blocks
  * outlive the loop (the returned DataFrame reads them) and are
  * released when the next run under the same key registers its result
  * — Bench invokes each iterative query three times per JVM, which
  * would otherwise pin three copies. The blocks are localCheckpointed
  * (lineage truncated, unrecoverable once dropped), so RE-RUNNING a
  * loop INVALIDATES its previously returned DataFrame: consume
  * (collect/write) each result before running the loop again. Verify,
  * Bench and the specs all do; a caller holding two live results of
  * one loop would need per-invocation keys instead. */
object Iterate {
  /** One round of a [[fixpoint]] loop: its number (from 1) and what the
    * step holds only until the round's state is checkpointed. The kernel
    * releases both once the checkpoint is materialized, or when the
    * round throws. */
  final class Round private[Iterate] (val n: Int) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    /** df, cached for this round only (a relation the step reads more
      * than once). */
    def cache(df: DataFrame): DataFrame = {
      held += (() => df.unpersist())
      df.cache()
    }

    /** A nested loop on the same kernel, unregistered: its result lives
      * until this round's state is checkpointed. */
    def fixpoint(seed: DataFrame, maxRounds: Int, boundMessage: => String)(
        step: (DataFrame, Round) => DataFrame)(
        converged: (DataFrame, DataFrame, Int) => Boolean): DataFrame = {
      val ((df, rdd), _) =
        run(seed, maxRounds, boundMessage, Nil)(step)(converged)
      held += (() => rdd.unpersist(blocking = false))
      df
    }

    private[Iterate] def release(): Unit = held.foreach(_())
  }

  /** Run a loop to its fixpoint and register the result under `key`;
    * returns the result and the number of rounds run. */
  def fixpoint(key: String, seed: DataFrame, maxRounds: Int,
      boundMessage: => String, inputs: Seq[DataFrame] = Nil)(
      step: (DataFrame, Round) => DataFrame)(
      converged: (DataFrame, DataFrame, Int) => Boolean): (DataFrame, Int) = {
    val ((df, rdd), rounds) =
      run(seed, maxRounds, boundMessage, inputs)(step)(converged)
    val prev = lastResult.put(key, rdd)
    if (prev != null && (prev ne rdd)) prev.unpersist(blocking = false)
    (df, rounds)
  }

  /** A loop of exactly `n` rounds (n = 0 returns the seed's checkpoint). */
  def rounds(key: String, seed: DataFrame, n: Int,
      inputs: Seq[DataFrame] = Nil)(
      step: (DataFrame, Round) => DataFrame): DataFrame =
    fixpoint(key, seed, n, s"$key ran past its $n rounds", inputs)(step)(
      (_, _, r) => r == n)._1

  /** A one-shot relation several plans read, materialized eagerly with
    * its lineage cut. No loop owns it, so its blocks are released by
    * ContextCleaner once the returned frame is unreachable. */
  def materialized(df: DataFrame): DataFrame = df.localCheckpoint()

  /** A loop input of n rows, coalesced to 4 partitions below 1M rows:
    * each round runs several shuffle stages, and on a small graph that
    * is pure per-task overhead at the session's shuffle parallelism.
    * Above the threshold the full-parallelism shape is unchanged. */
  def coalesceSmall(df: DataFrame, n: Long): DataFrame =
    if (n < (1L << 20)) df.coalesce(4) else df

  private val lastResult =
    new java.util.concurrent.ConcurrentHashMap[String, RDD[Row]]()

  private def run(seed: DataFrame, maxRounds: Int, boundMessage: => String,
      inputs: Seq[DataFrame])(step: (DataFrame, Round) => DataFrame)(
      converged: (DataFrame, DataFrame, Int) => Boolean)
      : ((DataFrame, RDD[Row]), Int) = {
    var cur: (DataFrame, RDD[Row]) = null
    var next: (DataFrame, RDD[Row]) = null
    try {
      inputs.foreach(_.cache())
      cur = checkpoint(seed)
      var r = 0
      var fixed = converged(cur._1, cur._1, 0)
      while (!fixed) {
        require(r < maxRounds, boundMessage)
        r += 1
        val round = new Round(r)
        next = try checkpoint(step(cur._1, round)) finally round.release()
        fixed = converged(cur._1, next._1, r)
        cur._2.unpersist(blocking = false)
        cur = next
        next = null
      }
      val out = cur
      cur = null
      (out, r)
    } finally {
      if (cur != null) cur._2.unpersist(blocking = false)
      if (next != null) next._2.unpersist(blocking = false)
      inputs.foreach(_.unpersist())
    }
  }

  /** Materialize df into a local checkpoint (eager), returning the
    * re-wrapped DataFrame and the RDD handle to release later; a failed
    * materialization releases what it persisted. The Row round trip
    * costs one deserialization per round versus
    * Dataset.localCheckpoint — the price of a releasable handle. */
  private def checkpoint(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      rdd.localCheckpoint()
      rdd.count()
    } catch {
      case e: Throwable => rdd.unpersist(blocking = false); throw e
    }
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }
}
