package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B/C measurement behind the 100×-scale skew story (round-7 verdict
  * #7 stretch): PlanShapeSpec proves AQE *plans* a skew-split and
  * OperatorSpec proves the salted join's row identity, but nothing
  * measured the WIN. This main builds a synthetic hot-key join — one key
  * carrying half the fact side, the shape where an unmitigated
  * sort-merge join serializes on a single straggler task — and times
  * three arms on identical data:
  *
  *  A. unmitigated SMJ (AQE off) — the straggler baseline;
  *  B. AQE skew-split (spark.sql.adaptive.skewJoin) — the automatic
  *     runtime mitigation;
  *  C. manual (key, salt) salting, [[graft.ops.Relational.join_salted]]'s
  *     exact pattern — the static-plan mitigation.
  *
  * Broadcast is disabled throughout: the dim side is deliberately big
  * enough that a real 100 TB pipeline could not broadcast it, which is
  * the only regime where skew mitigation matters at all. All three arms
  * aggregate to the same tiny result, so the timed work is the join
  * shuffle, not the sink. Prints one JSON line; numbers are recorded in
  * BASELINE.md's perf log.
  *
  * Run: `sbt "runMain graft.SkewBench"` (optional env
  * SPARK_GRAFT_SKEW_ROWS to scale the fact side, default 4M). */
object SkewBench {

  private def timeIt(f: => Long): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "4000000").toLong
    // broadcast off: the regime where skew mitigation is the only lever
    val spark = graft.util.Sessions.local(cpus,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

    // 1M-row dim: big enough that broadcast is off the table in the
    // regime being modeled, small enough that the salted arm's ×SALT
    // replication doesn't swamp the measurement
    val nDim = 1000000L
    // fact: 90% of the rows on hot key 0 — the single-straggler-task
    // shape (the hot key's partition carries ~0.9n rows while the other
    // 31 reducers get ~n/320 each); a per-row independent spreader
    // column (id % 8) exists for the salting arm — the join_salted
    // discipline (a salt derived from the join key would keep the hot
    // key in one partition)
    def fact = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(hash(col("id")).cast("long") + n, lit(nDim)))
        .as("k"),
      col("id").as("v"),
      pmod(col("id"), lit(8)).as("spread"))
    def dim = spark.range(nDim).select(
      col("id").as("dk"), (col("id") * 7L).as("payload"))

    def agg(j: DataFrame): Long =
      j.groupBy(col("dk") % 10).agg(count(lit(1)), sum("payload"))
        .collect().length.toLong

    def withConf[T](pairs: (String, String)*)(body: => T): T = {
      val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    def armPlain(): Long = agg(fact.join(dim, col("k") === col("dk")))
    def armSalted(): Long = {
      val SALT = 8
      val f = fact.withColumn("salt", pmod(col("spread"), lit(SALT)))
      val d = dim.withColumn("salt", explode(sequence(lit(0), lit(SALT - 1))))
      agg(f.join(d, col("k") === col("dk") && f("salt") === d("salt")))
    }

    // warmup: compile every arm's codegen once, outside the timed window
    withConf("spark.sql.adaptive.enabled" -> "false")(armPlain())
    armSalted()

    // min-of-3 with a collection before EVERY timed pass: a 29M-row
    // single-partition sort buys major GCs that land on whichever arm
    // runs next (the BASELINE.md run-order effect) — first cuts of this
    // harness swung 2× run-to-run until each arm paid only its own
    // allocation cost
    def minOf3(f: () => Long): Double =
      (1 to 3).map { _ =>
        System.gc(); Thread.sleep(200); timeIt(f())
      }.min
    val tPlain = withConf("spark.sql.adaptive.enabled" -> "false") {
      minOf3(() => armPlain())
    }
    val tAqe = withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      // thresholds low enough that the synthetic hot partition (half the
      // fact bytes) is unambiguously "skewed" at any tested scale
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB") {
      minOf3(() => armPlain())
    }
    val tSalt = withConf("spark.sql.adaptive.enabled" -> "false") {
      minOf3(() => armSalted())
    }
    spark.stop()
    println(s"""{"metric":"skew_ab","rows":$n,"cpus":$cpus,""" +
      s""""smj_unmitigated_sec":${f"$tPlain%.2f"},""" +
      s""""aqe_skew_split_sec":${f"$tAqe%.2f"},""" +
      s""""manual_salt_sec":${f"$tSalt%.2f"}}""")
  }
}
