package graft

/** Optimization-round measurement harness (round 16; guide §1).
  *
  * Isolates named queries from the bench's 271-query interleave so a
  * change can be measured without the run-order/GC lottery:
  * per query — one warmup at sf0.001 (codegen), two warm passes at the
  * measured SF (pays any buildOnce artifact once, like Bench's untimed
  * pass), then N timed `count()` passes from a collected heap, printing
  * every pass plus the min. `GRAFT_PLAN_DIR` additionally dumps
  * `.explain("formatted")` per query (the plans/r16 evidence files).
  *
  * Not part of the driver contract: Bench.scala's methodology is
  * untouched; this main exists so before/after numbers in
  * OPTIMIZATION_r16.md come from repeated isolated runs.
  *
  * Run: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Opt win_topk graph_reach"`
  */
object Opt {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("GRAFT_OPT_REPS", "5").toInt
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.util.Sessions.local(cpus)
    val all = SparkEntry.queries
    val names =
      if (args.isEmpty || args.sameElements(Array("ALL"))) all.keys.toSeq.sorted
      else args.toSeq
    val warmDir = {
      val small = "/root/testdata/sf0.001"
      if (new java.io.File(small).isDirectory) small else sfDir
    }
    // r17, verdict #4: each query's steady-state Spark-job count is
    // printed next to its wall time (jobs= below) so multi-job query
    // paths (sizing counts, separate limit+collect pairs) are visible.
    // Harness-only.
    for (n <- names) {
      val fn = all.getOrElse(n, sys.error(s"unknown query: $n"))
      spark.sparkContext.setJobDescription(s"opt:$n")
      // NonFatal only (r17 ADVICE): a warmup that dies of OOM/linkage
      // must not be silently swallowed, and a failed warmup is printed
      // so uneven before/after codegen states are visible in the log.
      try fn(spark, warmDir).count() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[opt] $n warmup FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
      fn(spark, sfDir).count(); fn(spark, sfDir).count()
      planDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
      }
      System.gc(); Thread.sleep(100)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // steady-state job count: one extra invocation inside its own job
      // group, counted via the public status tracker once the (async)
      // listener bus has drained
      spark.sparkContext.setJobGroup(s"optjobs:$n", s"optjobs:$n")
      fn(spark, sfDir).count()
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graft.BusShim.waitUntilEmpty(spark.sparkContext)
      val jobs =
        spark.sparkContext.statusTracker.getJobIdsForGroup(s"optjobs:$n").length
      println(f"[opt] $n%-28s min=${ts.min}%6.3f  jobs=$jobs%2d  runs=" +
        ts.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
