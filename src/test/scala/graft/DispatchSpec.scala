package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BusShim
import org.apache.spark.storage.StorageLevel
import graft.util.Probes

/** The budget-dispatch policy [[graft.util.Probes.byBudget]] owns for
  * every driver-or-distributed operator: the probe's row cap cannot
  * overflow, a null memo key evaluates the producer exactly once, an
  * over-budget verdict skips the probe on later calls, and a test-seam
  * budget never decides the default budget's arm. */
class DispatchSpec extends SparkTestBase {

  /** Spark jobs `body` runs, counted by job group once the listener bus
    * has drained (the status tracker is fed asynchronously). */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    BusShim.waitUntilEmpty(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a budget near Long.MaxValue cannot overflow the probe cap: " +
      "rel_recursive takes the driver arm, equal to the distributed loop") {
    def run(budget: Long): Seq[org.apache.spark.sql.Row] =
      ops.Relational.relRecursiveOf(spark, sf, budget).collect().toSeq
    var dist, dflt, huge: Seq[org.apache.spark.sql.Row] = null
    val distJobs = jobsOf("dispatch_rel_0") { dist = run(0L) }
    val dfltJobs = jobsOf("dispatch_rel_default") {
      dflt = run(ops.Llm.CcDriverBudgetEdges)
    }
    val hugeJobs = jobsOf("dispatch_rel_huge") { huge = run(Long.MaxValue - 5) }
    assert(dist.length == 150)
    assert(dflt == dist && huge == dist, "budget arms must be value-identical")
    assert(hugeJobs == dfltJobs && hugeJobs < distJobs,
      s"jobs: huge budget $hugeJobs, default $dfltJobs, budget 0 $distJobs")
  }

  test("a null memo key evaluates the edge producer exactly once " +
      "on the distributed arm") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("dispatch_producer_rows")
    val tag = udf { (x: Long) => acc.add(1L); x }
    // 40 disjoint pairs through a shuffle, so a second evaluation of the
    // producer would re-run the UDF on every row
    val edges = spark.range(0, 40)
      .select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b"))
      .select(tag(col("a")).as("a"), col("b")).distinct()
    val comp = ops.Llm.connectedComponents(edges, key = "dispatch_once",
      driverBudgetEdges = 0L).as[(Long, Long)].collect().toMap
    assert(comp.size == 80 && comp.forall { case (n, c) => c == n - n % 2 },
      s"pairs must label to their smaller member: $comp")
    assert(acc.value == 40L,
      s"producer evaluated ${acc.value} row-times for 40 rows")
  }

  test("a memoized over-budget key skips the probe on its second call") {
    val ds = spark.range(0, 100)
    val key = "dispatch_spec_memo|" + spark.sparkContext.applicationId
    val arms = Seq.newBuilder[String]
    def dispatch(): Unit =
      arms += Probes.byBudget(ds, 10L, key)(_ => "driver")(_ => "dist")
    val first = jobsOf("dispatch_memo_1")(dispatch())
    val second = jobsOf("dispatch_memo_2")(dispatch())
    assert(arms.result() == Seq("dist", "dist"))
    assert(first >= 1, "the first call must run the probe")
    assert(second == 0, s"the memoized call ran $second probe job(s)")
    assert(ds.storageLevel == StorageLevel.NONE, "the dist arm's cache leaked")
  }

  test("a test-seam budget (0 or Long.MaxValue) never poisons the " +
      "default-budget verdict") {
    val ds = spark.range(0, 100)
    val key = "dispatch_spec_seam|" + spark.sparkContext.applicationId
    def arm(budget: Long): String =
      Probes.byBudget(ds, budget, key) { rows =>
        assert(rows.length == 100, s"driver arm got ${rows.length} rows")
        "driver"
      }(_ => "dist")
    assert(arm(0L) == "dist")
    assert(arm(0L) == "dist")
    assert(arm(ops.Llm.CcDriverBudgetEdges) == "driver")
    assert(arm(Long.MaxValue) == "driver")
    assert(arm(0L) == "dist")
    assert(ds.storageLevel == StorageLevel.NONE)
  }
}
