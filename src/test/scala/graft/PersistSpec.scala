package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BusShim
import graft.util.AppCleanup

/** The pay-once rules [[graft.util.AppCleanup.persisted]] owns for every
  * persisted warehouse artifact: a built table is read back with no job,
  * a failed build is retried, the memo is per table (not per key), the
  * name carries the application id the exit sweep matches on, and a
  * bucket column lays the table out in 8 sorted buckets. */
class PersistSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs `body` runs, counted by job group once the listener bus
    * has drained (the status tracker is fed asynchronously). */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    BusShim.waitUntilEmpty(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** The catalog entry a persisted artifact's DataFrame reads. */
  private def tableOf(df: DataFrame): CatalogTable =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation if r.catalogTable.isDefined => r.catalogTable.get
    }.getOrElse(fail(s"no catalog table in ${df.queryExecution.analyzed}"))

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id")).as[Long].collect().toSeq.sorted

  test("a second supplierEdges call runs no Spark job") {
    val first = ops.Graph.supplierEdges(spark, sf, 11).count()
    assert(first > 0)
    var again: DataFrame = null
    val jobs = jobsOf("persist_second_call") {
      again = ops.Graph.supplierEdges(spark, sf, 11)
    }
    assert(jobs == 0, s"the memoized call ran $jobs job(s)")
    assert(again.count() == first)
  }

  test("a build that throws memoizes nothing; the next call builds it") {
    val boom = udf { (x: Long) =>
      if (x == 3L) throw new IllegalStateException("planted build failure")
      x
    }
    intercept[Exception] {
      AppCleanup.persisted(spark, "graft_persist_spec_retry", "k") {
        spark.range(0, 5).select(boom(col("id")).as("id"))
      }
    }
    val t = AppCleanup.persisted(spark, "graft_persist_spec_retry", "k") {
      spark.range(0, 5).toDF("id")
    }
    assert(ids(t) == (0L until 5L))
  }

  test("two prefixes over one key are two tables with their own rows") {
    val a = AppCleanup.persisted(spark, "graft_persist_spec_a", "shared") {
      spark.range(0, 3).toDF("id")
    }
    val b = AppCleanup.persisted(spark, "graft_persist_spec_b", "shared") {
      spark.range(10, 12).toDF("id")
    }
    assert(tableOf(a).identifier.table != tableOf(b).identifier.table)
    assert(ids(a) == Seq(0L, 1L, 2L))
    assert(ids(b) == Seq(10L, 11L))
  }

  test("the table name and directory carry the sanitized application id") {
    val t = AppCleanup.persisted(spark, "graft_persist_spec_name", "k") {
      spark.range(0, 2).toDF("id")
    }
    val name = tableOf(t).identifier.table
    val appTag = spark.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
    assert(name.startsWith("graft_persist_spec_name_"))
    assert(name.contains(appTag), s"$name lacks $appTag")
    val dir = new java.io.File(
      AppCleanup.localFile(spark.conf.get("spark.sql.warehouse.dir")), name)
    assert(dir.isDirectory, s"no warehouse directory $dir")
  }

  test("a bucket column writes 8 buckets sorted on it") {
    val t = AppCleanup.persisted(spark, "graft_persist_spec_bucket", "k",
        "k") {
      spark.range(0, 20).select(col("id"), (col("id") % 5).as("k"))
    }
    assert(tableOf(t).bucketSpec.contains(BucketSpec(8, Seq("k"), Seq("k"))))
    assert(ids(t) == (0L until 20L))
  }
}
