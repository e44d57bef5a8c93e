package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BusShim
import graft.table.GraftTable
import graft.util.Probes

/** The pay-once rules every artifact in `graft.ops` shares: a directory
  * artifact ([[ops.Sources.builtDir]]) builds once at its sink path and
  * retries a failed build from an empty directory, and a driver-side
  * value ([[Probes.memo]]) computes once, nests, and records nothing
  * when its body throws. A source scan keeps new hand-rolled memos out
  * of the operator modules. */
class ArtifactSpec extends SparkTestBase {
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

  test("a second builtDir call runs no body and returns the sink path") {
    var builds = 0
    val first = ops.Sources.builtDir(spark, sf, "artifact_spec_once") { dir =>
      builds += 1
      spark.range(0, 3).write.mode("overwrite").parquet(dir)
    }
    val again = ops.Sources.builtDir(spark, sf, "artifact_spec_once") { _ =>
      builds += 1
    }
    assert(builds == 1, s"the body ran $builds times")
    assert(first == again)
    assert(again == ops.Sources.sinkDir(spark, sf, "artifact_spec_once"))
    assert(spark.read.parquet(again).count() == 3L)
  }

  test("a table build that throws after its create commits is retried") {
    val name = "artifact_spec_retry"
    intercept[IllegalStateException] {
      ops.Sources.builtDir(spark, sf, name) { root =>
        GraftTable.create(spark, root, spark.range(0, 5).toDF("id"),
          Seq("id"), Seq("id"), numFiles = 1)
        throw new IllegalStateException("planted failure after create")
      }
    }
    val root = ops.Sources.builtDir(spark, sf, name) { root =>
      GraftTable.create(spark, root, spark.range(10, 13).toDF("id"),
        Seq("id"), Seq("id"), numFiles = 1)
    }
    assert(GraftTable.latestSnapshot(root) == 1)
    assert(GraftTable.read(spark, root).select(col("id")).as[Long]
      .collect().sorted.toSeq == Seq(10L, 11L, 12L))
  }

  test("a memo body that calls memo for another id returns both values") {
    val outer = Probes.memo(spark, sf, "artifact_spec_outer") {
      val inner = Probes.memo(spark, sf, "artifact_spec_inner")(41L)
      (inner, inner + 1L)
    }
    assert(outer == ((41L, 42L)))
    assert(Probes.memo(spark, sf, "artifact_spec_inner")(0L) == 41L)
  }

  test("a memo body that throws records nothing; the next call computes") {
    var runs = 0
    intercept[IllegalStateException] {
      Probes.memo[Long](spark, sf, "artifact_spec_throw") {
        runs += 1
        throw new IllegalStateException("planted memo failure")
      }
    }
    val v = Probes.memo(spark, sf, "artifact_spec_throw") { runs += 1; 7L }
    assert(v == 7L)
    assert(Probes.memo(spark, sf, "artifact_spec_throw") { runs += 1; 8L } == 7L)
    assert(runs == 2, s"the body ran $runs times")
  }

  test("a second trainIvfCentroids call runs no Spark job") {
    val first = ops.Llm.trainIvfCentroids(spark, sf)
    var again: Array[(Long, Array[Double])] = null
    val jobs = jobsOf("artifact_spec_centroids") {
      again = ops.Llm.trainIvfCentroids(spark, sf)
    }
    assert(jobs == 0, s"the memoized call ran $jobs job(s)")
    assert(again eq first)
  }

  test("no operator module hand-rolls a key set, a map memo or buildOnce") {
    val dir = new java.io.File("src/main/scala/graft/ops")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    val banned = "newKeySet|ConcurrentHashMap|buildOnce\\(".r
    // the one exception: ccRounds, a test observable of the
    // connected-components loop, not a pay-once artifact
    def ccRounds(ls: Vector[String], i: Int): Boolean =
      ls(i).contains("val ccRounds") ||
        (i > 0 && ls(i - 1).contains("val ccRounds"))
    val offending = for {
      f <- files.sortBy(_.getName).toSeq
      ls = {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      i <- ls.indices
      if banned.findFirstIn(ls(i)).isDefined && !ccRounds(ls, i)
    } yield s"${f.getName}:${i + 1}: ${ls(i).trim}"
    assert(offending.isEmpty,
      "pay-once artifacts go through Sources.builtDir or Probes.memo: " +
        offending.mkString("; "))
  }
}
