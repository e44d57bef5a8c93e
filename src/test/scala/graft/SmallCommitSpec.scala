package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.BusShim
import org.apache.spark.sql.types._

import graft.sql.{GraftSql, GraftSqlTables}
import graft.table.GraftTable

/** Small commits end to end on the driver: a flat commit whose key set
  * and candidate files fit their budgets collects the candidate files'
  * rows in ONE job and derives the affected files, the survivors and the
  * rows to write from them on the driver; SQL MERGE and SQL DELETE take
  * the same arm. A listener names every job a commit runs by its stages'
  * call sites. Budget 0 forces the distributed arms, whose messages the
  * driver arm must repeat guard for guard. */
class SmallCommitSpec extends SparkTestBase {
  import spark.implicits._

  /** The jobs `body` runs, by job group once the listener bus has
    * drained, each as its stages: the call site and the RDDs the stage
    * reads (`FileScanRDD` a parquet scan, `ParallelCollectionRDD` a
    * driver-built local relation, `ShuffledRowRDD` a shuffle). A stage
    * an adaptive plan submits from its own thread has a call site inside
    * `CompletableFuture`; its sources still tell the jobs apart. */
  private def jobsOf(group: String)(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer[(Int, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          seen.synchronized(seen += j.jobId -> j.stageInfos.map { st =>
            st.name + st.rddInfos.map(_.name).filter(Sources).distinct
              .sorted.mkString(" <", ",", ">")
          })
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body finally {
      sc.clearJobGroup()
      BusShim.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    seen.synchronized(seen.sortBy(_._1).map(_._2).toSeq)
  }

  private val Sources =
    Set("FileScanRDD", "ParallelCollectionRDD", "ShuffledRowRDD")

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_small_commit_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_small_commit_spec_${dir.getName}")(
      graft.util.AppCleanup.recursiveDelete(dir))
    dir.getAbsolutePath
  }

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("score", DoubleType)))

  /** Rows keyed `ks`, built on the driver (a local relation). */
  private def rows(ks: Seq[Long], tag: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ks.map(k =>
      Row(k, s"$tag$k", k * 0.5)): _*), schema)

  private val keys = Seq("k")

  /** The benchmark's shape: 2,000 rows in 4 bloomed files, registered
    * under `name`. */
  private def benchTable(name: String): String = {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1L to 2000L, "c"), keys, keys,
      numFiles = 4, bloomCols = keys)
    assert(GraftTable.manifest(root, 1).files.size == 4)
    GraftSqlTables.register(name,
      GraftSqlTables.Ref(root, "k", keys, keys, bloomCols = keys))
    root
  }

  private def ids(root: String): Set[Long] =
    GraftTable.read(spark, root).select("k").as[Long].collect().toSet

  private def show(what: String, jobs: Seq[Seq[String]]): Unit =
    info(s"$what: ${jobs.size} jobs " +
      jobs.map(_.mkString("[", ", ", "]")).mkString(" "))

  // 75 live keys in the last file and 75 new ones
  private val batch = 1926L to 2075L

  test("a 150-key DSL merge over the bench shape runs at most 1 job") {
    val root = benchTable("small_commit_merge")
    val jobs = jobsOf("small_commit_merge") {
      GraftTable.merge(spark, root, rows(batch, "m"), "k", keys, keys,
        bloomCols = keys)
    }
    show("DSL merge", jobs)
    assert(ids(root) == (1L to 2075L).toSet)
    assert(GraftTable.read(spark, root).where("k = 1930").as[(Long, String,
      Double)].head()._2 == "m1930")
    assert(jobs.size <= 1, jobs)
  }

  test("a 150-key DSL delete over the bench shape runs at most 1 job") {
    val root = benchTable("small_commit_delete")
    val jobs = jobsOf("small_commit_delete") {
      GraftTable.delete(spark, root, rows(1801L to 1950L, "d").select("k"),
        "k", keys, keys, bloomCols = keys)
    }
    show("DSL delete", jobs)
    assert(ids(root) == ((1L to 1800L) ++ (1951L to 2000L)).toSet)
    assert(jobs.size <= 1, jobs)
  }

  test("a 150-key SQL MERGE over the bench shape runs at most 3 jobs") {
    val root = benchTable("small_commit_sql_merge")
    rows(batch, "s").createOrReplaceTempView("small_commit_batch")
    val jobs = jobsOf("small_commit_sql_merge") {
      GraftSql.exec(spark,
        """MERGE INTO small_commit_sql_merge t USING small_commit_batch s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    }
    show("SQL MERGE", jobs)
    assert(ids(root) == (1L to 2075L).toSet)
    assert(GraftTable.read(spark, root).where("k = 2000").as[(Long, String,
      Double)].head()._2 == "s2000")
    assert(jobs.size <= 3, jobs)
  }

  test("a 150-key SQL DELETE ... IN (SELECT k FROM <local view>) over the " +
      "bench shape runs at most 3 jobs") {
    val root = benchTable("small_commit_sql_delete")
    rows(1801L to 1950L, "s").createOrReplaceTempView("small_commit_doomed")
    val jobs = jobsOf("small_commit_sql_delete") {
      GraftSql.exec(spark, "DELETE FROM small_commit_sql_delete WHERE k IN " +
        "(SELECT k FROM small_commit_doomed)")
    }
    show("SQL DELETE", jobs)
    assert(ids(root) == ((1L to 1800L) ++ (1951L to 2000L)).toSet)
    assert(jobs.size <= 3, jobs)
  }

  test("a SQL DELETE whose key subquery meets another conjunct deletes " +
      "only the rows matching both, on both arms") {
    rows(Seq(5L, 6L, 7L, 8L, 3000L), "x")
      .createOrReplaceTempView("small_commit_some")
    val got = Seq(GraftTable.commitKeyBudget.value, 0L).map { budget =>
      val name = s"small_commit_conj_$budget"
      val root = benchTable(name)
      GraftTable.commitKeyBudget.withValue(budget) {
        GraftSql.exec(spark, s"DELETE FROM $name WHERE k IN " +
          "(SELECT k FROM small_commit_some) AND k % 2 = 0")
      }
      ids(root)
    }
    assert(got.distinct.size == 1)
    assert(got.head == (1L to 2000L).toSet -- Set(6L, 8L))
  }

  /** A merge-on-read delete leaves deletion vectors on two files. */
  private def dvTable(name: String): String = {
    val root = benchTable(name)
    GraftTable.deleteMor(spark, root, Seq(10L, 1990L).toDF("k"), "k")
    assert(GraftTable.manifest(root, 2).files.count(_.dv.nonEmpty) == 2)
    root
  }

  // the job a deletion-vector base adds reads only a driver-built local
  // relation: readEntriesWithPos' `broadcast(dvDf)`, collected for the
  // broadcast in a job of its own before the scan's job runs
  test("on a base with deletion vectors the one scan pays one more job: " +
      "the deletion-vector broadcast") {
    val merged = dvTable("small_commit_dv_merge")
    val mergeJobs = jobsOf("small_commit_dv_merge") {
      GraftTable.merge(spark, merged, rows(batch, "m"), "k", keys, keys,
        bloomCols = keys)
    }
    show("DSL merge on a DV base", mergeJobs)
    assert(ids(merged) == (1L to 2075L).toSet - 10L)
    val deleted = dvTable("small_commit_dv_delete")
    val deleteJobs = jobsOf("small_commit_dv_delete") {
      GraftTable.delete(spark, deleted, (1981L to 1999L).toDF("k"), "k",
        keys, keys, bloomCols = keys)
    }
    show("DSL delete on a DV base", deleteJobs)
    assert(ids(deleted) == (1L to 2000L).toSet -- (1981L to 1999L) - 10L)
    Seq(mergeJobs, deleteJobs).foreach { jobs =>
      val reads = jobs.map(_.mkString)
      assert(reads.size == 2, jobs)
      assert(reads.count(_.contains("FileScanRDD")) == 1, jobs)
      assert(reads.count(r => r.contains("<ParallelCollectionRDD>") &&
        !r.contains("FileScanRDD")) == 1, jobs)
    }
  }

  /** The message `statement` fails with at the default budget and at 0;
    * the table is left as it was on both. */
  private def errorsOnBothArms(root: String)(statement: => Unit): Seq[String] =
    Seq(GraftTable.commitKeyBudget.value, 0L).map { budget =>
      val v = GraftTable.latestSnapshot(root)
      val msg = GraftTable.commitKeyBudget.withValue(budget) {
        intercept[IllegalArgumentException](statement).getMessage
      }
      assert(GraftTable.latestSnapshot(root) == v, msg)
      msg
    }

  private def sameError(root: String, expected: String)(
      statement: => Unit): Unit = {
    val msgs = errorsOnBothArms(root)(statement)
    assert(msgs.distinct.size == 1, msgs.mkString("\n"))
    assert(msgs.head.contains(expected), msgs.head)
  }

  private def src(view: String, ks: (java.lang.Long, String)*): Unit =
    spark.createDataFrame(java.util.Arrays.asList(ks.map { case (k, v) =>
      Row(k, v, 1.0) }: _*), schema).createOrReplaceTempView(view)

  test("every MERGE guard and a CHECK violation fail with the same message " +
      "on both arms") {
    val root = benchTable("small_commit_guards")
    def merge(using: String, arms: String): Unit = GraftSql.exec(spark,
      s"MERGE INTO small_commit_guards t USING $using s ON t.k = s.k " + arms)
    src("small_commit_card", (5L, "a"), (5L, "b"))
    sameError(root, "cardinality") {
      merge("small_commit_card", "WHEN MATCHED THEN UPDATE SET *")
    }
    src("small_commit_clash", (5L, "a"))
    sameError(root, "already exists in the target") {
      GraftSql.exec(spark, "MERGE INTO small_commit_guards t USING " +
        "small_commit_clash s ON t.k = s.k AND s.v = 'never' " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    src("small_commit_null", (null, "a"))
    sameError(root, "NULL key") {
      merge("small_commit_null", "WHEN NOT MATCHED THEN INSERT *")
    }
    src("small_commit_dup", (5000L, "a"), (5000L, "b"))
    sameError(root, "duplicate upsert keys") {
      merge("small_commit_dup", "WHEN NOT MATCHED THEN INSERT *")
    }
    GraftTable.addCheck(spark, root, "v_short", "length(v) < 6")
    src("small_commit_long", (7L, "toolong"))
    sameError(root, "CHECK constraint 'v_short'") {
      merge("small_commit_long", "WHEN MATCHED THEN UPDATE SET *")
    }
  }

  test("when two guards fire, the same one wins on both arms") {
    val root = benchTable("small_commit_two")
    // a matched row deleted while an insert re-uses its live key: the
    // overlap guard fires too, and the insert-clash guard comes first
    src("small_commit_overlap", (5L, "a"), (6L, "b"))
    sameError(root, "already exists in the target") {
      GraftSql.exec(spark, "MERGE INTO small_commit_two t USING " +
        "small_commit_overlap s ON t.k = s.k AND s.v = 'a' " +
        "WHEN MATCHED THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT (k, v, score) VALUES (5, s.v, 0.0)")
    }
    // a target row matched twice whose twin rows also insert a NULL key
    src("small_commit_card_null", (5L, "a"), (5L, "b"), (null, "c"))
    sameError(root, "cardinality") {
      GraftSql.exec(spark, "MERGE INTO small_commit_two t USING " +
        "small_commit_card_null s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    // a NULL insert key and two inserts of one new key
    src("small_commit_null_dup", (null, "a"), (7000L, "b"), (7000L, "c"))
    sameError(root, "NULL key") {
      GraftSql.exec(spark, "MERGE INTO small_commit_two t USING " +
        "small_commit_null_dup s ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
    }
  }

  test("an insert key outside the ON-key values is checked against live " +
      "keys on both arms") {
    val root = benchTable("small_commit_outside")
    // ON-key 5000 prunes to no file; the insert key 1000 lives in one
    src("small_commit_far", (5000L, "a"))
    sameError(root, "already exists in the target") {
      GraftSql.exec(spark, "MERGE INTO small_commit_outside t USING " +
        "small_commit_far s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k, v, score) VALUES " +
        "(s.k - 4000, s.v, 0.0)")
    }
    GraftSql.exec(spark, "MERGE INTO small_commit_outside t USING " +
      "small_commit_far s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v, score) VALUES " +
      "(s.k + 4000, s.v, 0.0)")
    assert(ids(root) == (1L to 2000L).toSet + 9000L)
  }

  test("rand() in a MERGE source is evaluated once on both arms") {
    Seq(GraftTable.commitKeyBudget.value, 0L).foreach { budget =>
      val name = s"small_commit_rand_$budget"
      val root = benchTable(name)
      GraftTable.commitKeyBudget.withValue(budget) {
        GraftSql.exec(spark, s"""MERGE INTO $name t
          USING (SELECT id AS k, rand() AS r FROM range(1, 301)) s
          ON t.k = s.k
          WHEN MATCHED AND s.r < 0.5 THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = 'u', score = s.r""")
      }
      val touched = GraftTable.read(spark, root).where("k <= 300")
        .as[(Long, String, Double)].collect()
      // a row updated holds the r that kept it out of the delete arm
      assert(touched.forall(r => r._2 == "u" && r._3 >= 0.5),
        s"budget $budget: ${touched.filter(_._3 < 0.5).take(5).toSeq}")
      assert(ids(root).count(_ > 300) == 1700, s"budget $budget")
    }
  }

  test("no cached or persisted data remains after a guard throws, on " +
      "either arm") {
    val root = benchTable("small_commit_leak")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    sameError(root, "cardinality") {
      GraftSql.exec(spark, "MERGE INTO small_commit_leak t USING " +
        "(SELECT id AS k, 'x' AS v, 0.0 AS score FROM range(5, 8) " +
        "UNION ALL SELECT 5L, 'y', 0.0) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(sc.getPersistentRDDs.keySet == before,
      sc.getPersistentRDDs.keySet -- before)
  }
}
