package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.BusShim
import org.apache.spark.sql.types._

import graft.sql.{GraftSql, GraftSqlTables}
import graft.table.GraftTable

/** The two arms of a commit's touched-key set: within the key budget the
  * keys are collected to the driver (per-key range and bloom pruning, an
  * IN-list exact check and survivor filter), over it the distributed
  * path runs (key-range aggregate, semi-join, anti-join). Budget 0
  * forces the distributed arm. Every verb that reaches the shared helper
  * must commit the same snapshot on both arms: rows, carried paths,
  * per-file counts, stats, blooms, deletion vectors and CDC output. */
class CommitArmSpec extends SparkTestBase {
  import spark.implicits._

  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    BusShim.waitUntilEmpty(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_commit_arm_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_commit_arm_spec_${dir.getName}")(
      graft.util.AppCleanup.recursiveDelete(dir))
    dir.getAbsolutePath
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p: Path =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("payload", StringType), StructField("p", IntegerType)))

  private def rows(ids: Seq[java.lang.Long], tag: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map { i =>
      Row(i, if (i == null) s"${tag}null" else s"$tag$i",
        if (i == null) 0 else (i.longValue % 3).toInt)
    }: _*), schema)

  private def longs(ids: Iterable[Long]): Seq[java.lang.Long] =
    ids.map(java.lang.Long.valueOf).toSeq

  private val stats = Seq("id")
  private val blooms = Seq("id", "payload")

  /** A table whose files overlap in key range, so only the blooms tell
    * them apart: multiples of 3 (plus one NULL key) at create, then the
    * ≡1 and ≡2 residues as appends, then a merge-on-read delete, so some
    * files carry deletion vectors. */
  private def baseTable(partitioned: Boolean): String = {
    val root = freshRoot()
    GraftTable.create(spark, root,
      rows(longs(0L to 117L by 3) :+ null, "c"), stats, stats, numFiles = 4,
      bloomCols = blooms,
      partitionCols = if (partitioned) Seq("p") else Nil)
    GraftTable.append(spark, root, rows(longs(1L to 118L by 3), "a"), stats,
      stats, 2, bloomCols = blooms)
    GraftTable.append(spark, root, rows(longs(2L to 119L by 3), "b"), stats,
      stats, 2, bloomCols = blooms)
    GraftTable.deleteMor(spark, root, longs(Seq(6L, 7L, 50L, 101L)).toDF("id"),
      "id")
    assert(GraftTable.manifest(root, 4).files.exists(_.dv.nonEmpty))
    root
  }

  private lazy val bases = Map(false -> baseTable(false),
    true -> baseTable(true))

  /** Every entry of the latest manifest, with a path the parent already
    * held kept as is, a new path replaced by "new", and the deletion
    * vector replaced by its sidecar's bytes. */
  private def entries(root: String, parentPaths: Set[String]): Seq[String] =
    GraftTable.manifest(root, GraftTable.latestSnapshot(root)).files.map { f =>
      val dv = f.dv.map(p => Files.readAllBytes(Paths.get(root, p)).toSeq)
      f.copy(path = if (parentPaths(f.path)) f.path else "new",
        dv = dv.map(_.mkString(","))).toString
    }.sorted

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `verb` on two copies of the base table, at the default budget
    * and at budget 0, and require identical commits. */
  private def sameOnBothArms(name: String, partitioned: Boolean)(
      verb: (String, String) => Unit): Unit = {
    val base = bases(partitioned)
    val v0 = GraftTable.latestSnapshot(base)
    val parentPaths = GraftTable.manifest(base, v0).files.map(_.path).toSet
    val roots = Seq("driver", "dist").map { arm =>
      val root = freshRoot()
      copyTree(base, root)
      val sqlName =
        s"commit_arm_${name}_${arm}_${if (partitioned) "p" else "f"}"
      GraftSqlTables.register(sqlName, GraftSqlTables.Ref(root, "id", stats,
        stats, 2, bloomCols = blooms))
      val jobs = jobsOf(s"commit_arm_$sqlName") {
        if (arm == "driver") verb(root, sqlName)
        else GraftTable.commitKeyBudget.withValue(0L)(verb(root, sqlName))
      }
      info(s"$name partitioned=$partitioned $arm arm: $jobs jobs")
      root
    }
    val Seq(a, b) = roots
    val v1 = GraftTable.latestSnapshot(a)
    assert(GraftTable.latestSnapshot(b) == v1)
    assert(v1 == v0 + 1, s"$name committed nothing")
    assert(GraftTable.manifest(a, v1).op == GraftTable.manifest(b, v1).op)
    assert(entries(a, parentPaths) == entries(b, parentPaths))
    assert(sorted(GraftTable.read(spark, a)) ==
      sorted(GraftTable.read(spark, b)))
    assert(sorted(GraftTable.changesBetween(spark, a, v0, v1)) ==
      sorted(GraftTable.changesBetween(spark, b, v0, v1)))
    assert(sorted(GraftTable.changesBetweenRows(spark, a, v0, v1, "id")) ==
      sorted(GraftTable.changesBetweenRows(spark, b, v0, v1, "id")))
  }

  private val touchedIds = longs(Seq(3L, 4L, 7L, 50L, 60L, 95L, 200L, 201L))

  Seq(false, true).foreach { partitioned =>
    val shape = if (partitioned) "partitioned" else "flat"

    test(s"merge: both arms commit the same snapshot ($shape)") {
      sameOnBothArms("merge", partitioned) { (root, _) =>
        GraftTable.merge(spark, root, rows(touchedIds, "m"), "id", stats,
          stats, 2, bloomCols = blooms)
      }
    }

    test(s"delete: both arms commit the same snapshot ($shape)") {
      sameOnBothArms("delete", partitioned) { (root, _) =>
        GraftTable.delete(spark, root, (touchedIds :+ null).toDF("id"), "id",
          stats, stats, 2, bloomCols = blooms)
      }
    }

    test(s"deleteMor: both arms commit the same snapshot ($shape)") {
      sameOnBothArms("deletemor", partitioned) { (root, _) =>
        GraftTable.deleteMor(spark, root, (touchedIds :+ null).toDF("id"),
          "id")
      }
    }

    test(s"mergeMor: both arms commit the same snapshot ($shape)") {
      sameOnBothArms("mergemor", partitioned) { (root, _) =>
        GraftTable.mergeMor(spark, root, rows(touchedIds, "r"), "id", stats,
          stats, 2, bloomCols = blooms)
      }
    }

    test(s"SQL MERGE: both arms commit the same snapshot ($shape)") {
      rows(touchedIds, "s").createOrReplaceTempView("commit_arm_src")
      sameOnBothArms("sqlmerge", partitioned) { (_, name) =>
        GraftSql.exec(spark,
          s"""MERGE INTO $name t USING commit_arm_src s ON t.id = s.id
              WHEN MATCHED AND t.id % 2 = 0 THEN DELETE
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
      }
    }

    test(s"SQL DELETE: both arms commit the same snapshot ($shape)") {
      sameOnBothArms("sqldelete", partitioned) { (_, name) =>
        GraftSql.exec(spark,
          s"DELETE FROM $name WHERE id % 10 = 4 OR payload = 'b59'")
      }
    }
  }

  test("a base row with a NULL key survives a delete on both arms") {
    Seq(0L, GraftTable.commitKeyBudget.value).foreach { budget =>
      val root = freshRoot()
      GraftTable.create(spark, root, rows(longs(1L to 9L) :+ null, "n"),
        stats, stats, numFiles = 1, bloomCols = blooms)
      GraftTable.commitKeyBudget.withValue(budget) {
        GraftTable.delete(spark, root, longs(Seq(1L, 2L)).toDF("id"), "id",
          stats, stats, 1, bloomCols = blooms)
        GraftTable.deleteMor(spark, root, longs(Seq(3L)).toDF("id"), "id")
      }
      val ids = GraftTable.read(spark, root).collect()
        .map(r => Option(r.getAs[java.lang.Long]("id")).map(_.longValue))
      assert(ids.sorted.toSeq == None +: (4L to 9L).map(Some(_)),
        s"budget $budget")
    }
  }

  /** The message `commit` fails with at the default budget and at 0. */
  private def errorsOnBothArms(commit: => Unit): Seq[String] =
    Seq(GraftTable.commitKeyBudget.value, 0L).map { budget =>
      GraftTable.commitKeyBudget.withValue(budget) {
        intercept[IllegalArgumentException](commit).getMessage
      }
    }

  test("a non-numeric key fails with the same message on both arms") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(longs(1L to 9L), "s"), stats, stats,
      numFiles = 1)
    val merged = errorsOnBothArms(GraftTable.merge(spark, root,
      rows(longs(Seq(1L)), "x"), "payload", stats, stats, 1))
    val deleted = errorsOnBothArms(GraftTable.deleteMor(spark, root,
      Seq("s1").toDF("payload"), "payload"))
    assert(merged.distinct.size == 1 && deleted.distinct.size == 1,
      (merged ++ deleted).mkString("\n"))
    assert(merged.head.contains("must be numeric"), merged.head)
  }

  test("an all-NULL key set fails with the same message on both arms") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(longs(1L to 9L), "s"), stats, stats,
      numFiles = 1)
    val nulls = Seq[java.lang.Long](null, null).toDF("id")
    val deleted = errorsOnBothArms(GraftTable.delete(spark, root, nulls,
      "id", stats, stats, 1))
    val merged = errorsOnBothArms(GraftTable.mergeMor(spark, root,
      rows(Seq(null, null), "x"), "id", stats, stats, 1))
    assert(deleted.distinct.size == 1 && merged.distinct.size == 1,
      (deleted ++ merged).mkString("\n"))
    assert(deleted.head.contains("every key null"), deleted.head)
  }

  test("a default-budget merge of 100 keys over a 4-file bloomed table " +
      "runs at most 7 jobs") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(longs(1L to 400L), "c"), stats,
      stats, numFiles = 4, bloomCols = blooms)
    assert(GraftTable.manifest(root, 1).files.size == 4)
    val jobs = jobsOf("commit_arm_merge_100") {
      GraftTable.merge(spark, root, rows(longs(351L to 450L), "m"), "id",
        stats, stats, 4, bloomCols = blooms)
    }
    info(s"merge of 100 keys: $jobs jobs")
    assert(GraftTable.read(spark, root).count() == 450)
    assert(jobs <= 7, s"merge of 100 keys ran $jobs jobs")
  }
}
