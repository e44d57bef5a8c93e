package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BusShim
import org.apache.spark.sql.types._

import graft.sql.{GraftSql, GraftSqlTables}
import graft.table.GraftTable

/** The two arms of a flat write: within the write-row budget the rows
  * are collected, sorted, cut, written and given their stats and blooms
  * on the driver; over it the distributed path runs (range-partitioned
  * write plus the per-file stats job). Budget 0 forces the distributed
  * arm. The arms may cut files at different rows, so every verb must
  * leave the same table rows and the same change feeds, and every
  * driver-arm entry must equal a recount of its own file. */
class WriteArmSpec extends SparkTestBase {
  import spark.implicits._

  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    BusShim.waitUntilEmpty(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_write_arm_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_write_arm_spec_${dir.getName}")(
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
    StructField("gid", StringType), StructField("ref", LongType),
    StructField("score", DoubleType)))

  /** Rows keyed `ids` (a NULL id allowed): every 5th gid is NULL, ref is
    * NULL below 20 and score NULL from 40 to 60, so a create cut into
    * three files holds one file with no ref and one with no score. */
  private def rows(ids: Seq[java.lang.Long], tag: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map { i =>
      val n = if (i == null) 0L else i.longValue
      Row(i, if (n % 5 == 0) null else s"$tag$n",
        if (n < 20) null else java.lang.Long.valueOf(n * 10),
        if (n >= 40 && n <= 60) null
        else java.lang.Double.valueOf(n * 1.5 - 20))
    }: _*), schema)

  private def longs(ids: Iterable[Long]): Seq[java.lang.Long] =
    ids.map(java.lang.Long.valueOf).toSeq

  private val stats = Seq("id", "score")
  private val blooms = Seq("id", "gid", "ref")

  private def create(root: String): Unit =
    GraftTable.create(spark, root, rows(longs(1L to 60L) :+ null, "c"),
      stats, stats, numFiles = 3, bloomCols = blooms)

  /** Created on the distributed arm, then an append and a merge-on-read
    * delete, so some files carry deletion vectors. */
  private lazy val base: String = {
    val root = freshRoot()
    GraftTable.writeRowBudget.withValue(0L) {
      create(root)
      GraftTable.append(spark, root, rows(longs(61L to 90L), "a"), stats,
        stats, 2, bloomCols = blooms)
    }
    GraftTable.deleteMor(spark, root, longs(Seq(5L, 65L)).toDF("id"), "id")
    assert(GraftTable.manifest(root, 3).files.exists(_.dv.nonEmpty))
    root
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Bloom bits built straight from the probe positions of `keys`. */
  private def bitsOf(keys: Seq[Any]): String = {
    val bits = new Array[Byte]((GraftTable.BloomBits + 7) / 8)
    keys.foreach { k =>
      val ps = k match {
        case l: Long => GraftTable.bloomPositions(l)
        case s: String => GraftTable.bloomPositionsStr(s)
      }
      ps.foreach(p => bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte)
    }
    java.util.Base64.getEncoder.encodeToString(bits)
  }

  /** Every entry of `root`'s latest manifest not in `parentPaths` equals
    * a recount of its file: the row count and min/max as Spark's own
    * aggregate reads them (an all-NULL column included), and blooms built
    * from the file's non-NULL keys, absent when there is none. */
  private def assertEntriesRecount(root: String,
      parentPaths: Set[String]): Unit = {
    val fresh = GraftTable.manifest(root, GraftTable.latestSnapshot(root))
      .files.filterNot(f => parentPaths(f.path))
    fresh.foreach { f =>
      assert(f.rows > 0, s"${f.path} holds no row")
      val file = spark.read.parquet(s"$root/${f.path}")
      val agg = file.agg(count(lit(1)), stats.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))): _*)
        .collect()(0)
      assert(f.rows == agg.getLong(0), f.path)
      assert(f.mins == stats.zipWithIndex.map { case (c, i) =>
        c -> agg.getAs[Double](1 + 2 * i) }.toMap, f.path)
      assert(f.maxs == stats.zipWithIndex.map { case (c, i) =>
        c -> agg.getAs[Double](2 + 2 * i) }.toMap, f.path)
      val got = file.collect()
      val want = blooms.flatMap { c =>
        val keys = got.flatMap(r => Option(r.getAs[Any](c))).toSeq
        if (keys.isEmpty) None else Some(c -> bitsOf(keys))
      }.toMap
      assert(f.bloom == Option(want).filter(_.nonEmpty), f.path)
    }
  }

  /** Run `verb` on two copies of the base table, on the driver write arm
    * and on the distributed one, and require the same rows and change
    * feeds, fewer jobs on the driver arm, and recounted driver entries. */
  private def sameOnBothArms(name: String)(
      verb: (String, String) => Unit): Unit = {
    val v0 = GraftTable.latestSnapshot(base)
    val parentPaths = GraftTable.manifest(base, v0).files.map(_.path).toSet
    val (roots, jobs) = Seq("driver", "dist").map { arm =>
      val root = freshRoot()
      copyTree(base, root)
      val sqlName = s"write_arm_${name}_$arm"
      GraftSqlTables.register(sqlName, GraftSqlTables.Ref(root, "id", stats,
        stats, 3, bloomCols = blooms))
      val jobs = jobsOf(s"write_arm_$sqlName") {
        if (arm == "driver") verb(root, sqlName)
        else GraftTable.writeRowBudget.withValue(0L)(verb(root, sqlName))
      }
      info(s"$name $arm arm: $jobs jobs")
      (root, jobs)
    }.unzip
    val Seq(a, b) = roots
    val v1 = GraftTable.latestSnapshot(a)
    assert(v1 == v0 + 1, s"$name committed nothing")
    assert(GraftTable.latestSnapshot(b) == v1)
    assert(GraftTable.manifest(a, v1).op == GraftTable.manifest(b, v1).op)
    assert(sorted(GraftTable.read(spark, a)) ==
      sorted(GraftTable.read(spark, b)))
    assert(sorted(GraftTable.changesBetween(spark, a, v0, v1)) ==
      sorted(GraftTable.changesBetween(spark, b, v0, v1)))
    assert(sorted(GraftTable.changesBetweenRows(spark, a, v0, v1, "id")) ==
      sorted(GraftTable.changesBetweenRows(spark, b, v0, v1, "id")))
    assert(jobs(0) < jobs(1), s"$name: driver arm ran ${jobs(0)} jobs, " +
      s"distributed arm ${jobs(1)}")
    assertEntriesRecount(a, parentPaths)
  }

  test("create: both arms write the same rows and change feed") {
    val Seq(a, b) = Seq(0L, GraftTable.writeRowBudget.value).map { budget =>
      val root = freshRoot()
      GraftTable.writeRowBudget.withValue(budget)(create(root))
      root
    }
    assert(sorted(GraftTable.read(spark, a)) ==
      sorted(GraftTable.read(spark, b)))
    assert(sorted(GraftTable.changesBetweenRows(spark, a, 0, 1, "id")) ==
      sorted(GraftTable.changesBetweenRows(spark, b, 0, 1, "id")))
    assertEntriesRecount(b, Set.empty)
    val files = GraftTable.manifest(b, 1).files
    assert(files.size == 3)
    // the cut gives one file with no non-NULL score and one with no ref,
    // so both NULL paths of the entry are exercised
    assert(files.exists(f => f.mins.get("score").contains(null)))
    assert(files.exists(f => !f.bloom.exists(_.contains("ref"))))
  }

  test("append: both arms write the same rows and change feed") {
    sameOnBothArms("append") { (root, _) =>
      GraftTable.append(spark, root, rows(longs(91L to 120L), "p"), stats,
        stats, 3, bloomCols = blooms)
    }
  }

  test("merge: both arms write the same rows and change feed") {
    sameOnBothArms("merge") { (root, _) =>
      GraftTable.merge(spark, root,
        rows(longs((50L to 70L by 2) ++ (121L to 125L)), "m"), "id", stats,
        stats, 3, bloomCols = blooms)
    }
  }

  test("delete: both arms write the same rows and change feed") {
    sameOnBothArms("delete") { (root, _) =>
      GraftTable.delete(spark, root, longs(1L to 90L by 7).toDF("id"), "id",
        stats, stats, 3, bloomCols = blooms)
    }
  }

  test("compact with materializeDvs: both arms write the same rows and " +
      "change feed") {
    sameOnBothArms("compact") { (root, _) =>
      GraftTable.compact(spark, root, 100L, stats, stats, 3,
        bloomCols = blooms, materializeDvs = true)
    }
  }

  test("mergeMor: both arms write the same rows and change feed") {
    sameOnBothArms("mergemor") { (root, _) =>
      GraftTable.mergeMor(spark, root, rows(longs((10L to 15L) :+ 200L), "r"),
        "id", stats, stats, 3, bloomCols = blooms)
    }
  }

  test("SQL MERGE: both arms write the same rows and change feed") {
    rows(longs((30L to 36L) ++ (80L to 84L) :+ 300L), "s")
      .createOrReplaceTempView("write_arm_src")
    sameOnBothArms("sqlmerge") { (_, name) =>
      GraftSql.exec(spark,
        s"""MERGE INTO $name t USING write_arm_src s ON t.id = s.id
            WHEN MATCHED AND t.id % 2 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
    }
  }

  test("SQL DELETE: both arms write the same rows and change feed") {
    sameOnBothArms("sqldelete") { (_, name) =>
      GraftSql.exec(spark,
        s"DELETE FROM $name WHERE id % 10 = 4 OR gid = 'a77'")
    }
  }

  test("a delete emptying every affected file commits no 0-row entry on " +
      "either arm") {
    Seq(0L, GraftTable.writeRowBudget.value).foreach { budget =>
      val root = freshRoot()
      copyTree(base, root)
      val v0 = GraftTable.latestSnapshot(root)
      val before = GraftTable.manifest(root, v0).files
      // a file without deletion vectors and past the NULL key's first
      // file: every row of it holds a key the delete names
      val doomed = before.filter(f => f.dv.isEmpty && f.mins("id") >= 20).head
      val keys = spark.read.parquet(s"$root/${doomed.path}").select("id")
      GraftTable.writeRowBudget.withValue(budget) {
        GraftTable.delete(spark, root, keys, "id", stats, stats, 3,
          bloomCols = blooms)
      }
      val after = GraftTable.manifest(root, v0 + 1).files
      assert(after.forall(_.rows > 0), s"budget $budget")
      assert(after.map(_.path) == before.map(_.path).filterNot(_ ==
        doomed.path), s"budget $budget")
    }
  }

  test("a schema the parquet writer rejects fails with the same exception " +
      "class on both arms, and one it takes writes on both") {
    val outcomes = Seq(
      "interval" -> Seq(1L, 2L).toDF("id")
        .withColumn("n", expr("make_interval(0, 0, 0, 1)")),
      "void" -> Seq(1L, 2L).toDF("id").withColumn("n", lit(null))
    ).map { case (what, df) =>
      what -> Seq(0L, GraftTable.writeRowBudget.value).map { budget =>
        val root = freshRoot()
        try {
          GraftTable.writeRowBudget.withValue(budget) {
            GraftTable.create(spark, root, df, Seq("id"), Seq("id"), 2)
          }
          Right(sorted(GraftTable.read(spark, root)))
        } catch {
          case e: Exception =>
            assert(GraftTable.latestSnapshot(root) == 0, what)
            Left(e.getClass)
        }
      }
    }.toMap
    outcomes.foreach { case (what, arms) =>
      assert(arms.distinct.size == 1, s"$what: $arms")
    }
    assert(outcomes("interval").head.isLeft)
  }

  test("driver-arm files read back through spark.read.parquet with the " +
      "distributed arm's schema") {
    val typed = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = false),
      StructField("d", DateType), StructField("t", TimestampType),
      StructField("m", DecimalType(12, 2)), StructField("s", StringType),
      StructField("xs", ArrayType(LongType, containsNull = false))))
    val df = spark.createDataFrame(java.util.Arrays.asList((1 to 40).map { i =>
      Row(i.toLong, i, java.sql.Date.valueOf(s"2024-01-${1 + i % 28}"),
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        new java.math.BigDecimal(s"$i.25"), if (i % 3 == 0) null else s"s$i",
        Seq(i.toLong, i * 2L))
    }: _*), typed)
    val budgets = Seq(0L, GraftTable.writeRowBudget.value)
    val Seq(dist, driver) = budgets.map { budget =>
      val root = freshRoot()
      GraftTable.writeRowBudget.withValue(budget) {
        GraftTable.create(spark, root, df, Seq("id", "n"), Seq("id"), 2,
          bloomCols = Seq("id", "s"))
      }
      val files =
        GraftTable.manifest(root, 1).files.map(f => s"$root/${f.path}")
      (files.map(f => spark.read.parquet(f).schema).distinct,
        spark.read.parquet(files: _*))
    }
    assert(driver._1 == dist._1, s"driver ${driver._1} vs dist ${dist._1}")
    assert(sorted(driver._2) == sorted(dist._2))
    assert(sorted(driver._2) == sorted(df))
  }

  test("a driver-built 200-row append runs 0 jobs") {
    val root = freshRoot()
    create(root)
    val jobs = jobsOf("write_arm_append_200") {
      GraftTable.append(spark, root, rows(longs(101L to 300L), "j"), stats,
        stats, 4, bloomCols = blooms)
    }
    info(s"append of 200 rows: $jobs jobs")
    assert(GraftTable.read(spark, root).count() == 261)
    assert(jobs == 0, s"append of 200 driver-built rows ran $jobs jobs")
  }

  test("a 100-key merge over a 4-file bloomed table runs at most 3 jobs") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(longs(1L to 400L), "c"), stats,
      stats, numFiles = 4, bloomCols = blooms)
    assert(GraftTable.manifest(root, 1).files.size == 4)
    val jobs = jobsOf("write_arm_merge_100") {
      GraftTable.merge(spark, root, rows(longs(351L to 450L), "m"), "id",
        stats, stats, 4, bloomCols = blooms)
    }
    info(s"merge of 100 keys: $jobs jobs")
    assert(GraftTable.read(spark, root).count() == 450)
    assert(jobs <= 3, s"merge of 100 keys ran $jobs jobs")
  }
}
