package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.BusShim
import org.apache.spark.sql.types._

import graft.sql.{GraftSql, GraftSqlTables}
import graft.table.GraftTable

/** Spark jobs per table commit, and what the fused commit path must keep
  * exact: SQL MERGE classifies through one marker-column join and checks
  * its guards in one aggregate, and the write kernels compute row counts,
  * min/max and every bloom column in one job — with manifest stats and
  * blooms equal to a per-file recount. */
class CommitJobsSpec extends SparkTestBase {
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

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_commit_jobs_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_commit_jobs_spec_${dir.getName}")(
      graft.util.AppCleanup.recursiveDelete(dir))
    dir.getAbsolutePath
  }

  private def idTable(lo: Int, hi: Int, tag: String = "v"): DataFrame =
    (lo to hi).map(i => (i.toLong, s"$tag$i")).toDF("id", "payload")

  private def sqlTable(name: String, rows: DataFrame): String = {
    val root = freshRoot()
    GraftTable.create(spark, root, rows, Seq("id"), Seq("id"), numFiles = 2)
    GraftSqlTables.register(name,
      GraftSqlTables.Ref(root, "id", Seq("id"), Seq("id"), 2))
    root
  }

  private def state(root: String): Map[Long, String] =
    GraftTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("an update+insert SQL MERGE runs at most 6 jobs more than " +
      "GraftTable.merge of the same rows") {
    val dslRoot = freshRoot()
    GraftTable.create(spark, dslRoot, idTable(1, 10), Seq("id"), Seq("id"),
      numFiles = 2)
    val sqlRoot = sqlTable("commit_jobs_m", idTable(1, 10))
    assert(GraftTable.manifest(sqlRoot, 1).files.size == 2)
    idTable(6, 15, "s").createOrReplaceTempView("commit_jobs_src")
    val dsl = jobsOf("commit_jobs_dsl_merge") {
      GraftTable.merge(spark, dslRoot, idTable(6, 15, "s"), "id", Seq("id"),
        Seq("id"), 2)
    }
    val sql = jobsOf("commit_jobs_sql_merge") {
      GraftSql.exec(spark,
        """MERGE INTO commit_jobs_m t USING commit_jobs_src s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    }
    info(s"GraftTable.merge $dsl jobs, SQL MERGE $sql jobs")
    assert(state(sqlRoot) == state(dslRoot))
    assert(sql - dsl <= 6, s"SQL MERGE ran $sql jobs vs the DSL merge's $dsl")
  }

  test("an append with a bloom column runs as many jobs as one without") {
    val plain = freshRoot()
    val bloomed = freshRoot()
    GraftTable.create(spark, plain, idTable(1, 10), Seq("id"), Seq("id"), 2)
    GraftTable.create(spark, bloomed, idTable(1, 10), Seq("id"), Seq("id"), 2,
      bloomCols = Seq("id"))
    val without = jobsOf("commit_jobs_append_plain") {
      GraftTable.append(spark, plain, idTable(11, 20), Seq("id"), Seq("id"), 2)
    }
    val withBloom = jobsOf("commit_jobs_append_bloom") {
      GraftTable.append(spark, bloomed, idTable(11, 20), Seq("id"), Seq("id"),
        2, bloomCols = Seq("id"))
    }
    info(s"append: $without jobs without a bloom column, $withBloom with")
    assert(withBloom == without,
      s"bloomCols = Seq(id) ran $withBloom jobs, Nil ran $without")
  }

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

  private val wideSchema = StructType(Seq(
    StructField("id", LongType), StructField("gid", StringType),
    StructField("ref", LongType), StructField("score", DoubleType),
    StructField("p", IntegerType)))

  /** Rows over 3 partitions with two nullable bloom keys: every 7th gid
    * and every 4th ref is NULL, and the p = 2 rows with odd ids carry
    * only NULL gids, so some files hold no gid at all. */
  private def wideRows(lo: Int, hi: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList((lo to hi).map { i =>
      val p = i % 3
      val gid = if (i % 7 == 0 || (p == 2 && i % 2 == 1)) null else s"g$i"
      val ref = if (i % 4 == 0) null else java.lang.Long.valueOf(i * 10L)
      Row(i.toLong, gid, ref, i * 1.5 - 20.0, p)
    }: _*), wideSchema)

  /** Every manifest entry's rows/mins/maxs equal a recount of its file
    * and its blooms equal bits built from the file's own keys (absent
    * when the file holds no non-NULL key). */
  private def assertEntriesExact(root: String, partitioned: Boolean): Unit = {
    val m = GraftTable.manifest(root, GraftTable.latestSnapshot(root))
    assert(m.files.nonEmpty)
    m.files.foreach { f =>
      val reader =
        if (partitioned) spark.read.option("basePath", s"$root/data")
        else spark.read
      val rows = reader.parquet(s"$root/${f.path}").collect()
      val ids = rows.map(_.getAs[Long]("id")).toSeq
      val scores = rows.map(_.getAs[Double]("score")).toSeq
      val gids = rows.flatMap(r => Option(r.getAs[String]("gid"))).toSeq
      val refs = rows.flatMap(r => Option(r.getAs[java.lang.Long]("ref")))
        .map(_.longValue()).toSeq
      assert(f.rows == rows.length, f.path)
      assert(f.mins == Map("id" -> ids.min.toDouble, "score" -> scores.min),
        f.path)
      assert(f.maxs == Map("id" -> ids.max.toDouble, "score" -> scores.max),
        f.path)
      val want = Map("id" -> bitsOf(ids)) ++
        (if (gids.isEmpty) Map.empty else Map("gid" -> bitsOf(gids))) ++
        (if (refs.isEmpty) Map.empty else Map("ref" -> bitsOf(refs)))
      assert(f.bloom == Some(want), f.path)
      if (partitioned)
        assert(f.parts == Some(Map("p" -> rows.head.getAs[Int]("p").toString)))
    }
  }

  test("flat and partitioned writes: stats and long/string blooms equal " +
      "a per-file recount") {
    Seq(false, true).foreach { partitioned =>
      val root = freshRoot()
      GraftTable.create(spark, root, wideRows(1, 60), Seq("id", "score"),
        Seq("id"), numFiles = 3, bloomCols = Seq("id", "gid", "ref"),
        partitionCols = if (partitioned) Seq("p") else Nil)
      assertEntriesExact(root, partitioned)
      GraftTable.append(spark, root, wideRows(61, 90), Seq("id", "score"),
        Seq("id"), 2, bloomCols = Seq("id", "gid", "ref"))
      GraftTable.merge(spark, root, wideRows(50, 70).where("id % 2 = 0"),
        "id", Seq("id", "score"), Seq("id"), 2,
        bloomCols = Seq("id", "gid", "ref"))
      GraftTable.delete(spark, root, (1 to 90 by 5).map(_.toLong).toDF("id"),
        "id", Seq("id", "score"), Seq("id"), 2,
        bloomCols = Seq("id", "gid", "ref"))
      assertEntriesExact(root, partitioned)
      assert(GraftTable.read(spark, root).count() == 90 - 18)
    }
  }

  test("a MERGE breaking both the cardinality rule and the insert-key " +
      "clash fails with the cardinality message") {
    val root = sqlTable("commit_jobs_both", idTable(1, 10))
    val e = intercept[IllegalArgumentException] {
      GraftSql.exec(spark,
        """MERGE INTO commit_jobs_both t
           USING (SELECT 7L AS id, 'x' AS payload
                  UNION ALL SELECT 7L, 'y'
                  UNION ALL SELECT 5L, 'z') s
           ON t.id = s.id AND s.payload <> 'z'
           WHEN MATCHED THEN UPDATE SET payload = s.payload
           WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(state(root) == idTable(1, 10).as[(Long, String)].collect().toMap)
  }

  test("rows whose non-key columns are all NULL classify by presence, " +
      "not by column nullness") {
    val nulls = (1 to 4).map(i => (i.toLong, null: String)).toDF("id", "payload")
    val root = sqlTable("commit_jobs_nulls", nulls)
    GraftSql.exec(spark,
      """MERGE INTO commit_jobs_nulls t
         USING (SELECT id, IF(id = 5, NULL, concat('s', id)) AS payload
                FROM range(3, 7)) s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET payload = s.payload
         WHEN NOT MATCHED THEN INSERT *
         WHEN NOT MATCHED BY SOURCE AND t.id = 1 THEN DELETE
         WHEN NOT MATCHED BY SOURCE THEN UPDATE SET payload = 'gone'""")
    val got = GraftTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(2L -> Some("gone"), 3L -> Some("s3"), 4L -> Some("s4"),
      5L -> None, 6L -> Some("s6")), got.toString)
  }
}
