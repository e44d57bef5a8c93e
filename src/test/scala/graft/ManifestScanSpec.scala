package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BusShim, SqlShim}
import org.apache.spark.sql.types._

import graft.table.{GraftTable, ManifestFileIndex}

/** Every graft table scan is planned from its manifest through
  * [[ManifestFileIndex]]. Parity: for each scan a table read issues, the
  * index read equals `spark.read.schema(s).parquet(paths)` of the same
  * files — rows, schema with nullability, `inputFiles`, the `_metadata`
  * file path, row index and modification time, and the files a
  * partition filter keeps — and the whole read equals the same plan with
  * every index swapped for Spark's listed relation. The index lists no
  * directory and runs no job, and a source scan keeps manifest paths
  * away from the parquet reader. */
class ManifestScanSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_manifest_scan_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_manifest_scan_spec_${dir.getName}")(
      graft.util.AppCleanup.recursiveDelete(dir))
    dir.getAbsolutePath
  }

  private def withoutAqe[T](f: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def rows(ks: Range): DataFrame =
    ks.map(k => (k.toLong, s"v$k", k * 0.5, k % 3))
      .toDF("id", "v", "score", "p")

  private def ts(ks: Range): DataFrame =
    ks.map(k => (k.toLong,
      java.time.LocalDateTime.of(2024, 1, 1, 12, 0).plusDays(k.toLong),
      s"t$k")).toDF("id", "ts", "payload")

  /** The manifest-indexed relations of `df`'s plan. */
  private def relationsOf(df: DataFrame): Seq[(LogicalRelation,
      ManifestFileIndex, Option[String])] =
    df.queryExecution.analyzed.collect {
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if h.location.isInstanceOf[ManifestFileIndex] =>
        (lr, h.location.asInstanceOf[ManifestFileIndex],
          h.options.get("basePath"))
    }

  /** Spark's own listed read of the same files under the same schema. */
  private def listed(s: StructType, paths: Seq[String],
      base: Option[String]): DataFrame = {
    val r = spark.read.schema(s)
    base.fold(r)(b => r.option("basePath", b)).parquet(paths: _*)
  }

  private val meta = Seq("_metadata.file_path", "_metadata.row_index",
    "_metadata.file_modification_time")

  private def sorted(df: DataFrame, extra: Seq[Column] = Nil): Seq[String] =
    df.select(col("*") +: extra: _*).collect().map(_.toString).toSeq.sorted

  private def assertScanParity(idx: DataFrame, ref: DataFrame): Unit = {
    assert(idx.schema == ref.schema,
      s"schema\n${idx.schema.treeString}\nvs\n${ref.schema.treeString}")
    assert(idx.inputFiles.sorted.toSeq == ref.inputFiles.sorted.toSeq)
    assert(sorted(idx, meta.map(col)) == sorted(ref, meta.map(col)))
  }

  /** `read`'s every scan against Spark's listed read of its inputs, then
    * the whole read against its plan over listed relations. Returns the
    * number of scans. */
  private def assertReadParity(read: DataFrame): Int = {
    val rels = relationsOf(read)
    rels.foreach { case (_, m, base) =>
      assert(m.paths.nonEmpty)
      assertScanParity(ManifestFileIndex.scan(spark, m.readSchema, m.paths,
        base), listed(m.readSchema, m.paths, base))
    }
    val swapped = read.queryExecution.analyzed.transform {
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if h.location.isInstanceOf[ManifestFileIndex] =>
        val m = h.location.asInstanceOf[ManifestFileIndex]
        val ref = listed(m.readSchema, m.paths, h.options.get("basePath"))
          .queryExecution.analyzed.collectFirst {
            case l: LogicalRelation => l
          }.get
        assert(!ref.relation.asInstanceOf[HadoopFsRelation].location
          .isInstanceOf[ManifestFileIndex])
        ref.copy(output = lr.output)
    }
    val ref = SqlShim.ofRows(spark, swapped)
    assert(read.schema == ref.schema)
    assert(sorted(read) == sorted(ref))
    rels.size
  }

  /** A partition filter plans the same files and rows on both reads. */
  private def assertPrunedParity(idx: DataFrame, ref: DataFrame,
      cond: Column, partCol: String): Unit = withoutAqe {
    def scanned(df: DataFrame): (Seq[String], Long, String) = {
      val q = df.where(cond)
      val scans = q.queryExecution.executedPlan.collectLeaves().collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.size == 1, q.queryExecution.executedPlan.toString)
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(scans.head.toString).map(_.group(1)).getOrElse("")
      (sorted(q), scans.head.selectedPartitions.totalNumberOfFiles, pf)
    }
    val (ri, fi, pi) = scanned(idx)
    val (rr, fr, pr) = scanned(ref)
    assert(ri == rr)
    assert(fi == fr)
    assert(pi.contains(partCol), s"no $partCol PartitionFilters: '$pi'")
    assert(pi.replaceAll("#\\d+", "") == pr.replaceAll("#\\d+", ""))
    val total = idx.inputFiles.length
    assert(fi > 0 && fi < total, s"pruned to $fi of $total files")
  }

  test("parity: a flat table") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 200), Seq("id"), Seq("id"),
      numFiles = 4)
    GraftTable.append(spark, root, rows(201 to 260), Seq("id"), Seq("id"),
      numFiles = 2)
    val read = GraftTable.read(spark, root)
    // `id` is non-nullable in the written frame: the scan relaxes it as
    // Spark's own read does
    assert(!GraftTable.schemaOf(GraftTable.manifest(root, 2))("id").nullable)
    assert(read.schema("id").nullable)
    assert(assertReadParity(read) == 1)
    assert(read.count() == 260)
    assert(assertReadParity(GraftTable.read(spark, root, Some(1))) == 1)
    assert(assertReadParity(GraftTable.changesBetween(spark, root, 1, 2)) == 1)
  }

  test("parity: a table whose files carry deletion vectors") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 200), Seq("id"), Seq("id"),
      numFiles = 4)
    GraftTable.deleteMor(spark, root, (2L to 200L by 3).toDF("id"), "id")
    val m = GraftTable.manifest(root, GraftTable.latestSnapshot(root))
    assert(m.files.exists(_.dv.nonEmpty))
    val read = GraftTable.read(spark, root)
    assert(assertReadParity(read) == 1)
    assert(read.count() == 200 - (2 to 200 by 3).size)
  }

  test("parity: rename epochs scan once per epoch") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 100), Seq("id"), Seq("id"),
      numFiles = 2)
    GraftTable.alterRenameColumn(root, "v", "w")
    GraftTable.append(spark, root, rows(101 to 150).withColumnRenamed("v", "w"),
      Seq("id"), Seq("id"), numFiles = 2)
    val read = GraftTable.read(spark, root)
    assert(assertReadParity(read) == 2)
    assert(read.where(col("w") === "v7").count() == 1)
    assert(read.where(col("w") === "v107").count() == 1)
  }

  test("parity: a dropped-then-re-added column reads NULL for old files") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 100), Seq("id"), Seq("id"),
      numFiles = 2)
    GraftTable.alterDropColumns(root, Seq("v"))
    GraftTable.alterAddColumns(root, Seq("v" -> StringType))
    GraftTable.append(spark, root,
      rows(101 to 120).select("id", "score", "p", "v"), Seq("id"), Seq("id"),
      numFiles = 1)
    val read = GraftTable.read(spark, root)
    assert(assertReadParity(read) == 2)
    assert(read.where(col("v").isNull).count() == 100)
  }

  test("parity: identity partitions, with PartitionFilters") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 300), Seq("id"), Seq("id"),
      numFiles = 3, partitionCols = Seq("p"))
    val read = GraftTable.read(spark, root)
    assert(assertReadParity(read) == 1)
    // the partition column keeps its declared position and type
    assert(read.schema.fieldNames.toSeq == Seq("id", "v", "score", "p"))
    assert(read.schema("p").dataType == IntegerType)
    val (_, m, base) = relationsOf(read).head
    assert(base.contains(s"$root/data"))
    assertPrunedParity(ManifestFileIndex.scan(spark, m.readSchema, m.paths,
      base), listed(m.readSchema, m.paths, base), col("p") === 1, "p")
  }

  test("parity: hidden-transform partitions, with mapped PartitionFilters") {
    val root = freshRoot()
    GraftTable.create(spark, root, ts(1 to 300), Seq("id"), Seq("id"),
      numFiles = 2, partitionSpec = Seq(
        GraftTable.PartField("ts_month", "months", "ts")))
    val read = GraftTable.read(spark, root)
    assert(assertReadParity(read) == 1)
    assert(!read.columns.contains("ts_month"))
    val (_, m, base) = relationsOf(read).head
    assert(m.readSchema.fieldNames.contains("ts_month"))
    assertPrunedParity(ManifestFileIndex.scan(spark, m.readSchema, m.paths,
      base), listed(m.readSchema, m.paths, base),
      col("ts") >= lit("2024-03-01").cast("timestamp_ntz") &&
        col("ts") < lit("2024-05-01").cast("timestamp_ntz"), "ts_month")
  }

  test("parity: a shallow clone scans each base with its own basePath") {
    val src = freshRoot()
    GraftTable.create(spark, src, rows(1 to 120), Seq("id"), Seq("id"),
      numFiles = 2, partitionCols = Seq("p"))
    val dst = freshRoot()
    GraftTable.cloneTable(src, dst)
    GraftTable.append(spark, dst, rows(121 to 150), Seq("id"), Seq("id"),
      numFiles = 1)
    val read = GraftTable.read(spark, dst)
    assert(assertReadParity(read) == 2)
    assert(relationsOf(read).flatMap(_._3).toSet ==
      Set(s"$src/data", s"$dst/data"))
    assert(read.count() == 150)
  }

  test("parity: an empty file list") {
    val s = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    val idx = ManifestFileIndex.scan(spark, s, Nil, None)
    val ref = spark.read.schema(s).parquet()
    assert(idx.schema == ref.schema)
    assert(idx.inputFiles.isEmpty && ref.inputFiles.isEmpty)
    assert(idx.collect().isEmpty && ref.collect().isEmpty)
  }

  test("a manifest file deleted from disk fails the read as it is built, " +
      "naming the file") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 100), Seq("id"), Seq("id"),
      numFiles = 2)
    val gone = GraftTable.manifest(root, 1).files.head.path
    Files.delete(Paths.get(root, gone))
    val e = intercept[Exception](GraftTable.read(spark, root))
    assert(e.getMessage.contains(gone), e.getMessage)
  }

  test("building a read of a 40-file snapshot runs no job") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 400), Seq("id"), Seq("id"),
      numFiles = 40)
    assert(GraftTable.manifest(root, 1).files.size == 40)
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized(jobs += j.jobId)
    }
    BusShim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    val read =
      try GraftTable.read(spark, root)
      finally {
        BusShim.waitUntilEmpty(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.isEmpty, s"jobs while building the read: $jobs")
    assert(read.inputFiles.length == 40)
    assert(read.count() == 400)
  }

  test("source scan: no parquet reader over manifest paths in the table " +
      "and SQL layers") {
    val dirs = Seq("src/main/scala/graft/table", "src/main/scala/graft/sql")
    // the distributed write arm reads back its own output directory,
    // which no manifest names yet
    val allowed = ".read.schema(df.schema).parquet(dir)"
    val readers = dirs.flatMap { d =>
      val files = Files.list(Paths.get(d))
      try files.iterator().asScala.toList
      finally files.close()
    }.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val code = new String(Files.readAllBytes(f), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      "\\.parquet\\([^)]*\\)|format\\(\"parquet\"\\)".r.findAllMatchIn(code)
        .flatMap { hit =>
          val before = code.substring(0, hit.start)
          val w = before.lastIndexOf(".write")
          val r = math.max(before.lastIndexOf(".read"),
            before.lastIndexOf("readStream"))
          if (r > w) {
            val stmt = code.substring(r, hit.end)
              .replaceAll("\\s+", "")
            Some(s"${f.getFileName}: ...$stmt")
          } else None
        }
    }
    assert(readers.size == 1 && readers.head.endsWith(allowed),
      readers.mkString("\n"))
  }

  test("changesBetween: 0 is the empty parent, a reversed range fails") {
    val root = freshRoot()
    GraftTable.create(spark, root, rows(1 to 50), Seq("id"), Seq("id"),
      numFiles = 1)
    GraftTable.append(spark, root, rows(51 to 80), Seq("id"), Seq("id"),
      numFiles = 1)
    GraftTable.merge(spark, root, rows(1 to 10).withColumn("v", lit("m")),
      "id", Seq("id"), Seq("id"))
    assert(GraftTable.changesBetween(spark, root, 0, 2).count() == 80)
    assert(GraftTable.changesBetween(spark, root, 0, 1).count() == 50)
    assert(GraftTable.changesBetween(spark, root, 2, 2).count() == 0)
    val e = intercept[IllegalArgumentException](
      GraftTable.changesBetween(spark, root, 3, 1))
    assert(e.getMessage.contains("need 0 <= fromSnapshot <= toSnapshot, " +
      "got 3, 1"), e.getMessage)
    intercept[IllegalArgumentException](
      GraftTable.changesBetween(spark, root, -1, 1))
    graft.functions.GraftTableFunctions.register(spark)
    assert(spark.sql(s"SELECT count(1) FROM graft_table_changes('$root', 0, 2)")
      .head().getLong(0) == 80)
    val te = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_table_changes('$root', 3, 1)").collect())
    assert(Iterator.iterate[Throwable](te)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(
        "need 0 <= fromSnapshot <= toSnapshot")), te.toString)
  }
}
