package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.GraftTable

/** Table maintenance reclaims the Hadoop checksum sidecars the
  * distributed write arm leaves next to each data file: a data file
  * that expireSnapshots or removeOrphans deletes takes its `.crc` with
  * it, a commit directory with no data file left goes whole, and a live
  * file keeps its sidecar. */
class CrcSidecarSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_crc_sidecar_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_crc_sidecar_spec_${dir.getName}")(
      graft.util.AppCleanup.recursiveDelete(dir))
    dir.getAbsolutePath
  }

  private def idTable(lo: Int, hi: Int, tag: String): DataFrame =
    (lo to hi).map(i => (i.toLong, s"$tag$i")).toDF("id", "payload")

  private def filesUnder(root: String): Seq[Path] =
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(Files.isRegularFile(_)).toList

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") || n.endsWith(".bin")
  }

  private def crcOf(p: Path): Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  /** Every data file keeps its sidecar, every sidecar names a file that
    * exists, and every commit directory still holds a data file. */
  private def assertNoStrandedSidecars(root: String): Unit = {
    val files = filesUnder(root)
    val data = files.filter(isData)
    data.foreach(p => assert(Files.exists(crcOf(p)), s"$p lost its .crc"))
    files.filter(_.getFileName.toString.endsWith(".crc")).foreach { c =>
      val of = c.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
      assert(Files.exists(c.resolveSibling(of)), s"stranded sidecar $c")
    }
    Files.list(Paths.get(root, "data")).iterator().asScala.toList
      .filter(Files.isDirectory(_)).foreach { d =>
        assert(data.exists(_.startsWith(d)), s"commit dir $d holds no data")
      }
  }

  test("expireSnapshots and removeOrphans take the .crc of every file " +
      "they delete and the directories left without data") {
    val root = freshRoot()
    GraftTable.writeRowBudget.withValue(0L) {
      GraftTable.create(spark, root, idTable(1, 100, "v"), Seq("id"),
        Seq("id"), numFiles = 2)
      GraftTable.append(spark, root, idTable(101, 120, "a"), Seq("id"),
        Seq("id"), numFiles = 1)
      // rewrites both files of the create's commit: its directory dies
      GraftTable.merge(spark, root,
        Seq((1L, "u1"), (100L, "u100")).toDF("id", "payload"), "id",
        Seq("id"), Seq("id"), numFiles = 1)
    }
    val written = filesUnder(root).filter(isData)
    assert(written.size == 4, written)
    written.foreach(p =>
      assert(Files.exists(crcOf(p)), s"the distributed arm wrote no .crc: $p"))
    val createDir = Paths.get(root,
      GraftTable.manifest(root, 1).files.head.path).getParent

    assert(GraftTable.expireSnapshots(root,
      GraftTable.latestSnapshot(root)) == 2)
    assert(filesUnder(root).count(isData) == 2)
    written.filter(_.startsWith(createDir)).foreach { p =>
      assert(!Files.exists(p) && !Files.exists(crcOf(p)), s"$p or its .crc")
    }
    // a failed write's leftover next to the live data
    idTable(900, 905, "o").write.mode("overwrite")
      .parquet(s"$root/data/c-orphan")
    val orphans = filesUnder(root)
      .count(p => isData(p) && p.toString.contains("c-orphan"))
    assert(orphans >= 1)
    // the count covers data files only, never their sidecars or markers
    assert(GraftTable.removeOrphans(root, olderThanMs = 0L) == orphans)
    assertNoStrandedSidecars(root)
    assert(!Files.exists(createDir), s"$createDir survived")
    assert(!Files.exists(Paths.get(root, "data", "c-orphan")))
    assert(GraftTable.read(spark, root).count() == 120)
    assert(GraftTable.read(spark, root).where(col("payload") === "u100")
      .count() == 1)
    assert(GraftTable.removeOrphans(root, olderThanMs = 0L) == 0)
  }
}
