package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.ConcurrentModificationException

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

import graft.table.GraftTable

/** The table format's optimistic-commit protocol, verb by verb: a
  * pinned base that a concurrent writer superseded fails loudly and
  * leaves the winner's state, parent-independent verbs racing on one
  * root all land on a contiguous chain, commit stamps stay strictly
  * past the parent's, and the orphan sweep reclaims a publish's
  * stranded staging file. A source scan keeps the protocol in one
  * place. */
class CommitProtocolSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(): String = {
    val dir = Files.createTempDirectory("graft_commit_spec").toFile
    graft.util.AppCleanup.onExit(s"graft_commit_spec_${dir.getName}")(
      graft.util.AppCleanup.recursiveDelete(dir))
    dir.getAbsolutePath
  }

  /** Rows (id, payload, p) with p = id % 2, the partition column of the
    * partitioned cases. */
  private def rows(ids: Seq[Long], tag: String = "v"): DataFrame =
    ids.map(i => (i, s"$tag$i", i % 2)).toDF("id", "payload", "p")

  private def fieldNames(m: GraftTable.Manifest): Seq[String] =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      .fieldNames.toSeq

  private def state(df: DataFrame): Set[(Long, String)] =
    df.select("id", "payload").as[(Long, String)].collect().toSet

  private def create(root: String, partitioned: Boolean): Unit =
    GraftTable.create(spark, root, rows(1L to 20L), Seq("id"), Seq("id"),
      numFiles = 4, partitionCols = if (partitioned) Seq("p") else Nil)

  private def appendTo(root: String, ids: Seq[Long]): Int =
    GraftTable.append(spark, root, rows(ids), Seq("id"), Seq("id"),
      numFiles = 1)

  /** One pinned-base verb: `concurrent` lands a commit on the ref the
    * verb is pinned to (base 1), `pinned` runs the verb pinned to that
    * superseded base, `observe` reads the ref's head id and rows. */
  private case class Pinned(verb: String, partitioned: Boolean,
      concurrent: String => Unit, pinned: String => Any,
      observe: String => (Int, Set[(Long, String)]))

  private def mainConcurrent(root: String): Unit = {
    appendTo(root, 101L to 105L); ()
  }

  private def mainHead(root: String): (Int, Set[(Long, String)]) =
    (GraftTable.latestSnapshot(root), state(GraftTable.read(spark, root)))

  private def onMain(verb: String, pinned: String => Any,
      partitioned: Boolean = false): Pinned =
    Pinned(verb, partitioned, mainConcurrent, pinned, mainHead)

  private val pinnedVerbs = Seq(
    onMain("append(baseSnapshot)", root =>
      GraftTable.append(spark, root, rows(201L to 203L), Seq("id"),
        Seq("id"), numFiles = 1, baseSnapshot = Some(1))),
    Pinned("appendToBranch(baseHead)", partitioned = false,
      root => {
        GraftTable.createBranch(root, "b")
        GraftTable.appendToBranch(spark, root, "b", rows(101L to 105L),
          Seq("id"), Seq("id"), numFiles = 1); ()
      },
      root => GraftTable.appendToBranch(spark, root, "b",
        rows(201L to 203L), Seq("id"), Seq("id"), numFiles = 1,
        baseHead = Some(1)),
      root => (GraftTable.branchHead(root, "b"),
        state(GraftTable.readBranch(spark, root, "b")))),
    onMain("delete", root =>
      GraftTable.delete(spark, root, Seq(3L).toDF("id"), "id", Seq("id"),
        Seq("id"), baseSnapshot = Some(1))),
    onMain("overwritePartitions", root =>
      GraftTable.overwritePartitions(spark, root,
        rows(Seq(2L, 4L), "new"), Seq("id"), Seq("id"),
        baseSnapshot = Some(1)), partitioned = true),
    onMain("upsertDelete", root =>
      GraftTable.upsertDelete(spark, root, rows(Seq(2L), "upd"),
        Seq(5L).toDF("id"), "id", Seq("id"), Seq("id"),
        baseSnapshot = Some(1))),
    onMain("merge", root =>
      GraftTable.merge(spark, root, rows(Seq(2L, 300L), "upd"), "id",
        Seq("id"), Seq("id"), baseSnapshot = Some(1))),
    onMain("mergeMor", root =>
      GraftTable.mergeMor(spark, root, rows(Seq(2L, 300L), "upd"), "id",
        Seq("id"), Seq("id"), baseSnapshot = Some(1))),
    onMain("deleteMor", root =>
      GraftTable.deleteMor(spark, root, Seq(3L).toDF("id"), "id",
        baseSnapshot = Some(1))),
    onMain("compact", root =>
      GraftTable.compact(spark, root, minRows = Long.MaxValue,
        statsCols = Seq("id"), clusterCols = Seq("id"), numFiles = 1,
        baseSnapshot = Some(1))))

  test("every verb pinned to a superseded base fails loudly and leaves " +
      "the concurrent writer's head and rows") {
    pinnedVerbs.foreach { c =>
      val root = freshRoot()
      create(root, c.partitioned)
      assert(GraftTable.manifest(root, 1).files.size >= 2,
        s"${c.verb}: the base needs several files")
      c.concurrent(root)
      val before = c.observe(root)
      assert(before._1 == 2, s"${c.verb}: the concurrent commit is 2")
      val e = intercept[ConcurrentModificationException](c.pinned(root))
      assert(e.getMessage.contains(root), s"${c.verb}: ${e.getMessage}")
      assert(c.observe(root) == before,
        s"${c.verb}: the failed commit changed the head or its rows")
    }
  }

  /** Run each body on its own thread, all started together; rethrow the
    * first failure. */
  private def race(bodies: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = bodies.map { b =>
      new Thread(() => {
        start.await()
        try b() catch { case t: Throwable => failures.add(t); () }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "a racing writer did not finish")
    Option(failures.peek()).foreach(t => throw t)
  }

  /** Snapshots 1..n are all present and each one's parent is its
    * predecessor. */
  private def assertContiguous(root: String, n: Int): Unit = {
    assert(GraftTable.latestSnapshot(root) == n)
    (1 to n).foreach { v =>
      val m = GraftTable.manifest(root, v)
      assert(m.snapshot == v && m.parent == v - 1,
        s"snapshot $v has id ${m.snapshot} and parent ${m.parent}")
    }
  }

  private val rounds = 3

  private def addChecks(root: String, prefix: String): () => Unit = () =>
    (0 until rounds).foreach(i =>
      GraftTable.addCheck(spark, root, s"${prefix}_$i", s"id > -$i"))

  private def analyzes(root: String): () => Unit = () =>
    (0 until rounds).foreach(_ => GraftTable.analyzeStats(spark, root))

  // an append's batch must match its parent's schema, so an append cannot
  // rebase over ALTER ADD COLUMN: the column adds and the appends race
  // the same check and ANALYZE writers in two separate races
  test("ALTER ADD COLUMN, ADD CONSTRAINT and ANALYZE racing on one root " +
      "all land on a contiguous chain") {
    val root = freshRoot()
    create(root, partitioned = false)
    def adds(t: String): () => Unit = () =>
      (0 until rounds).foreach(i =>
        GraftTable.alterAddColumns(root, Seq(s"${t}_$i" -> IntegerType)))
    race(Seq(adds("x"), adds("y"), addChecks(root, "c"), analyzes(root)))
    assertContiguous(root, 1 + 4 * rounds)
    val m = GraftTable.manifest(root, 1 + 4 * rounds)
    val added = (0 until rounds).flatMap(i => Seq(s"x_$i", s"y_$i"))
    assert(fieldNames(m).sorted ==
      (Seq("id", "payload", "p") ++ added).sorted)
    assert(GraftTable.checksOf(m).keySet ==
      (0 until rounds).map(i => s"c_$i").toSet)
    assert(m.tableStats.exists(_.get("rowCount").contains("20")))
    assert(state(GraftTable.read(spark, root)) == state(rows(1L to 20L)))
  }

  test("appends, ADD CONSTRAINT and ANALYZE racing on one root all land " +
      "on a contiguous chain") {
    val root = freshRoot()
    create(root, partitioned = false)
    def appends(from: Long): () => Unit = () =>
      (0 until rounds).foreach(i =>
        appendTo(root, Seq(from + i)))
    race(Seq(appends(100L), appends(200L), addChecks(root, "c"),
      analyzes(root)))
    assertContiguous(root, 1 + 4 * rounds)
    val m = GraftTable.manifest(root, 1 + 4 * rounds)
    assert(GraftTable.checksOf(m).keySet ==
      (0 until rounds).map(i => s"c_$i").toSet)
    assert(m.tableStats.isDefined)
    val appended = (0 until rounds).flatMap(i => Seq(100L + i, 200L + i))
    assert(state(GraftTable.read(spark, root)) ==
      state(rows((1L to 20L) ++ appended)))
  }

  private implicit val formats: org.json4s.Formats =
    org.json4s.DefaultFormats

  /** Rewrite snapshot `v`'s manifest in place with commit stamp `ms`. */
  private def restamp(root: String, v: Int, ms: Long): Unit = {
    val m = GraftTable.manifest(root, v).copy(committedAtMs = Some(ms))
    Files.write(Paths.get(root, "_graft", s"manifest-$v.json"),
      org.json4s.jackson.Serialization.write(m).getBytes("UTF-8"))
  }

  private def stampOf(root: String, v: Int): Long =
    GraftTable.manifest(root, v).committedAtMs.get

  test("a commit is stamped one millisecond past a parent stamped in the " +
      "future, on main, on a branch and along a rebased branch chain") {
    val root = freshRoot()
    create(root, partitioned = false)
    val future = System.currentTimeMillis() + 3600L * 1000L
    restamp(root, 1, future)
    assert(appendTo(root, Seq(101L)) == 2)
    assert(stampOf(root, 2) == future + 1, "rebase-loop commit")
    assert(GraftTable.merge(spark, root, rows(Seq(102L)), "id", Seq("id"),
      Seq("id"), numFiles = 1) == 3)
    assert(stampOf(root, 3) == future + 2, "commit-once commit")
    GraftTable.createBranch(root, "wap")
    Seq(301L, 302L).foreach(k =>
      GraftTable.appendToBranch(spark, root, "wap", rows(Seq(k)), Seq("id"),
        Seq("id"), numFiles = 1))
    val branchStamps = Seq(4, 5).map(id =>
      org.json4s.jackson.Serialization.read[GraftTable.Manifest](
        new String(Files.readAllBytes(Paths.get(root, "_graft",
          s"manifest-br-wap-$id.json")), "UTF-8")).committedAtMs.get)
    assert(branchStamps == Seq(future + 3, future + 4), "branch commits")
    // main moves past the fork, then the branch chain re-derives on it
    assert(appendTo(root, Seq(103L)) == 4)
    restamp(root, 4, future + 10)
    assert(GraftTable.rebaseBranch(spark, root, "wap", "id") == 6)
    assert(GraftTable.publishBranch(root, "wap") == 6)
    assert(Seq(5, 6).map(stampOf(root, _)) == Seq(future + 11, future + 12),
      "rebased branch chain")
  }

  test("removeOrphans sweeps a publish's stale staging file, keeps a " +
      "fresh one and the branch-rebase recovery copy, and counts data " +
      "files only") {
    val root = freshRoot()
    create(root, partitioned = false)
    val meta = Paths.get(root, "_graft")
    val hourAgo = FileTime.fromMillis(System.currentTimeMillis() - 3600000L)
    def plant(name: String, old: Boolean) = {
      val p = meta.resolve(name)
      Files.write(p, "{}".getBytes("UTF-8"))
      if (old) Files.setLastModifiedTime(p, hourAgo)
      p
    }
    val stale = plant(".tmp-0f0f0f0f-stale", old = true)
    val fresh = plant(".tmp-0f0f0f0f-fresh", old = false)
    val recovery = plant(".rebase-wap-7.json", old = true)
    val orphan = Paths.get(root, "data", "c-orphan", "part-0.parquet")
    Files.createDirectories(orphan.getParent)
    Files.write(orphan, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(orphan, hourAgo)
    assert(GraftTable.removeOrphans(root, olderThanMs = 600000L) == 1)
    assert(!Files.exists(stale), "the stale staging file stayed")
    assert(Files.exists(fresh), "an in-flight publish's staging was swept")
    assert(Files.exists(recovery), "the rebase recovery copy was swept")
    assert(!Files.exists(orphan))
    assert(state(GraftTable.read(spark, root)) == state(rows(1L to 20L)))
  }

  private def sources(pkg: String): Seq[java.io.File] = {
    val dir = new java.io.File(s"src/main/scala/graft/$pkg")
    val fs = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    assert(fs.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    fs.sortBy(_.getName)
  }

  private def hits(files: Seq[java.io.File], pattern: String): Seq[String] =
    for {
      f <- files
      ls = {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      i <- ls.indices
      if ls(i).contains(pattern)
    } yield s"${f.getName}:${i + 1}: ${ls(i).trim}"

  test("the table format and the SQL catalog hand-roll no commit loop " +
      "and no publish") {
    val files = sources("table") ++ sources("sql")
    val loops = hits(files, "while (attempts")
    assert(loops.size == 1 && loops.head.startsWith("GraftTable.scala:"),
      "commits go through GraftTable's one rebase loop: " +
        loops.mkString("; "))
    val links = hits(files, "Files.createLink(")
      .filterNot(_.startsWith("GraftTable.scala:"))
    assert(links.isEmpty,
      "publishes go through GraftTable.publishIfAbsent / " +
        "publishReplacing: " + links.mkString("; "))
  }
}
