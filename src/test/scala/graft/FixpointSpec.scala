package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BusShim

import graft.util.Iterate

/** The fixpoint kernel ([[Iterate.fixpoint]]) every iterative loop runs
  * on: a loop that throws — at its bound or in any round — leaves no
  * persisted data behind, a re-run keeps one live result per loop, the
  * loops' Spark jobs at budget 0 stay pinned, and no loop materializes
  * or registers rounds outside the kernel. */
class FixpointSpec extends SparkTestBase {
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

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `body` throws an IllegalArgumentException whose message holds
    * `msg`, and leaves no RDD persisted that was not before. (Older
    * RDDs may vanish meanwhile: the registry holds them weakly.) */
  private def releasesOnThrow(msg: String)(body: => Any): Unit = {
    val before = persisted
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(msg), e.getMessage)
    assert(persisted -- before == Set.empty[Int],
      s"left persisted after '$msg': ${persisted -- before}")
  }

  private def chain(n: Int): Seq[(Long, Long)] =
    (1L until n.toLong).map(i => (i, i + 1))

  test("kcore at its bound: a long path peels past 24 rounds") {
    releasesOnThrow("2-core peel exceeded 24 rounds") {
      ops.Graph.kcoreOf(spark, chain(60).toDF("a", "b"), 0L).collect()
    }
  }

  test("topo at its bound: a cycle relaxes past 128 rounds") {
    releasesOnThrow("topoLayersDistributed exceeded 128 relaxation rounds") {
      ops.Graph.topoLayersOf(spark, Seq(1L, 2L).toDF("scc"),
        Seq((1L, 2L), (2L, 1L)).toDF("cs", "ct"), 0L).collect()
    }
  }

  test("sssp and closeness at their bound: a 40-hop chain") {
    val w = chain(41).map { case (s, t) => (s, t, 1L) }.toDF("s", "t", "w")
    releasesOnThrow("ssspDistributed exceeded 32 relaxation rounds") {
      ops.Graph.ssspOf(spark, w, 0L).collect()
    }
    releasesOnThrow("closenessDistributed exceeded 32 relaxation rounds") {
      ops.Graph.closenessOf(spark, w, 0L).collect()
    }
  }

  test("task_roots at its bound: a parent cycle") {
    releasesOnThrow("root resolution did not converge within depth 2^12") {
      ops.Sources.resolveRoots(
        Seq(("a", "b"), ("b", "a"), ("c", null)).toDF("gid", "parent"),
        driverBudgetRows = 0L).collect()
    }
  }

  test("scc at minReach's bound: backward reach along a 300-node chain " +
      "needs more than 256 hops") {
    releasesOnThrow("minReach exceeded 256 hops") {
      ops.Graph.sccOf(spark, chain(300).toDF("s", "t"), 0L).collect()
    }
  }

  test("a round that throws releases the state, its caches, its nested " +
      "results and the loop's inputs") {
    val input = spark.range(0, 50).toDF("id").where(col("id") % 2 === 0)
    def step(throwAt: Int)(cur: DataFrame, round: Iterate.Round) = {
      val cached = round.cache(cur.select(col("id") + 1 as "id"))
      val nested = round.fixpoint(cached, 2, "nested bound") { (c, _) => c }(
        (_, _, r) => r == 1)
      if (round.n == throwAt)
        throw new IllegalStateException(s"planted failure, round $throwAt")
      nested.join(input, Seq("id"), "left_semi").union(cur).distinct()
    }
    val before = persisted
    val e = intercept[IllegalStateException] {
      Iterate.fixpoint("fixpoint_spec_throw", spark.range(0, 4).toDF("id"),
        10, "never", inputs = Seq(input))(step(3))((_, _, _) => false)
    }
    assert(e.getMessage.contains("round 3"), e.getMessage)
    assert(persisted -- before == Set.empty[Int], persisted -- before)
    // a convergence test that throws: the materialized successor goes too
    intercept[IllegalStateException] {
      Iterate.fixpoint("fixpoint_spec_throw", spark.range(0, 4).toDF("id"),
        10, "never", inputs = Seq(input))(step(-1)) { (_, _, r) =>
        if (r == 2) throw new IllegalStateException("planted test failure")
        false
      }
    }
    assert(persisted -- before == Set.empty[Int], persisted -- before)
    // the bound: the caller's message verbatim, after exactly maxRounds
    var ran = 0
    val b = intercept[IllegalArgumentException] {
      Iterate.fixpoint("fixpoint_spec_throw", spark.range(0, 4).toDF("id"),
        3, "planted bound")((cur, _) => { ran += 1; cur })((_, _, _) => false)
    }
    assert(b.getMessage == "requirement failed: planted bound")
    assert(ran == 3, s"$ran rounds ran before the bound tripped")
    assert(persisted -- before == Set.empty[Int], persisted -- before)
  }

  test("a loop run twice keeps one live registered result; nested " +
      "results are released with their round") {
    val sc = spark.sparkContext
    val edges = (chain(6) ++ Seq((6L, 3L), (7L, 8L))).toDF("s", "t")
    val before = sc.getPersistentRDDs.keySet.toSet
    val first = ops.Graph.sccOf(spark, edges, 0L).collect()
    val afterFirst = sc.getPersistentRDDs.keySet.toSet -- before
    val second = ops.Graph.sccOf(spark, edges, 0L).collect()
    val afterSecond = sc.getPersistentRDDs.keySet.toSet -- before
    assert(first.toSet == second.toSet)
    assert(afterFirst.size == 1, s"first run left $afterFirst")
    assert(afterSecond.size == 1, s"second run left $afterSecond")
    assert(afterFirst != afterSecond, "the first result was not released")
  }

  test("a seed that tests converged runs zero rounds; a fixed-round loop " +
      "of n rounds runs exactly n") {
    var asked = Seq.empty[Int]
    val (seed, none) = Iterate.fixpoint("fixpoint_spec_zero",
        spark.range(0, 3).toDF("id"), 5, "never")((cur, _) => cur) {
      (_, _, r) => asked :+= r; true
    }
    assert(none == 0 && asked == Seq(0))
    assert(seed.count() == 3)
    var steps = Seq.empty[Int]
    val out = Iterate.rounds("fixpoint_spec_fixed",
        Seq(1L).toDF("id"), 4) { (cur, round) =>
      steps :+= round.n
      cur.select((col("id") * 2).as("id"))
    }
    assert(steps == Seq(1, 2, 3, 4))
    assert(out.as[Long].collect().toSeq == Seq(16L))
  }

  /** Each loop's distributed arm on a fixed small input, collected. */
  private def loops: Seq[(String, () => Any)] = {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L), (8L, 9L)).toDF("a", "b")
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .union(und.select(col("b").as("v"), col("a").as("u")))
    val dir = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (5L, 6L), (7L, 6L)).toDF("s", "t")
    val wdir = Seq((1L, 2L, 3L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 2L),
      (4L, 5L, 1L), (3L, 5L, 7L), (6L, 1L, 1L)).toDF("s", "t", "w")
    val kcore = (chain(6) ++ Seq((6L, 7L), (7L, 8L), (6L, 8L)))
      .toDF("a", "b")
    val forest = (Seq(("a", null), ("b", "a"), ("c", "b"), ("e", "ghost"),
      ("f", "e")) ++ (1 to 9).map(i => (s"d$i", s"d${i - 1}")) :+
      (("d0", null))).toDF("gid", "parent")
    Seq(
      "bfs" -> (() => ops.Graph.bfsOnSym(spark, sym, 0L).collect()),
      "pagerank" -> (() => ops.Graph.pagerankOnSym(spark, sym, 0L).collect()),
      "kcore" -> (() => ops.Graph.kcoreOf(spark, kcore, 0L).collect()),
      "lpa" -> (() => ops.Graph.lpaOf(spark, sym, 0L).collect()),
      "reach_k2" -> (() => ops.Graph.reachOf(spark, dir, 2, 0L).collect()),
      "reach_k3" -> (() => ops.Graph.reachOf(spark, dir, 3, 0L).collect()),
      "scc" -> (() => ops.Graph.sccOf(spark, dir, 0L).collect()),
      "topo" -> (() => ops.Graph.topoLayersOf(spark,
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 9L).toDF("scc"),
        Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
          .toDF("cs", "ct"), 0L).collect()),
      "sssp" -> (() => ops.Graph.ssspOf(spark, wdir, 0L).collect()),
      "closeness" -> (() => ops.Graph.closenessOf(spark, wdir, 0L).collect()),
      "cc" -> (() => ops.Llm.connectedComponents(und,
        key = "fixpoint_spec_cc", driverBudgetEdges = 0L).collect()),
      "rel_recursive" -> (() =>
        ops.Relational.relRecursiveOf(spark, sf, 0L).collect()),
      "task_roots" -> (() =>
        ops.Sources.resolveRoots(forest, driverBudgetRows = 0L).collect()))
  }

  /** Jobs each loop ran on [[loops]]' inputs before the loops ran on the
    * kernel, counted by this spec's listener on the same inputs. */
  private val jobsBefore = Map(
    "bfs" -> 34, "pagerank" -> 65, "kcore" -> 44, "lpa" -> 29,
    "reach_k2" -> 12, "reach_k3" -> 17, "scc" -> 300, "topo" -> 53,
    "sssp" -> 49, "closeness" -> 57, "cc" -> 34, "rel_recursive" -> 14,
    "task_roots" -> 37)

  test("every loop runs at most as many Spark jobs at budget 0 as before " +
      "the kernel") {
    val counts = loops.map { case (name, run) =>
      run() // warm: plan caches, the sf fixture's first read
      name -> jobsOf(s"fixpoint_spec_jobs_$name")(run())
    }
    info(counts.map { case (n, j) => s"$n=$j" }.mkString(" "))
    val worse = counts.filter { case (n, j) => j > jobsBefore(n) }
    assert(worse.isEmpty, s"more jobs than before: $worse vs $jobsBefore")
  }

  test("no loop checkpoints or registers a round outside the kernel") {
    val root = new java.io.File("src/main/scala/graft")
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = sources(root)
      .filterNot(_.getPath.endsWith("graft/util/Iterate.scala"))
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val banned = ("Iterate\\.checkpoint\\(|registerResult\\(|" +
      "localCheckpoint\\(|var (registered|done)\\b").r
    val offending = for {
      f <- files
      ls = {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      i <- ls.indices
      if banned.findFirstIn(ls(i)).isDefined
    } yield s"${f.getPath}:${i + 1}: ${ls(i).trim}"
    assert(offending.isEmpty,
      "iterative loops run on Iterate.fixpoint: " + offending.mkString("; "))
  }
}
