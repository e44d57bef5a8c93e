package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.{GraftSql, GraftSqlTables}
import graft.table.GraftTable

/** table_ingest: an incremental ingest loop from the Asana connector into
  * a graft table, with reads of the table being written.
  *
  * The generator (gen.py) leaves one directory of task pages per round
  * and a ledger. Each round publishes its pages into the connector's
  * `pages/tasks` directory, then
  *  1. scans the connector with the round's `modified_at >=` watermark
  *     (pushed down), collecting the batch;
  *  2. commits it with the round's verb: GraftTable.append, merge, SQL
  *     MERGE INTO, GraftTable.delete, SQL DELETE FROM, in rotation;
  *  3. reads the table: a pruned key lookup, a full aggregate, time
  *     travel to a seeded earlier snapshot, changesBetween(previous,
  *     latest) and the latest manifest.
  * A pass is one rotation of the five verbs followed by a compaction.
  * Round 0 creates the table; it and the first rotation are the set-up.
  * After the timed passes expireSnapshots and removeOrphans run.
  *
  * Correctness: the latest and every time-travelled snapshot must equal
  * the ledger's fold of the batches at that round (last writer wins,
  * deletes removed), compared by digest. */
final class IngestWorkload(spark: SparkSession, o: Opts, tr: Option[Tracer]) {
  import IngestWorkload.Round

  private val ledger: IndexedSeq[Round] = {
    val it = new ObjectMapper().readTree(Paths.get(o.data, "ledger.json")
      .toFile).elements().asScala
    it.map(n => Round(n.get("round").asInt(), n.get("kind").asText(),
      n.get("pages").elements().asScala.map(_.asText()).toSeq,
      n.get("watermark_micros").asLong(),
      n.get("digest").asText())).toIndexedSeq
  }

  private val src = Paths.get(o.work, "asana")
  private val pagesDir = src.resolve("pages").resolve("tasks")
  private val root = Paths.get(o.work, "table", "tasks").toString
  private val sqlName = "bench_tasks"
  private val keys = Seq("task_id")
  private val rng = new scala.util.Random(o.seed)
  private val cores = Runtime.getRuntime.availableProcessors()

  // bookkeeping, all outside the timed windows
  private val snapRound = mutable.Map[Int, Int]()     // snapshot → round
  private var next = 0                                // next round to run
  private var lastKeys = Seq.empty[Long]

  private final class PassAcc {
    val times = mutable.Map[String, Double]().withDefaultValue(0.0)
    val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val commits, reads = mutable.ArrayBuffer[Double]()
    var rowsLanded, rowsReturned, filesRead, readsN = 0L
    var sum = 0.0
  }

  private def publish(r: Round): Unit = {
    Files.createDirectories(pagesDir)
    r.pages.foreach { p =>
      Files.copy(Paths.get(o.data, f"round_${r.round}%03d", p),
        pagesDir.resolve(p), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def scanFrame(r: Round): DataFrame =
    spark.read.format("graft.asana.AsanaSource")
      .option("entity", "tasks").option("fixtureDir", src.toString).load()
      .where(col("modified_at") >=
        lit(new java.sql.Timestamp(r.watermarkMicros / 1000)))
      .select(substring(col("gid"), 5, 20).cast("long").as("task_id"),
        col("gid"), col("name"), col("completed"), col("num_likes"),
        col("modified_at"), col("assignee_gid"))

  /** The batch as a local relation, so the commit's window holds no
    * scan, with its row count. */
  private def scan(op: OpCtx, r: Round): (DataFrame, Int, Double) = {
    val (rows, s) = op.phase("scan.asana", s"round ${r.round}") {
      scanFrame(r).collect()
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      scanFrame(r).schema), rows.length, s)
  }

  private def commit(kind: String, batch: DataFrame): Unit = kind match {
    case "append" =>
      GraftTable.append(spark, root, batch, keys, keys, bloomCols = keys)
    case "merge" =>
      GraftTable.merge(spark, root, batch, "task_id", keys, keys,
        bloomCols = keys)
    case "sql_merge" =>
      GraftSql.exec(spark, s"""MERGE INTO $sqlName t USING bench_batch s
        ON t.task_id = s.task_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    case "delete" =>
      GraftTable.delete(spark, root, batch.select("task_id"), "task_id",
        keys, keys, bloomCols = keys)
    case "sql_delete" =>
      GraftSql.exec(spark, s"DELETE FROM $sqlName WHERE task_id IN " +
        "(SELECT task_id FROM bench_batch)")
  }

  private val layerOf = Map("append" -> "table.append_s",
    "merge" -> "table.merge_s", "sql_merge" -> "sql.merge_s",
    "delete" -> "table.delete_s", "sql_delete" -> "sql.delete_s")

  private def files(v: Int): Map[String, Long] =
    GraftTable.manifest(root, v).files.flatMap(f => f.path :: f.dv.toList)
      .map(p => p -> Files.size(Paths.get(root, p))).toMap

  private var written = 0L      // data-file bytes added by timed commits
  private var landedTimed = 0L  // rows those commits landed
  private val travelled = mutable.Set[Int]()

  /** One timed operation; its latency is a sample of the pass. */
  private def timedOp[T](acc: PassAcc, pass: Int, t: Option[Tracer],
      name: String)(body: OpCtx => (T, Double)): T = {
    var out: Option[T] = None
    OpCtx.run(t, pass, name) { op =>
      val (v, s) = body(op)
      out = Some(v)
      acc.samples.getOrElseUpdate(name.split(' ').head,
        mutable.ArrayBuffer()) += s
      acc.sum += s
    }
    out.get
  }

  /** One loop round: publish, scan, commit, reads. */
  private def round(acc: PassAcc, pass: Int, t: Option[Tracer]): Unit = {
    val r = ledger(next); next += 1
    publish(r)
    val before = GraftTable.latestSnapshot(root)
    val (batch, landed) = timedOp(acc, pass, t, s"scan ${r.round}") { op =>
      val (b, n, s) = scan(op, r)
      acc.times("asana.scan_s") += s
      ((b, n), s)
    }
    acc.rowsReturned += landed
    batch.createOrReplaceTempView("bench_batch")
    timedOp(acc, pass, t, s"${r.kind} ${r.round}") { op =>
      val (_, s) = op.phase("commit", r.kind)(commit(r.kind, batch))
      acc.times(layerOf(r.kind)) += s
      acc.commits += s
      ((), s)
    }
    val latest = GraftTable.latestSnapshot(root)
    require(latest == before + 1,
      s"round ${r.round} (${r.kind}) made ${latest - before} commits")
    snapRound(latest) = r.round
    val (fb, fa) = (files(before), files(latest))
    written += fa.filter(f => !fb.contains(f._1)).values.sum
    acc.rowsLanded += landed
    if (r.kind == "append" || r.kind.endsWith("merge"))
      lastKeys = batch.select("task_id").collect().map(_.getLong(0)).toSeq

    // reads of the table being written
    def read(name: String)(df: => DataFrame)(action: DataFrame => Any): Unit = {
      val d = timedOp(acc, pass, t, s"$name ${r.round}") { op =>
        val (d, s) = op.phase("read", name) { val d = df; action(d); d }
        acc.reads += s
        (d, s)
      }
      acc.filesRead += d.inputFiles.length
      acc.readsN += 1
    }
    val probe = rng.shuffle(lastKeys).take(3)
    read("lookup") {
      val (d, _, _) = GraftTable.readWhereKeyIn(spark, root, "task_id", probe)
      d.where(col("task_id").isin(probe: _*))
    }(_.collect())
    read("aggregate") {
      GraftTable.read(spark, root).groupBy("completed")
        .agg(count(lit(1)), sum("num_likes"), max("modified_at"))
    }(_.collect())
    val back = 1 + rng.nextInt(latest - 1)
    travelled += back
    read("time_travel") {
      GraftTable.read(spark, root, Some(back))
        .agg(count(lit(1)), sum("num_likes"))
    }(_.collect())
    read("changes") {
      GraftTable.changesBetween(spark, root, before, latest)
    }(_.count())
    timedOp(acc, pass, t, s"manifest ${r.round}") { op =>
      val (_, s) = op.phase("manifest", "latest") {
        GraftTable.manifest(root, GraftTable.latestSnapshot(root)).files.size
      }
      acc.times("table.manifest_s") += s
      acc.reads += s
      ((), s)
    }
  }

  private def compact(acc: PassAcc, pass: Int, t: Option[Tracer]): Unit = {
    val before = GraftTable.latestSnapshot(root)
    timedOp(acc, pass, t, "compact") { op =>
      val (_, s) = op.phase("compact", "compact") {
        GraftTable.compact(spark, root, 1000L, keys, keys, bloomCols = keys)
      }
      acc.times("table.compact_s") += s
      ((), s)
    }
    val latest = GraftTable.latestSnapshot(root)
    if (latest > before) {
      snapRound(latest) = snapRound(before)
      val fb = files(before)
      written += files(latest).filter(f => !fb.contains(f._1)).values.sum
    }
  }

  /** The table's rows at snapshot `v`, digested as the ledger digests
    * its fold. */
  private def digest(v: Int): String = {
    val rows = GraftTable.read(spark, root, Some(v))
      .select(col("task_id"), col("gid"), col("name"), col("completed"),
        col("num_likes"), unix_micros(col("modified_at")),
        coalesce(col("assignee_gid"), lit("null")))
      .collect().sortBy(_.getLong(0))
    Fingerprint.sha256(rows.map(_.toSeq.mkString("|")).mkString("\n"))
  }

  private val PassRounds = 5

  def run(): RunResult = {
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0

    // set-up: create the table from round 0, then one full rotation
    val t0 = System.nanoTime()
    val r0 = ledger(0); next = 1
    publish(r0)
    val acc0 = new PassAcc
    val init = timedOp(acc0, 0, None, "create") { op =>
      val (b, _, _) = scan(op, r0)
      op.phase("commit", "create") {
        GraftTable.create(spark, root, b, keys, keys, numFiles = 4,
          bloomCols = keys)
      }
    }
    snapRound(init) = 0
    GraftSqlTables.register(sqlName,
      GraftSqlTables.Ref(root, "task_id", keys, keys, bloomCols = keys))
    (1 to PassRounds).foreach(_ => round(acc0, 0, None))
    compact(acc0, 0, None)
    val setupS = Stats.secs(t0)
    attempted += acc0.samples.values.map(_.size).sum
    written = 0L

    // timed passes: whole rotations for the run's window
    val accs = mutable.ArrayBuffer[(PassAcc, Boolean)]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val minPasses = if (tr.isDefined) 3 else 1
    val w0 = System.nanoTime()
    var pass = 0
    def last = accs.lastOption.map(_._1.sum).getOrElse(0.0)
    while ((pass < minPasses || Stats.secs(w0) + last <= o.seconds) &&
        next + PassRounds <= ledger.size - 1) {
      pass += 1
      val acc = new PassAcc
      val layer = Tracer.pass(tr, pass, cores) { t =>
        (1 to PassRounds).foreach(_ => round(acc, pass, t))
        compact(acc, pass, t)
      }
      landedTimed += acc.rowsLanded
      layers ++= layer.map(_ ++ acc.times +
        ("asana.rows_returned" -> acc.rowsReturned.toDouble))
      accs += ((acc, layer.isDefined))
      attempted += acc.samples.values.map(_.size).sum
    }
    tr.foreach(_.disable())
    require(pass >= minPasses, s"the ledger ran out after $pass passes")

    // correctness of every time-travelled snapshot and the latest
    val latest = GraftTable.latestSnapshot(root)
    var checked = 0
    def check(v: Int): Unit = {
      attempted += 1
      checked += 1
      val r = snapRound(v)
      if (digest(v) != ledger(r).digest)
        failures += s"snapshot $v (round $r) differs from the fold of the batches"
    }
    // up to four of the snapshots the timed reads travelled to
    (travelled.toSeq.sorted.take(4) :+ latest).distinct.foreach(check)

    // maintenance: keep the last three snapshots, sweep orphans
    val liveBytesBefore = files(latest).values.sum
    val m0 = System.nanoTime()
    GraftTable.expireSnapshots(root, latest - 2)
    GraftTable.removeOrphans(root, 0L)
    val maintS = Stats.secs(m0)
    check(latest)
    val onDisk = Files.walk(Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => Files.size(p)).sum
    val live = files(latest)
    val liveRows = GraftTable.manifest(root, latest).files.map(_.liveRows).sum
    val heapMb = Jvm.retainedHeapMb()

    val untraced = accs.filterNot(_._2).map(_._1).toSeq
    val tracedAccs = accs.filter(_._2).map(_._1).toSeq
    val all = accs.map(_._1).toSeq
    val commitS = all.flatMap(_.commits)
    val readS = all.flatMap(_.reads)
    val scanAndCommit = all.map(a => a.times("asana.scan_s")).sum +
      commitS.sum
    val bytesPerRow = liveBytesBefore.toDouble / math.max(1L, liveRows)
    def layerTotal(k: String) = layers.map(_.getOrElse(k, 0.0)).sum
    val perLayer =
      if (tracedAccs.isEmpty) Map.empty[String, Double]
      else Layers.summarize(layers.toSeq,
        accs.map { case (a, traced) => (a.sum, traced) }.toSeq) ++ Map(
        "table.maint_s" -> maintS,
        "table.files_live" -> live.size.toDouble,
        "table.files_read_per_read" ->
          all.map(_.filesRead).sum.toDouble / all.map(_.readsN).sum,
        "table.write_amp" ->
          written.toDouble / math.max(1L, landedTimed) / bytesPerRow,
        "asana.rows_read_per_row_returned" ->
          layerTotal("asana.records_read") /
            math.max(1.0, layerTotal("asana.rows_returned")),
        "ingest.commit_p50_s" -> Stats.pct(commitS, 50),
        "ingest.commit_p90_s" -> Stats.pct(commitS, 90),
        "ingest.read_p50_s" -> Stats.pct(readS, 50),
        "ingest.read_p90_s" -> Stats.pct(readS, 90),
        "ingest.rows_per_s" ->
          all.map(_.rowsLanded).sum / math.max(1e-9, scanAndCommit),
        "ingest.space_amp" -> onDisk.toDouble / math.max(1L, live.values.sum))
    RunResult(
      setupS = setupS,
      passes = untraced.map(_.sum),
      opTimes = untraced.flatMap(_.samples.toSeq).groupBy(_._1)
        .map { case (k, v) => k -> v.flatMap(_._2) },
      heapMb = heapMb,
      attempted = attempted,
      failures = failures.toSeq,
      perLayer = perLayer,
      info = Map(
        "rounds" -> (next - 1),
        "passes" -> untraced.size,
        "op_samples" -> untraced.map(_.samples.values.map(_.size).sum).sum,
        "commits" -> commitS.size,
        "snapshots_checked" -> checked))
  }
}

object IngestWorkload {
  private final case class Round(round: Int, kind: String,
      pages: Seq[String], watermarkMicros: Long, digest: String)
}
