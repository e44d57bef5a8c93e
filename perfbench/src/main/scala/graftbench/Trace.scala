package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: an operation, a phase of it, a Spark job or a
  * stage. Times are wall-clock milliseconds (the listener bus's clock). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long)

/** Records spans at the layer boundaries the benchmark can see from
  * outside the engine: each operation and its phases (construct/action
  * for a query; commit, read, manifest, scan.asana, compact for the
  * ingest loop) from the benchmark's own clock, and every Spark job,
  * stage and task from a [[SparkListener]]. Jobs are attributed to their
  * operation through the job group the benchmark sets around each phase
  * ("op-<id>-<phase span id>"); Catalyst phase times come from each
  * action's `QueryExecution.tracker`, attributed by time window.
  *
  * Everything is kept in memory; [[passMetrics]] drains the listener bus
  * (not a sleep) before reading, and [[spans]] is written out when the
  * run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private var nextSpan = 0L

  private final class StageRec(var tasks: Int = 0, var submit: Long = -1L,
      var end: Long = -1L, var taskMs: Long = 0L, var cpuNs: Long = 0L,
      var shRead: Long = 0L, var shWrite: Long = 0L, var spill: Long = 0L,
      var records: Long = 0L, var name: String = "")

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (g != null && g.startsWith("op-"))
        jobs(e.jobId) = JobRec(g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val s = stages.getOrElseUpdate(i.stageId, new StageRec())
        s.tasks = i.numTasks
        s.submit = i.submissionTime.getOrElse(-1L)
        s.end = i.completionTime.getOrElse(-1L)
        s.name = i.name
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new StageRec())
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.records += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      Tracer.this.synchronized {
        qes += QeRec(start, d("analysis"), d("optimization"), d("planning"))
      }
    }
  }

  private var on = false

  /** Listeners are attached only around traced passes, so the untraced
    * passes of the same run measure the program without them. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = if (on) {
    BusShim.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  // ------------------------------------------------------------ spans

  private val opSpans = mutable.ArrayBuffer[(Int, Span)]() // (pass, op)
  private val phaseSpans = mutable.ArrayBuffer[Span]()

  private def newId(): Long = { nextSpan += 1; nextSpan }

  /** Open an operation span; phases are recorded with [[phase]]. */
  def op(pass: Int, name: String)(body: Long => Unit): Unit = {
    val id = newId()
    val t0 = System.currentTimeMillis()
    try body(id)
    finally {
      sc.clearJobGroup()
      opSpans += ((pass, Span(id, 0L, "op", name, t0,
        System.currentTimeMillis())))
    }
  }

  /** A phase of operation `opId`; Spark jobs it starts carry its group. */
  def phase[T](opId: Long, kind: String, name: String)(body: => T): T = {
    val id = newId()
    sc.setJobGroup(s"op-$opId-$id", s"$kind $name")
    val t0 = System.currentTimeMillis()
    try body
    finally phaseSpans += Span(id, opId, kind, name, t0,
      System.currentTimeMillis())
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE < 0 || s > curE) {
          if (curE >= 0) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE >= 0) total += curE - curS
    total
  }

  private def jobSpans(): Seq[Span] = synchronized {
    val phases = phaseSpans.map(p => p.id -> p).toMap
    jobs.toSeq.flatMap { case (jid, j) =>
      val phaseId = j.group.split('-').last.toLong
      phases.get(phaseId).map(p =>
        Span(-(jid.toLong + 1), p.id, "job", s"job $jid", j.start,
          if (j.end >= 0) j.end else j.start))
    }
  }

  private def stageSpans(js: Seq[Span]): Seq[Span] = synchronized {
    js.flatMap { j =>
      val jid = (-j.id - 1).toInt
      jobs(jid).stages.flatMap(sid => stages.get(sid).filter(_.submit >= 0)
        .map(s => Span(-(1L << 40) - sid, j.id, "stage",
          s"stage $sid ${s.name}", s.submit, math.max(s.end, s.submit))))
    }
  }

  /** Every span recorded so far: operations, phases, jobs, stages. */
  def spans(): Seq[Span] = {
    BusShim.drain(sc)
    val js = jobSpans()
    opSpans.map(_._2).toSeq ++ phaseSpans ++ js ++ stageSpans(js)
  }

  /** Self time by span kind: each span's duration minus the part of it
    * its child spans cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(x => (x.start, x.end))
        (s.end - s.start - covered(c, s.start, s.end)) / 1e3
      }.sum
    }
  }

  /** Per-layer sums for the operations of one pass. `cores` normalizes
    * core utilization. */
  def passMetrics(pass: Int, cores: Int): Map[String, Double] = {
    BusShim.drain(sc)
    synchronized {
      val ops = opSpans.filter(_._1 == pass).map(_._2)
      val opIds = ops.map(_.id).toSet
      val phaseOf = phaseSpans.filter(p => opIds(p.parent))
        .map(p => p.id -> p).toMap
      val js = jobs.values.filter { j =>
        phaseOf.contains(j.group.split('-').last.toLong)
      }.toSeq
      def kindOf(j: JobRec) = phaseOf(j.group.split('-').last.toLong).kind
      def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stages).distinct
        .flatMap(stages.get).filter(_.submit >= 0)
      val constructJobs = js.count(kindOf(_) == "construct")
      val st = stagesOf(js)
      // the connector's scans: one task per page file read, and the rows
      // its readers handed to Spark
      val scans = stagesOf(js.filter(kindOf(_) == "scan.asana"))
      val wallMs = ops.map(o => o.end - o.start).sum
      val gapMs = ops.map { o =>
        val iv = js.filter(j => j.group.startsWith(s"op-${o.id}-"))
          .map(j => (j.start, if (j.end >= 0) j.end else j.start))
        o.end - o.start - covered(iv, o.start, o.end)
      }.sum
      val inOps = qes.filter(q => ops.exists(o =>
        q.start >= o.start && q.start <= o.end))
      val taskMs = st.map(_.taskMs).sum
      Map(
        "ops.construct_s" -> phaseOf.values.filter(_.kind == "construct")
          .map(p => p.end - p.start).sum / 1e3,
        "ops.construct_jobs" -> constructJobs.toDouble,
        "catalyst.analysis_s" -> inOps.map(_.analysis).sum / 1e3,
        "catalyst.optimization_s" -> inOps.map(_.optimization).sum / 1e3,
        "catalyst.planning_s" -> inOps.map(_.planning).sum / 1e3,
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> st.size.toDouble,
        "sched.tasks" -> st.map(_.tasks).sum.toDouble,
        "sched.single_task_stages" -> st.count(_.tasks == 1).toDouble,
        "sched.driver_gap_s" -> gapMs / 1e3,
        "exec.task_s" -> taskMs / 1e3,
        "exec.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "exec.wall_core_s" -> wallMs * cores / 1e3,
        "exec.shuffle_read_bytes" -> st.map(_.shRead).sum.toDouble,
        "exec.shuffle_write_bytes" -> st.map(_.shWrite).sum.toDouble,
        "exec.spill_bytes" -> st.map(_.spill).sum.toDouble,
        "exec.records_read" -> st.map(_.records).sum.toDouble,
        "asana.pages" -> scans.map(_.tasks).sum.toDouble,
        "asana.records_read" -> scans.map(_.records).sum.toDouble)
    }
  }
}

object Tracer {
  /** Runs timed pass `pass`. A traced run (`tr` given) alternates untraced
    * and traced passes; `body` gets the tracer when this pass is traced,
    * and a traced pass returns its per-layer sums. */
  def pass(tr: Option[Tracer], pass: Int, cores: Int)(
      body: Option[Tracer] => Unit): Option[Map[String, Double]] = {
    val t = tr.filter(_ => pass % 2 == 0)
    t match { case Some(x) => x.enable(); case None => tr.foreach(_.disable()) }
    val (n0, s0) = Jvm.gc()
    body(t)
    t.map { x =>
      val (n1, s1) = Jvm.gc()
      x.passMetrics(pass, cores) ++ Map(
        "jvm.gc_count" -> (n1 - n0).toDouble, "jvm.gc_s" -> (s1 - s0))
    }
  }

  private final case class JobRec(group: String, start: Long,
      stages: Seq[Int], var end: Long = -1L)
  private final case class QeRec(start: Long, analysis: Long,
      optimization: Long, planning: Long)
}

/** The operation being timed: its phases are timed on the benchmark's
  * clock, and also traced when a [[Tracer]] is given. */
final class OpCtx private (tr: Option[Tracer], opId: Long) {
  def phase[T](kind: String, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tr match {
      case Some(t) => t.phase(opId, kind, name)(body)
      case None => body
    }
    (r, Stats.secs(t0))
  }
}

object OpCtx {
  def run(tr: Option[Tracer], pass: Int, name: String)(
      body: OpCtx => Unit): Unit = tr match {
    case Some(t) => t.op(pass, name)(id => body(new OpCtx(tr, id)))
    case None => body(new OpCtx(None, 0L))
  }
}

/** Per-layer numbers of a traced run: additive metrics are the median
  * over traced passes of the per-pass sums; ratios are pooled. */
object Layers {
  /** `passes`: every timed pass's sum, in order, and whether it was
    * traced. Tracing overhead compares each traced pass with the mean of
    * its untraced neighbours, so the run's warm-up trend cancels out. */
  def summarize(layers: Seq[Map[String, Double]],
      passes: Seq[(Double, Boolean)]): Map[String, Double] =
    if (layers.isEmpty) Map.empty
    else {
      def total(k: String) = layers.map(_.getOrElse(k, 0.0)).sum
      val keys = layers.flatMap(_.keys).distinct
        .filterNot(Set("sched.single_task_stages", "exec.wall_core_s"))
      val overhead = passes.indices.collect {
        case i if passes(i)._2 && i > 0 && i + 1 < passes.size &&
            !passes(i - 1)._2 && !passes(i + 1)._2 =>
          passes(i)._1 / ((passes(i - 1)._1 + passes(i + 1)._1) / 2)
      }
      keys.map(k => k -> Stats.median(layers.map(_.getOrElse(k, 0.0)))).toMap ++
        Map(
          "sched.single_task_stage_frac" ->
            total("sched.single_task_stages") / math.max(1.0,
              total("sched.stages")),
          "exec.core_util" ->
            total("exec.task_s") / math.max(1e-9, total("exec.wall_core_s"))) ++
        (if (overhead.isEmpty) Map.empty
         else Map("trace.overhead" -> Stats.median(overhead)))
    }
}
