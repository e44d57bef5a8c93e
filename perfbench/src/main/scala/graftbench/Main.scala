package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (normally started by run.py).
  * `mode`: core (the timed set, what a benchmark run uses) or record
  * (write reference results of every runnable member). */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, mode: String, data: String, work: String,
    expected: String, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => sys.error(s"bad argument: ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", m.getOrElse("mode", "core"), get("data"),
      get("work"), m.getOrElse("expected", ""), get("out"))
    require(Workloads.names.contains(o.workload),
      s"unknown workload ${o.workload}")
    require(Set("core", "record")(o.mode), s"unknown mode ${o.mode}")
    o
  }
}

/** One benchmark run in one JVM: session start, set-up, timed passes,
  * correctness check, then the result file for run.py. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = Stats.secs(t0)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val r = o.workload match {
      case "table_ingest" => new IngestWorkload(spark, o, tracer).run()
      case _ => new QueryWorkload(spark, o, tracer).run()
    }
    // an operation's latency is its median over the timed passes. The
    // pass time adds those up (times each operation's calls per pass), and
    // the percentiles run over operations, so a slow spell on the host
    // during one pass moves none of them.
    val opLatency = r.opTimes.values.map(Stats.median).toSeq
    val passS = r.opTimes.values.map(t =>
      Stats.median(t) * t.size / r.passes.size).sum
    val e2e =
      if (o.mode == "record") Map.empty[String, Double]
      else Map(
        "setup_s" -> (sessionS + r.setupS),
        "pass_s" -> passS,
        "op_p50_s" -> Stats.pct(opLatency, 50),
        "op_p90_s" -> Stats.pct(opLatency, 90),
        "heap_retained_mb" -> r.heapMb)
    val spans = tracer.map { t =>
      val all = t.spans()
      val dir = Paths.get(o.work, "..", "..", "traces").normalize()
      Files.createDirectories(dir)
      val f = dir.resolve(s"${o.workload}-seed${o.seed}.spans.jsonl")
      Files.writeString(f, all.map(s => Json(Map("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))).mkString("\n") + "\n")
      Map("file" -> f.toString, "self_s" -> t.selfTimes(all)
        .map { case (k, v) => k -> f"$v%.3f" })
    }
    val result = Map(
      "correct" -> r.failures.isEmpty,
      "attempted" -> r.attempted,
      "failed" -> r.failures.size,
      "failures" -> r.failures,
      "e2e" -> e2e,
      "per_layer" -> r.perLayer,
      "info" -> (r.info ++ Map(
        "op_median_s" -> r.opTimes.map { case (k, t) =>
          k -> f"${Stats.median(t)}%.3f" },
        "session_s" -> f"$sessionS%.3f",
        "session" -> sessionConf(spark),
        "spans" -> spans)))
    Files.writeString(Paths.get(o.out), Json(result))
    spark.stop()
  }

  /** The Bench/Verify session: local[nproc], shuffle partitions = nproc,
    * UTC, UI off. Scratch and warehouse space stay in the work dir. */
  private def session(o: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir",
        Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def sessionConf(s: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.ui.enabled",
      "spark.sql.session.timeZone").map(k => k -> s.conf.get(k, "")).toMap ++
      Map("max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "gc" -> java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.toArray.map(b =>
            b.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
              .getName).mkString(","))
}
