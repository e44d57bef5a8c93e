package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What a workload run hands back to [[Main]]. Pass sums and operation
  * latencies (by operation) come from untraced passes only; `heapMb` is
  * taken at the end of the run. */
final case class RunResult(setupS: Double, passes: Seq[Double],
    opTimes: Map[String, Seq[Double]], heapMb: Double, attempted: Int,
    failures: Seq[String], perLayer: Map[String, Double],
    info: Map[String, Any])

/** llm_curate: registered queries, one at a time, each timed as Bench
  * times it — construction `fn(spark, dir)` plus `count()`. */
final class QueryWorkload(spark: SparkSession, o: Opts, tr: Option[Tracer]) {
  private val fns = graft.SparkEntry.queries
  private val names =
    if (o.mode == "core") Workloads.core(o.workload)
    else Workloads.runnable(o.workload)
  private val cores = Runtime.getRuntime.availableProcessors()

  /** The seed sets the order of every timed pass: the name order rotated
    * by (seed + pass). Which query follows which stays the same from pass
    * to pass and seed to seed (a query's time depends on its
    * predecessor's leftovers), and only where each pass starts moves. */
  private def order(pass: Int): Seq[String] = {
    val k = java.lang.Math.floorMod(o.seed + pass, names.size.toLong).toInt
    names.drop(k) ++ names.take(k)
  }

  /** One invocation: (construct seconds, action seconds) or the error. */
  private def invoke(n: String, pass: Int, t: Option[Tracer])
      : Either[String, (Double, Double)] =
    try {
      var c = 0.0; var a = 0.0
      OpCtx.run(t, pass, n) { op =>
        val (df, cs) = op.phase("construct", n)(fns(n)(spark, o.data))
        c = cs
        a = op.phase("action", n)(df.count())._2
      }
      Right((c, a))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)
          .linesIterator.toSeq.headOption.getOrElse("")}")
    }

  def run(): RunResult = if (o.mode == "record") record() else measure()

  private def measure(): RunResult = {
    val failures = mutable.LinkedHashMap[String, String]()
    var attempted = 0
    def attempt(n: String, pass: Int, t: Option[Tracer]): Option[Double] = {
      attempted += 1
      invoke(n, pass, t) match {
        case Right((c, a)) => Some(c + a)
        case Left(e) => failures.getOrElseUpdate(n, e); None
      }
    }

    // set-up: the first invocation of every query (codegen, pay-once
    // artifacts, fixture builds), in name order for every seed -- what the
    // JIT sees first shapes the code it keeps, and that should not vary
    // with the seed
    val first = names.flatMap(n => attempt(n, 0, None).map(n -> _)).toMap
    val live = names.filter(first.contains)
    // correctness, outside every timed window: the second invocation of
    // every query, its collected rows against the recorded reference. It
    // doubles as a warm-up pass -- the JIT is still compiling the paths
    // the set-up exercised, and the first pass after it repeats worst.
    val expected = Expected.load(o.expected)
    for (n <- live) {
      attempted += 1
      try {
        val df = fns(n)(spark, o.data)
        val rows = df.collect()
        expected.get(n) match {
          case None => failures(n) = "no recorded reference result"
          case Some(want) if want != Fingerprint.of(df.schema, rows) =>
            failures(n) = "result differs from the recorded reference"
          case _ =>
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures(n) = s"check failed: ${e.getClass.getSimpleName}"
      }
    }

    // timed passes, each in its own seeded order, for the run's window;
    // a traced run alternates untraced and traced passes
    val opTimes = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passSums = mutable.ArrayBuffer[(Double, Boolean)]()  // (sum, traced)
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    // five passes at least: the first is still on the JIT's warm-up slope,
    // and a median over five leaves it out (a traced run: u t u t u)
    val minPasses = 5
    System.gc()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses ||
        Stats.secs(t0) + passSums.lastOption.fold(0.0)(_._1) <= o.seconds) {
      pass += 1
      var sum = 0.0
      val layer = Tracer.pass(tr, pass, cores) { t =>
        for (n <- order(pass) if !failures.contains(n))
          attempt(n, pass, t).foreach { s =>
            sum += s
            if (t.isEmpty)
              opTimes.getOrElseUpdate(n, mutable.ArrayBuffer()) += s
          }
      }
      layers ++= layer
      passSums += ((sum, layer.isDefined))
    }
    tr.foreach(_.disable())
    val heapMb = Jvm.retainedHeapMb()

    val untraced = passSums.filterNot(_._2).map(_._1).toSeq
    val firstCall = live.flatMap(n => opTimes.get(n)
      .map(s => n -> (first(n) - Stats.median(s.toSeq)))).sortBy(-_._2)
    RunResult(
      setupS = first.values.sum,
      passes = untraced,
      opTimes = opTimes.map { case (n, x) => n -> x.toSeq }.toMap,
      heapMb = heapMb,
      attempted = attempted,
      failures = failures.toSeq.map { case (n, e) => s"$n: $e" },
      perLayer = Layers.summarize(layers.toSeq, passSums.toSeq) +
        ("ops.first_call_s" -> firstCall.map(_._2).sum),
      info = Map(
        "queries" -> live.size,
        "pass_sums_s" -> untraced.map(x => f"$x%.3f"),
        "op_samples" -> opTimes.values.map(_.size).sum,
        "first_call_top10_s" -> firstCall.take(10)
          .map { case (n, s) => Seq(n, f"$s%.3f") }))
  }

  /** Reference recording: every runnable member once; its rows as
    * parquet (for the DuckDB oracle compare) and its fingerprint. */
  private def record(): RunResult = {
    val out = Paths.get(o.work, "record")
    Files.createDirectories(out)
    val fps = mutable.LinkedHashMap[String, Any]()
    val failures = mutable.ArrayBuffer[String]()
    val oracle = graft.SparkEntry.oracleSql.filter(q => names.contains(q._1))
    for (n <- names) try {
      val df = fns(n)(spark, o.data)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
      fps(n) = Map("rows" -> rows.length,
        "sha256" -> Fingerprint.of(df.schema, rows))
    } catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    Files.writeString(out.resolve("fingerprints.json"), Json(fps))
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))
    RunResult(0.0, Nil, Map.empty, 0.0, names.size, failures.toSeq,
      Map.empty, Map("recorded" -> fps.size))
  }
}

/** Recorded reference results, `{"queries": {name: {"sha256": …}}}`:
  * name → digest. */
object Expected {
  def load(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else new ObjectMapper().readTree(f).get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.get("sha256").asText()).toMap
  }
}
