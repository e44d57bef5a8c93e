package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

object Stats {
  /** Nearest-rank percentile, `p` in (0, 100]: the least sample with at
    * least p% of the samples at or below it. Always a measured value, so
    * a gap between fast and slow operations is never bridged by
    * interpolation. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(math.max(0, math.ceil(xs.size * p / 100.0).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Driver JVM counters read through the platform MXBeans. Spark's task
  * `jvmGCTime` reads 0 in local mode, so GC is measured here instead. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** (collections, seconds) since JVM start, summed over collectors */
  def gc(): (Long, Double) =
    (gcs.map(_.getCollectionCount.max(0L)).sum,
      gcs.map(_.getCollectionTime.max(0L)).sum / 1e3)

  /** Heap in use after full collections: what the run keeps reachable.
    * Spark's ContextCleaner drops the blocks of collected broadcasts
    * asynchronously, so collect, let it run, and collect again; the least
    * reading is the retained heap. */
  def retainedHeapMb(): Double =
    (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

/** Canonical digest of a query result, independent of column order
  * (columns are sorted by name, the oracle compare's rule) and exact in
  * every value (doubles print their shortest round-trip form). */
object Fingerprint {
  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** The rows' cells, columns in name order, each rendered exactly. */
  private def cells(schema: StructType, rows: Array[Row]): Seq[Seq[String]] = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    rows.toSeq.map(r => order.toSeq.map(i => render(r.get(i))))
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val header = schema.fields.sortBy(_.name)
      .map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
    sha256((header +: cells(schema, rows).map(_.mkString("|")))
      .mkString("\n"))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}

/** Minimal JSON rendering for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
