package graft.util

import org.apache.spark.sql.SparkSession

/** The local session every main runs in (Verify, Bench, Opt):
  * `local[cpus]`, shuffle partitions = cpus, UI off, and UTC — the
  * NTZ→LTZ cast in [[Tables.events]] follows the session timezone, so a
  * non-UTC host would read shifted instants (round-7 ADVICE). `extra`
  * adds a main's own config pairs on top. */
object Sessions {
  def local(cpus: String, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
