package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-exit cleanup for per-application scratch artifacts (sink
  * directories, persisted warehouse tables). Each call site registers its
  * hook ONCE per JVM under a key, so repeated query invocations (bench
  * runs every query twice after a warmup pass) don't stack hooks. */
object AppCleanup {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def recursiveDelete(f: java.io.File): Unit = {
    val sub = f.listFiles(); if (sub != null) sub.foreach(recursiveDelete)
    f.delete(); ()
  }

  /** Run `body` at JVM shutdown; only the first registration per key wins. */
  def onExit(key: String)(body: => Unit): Unit =
    if (registered.add(key)) { sys.addShutdownHook(body); () }

  /** Resolve a Spark conf dir value (plain path OR file: URI — Spark
    * accepts both, and bare java.net.URI throws on unencoded spaces) to a
    * local File via Hadoop's Path parsing, the way Spark itself does. */
  def localFile(confValue: String): java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(confValue).toUri.getPath)

  /** Drop a warehouse table AND its directory — the catalog of a fresh JVM
    * has no entry for a crash leftover, but the directory survives and
    * saveAsTable refuses the location. The catalog lowercases table names
    * on saveAsTable, so the on-disk delete must match that casing. */
  private def resetTable(s: SparkSession, t: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $t")
    recursiveDelete(new java.io.File(
      localFile(s.conf.get("spark.sql.warehouse.dir")), t.toLowerCase))
  }

  /** Collision-free readable tag for per-(application, sfDir) artifact
    * names: the sanitized form ALONE collapses raw strings that differ
    * only in punctuation (".../sf0.01" vs ".../sf0_01") into one tag, and
    * the second caller would silently read the first directory's persisted
    * artifact (round-7 ADVICE). A hex MurmurHash3 of the raw string
    * disambiguates; the sanitized prefix keeps names greppable. Hex is
    * lowercase-stable, so catalog lowercasing can't split the tag. */
  def tagOf(raw: String): String =
    raw.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(raw))

  /** Per-(application, key) readable tag: the house name of every
    * artifact scoped to one application and one sfDir (fixture tables
    * claiming a registry name, [[persisted]] tables). */
  def appTag(s: SparkSession, key: String): String =
    tagOf(s.sparkContext.applicationId + "_" + key)

  /** Build-once rule behind every pay-once artifact: runs `build` the
    * first time `tag` is seen in `seen` and records the tag only AFTER
    * build returns — a failed build retries on the next call instead of
    * poisoning every later invocation — under a lock spanning the whole
    * build so two concurrent first callers cannot race a reset against
    * an in-flight write. Production artifacts reach it through [[once]]
    * ([[persisted]], [[graft.ops.Sources.builtDir]], [[Probes.memo]]). */
  def buildOnce(seen: java.util.Set[String], tag: String)(build: => Unit): Unit =
    seen.synchronized {
      if (!seen.contains(tag)) { build; seen.add(tag); () }
    }

  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** [[buildOnce]] over the one JVM-wide set every pay-once artifact
    * shares: [[persisted]] tables (keyed by table name), built
    * directories (by absolute path) and memoized driver values (by
    * `applicationId|sfDir|id`) — three key shapes that never collide.
    * One set is one reentrant lock, so a build that calls another (an
    * index directory training a memoized quantizer, a persisted table
    * reading a memoized offset) nests instead of ordering two locks. */
  private[graft] def once(tag: String)(build: => Unit): Unit =
    buildOnce(built, tag)(build)

  /** The warehouse table `df` writes, built once per JVM and read back —
    * every persisted ingest artifact (deterministic over immutable
    * inputs, so reuse cannot change a row) goes through here. The name is
    * `<prefix>_` + [[appTag]]`(s, key)`, so concurrent
    * applications and sfDirs never share a table, and the memo is keyed
    * by that full name: two prefixes over one key are two artifacts. A
    * crash leftover is reset before the write; `bucketCol` writes 8
    * buckets sorted on that column (zero-Exchange joins on it). */
  def persisted(s: SparkSession, prefix: String, key: String,
      bucketCol: String = null)(df: => DataFrame): DataFrame = {
    val t = s"${prefix}_" + appTag(s, key)
    once(t) {
      registerWarehouseCleanup(s)
      resetTable(s, t)
      val w = df.write.mode("overwrite")
      (if (bucketCol == null) w
       else w.bucketBy(8, bucketCol).sortBy(bucketCol)).saveAsTable(t)
    }
    s.table(t)
  }

  /** Register the once-per-application shutdown hook that removes every
    * warehouse entry carrying this application's id (lowercased, matching
    * the catalog's on-disk casing). */
  private def registerWarehouseCleanup(s: SparkSession): Unit = {
    val warehouse = localFile(s.conf.get("spark.sql.warehouse.dir"))
    val idTag = s.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
    onExit(s"warehouse_${s.sparkContext.applicationId}") {
      val entries = warehouse.listFiles()
      if (entries != null)
        entries.filter(_.getName.toLowerCase.contains(idTag))
          .foreach(recursiveDelete)
    }
  }
}
