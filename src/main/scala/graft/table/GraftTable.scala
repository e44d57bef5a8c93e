package graft.table

import java.nio.file.{Files, Path => JPath, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A minimal snapshot/manifest table format over plain parquet files —
  * the offline-feasible answer to "no ACID table format" (SURVEY.md §2-A;
  * no Delta/Iceberg jars can resolve here, build.sbt's unmanagedBase
  * constraint). Public-knowledge design (the Delta/Iceberg papers):
  *
  *  - Data files are IMMUTABLE parquet files; each commit writes its rows
  *    into a fresh `data/c-<uuid>/` subdirectory, never touching existing
  *    files.
  *  - A snapshot is a JSON manifest (`_graft/manifest-N.json`) listing
  *    every live data file with its row count and per-column min/max
  *    stats. Readers plan from the MANIFEST, not from directory listing —
  *    orphans from failed writes are invisible by construction (no
  *    cleanup races), and file-skipping needs zero parquet footer reads.
  *  - Commits are ATOMIC and optimistic: the manifest is staged to a temp
  *    file and published via `Files.createLink`, which atomically fails
  *    with `FileAlreadyExistsException` if snapshot N was taken by a
  *    concurrent writer (POSIX link(2) is create-if-absent; a plain
  *    rename would silently overwrite the winner). Appends rebase and
  *    retry; row-rewriting commits (merge) fail loudly instead of
  *    guessing — the caller re-derives against the new snapshot.
  *  - Every old manifest stays readable forever → snapshot isolation and
  *    time travel for free; `changesBetween` diffs two manifests' file
  *    lists for incremental consumption (exact row-level CDC for append
  *    commits; rewritten-file granularity for merges).
  *
  * 100 TB posture: a commit costs O(files changed), never O(table) — a
  * MERGE rewrites only the files whose key-range stats overlap the
  * update keys (two-level pruning: stats overlap — per key, with the
  * file blooms, when the key set fits the driver — then an exact scan
  * of only the candidates), and the merge-on-read variants
  * ([[deleteMor]]/[[mergeMor]]) drop even that to O(rows changed) via
  * per-file deletion-vector sidecars, deferring the rewrite to
  * [[compact]] — the update-heavy-pipeline shape. The manifest
  * itself is a driver-side O(live files) JSON document; at ~10⁶ files
  * the known evolution is Iceberg's manifest-list sharding — the commit
  * protocol and stats layout here are unchanged by that split. */
object GraftTable {

  /** One immutable data file: path relative to the table root, row count,
    * and min/max per tracked (numeric) column, all computed at write time
    * — in one distributed job, or on the driver for a small write
    * ([[writeFiles]]' two arms). Stats are doubles — exact for the
    * int/date-derived columns tracked here; a production format keeps
    * typed bounds. `bloom` optionally carries a base64-packed per-column
    * bloom filter (see [[bloomPositions]]) for point-lookup file skipping
    * where min/max ranges are too wide to help.
    *
    * `dv` optionally names a DELETION-VECTOR sidecar (relative path, see
    * [[deleteMor]]): a sorted list of row ordinals within THIS file whose
    * rows are logically deleted — the merge-on-read alternative to
    * rewriting the file (the public Delta deletion-vector / Iceberg
    * positional-delete design). Sidecars are immutable like data files; a
    * new DV commit writes a NEW sidecar and repoints the entry, so every
    * old manifest still pins its exact old row set. `dvRows` caches the
    * ordinal count for live-row accounting without opening the sidecar.
    * Range/bloom stats stay those of the PHYSICAL file — a DV can only
    * make them conservative (never a false prune). */
  /** `phys` optionally maps a LOGICAL column name to the PHYSICAL name
    * this file was written under — the metadata-only RENAME COLUMN
    * mechanism ([[alterRenameColumn]]): the rename commit re-keys the
    * schema and stats but cannot touch immutable data files, so each
    * pre-rename entry records where the column actually lives. Absent
    * (the overwhelmingly common case, and every pre-r13 manifest) means
    * physical ≡ logical. Chained renames compose by re-keying the map,
    * value unchanged — the value is always the write-time name.
    *
    * `deadPhys` lists PHYSICAL column names in this file that are no
    * longer addressable — the metadata-only DROP COLUMN mechanism
    * ([[alterDropColumn]]): immutable files keep the dropped bytes, so
    * the entry must remember they are dead, or a later re-ADD of the
    * same name would silently resurrect them (parquet reads columns by
    * name). Keyed on physical names, which are stable, so RENAME never
    * needs to touch it. Read-side rule in [[readPhysical]]: a schema
    * field whose resolved physical name is dead (or is claimed as some
    * OTHER logical column's write-time name) reads as NULL via a
    * guaranteed-absent sentinel name. */
  /** `parts` carries this file's DECLARED-PARTITION values (physical
    * partition column → the raw `k=v` directory value) for files of a
    * PARTITIONED table ([[Manifest.partitionCols]]): every file of a
    * partitioned table holds exactly one partition tuple by
    * construction (the write splits by value before any file lands) —
    * the Iceberg partition-tuple model, no directory listing needed.
    * Consumed by [[overwritePartitions]]' replacement set and by
    * `OPTIMIZE ... WHERE`'s exact driver-side rewrite bound
    * ([[graft.sql.GraftSqlMaint.partMatcher]]); scan-time pruning rides
    * Spark's own PartitionFilters instead ([[readPhysical]]'s basePath
    * discovery + [[graft.sql.GraftPartPrune]]'s predicate mapping).
    * Numeric partition columns additionally get ordinary min==max
    * range stats, so [[readWhere]] prunes them too. */
  case class FileEntry(path: String, rows: Long,
      mins: Map[String, Double], maxs: Map[String, Double],
      bloom: Option[Map[String, String]] = None,
      dv: Option[String] = None, dvRows: Option[Long] = None,
      phys: Option[Map[String, String]] = None,
      deadPhys: Option[List[String]] = None,
      parts: Option[Map[String, String]] = None) {
    def liveRows: Long = rows - dvRows.getOrElse(0L)
  }

  /** `committedAtMs` is stamped by [[tryCommit]] at publish time (None
    * only in pre-stamp manifests, read as epoch 0) — it feeds
    * [[snapshotAsOf]] timestamp time travel. Commit time is the
    * PUBLISH-side clock: monotone per table because a single filesystem
    * orders the createLink calls; cross-writer clock skew can reorder
    * timestamps relative to snapshot ids, so `snapshotAsOf` resolves by
    * scanning ids and taking the max eligible id, never binary-searching
    * timestamps. */
  /** `checks` carries the table's CHECK constraints (name → boolean SQL
    * condition text, enforced on every row-adding write — see
    * [[addCheck]]). Part of the MANIFEST, not the registry: constraints
    * are durable table metadata that must survive the JVM and travel
    * with snapshots (time travel and RESTORE present each snapshot's
    * own constraint set, like its schema). Every commit carries the
    * parent's checks forward verbatim except the alter_*_check verbs;
    * a commit path that forgot to would silently drop enforcement, so
    * GraftTableSpec walks every verb over a constrained table. */
  /** `partitionCols` declares the table's partition columns (CREATE
    * ... PARTITIONED BY / the DSL twin), fixed at create time for the
    * table's lifetime: every later commit carries it forward verbatim
    * (the checks discipline — GraftTableSpec walks every verb over a
    * partitioned table), rename/drop of a partition column is loudly
    * rejected, and time travel/RESTORE present each snapshot's own
    * declaration. Data files of a partitioned table live under
    * `data/<k=v>/c-<uuid>.parquet` (partition dirs directly under
    * `data/`, commit identity in the FILE name — the inversion that
    * lets one basePath cover every commit), so registered-name reads
    * get genuine FileScan `PartitionFilters` and dynamic partition
    * pruning from Spark itself, on top of the manifest-level pruning
    * [[FileEntry.parts]] provides. */
  /** `stream` records per-streaming-query batch watermarks (query id →
    * highest batch id committed) — the exactly-once ledger of the
    * streaming SINK ([[GraftTableSink]], the Delta txn-action model): a
    * replayed micro-batch (crash between the batch and the engine's
    * checkpoint commit) finds its id already recorded IN the same
    * atomic manifest commit that landed its rows, and
    * [[append]]'s `streamTxn` guard skips it. Carried forward by every
    * commit (the checks discipline); watermarks only ever grow —
    * RESTORE keeps the CURRENT map, never the target's older one,
    * or a rollback would re-admit already-applied batches. */
  /** `partitionSpec` carries the table's partition TRANSFORMS (hidden
    * partitioning, the public Iceberg model): each [[PartField]]
    * derives the physical directory value `name` from data column
    * `source` via `transform` ∈ {identity, years, months, days,
    * bucket(n)}. Present only when some transform is non-identity —
    * identity-only tables (and every pre-r15 manifest) keep just
    * `partitionCols`, so existing manifests read back unchanged and
    * `partitionCols` stays the list of PHYSICAL partition column
    * names in both worlds (partitionCols == partitionSpec.map(_.name)
    * whenever both are present). */
  case class Manifest(snapshot: Int, parent: Int, op: String,
      schemaJson: String, files: List[FileEntry],
      committedAtMs: Option[Long] = None,
      checks: Option[Map[String, String]] = None,
      partitionCols: Option[List[String]] = None,
      stream: Option[Map[String, Long]] = None,
      partitionSpec: Option[List[PartField]] = None,
      tableStats: Option[Map[String, String]] = None)

  private[graft] def partColsOf(m: Manifest): Seq[String] =
    m.partitionCols.getOrElse(Nil)

  /** One declared partition field: physical dir/column `name` derived
    * from data column `source` by `transform`; `n` is bucket's modulus.
    * Identity fields have name == source and the source IS a schema
    * column (the pre-transform model); non-identity fields derive a
    * HIDDEN column that exists only in directory names and the scan's
    * partition schema, never in the logical table schema — readers see
    * the raw source column and predicates on it prune partitions
    * ([[graft.sql.GraftPartPrune]]). */
  case class PartField(name: String, transform: String, source: String,
      n: Option[Int] = None)

  /** Transforms a PARTITIONED BY clause may declare. Time transforms
    * format zero-padded calendar prefixes, so the derived STRING values
    * order lexicographically exactly as the source orders
    * chronologically — string range pruning is order-exact. */
  private[graft] val PartTransforms =
    Set("identity", "years", "months", "days", "hours", "bucket")

  private[graft] def timePartFmt(transform: String): String =
    transform match {
      case "years" => "yyyy"
      case "months" => "yyyy-MM"
      case "days" => "yyyy-MM-dd"
      case "hours" => "yyyy-MM-dd-HH"
      case t => throw new IllegalArgumentException(
        s"not a time partition transform: $t")
    }

  /** Deterministic bucket assignment, reduced mod a prime BEFORE the
    * final small mod (the cross-engine bucketing invariant — the
    * direct `k * a % n` form collapses to an affine map of k mod n). */
  private[graft] val BucketP = 1000003L
  private[graft] val BucketA = 387420489L
  private[graft] def bucketValue(k: Long, n: Int): Long =
    (((k % BucketP) + BucketP) % BucketP) * BucketA % BucketP % n

  /** The write-side derivation of a partition field's value as a
    * STRING column (directory values are strings; pinning the scan's
    * partition schema to string keeps discovery from re-inferring a
    * different type per partition population).
    *
    * Time transforms slice the CAST-to-STRING wall clock, never
    * `date_format`: date_format over TIMESTAMP_NTZ implicitly casts
    * through the session-zone TIMESTAMP, so a DST-gap wall clock
    * (02:30 on a spring-forward day) shears to the post-gap hour in
    * non-UTC sessions, while [[graft.sql.GraftPartPrune.derivedOf]]
    * formats the pure wall clock with java.time — the mapped pruning
    * conjunct would then skip the directory that holds the rows. CAST
    * of DATE / TIMESTAMP_NTZ to STRING is zone-independent and
    * zero-padded ISO, so prefix slices agree byte-for-byte with the
    * java.time mirror. */
  private[graft] def derivedPartCol(f: PartField): Column = f.transform match {
    case "identity" => col(f.source)
    case "bucket" =>
      (pmod(col(f.source).cast("long"), lit(BucketP)) * lit(BucketA)
        % lit(BucketP) % lit(f.n.get.toLong)).cast("string")
    case t =>
      val s = col(f.source).cast("string")
      t match {
        case "years" => substring(s, 1, 4)
        case "months" => substring(s, 1, 7)
        case "days" => substring(s, 1, 10)
        case "hours" => concat(substring(s, 1, 10), lit("-"),
          // DATE sources cast to a 10-char string — their hour is 00
          when(length(s) >= 13, substring(s, 12, 2)).otherwise(lit("00")))
        case other => throw new IllegalArgumentException(
          s"not a time partition transform: $other")
      }
  }

  /** The full spec, synthesizing identity fields for pre-transform
    * manifests (and identity-only tables, which never store a spec). */
  private[graft] def partSpecOf(m: Manifest): Seq[PartField] =
    m.partitionSpec.map(_.toSeq)
      .getOrElse(partColsOf(m).map(c => PartField(c, "identity", c)))

  /** The child-commit constructor every commit path routes through:
    * copying the parent carries EVERY durable manifest field (schema,
    * checks, partitionCols, stream watermarks, table statistics) by
    * construction — a path that built `Manifest(...)` positionally and
    * forgot one field silently dropped durable metadata. Commits that
    * change a carried field override via `.copy` on the result.
    * `tableStats` deliberately rides along UNCHANGED through data
    * commits: like every ANALYZE-style catalog, statistics are exact
    * for the analyzed snapshot and an ESTIMATE after later writes
    * until the next ANALYZE — estimates are what optimizers consume. */
  private def child(parent: Manifest, op: String,
      files: List[FileEntry]): Manifest =
    parent.copy(snapshot = parent.snapshot + 1, parent = parent.snapshot,
      op = op, files = files, committedAtMs = None)

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  /** Bloom sizing: a PRIME bit count so double-hashed probe positions
    * disperse (CLAUDE.md's prime-mod convention), 3 probes. At 65521
    * bits a ~10k-row file sits ~35% full → ~4% false-positive per absent
    * key; 8 KiB packed per file per column. */
  private[graft] val BloomBits = 65521
  private[graft] val BloomK = 3

  /** The k probe positions for a long key — ONE implementation shared by
    * the build (inside the commit-time UDF) and the driver-side probe,
    * so build/probe identity holds by construction instead of by keeping
    * two formulas in sync. Seeded with Spark's own xxhash64-for-longs
    * (XXH64.hashLong, seed 42); double hashing with the step drawn from
    * the high bits, reduced mod the prime BEFORE the final mod. */
  private[graft] def bloomPositions(key: Long): Array[Int] = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(key, 42L)
    val p = BloomBits
    val h1 = (((h % p) + p) % p).toInt
    val step = (((h >>> 13) % (p - 1)) + 1).toInt
    Array.tabulate(BloomK)(i => ((h1.toLong + i.toLong * step) % p).toInt)
  }

  /** Probe positions for a STRING key: same double-hash scheme, seeded
    * with XXH64 over the UTF-8 bytes (Spark's own string hash kernel) so
    * gid-keyed entity tables get point-lookup skipping too. Long and
    * string keys never share a bloom column, so the two hash domains
    * can't collide in one filter. */
  private[graft] def bloomPositionsStr(key: String): Array[Int] = {
    val bytes = key.getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)
    val p = BloomBits
    val h1 = (((h % p) + p) % p).toInt
    val step = (((h >>> 13) % (p - 1)) + 1).toInt
    Array.tabulate(BloomK)(i => ((h1.toLong + i.toLong * step) % p).toInt)
  }

  private[graft] def bloomMayContainStr(b64: String, key: String): Boolean =
    bloomHas(java.util.Base64.getDecoder.decode(b64), bloomPositionsStr(key))

  /** True when every probe position is set in the packed `bits`. */
  private def bloomHas(bits: Array[Byte], positions: Array[Int]): Boolean =
    positions.forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)

  /** Commit-time bloom build for one (file, column) group: the OR of the
    * probe-position bits of every non-NULL key into one packed bitset,
    * so the buffer is bounded at 8 KiB whatever the file's row count.
    * Bit for bit the packing of the distinct positions; an EMPTY result
    * means the file holds no non-NULL key and records no bloom. The
    * build calls the same `bloomPositions*` as the driver-side probe, so
    * build/probe identity holds by construction. */
  private final class BloomAgg[K](positions: K => Array[Int])
      extends org.apache.spark.sql.expressions.Aggregator[K, Array[Byte],
        Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], k: K): Array[Byte] =
      if (k == null) b
      else {
        val bits = if (b.isEmpty) new Array[Byte]((BloomBits + 7) / 8) else b
        positions(k).foreach(p =>
          bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte)
        bits
      }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b
      else {
        var i = 0
        while (i < b.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
        a
      }
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  private def bloomBits(c: Column, t: DataType): Column = t match {
    case org.apache.spark.sql.types.StringType =>
      udaf(new BloomAgg[String](bloomPositionsStr),
        org.apache.spark.sql.Encoders.STRING)(c)
    case _ =>
      udaf(new BloomAgg[java.lang.Long](k => bloomPositions(k.longValue())),
        org.apache.spark.sql.Encoders.LONG)(c.cast("long"))
  }

  private[graft] def bloomMayContain(b64: String, key: Long): Boolean =
    bloomHas(java.util.Base64.getDecoder.decode(b64), bloomPositions(key))

  /** Write a deletion-vector sidecar (sorted ordinals as big-endian
    * longs) under `data/dv/` and return its table-relative path. Binary,
    * not JSON: a DV is O(deleted rows) and lives next to the data, not in
    * the driver-side manifest — the manifest carries only the path +
    * count. CREATE_NEW: sidecars are immutable, like data files. */
  private def writeDv(root: String, positions: Array[Long]): String = {
    val rel = s"data/dv/dv-${java.util.UUID.randomUUID().toString}.bin"
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    val bb = java.nio.ByteBuffer.allocate(8 * positions.length)
    positions.sorted.foreach(bb.putLong)
    Files.write(p, bb.array(), StandardOpenOption.CREATE_NEW)
    rel
  }

  private[table] def readDvPositions(root: String, rel: String): Array[Long] = {
    val bytes = Files.readAllBytes(
      if (rel.startsWith("/")) Paths.get(rel) else Paths.get(root, rel))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  private def metaDir(root: String): JPath = Paths.get(root, "_graft")
  private[table] def manifestPath(root: String, v: Int): JPath =
    metaDir(root).resolve(s"manifest-$v.json")

  /** Latest snapshot id, from the manifest files actually present (no
    * separate pointer file — a pointer can lag or tear; the listing is
    * the truth and each manifest file is immutable once linked). 0 means
    * the table does not exist yet. */
  def latestSnapshot(root: String): Int = {
    val dir = metaDir(root).toFile
    val names = Option(dir.list()).getOrElse(Array.empty[String])
    val re = "manifest-([0-9]+)\\.json".r
    names.collect { case re(v) => v.toInt }.foldLeft(0)(math.max)
  }

  def manifest(root: String, v: Int): Manifest =
    org.json4s.jackson.Serialization.read[Manifest](
      new String(Files.readAllBytes(manifestPath(root, v)), "UTF-8"))

  // ---- the commit kernel ----
  //
  // Every manifest, tag, branch-marker and catalog-entry publish stages
  // its full content in the target's directory and then either links it
  // into place (create-if-absent) or renames it over the target (last
  // wins), so a reader never sees a partial file. Every table verb
  // commits through one of two calls: the rebase loop
  // ([[commitRebasing]]) when its file list does not depend on the
  // parent, or one attempt ([[commitOnce]]) when it does.

  /** Stage `bytes` as a `.tmp-<uuid>` file in `target`'s directory;
    * [[removeOrphans]] sweeps one a crash left behind. */
  private def stage(target: JPath, bytes: Array[Byte]): JPath = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
    tmp
  }

  /** Create-if-absent publish: hard-link the staged `bytes` to `target`
    * (POSIX link(2) fails when the name exists; a rename would silently
    * overwrite the winner). True if this writer won. */
  private[graft] def publishIfAbsent(target: JPath,
      bytes: Array[Byte]): Boolean = {
    val tmp = stage(target, bytes)
    try { Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.delete(tmp)
  }

  /** Last-wins publish: atomically rename the staged `bytes` over
    * `target`; readers see the old or the new content, never a mix. */
  private[graft] def publishReplacing(target: JPath,
      bytes: Array[Byte]): Unit =
    Files.move(stage(target, bytes), target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  private def jsonBytes(m: Manifest): Array[Byte] =
    org.json4s.jackson.Serialization.write(m).getBytes("UTF-8")

  /** `m` stamped with the publish-time clock, strictly past `parent`'s
    * stamp: two commits inside one wall-clock millisecond would
    * otherwise tie, and timestamp AS OF (snapshotAsOf keeps the MAX
    * eligible id) would resolve a probe of the earlier commit's stamp to
    * the later one. */
  private def stamped(m: Manifest, parent: Option[Manifest]): Manifest =
    m.copy(committedAtMs = Some(math.max(System.currentTimeMillis(),
      parent.flatMap(_.committedAtMs).getOrElse(0L) + 1)))

  /** Publish snapshot `m`, a child of `parent` (None for a table's first
    * snapshot), at `target`. False if a concurrent commit already took
    * the name. */
  private def tryCommit(target: JPath, parent: Option[Manifest],
      m: Manifest): Boolean =
    publishIfAbsent(target, jsonBytes(stamped(m, parent)))

  /** How many times the rebase loop re-derives a commit before giving
    * up on a table under concurrent writers. */
  private[table] val CommitAttempts = 20

  /** The rebase loop. `attempt` reads its ref's head, derives a child
    * of it and publishes it; it returns the id it committed (or declined
    * at), or None when a concurrent writer took the id first, and then
    * runs again on the new head — [[CommitAttempts]] times at most, once
    * when the caller `pinned` its base (its guards hold for that base
    * only). */
  private def rebasing(verb: String, where: String, pinned: Boolean)(
      attempt: => Option[Int]): Int = {
    var attempts = 0
    while (attempts < (if (pinned) 1 else CommitAttempts)) {
      val id = attempt
      if (id.isDefined) return id.get
      attempts += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$verb lost $CommitAttempts commit races $where")
  }

  /** The manifest a commit derives from: snapshot `base` when pinned,
    * else the latest. `absent` is the verb's error for a table with no
    * snapshot. */
  private def parentOf(root: String, absent: => String,
      base: Option[Int] = None): Manifest = {
    val v = base.getOrElse(latestSnapshot(root))
    require(v > 0, absent)
    manifest(root, v)
  }

  /** Commit a child of main's latest snapshot through [[rebasing]], for
    * a verb whose file list does not depend on the parent. `derive`
    * runs on every head the loop reads, so the verb's guards re-validate
    * against a concurrent writer's commit; it returns None to decline
    * (the head's id is returned, nothing is published). A pinned `base`
    * that is no longer the latest fails loudly: the caller re-derives. */
  private def commitRebasing(root: String, verb: String, absent: => String,
      base: Option[Int] = None)(derive: Manifest => Option[Manifest]): Int =
    rebasing(verb, s"at $root", base.isDefined) {
      val parent = parentOf(root, absent)
      base.filter(_ != parent.snapshot).foreach { b =>
        throw new java.util.ConcurrentModificationException(
          s"$verb derived against snapshot $b but latest is " +
            s"${parent.snapshot} at $root")
      }
      derive(parent) match {
        case None => Some(parent.snapshot)
        case Some(m) => Option.when(
          tryCommit(manifestPath(root, m.snapshot), Some(parent), m))(
          m.snapshot)
      }
    }

  /** Publish `m`, derived from `parent` (from [[parentOf]]), as the next
    * snapshot in one attempt, for a verb whose file list depends on the
    * parent (a rewrite, deletion vectors, a partition replacement): a
    * concurrent commit makes it stale, so it fails loudly and the caller
    * re-derives. Returns the new snapshot id. */
  private def commitOnce(root: String, verb: String, parent: Manifest,
      m: Manifest): Int = {
    if (!tryCommit(manifestPath(root, m.snapshot), Some(parent), m))
      throw new java.util.ConcurrentModificationException(
        s"$verb derived from stale snapshot ${parent.snapshot} at $root")
    m.snapshot
  }

  private def tagPath(root: String, name: String): JPath = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    metaDir(root).resolve(s"tag-$name.json")
  }

  /** Pin `name` to snapshot `snapshot` (Iceberg-style named ref). A tag
    * is a RETENTION ROOT: [[expireSnapshots]] keeps every tagged
    * manifest and its files regardless of `keepFrom`, so `prod-2024` can
    * outlive routine expiry — delete the tag first to release it. Tags
    * are immutable once placed (createLink create-if-absent, same atomic
    * publish as manifests): re-pointing a name is remove + re-tag, two
    * auditable steps, never a silent overwrite. */
  def tag(root: String, name: String, snapshot: Int): Unit = {
    require(snapshot >= 1 && snapshot <= latestSnapshot(root),
      s"tag target $snapshot outside [1, ${latestSnapshot(root)}] at $root")
    require(Files.exists(manifestPath(root, snapshot)),
      s"tag target $snapshot is expired at $root")
    if (!publishIfAbsent(tagPath(root, name),
        s"""{"snapshot":$snapshot}""".getBytes("UTF-8")))
      throw new IllegalStateException(
        s"tag '$name' already exists at $root (remove + re-tag to move)")
  }

  def removeTag(root: String, name: String): Boolean =
    Files.deleteIfExists(tagPath(root, name))

  /** All tags as name → snapshot id. */
  def tags(root: String): Map[String, Int] = {
    val re = "tag-(.+)\\.json".r
    val names = Option(metaDir(root).toFile.list())
      .getOrElse(Array.empty[String])
    names.collect { case re(n) => n }.map { n =>
      val txt = new String(Files.readAllBytes(tagPath(root, n)), "UTF-8")
      n -> "\"snapshot\":([0-9]+)".r.findFirstMatchIn(txt).get.group(1).toInt
    }.toMap
  }

  /** Read the snapshot a tag points at. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val t = tags(root).getOrElse(name,
      throw new NoSuchElementException(s"no tag '$name' at $root"))
    read(spark, root, Some(t))
  }

  // ---- branches: write-audit-publish (r12 verdict missing #5) ----
  //
  // A branch is a WRITABLE named ref (Iceberg-style): commits land on
  // the branch without advancing main, an audit reads the branch, and
  // PUBLISH fast-forwards main onto the branch chain. Mechanics: branch
  // commits take ids in MAIN's numeric sequence continuing from the
  // fork point (forkedAt+1, +2, ...) but live under `manifest-br-<b>-
  // <id>.json`, invisible to latestSnapshot's `manifest-<n>.json`
  // listing — so main readers never see unpublished work, and PUBLISH
  // is a pure hard-link of each branch manifest onto its main name in
  // ascending order: if main advanced past the fork point, the very
  // FIRST link collides (ids are contiguous from forkedAt+1) and the
  // publish fails loudly with main untouched — fast-forward only,
  // divergence can never be silently merged. Parent pointers need no
  // rewrite (branch id forkedAt+1 points at main's forkedAt), so the
  // published history is a plain linear chain. Branch manifests and the
  // fork-point manifest are RETENTION ROOTS like tags until the branch
  // is dropped.

  private def branchMarkerPath(root: String, name: String): JPath = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"branch name must be [A-Za-z0-9_]+, got '$name'")
    metaDir(root).resolve(s"branch-$name.json")
  }

  private def branchManifestPath(root: String, name: String,
      id: Int): JPath = metaDir(root).resolve(s"manifest-br-$name-$id.json")

  /** All branches as name → fork-point snapshot id. */
  def branches(root: String): Map[String, Int] = {
    val re = "branch-([A-Za-z0-9_]+)\\.json".r
    Option(metaDir(root).toFile.list()).getOrElse(Array.empty[String])
      .collect { case re(n) => n }.map { n =>
        val txt = new String(
          Files.readAllBytes(branchMarkerPath(root, n)), "UTF-8")
        n -> "\"forkedAt\":([0-9]+)".r
          .findFirstMatchIn(txt).get.group(1).toInt
      }.toMap
  }

  /** Create branch `name` at `at` (default: latest). Atomic like
    * [[tag]]; duplicate names loud. */
  def createBranch(root: String, name: String,
      at: Option[Int] = None): Unit = {
    val latest = latestSnapshot(root)
    require(latest > 0, s"branch of non-existent table at $root")
    val snap = at.getOrElse(latest)
    require(snap >= 1 && snap <= latest,
      s"branch fork point $snap outside [1, $latest] at $root")
    require(Files.exists(manifestPath(root, snap)),
      s"branch fork point $snap is expired at $root")
    if (!publishIfAbsent(branchMarkerPath(root, name), forkMarker(snap)))
      throw new IllegalStateException(
        s"branch '$name' already exists at $root")
  }

  private def forkMarker(snap: Int): Array[Byte] =
    s"""{"forkedAt":$snap}""".getBytes("UTF-8")

  /** Drop the branch: marker + every unpublished branch manifest. The
    * branch's data files become orphans (swept by a later vacuum) unless
    * the branch was published first. */
  def dropBranch(root: String, name: String): Boolean = {
    val existed = Files.deleteIfExists(branchMarkerPath(root, name))
    if (existed)
      branchCommitIds(root, name).foreach(id =>
        Files.deleteIfExists(branchManifestPath(root, name, id)))
    existed
  }

  /** Ids of commits made ON the branch (ascending; empty = no writes
    * since the fork). */
  private[table] def branchCommitIds(root: String, name: String): Seq[Int] = {
    val re = s"manifest-br-$name-([0-9]+)\\.json".r
    Option(metaDir(root).toFile.list()).getOrElse(Array.empty[String])
      .collect { case re(v) => v.toInt }.sorted.toSeq
  }

  private def forkedAtOf(root: String, name: String): Int =
    branches(root).getOrElse(name,
      throw new NoSuchElementException(s"no branch '$name' at $root"))

  private def branchManifest(root: String, name: String, id: Int): Manifest =
    org.json4s.jackson.Serialization.read[Manifest](new String(
      Files.readAllBytes(branchManifestPath(root, name, id)), "UTF-8"))

  /** Data/dv files referenced by UNPUBLISHED branch commits — live for
    * every vacuum path until the branch is dropped or published. */
  private def branchLiveFiles(root: String): Set[String] =
    branches(root).keys.flatMap(b => branchCommitIds(root, b).flatMap(
      id => branchManifest(root, b, id).files
        .flatMap(f => f.path :: f.dv.toList))).toSet

  /** The branch HEAD manifest: the newest branch commit, or the
    * fork-point manifest when the branch has no writes yet. */
  private[table] def branchHeadManifest(root: String,
      name: String): Manifest = {
    val forked = forkedAtOf(root, name)
    branchCommitIds(root, name).lastOption match {
      case Some(id) => branchManifest(root, name, id)
      case None => manifest(root, forked)
    }
  }

  /** The branch head's snapshot id (= the fork point until the first
    * branch write) — what a branch-addressed guard pins. */
  def branchHead(root: String, name: String): Int =
    branchHeadManifest(root, name).snapshot

  /** Read the branch head — the audit's input. */
  def readBranch(spark: SparkSession, root: String,
      name: String): DataFrame = {
    val m = branchHeadManifest(root, name)
    readEntries(spark, root, m, m.files)
  }

  /** Append-only commit ON the branch: parent = branch head, id = the
    * next id in main's sequence (see the section comment), main
    * untouched. Schema must match the branch head exactly (no evolution
    * on branches — publish-time surprise schemas are the WAP
    * anti-pattern). Optimistic like [[append]]. */
  def appendToBranch(spark: SparkSession, root: String, name: String,
      df: DataFrame, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 8, bloomCols: Seq[String] = Nil,
      baseHead: Option[Int] = None): Int = {
    forkedAtOf(root, name) // loud before any write work
    // a branch write is exactly the audit point constraints exist for:
    // enforce against the branch HEAD's constraint set before any file
    // lands (re-validated in the loop if the set moved concurrently)
    val head0 = branchHeadManifest(root, name)
    var validated = checksOf(head0)
    enforceChecks(df, withNotNull(schemaOf(head0), df, validated),
      s"in the batch appended to branch '$name' at $root")
    // partitioning is fixed at create, so any head's declaration works
    val entries = writeFiles(spark, root, df, localRows(df),
      statsCols, clusterCols, numFiles, bloomCols,
      partSpec = partSpecOf(head0))
    // a pinned base forgoes the rebase loop, same contract as append():
    // the caller's guards were evaluated against that exact head
    rebasing("appendToBranch", s"on '$name' at $root",
        baseHead.isDefined) {
      val head = branchHeadManifest(root, name)
      baseHead.filter(_ != head.snapshot).foreach { b =>
        throw new java.util.ConcurrentModificationException(
          s"branch append derived against head $b but branch '$name' " +
            s"head is ${head.snapshot} at $root")
      }
      require(shape(df.schema) == shape(schemaOf(head)),
        s"branch append schema mismatch vs branch '$name' head at $root")
      if (checksOf(head) != validated) {
        enforceChecks(df, withNotNull(schemaOf(head), df, checksOf(head)),
          s"in the batch appended to branch '$name' at $root")
        validated = checksOf(head)
      }
      val m = child(head, "branch_append", head.files ++ entries)
      Option.when(tryCommit(branchManifestPath(root, name, m.snapshot),
        Some(head), m))(m.snapshot)
    }
  }

  /** REBASE the branch onto an ADVANCED main (r15 verdict stretch #7 —
    * keeps the WAP story usable when main moves under an open branch;
    * without it divergence was loudly fast-forward-only): re-derives
    * every unpublished branch commit on top of main's latest, PURE
    * METADATA (branch commits are append-only, so each commit's delta
    * is a set of immutable file entries that re-apply verbatim — no
    * data moves, no rewrite). Guards, all BEFORE anything is touched
    * (main is never written at all; the branch is untouched on any
    * failure):
    *  - KEY-DISJOINT: the branch's added keys must not intersect the
    *    keys main's commits since the fork touched (row-level CDC
    *    provides exactly that set) — overlapping work is a semantic
    *    merge, which is never done silently; sample keys named loudly.
    *  - main's schema shape and partition spec must equal the fork's
    *    (branch files were written under them).
    *  - branch rows re-validate against MAIN's head CHECK constraints
    *    (they were audited against the fork's).
    * Mechanics: the new chain stages invisibly (`.rebase-` names), old
    * branch manifests drop, the staged chain hard-links into place,
    * the marker re-points to the new fork — publish can never
    * interleave old and new ids (old names clear before new ones
    * land), every pre-swap failure leaves the old chain fully intact,
    * and a failure INSIDE the swap window keeps the staged `.rebase-`
    * files on disk as the recovery copy instead of losing the branch.
    * Returns the rebased branch head id. A branch with no commits just
    * re-points its marker. */
  def rebaseBranch(spark: SparkSession, root: String, name: String,
      keyCol: String): Int = {
    val forked = forkedAtOf(root, name)
    val latest = latestSnapshot(root)
    if (latest == forked) return branchHead(root, name) // already based
    val oldIds = branchCommitIds(root, name)
    def swapMarker(): Unit =
      publishReplacing(branchMarkerPath(root, name), forkMarker(latest))
    if (oldIds.isEmpty) { swapMarker(); return latest }
    val mainHead = manifest(root, latest)
    val forkM = manifest(root, forked)
    require(shape(schemaOf(mainHead)) == shape(schemaOf(forkM)),
      s"cannot REBASE branch '$name' at $root: main's schema evolved " +
        "since the fork — re-create the branch from latest")
    require(partSpecOf(mainHead) == partSpecOf(forkM),
      s"cannot REBASE branch '$name' at $root: main's partition spec " +
        "changed since the fork")
    // per-commit deltas (append-only chain: delta = files minus parent's)
    var prevPaths = forkM.files.map(_.path).toSet
    val deltas = oldIds.map { id =>
      val m = branchManifest(root, name, id)
      val d = m.files.filterNot(f => prevPaths(f.path))
      prevPaths = m.files.map(_.path).toSet
      (m.op, d)
    }
    val added = deltas.flatMap(_._2).toList
    if (added.nonEmpty) {
      val head = branchHeadManifest(root, name)
      val branchRows = readEntries(spark, root, head, added)
      val touched = changesBetweenRows(spark, root, forked, latest, keyCol)
        .select(col(keyCol)).distinct()
      val clash = branchRows.select(col(keyCol))
        .join(touched, Seq(keyCol), "left_semi").distinct()
        .limit(5).collect().map(_.get(0)).toSeq
      require(clash.isEmpty,
        s"cannot REBASE branch '$name' at $root: main touched keys the " +
          s"branch also wrote since fork $forked (sample: " +
          s"${clash.mkString(", ")}) — a semantic merge is never done " +
          "silently; re-derive the branch's batch against latest")
      enforceChecks(branchRows, checksOf(mainHead),
        s"in branch '$name' rows re-validated against main's " +
          s"constraints during REBASE at $root")
    }
    // stage the rebased chain invisibly, then swap atomically-enough:
    // every pre-swap crash leaves the OLD chain fully intact
    def stagePath(id: Int): JPath =
      metaDir(root).resolve(s".rebase-$name-$id.json")
    var head = mainHead
    val staged = deltas.map { case (op, d) =>
      head = stamped(child(head, op, head.files ++ d), Some(head))
      Files.write(stagePath(head.snapshot), jsonBytes(head),
        StandardOpenOption.CREATE_NEW)
      head.snapshot
    }
    // drop the old chain, link the staged one, re-point the marker:
    // ids may numerically overlap (fork+k vs latest+k), so the old
    // names must clear before the new ones land. Staging is deleted
    // ONLY on success — a failure (or crash) inside the swap window
    // leaves the `.rebase-` files on disk as the recovery copy of the
    // new chain rather than silently losing the branch's commits.
    oldIds.foreach(id =>
      Files.deleteIfExists(branchManifestPath(root, name, id)))
    staged.foreach(id =>
      Files.createLink(branchManifestPath(root, name, id),
        stagePath(id)))
    swapMarker()
    staged.foreach(id => Files.deleteIfExists(stagePath(id)))
    head.snapshot
  }

  /** Fast-forward main onto the branch: hard-link each branch manifest
    * to its main name in ascending id order. Loud when main advanced
    * past the fork point (the first link collides — ids are contiguous)
    * — divergence is never merged silently; re-create the branch from
    * the new latest instead. Returns the new main latest. The branch
    * stays in place (commits now shared with main) until dropped. */
  def publishBranch(root: String, name: String): Int = {
    val forked = forkedAtOf(root, name)
    val ids = branchCommitIds(root, name)
    require(ids.nonEmpty,
      s"branch '$name' has no commits to publish at $root")
    ids.foreach { id =>
      try Files.createLink(manifestPath(root, id),
        branchManifestPath(root, name, id))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.util.ConcurrentModificationException(
            s"cannot fast-forward: main advanced to snapshot $id while " +
              s"branch '$name' (forked at $forked) held unpublished " +
              "commits — the branch diverged; re-create it from latest")
      }
    }
    ids.last
  }

  /** Bits interleaved per dimension: 16 for 2–3 columns, 15 for 4 — a
    * 16×4 code would put column 0's bit 15 at position 63, the SIGN
    * bit, and repartitionByRange orders longs signed: the two halves of
    * z-space would swap and the straddling file would get near-global
    * stats. 60 bits keeps the code non-negative; the lost LSB only
    * halves 4-dim bucket resolution (already the coarsest layout). */
  private[graft] def zBits(n: Int): Int = if (n == 4) 15 else 16

  /** Round-robin interleave of the low [[zBits]](N) bits of N normalized
    * longs into a Z-value (Morton code) as a pure Column expression —
    * stays inside whole-stage codegen, no UDF. Column k's bit i lands at
    * position i·N + (N−1−k), so no column dominates the ordering and
    * range-partitioning by the result bounds EVERY column's spread
    * within each output file. N ≤ 4 keeps the code in one long and
    * reflects the practical z-order limit — each added dimension halves
    * per-dimension selectivity. Inputs must already be normalized to
    * [0, 2^zBits(N) − 1] ([[norm]]). */
  private[graft] def zValue(cols: Seq[Column]): Column = {
    val n = cols.size
    require(n >= 2 && n <= 4, s"zValue needs 2..4 columns, got $n")
    (for {
      i <- 0 until zBits(n)
      (c, k) <- cols.zipWithIndex
    } yield shiftright(c, i).bitwiseAND(lit(1L)) *
        lit(1L << (i * n + (n - 1 - k))))
      .reduce(_ + _)
  }

  /** Scale a numeric column to [0, maxVal] given its global [lo, hi] —
    * the value-linear normalization Iceberg's z-order transform uses
    * (rank-based normalization would need a global sort per column;
    * linear scaling needs one min/max agg and is monotone, which is all
    * z-ordering requires — skewed columns just get coarser buckets). */
  private def norm(c: Column, lo: Double, hi: Double, maxVal: Long): Column = {
    val span = math.max(hi - lo, 1e-12)
    least(lit(maxVal), greatest(lit(0L),
      floor((c.cast("double") - lit(lo)) / lit(span) * lit(maxVal.toDouble))
        .cast("long")))
  }

  /** The z-order range expression for a commit (one min/max agg over
    * the COMMIT, not the table), or None when the commit is empty or
    * degenerate — ONE implementation for the flat and partitioned write
    * kernels. Bounds are commit-global even under partitioning: the
    * normalization only needs monotonicity, and per-partition bounds
    * would cost a bounds agg per partition for marginally tighter
    * buckets. */
  private def zOrderExpr(df: DataFrame, zs: Seq[String]): Option[Column] = {
    require(zs.size >= 2 && zs.size <= 4,
      s"zorderCols must name 2 to 4 columns, got $zs")
    val aggs = zs.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (bounds.isNullAt(0)) None
    else Some(zValue(zs.zipWithIndex.map { case (c, k) =>
      norm(col(c), bounds.getDouble(2 * k),
        bounds.getDouble(2 * k + 1), (1L << zBits(zs.size)) - 1) }))
  }

  /** Flat writes without `zorderCols` whose row bound is at most this
    * many rows take [[writeFiles]]' driver arm. */
  private[table] val WriteRowBudget = 10000L

  /** The budget [[writeFiles]] dispatches on: [[WriteRowBudget]] unless
    * a test runs a write under `withValue(0L)` to force the distributed
    * arm. Separate from [[commitKeyBudget]], so forcing a commit's key
    * arm leaves its write arm alone. */
  private[graft] val writeRowBudget =
    new scala.util.DynamicVariable[Long](WriteRowBudget)

  /** Row bound of a frame that optimizes to a local relation (a batch
    * built on the driver): its row count, known with no job; any other
    * frame is unbounded. */
  private def localRows(df: DataFrame): Long =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size.toLong
      case _ => Long.MaxValue
    }

  /** Sum of row bounds, saturating at Long.MaxValue (unbounded). */
  private def addBounds(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b

  /** Row bound of a rewrite of `files`: their live rows, as the manifest
    * records them. */
  private def liveRowsOf(files: Seq[FileEntry]): Long =
    files.foldLeft(0L)((acc, f) => addBounds(acc, f.liveRows))

  /** Write `df`'s rows as immutable parquet files under a fresh commit
    * subdirectory and return their manifest entries, on one of two arms
    * chosen by `rowBound`, an upper bound on `df`'s rows the caller
    * knows without a job (a rewrite's manifest live rows, a local
    * batch's size, a count it already took; Long.MaxValue if unknown):
    *  - driver arm ([[writeFilesOnDriver]]): a flat write without
    *    `zorderCols` and a bound within [[writeRowBudget]] collects the
    *    rows in at most one job, sorts and cuts them on the driver and
    *    writes each file and its entry there — no job after the collect;
    *  - distributed arm: `clusterCols` range-partitions the write, and
    *    one extra job ([[fileEntries]]) computes per-file row counts,
    *    min/max stats and every bloom column via `input_file_name` —
    *    the job count does not grow with `bloomCols`, and the driver
    *    payload is O(files).
    * Clustering keeps the stats TIGHT on both arms (a file covers a
    * narrow key band → pruning actually skips); an unclustered write
    * would give every file near-global bounds. Both arms compute the same
    * entry for the same file rows. */
  private def writeFiles(spark: SparkSession, root: String, df: DataFrame,
      rowBound: Long, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int, bloomCols: Seq[String],
      zorderCols: Seq[String] = Nil,
      partSpec: Seq[PartField]): List[FileEntry] = {
    requireNumericStats(df.schema, statsCols)
    if (partSpec.nonEmpty)
      return writeFilesPartitioned(spark, root, df, statsCols,
        clusterCols, numFiles, bloomCols, zorderCols, partSpec)
    if (zorderCols.isEmpty && rowBound <= writeRowBudget.value)
      return writeFilesOnDriver(spark, root, df, statsCols, clusterCols,
        numFiles, bloomCols)
    val sub = s"data/c-${java.util.UUID.randomUUID().toString}"
    val dir = s"$root/$sub"
    // Z-order clustering: one extra min/max agg over the commit (not the
    // table), then range-partition by the interleaved-bits expression so
    // every file covers a compact rectangle in (c1, c2) space — file
    // min/max stats become tight in BOTH dimensions and either column's
    // predicate prunes. Falls back to plain range clustering when the
    // commit is empty or degenerate.
    val clustered = zorderCols match {
      case zs if zs.nonEmpty =>
        zOrderExpr(df, zs) match {
          case None => df.repartition(numFiles)
          case Some(zv) => df.repartitionByRange(numFiles, zv)
        }
      case Nil =>
        if (clusterCols.nonEmpty)
          df.repartitionByRange(numFiles, clusterCols.map(col): _*)
        else df.repartition(numFiles)
    }
    clustered.write.mode("overwrite").parquet(dir)
    // explicit schema: skips footer inference and keeps an all-rows-
    // deleted rewrite (zero part files) a valid empty commit
    fileEntries(root, spark.read.schema(df.schema).parquet(dir), statsCols,
      bloomCols, partitioned = false)
  }

  /** String stats would silently read back as 0.0 bounds through the
    * double-typed min/max maps and mis-prune — strings get bloom
    * skipping (readWhereKeyInStr), never range stats. */
  private def requireNumericStats(schema: StructType,
      statsCols: Seq[String]): Unit =
    statsCols.find(c =>
        schema(c).dataType == org.apache.spark.sql.types.StringType)
      .foreach(c => throw new IllegalArgumentException(
        s"statsCols must be numeric; '$c' is a string (use bloomCols)"))

  /** The manifest entries of the files one distributed-arm write just
    * landed, read back through `scan`: per file the row count, min/max
    * of every stats column and the bloom of every bloom column, from ONE
    * `groupBy(input_file_name)` job — no driver-side data movement, the
    * driver payload is O(files) plus one 8 KiB bitset per file and bloom
    * column ([[BloomAgg]]). Shared by the flat and partitioned kernels;
    * `partitioned` records each file's `k=v` tuple from its path. The
    * driver arm computes the same entry in memory ([[entryOnDriver]]):
    * a new per-file statistic goes into both. */
  private def fileEntries(root: String, scan: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String],
      partitioned: Boolean): List[FileEntry] = {
    val rootUri = new org.apache.hadoop.fs.Path(root).toUri.getPath
    def rel(fileUri: String): String = {
      val local = new org.apache.hadoop.fs.Path(fileUri).toUri.getPath
      require(local.startsWith(rootUri), s"file outside table root: $local")
      local.stripPrefix(rootUri).stripPrefix("/")
    }
    def partsOfRel(r: String): Map[String, String] =
      r.split('/').iterator.filter(_.contains('='))
        .map { seg =>
          val i = seg.indexOf('=')
          seg.substring(0, i) -> seg.substring(i + 1)
        }.toMap
    val aggs = count(lit(1)).as("rows") +: (statsCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c"))) ++
      bloomCols.map(c =>
        bloomBits(col(c), scan.schema(c).dataType).as(s"bloom_$c")))
    scan.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toList
      .map { r =>
        val p = rel(r.getAs[String]("f"))
        val perFile = bloomCols.flatMap { c =>
          val bits = r.getAs[Array[Byte]](s"bloom_$c")
          if (bits.isEmpty) None
          else Some(c -> java.util.Base64.getEncoder.encodeToString(bits))
        }.toMap
        FileEntry(p, r.getAs[Long]("rows"),
          statsCols.map(c => c -> r.getAs[Double](s"min_$c")).toMap,
          statsCols.map(c => c -> r.getAs[Double](s"max_$c")).toMap,
          if (perFile.isEmpty) None else Some(perFile),
          parts = if (partitioned) Some(partsOfRel(p)) else None)
      }
      .sortBy(_.path)
  }

  /** [[writeFiles]]' driver arm: `df`'s rows collected in one job (none
    * for a local relation), after the schema checks, and written by
    * [[writeRowsOnDriver]]. */
  private def writeFilesOnDriver(spark: SparkSession, root: String,
      df: DataFrame, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int, bloomCols: Seq[String]): List[FileEntry] =
    writeRowsOnDriver(spark, root, df.schema,
      org.apache.spark.sql.graft.WriteShim.collectInternal(df), statsCols,
      clusterCols, numFiles, bloomCols)

  /** Write `rows` (of `schema`) as at most `numFiles` files on the driver
    * and return their entries, splitting them the way the distributed
    * arm's partitioning does: with `clusterCols`, sorted in Spark's own
    * ascending, nulls-first order and cut into contiguous chunks of
    * near-equal size — a cut moves past rows whose cluster key equals the
    * row before it, so equal keys share a file as they do under range
    * partitioning; without them, dealt round-robin like
    * `repartition(numFiles)`, so every file spans the commit's whole
    * range. Each file lands under a fresh `data/c-<uuid>/`, written by
    * the writer Spark's own write tasks use, over `schema.asNullable`,
    * after the schema checks `df.write.parquet` runs (before `rows` is
    * evaluated): both arms accept and reject the same frames. The writer
    * opens its files through [[DriverWriteFs]], so a file costs no
    * `chmod` process and no `.crc` sidecar. Zero rows write no file. */
  private def writeRowsOnDriver(spark: SparkSession, root: String,
      schema: StructType,
      rowsOf: => IndexedSeq[org.apache.spark.sql.catalyst.InternalRow],
      statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int, bloomCols: Seq[String]): List[FileEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending,
      BoundReference, InterpretedOrdering, SortOrder}
    val format = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
    org.apache.spark.sql.graft.WriteShim.verifyWriteSchema(spark, format,
      schema)
    require(numFiles > 0, s"Number of partitions ($numFiles) must be positive.")
    val rows = rowsOf
    val n = rows.length
    val k = math.min(numFiles, n)
    val chunks =
      if (clusterCols.isEmpty)
        (0 until k).map(i => (i until n by k).map(rows(_)))
      else {
        val order = new InterpretedOrdering(clusterCols.map { c =>
          val i = Some(schema.fieldNames.indexOf(c)).filter(_ >= 0)
            .getOrElse(schema.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
          SortOrder(BoundReference(i, schema(i).dataType, nullable = true),
            Ascending)
        })
        val sorted = rows.sorted(order)
        val cuts = (1 until k).scanLeft(0) { (prev, i) =>
          var c = math.max(prev, (i.toLong * n / k).toInt)
          while (c > 0 && c < n &&
              order.compare(sorted(c - 1), sorted(c)) == 0) c += 1
          c
        } :+ n
        cuts.sliding(2).collect {
          case Seq(a, b) if b > a => sorted.slice(a, b).toSeq
        }.toSeq
      }
    val conf = org.apache.spark.sql.graft.WriteShim.hadoopConf(spark)
    conf.setClassLoader(classOf[DriverWriteFs].getClassLoader)
    conf.set("fs.file.impl", classOf[DriverWriteFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
    val dataSchema = org.apache.spark.sql.graft.WriteShim.asNullable(schema)
    val factory = format.prepareWrite(spark, job, Map.empty, dataSchema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val id = java.util.UUID.randomUUID().toString
    chunks.zipWithIndex.toList.map { case (chunk, i) =>
      val rel =
        f"data/c-$id/part-$i%05d-$id-c000" + factory.getFileExtension(ctx)
      val w = factory.newInstance(s"$root/$rel", dataSchema, ctx)
      try chunk.foreach(w.write) finally w.close()
      entryOnDriver(spark, rel, chunk, schema, statsCols, bloomCols)
    }
  }

  /** The [[FileEntry]] of one driver-arm file holding `rows`, with
    * [[fileEntries]]' Catalyst semantics: min/max under Spark's ordering
    * over non-NULL values, then `Cast` to double, a column with no
    * non-NULL value (or a NULL cast) recorded as the boxed NULL the
    * distributed arm's `getAs[Double]` records; blooms through the same
    * [[BloomAgg]] over the same key — a string key as a string, any
    * other cast to long — and none when no key is non-NULL. */
  private def entryOnDriver(spark: SparkSession, rel: String,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String]): FileEntry = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending,
      BoundReference, Cast, InterpretedOrdering, SortOrder}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    def ref(c: String) = {
      val i = schema.fieldIndex(c)
      (i, BoundReference(i, schema(i).dataType, nullable = true))
    }
    val bounds = statsCols.map { c =>
      val (i, r) = ref(c)
      val toDouble = Cast(r, DoubleType, tz)
      val order = new InterpretedOrdering(Seq(SortOrder(r, Ascending)))
      val vals = rows.filterNot(_.isNullAt(i))
      if (vals.isEmpty) (c -> null, c -> null)
      else (c -> toDouble.eval(vals.min(order)),
        c -> toDouble.eval(vals.max(order)))
    }
    val blooms = bloomCols.flatMap { c =>
      val (i, r) = ref(c)
      val bits = schema(i).dataType match {
        case StringType =>
          val agg = new BloomAgg[String](bloomPositionsStr)
          rows.foldLeft(agg.zero)((b, row) => agg.reduce(b,
            if (row.isNullAt(i)) null else row.getUTF8String(i).toString))
        case _ =>
          val agg =
            new BloomAgg[java.lang.Long](k => bloomPositions(k.longValue()))
          val toLong = Cast(r, LongType, tz)
          rows.foldLeft(agg.zero)((b, row) =>
            agg.reduce(b, toLong.eval(row).asInstanceOf[java.lang.Long]))
      }
      if (bits.isEmpty) None
      else Some(c -> java.util.Base64.getEncoder.encodeToString(bits))
    }.toMap
    FileEntry(rel, rows.length.toLong,
      bounds.map(_._1).toMap.asInstanceOf[Map[String, Double]],
      bounds.map(_._2).toMap.asInstanceOf[Map[String, Double]],
      if (blooms.isEmpty) None else Some(blooms))
  }

  /** The partitioned-table write kernel: stage a dynamic-partition
    * write OUTSIDE `data/`, then hard-move each staged file to
    * `data/<k=v dirs>/c-<uuid>.parquet` — partition dirs directly
    * under `data/`, commit identity in the FILE name. The inversion
    * (vs the flat `data/c-<uuid>/` layout) is what makes Spark's own
    * partition machinery work across commits: ONE `basePath = root/
    * data` covers every commit's files, so a registered-name read is a
    * single partition-aware FileScan with real `PartitionFilters` and
    * DPP — a commit-dir level between `data/` and the `k=v` dirs would
    * make Spark's partition discovery reject the mixed structure
    * (verified empirically, CONFLICTING_DIRECTORY_STRUCTURES). Files
    * stay immutable (moves land fresh uuid names; a crash mid-move
    * strands invisible orphans, same contract as a crashed flat
    * write). Every file holds exactly ONE partition tuple by
    * construction, recorded in [[FileEntry.parts]]; numeric partition
    * columns in `statsCols` get ordinary (min==max) range stats from
    * the same stats job, since the basePath scan presents partition
    * values like any other column. NULL partition values are rejected
    * before any move (the `__HIVE_DEFAULT_PARTITION__` sentinel dir
    * would round-trip as a string, silently corrupting the value). */
  private def writeFilesPartitioned(spark: SparkSession, root: String,
      df0: DataFrame, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int, bloomCols: Seq[String], zorderCols: Seq[String],
      partSpec: Seq[PartField]): List[FileEntry] = {
    partSpec.foreach(f => require(df0.schema.fieldNames.contains(f.source),
      s"partition source column '${f.source}' is not in the write " +
        s"schema (${df0.schema.fieldNames.mkString(", ")})"))
    // hidden-transform fields derive their STRING directory value here
    // and exist only between this point and the staged write — the
    // parquet files keep the raw source column, the directories carry
    // the derived value (the Iceberg hidden-partitioning contract)
    val df = partSpec.filter(_.transform != "identity")
      .foldLeft(df0)((acc, f) => acc.withColumn(f.name, derivedPartCol(f)))
    val partCols = partSpec.map(_.name)
    // z-order WITHIN partitions (Delta's OPTIMIZE ZORDER semantics on
    // a partitioned table): range-partition by (partCols, zvalue) so
    // each task holds ~one partition's compact z-rectangle; partition
    // columns themselves are not z-orderable — the directory split
    // already separates them perfectly
    zorderCols.find(partCols.contains).foreach(c =>
      throw new IllegalArgumentException(
        s"zorderCols must be data columns; '$c' is a partition column " +
          "(the k=v directory split already separates it exactly)"))
    val stage = s"$root/.stage-${java.util.UUID.randomUUID().toString}"
    // range-partition on (partition, cluster|zvalue) so a task's rows
    // mostly share one partition tuple — dynamic partitionBy then emits
    // ~one file per (task, tuple) instead of numFiles × |tuples| shards
    val orderCols = zorderCols match {
      case Nil => (partCols ++ clusterCols).distinct.map(col)
      case zs => partCols.map(col) ++ zOrderExpr(df, zs).toSeq
    }
    df.repartitionByRange(numFiles, orderCols: _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(stage)
    val stagePath = Paths.get(
      new org.apache.hadoop.fs.Path(stage).toUri.getPath)
    import scala.jdk.CollectionConverters._
    val staged = Files.walk(stagePath).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toList.sortBy(_.toString)
    val partDirs = staged.map(p =>
      stagePath.relativize(p.getParent).toString)
    // loud BEFORE any move: a rejected batch strands only invisible
    // staged files, never half a commit's worth of moved ones
    partDirs.find(_.contains("__HIVE_DEFAULT_PARTITION__")).foreach(d =>
      throw new IllegalArgumentException(
        s"NULL value in partition column(s) (staged dir '$d') at " +
          s"$root — partition columns must be non-null"))
    partDirs.find(d =>
        d.split('/').count(_.nonEmpty) != partCols.length).foreach(d =>
      throw new IllegalStateException(
        s"staged partition dir '$d' does not match declared partition " +
          s"columns ${partCols.mkString(",")} at $root"))
    val moved: List[String] =
      try staged.zip(partDirs).map { case (p, dirs) =>
        val rel =
          s"data/$dirs/c-${java.util.UUID.randomUUID().toString}.parquet"
        val dst = Paths.get(root, rel)
        Files.createDirectories(dst.getParent)
        Files.move(p, dst)
        rel
      }
      finally graft.util.AppCleanup.recursiveDelete(stagePath.toFile)
    if (moved.isEmpty) return Nil
    fileEntries(root, spark.read.schema(df.schema)
        .option("basePath", s"$root/data")
        .parquet(moved.map(r => s"$root/$r"): _*),
      statsCols, bloomCols, partitioned = true)
  }

  /** Name→type shape of a schema, nullability excluded (parquet read-back
    * relaxes/tightens nullability freely; types and names are the
    * contract an append must honor). */
  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.sql)

  /** Create snapshot 1. Fails loudly if the table already exists.
    * `checks` seeds CHECK constraints (name → condition text) enforced
    * from birth: the initial rows are validated BEFORE any file lands. */
  def create(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 8, bloomCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      checks: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = Nil,
      partitionSpec: Seq[PartField] = Nil): Int = {
    require(latestSnapshot(root) == 0, s"table already exists at $root")
    df.schema.fieldNames.filter(_.startsWith(DeadSentinelPrefix))
      .foreach(n => throw new IllegalArgumentException(
        s"column name '$n' collides with the reserved " +
          s"'$DeadSentinelPrefix' read-sentinel prefix"))
    // partitioning is declared at birth for the table's lifetime;
    // partitionCols is the identity shorthand, partitionSpec the full
    // transform form — exactly one may be given
    require(partitionCols.isEmpty || partitionSpec.isEmpty,
      "give partitionCols (identity shorthand) OR partitionSpec, not both")
    val spec =
      if (partitionSpec.nonEmpty) partitionSpec
      else partitionCols.map(c => PartField(c, "identity", c))
    validatePartSpec(df.schema, spec, root)
    // names unique case-insensitively at birth, mirroring addCheck's
    // equalsIgnoreCase guard: a table born with 'A' and 'a' would make
    // dropCheck's case-insensitive lookup nondeterministic (r14 ADVICE)
    checks.keys.groupBy(_.toLowerCase(java.util.Locale.ROOT)).values
      .find(_.size > 1).foreach(dup => throw new IllegalArgumentException(
        s"CHECK constraint names must be unique case-insensitively; " +
          s"got ${dup.toSeq.sorted.mkString(", ")} at $root"))
    checks.keys.foreach(n => requireCheckRefsExist(df.schema, n, checks(n)))
    enforceChecks(df, checks, s"in CREATE at $root")
    val entries = writeFiles(spark, root, df, localRows(df),
      statsCols, clusterCols, numFiles, bloomCols, zorderCols, spec)
    val m = Manifest(1, 0, "create", df.schema.json, entries,
      checks = Option(checks).filter(_.nonEmpty),
      partitionCols = Option(spec.map(_.name).toList).filter(_.nonEmpty),
      partitionSpec = Option(spec.toList)
        .filter(_.exists(_.transform != "identity")))
    require(tryCommit(manifestPath(root, 1), None, m),
      s"concurrent create at $root")
    1
  }

  /** Birth-time validation of a partition spec: transforms known,
    * names distinct, sources resolve, derived names don't collide with
    * schema fields, source types admit the transform, identity layouts
    * stay ≤2 deep (per-value dirs explode past that) while transform
    * layouts — whose value cardinality the transform itself bounds —
    * may go to 4. */
  private def validatePartSpec(schema: StructType, spec: Seq[PartField],
      root: String): Unit = {
    require(spec.map(_.name).distinct.size == spec.size,
      s"duplicate partition column in ${spec.map(_.name).mkString(", ")}")
    val cap = if (spec.forall(_.transform == "identity")) 2 else 4
    require(spec.size <= cap,
      s"at most $cap partition columns are supported (deeper layouts " +
        "belong to clusterCols/zorderCols — per-value dirs explode " +
        "past that)")
    spec.foreach { f =>
      require(PartTransforms(f.transform),
        s"unknown partition transform '${f.transform}' (supported: " +
          s"${PartTransforms.toSeq.sorted.mkString(", ")})")
      require(schema.fieldNames.contains(f.source),
        s"PARTITIONED BY column '${f.source}' is not in the schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      f.transform match {
        case "identity" =>
          require(f.name == f.source,
            s"identity partition field must be named after its source")
        case "bucket" =>
          require(f.n.exists(_ >= 2),
            s"bucket(${f.n.getOrElse(0)}, ${f.source}) needs n >= 2")
          require(Set[DataType](org.apache.spark.sql.types.ByteType,
              org.apache.spark.sql.types.ShortType,
              org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType)
              .contains(schema(f.source).dataType),
            s"bucket transform needs an integral source column; " +
              s"'${f.source}' is ${schema(f.source).dataType.sql}")
          requireHiddenName(schema, f, root)
        case _ =>
          val dt = schema(f.source).dataType
          // DATE / TIMESTAMP_NTZ only: their calendar prefix is a pure
          // function of the stored value. A zone-dependent TIMESTAMP
          // would derive its directory through the WRITING session's
          // zone while a reader's mapped predicate derives through its
          // own — a silent cross-zone shear that loses rows at month
          // boundaries. Loud here; store instants as TIMESTAMP_NTZ (or
          // partition on a derived date column) instead.
          require(dt == org.apache.spark.sql.types.DateType ||
              dt == org.apache.spark.sql.types.TimestampNTZType,
            s"${f.transform}(${f.source}) needs a DATE or TIMESTAMP_NTZ " +
              s"source column; got ${dt.sql}" +
              (if (dt == org.apache.spark.sql.types.TimestampType)
                " — a session-zone-dependent TIMESTAMP would shear the " +
                  "calendar prefix between writer and reader sessions"
              else ""))
          requireHiddenName(schema, f, root)
      }
    }
  }

  private def requireHiddenName(schema: StructType, f: PartField,
      root: String): Unit =
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
      s"derived partition column '${f.name}' collides with a schema " +
        s"column at $root — rename the data column or the transform " +
        "target")

  /** SHALLOW CLONE (the public Delta/Iceberg zero-copy semantic): the
    * destination's snapshot 1 lists the SOURCE snapshot's live files —
    * metadata only, no byte moves, so cloning a 100 TB table is one
    * driver-side commit. Borrowed entries store ABSOLUTE paths (with
    * their DV sidecars); everything the clone WRITES afterward is its
    * own root-relative data, so the two tables diverge independently
    * from birth, and a compact/OPTIMIZE on the clone progressively
    * materializes it (rewrites land owned files). Schema, stats,
    * blooms, rename/drop metadata and CHECK constraints all travel.
    * Vacuum on the CLONE never deletes borrowed files (not owned);
    * the documented shallow-clone hazard is the other direction —
    * vacuuming or purging the SOURCE strands the clone's borrowed
    * references, exactly Delta's contract. Cloning a clone re-borrows
    * the same absolute paths (no chains to chase at read). */
  def cloneTable(srcRoot: String, dstRoot: String,
      snapshot: Option[Int] = None): Int = {
    require(latestSnapshot(dstRoot) == 0,
      s"table already exists at $dstRoot")
    val v = snapshot.getOrElse(latestSnapshot(srcRoot))
    require(v > 0, s"clone of non-existent table $srcRoot")
    require(Files.exists(manifestPath(srcRoot, v)),
      s"clone source snapshot $v of $srcRoot is expired")
    val m = manifest(srcRoot, v)
    val srcAbs = Paths.get(srcRoot).toAbsolutePath
    def abs(p: String): String =
      if (p.startsWith("/")) p else srcAbs.resolve(p).toString
    val borrowed = m.files.map(f =>
      f.copy(path = abs(f.path), dv = f.dv.map(abs)))
    // checks + partitioning travel; the STREAM watermark map does NOT —
    // the clone is a new table, and inheriting the source's watermarks
    // would make a streaming query that fed the source silently SKIP
    // its replayed batches when pointed at the clone
    val c = Manifest(1, 0, s"clone($srcRoot@$v)", m.schemaJson,
      borrowed, checks = m.checks, partitionCols = m.partitionCols,
      partitionSpec = m.partitionSpec)
    require(tryCommit(manifestPath(dstRoot, 1), None, c),
      s"concurrent create at $dstRoot")
    1
  }

  /** Rows violating a CHECK constraint, SQL-standard semantics: a row
    * fails only when the condition evaluates to exactly FALSE — NULL
    * passes (`CHECK (x > 0)` admits NULL x; demand `x IS NOT NULL` to
    * exclude it). One aggregate job counts every constraint's
    * violations at once; O(rows validated), zero cost when no
    * constraint exists. Loud BEFORE any file lands, so a rejected
    * write strands nothing. */
  /** NOT NULL enforcement (Delta's contract — a schema field declared
    * non-nullable REJECTS null writes, it doesn't silently store them):
    * synthesized as CHECK-shaped conditions over the TARGET schema's
    * non-nullable fields, so nullability and user CHECKs validate in
    * the SAME single aggregate per batch. Fields the batch doesn't
    * carry (evolution pads them later) and nullable fields cost
    * nothing. Induction covers carried files exactly like CHECKs:
    * every row-adding path validates its own batch, ALTER ADD COLUMN
    * only adds nullable fields, and evolution extras are nullable by
    * construction. */
  private def withNotNull(schema: StructType, df: DataFrame,
      checks: Map[String, String]): Map[String, String] =
    checks ++ schema.fields.iterator
      .filter(f => !f.nullable && df.schema.fieldNames.contains(f.name))
      .map(f => s"NOT NULL(${f.name})" -> s"`${f.name}` IS NOT NULL")

  private[graft] def schemaOf(m: Manifest): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  /** The conditions merge post-image rows `updates` must pass against
    * `parent`: its CHECKs plus NOT NULL of its non-nullable fields. */
  private[graft] def postImageChecks(parent: Manifest,
      updates: DataFrame): Map[String, String] =
    withNotNull(schemaOf(parent), updates, checksOf(parent))

  /** True on a row that violates condition `c` (exactly FALSE). */
  private[graft] def violates(c: String): Column =
    not(coalesce(expr(c).cast("boolean"), lit(true)))

  /** The first of the name-ordered `checks` with a non-zero count in
    * `bad` fails loudly. */
  private[graft] def requireNoViolations(checks: Seq[(String, String)],
      bad: Int => Long, ctx: String): Unit =
    checks.zipWithIndex.foreach { case ((n, c), i) =>
      if (bad(i) > 0) throw new IllegalArgumentException(
        s"CHECK constraint '$n' ($c) violated by ${bad(i)} row(s) $ctx")
    }

  private def enforceChecks(df: DataFrame,
      checks: Map[String, String], ctx: String): Unit = {
    if (checks.isEmpty) return
    val ordered = checks.toSeq.sortBy(_._1)
    val flags = ordered.map { case (n, c) =>
      sum(when(violates(c), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(flags.head, flags.tail: _*).head()
    requireNoViolations(ordered,
      i => if (row.isNullAt(i)) 0L else row.getLong(i), ctx)
  }

  private[graft] def checksOf(m: Manifest): Map[String, String] =
    m.checks.getOrElse(Map.empty)

  /** Top-level column names a stored condition references — parsed with
    * the session-free CatalystSqlParser, so the driver-side DDL verbs
    * can guard rename/drop without a SparkSession. */
  private[graft] def checkRefs(cond: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(cond).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
      }.toSet

  /** Reject subquery expressions (`IN (SELECT ...)`, `EXISTS`, scalar
    * subqueries) in CHECK conditions at definition time: [[checkRefs]]
    * collects column references only from the expression tree, so
    * references INSIDE a subquery's plan would be invisible to the
    * RENAME/DROP COLUMN guards (a referenced column could be dropped and
    * every later write would fail at analysis instead of the DDL being
    * rejected up front — r14 ADVICE), and [[enforceChecks]]' single
    * aggregate cannot evaluate a correlated subquery per row portably
    * anyway. Delta's CHECK constraints carry the same restriction. */
  private[graft] def requireCheckNoSubquery(name: String,
      cond: String): Unit = {
    val hasSub = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(cond).exists {
        case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression
          => true
        case _ => false
      }
    require(!hasSub,
      s"CHECK constraint '$name' ($cond) contains a subquery — CHECK " +
        "conditions must be row-local boolean expressions over this " +
        "table's columns")
  }

  private def requireCheckRefsExist(schema: StructType, name: String,
      cond: String): Unit = {
    requireCheckNoSubquery(name, cond)
    val have = schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val missing = checkRefs(cond) -- have
    require(missing.isEmpty,
      s"CHECK constraint '$name' ($cond) references unknown column(s) " +
        s"${missing.toSeq.sorted.mkString(", ")}")
  }

  /** `ADD CONSTRAINT name CHECK (cond)` — a metadata commit that first
    * VALIDATES the existing table (Delta's semantics: a constraint the
    * current data already violates must not be addable — it would make
    * every later read-modify-write fail for someone else's rows). The
    * validation is one full-scan aggregate, the documented cost of
    * adding a constraint late; every row-adding write thereafter pays
    * one O(batch) aggregate. Names are unique case-insensitively;
    * conditions must reference existing columns and evaluate to
    * BOOLEAN (enforced by the validation scan's analysis). */
  def addCheck(spark: SparkSession, root: String, name: String,
      cond: String): Int = {
    require(name.nonEmpty, s"empty constraint name at $root")
    commitRebasing(root, "addCheck",
        s"alter of non-existent table $root") { parent =>
      val existing = checksOf(parent)
      require(!existing.keys.exists(_.equalsIgnoreCase(name)),
        s"constraint '$name' already exists at $root")
      requireCheckRefsExist(schemaOf(parent), name, cond)
      enforceChecks(readEntries(spark, root, parent, parent.files),
        Map(name -> cond), s"among EXISTING rows at $root — a " +
          "constraint the current data violates is not addable")
      Some(child(parent, s"alter_add_check($name)", parent.files)
        .copy(checks = Some(existing + (name -> cond))))
    }
  }

  /** `DROP CONSTRAINT name` — pure metadata commit. */
  def dropCheck(root: String, name: String,
      ifExists: Boolean = false): Int =
    commitRebasing(root, "dropCheck",
        s"alter of non-existent table $root") { parent =>
      val existing = checksOf(parent)
      val key = existing.keys.find(_.equalsIgnoreCase(name))
      if (key.isEmpty && !ifExists) throw new NoSuchElementException(
        s"no constraint '$name' at $root " +
          s"(have ${existing.keys.toSeq.sorted.mkString(", ")})")
      key.map(k => child(parent, s"alter_drop_check($k)", parent.files)
        .copy(checks = Option(existing - k).filter(_.nonEmpty)))
    }

  /** Append-only commit. Optimistic: on a concurrent-writer collision the
    * new files are already safely on disk and the file list is
    * parent-independent, so the commit simply rebases onto the new
    * latest and retries the link.
    *
    * On a CHECK-constrained table, `df` is evaluated twice (the
    * validation aggregate, then the write) and must therefore be
    * DETERMINISTIC — the same contract [[merge]]/[[delete]] document;
    * the SQL INSERT path persists its source first, so only direct DSL
    * callers carry the obligation. Unconstrained appends evaluate once,
    * exactly as before.
    *
    * `allowEvolution` permits ADD-ONLY schema evolution: `df` must still
    * carry every existing column with its exact type, and its extra
    * columns become part of the table schema from this snapshot on.
    * Old files simply lack the new columns — the manifest-schema read
    * fills them with null (the standard parquet-format contract), and
    * time travel to pre-evolution snapshots serves the old shape
    * because each manifest pins its own schema. Drops/renames/retypes
    * stay loud errors: they would silently corrupt old-file reads. */
  /** `streamTxn = Some((queryId, batchId))` makes the append an
    * EXACTLY-ONCE streaming micro-batch commit: the batch id is
    * recorded in the manifest's per-query watermark map atomically
    * with the rows, and a replay of an already-recorded batch (crash
    * between this commit and the engine's own checkpoint commit)
    * returns the current snapshot WITHOUT writing — the Delta
    * txn-action idempotence model, checked inside the optimistic loop
    * so a concurrent duplicate writer loses cleanly too. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 8, bloomCols: Seq[String] = Nil,
      allowEvolution: Boolean = false,
      baseSnapshot: Option[Int] = None,
      streamTxn: Option[(String, Long)] = None): Int = {
    val absent = s"append to non-existent table $root"
    val m0 = parentOf(root, absent)
    def replayed(m: Manifest): Boolean = streamTxn.exists { case (qid, b) =>
      m.stream.exists(_.get(qid).exists(_ >= b))
    }
    // replay short-circuit BEFORE any file lands: the common restart
    // case re-offers the last checkpointed batch immediately
    if (replayed(m0)) return m0.snapshot
    // CHECK constraints validate BEFORE any file lands (a rejected
    // batch strands nothing); re-validated inside the loop if a rebase
    // lands on a parent whose constraint set moved concurrently
    var validated = checksOf(m0)
    enforceChecks(df, withNotNull(schemaOf(m0), df, validated),
      s"in the appended batch at $root")
    val entries = writeFiles(spark, root, df, localRows(df),
      statsCols, clusterCols, numFiles, bloomCols,
      partSpec = partSpecOf(m0))
    // a pinned base forgoes the rebase loop: the caller's guards (e.g.
    // SQL INSERT's key-clash check) were evaluated against that exact
    // snapshot, so rebasing onto a mover could mint a duplicate key —
    // fail loudly instead, caller re-derives
    commitRebasing(root, "append", absent, baseSnapshot) { parent =>
      val parentShape = shape(schemaOf(parent))
      val newShape = shape(df.schema)
      val evolved = allowEvolution && newShape != parentShape &&
        newShape.startsWith(parentShape)
      if (evolved)
        newShape.drop(parentShape.length).map(_._1)
          .filter(_.startsWith(DeadSentinelPrefix))
          .foreach(n => throw new IllegalArgumentException(
            s"column name '$n' collides with the reserved " +
              s"'$DeadSentinelPrefix' read-sentinel prefix"))
      require(newShape == parentShape || evolved,
        if (allowEvolution)
          s"schema evolution is add-only: existing columns $parentShape " +
            s"must prefix the new schema $newShape at $root"
        else s"append schema mismatch vs snapshot ${parent.snapshot} " +
          s"at $root")
      if (checksOf(parent) != validated) {
        enforceChecks(df, withNotNull(schemaOf(parent), df,
          checksOf(parent)), s"in the appended batch at $root")
        validated = checksOf(parent)
      }
      // re-check the watermark against THIS parent: a concurrent
      // duplicate writer (two executors replaying one batch) must lose
      // inside the loop, not stack a second copy on the winner
      if (replayed(parent)) None
      else Some(child(parent,
        if (evolved) "append_evolve" else "append",
        parent.files ++ entries).copy(
        schemaJson = if (evolved) df.schema.json else parent.schemaJson,
        stream = streamTxn.map { case (qid, b) =>
          parent.stream.getOrElse(Map.empty[String, Long]) + (qid -> b)
        }.orElse(parent.stream)))
    }
  }

  /** Align an evolving batch for an add-only append/MERGE: the
    * parent's columns first IN PARENT ORDER (they must all be present —
    * evolution adds, never drops), then the batch's new columns in
    * batch order. A source that merely REORDERS columns aligns to a
    * plain append; one missing a parent column fails loudly here
    * instead of as a confusing prefix-rule error downstream. */
  def alignEvolved(df: DataFrame, root: String): DataFrame = {
    val parent = schemaOf(manifest(root, latestSnapshot(root)))
    parent.fieldNames.filterNot(n => df.schema.fieldNames.contains(n))
      .headOption.foreach(n => throw new IllegalArgumentException(
        s"mergeSchema batch is missing table column '$n' at $root — " +
          "evolution is add-only"))
    val extras = df.schema.fieldNames
      .filterNot(n => parent.fieldNames.contains(n))
    df.select((parent.fieldNames.toSeq ++ extras).map(col): _*)
  }

  /** Merge/delete key pruning guard: a string (or otherwise
    * double-uncastable) key column would cast its min/max to null and
    * read as "no matching keys", silently turning merge into a
    * duplicate-key append and delete into a no-op. Checked on the schema
    * before any job (the statsCols twin of writeFiles' string check). */
  private def requireNumericKey(t: DataType, keyCol: String,
      what: String): Unit = t match {
    case _: org.apache.spark.sql.types.NumericType => ()
    case _ => throw new IllegalArgumentException(
      s"$what key column '$keyCol' must be numeric for range pruning; " +
        s"got ${t.sql} (string keys carry bloom skipping, not range stats)")
  }

  /** A non-empty key set whose every key is null fails loudly: null keys
    * join to nothing, so the caller's update rows could never replace a
    * base row anyway. `n` is the distinct key set's row count. */
  private def allNullKeys(keyCol: String, what: String,
      n: Long): IllegalArgumentException = new IllegalArgumentException(
    s"$what key column '$keyCol': $n rows, every key " +
      "null — null keys match no base rows; refusing the commit")

  /** Key range of the distinct key set `df` for the distributed arm's
    * stats pruning: None for a genuinely empty key set (prune
    * everything), [[allNullKeys]] for an all-null one. */
  private def prunableKeyRange(df: DataFrame, keyCol: String,
      what: String): Option[(Double, Double)] =
    df.agg(min(col(keyCol)).cast("double"), max(col(keyCol)).cast("double"),
        count(lit(1))).collect()(0) match {
      case r if r.getLong(2) == 0L => None
      case r if r.isNullAt(0) => throw allNullKeys(keyCol, what, r.getLong(2))
      case r => Some((r.getDouble(0), r.getDouble(1)))
    }

  /** Copy-on-write MERGE (upsert on `keyCol`): rows of `updates` replace
    * same-key rows; new keys are inserted. Only files that can contain a
    * matching key are rewritten, chosen by [[touchedKeys]] in two
    * levels:
    *  1. stats pruning — on the driver arm (at most [[CommitKeyBudget]]
    *     key rows, collected by one probe) a file is a candidate
    *     when some key falls in its [min,max] of `keyCol` and passes the
    *     file's bloom; on the distributed arm, when its [min,max]
    *     overlaps the key set's overall range (one aggregate);
    *  2. exact check — a scan of ONLY the candidates finds the files
    *     actually holding a matching key: an `IN (keys)` filter on the
    *     driver arm, a semi-join against the key set on the distributed
    *     arm (driver payload is the affected-file name list).
    * Both arms choose the same files. The rewrite (the affected files'
    * survivors ∪ `updates`) goes through [[writeFiles]] with a row bound
    * of the affected files' manifest live rows plus the updates' rows
    * when a driver-built batch (or the caller) bounds them, so a small
    * merge writes on the driver arm. Untouched files carry over by
    * reference, so the commit cost scales with the update's key
    * locality, not the table size. Single-attempt optimistic: the commit
    * targets `baseSnapshot + 1` (base defaults to the latest at entry —
    * pass it explicitly to pin the snapshot the update set was derived
    * against); if a concurrent commit took that id, the rewrite is
    * stale — fail loudly, caller re-derives.
    *
    * `updates` is evaluated MORE THAN ONCE (key set, survivors ∪
    * insert) — it must be deterministic. A nondeterministic
    * frame (sample(), rand()-derived) can disagree between evaluations
    * and silently lose or duplicate rows; cache or materialize such
    * inputs first. Same contract as [[delete]]'s `deleteKeys`. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      keyCol: String, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 4, baseSnapshot: Option[Int] = None,
      bloomCols: Seq[String] = Nil): Int =
    // merge IS upsertDelete with an empty delete-key set, except that a
    // plain merge always commits (the empty-updates no-op-commit
    // contract GraftTableSpec pins) — one rewrite core, no drift
    upsertDelete(spark, root, updates,
      updates.select(col(keyCol)).limit(0), keyCol, statsCols,
      clusterCols, numFiles, baseSnapshot, bloomCols,
      commitEmpty = true)

  /** Atomic upsert + delete — ONE copy-on-write commit applying both an
    * update/insert row set and a delete-key set, the shape a SQL MERGE
    * statement needs: landing it as a merge commit followed by a delete
    * commit can be observed (or die, or lose an optimistic-concurrency
    * race) half-applied, and CDC/SCD2 consumers would see one statement
    * as two snapshots. Pruning and rewrite are [[merge]]'s with the
    * touched-key set = updates' keys ∪ deleteKeys, on the arm
    * [[touchedKeys]] picks for its size: affected files rewrite minus
    * ALL touched keys (NULL-keyed rows survive), then only the updates
    * re-enter.
    * Matching-nothing with no updates declines to commit (no empty
    * commit, like [[delete]]); both inputs follow merge's
    * deterministic-evaluation contract and their key sets must be
    * disjoint (the SQL layer guarantees both — it persists the
    * classified frame and rejects overlaps). */
  def upsertDelete(spark: SparkSession, root: String, updates: DataFrame,
      deleteKeys: DataFrame, keyCol: String, statsCols: Seq[String],
      clusterCols: Seq[String], numFiles: Int = 4,
      baseSnapshot: Option[Int] = None,
      bloomCols: Seq[String] = Nil, commitEmpty: Boolean = false,
      allowEvolution: Boolean = false,
      streamTxn: Option[(String, Long)] = None): Int =
    upsertDeleteKernel(spark, root, updates, deleteKeys, keyCol, statsCols,
      clusterCols, numFiles, baseSnapshot, bloomCols, commitEmpty,
      allowEvolution, streamTxn, postImageChecked = false,
      updateRows = localRows(updates))

  /** [[upsertDelete]] for a caller that has already counted the
    * violations of [[postImageChecks]] in an aggregate of its own (SQL
    * MERGE's guard aggregate), so the kernel's check job is skipped.
    * `updateRows` bounds the rows of `updates` (Long.MaxValue when
    * unknown); with the affected files' live rows it bounds the
    * rewrite, choosing [[writeFiles]]' arm. */
  private[graft] def upsertDeleteKernel(spark: SparkSession, root: String,
      updates: DataFrame, deleteKeys: DataFrame, keyCol: String,
      statsCols: Seq[String], clusterCols: Seq[String], numFiles: Int,
      baseSnapshot: Option[Int], bloomCols: Seq[String],
      commitEmpty: Boolean, allowEvolution: Boolean,
      streamTxn: Option[(String, Long)], postImageChecked: Boolean,
      updateRows: Long): Int = {
    val parent = parentOf(root,
      s"upsertDelete into non-existent table $root", baseSnapshot)
    val v = parent.snapshot
    // exactly-once streaming MERGE (append's streamTxn contract applied
    // to the upsert kernel): a crash-replayed batch whose id is already
    // in the watermark map must NOT re-apply — the merge is key-
    // addressed, so re-applying would not duplicate rows, but it WOULD
    // mint a phantom snapshot and re-fire CDC consumers. Checked against
    // the derivation snapshot; the single-attempt commit below makes
    // a concurrent duplicate writer lose cleanly too.
    streamTxn.foreach { case (qid, b) =>
      if (parent.stream.exists(_.get(qid).exists(_ >= b))) return v
    }
    val parentSchema = schemaOf(parent)
    // opt-in add-only schema evolution (append's mergeSchema contract,
    // extended to MERGE): existing columns must PREFIX the new schema;
    // the commit widens the manifest schema, rewritten survivors pad
    // the new columns NULL, and carried files read them NULL through
    // the ordinary absent-column path — same read shape as ALTER ADD
    val evolved = allowEvolution &&
      shape(updates.schema) != shape(parentSchema) &&
      shape(updates.schema).startsWith(shape(parentSchema))
    val extraFields =
      if (evolved) updates.schema.fields.drop(parentSchema.fields.length)
      else Array.empty[StructField]
    if (evolved)
      extraFields.map(_.name).filter(_.startsWith(DeadSentinelPrefix))
        .foreach(n => throw new IllegalArgumentException(
          s"column name '$n' collides with the reserved " +
            s"'$DeadSentinelPrefix' read-sentinel prefix"))
    require(shape(updates.schema) == shape(parentSchema) || evolved,
      if (allowEvolution)
        s"schema evolution is add-only: existing columns " +
          s"${shape(parentSchema)} must prefix the new schema " +
          s"${shape(updates.schema)} at $root"
      else s"upsertDelete schema mismatch vs snapshot $v at $root")
    // post-image enforcement on the NEW rows only: survivors were
    // validated at their own write time and ADD CONSTRAINT validated
    // the whole table, so induction covers them
    if (!postImageChecked)
      enforceChecks(updates, postImageChecks(parent, updates),
        s"in the merge post-image at $root")
    touchedKeys(parent, updates.select(col(keyCol))
        .unionByName(deleteKeys.select(col(keyCol))), keyCol,
        "upsertDelete") { touched =>
      // DV-aware on both legs: detection must not flag (and the rewrite
      // must not resurrect) rows an earlier merge-on-read commit already
      // deleted — readEntries* apply the parent's deletion vectors, and
      // the copy-on-write rewrite therefore MATERIALIZES them (new
      // entries carry no DV)
      // a flat commit on the key arm's driver side whose candidates fit
      // the write budget takes the one-scan arm; any other, two scans
      val finish = (m: Manifest) => m.copy(
        schemaJson = if (evolved) updates.schema.json else parent.schemaJson,
        stream = streamTxn.map { case (qid, b) =>
          parent.stream.getOrElse(Map.empty[String, Long]) + (qid -> b)
        }.orElse(parent.stream))
      val op = if (evolved) "merge_evolve" else "merge"
      scanOf(spark, root, parent, touched, keyCol, updateRows) match {
        case Some((scan, keys)) =>
          commitCandidates(spark, root, scan, keys,
            org.apache.spark.sql.graft.WriteShim.collectInternal(updates)
              .toIndexedSeq, updates.schema, statsCols, clusterCols,
            numFiles, bloomCols, "upsertDelete", op, commitEmpty)(finish)
        case None =>
          val affectedPaths =
            affectedFiles(spark, root, parent, touched, keyCol)
          if (!commitEmpty && affectedPaths.isEmpty && updates.isEmpty) v
          else {
            val affected = parent.files.filter(f => affectedPaths(f.path))
            val survivors =
              if (affected.isEmpty) updates
              else {
                val base0 = readEntries(spark, root, parent, affected)
                // evolved commit: rewritten survivors pad the new columns
                // NULL (rows that never received the column — Delta's
                // autoMerge semantics); untouched files stay
                // bytes-identical and read NULL via the absent-column path
                val base = extraFields.foldLeft(base0)((acc, f) =>
                  acc.withColumn(f.name, lit(null).cast(f.dataType)))
                touched.untouched(base).unionByName(updates)
              }
            val entries = writeFiles(spark, root, survivors,
              if (affected.isEmpty) updateRows
              else addBounds(liveRowsOf(affected), updateRows),
              statsCols, clusterCols, numFiles, bloomCols,
              partSpec = partSpecOf(parent))
            commitOnce(root, "upsertDelete", parent, finish(child(parent,
              op, parent.files.filterNot(f => affectedPaths(f.path)) ++
                entries)))
          }
      }
    }
  }

  /** DYNAMIC PARTITION OVERWRITE — the incremental-rerun verb a
    * partitioned 100 TB table exists for (re-running one day/year
    * replaces ONLY that partition's data, the
    * partitionOverwriteMode=dynamic semantic as ONE atomic commit):
    * every file whose partition tuple appears among the batch's tuples
    * drops out of the manifest; the batch's files (written through the
    * partitioned kernel, so each carries exactly one tuple) take their
    * place; untouched partitions carry over by reference. Commit cost
    * is O(batch + touched partitions' file entries) — zero reads of
    * untouched data. An empty batch touches nothing and declines to
    * commit (the [[delete]] no-empty-commit contract). Single-attempt
    * optimistic like [[merge]] — the replacement set was derived
    * against the pinned snapshot. `df` is evaluated more than once
    * (checks aggregate + write) and must be deterministic, the
    * [[merge]] contract. Only defined on PARTITIONED tables: on a flat
    * table "overwrite the matching partition" has no meaning — loud,
    * use merge/delete. */
  def overwritePartitions(spark: SparkSession, root: String,
      df: DataFrame, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 4, baseSnapshot: Option[Int] = None,
      bloomCols: Seq[String] = Nil): Int = {
    val parent = parentOf(root,
      s"overwritePartitions into non-existent table $root", baseSnapshot)
    val pcols = partColsOf(parent)
    require(pcols.nonEmpty,
      s"overwritePartitions on UNPARTITIONED table $root — dynamic " +
        "partition overwrite needs declared partition columns; use " +
        "merge/delete for row-level replacement")
    require(shape(df.schema) == shape(schemaOf(parent)),
      s"overwritePartitions schema mismatch vs snapshot " +
        s"${parent.snapshot} at $root")
    enforceChecks(df, withNotNull(schemaOf(parent), df, checksOf(parent)),
      s"in the overwrite batch at $root")
    val entries = writeFiles(spark, root, df, localRows(df),
      statsCols, clusterCols, numFiles, bloomCols,
      partSpec = partSpecOf(parent))
    if (entries.isEmpty) return parent.snapshot // nothing touched
    val touched = entries.flatMap(_.parts).toSet
    commitOnce(root, "overwritePartitions", parent,
      child(parent, "overwrite_partitions",
        parent.files.filterNot(f => f.parts.exists(touched)) ++ entries))
  }

  /** Copy-on-write row-level DELETE: rows whose `keyCol` appears in
    * `deleteKeys` are removed. Same two-level pruning on the same two
    * arms as [[merge]] — per-key range and bloom (driver arm) or
    * overall-range overlap (distributed arm) narrows to candidate
    * files, a scan of only those finds the files actually holding a
    * doomed key — and only the affected files are rewritten (minus
    * their matching rows, NULL keys kept), through [[writeFiles]] with
    * their manifest live rows as the row bound; everything else carries
    * over by reference, so cost scales with the delete's key locality. A
    * delete matching nothing declines to commit (returns the base
    * snapshot — no empty commit, like [[compact]]); a delete emptying
    * every affected file commits a manifest that simply drops them.
    * Single-attempt optimistic like merge: a concurrent commit means the
    * rewrite is stale — fail loudly, caller re-derives. `deleteKeys` is
    * evaluated once: the key probe caches it ([[touchedKeys]]). */
  def delete(spark: SparkSession, root: String, deleteKeys: DataFrame,
      keyCol: String, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 4, baseSnapshot: Option[Int] = None,
      bloomCols: Seq[String] = Nil): Int = {
    val parent = parentOf(root, s"delete from non-existent table $root",
      baseSnapshot)
    // DV-aware, same as merge: an already-DV-deleted row neither flags
    // its file nor survives the rewrite (which materializes the DV)
    touchedKeys(parent, deleteKeys, keyCol, "delete") { keys =>
      scanOf(spark, root, parent, keys, keyCol, 0L) match {
        case Some((scan, touched)) =>
          commitCandidates(spark, root, scan, touched, Vector.empty,
            scan.schema, statsCols, clusterCols, numFiles, bloomCols,
            "delete", "delete", commitEmpty = false)(identity)
        case None =>
          val affectedPaths =
            affectedFiles(spark, root, parent, keys, keyCol)
          if (affectedPaths.isEmpty) parent.snapshot // no empty commit
          else {
            val affected = parent.files.filter(f => affectedPaths(f.path))
            val survivors =
              keys.untouched(readEntries(spark, root, parent, affected))
            val entries = writeFiles(spark, root, survivors,
              liveRowsOf(affected), statsCols, clusterCols, numFiles,
              bloomCols, partSpec = partSpecOf(parent))
            commitOnce(root, "delete", parent, child(parent, "delete",
              parent.files.filterNot(f => affectedPaths(f.path)) ++ entries))
          }
      }
    }
  }

  /** Touched-key columns of at most this many rows take a commit's
    * driver arm ([[touchedKeys]]); perfbench's table_ingest commits
    * land 100–750. */
  private[table] val CommitKeyBudget = 10000L

  /** The budget [[touchedKeys]] dispatches on: [[CommitKeyBudget]]
    * unless a test runs a commit under `withValue(0L)` to force the
    * distributed arm. */
  private[graft] val commitKeyBudget =
    new scala.util.DynamicVariable[Long](CommitKeyBudget)

  /** One commit's distinct touched-key set, resolved to the arm that
    * filters rows by it. `candidates` are the files of the parent that
    * may hold a touched key (the first, zero-I/O pruning level). */
  private sealed trait TouchedKeys {
    def candidates: List[FileEntry]
    /** Rows of `df` whose key is touched. */
    def matching(df: DataFrame): DataFrame
    /** Rows of `df` whose key is not touched — NULL keys included, as a
      * NULL key equals no touched key. */
    def untouched(df: DataFrame): DataFrame
    /** The distinct strings of `df`'s one string column. */
    def distinctStrings(df: DataFrame): Set[String]
  }

  /** Driver arm: the keys are a local array, so the row filters are one
    * `IN` list (no shuffle, no broadcast) and distinct values dedupe on
    * the driver. */
  private final class DriverKeys(val candidates: List[FileEntry],
      keyCol: String, keys: Seq[Any]) extends TouchedKeys {
    /** The keys as [[keyValue]]s. */
    lazy val set: Set[Any] = keys.iterator.map(keyValue).toSet
    private def in = col(keyCol).isin(keys: _*)
    def matching(df: DataFrame): DataFrame = df.where(in)
    def untouched(df: DataFrame): DataFrame =
      df.where(col(keyCol).isNull || !in)
    def distinctStrings(df: DataFrame): Set[String] =
      df.collect().iterator.map(_.getString(0)).toSet
  }

  /** Distributed arm: `keys` is the persisted distinct key set, joined. */
  private final class DistKeys(val candidates: List[FileEntry],
      keyCol: String, keys: DataFrame) extends TouchedKeys {
    def matching(df: DataFrame): DataFrame =
      df.join(keys, Seq(keyCol), "left_semi")
    def untouched(df: DataFrame): DataFrame =
      df.join(keys, Seq(keyCol), "left_anti").select(df.columns.map(col): _*)
    def distinctStrings(df: DataFrame): Set[String] =
      df.distinct().collect().iterator.map(_.getString(0)).toSet
  }

  /** Run `body` over the distinct key set of `keys[keyCol]`. The key
    * column goes through [[graft.util.Probes.byBudget]] with a null memo
    * key (a commit's input is not immutable): one `limit` probe collects
    * up to the budget + 1 key rows, deduplicated on the driver, in
    * 1 + ⌈log4 P⌉ jobs over the key column's P partitions. Probing the
    * column rather than its `distinct()` spares the probe a shuffle job,
    * and a key-addressed commit's keys are distinct already; a batch
    * built on the driver (a local relation) probes with no job at all.
    *
    * Within the budget, the driver arm chooses candidate files PER KEY,
    * with zero jobs ([[perKeyCandidates]]: range, then bloom). On a flat
    * table whose candidates' manifest live rows (plus the rows the commit
    * adds) fit [[writeRowBudget]], the commit then takes the ONE-SCAN arm
    * ([[scanOf]]): the candidates' rows, DV-aware with `__rel`, are
    * collected in one job, and the exact check, the survivors and the
    * rewrite all derive from them on the driver ([[commitCandidates]]) —
    * no second scan, and the write runs no job. Otherwise the exact
    * check scans the candidates ([[affectedFiles]]) and the rewrite reads
    * the affected files again. Over the budget, the distributed arm
    * persists the distinct key set and takes [[keyCandidates]]' overall
    * range (one aggregate). Per-key candidates are a subset of the range
    * candidates that keeps every file holding a key, so after the exact
    * check every arm touches the same files. The key type is checked
    * before the probe, and an all-null key set fails with the same
    * message on both arms. */
  private def touchedKeys[R](parent: Manifest, keys: DataFrame,
      keyCol: String, what: String)(body: TouchedKeys => R): R = {
    val keyType = keys.schema(keyCol).dataType
    requireNumericKey(keyType, keyCol, what)
    graft.util.Probes.byBudget(keys.select(col(keyCol)),
        commitKeyBudget.value, null) { rows =>
      val distinct = rows.iterator.map(_.get(0)).distinct.toArray
      val ks = distinct.filter(_ != null)
      if (ks.isEmpty && distinct.nonEmpty)
        throw allNullKeys(keyCol, what, distinct.length)
      body(new DriverKeys(perKeyCandidates(parent.files, keyCol, keyType,
        ks.toSeq), keyCol, ks.toSeq))
    } { ds =>
      // the distinct key set, built once for the key-range agg, the
      // affected-file semi-join and the survivor anti-join
      val distinct = ds.distinct().persist()
      try body(new DistKeys(keyCandidates(parent, distinct, keyCol, what),
        keyCol, distinct))
      finally distinct.unpersist()
    }
  }

  /** The driver arm's first pruning level, zero I/O: the files of `files`
    * where some of the non-NULL `keys` (external values of a numeric
    * key column of type `keyType`) falls in the file's [min,max] of
    * `keyCol` and, when the file carries a bloom for an integral key
    * column, passes it (the build's `bloomPositions` over the key cast to
    * long, so no false negative). Keeps every file holding a key. */
  private def perKeyCandidates(files: List[FileEntry], keyCol: String,
      keyType: DataType, keys: Seq[Any]): List[FileEntry] = {
    val integral = keyType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val values = keys.map(_.asInstanceOf[Number].doubleValue).toArray
    val probes =
      if (integral) keys.map(k => bloomPositions(k.asInstanceOf[Number]
        .longValue)).toArray
      else Array.empty[Array[Int]]
    files.filter { f =>
      val (lo, hi) = (f.mins.get(keyCol), f.maxs.get(keyCol))
      lazy val bloom = if (!integral) None
        else f.bloom.flatMap(_.get(keyCol))
          .map(java.util.Base64.getDecoder.decode)
      values.indices.exists { i =>
        lo.forall(_ <= values(i)) && hi.forall(_ >= values(i)) &&
          bloom.forall(bloomHas(_, probes(i)))
      }
    }
  }

  /** The distributed arm's first pruning level: files of `parent` whose
    * [min,max] of `keyCol` overlaps the overall key range of `keys`;
    * no keys, no candidates. */
  private def keyCandidates(parent: Manifest, keys: DataFrame,
      keyCol: String, what: String): List[FileEntry] =
    prunableKeyRange(keys, keyCol, what) match {
      case None => Nil
      case Some((kLo, kHi)) => parent.files.filter(f =>
        f.maxs.get(keyCol).forall(_ >= kLo) &&
          f.mins.get(keyCol).forall(_ <= kHi))
    }

  /** The second pruning level: paths of the candidates that actually
    * hold a touched key, by a provenance (`__rel`) scan of only those
    * files (DV-aware: a row an earlier merge-on-read commit deleted
    * flags nothing) — one job with no shuffle on the driver arm. Driver
    * payload is the affected-path set. */
  private def affectedFiles(spark: SparkSession, root: String,
      parent: Manifest, keys: TouchedKeys, keyCol: String): Set[String] =
    if (keys.candidates.isEmpty) Set.empty
    else keys.distinctStrings(keys.matching(
        readEntriesWithPos(spark, root, parent, keys.candidates)
          .select(col(keyCol), col("__rel")))
      .select("__rel"))

  /** A key as the driver arms compare keys, Spark's equality on a numeric
    * key column for an internal (`Decimal`) or external value alike:
    * integral keys as Long, floating ones as Double with -0.0 as 0.0 and
    * every NaN one value, decimals without trailing zeros. */
  private[graft] def keyValue(v: Any): Any = v match {
    case null => null
    case d: org.apache.spark.sql.types.Decimal =>
      d.toJavaBigDecimal.stripTrailingZeros
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case d @ (_: java.lang.Double | _: java.lang.Float) =>
      val x = d.asInstanceOf[Number].doubleValue
      if (x.isNaN) NaNKey else if (x == 0.0) 0.0 else x
    case n: java.lang.Number => n.longValue
    case other => other
  }

  private case object NaNKey

  /** The one scan of a driver-arm commit: every live row (DV-aware) of
    * the parent's candidate `files`, collected in ONE job (none when no
    * file is a candidate), each in schema order followed by its file's
    * `__rel`. Affected files, survivors and the rows to write all derive
    * from it on the driver ([[commitCandidates]]). */
  private[graft] final class CandidateRows(val parent: Manifest,
      keyCol: String, val files: List[FileEntry],
      rows: Array[org.apache.spark.sql.catalyst.InternalRow]) {
    val schema: StructType = schemaOf(parent)
    private val keyIdx = schema.fieldIndex(keyCol)
    private val keyType = schema(keyIdx).dataType
    def size: Int = rows.length
    /** Row `i` without its `__rel`, in schema order. */
    def data(i: Int): org.apache.spark.sql.catalyst.InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array.tabulate[Any](schema.length)(j =>
          rows(i).get(j, schema(j).dataType)))
    def rel(i: Int): String = rows(i).getUTF8String(schema.length).toString
    /** Row `i`'s key as a [[keyValue]]. */
    def key(i: Int): Any =
      if (rows(i).isNullAt(keyIdx)) null
      else keyValue(rows(i).get(keyIdx, keyType))
    /** The keys of the scanned rows. */
    lazy val keys: Set[Any] = (0 until size).iterator.map(key).toSet
  }

  /** The one scan of a commit over the flat `parent` whose candidate
    * `files` hold at most [[writeRowBudget]] live rows (per the manifest)
    * together with `extraRows` more rows the commit adds; None otherwise,
    * and on a partitioned table, which keeps the two-scan path. */
  private def scanFiles(spark: SparkSession, root: String, parent: Manifest,
      keyCol: String, files: List[FileEntry],
      extraRows: Long): Option[CandidateRows] =
    if (partSpecOf(parent).nonEmpty ||
        addBounds(liveRowsOf(files), extraRows) > writeRowBudget.value) None
    else Some(new CandidateRows(parent, keyCol, files,
      if (files.isEmpty) Array.empty
      else org.apache.spark.sql.graft.WriteShim.collectInternal(
        readEntriesWithPos(spark, root, parent, files).select(
          (schemaOf(parent).fieldNames :+ "__rel").map(n =>
            col("`" + n.replace("`", "``") + "`")): _*))))

  /** [[scanFiles]] over the candidates of the touched-key set: the one
    * scan when `keys` took the driver arm, with the keys as
    * [[keyValue]]s. */
  private def scanOf(spark: SparkSession, root: String, parent: Manifest,
      keys: TouchedKeys, keyCol: String,
      extraRows: Long): Option[(CandidateRows, Set[Any])] = keys match {
    case d: DriverKeys =>
      scanFiles(spark, root, parent, keyCol, d.candidates, extraRows)
        .map(_ -> d.set)
    case _ => None
  }

  /** [[scanFiles]] over the per-key candidates of `keys` (non-NULL
    * external values of the numeric `keyCol`), for a SQL verb that
    * resolved its key set on the driver. */
  private[graft] def scanCandidates(spark: SparkSession, root: String,
      parent: Manifest, keyCol: String, keys: Seq[Any],
      extraRows: Long): Option[CandidateRows] =
    scanFiles(spark, root, parent, keyCol, perKeyCandidates(parent.files,
      keyCol, schemaOf(parent)(keyCol).dataType, keys), extraRows)

  /** The [[keyValue]]s of those of `keys` (non-NULL external values)
    * that some live row of `scan`'s parent holds: the scanned rows
    * answer for every key whose candidates were all scanned; the other
    * candidates of the rest are scanned for them (one job, none when
    * there are none). */
  private[graft] def liveKeysAmong(spark: SparkSession, root: String,
      scan: CandidateRows, keyCol: String, keys: Seq[Any]): Set[Any] = {
    val scanned = scan.files.map(_.path).toSet
    val rest = keys.filterNot(k => scan.keys(keyValue(k)))
    val others = perKeyCandidates(
      scan.parent.files.filterNot(f => scanned(f.path)), keyCol,
      scan.schema(keyCol).dataType, rest)
    val found =
      if (others.isEmpty) Set.empty[Any]
      else readEntriesWithPos(spark, root, scan.parent, others)
        .select(col(keyCol)).where(col(keyCol).isin(rest: _*)).collect()
        .iterator.map(r => keyValue(r.get(0))).toSet
    keys.iterator.map(keyValue).filter(k => scan.keys(k) || found(k)).toSet
  }

  /** The copy-on-write commit of the one-scan arm, with no job of its
    * own: the affected files are the scanned files holding a row whose
    * key is `touched` ([[keyValue]]s); their survivors (rows with an
    * untouched or NULL key, padded NULL to `writeSchema`'s evolution
    * columns) and `updates` (rows of `writeSchema`) are written on the
    * driver ([[writeRowsOnDriver]]) and committed once against the
    * scan's parent as `finish` of the child manifest. Nothing affected
    * and no updates declines to commit, unless `commitEmpty`. */
  private[graft] def commitCandidates(spark: SparkSession, root: String,
      scan: CandidateRows, touched: Set[Any],
      updates: IndexedSeq[org.apache.spark.sql.catalyst.InternalRow],
      writeSchema: StructType, statsCols: Seq[String],
      clusterCols: Seq[String], numFiles: Int, bloomCols: Seq[String],
      verb: String, op: String, commitEmpty: Boolean)(
      finish: Manifest => Manifest): Int = {
    val parent = scan.parent
    def hit(i: Int): Boolean = { val k = scan.key(i); k != null && touched(k) }
    val affected = (0 until scan.size).filter(hit).map(scan.rel).toSet
    if (!commitEmpty && affected.isEmpty && updates.isEmpty) parent.snapshot
    else {
      requireNumericStats(writeSchema, statsCols)
      val pad = Array.fill[Any](writeSchema.length - scan.schema.length)(null)
      val survivors = (0 until scan.size)
        .filter(i => affected(scan.rel(i)) && !hit(i)).map { i =>
          val row = scan.data(i)
          if (pad.isEmpty) row
          else new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(row.toSeq(scan.schema).toArray ++ pad)
        }
      val entries = writeRowsOnDriver(spark, root, writeSchema,
        survivors ++ updates, statsCols, clusterCols, numFiles, bloomCols)
      commitOnce(root, verb, parent, finish(child(parent, op,
        parent.files.filterNot(f => affected(f.path)) ++ entries)))
    }
  }

  /** Mark rows of the candidate files whose `keyCol` is touched as
    * deleted, by (file, row ordinal). Returns the per-file NEW ordinals
    * (DV-aware read, so already-deleted rows can't re-mark). Driver
    * payload is O(rows deleted by THIS commit) — the positional metadata
    * itself, not data movement; the same bound Delta's DV writer
    * carries. */
  private def dvMark(spark: SparkSession, root: String, parent: Manifest,
      keys: TouchedKeys, keyCol: String): Map[String, Array[Long]] =
    if (keys.candidates.isEmpty) Map.empty
    else keys.matching(
        readEntriesWithPos(spark, root, parent, keys.candidates)
          .select(col(keyCol), col("__rel"), col("__ri")))
      .select("__rel", "__ri").collect()
      .groupBy(_.getString(0))
      .map { case (p, rows) => p -> rows.map(_.getLong(1)) }

  /** Fold new deletion ordinals into `parent`'s entries: a marked file
    * gets a fresh immutable sidecar holding the UNION of its old and new
    * ordinals (old manifests keep pointing at the old sidecar — time
    * travel across DV commits is exact); a file whose every row is now
    * deleted drops out of the manifest entirely. */
  private def applyDvMarks(root: String, parent: Manifest,
      marks: Map[String, Array[Long]]): List[FileEntry] =
    parent.files.flatMap { f =>
      marks.get(f.path) match {
        case None => Some(f)
        case Some(newPos) =>
          val all = (f.dv.map(readDvPositions(root, _))
            .getOrElse(Array.empty[Long]) ++ newPos).distinct.sorted
          if (all.length >= f.rows) None
          else Some(f.copy(dv = Some(writeDv(root, all)),
            dvRows = Some(all.length.toLong)))
      }
    }

  /** MERGE-ON-READ row-level DELETE: instead of rewriting affected files
    * ([[delete]]), doomed rows are recorded in per-file deletion-vector
    * sidecars and readers anti-join them ([[readEntriesWithPos]]) — the
    * public Delta deletion-vector / Iceberg positional-delete design.
    * Commit cost is O(rows deleted), NOT O(bytes of touched files): an
    * update-heavy incremental pipeline at 100 TB pays kilobytes of
    * ordinals per commit where copy-on-write would rewrite gigabytes;
    * the rewrite is deferred to [[compact]] (materializeDvs), which
    * also bounds accumulated read-side DV cost. Same two-level pruning
    * on the same two arms ([[touchedKeys]]: per-key range and bloom or
    * overall range, then an exact provenance scan), the same
    * once-evaluated `deleteKeys`, and the same single-attempt
    * optimistic commit as [[delete]] — DVs derived against a superseded
    * snapshot must fail loudly, never blind-stack on someone else's
    * commit. A delete matching nothing returns the base snapshot
    * uncommitted. */
  def deleteMor(spark: SparkSession, root: String, deleteKeys: DataFrame,
      keyCol: String, baseSnapshot: Option[Int] = None): Int = {
    val parent = parentOf(root, s"delete from non-existent table $root",
      baseSnapshot)
    val marks = touchedKeys(parent, deleteKeys, keyCol, "delete")(
      dvMark(spark, root, parent, _, keyCol))
    if (marks.isEmpty) return parent.snapshot // no empty commit
    commitOnce(root, "delete_mor", parent,
      child(parent, "delete_mor", applyDvMarks(root, parent, marks)))
  }

  /** MERGE-ON-READ upsert: matched base rows are deletion-vector-marked
    * in place (no file rewrite) and ALL update rows land as fresh
    * appended files — so a commit costs O(update bytes + deleted-row
    * ordinals) regardless of how wide the touched base files are, the
    * property that makes frequent upserts viable at 100 TB.
    * [[compact]] later folds DV'd files into clean ones. The matched
    * rows are found by [[deleteMor]]'s pruning over the updates'
    * distinct key set. Same schema, determinism, and stale-snapshot
    * contracts as [[merge]]. */
  def mergeMor(spark: SparkSession, root: String, updates: DataFrame,
      keyCol: String, statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 4, baseSnapshot: Option[Int] = None,
      bloomCols: Seq[String] = Nil): Int = {
    val parent = parentOf(root, s"merge into non-existent table $root",
      baseSnapshot)
    require(shape(updates.schema) == shape(schemaOf(parent)),
      s"merge schema mismatch vs snapshot ${parent.snapshot} at $root")
    enforceChecks(updates, postImageChecks(parent, updates),
      s"in the merge post-image at $root")
    val marks = touchedKeys(parent, updates, keyCol, "merge")(
      dvMark(spark, root, parent, _, keyCol))
    val entries = writeFiles(spark, root, updates, localRows(updates),
      statsCols, clusterCols, numFiles, bloomCols,
      partSpec = partSpecOf(parent))
    commitOnce(root, "merge_mor", parent, child(parent, "merge_mor",
      applyDvMarks(root, parent, marks) ++ entries))
  }

  /** Small-file compaction as a COMMIT: files of the latest snapshot
    * holding fewer than `minRows` rows are rewritten together into
    * `numFiles` larger ones; everything else carries over by reference.
    * The rewrite's row bound is the small files' manifest live rows, so
    * a small compaction without `zorderCols` writes on [[writeFiles]]'
    * driver arm. Content-invariant by construction (same rows, new
    * layout), and old snapshots still reference the small files —
    * readable until [[expireSnapshots]] reclaims them. The maintenance
    * twin of the streaming ingest path: many tiny append commits, one
    * compact, zero reader disruption (readers of N-1 are unaffected; new
    * readers plan the compacted layout). */
  def compact(spark: SparkSession, root: String, minRows: Long,
      statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 4, bloomCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      baseSnapshot: Option[Int] = None,
      materializeDvs: Boolean = false,
      partFilter: Option[FileEntry => Boolean] = None): Int = {
    // baseSnapshot pins the derivation for the race tests (merge's seam):
    // a compact derived against a superseded file set must fail loudly,
    // never silently resurrect rows a concurrent merge/delete rewrote
    val parent = parentOf(root, s"compact of non-existent table $root",
      baseSnapshot)
    // liveRows, not rows: a file mostly eaten by deletion vectors IS a
    // small file for layout purposes. materializeDvs additionally pulls
    // every DV'd file into the rewrite — the deferred-rewrite half of the
    // merge-on-read bargain ([[deleteMor]]): DVs accumulate read-side
    // anti-join cost until one compact commit folds them away.
    // partFilter bounds the rewrite to matching PARTITIONS (OPTIMIZE ...
    // WHERE): at 100 TB a full-table rewrite is a non-starter — the
    // manifest's per-file partition tuples make the bound exact and
    // driver-side, untouched partitions carry over by reference below
    val small = parent.files.filter(f =>
      partFilter.forall(_(f)) &&
        (f.liveRows < minRows || (materializeDvs && f.dv.nonEmpty)))
    if (small.size < 2 && !small.exists(_.dv.nonEmpty))
      return parent.snapshot // nothing to gain; no empty commit
    // read through readEntries, NOT a raw parquet scan: the rewrite must
    // apply the small files' deletion vectors (materializing them), never
    // resurrect their deleted rows
    val rewritten = readEntries(spark, root, parent, small)
    // zorderCols here = OPTIMIZE ZORDER: compact with minRows =
    // Long.MaxValue reclusters the whole table into the multi-dim
    // layout as one commit, past snapshots untouched
    val entries = writeFiles(spark, root, rewritten, liveRowsOf(small),
      statsCols, clusterCols, numFiles, bloomCols, zorderCols,
      partSpec = partSpecOf(parent))
    val smallPaths = small.map(_.path).toSet
    commitOnce(root, "compact", parent, child(parent,
      if (partFilter.isDefined) "compact_where" else "compact",
      parent.files.filterNot(f => smallPaths(f.path)) ++ entries))
  }

  /** RESTORE: roll the table back to snapshot `toSnapshot` as a NEW
    * commit (the public Delta RESTORE semantic) — the live file list and
    * the pinned schema become exactly the target manifest's, but history
    * is preserved: the bad commits stay time-travelable and the restore
    * itself is an auditable entry, never a destructive rewind of the
    * manifest chain. Zero data movement at any scale: the target's files
    * are immutable and still on disk (restore to an EXPIRED snapshot is a
    * loud NoSuchFile from [[manifest]] — expireSnapshots deleted its
    * manifest, and possibly its files, precisely so nothing can silently
    * read a half-vacuumed state). Optimistic like [[append]]: the file
    * list is parent-independent, so a lost commit race rebases and
    * retries. Restoring to the current latest would be an empty commit —
    * returns the latest unchanged instead. */
  def restore(root: String, toSnapshot: Int): Int = {
    require(toSnapshot > 0, s"restore target must be >= 1, got $toSnapshot")
    val target = manifest(root, toSnapshot)
    commitRebasing(root, "restore",
        s"restore target $toSnapshot > latest 0") { parent =>
      val v = parent.snapshot
      require(toSnapshot <= v, s"restore target $toSnapshot > latest $v")
      // schema/files/checks/partitioning roll back to the target, but
      // the STREAM watermark map keeps the current latest's (monotone:
      // the target's older map would re-admit already-applied batches)
      if (toSnapshot == v) None
      else Some(child(parent, s"restore($toSnapshot)", target.files).copy(
        schemaJson = target.schemaJson, checks = target.checks,
        partitionCols = target.partitionCols,
        partitionSpec = target.partitionSpec))
    }
  }

  /** ALTER TABLE ... ADD COLUMN as a METADATA-ONLY commit: the new
    * nullable field appends to the schema, the file list is untouched,
    * and readers fill the column with NULL for every pre-alter file —
    * [[readEntries]] plans with the manifest schema, and Spark's parquet
    * reader null-fills columns a file does not carry. Add-only (and
    * nullable-only) by construction — the same evolution contract
    * `append(allowEvolution)` enforces, because existing rows cannot
    * retroactively satisfy a NOT NULL or a dropped/renamed column
    * without a rewrite. Duplicate names rejected case-insensitively
    * (the resolver's default). Optimistic commit like every other verb:
    * rebases onto concurrent appends, zero data movement at any scale. */
  def alterAddColumn(root: String, name: String, dataType: DataType): Int =
    alterAddColumns(root, Seq(name -> dataType))

  /** Multi-column form: ALL columns land in ONE commit, so a concurrent
    * reader sees the table either pre- or post-widening, never half
    * (the MERGE single-commit lesson applied to DDL). */
  def alterAddColumns(root: String,
      cols: Seq[(String, DataType)]): Int = {
    require(cols.nonEmpty, s"alter with no columns at $root")
    commitRebasing(root, "alterAddColumns",
        s"alter of non-existent table $root") { parent =>
      val widened = cols.foldLeft(schemaOf(parent)) {
        case (s0, (name, dt)) =>
          require(!s0.fieldNames.exists(_.equalsIgnoreCase(name)),
            s"column '$name' already exists at $root")
          require(!name.startsWith(DeadSentinelPrefix),
            s"column name '$name' collides with the reserved " +
              s"'$DeadSentinelPrefix' read-sentinel prefix")
          s0.add(StructField(name, dt, nullable = true))
      }
      Some(child(parent,
        s"alter_add(${cols.map(_._1).mkString(",")})", parent.files)
        .copy(schemaJson = widened.json))
    }
  }

  /** `RENAME COLUMN old TO new` as ONE metadata-only commit — zero data
    * movement (files are immutable; the most common evolution after
    * add, r12 verdict missing #4). The commit re-keys three things to
    * the new logical name: the schema field, each file's stats/bloom
    * map keys (pruning addresses logical names), and each file's
    * [[FileEntry.phys]] map, which records the WRITE-TIME physical name
    * so the read path ([[readPhysical]]) keeps resolving pre-rename
    * files correctly; files written after the rename carry no entry.
    * Chained renames compose (a→b→c keeps value `a`), and renaming back
    * to the physical name drops the entry. Time travel keeps presenting
    * each snapshot's OWN schema — a snapshot-1 read still shows the old
    * name. Type changes stay loudly rejected (a silent corruption);
    * DROP COLUMN is [[alterDropColumns]]. */
  def alterRenameColumn(root: String, oldName: String,
      newName: String): Int = {
    require(newName.nonEmpty && !newName.contains("."),
      s"invalid column name '$newName'")
    require(!newName.startsWith(DeadSentinelPrefix),
      s"column name '$newName' collides with the reserved " +
        s"'$DeadSentinelPrefix' read-sentinel prefix")
    commitRebasing(root, "alterRenameColumn",
        s"alter of non-existent table $root") { parent =>
      val schema = schemaOf(parent)
      val field = schema.fields.find(_.name.equalsIgnoreCase(oldName))
        .getOrElse(throw new NoSuchElementException(
          s"no column '$oldName' at $root " +
            s"(have ${schema.fieldNames.mkString(", ")})"))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column '$newName' already exists at $root")
      // partition column names live in the on-disk k=v directory layout
      // of every immutable file — a metadata rename cannot re-key them,
      // so it is rejected outright (Iceberg's identity-partition rule)
      partSpecOf(parent)
        .find(f => f.source.equalsIgnoreCase(field.name) ||
          f.name.equalsIgnoreCase(field.name)).foreach(pc =>
        throw new IllegalArgumentException(
          s"cannot RENAME COLUMN '${field.name}' at $root: it is a " +
            s"declared partition column or transform source " +
            s"(${pc.transform}(${pc.source}) — the k=v directory " +
            "layout of immutable files derives from the name)"))
      // a stored CHECK condition addresses logical names as TEXT: after
      // a rename it would fail analysis at the next write (or, worse,
      // bind to a re-added namesake) — reject, like dropping the column
      checksOf(parent).foreach { case (n, c) =>
        require(!checkRefs(c).contains(
          field.name.toLowerCase(java.util.Locale.ROOT)),
          s"cannot RENAME COLUMN '${field.name}' at $root: CHECK " +
            s"constraint '$n' ($c) references it — drop the " +
            "constraint first")
      }
      val renamed = StructType(schema.fields.map(f =>
        if (f.name == field.name) f.copy(name = newName) else f))
      def rekey[V](m: Map[String, V]): Map[String, V] =
        m.get(field.name) match {
          case Some(x) => (m - field.name) + (newName -> x)
          case None => m
        }
      val files2 = parent.files.map { f =>
        val ph = f.phys.getOrElse(Map.empty)
        // write-time physical name: an earlier rename's map entry, or
        // the current logical name when this file was born under it
        val writeTime = ph.getOrElse(field.name, field.name)
        val ph2 = (ph - field.name) ++
          (if (writeTime == newName) Map.empty
           else Map(newName -> writeTime))
        f.copy(mins = rekey(f.mins), maxs = rekey(f.maxs),
          bloom = f.bloom.map(rekey), phys = Option(ph2).filter(_.nonEmpty))
      }
      Some(child(parent, s"alter_rename($oldName->$newName)", files2)
        .copy(schemaJson = renamed.json))
    }
  }

  /** `DROP COLUMN` as ONE metadata-only commit — zero data movement,
    * like rename (files are immutable). The commit removes the schema
    * field, the per-file stats/bloom keys (stale stats on a later
    * re-added namesake would prune against DEAD data), the phys entry,
    * and records each file's write-time PHYSICAL name in
    * [[FileEntry.deadPhys]], so the bytes still sitting in old files can
    * never be resurrected: a later `ADD COLUMN` of the same name reads
    * pre-drop files as NULL (the [[readPhysical]] sentinel), exactly as
    * if the column were brand new — Iceberg gets this via field ids; the
    * dead-physical set is the manifest-level equivalent. Dead names ride
    * on PHYSICAL identity, so later renames never re-key them. Time
    * travel keeps presenting each snapshot's own schema: a pre-drop
    * snapshot still reads the column, and RESTORE to one resurrects it
    * wholesale (snapshot semantics — the restore target's entries carry
    * no deadness). All `names` land in one commit (the ADD COLUMNS
    * single-commit discipline). `ifExists` skips absent names instead of
    * failing; dropping every column is rejected. */
  def alterDropColumns(root: String, names: Seq[String],
      ifExists: Boolean = false): Int = {
    require(names.nonEmpty, s"alter with no columns at $root")
    commitRebasing(root, "alterDropColumns",
        s"alter of non-existent table $root") { parent =>
      val schema = schemaOf(parent)
      val fields = names.flatMap { n =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(n))
        if (f.isEmpty && !ifExists) throw new NoSuchElementException(
          s"no column '$n' at $root " +
            s"(have ${schema.fieldNames.mkString(", ")})")
        f
      }.distinct
      if (fields.isEmpty) None // IF EXISTS and nothing matched
      else {
        fields.map(_.name).find(n => partSpecOf(parent).exists(f =>
            f.source.equalsIgnoreCase(n) || f.name.equalsIgnoreCase(n)))
          .foreach(pc => throw new IllegalArgumentException(
            s"cannot DROP COLUMN '$pc' at $root: it is a declared " +
              "partition column or transform source (every file's k=v " +
              "directory layout and partition pruning depend on it)"))
        val dropNames = fields.map(_.name).toSet
        checksOf(parent).foreach { case (n, c) =>
          val hit = fields.map(_.name).find(f =>
            checkRefs(c).contains(f.toLowerCase(java.util.Locale.ROOT)))
          require(hit.isEmpty,
            s"cannot DROP COLUMN '${hit.get}' at $root: CHECK constraint " +
              s"'$n' ($c) references it — drop the constraint first")
        }
        require(dropNames.size < schema.fields.length,
          s"cannot drop every column of $root " +
            s"(${names.mkString(", ")} leaves an empty schema)")
        val narrowed =
          StructType(schema.fields.filterNot(f => dropNames(f.name)))
        val files2 = parent.files.map { f =>
          val ph = f.phys.getOrElse(Map.empty[String, String])
          val writeTime = fields.map(fd => ph.getOrElse(fd.name, fd.name))
          val dead2 =
            (f.deadPhys.getOrElse(Nil) ++ writeTime).distinct
          f.copy(mins = f.mins -- dropNames, maxs = f.maxs -- dropNames,
            bloom = f.bloom.map(_ -- dropNames).filter(_.nonEmpty),
            phys = Option(ph -- dropNames).filter(_.nonEmpty),
            deadPhys = Some(dead2))
        }
        Some(child(parent,
          s"alter_drop(${fields.map(_.name).mkString(",")})", files2)
          .copy(schemaJson = narrowed.json))
      }
    }
  }

  /** Iceberg's PUBLIC safe-promotion matrix, the ONLY type changes
    * `ALTER COLUMN ... TYPE` admits: every stored value of the narrow
    * type is exactly representable in the wide one, so a metadata-only
    * widening can never change a value — anything else (narrowing,
    * re-interpretation, string casts) stays loudly rejected, because a
    * silent type change is a silent corruption (the r13 rename/drop
    * pin). */
  private[graft] def safeWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType,
        org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }

  /** `ALTER COLUMN ... TYPE` restricted to [[safeWidening]] — ONE
    * metadata-only commit riding the epoch read machinery (r15 verdict
    * missing #2): the schema field widens, every file is carried BY
    * REFERENCE, and [[readPhysical]] reads pre-widen files through the
    * widened logical schema (Spark 4's Parquet readers perform the
    * int32→int64 / float→double promotion natively — the same reader
    * contract Delta's type widening rides). The classic case this
    * exists for: a 100 TB table whose int `count` column approaches
    * overflow — without it the only path was a full rewrite.
    *
    * Per-file metadata survives unchanged BY REPRESENTATION: range
    * stats are stored as doubles (both matrix entries embed exactly),
    * and bloom keys hash the long/string cast, which agrees between
    * int-written and long-read values — so stats pruning and bloom
    * point-lookups keep working across the widen with no re-key. Time
    * travel presents each snapshot's own type (pre-widen reads are
    * int), and RESTORE across the widen restores the narrow schema
    * wholesale, snapshot semantics. */
  def alterWidenColumnType(root: String, name: String,
      to: DataType): Int =
    commitRebasing(root, "alterWidenColumnType",
        s"alter of non-existent table $root") { parent =>
      val schema = schemaOf(parent)
      val field = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new NoSuchElementException(
          s"no column '$name' at $root " +
            s"(have ${schema.fieldNames.mkString(", ")})"))
      require(safeWidening(field.dataType, to),
        s"cannot ALTER COLUMN '${field.name}' TYPE at $root: " +
          s"${field.dataType.sql} -> ${to.sql} is outside the safe " +
          "widening matrix (INT -> BIGINT, FLOAT -> DOUBLE) — any other " +
          "change re-interprets stored bytes; rewrite the table instead")
      // bucket sources stay integral under int→long and the prime-mod
      // assignment reads through cast("long") either way; identity
      // partition DIRECTORY strings are decimal renderings shared by
      // both types — the layout is invariant, so no partition guard
      val widened = StructType(schema.fields.map(f =>
        if (f.name == field.name) f.copy(dataType = to) else f))
      Some(child(parent,
        s"alter_widen(${field.name}:${field.dataType.simpleString}->" +
          s"${to.simpleString})", parent.files)
        .copy(schemaJson = widened.json))
    }

  /** `CREATE OR REPLACE` — redefine the table WHOLESALE as ONE commit:
    * new schema, new rows, new checks, new partition spec all land
    * atomically (op `replace`), while HISTORY stays intact — every
    * pre-replace snapshot keeps its own schema and files for time
    * travel/RESTORE, and storage reclaims via ordinary snapshot expiry
    * (the Delta CREATE OR REPLACE contract: a versioned redefinition,
    * never a drop+create that severs history). The STREAM watermark
    * map deliberately carries (monotone — the truncate/restore rule):
    * a replaced table is still the same table to a checkpointed
    * streaming query, which must not re-admit applied batches.
    * Optimistic like every verb. */
  def replaceTable(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String], clusterCols: Seq[String],
      numFiles: Int = 4, bloomCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      checks: Map[String, String] = Map.empty,
      partitionSpec: Seq[PartField] = Nil): Int = {
    val absent = s"REPLACE of non-existent table $root — use create"
    require(latestSnapshot(root) > 0, absent)
    validatePartSpec(df.schema, partitionSpec, root)
    checks.keys.groupBy(_.toLowerCase(java.util.Locale.ROOT)).values
      .find(_.size > 1).foreach(dup => throw new IllegalArgumentException(
        s"CHECK constraint names must be unique case-insensitively; " +
          s"got ${dup.toSeq.sorted.mkString(", ")} at $root"))
    checks.keys.foreach(n => requireCheckRefsExist(df.schema, n, checks(n)))
    enforceChecks(df, checks, s"in REPLACE at $root")
    val entries = writeFiles(spark, root, df, localRows(df),
      statsCols, clusterCols, numFiles, bloomCols, zorderCols,
      partitionSpec)
    commitRebasing(root, "replaceTable", absent) { parent =>
      Some(child(parent, "replace", entries).copy(
        schemaJson = df.schema.json,
        checks = Option(checks).filter(_.nonEmpty),
        partitionCols =
          Option(partitionSpec.map(_.name).toList).filter(_.nonEmpty),
        partitionSpec = Option(partitionSpec.toList)
          .filter(_.exists(_.transform != "identity"))))
    }
  }

  /** `TRUNCATE TABLE` — drop every live row as ONE metadata-only commit
    * (files = none; schema, checks, partition spec and stream
    * watermarks all carry — the table stays itself, just empty). The
    * files remain on disk referenced by HISTORY: time travel to any
    * pre-truncate snapshot still reads them, RESTORE resurrects them
    * wholesale, and row-level CDC reports the truncate as deletes —
    * storage is reclaimed by the ordinary snapshot-expiry path, never
    * here (the lakehouse TRUNCATE contract: a logical clear, not an
    * rm -rf). Optimistic like every verb; truncating an already-empty
    * table declines to commit (the no-empty-commit rule). */
  def truncate(root: String): Int =
    commitRebasing(root, "truncate",
        s"TRUNCATE of non-existent table $root") { parent =>
      Option.when(parent.files.nonEmpty)(child(parent, "truncate", Nil))
    }

  /** `ANALYZE TABLE` — persist optimizer statistics into the manifest
    * (r15 verdict missing #4): table-level exact live `rowCount` (the
    * manifest knows it without a scan) and `sizeInBytes` = on-disk
    * bytes scaled by the live-row fraction (a DV-eaten file's bytes
    * overstate its live data — the exact case where the file-size
    * heuristic mis-sizes a broadcast), plus per-column NDV
    * (approximate, HLL++ — the same estimator Spark's own ANALYZE FOR
    * COLUMNS ships) / min / max / null count for `cols`. One aggregate
    * pass over the live rows for the column stats; zero scan when
    * `cols` is empty. The stats ride every later commit unchanged
    * (see [[Manifest]]'s `child` note: exact at the analyzed snapshot,
    * an estimate after — re-ANALYZE refreshes). Surfaced to the
    * optimizer at the registered-name read seam
    * ([[graft.sql.GraftStats]]). */
  def analyzeStats(spark: SparkSession, root: String,
      cols: Seq[String] = Nil): Int = {
    val absent = s"ANALYZE of non-existent table $root"
    val m0 = parentOf(root, absent)
    val schema = schemaOf(m0)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"ANALYZE column '$c' is not in the schema at $root " +
        s"(have ${schema.fieldNames.mkString(", ")})"))
    val rows = m0.files.map(_.liveRows).sum
    val rawRows = math.max(1L, m0.files.map(_.rows).sum)
    val diskBytes = m0.files.map { f =>
      val p = Paths.get(dataPath(root, f.path))
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    val liveBytes =
      math.ceil(diskBytes.toDouble * rows / rawRows).toLong
    // min/max persist only for types whose catalog-string round-trip is
    // the one Spark's own ANALYZE ships (numeric/boolean/date) —
    // strings and timestamps get NDV/nulls only, exactly like Spark's
    // column stats, so the read-side CatalogColumnStat can never choke
    // parsing an external form Spark never emits
    def rangeSafe(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.FloatType |
          org.apache.spark.sql.types.DoubleType |
          org.apache.spark.sql.types.BooleanType |
          org.apache.spark.sql.types.DateType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    val colStats: Map[String, String] =
      if (cols.isEmpty) Map.empty
      else {
        val aggs = cols.flatMap(c => Seq(
          approx_count_distinct(col(c)).as(s"ndv.$c"),
          min(col(c)).cast("string").as(s"min.$c"),
          max(col(c)).cast("string").as(s"max.$c"),
          count(when(col(c).isNull, 1)).as(s"nulls.$c")))
        val r = read(spark, root).agg(aggs.head, aggs.tail: _*).head()
        cols.flatMap { c =>
          val ranged = rangeSafe(schema(c).dataType)
          Seq(
            s"ndv.$c" -> r.getAs[Long](s"ndv.$c").toString,
            s"nulls.$c" -> r.getAs[Long](s"nulls.$c").toString) ++
            (if (!ranged) Nil
             else Option(r.getAs[String](s"min.$c")).map(s"min.$c" -> _) ++
               Option(r.getAs[String](s"max.$c")).map(s"max.$c" -> _))
        }.toMap
      }
    val stats = Map(
      "rowCount" -> rows.toString,
      "sizeInBytes" -> liveBytes.toString) ++ colStats
    commitRebasing(root, "analyzeStats", absent) { parent =>
      Some(child(parent, "analyze", parent.files)
        .copy(tableStats = Some(stats)))
    }
  }

  /** Snapshot expiration + vacuum: drop every manifest with id <
    * `keepFrom`, then delete the data files no surviving manifest
    * references. Time travel to expired snapshots stops working (their
    * manifests are gone — loud FileNotFound, never silent wrong data);
    * every surviving snapshot is untouched because its files are, by
    * definition, still referenced. Deletion order matters for crash
    * safety: manifests first, then files — a crash mid-vacuum leaves
    * harmless orphans (invisible to readers), never a live manifest
    * pointing at deleted files. */
  def expireSnapshots(root: String, keepFrom: Int): Int = {
    val latest = latestSnapshot(root)
    require(keepFrom <= latest, s"keepFrom $keepFrom > latest $latest")
    // tagged snapshots are retention roots (see [[tag]]); so are branch
    // FORK POINTS (an unpublished branch's parent chain must stay
    // resolvable) — both survive any keepFrom until released
    val tagged = tags(root).values.toSet ++ branches(root).values
    val expired = (1 until keepFrom).filter(v =>
      !tagged(v) && Files.exists(manifestPath(root, v)))
    // existence-filter like history()/snapshotAsOf(): after an earlier
    // expire with a larger keepFrom, ids below it are already gone — a
    // later call with a smaller keepFrom must no-op, not NoSuchFile
    // dv sidecars are reference-counted exactly like data files: an
    // expired manifest's superseded sidecar is reclaimable, a sidecar any
    // surviving manifest still points at is not
    val live = (((keepFrom to latest) ++ tagged.filter(_ < keepFrom))
      .filter(v => Files.exists(manifestPath(root, v)))
      .flatMap(v => manifest(root, v).files
        .flatMap(f => f.path :: f.dv.toList)) ++
      // unpublished branch commits keep their files live, like tags
      branchLiveFiles(root)).toSet
    val dead = expired
      .flatMap(v => manifest(root, v).files
        .flatMap(f => f.path :: f.dv.toList)).toSet -- live
    expired.foreach(v => Files.delete(manifestPath(root, v)))
    // borrowed (absolute-path) entries of a shallow clone are NOT owned:
    // vacuum on the clone must never reach into the source's storage
    val owned = dead.filterNot(_.startsWith("/"))
    owned.foreach(p => deleteWithCrc(Paths.get(root, p)))
    owned.size
  }

  /** Delete a data file or dv sidecar together with the Hadoop checksum
    * sidecar (`.<name>.crc`) the distributed writer leaves next to it. */
  private def deleteWithCrc(f: java.nio.file.Path): Unit = {
    Files.deleteIfExists(f)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  /** Delete data files referenced by NO live manifest — the leftovers of
    * failed/abandoned writes and lost commit races (writeFiles lands
    * files BEFORE the commit link, so a crash in between strands them).
    * Readers plan from manifests and never see orphans; this is pure
    * space reclamation, the Iceberg `remove_orphan_files` maintenance
    * twin of [[expireSnapshots]] (which reclaims files of EXPIRED
    * manifests — the two sets are disjoint by construction).
    *
    * Safety gate: `olderThanMs` skips files younger than that mtime age
    * — an in-flight writer has landed its files but not yet linked its
    * manifest, and sweeping those would break its commit. Production
    * formats use the same age heuristic; 0 (sweep everything, test-only)
    * must only be used when no writer can be in flight. A swept file
    * takes its `.crc` sidecar with it; commit dirs left with no data
    * file and nothing younger than the cutoff (e.g. only _SUCCESS/.crc
    * markers remain) are removed with their markers. Returns the number
    * of data files deleted. */
  def removeOrphans(root: String, olderThanMs: Long): Int = {
    val latest = latestSnapshot(root)
    val live = ((1 to latest)
      .filter(v => Files.exists(manifestPath(root, v)))
      .flatMap(v => manifest(root, v).files
        .flatMap(f => f.path :: f.dv.toList)) ++
      // unpublished branch commits reference real files too — sweeping
      // them would corrupt the branch before its audit ever ran
      branchLiveFiles(root)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    // a partitioned write that crashed between staging and the moves
    // leaves a `.stage-<uuid>` directory OUTSIDE data/ — never
    // referenced by any manifest (moves mint fresh names), so it is
    // pure reclaimable space; the same age gate protects an in-flight
    // writer's stage
    // a publish that died between staging and its link or rename
    // strands its `.tmp-` file in `_graft/`, referenced by nothing; the
    // `.rebase-` files are rebaseBranch's recovery copy and stay
    Option(metaDir(root).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".tmp-") &&
        f.lastModified() <= cutoff)
      .foreach(f => Files.deleteIfExists(f.toPath))
    var removed = 0
    val rootDir = Paths.get(root)
    if (Files.isDirectory(rootDir)) {
      import scala.jdk.CollectionConverters._
      Files.list(rootDir).iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(".stage-") &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toList.foreach { p =>
          val n = Files.walk(p).iterator().asScala
            .count(f => Files.isRegularFile(f) &&
              f.getFileName.toString.endsWith(".parquet"))
          graft.util.AppCleanup.recursiveDelete(p.toFile)
          removed += n
        }
    }
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return removed
    val rootPath = Paths.get(root)
    import scala.jdk.CollectionConverters._
    val commitDirs = Files.list(dataDir).iterator().asScala.toList
    for (cd <- commitDirs if Files.isDirectory(cd)) {
      val files = Files.walk(cd).iterator().asScala
        .filter(Files.isRegularFile(_)).toList
      // parquet data files and .bin dv sidecars are sweep candidates
      // (a crashed delete_mor strands its sidecar exactly like a crashed
      // write strands its parquet), each swept with its .crc; a live
      // file keeps its own. A dir with no data file left and nothing
      // younger than the cutoff (e.g. one expireSnapshots emptied down
      // to _SUCCESS/.crc markers) goes whole
      val parquets = files.filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") || n.endsWith(".bin")
      }
      val (kept, sweep) = parquets.partition { f =>
        live(rootPath.relativize(f).toString) ||
          Files.getLastModifiedTime(f).toMillis > cutoff
      }
      sweep.foreach { f => deleteWithCrc(f); removed += 1 }
      if (kept.isEmpty && files.forall(f => !Files.exists(f) ||
          Files.getLastModifiedTime(f).toMillis <= cutoff))
        Files.walk(cd).iterator().asScala.toList.reverse
          .foreach(p => Files.deleteIfExists(p))
    }
    removed
  }

  /** Commit history of the retained snapshots, newest first — the
    * DESCRIBE HISTORY equivalent: snapshot id, parent, operation,
    * commit timestamp (null for pre-stamp manifests), file count, and
    * live row count per snapshot. Driver-side manifest reads only; no
    * Spark jobs. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val latest = latestSnapshot(root)
    (1 to latest)
      .filter(v => Files.exists(manifestPath(root, v)))
      .map { v =>
        val m = manifest(root, v)
        // liveRows: a DV'd snapshot's row count reflects what a reader
        // gets, not the physical bytes (identical for DV-free history)
        (m.snapshot, m.parent, m.op, m.committedAtMs,
          m.files.size, m.files.map(_.liveRows).sum)
      }
      .sortBy(-_._1)
      .toDF("snapshot", "parent", "op", "committed_at_ms",
        "n_files", "n_rows")
  }

  /** Register a snapshot read as a temp view so the table is reachable
    * from `spark.sql` (time travel via `snapshot`). Deliberately NOT a
    * DSv2 connector: the manifest-planned read below IS a plain
    * vectorized parquet FileScan with pushdown/codegen intact, which a
    * custom DSv2 partition reader would forfeit for no semantic gain —
    * the format's value is in the metadata layer, not the row path. */
  def registerView(spark: SparkSession, name: String, root: String,
      snapshot: Option[Int] = None): Unit =
    read(spark, root, snapshot).createOrReplaceTempView(name)

  /** The newest snapshot committed at or before `tsMs` (AS OF TIMESTAMP
    * resolution). Scans present manifest ids and keeps the max eligible
    * id — see the [[Manifest.committedAtMs]] note on why ids, not
    * timestamps, are the scan axis. Pre-stamp manifests (no commit time
    * recorded) are treated as epoch 0, i.e. always eligible. Fails
    * loudly when `tsMs` predates the table. */
  def snapshotAsOf(root: String, tsMs: Long): Int = {
    val latest = latestSnapshot(root)
    require(latest > 0, s"no table at $root")
    val retained = (1 to latest)
      .filter(v => Files.exists(manifestPath(root, v)))
    val eligible = retained
      .filter(v => manifest(root, v).committedAtMs.getOrElse(0L) <= tsMs)
    require(eligible.nonEmpty,
      s"timestamp $tsMs predates every retained snapshot of $root")
    val r = eligible.max
    // vacuumed-gap guard (r12 latent-divergence audit): when snapshots
    // between the resolved id and the next retained one were EXPIRED,
    // their stamps are gone with their manifests — a probe strictly
    // inside (stamp(r), stamp(next)) may have landed on one of them, and
    // resolving r would present a state that was historically already
    // superseded. Stamps are strictly increasing along the commit chain
    // (tryCommit), so a probe AT stamp(r) exactly is still provably r;
    // anything later inside a gap is unknowable — fail loudly, never
    // silently resolve a neighbor.
    retained.filter(_ > r).headOption.foreach { next =>
      if (next != r + 1 &&
          tsMs > manifest(root, r).committedAtMs.getOrElse(0L))
        throw new IllegalStateException(
          s"timestamp $tsMs falls between retained snapshots $r and " +
            s"$next of $root, but the snapshots in between were expired " +
            "- the historically-live state is unknowable (expireSnapshots " +
            "deleted their commit stamps); probe a retained snapshot's " +
            "stamp or use snapshot-addressed time travel")
    }
    r
  }

  /** Timestamp time travel: read the table as of wall-clock `tsMs`. */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    read(spark, root, Some(snapshotAsOf(root, tsMs)))

  /** Read a snapshot (latest when `snapshot` is None). Plans purely from
    * the manifest's file list — orphaned files in `data/` are invisible.
    * An empty file list still yields a correctly-typed empty frame. */
  def read(spark: SparkSession, root: String,
      snapshot: Option[Int] = None): DataFrame = {
    val v = snapshot.getOrElse(latestSnapshot(root))
    val m = manifest(root, v)
    readEntries(spark, root, m, m.files)
  }

  private[table] def readEntries(spark: SparkSession, root: String, m: Manifest,
      files: List[FileEntry]): DataFrame = {
    val schema = schemaOf(m)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)
    else if (files.forall(_.dv.isEmpty))
      // fast path — identical plan to the pre-DV format: a plain
      // vectorized parquet scan, zero metadata-column or join overhead
      // (readPhysical collapses to ONE scan when no file carries a
      // rename map)
      readPhysical(spark, root, schema, files, partSpec = partSpecOf(m))
    else readEntriesWithPos(spark, root, m, files).drop("__rel", "__ri")
  }

  /** Scan `files` presenting LOGICAL column names: files whose `phys`
    * map records write-time names (pre-RENAME files) are read with the
    * physical schema and re-labeled positionally. One scan per DISTINCT
    * rename epoch (= number of renames + 1, a handful), unioned — never
    * per file, so the plan stays O(epochs) at any file count; parquet
    * reads columns by name, so a single logical-schema scan over
    * pre-rename files would silently read the renamed column as
    * all-NULL, exactly the failure this split exists to prevent.
    *
    * `project` runs on each epoch's physical-name scan BEFORE the
    * positional relabel to `outNames` — the DV-aware read appends its
    * metadata columns there. ONE copy of the epoch machinery for both
    * read paths (review finding, r13).
    *
    * The per-file effective map folds in DROP COLUMN deadness: a field
    * whose resolved physical name is in the file's [[FileEntry.deadPhys]]
    * set, or whose identity name is claimed as ANOTHER logical column's
    * write-time physical (RENAME x→y then ADD x: the file's physical `x`
    * holds y's data), is remapped to a sentinel name guaranteed absent
    * from the file — the vectorized scan then presents it as NULL, the
    * same shape an added-after-write column gets. Without the second
    * clause the physical schema would carry DUPLICATE names and the scan
    * would fail outright on a legal DDL sequence. */
  private def readPhysical(spark: SparkSession, root: String,
      schema: StructType, files: List[FileEntry],
      project: DataFrame => DataFrame = identity,
      extraNames: Seq[String] = Nil,
      partSpec: Seq[PartField]): DataFrame = {
    val outNames = schema.fieldNames.toSeq ++ extraNames
    // hidden-transform partition fields: present in directory names and
    // the scan's partition schema (pinned to STRING — the written form —
    // so per-population type inference can never drift), absent from the
    // logical output. They ride through the scan so predicates mapped by
    // GraftPartPrune land as real PartitionFilters, then drop at the
    // `ordered` projection.
    val hidden = partSpec.filter(f => !schema.fieldNames.contains(f.name))
      .map(f => StructField(f.name, org.apache.spark.sql.types.StringType))
    // any read of a transform-partitioned table arms the predicate
    // mapper in this session — TVF root-path and DSL reads included,
    // not just registered names (the rule is a no-op on other plans)
    if (hidden.nonEmpty) graft.sql.GraftPartPrune.ensure(spark)
    // partitioned tables scan with basePath so Spark's partition
    // discovery fills the k=v columns and the FileScan carries real
    // PartitionFilters; the base is derived per FILE because a shallow
    // clone's borrowed entries live under the SOURCE's data dir
    def baseOf(f: FileEntry): String =
      if (partSpec.isEmpty) ""
      else {
        val full = dataPath(root, f.path)
        full.substring(0, full.length - relSuffix(full).length) + "data"
      }
    def scan(key: (Map[String, String], String),
        fs: List[FileEntry]): DataFrame = {
      val (ph, base) = key
      val physData = schema.fields.map(f =>
        ph.get(f.name).map(p => f.copy(name = p)).getOrElse(f))
      val physSchema = StructType(physData ++ hidden)
      val reader0 = spark.read.schema(physSchema)
      val reader =
        if (partSpec.isEmpty) reader0 else reader0.option("basePath", base)
      val projected = project(
        reader.parquet(fs.map(f => dataPath(root, f.path)): _*))
      // partition columns come back at the END of the scan output
      // regardless of their declared position — reorder into schema
      // order (plus the projected extras) BEFORE the positional relabel,
      // dropping hidden transform fields from the logical output
      val ordered =
        if (partSpec.isEmpty) projected
        else projected.select(
          (physData.map(_.name).toSeq ++ extraNames).map(col): _*)
      if (ph.isEmpty && partSpec.isEmpty) ordered
      else ordered.toDF(outNames: _*)
    }
    val groups = files.groupBy { f =>
      val ph = f.phys.getOrElse(Map.empty[String, String])
      val dead = f.deadPhys.getOrElse(Nil).toSet
      val claimed = ph.values.toSet
      (schema.fieldNames.iterator.flatMap { n =>
        val p = ph.getOrElse(n, n)
        if (dead(p) || (!ph.contains(n) && claimed(p)))
          Some(n -> (DeadSentinelPrefix + n))
        else if (p != n) Some(n -> p)
        else None
      }.toMap, baseOf(f))
    }
    if (groups.size == 1) scan(groups.head._1, groups.head._2)
    else groups.toSeq.sortBy(g => (g._1._1.size, g._1._2))
      .map((scan _).tupled)
      .reduce(_ unionByName _)
  }

  /** Resolve an entry's data path: a SHALLOW CLONE ([[cloneTable]])
    * stores BORROWED files as absolute paths into the source root;
    * everything else is root-relative. */
  private[table] def dataPath(root: String, p: String): String =
    if (p.startsWith("/")) p else s"$root/$p"

  /** The table-relative tail of a stored/scanned path: a flat commit
    * dir (`data/c-<uuid>/<file>`) or 1–2 partition dirs under data
    * (`data/<k=v>[/<k=v>]/c-<uuid>.parquet`). The alternatives carry
    * DISCRIMINATING shapes (`c-` file-dir prefix vs `=` in partition
    * dirs), so a root that itself lives under a directory named `data`
    * can never shift the match leftward — the same property the
    * original fixed three-segment regex relied on. Shared verbatim
    * with the positional read's in-plan `regexp_extract`. */
  private[table] val RelSuffixPattern =
    "(data/(?:c-[^/]+|[^/=]+=[^/]*(?:/[^/=]+=[^/]*){0,3})/[^/]+)$"
  private val RelSuffixRe = RelSuffixPattern.r

  /** The suffix of a stored path per [[RelSuffixPattern]]; equals the
    * stored path itself for owned (relative) entries. */
  private[table] def relSuffix(p: String): String =
    RelSuffixRe.findFirstIn(p).getOrElse(p)

  /** Prefix for read-side sentinel column names ([[readPhysical]]): never
    * a real physical name — [[alterAddColumns]]/[[alterRenameColumn]]
    * reject user columns under this prefix, so a sentinel lookup in a
    * parquet file is absent by construction and scans NULL. */
  private[graft] val DeadSentinelPrefix = "__graft_dead__"

  /** DV-aware read that keeps each row's provenance: `__rel` (the file's
    * table-relative path) and `__ri` (the row's ordinal within it), from
    * Spark's parquet `_metadata.file_path` / `_metadata.row_index`
    * columns — the native primitive positional deletes need (the scan
    * stays vectorized; the hidden columns cost no extra I/O). Rows whose
    * (file, ordinal) appear in a referenced deletion vector are dropped
    * by a broadcast anti-join. Driver/broadcast payload is O(deleted
    * ordinals across the files read) — DV size is bounded by compaction
    * ([[compact]] materializes DVs), the same discipline that caps
    * Delta's DV cardinality; a production variant would map sidecar loads
    * into the scan tasks, changing nothing about this plan shape. */
  private[table] def readEntriesWithPos(spark: SparkSession, root: String,
      m: Manifest, files: List[FileEntry]): DataFrame = {
    import spark.implicits._
    val schema = schemaOf(m)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add("__rel", "string").add("__ri", "long"))
    // the shared rename-epoch scan, with the positional provenance
    // columns appended per epoch: table-relative path derived IN the
    // plan, so the match with FileEntry.path is scheme/root-form
    // independent (file_path is a URI; the manifest stores
    // data/c-<uuid>/<part> suffixes)
    val base0 = readPhysical(spark, root, schema, files,
      project = df => df.select(col("*"),
        regexp_extract(col("_metadata.file_path"),
          RelSuffixPattern, 1).as("__rel"),
        col("_metadata.row_index").as("__ri")),
      extraNames = Seq("__rel", "__ri"),
      partSpec = partSpecOf(m))
    // borrowed (clone) entries store ABSOLUTE paths while the regex
    // yields the data/c- suffix: remap __rel to the STORED path so
    // every downstream comparison against FileEntry.path keeps holding;
    // guarded so owned-only reads keep their exact plan
    val base =
      if (files.forall(f => f.path == relSuffix(f.path))) base0
      else {
        val names = base0.columns.filter(_ != "__rel").toSeq
        val mapDf = files.map(f => (relSuffix(f.path), f.path))
          .toDF("__rel", "__stored")
        base0.join(broadcast(mapDf), Seq("__rel"))
          .select((names.map(col) :+ col("__stored").as("__rel")): _*)
          .select(base0.columns.map(col): _*)
      }
    val dvd = files.filter(_.dv.nonEmpty)
    if (dvd.isEmpty) base
    else {
      val dvDf = dvd.flatMap(f =>
          readDvPositions(root, f.dv.get).map(p => (f.path, p)))
        .toDF("__rel", "__ri")
      base.join(broadcast(dvDf), Seq("__rel", "__ri"), "left_anti")
    }
  }

  /** Stats-pruned read: only files whose [min,max] of `colName` overlaps
    * [lo, hi] are handed to the scan (the exact row-level predicate is
    * still the caller's to apply — pruning is file-granular). Returns the
    * frame plus (files read, files total) so tests and callers can assert
    * skipping actually happened. */
  def readWhere(spark: SparkSession, root: String, colName: String,
      lo: Double, hi: Double,
      snapshot: Option[Int] = None): (DataFrame, Int, Int) = {
    val v = snapshot.getOrElse(latestSnapshot(root))
    val m = manifest(root, v)
    val kept = m.files.filter(f =>
      f.maxs.get(colName).forall(_ >= lo) &&
        f.mins.get(colName).forall(_ <= hi))
    (readEntries(spark, root, m, kept), kept.size, m.files.size)
  }

  /** Point-lookup read: files survive only if BOTH their [min,max] range
    * admits at least one probe key AND (when the file carries a bloom for
    * `colName`) the bloom reports a possible hit for at least one key.
    * Min/max prunes clustered layouts; the bloom is what prunes files
    * whose key RANGE is wide but whose key SET is sparse — the append-
    * heavy shape where range stats degenerate to near-global. No false
    * negatives by bloom construction, so correctness never depends on
    * the filter; the caller still applies the exact row predicate. */
  def readWhereKeyIn(spark: SparkSession, root: String, colName: String,
      keys: Seq[Long],
      snapshot: Option[Int] = None): (DataFrame, Int, Int) = {
    val v = snapshot.getOrElse(latestSnapshot(root))
    val m = manifest(root, v)
    val kept = m.files.filter { f =>
      val rangeAdmits = keys.exists(k =>
        f.maxs.get(colName).forall(_ >= k.toDouble) &&
          f.mins.get(colName).forall(_ <= k.toDouble))
      val bloomAdmits = f.bloom.flatMap(_.get(colName)) match {
        case Some(b64) => keys.exists(k => bloomMayContain(b64, k))
        case None => true
      }
      rangeAdmits && bloomAdmits
    }
    (readEntries(spark, root, m, kept), kept.size, m.files.size)
  }

  /** Point-lookup read on a STRING key column (gid-keyed entity tables).
    * Strings carry no range stats (min/max here are numeric doubles), so
    * pruning is bloom-only: a file survives unless its bloom excludes
    * every probe key; files without a bloom for `colName` always
    * survive. No false negatives by construction — the caller still
    * applies the exact row predicate. */
  def readWhereKeyInStr(spark: SparkSession, root: String, colName: String,
      keys: Seq[String],
      snapshot: Option[Int] = None): (DataFrame, Int, Int) = {
    val v = snapshot.getOrElse(latestSnapshot(root))
    val m = manifest(root, v)
    val kept = m.files.filter { f =>
      f.bloom.flatMap(_.get(colName)) match {
        case Some(b64) => keys.exists(k => bloomMayContainStr(b64, k))
        case None => true
      }
    }
    (readEntries(spark, root, m, kept), kept.size, m.files.size)
  }

  /** Rows in files added after `fromSnapshot`, up to and including
    * `toSnapshot` — the incremental-consumption primitive. For
    * append-only history this is EXACT row-level CDC (appended files hold
    * exactly the appended rows); across a merge the granularity is the
    * rewritten file (its unchanged survivor rows reappear), which is the
    * standard file-format CDC contract absent row-level delete vectors. */
  def changesBetween(spark: SparkSession, root: String, fromSnapshot: Int,
      toSnapshot: Int): DataFrame = {
    val from = manifest(root, fromSnapshot).files.map(_.path).toSet
    val to = manifest(root, toSnapshot)
    readEntries(spark, root, to, to.files.filterNot(f => from(f.path)))
  }

  /** ROW-level CDC (the Delta CDF model): every change between
    * `fromSnapshot` (exclusive) and `toSnapshot` (inclusive) as table
    * rows plus `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} and `_commit_snapshot`. Computed per commit step
    * from the manifest file diff — appends emit their files' rows as
    * inserts (exact, zero extra I/O beyond the rows themselves); merge
    * and delete commits diff the REWRITTEN files against their removed
    * predecessors with a full-outer join on `keyCol`: a key present only
    * before is a delete, only after an insert, present in both with any
    * differing column an update pre/post pair — carried-over survivor
    * rows (old = new) emit nothing, which is what file-level CDC
    * ([[changesBetween]]) cannot do. Compact commits are layout-only and
    * emit nothing.
    *
    * Contract: `keyCol` must be row-unique within the affected files on
    * both sides (the same upsert contract [[merge]] enforces
    * semantically); the per-step diff joins only rewritten-file rows, so
    * cost scales with the commits' touched data, not table size. Works
    * across add-only schema evolution — pre-evolution change rows
    * null-fill the later columns. `fromSnapshot = 0` means full history:
    * the create commit's step diffs against an empty parent, so its rows
    * arrive as inserts. Every manifest in `fromSnapshot..toSnapshot`
    * must still be retained — an expired range fails loudly rather than
    * silently skipping commits. */
  def changesBetweenRows(spark: SparkSession, root: String,
      fromSnapshot: Int, toSnapshot: Int, keyCol: String): DataFrame = {
    require(fromSnapshot >= 0 && fromSnapshot < toSnapshot,
      s"need 0 <= fromSnapshot < toSnapshot, got $fromSnapshot, $toSnapshot")
    (math.max(fromSnapshot, 1) to toSnapshot).foreach(v => require(
      Files.exists(manifestPath(root, v)),
      s"snapshot $v of $root expired; row-level CDC over $fromSnapshot.." +
        s"$toSnapshot is unreconstructible"))
    // ---- op-derived column-name maps (never positional guessing) ----
    // Evolution is tracked without field ids by replaying what each
    // commit DID: renames come from the op record, add/drop from set
    // intersection, and a RESTORE from the INVERSE of the composed map
    // back to its target (recursion bounded — targets strictly
    // precede). The earlier schema-shape heuristics mislabeled a
    // restore across a same-width drop-then-add (r13 review finding).
    val namesMemo = scala.collection.mutable.Map.empty[Int, Seq[String]]
    def namesAt(w: Int): Seq[String] = namesMemo.getOrElseUpdate(w,
      schemaOf(manifest(root, w)).fieldNames.toSeq)
    def fieldsAt(w: Int): Map[String, DataType] =
      schemaOf(manifest(root, w)).fields
        .map(f => f.name -> f.dataType).toMap
    val renameRe = """alter_rename\((.+)->(.+)\)""".r
    val restoreRe = """restore\((\d+)\)""".r
    // names at w-1 -> names at w for ONE commit; absent = not
    // presentable past w (dropped, or never existed at a restore target)
    def stepNameMap(w: Int): Map[String, String] = {
      val prev = namesAt(w - 1)
      val cur = namesAt(w).toSet
      manifest(root, w).op match {
        case renameRe(o, n) =>
          prev.flatMap(c => if (c == o) Some(c -> n)
            else if (cur(c)) Some(c -> c) else None).toMap
        case "replace" =>
          // a REDEFINITION carries a column across only when name AND
          // type survive it — a same-name column of a different type is
          // a new column wearing an old name, and presenting old values
          // through it would union mismatched types downstream
          val pt = fieldsAt(w - 1); val ct = fieldsAt(w)
          prev.filter(c => ct.get(c).exists(t => pt.get(c).contains(t)))
            .map(c => c -> c).toMap
        case restoreRe(k) =>
          require(Files.exists(manifestPath(root, k.toInt)),
            s"row-level CDC across the restore at commit $w of $root " +
              s"needs snapshot ${k.toInt}'s manifest (expired)")
          mapBetween(k.toInt, w - 1).map(_.swap)
        case _ => prev.filter(cur).map(c => c -> c).toMap
      }
    }
    // composed names-at-a -> names-at-b map (a <= b); injective, so the
    // restore inverse above is well-defined
    def mapBetween(a: Int, b: Int): Map[String, String] =
      ((a + 1) to b).foldLeft(namesAt(a).map(c => c -> c).toMap) {
        (acc, w) =>
          val pm = stepNameMap(w)
          acc.flatMap { case (orig, cu) => pm.get(cu).map(orig -> _) }
      }
    val steps = ((fromSnapshot + 1) to toSnapshot).map { v =>
      val cur = manifest(root, v)
      val prev =
        if (v == 1) cur.copy(snapshot = 0, files = Nil) // pre-create: empty
        else manifest(root, v - 1)
      // identity is (path, dv, phys, deadPhys), not path alone: a
      // merge-on-read commit changes a file's ROW SET by repointing its
      // deletion vector while the physical path stays put, and a RESTORE
      // across DROP COLUMN + re-ADD of the SAME name changes a file's
      // LOGICAL content by flipping its deadPhys (the resurrected
      // column's values go NULL -> original bytes) while path, dv, AND
      // the schema's name sequence are all unchanged — either way the
      // entry counts as removed (old state) and re-added (new state) so
      // the row diff below surfaces the difference (r14 ADVICE: the
      // (path, dv) tuple missed the deadPhys flip and replayOf diverged
      // from the direct read). readEntries applies each side's own
      // DV/deadness, so genuinely carried-over rows cancel in the
      // full-outer join as before.
      def idOf(f: FileEntry) = (f.path, f.dv, f.phys, f.deadPhys)
      val prevIds = prev.files.map(idOf).toSet
      val curIds = cur.files.map(idOf).toSet
      val added = cur.files.filterNot(f => prevIds(idOf(f)))
      val removed = prev.files.filterNot(f => curIds(idOf(f)))
      val step: DataFrame = cur.op match {
        case "create" | "append" | "append_evolve" =>
          readEntries(spark, root, cur, added)
            .withColumn("_change_type", lit("insert"))
        case "compact" =>
          // content-invariant by construction: no change rows
          readEntries(spark, root, cur, Nil)
            .withColumn("_change_type", lit("insert")).limit(0)
        case op if op.startsWith("alter_") =>
          // metadata-only commits (ADD COLUMNS, RENAME COLUMN, widen)
          // move no rows — without this arm the row-diff below would
          // join structs whose FIELD NAMES differ across the commit and
          // die at analysis (r13 latent-divergence audit)
          readEntries(spark, root, cur, Nil)
            .withColumn("_change_type", lit("insert")).limit(0)
        case "replace" =>
          // full redefinition: every prior row is a DELETE and every
          // new row an INSERT — never update pairs (key identity does
          // not cross a redefinition; the key column itself may be
          // gone). Old rows present under the NEW schema: name+type
          // survivors carry their values, everything else null-fills —
          // the same only-type-equal-survives rule stepNameMap applies
          // when composing across this commit.
          val curSchema = schemaOf(cur)
          val prevT = fieldsAt(v - 1)
          val oldRows = readEntries(spark, root, prev, removed)
          val oldProj = oldRows.select(curSchema.fields.toSeq.map { f =>
            if (prevT.get(f.name).contains(f.dataType))
              col(f.name).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
          oldProj.withColumn("_change_type", lit("delete"))
            .unionByName(readEntries(spark, root, cur, added)
              .withColumn("_change_type", lit("insert")))
        case _ => // merge / delete / restore: row-diff vs predecessors
          // a restore that CHANGES THE SCHEMA alters the logical
          // content of carried-over files too (a resurrected column's
          // values reappear with no file movement) — rediff EVERYTHING
          // in that case, so those rows surface as update pairs and
          // replay stays complete; rows equal under the mapping cancel
          // in the full-outer join. Same-schema restores keep the cheap
          // file-identity diff.
          val rediffAll = cur.op.startsWith("restore(") &&
            namesAt(v - 1) != namesAt(v)
          val oldRows0 = readEntries(spark, root, prev,
            if (rediffAll) prev.files else removed)
          val newRows = readEntries(spark, root, cur,
            if (rediffAll) cur.files else added)
          // a RESTORE can cross schema evolution: relabel the pre-image
          // side into THIS commit's names via the op-derived map —
          // renames carry their data across, columns the current schema
          // lacks (restore back across an ADD) drop out of the diff
          // (they do not exist at cur; Delta CDF's latest-schema
          // convention), and columns cur has that the pre-image side
          // lacks (restore back across a DROP: the resurrected column)
          // null-fill, so their resurrection surfaces as an update
          val inv = stepNameMap(v).map(_.swap) // v names -> v-1 names
          val oldRows =
            if (oldRows0.columns.sameElements(newRows.columns)) oldRows0
            else oldRows0.select(newRows.columns.toSeq.map { n =>
              inv.get(n) match {
                case Some(o) => col(o).as(n)
                case None =>
                  lit(null).cast(newRows.schema(n).dataType).as(n)
              }
            }: _*)
          val oldS = oldRows.select(col(keyCol).as("__k"),
            struct(oldRows.columns.map(col): _*).as("__old"))
          val newS = newRows.select(col(keyCol).as("__k"),
            struct(newRows.columns.map(col): _*).as("__new"))
          val j = oldS.join(newS, Seq("__k"), "full_outer")
          // identical join subplans — Catalyst reuses the exchange, so
          // the two selects cost one shuffle, not two
          val pre = j.where(col("__old").isNotNull &&
              (col("__new").isNull || col("__old") =!= col("__new")))
            .select(col("__old").as("__r"),
              when(col("__new").isNull, "delete")
                .otherwise("update_preimage").as("_change_type"))
          val post = j.where(col("__new").isNotNull &&
              (col("__old").isNull || col("__old") =!= col("__new")))
            .select(col("__new").as("__r"),
              when(col("__old").isNull, "insert")
                .otherwise("update_postimage").as("_change_type"))
          pre.unionByName(post).select(col("__r.*"), col("_change_type"))
      }
      step.withColumn("_commit_snapshot", lit(v))
    }
    // present the WHOLE history in the TO-snapshot's column names (the
    // Delta CDF latest-schema convention): each step relabels through
    // the composed op-derived map; a name the map erases (dropped along
    // the way) stops being presentable, a target column a step predates
    // null-fills via unionByName.
    val targetNames = namesAt(toSnapshot)
    steps.zipWithIndex.map { case (st, i) =>
      val v = fromSnapshot + 1 + i
      val total = mapBetween(v, toSnapshot)
      val inv = total.map(_.swap)
      st.select(targetNames.flatMap(t => inv.get(t).map(n =>
        col(n).as(t))) ++
        Seq(col("_change_type"), col("_commit_snapshot")): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      // a step missing target columns (pre-add history, or survivors of
      // a drop) gets them null-filled at the END by unionByName — pin
      // the target order (the final step always carries the full target
      // schema, so every name resolves)
      .select(targetNames.map(col) ++
        Seq(col("_change_type"), col("_commit_snapshot")): _*)
  }
}
