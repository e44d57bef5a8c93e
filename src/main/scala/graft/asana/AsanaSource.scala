package graft.asana

import java.time.Instant
import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the Asana work graph (SURVEY.md §7.4).
  *
  * The public Asana REST API shapes the design (developers.asana.com):
  *  - paginated collection scans (limit ≤ 100, opaque offset tokens)
  *    → one [[InputPartition]] per page; pages stream independently, so a
  *      100 TB-scale backfill parallelizes across executors per page/project;
  *  - `opt_fields` server-side projection → [[SupportsPushDownRequiredColumns]];
  *  - `modified_since` incremental sync → [[SupportsPushDownFilters]] accepts
  *    >=/> predicates on `modified_at` (residual predicates stay with Spark);
  *  - ~150 req/min rate ceiling → [[AsanaRateLimiter]] accounting stub.
  *
  * This environment has zero egress (verified — SURVEY.md §0), so the
  * connector replays page-sized JSONL fixtures (`fixtureDir` option); the
  * HTTP layer is exactly the page-fetch seam `readPage` isolates.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.asana.AsanaSource")
  *   .option("entity", "tasks").option("fixtureDir", dir).load()
  * }}}
  */
class AsanaSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AsanaSchemas.of(options.get("entity"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AsanaTable(opts.get("entity"), opts.get("fixtureDir"), schema)
  }
}

/** Flat relational projections of the Asana REST entities (nested JSON is
  * flattened at the connector edge; the full nested shapes are exercised by
  * the `scan_jsonl` query with explicit StructType). */
object AsanaSchemas {
  /** custom_fields is the one genuinely dynamic schema region of the Asana
    * API (per-workspace field definitions): the connector carries it as an
    * array of TYPED structs — the union of the per-type value slots
    * (enum_value.name flattened to enum_name at the connector edge, like
    * every other nested gid) — and [[graft.ops.Sources.asana_custom_fields]]
    * normalizes it to an EAV long table downstream. */
  val customField: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("type", StringType),
    StructField("enum_name", StringType),
    StructField("number_value", DoubleType),
    StructField("text_value", StringType)))

  val tasks: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("notes", StringType),
    StructField("completed", BooleanType),
    StructField("num_likes", LongType),
    StructField("created_at", TimestampType),
    StructField("modified_at", TimestampType),
    StructField("assignee_gid", StringType),
    StructField("parent", StringType),
    StructField("custom_fields", ArrayType(customField))))

  val projects: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("archived", BooleanType),
    StructField("team_gid", StringType),
    StructField("created_at", TimestampType),
    StructField("modified_at", TimestampType)))

  /** root container of the work graph (GET /workspaces). */
  val workspaces: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("is_organization", BooleanType)))

  /** org subdivision owning projects (GET /organizations/{gid}/teams). */
  val teams: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("organization_gid", StringType)))

  val users: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("email", StringType)))

  val tags: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("color", StringType)))

  /** the multimodal pointer of the work graph: download_url + size +
    * resource_subtype, parented to a task (GET /attachments?parent=…). */
  val attachments: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("resource_subtype", StringType),
    StructField("size", LongType),
    StructField("download_url", StringType),
    StructField("parent_gid", StringType),
    StructField("created_at", TimestampType)))

  val stories: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("created_at", TimestampType),
    StructField("created_by_gid", StringType),
    StructField("type", StringType),
    StructField("text", StringType),
    StructField("target_gid", StringType)))

  /** ordered partition of a project (GET /projects/{gid}/sections). */
  val sections: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("project_gid", StringType),
    StructField("created_at", TimestampType)))

  /** container over projects (GET /portfolios): `items[]` is materialized
    * into the row by the sync job from GET /portfolios/{gid}/items, the
    * same flattening every nested gid gets at the connector edge. */
  val portfolios: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("color", StringType),
    StructField("owner_gid", StringType),
    StructField("created_at", TimestampType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("gid", StringType)))))))

  /** objective tracking (GET /goals): metric value slots kept integral
    * (the API's number_value for count/percent metrics) so progress math
    * downstream stays in exact integer arithmetic. */
  val goals: StructType = StructType(Seq(
    StructField("gid", StringType),
    StructField("name", StringType),
    StructField("team_gid", StringType),
    StructField("status", StringType),
    StructField("current_value", LongType),
    StructField("target_value", LongType),
    StructField("created_at", TimestampType)))

  def of(entity: String): StructType = entity match {
    case "tasks" => tasks
    case "projects" => projects
    case "users" => users
    case "tags" => tags
    case "stories" => stories
    case "attachments" => attachments
    case "portfolios" => portfolios
    case "goals" => goals
    case "sections" => sections
    case "workspaces" => workspaces
    case "teams" => teams
    case other => throw new IllegalArgumentException(
      s"unknown asana entity: $other")
  }
}

class AsanaTable(entity: String, fixtureDir: String, schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"asana.$entity"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AsanaScanBuilder(entity, fixtureDir, schema)
}

class AsanaScanBuilder(entity: String, fixtureDir: String, full: StructType)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = full
  private var cutoffs: Seq[ModifiedCutoff] = Nil
  private var pushed: Array[Filter] = Array.empty

  /** opt_fields analogue: only the pruned columns are materialized. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.filter(f =>
      full.fieldNames.contains(f.name)))

  /** modified_since analogue: accepts >=/> on modified_at. EVERY accepted
    * filter is enforced in the reader with its own inclusivity — a pushed
    * filter Spark removes from the post-scan plan must be honored exactly
    * (a strict > degraded to >= would leak boundary rows). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case GreaterThanOrEqual("modified_at", _: java.sql.Timestamp) => true
      case GreaterThan("modified_at", _: java.sql.Timestamp) => true
      case _ => false
    }
    cutoffs = accepted.toSeq.map {
      case GreaterThanOrEqual(_, ts: java.sql.Timestamp) =>
        ModifiedCutoff(tsMicros(ts), strict = false)
      case GreaterThan(_, ts: java.sql.Timestamp) =>
        ModifiedCutoff(tsMicros(ts), strict = true)
      case f => throw new IllegalStateException(s"unaccepted filter $f")
    }
    pushed = accepted
    residual
  }

  private def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new AsanaScan(entity, fixtureDir, required,
    cutoffs)
}

/** one pushed modified_at lower bound; strict=true for `>` */
case class ModifiedCutoff(micros: Long, strict: Boolean) {
  def passes(valueMicros: Long): Boolean =
    if (strict) valueMicros > micros else valueMicros >= micros
}

/** page-file discovery shared by the batch and streaming scans — one
  * definition so the two read paths can never desynchronize. */
object AsanaPages {
  def list(fixtureDir: String, entity: String): Array[String] = {
    val dir = new java.io.File(s"$fixtureDir/pages/$entity")
    if (dir.isDirectory)
      dir.listFiles().filter(_.getName.endsWith(".jsonl")).map(_.getPath).sorted
    else Array(s"$fixtureDir/$entity.jsonl")
  }
}

class AsanaScan(entity: String, fixtureDir: String, schema: StructType,
    cutoffs: Seq[ModifiedCutoff]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** one partition per API page (fixture page file) — the API's natural
    * sharding; a real backfill fans these out across executors. */
  override def planInputPartitions(): Array[InputPartition] =
    AsanaPages.list(fixtureDir, entity)
      .map(p => AsanaInputPartition(p): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new AsanaReaderFactory(schema, cutoffs)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new AsanaMicroBatchStream(entity, fixtureDir, schema)
}

/** Sync-token offset: the Asana `/events?sync=<token>` resumable stream
  * maps onto Spark's micro-batch offsets. The token is keyed PER page file
  * (path → emitted line count), like Spark's own FileStreamSource log: a
  * new file sorting before existing pages, or lines appended to an earlier
  * page, only ever open new (file, range) slices — a checkpointed resume
  * can neither re-emit nor skip records when the listing shifts. (A single
  * global line index over the sorted listing would silently remap on any
  * non-append change.) */
case class AsanaSyncOffset(counts: Map[String, Long]) extends Offset {
  /** canonical form — sorted keys, so equal offsets serialize identically */
  override def json(): String =
    counts.toSeq.sortBy(_._1)
      .map { case (p, n) =>
        "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\":" + n }
      .mkString("{", ",", "}")
}

object AsanaSyncOffset {
  private val mapper = new ObjectMapper()
  def parse(json: String): AsanaSyncOffset = {
    val node = mapper.readTree(json)
    // fail loudly on anything but the per-file object form: a lenient
    // parse of a legacy scalar token (or corrupt JSON) would yield an
    // empty map and silently re-emit every committed record on resume
    require(node != null && node.isObject,
      s"asana sync offset must be a {path: lineCount} object, got: $json. " +
        "A scalar value means this checkpoint was written by a pre-per-file-" +
        "offset build; a scalar line index cannot be attributed to files " +
        "safely once the listing may have shifted, so there is no automatic " +
        "migration. To recover: delete the query's checkpointLocation and " +
        "restart — the stream replays from the beginning; dedupe re-emitted " +
        "rows downstream (e.g. dropDuplicates on gid).")
    val b = Map.newBuilder[String, Long]
    node.fields().asScala.foreach(e => b += e.getKey -> e.getValue.asLong())
    AsanaSyncOffset(b.result())
  }
}

/** Streaming half of the connector (SURVEY.md §2-I "incremental Asana
  * sync"): each micro-batch covers the records that appeared since the
  * last committed sync token; Spark checkpoints the token, so a restarted
  * query resumes exactly where it left off — the `/events` sync-token loop
  * expressed as a DSv2 `MicroBatchStream`. Offline, "new events arriving"
  * = new page files/lines appearing under the fixture dir. */
class AsanaMicroBatchStream(entity: String, fixtureDir: String,
    schema: StructType) extends MicroBatchStream {

  private def pageFiles(): Array[String] = AsanaPages.list(fixtureDir, entity)

  /** line counts memoized per path, invalidated on (size, mtime) change —
    * latestOffset and partition planning within one micro-batch cycle
    * re-read nothing unless the file actually changed; one entry per file
    * (a (path, size, mtime) KEY would leak one dead entry per append on a
    * long-running stream). */
  private val lineCountCache =
    scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]

  private def countLines(p: String): Long = {
    val f = new java.io.File(p)
    val (len, mtime) = (f.length(), f.lastModified())
    lineCountCache.get(p) match {
      case Some((`len`, `mtime`, n)) => n
      case _ =>
        val src = scala.io.Source.fromFile(p, "UTF-8")
        val n = try src.getLines().size.toLong finally src.close()
        lineCountCache(p) = (len, mtime, n)
        n
    }
  }

  override def latestOffset(): Offset = {
    val files = pageFiles()
    // retire entries for rotated-away files — otherwise a long-running
    // stream whose pages are deleted leaks one dead entry per file
    lineCountCache.filterInPlace((p, _) => files.contains(p))
    AsanaSyncOffset(files.map(p => p -> countLines(p)).toMap)
  }

  override def initialOffset(): Offset = AsanaSyncOffset(Map.empty)

  override def deserializeOffset(json: String): Offset =
    AsanaSyncOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  /** one partition per page file's [start, end) line range — pagination
    * stays the unit of parallelism while streaming; files absent from the
    * start offset contribute their whole range. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[AsanaSyncOffset].counts
    val hi = end.asInstanceOf[AsanaSyncOffset].counts
    hi.toSeq.sortBy(_._1).flatMap { case (p, fileHi) =>
      val fileLo = lo.getOrElse(p, 0L)
      if (fileLo < fileHi) Some(AsanaStreamPartition(p, fileLo, fileHi): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AsanaStreamReaderFactory(schema)
}

case class AsanaStreamPartition(path: String, fromLine: Long, untilLine: Long)
    extends InputPartition

class AsanaStreamReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[AsanaStreamPartition]
    new AsanaPageReader(sp.path, schema, Nil,
      sp.fromLine, sp.untilLine)
  }
}

case class AsanaInputPartition(path: String) extends InputPartition

class AsanaReaderFactory(schema: StructType,
    cutoffs: Seq[ModifiedCutoff]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new AsanaPageReader(p.asInstanceOf[AsanaInputPartition].path, schema,
      cutoffs)
}

/** Retry/backoff policy for the live-HTTP seam. The public Asana API
  * documents 429 rate-limit responses carrying a `Retry-After` header
  * (seconds) and standard 5xx transient failures; a live connector must
  * retry those and fail fast on everything else. The policy is a PURE
  * function of (status, attempt, retryAfter) — no clock, no randomness —
  * so it unit-tests deterministically, and the sleep is injected so
  * fixture replay and tests control time. Backoff is exponential from
  * `baseMs`, capped at `maxBackoffMs`; a server-provided Retry-After
  * wins (still capped — a hostile header cannot park an executor). */
final case class AsanaRetryPolicy(maxRetries: Int = 5, baseMs: Long = 500L,
    maxBackoffMs: Long = 30000L) extends Serializable {
  def shouldRetry(status: Int, attempt: Int): Boolean =
    attempt < maxRetries && (status == 429 || (status >= 500 && status < 600))
  def backoffMs(attempt: Int, retryAfterSec: Option[Long]): Long =
    retryAfterSec
      .map(sec => math.min(math.max(0L, sec) * 1000L, maxBackoffMs))
      .getOrElse(math.min(maxBackoffMs, baseMs << math.min(attempt, 20)))
}

/** one page-fetch outcome at the transport seam */
sealed trait AsanaFetch extends Serializable
final case class AsanaOk(lines: Seq[String]) extends AsanaFetch
final case class AsanaHttpError(status: Int,
    retryAfterSec: Option[Long] = None) extends AsanaFetch

object AsanaRetry {
  /** Drives a page fetch through the retry policy: retryable statuses
    * back off and re-fetch, non-retryable or budget-exhausted failures
    * throw loudly (a silently dropped page is data loss at ingest). The
    * fixture transport always returns [[AsanaOk]]; a live transport
    * returns [[AsanaHttpError]] from the HTTP status line. */
  def fetchWithRetry(policy: AsanaRetryPolicy, sleep: Long => Unit)(
      fetch: Int => AsanaFetch): Seq[String] = {
    var attempt = 0
    while (true) {
      fetch(attempt) match {
        case AsanaOk(lines) => return lines
        case AsanaHttpError(status, retryAfter) =>
          if (!policy.shouldRetry(status, attempt))
            throw new java.io.IOException(
              s"asana fetch failed with HTTP $status after $attempt retries")
          sleep(policy.backoffMs(attempt, retryAfter))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Accounting stub for the ~150 req/min standard-tier ceiling: counts
  * acquisitions per minute window; in fixture-replay mode it never sleeps,
  * in a live implementation acquire() would block past the ceiling. */
class AsanaRateLimiter(maxPerMinute: Int) extends Serializable {
  private var windowStart = 0L
  private var count = 0
  def acquire(nowMillis: Long): Boolean = {
    if (nowMillis - windowStart >= 60000L) { windowStart = nowMillis; count = 0 }
    count += 1
    count <= maxPerMinute
  }
}

/** Write-back half of the connector (the ETL story was read-only): batch
  * field updates PUT back to entities, completing the contract a sync
  * pipeline needs (read → transform → write results back to the work
  * graph). Shapes follow the public REST surface (developers.asana.com):
  * `PUT /api/1.0/<entity>/<gid>` with an `{"data": {...}}` envelope, one
  * request per row, under the same ~150 req/min ceiling and 429/5xx
  * retry semantics as reads.
  *
  * Offline discipline: the TRANSPORT is the seam — a live implementation
  * issues the HTTP PUT; the fixture transport appends each request to a
  * per-partition JSONL journal so tests can round-trip what was "sent".
  * Every request — fixture or live — is driven through
  * [[AsanaRetry.fetchWithRetry]] with the SAME [[AsanaRetryPolicy]] as
  * the read path, and the rate gate blocks via the injected clock+sleep,
  * so throttling and backoff unit-test deterministically with fake time.
  *
  * Scale: one executor-side pass (`mapPartitions`), no shuffle, no
  * driver collect of the data — only the per-partition [[PutStats]]
  * rows (O(partitions)) return to the driver. Per-partition limiters
  * each honor the per-minute ceiling; a cluster-wide budget divides
  * `maxPerMinute` by the write parallelism (callers control that via
  * `df.repartition` / `coalesce` before writing). */
object AsanaWriteBack {

  /** (url, envelopeJson, attempt) → outcome. Must be Serializable — it
    * ships to executors. */
  type Transport = (String, String, Int) => AsanaFetch

  /** Per-partition accounting: rows PUT, HTTP requests issued (incl.
    * retries), retries alone, and total injected-throttle sleep. */
  final case class PutStats(rows: Long, requests: Long, retries: Long,
      throttledMs: Long) {
    def +(o: PutStats): PutStats = PutStats(rows + o.rows,
      requests + o.requests, retries + o.retries,
      throttledMs + o.throttledMs)
  }

  /** Fixture-replay transport: "sends" land as
    * `{"url": ..., "data": ...}` JSONL lines in
    * `outDir/put-<partition>.jsonl` — one journal per partition, so
    * concurrent tasks never interleave writes. */
  def fixtureTransport(outDir: String): Transport = {
    (url: String, envelope: String, _: Int) => {
      val pid = Option(org.apache.spark.TaskContext.get())
        .map(_.partitionId()).getOrElse(0)
      val dir = java.nio.file.Paths.get(outDir)
      java.nio.file.Files.createDirectories(dir)
      // the url embeds a caller-supplied gid: JSON-escape it instead of
      // raw interpolation (a quote/backslash in a gid would corrupt the
      // journal line into a _corrupt_record the round-trip silently drops)
      val urlJson = new ObjectMapper().writeValueAsString(url)
      val line = s"""{"url":$urlJson,"put":$envelope}""" + "\n"
      java.nio.file.Files.write(dir.resolve(s"put-$pid.jsonl"),
        line.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      AsanaOk(Seq(envelope)) // live Asana echoes the updated entity
    }
  }

  /** PUT one partition's rows: rate-gate, then retry-drive each request.
    * `rows` are (gid, dataJson) — dataJson is the inner `data` object.
    * Blocking past the ceiling advances only the INJECTED clock/sleep,
    * so fixture replay never wall-sleeps. */
  def putPartition(rows: Iterator[(String, String)], entity: String,
      policy: AsanaRetryPolicy, maxPerMinute: Int,
      clock: () => Long, sleep: Long => Unit,
      transport: Transport): PutStats = {
    val limiter = new AsanaRateLimiter(maxPerMinute)
    var n = 0L; var reqs = 0L; var retries = 0L; var throttled = 0L
    rows.foreach { case (gid, dataJson) =>
      while (!limiter.acquire(clock())) {
        sleep(1000L); throttled += 1000L
      }
      val url = s"https://app.asana.com/api/1.0/$entity/$gid"
      val envelope = s"""{"data":$dataJson}"""
      AsanaRetry.fetchWithRetry(policy, sleep) { attempt =>
        reqs += 1
        if (attempt > 0) retries += 1
        transport(url, envelope, attempt)
      }
      n += 1
    }
    PutStats(n, reqs, retries, throttled)
  }

  /** Distributed write-back: one PUT per row of `df`, `gidCol` naming
    * the entity and `fieldCols` the updated fields. Returns the summed
    * [[PutStats]]. Field values serialize as JSON scalars (strings
    * escaped via Jackson; null fields are sent as null — Asana clears
    * the field, same as the REST API). `maxPerMinute` is the
    * CLUSTER-WIDE budget: it divides across the write partitions
    * (floor, min 1/partition) so the aggregate rate honors the API
    * ceiling no matter the parallelism — 8 partitions at the 150/min
    * default gate at 18/min each, not 8 × 150. */
  def writeBack(df: org.apache.spark.sql.DataFrame, entity: String,
      gidCol: String, fieldCols: Seq[String],
      policy: AsanaRetryPolicy = AsanaRetryPolicy(),
      maxPerMinute: Int = 150,
      transport: Transport): PutStats = {
    import org.apache.spark.sql.functions.col
    val cols = (gidCol +: fieldCols).map(col)
    val selected = df.select(cols: _*)
    val perPartition = math.max(1,
      maxPerMinute / math.max(1, selected.rdd.getNumPartitions))
    val rows = selected.rdd.mapPartitions { it =>
      val mapper = new ObjectMapper()
      val pairs = it.map { r =>
        val obj = mapper.createObjectNode()
        fieldCols.zipWithIndex.foreach { case (f, i) =>
          r.get(i + 1) match {
            case null => obj.putNull(f)
            case s: String => obj.put(f, s)
            case b: java.lang.Boolean => obj.put(f, b.booleanValue())
            case l: java.lang.Long => obj.put(f, l.longValue())
            case i2: java.lang.Integer => obj.put(f, i2.intValue())
            case d: java.lang.Double => obj.put(f, d.doubleValue())
            case other => obj.put(f, other.toString)
          }
        }
        (r.get(0).toString, mapper.writeValueAsString(obj))
      }
      Iterator.single(putPartition(pairs, entity, policy, perPartition,
        () => System.currentTimeMillis(), ms => Thread.sleep(ms),
        transport))
    }.collect()
    rows.foldLeft(PutStats(0, 0, 0, 0))(_ + _)
  }
}

class AsanaPageReader(path: String, schema: StructType,
    cutoffs: Seq[ModifiedCutoff], fromLine: Long = 0L,
    untilLine: Long = Long.MaxValue) extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val limiter = new AsanaRateLimiter(150)
  limiter.acquire(System.currentTimeMillis()) // one "request" per page
  private val lines = readPage(path)
    .slice(fromLine.toInt, math.min(untilLine, Int.MaxValue).toInt).iterator
  private var current: InternalRow = _

  /** the HTTP seam: a live connector fetches GET …?limit=100&offset=token
    * here; offline it streams the fixture page. Every fetch — fixture or
    * live — goes through [[AsanaRetry.fetchWithRetry]], so the 429/5xx
    * retry+backoff path is the SAME code a live transport exercises
    * (the fixture transport simply never errors). */
  private def readPage(p: String): Seq[String] =
    AsanaRetry.fetchWithRetry(AsanaRetryPolicy(), _ => ()) { _ =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try AsanaOk(src.getLines().toList) finally src.close()
    }

  override def next(): Boolean = {
    while (lines.hasNext) {
      val node = mapper.readTree(lines.next())
      if (passesModifiedSince(node)) {
        current = toRow(node)
        return true
      }
    }
    false
  }

  private def passesModifiedSince(node: JsonNode): Boolean =
    cutoffs.isEmpty || {
      val f = node.get("modified_at")
      f != null && !f.isNull && {
        val v = parseTs(f.asText())
        cutoffs.forall(_.passes(v))
      }
    }

  private def parseTs(iso: String): Long = {
    val inst = Instant.parse(iso)
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  private def toRow(node: JsonNode): InternalRow =
    InternalRow.fromSeq(schema.fields.toSeq.map(f =>
      convert(fieldNode(node, f.name), f.dataType)))

  private def convert(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case StringType => UTF8String.fromString(n.asText())
      case BooleanType => java.lang.Boolean.valueOf(n.asBoolean())
      case LongType => java.lang.Long.valueOf(n.asLong())
      case DoubleType => java.lang.Double.valueOf(n.asDouble())
      case TimestampType => java.lang.Long.valueOf(parseTs(n.asText()))
      case ArrayType(et, _) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          (0 until n.size()).map(i => convert(n.get(i), et)))
      case st: StructType =>
        InternalRow.fromSeq(st.fields.toSeq.map(f =>
          convert(fieldNode(n, f.name), f.dataType)))
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }

  /** flattening map: connector column → JSON path in the REST payload. */
  private def fieldNode(node: JsonNode, field: String): JsonNode =
    field match {
      case "assignee_gid" =>
        val a = node.get("assignee"); if (a == null || a.isNull) null else a.get("gid")
      case "created_by_gid" =>
        val a = node.get("created_by"); if (a == null || a.isNull) null else a.get("gid")
      case "target_gid" =>
        val a = node.get("target"); if (a == null || a.isNull) null else a.get("gid")
      // attachments carry parent as an object; the tasks entity's parent
      // is a plain gid string and takes the default branch below
      case "parent_gid" =>
        val a = node.get("parent"); if (a == null || a.isNull) null else a.get("gid")
      case "owner_gid" =>
        val a = node.get("owner"); if (a == null || a.isNull) null else a.get("gid")
      case "project_gid" =>
        val a = node.get("project"); if (a == null || a.isNull) null else a.get("gid")
      case "team_gid" =>
        val a = node.get("team"); if (a == null || a.isNull) null else a.get("gid")
      case "organization_gid" =>
        val a = node.get("organization"); if (a == null || a.isNull) null else a.get("gid")
      case "enum_name" =>
        val a = node.get("enum_value"); if (a == null || a.isNull) null else a.get("name")
      case other => node.get(other)
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
