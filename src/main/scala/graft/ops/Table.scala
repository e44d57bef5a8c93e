package graft.ops

import org.apache.spark.sql.functions._

import graft.table.GraftTable
import graft.util.Tables.orders

/** SURVEY.md §2-A table-format extension: snapshot/manifest table queries
  * over [[graft.table.GraftTable]] — ACID-style commits, time travel,
  * incremental changes, and manifest-stats file pruning, all on plain
  * parquet (no Delta/Iceberg jars resolve offline; the format is the
  * public Delta/Iceberg design re-expressed minimally).
  *
  * One fixture table is built ONCE per (application, sfDir) through
  * [[Sources.builtDir]], like every other fixture directory, with three
  * commits:
  *   v1 create  : orders through 1997, range-clustered
  *   v2 append  : orders 1998+
  *   v3 merge   : 1998 orders with o_orderkey % 3 = 0, price doubled
  * (the fixture years are 1995–2001 — a split at 1994 would make the
  * create commit EMPTY and time-travel/prune trivially-0-row, which is
  * exactly what round 6 found and fixed)
  * so every query below reads a settled, deterministic history and the
  * bench steady-state measures reads, not the one-time build. Each query
  * replays the corresponding state as plain SQL over the source table for
  * the DuckDB oracle — the format's bookkeeping is what's under test.
  */
object Table {

  private val statsCols = Seq("o_year", "o_orderkey")
  private val bloomCols = Seq("o_orderkey")

  /** Build the three-snapshot orders table; returns its root. */
  private[graft] def ordersTable(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Sources.builtDir(s, d, "graft_table_orders") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      GraftTable.create(s, root, src.where(col("o_year") <= 1997),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      GraftTable.append(s, root, src.where(col("o_year") >= 1998),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      GraftTable.merge(s, root,
        src.where(col("o_year") === 1998 && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        keyCol = "o_orderkey", statsCols, clusterCols = statsCols,
        bloomCols = bloomCols)
    }

  /** Latest-snapshot read after the full create→append→merge history:
    * the MERGE's doubled prices are visible, everything else unchanged —
    * counts catch lost/duplicated files, the DECIMAL sum catches value
    * corruption in the copy-on-write rewrite. */
  val table_snapshot: Q = (s, d) => {
    import graft.util.Det._
    GraftTable.read(s, ordersTable(s, d))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** Time travel: snapshot 1 read AFTER two later commits exist — the
    * append's rows and the merge's rewrites must both be invisible
    * (snapshot isolation; old manifests reference only old files, and
    * merge never mutates a file in place). */
  val table_time_travel: Q = (s, d) => {
    import graft.util.Det._
    GraftTable.read(s, ordersTable(s, d), snapshot = Some(1))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** Incremental consumption: rows in files committed between snapshot 1
    * and snapshot 2 — for the append commit this is exact row-level CDC
    * (the appended files hold exactly the appended rows, at their
    * pre-merge values). */
  val table_changes: Q = (s, d) => {
    import graft.util.Det._
    GraftTable.changesBetween(s, ordersTable(s, d), 1, 2)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** ROW-level CDC across the merge commit (v2 → v3): the file-level
    * delta would replay every rewritten file's rows; the row-level diff
    * ([[GraftTable.changesBetweenRows]]) pairs rewritten rows with their
    * predecessors on o_orderkey and emits only the genuinely changed
    * ones — an update_preimage at the original price and an
    * update_postimage at the doubled price per touched key, survivor
    * rows silent. The first thing a real incremental consumer hits on
    * its first upsert (VERDICT r6 #1 missing item). */
  val table_changes_merge: Q = (s, d) => {
    import graft.util.Det._
    GraftTable.changesBetweenRows(s, ordersTable(s, d), 2, 3, "o_orderkey")
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n_rows"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("_change_type")
  }

  /** Manifest-stats file pruning: the 1996 read plans only the files
    * whose o_year range covers 1996 (GraftTableSpec asserts files read <
    * files total; the range-clustered write is what makes the stats
    * tight). The exact row predicate still applies — pruning is
    * file-granular, correctness never depends on it. */
  val table_prune: Q = (s, d) => {
    import graft.util.Det._
    val (df, _, _) =
      GraftTable.readWhere(s, ordersTable(s, d), "o_year", 1996d, 1996d)
    df.where(col("o_year") === 1996)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Bloom-pruned point lookup: 12 scattered keys fetched through
    * [[GraftTable.readWhereKeyIn]] — range stats narrow the clustered
    * files, the per-file key bloom drops the rest (GraftTableSpec proves
    * the bloom prunes where ranges cannot). The probe keys are the 12
    * smallest o_orderkey % 7 = 0 keys, derived from the source table so
    * the oracle can name the same set in pure SQL; collecting 12 longs
    * to the driver is the lookup's INPUT, not a data movement. */
  val table_pointlookup: Q = (s, d) => {
    val root = ordersTable(s, d)
    val keys = orders(s, d)
      .where(col("o_orderkey") % 7 === 0)
      .select("o_orderkey").orderBy("o_orderkey").limit(12)
      .collect().map(_.getLong(0)).toSeq
    val (df, _, _) = GraftTable.readWhereKeyIn(s, root, "o_orderkey", keys)
    df.where(col("o_orderkey").isInCollection(keys))
      .select(col("o_orderkey"), col("o_year"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Table-level compaction as a commit (vs [[Sources.sink_compact]]'s
    * directory rewrite): a create plus four tiny appends — the streaming-
    * ingest file shape — then one compact commit that collapses the small
    * files while past snapshots stay readable. Built on its OWN root so
    * the shared three-snapshot fixture table stays immutable for the
    * other queries. The oracle is content-invariance: the post-compact
    * aggregate equals the same aggregate over the source slice. */
  val table_compact: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "graft_table_compact") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .where(col("o_year") === 1996)
      GraftTable.create(s, root, src.where(col("o_orderkey") % 5 === 0),
        statsCols, clusterCols = statsCols, numFiles = 2)
      (1 to 4).foreach { i =>
        GraftTable.append(s, root,
          src.where(col("o_orderkey") % 5 === i),
          statsCols, clusterCols = statsCols, numFiles = 2)
      }
      GraftTable.compact(s, root, minRows = Long.MaxValue,
        statsCols, clusterCols = statsCols, numFiles = 2)
    }
    GraftTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Row-level DELETE as a commit: the 1996 slice loses every key with
    * o_orderkey % 7 = 2 via [[GraftTable.delete]] — copy-on-write, only
    * the files holding a doomed key rewritten (GraftTableSpec proves the
    * carry-by-reference bound and that the pre-delete snapshot still
    * reads whole). Own root so the shared fixture stays immutable; the
    * oracle replays the delete as a static NOT-predicate. */
  val table_delete: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "graft_table_delete") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .where(col("o_year") === 1996)
      GraftTable.create(s, root, src,
        statsCols, clusterCols = Seq("o_orderkey"), numFiles = 4)
      GraftTable.delete(s, root,
        src.where(col("o_orderkey") % 7 === 2).select("o_orderkey"),
        keyCol = "o_orderkey", statsCols, clusterCols = Seq("o_orderkey"))
    }
    GraftTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Merge-on-read DELETE + upsert via deletion vectors
    * ([[GraftTable.deleteMor]]/[[GraftTable.mergeMor]]): the 1996 slice
    * loses its o_orderkey % 7 = 2 keys with ZERO data-file rewrite (the
    * commit writes per-file ordinal sidecars), then an upsert doubles the
    * % 5 = 0 keys' prices by DV-marking the old versions and appending
    * only the new rows — commit cost O(rows changed) where the
    * copy-on-write twin ([[table_delete]]) pays O(bytes of touched
    * files), which is the difference that keeps an update-heavy 100 TB
    * pipeline's commits small. GraftTableSpec proves the no-rewrite
    * bound, DV-exact time travel, compaction materialization, row-level
    * CDC across DV commits, and the stale-snapshot race. Own root; the
    * oracle replays both commits statically. */
  val table_delete_mor: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "graft_table_mor") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .where(col("o_year") === 1996)
      GraftTable.create(s, root, src,
        statsCols, clusterCols = Seq("o_orderkey"), numFiles = 4)
      GraftTable.deleteMor(s, root,
        src.where(col("o_orderkey") % 7 === 2).select("o_orderkey"),
        keyCol = "o_orderkey")
      // doubling keeps the DECIMAL accumulation exact cross-engine
      // (exponent bump), same as the shared fixture's merge
      GraftTable.mergeMor(s, root,
        src.where(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 7 =!= 2)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        keyCol = "o_orderkey", statsCols, clusterCols = Seq("o_orderkey"))
    }
    GraftTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Z-order layout: orders clustered by the interleaved-bits Morton
    * code of (o_custkey, o_orderkey), so file min/max stats are tight in
    * BOTH dimensions and either column's predicate skips files — the
    * multi-column answer where single-column range clustering only ever
    * serves one predicate (GraftTableSpec asserts files-read <
    * files-total for each dimension separately). The read here is a
    * customer-band scan, pruned through the o_custkey stats; the exact
    * predicate still applies — pruning is file-granular. */
  val table_zorder: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "graft_table_zorder") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      GraftTable.create(s, root, src,
        statsCols = Seq("o_custkey", "o_orderkey"), clusterCols = Nil,
        numFiles = 8, zorderCols = Seq("o_custkey", "o_orderkey"))
    }
    val (df, _, _) =
      GraftTable.readWhere(s, root, "o_custkey", 1d, 200d)
    df.where(col("o_custkey").between(1, 200))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** RESTORE as the undo-a-bad-load story, on its own table (the shared
    * fixture's 3-commit history must stay untouched for the other
    * queries): v1 create (≤ 1997) → v2 append 1998+ (the "bad load") →
    * v3 restore(1) (metadata-only undo — zero data movement at any
    * scale) → v4 append ≥ 1999 (the corrected reload). The latest read
    * must show 1998 absent and everything else intact; the bad commit
    * stays time-travelable (GraftTableSpec proves that and the no-op /
    * expired-target edges). */
  val table_restore: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "graft_table_restore") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      GraftTable.create(s, root, src.where(col("o_year") <= 1997),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      GraftTable.append(s, root, src.where(col("o_year") >= 1998),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      GraftTable.restore(root, 1)
      GraftTable.append(s, root, src.where(col("o_year") >= 1999),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
    }
    GraftTable.read(s, root)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** Snapshot expiry + orphan vacuum as one oracle row — the routine
    * maintenance pass every snapshot format ships (the public Iceberg
    * expire_snapshots / remove_orphan_files design), on its own table so
    * the shared fixture keeps its full history: v1 create (≤ 1997,
    * tagged `archive` as a retention root) → v2 append 1998+ → v3 merge
    * (1998 % 3 doubled) → expireSnapshots(keepFrom = 3) — v2's manifest
    * goes and the appended files the merge rewrote are reclaimed, while
    * v1 SURVIVES expiry through its tag — then a planted stray file (a
    * crashed write's leftover, aged past the safety gate) is swept by
    * removeOrphans. The query reads BOTH surviving states, the tag
    * (pre-append archive) and latest (post-merge): vacuum must change
    * neither, which is exactly what the static-replay oracle checks.
    * The expired-v2 read failing loudly and the sweep counts are
    * GraftTableSpec's (engine-side file counts cannot cross the oracle;
    * the build still REQUIREs both reclaim paths fired, so a silently
    * no-op vacuum fails the fixture, not just a unit test).
    *
    * 100 TB posture: expiry and the sweep are manifest-driven metadata
    * work (reference-counted file deletes), never a data scan; the
    * mtime age gate is what makes the sweep safe next to in-flight
    * writers that have landed files but not yet linked a manifest. */
  val table_vacuum: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "graft_table_vacuum") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      GraftTable.create(s, root, src.where(col("o_year") <= 1997),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      GraftTable.tag(root, "archive", 1)
      GraftTable.append(s, root, src.where(col("o_year") >= 1998),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      GraftTable.merge(s, root,
        src.where(col("o_year") === 1998 && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        keyCol = "o_orderkey", statsCols, clusterCols = statsCols,
        bloomCols = bloomCols)
      val dead = GraftTable.expireSnapshots(root, keepFrom = 3)
      require(dead > 0, s"vacuum fixture reclaimed no expired files at $root")
      val strayDir = java.nio.file.Paths.get(root, "data", "zz_orphan")
      java.nio.file.Files.createDirectories(strayDir)
      val stray = strayDir.resolve("stray.parquet")
      java.nio.file.Files.write(stray, Array[Byte](0, 1, 2, 3))
      java.nio.file.Files.setLastModifiedTime(stray,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
      val swept = GraftTable.removeOrphans(root, olderThanMs = 30000L)
      require(swept >= 1, s"vacuum fixture swept no orphans at $root")
    }
    def slice(df: org.apache.spark.sql.DataFrame, which: String) =
      df.groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .select(lit(which).as("src"), col("o_year"), col("n_orders"),
          col("sum_price"))
    slice(GraftTable.readTag(s, root, "archive"), "archive")
      .unionByName(slice(GraftTable.read(s, root), "latest"))
      .orderBy("src", "o_year")
  }

  /** TIMESTAMP AS OF promoted to an oracle row: resolve the snapshot
    * live at v2's own commit stamp through the real resolution path
    * ([[GraftTable.readAsOf]] — newest snapshot committed at or before
    * the timestamp), landing on the post-append, pre-merge state. The
    * probe is v2's RECORDED stamp, not wall clock, so the row is
    * deterministic; strictly-increasing stamps are REQUIREd loudly (two
    * commits inside one millisecond would make "as of t2" legitimately
    * resolve v3 — fail the fixture rather than hash-diverge). Grouped
    * by priority so the row is distinct from the snapshot-addressed
    * time-travel twin. */
  val table_asof: Q = (s, d) => {
    import graft.util.Det._
    val root = ordersTable(s, d)
    def stamp(v: Int): Long =
      GraftTable.manifest(root, v).committedAtMs.getOrElse(
        sys.error(s"fixture v$v carries no commit stamp at $root"))
    require(stamp(3) > stamp(2),
      s"commit stamps not strictly increasing at $root")
    GraftTable.readAsOf(s, root, stamp(2))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** DESCRIBE HISTORY over the shared three-commit fixture: one row per
    * retained snapshot — id, parent, operation, and the LIVE row count
    * the manifests carry — newest first. Commit timestamps and file
    * counts are deliberately excluded (wall clock and file layout are
    * engine-side); row counts are data-derived, so the row is fully
    * oracle-checkable: the oracle recomputes each commit's count from
    * the source relation, and a mismatch means the manifests'
    * bookkeeping drifted from the data — the exact corruption HISTORY
    * exists to surface. Driver-side manifest reads only; no Spark jobs
    * at any scale. */
  val table_history: Q = (s, d) =>
    GraftTable.history(s, ordersTable(s, d))
      .select(col("snapshot"), col("parent"), col("op"), col("n_rows"))
      .orderBy(desc("snapshot"))

  /** Incremental view maintenance (r8): the per-year aggregate
    * maintained by FOLDING the full row-level CDC history (create →
    * append → merge) instead of scanning the final snapshot — inserts
    * and update postimages add, update preimages and deletes subtract,
    * with signed DECIMAL accumulation so the fold is exact. The oracle
    * is the DIRECT final-state aggregate (identical SQL to
    * table_snapshot), so a green row proves fold ≡ recompute — the
    * correctness property incremental materialized views rest on. At
    * scale the same fold consumes each new commit's CDC batch against
    * the stored aggregate: cost per refresh is O(changed rows), never a
    * table rescan. */
  val table_incr_agg: Q = (s, d) => {
    import graft.util.Det._
    GraftTable.changesBetweenRows(s, ordersTable(s, d), 0, 3, "o_orderkey")
      .withColumn("sign",
        when(col("_change_type").isin("insert", "update_postimage"), 1)
          .otherwise(-1))
      .groupBy("o_year")
      .agg(sum(col("sign").cast("long")).as("n_orders"),
        sum(dec2(col("o_totalprice")) * col("sign")).cast("double")
          .as("sum_price"))
      .orderBy("o_year")
  }

  /** Time travel from PURE SQL (round-8 verdict missing #1): the same
    * snapshot-1 slice as [[table_time_travel]], reached through the
    * `graft_table(root, snapshot)` table-valued function
    * ([[graft.functions.GraftTableFunctions]]) instead of a library
    * call — what a SQL-first consumer of a Delta-style layer writes.
    * Grouped by o_orderpriority so the row is distinct from the DSL
    * twin's; the oracle replays the slice statically, proving the TVF
    * plans exactly the manifest's file list. */
  val table_sql_tt: Q = (s, d) => {
    val root = ordersTable(s, d)
    graft.functions.GraftTableFunctions.register(s)
    s.sql(
      s"""SELECT o_orderpriority, count(1) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price
          FROM graft_table('$root', 1)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** SQL time travel on the REGISTERED NAME (r13 verdict missing #1):
    * `SELECT ... FROM <name> VERSION AS OF n` and `... TIMESTAMP AS OF
    * ts` — Spark's own time-travel grammar (`RelationTimeTravel`)
    * resolved against the manifest by [[graft.sql.GraftDmlRule]], so a
    * SQL-first user addresses history by the registered name like
    * every other verb, no filesystem root needed (the TVFs stay for
    * root-path access). One row exercises BOTH forms: VERSION AS OF 1
    * is the pre-append state; TIMESTAMP AS OF the v2 commit's own
    * stamp resolves v2 exactly (stamps are strictly increasing along
    * the chain), the pre-merge whole table. The vacuumed-gap probe
    * stays loud through this path (readAsOf → snapshotAsOf; the
    * GraftTableSpec gap test drives it). Scale: both forms plan the
    * pinned manifest's file list — the identical vectorized scan as
    * the DSL read, zero extra work at any table size. */
  val table_sql_asof_name: Q = (s, d) => {
    val root = ordersTable(s, d)
    graft.sql.GraftSqlTables.register("asof_orders",
      graft.sql.GraftSqlTables.Ref(root, "o_orderkey", statsCols,
        statsCols, bloomCols = bloomCols))
    val v2ms = GraftTable.manifest(root, 2).committedAtMs.get
    graft.sql.GraftSql.sql(s,
      s"""SELECT form, o_year, n_orders, sum_price FROM (
            SELECT 'v1' AS form, o_year, count(1) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price
            FROM asof_orders VERSION AS OF 1
            GROUP BY o_year
            UNION ALL
            SELECT 'v2ts' AS form, o_year, count(1) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price
            FROM asof_orders TIMESTAMP AS OF $v2ms
            GROUP BY o_year)
          ORDER BY form, o_year""")
  }

  /** Declared `PARTITIONED BY` through pure SQL (r13 verdict missing
    * #2): CTAS with `PARTITIONED BY (o_year)` lands a graft table whose
    * files live under `data/o_year=<y>/` (one partition tuple per
    * immutable file, recorded in the manifest), and the measured read
    * is a partition-FILTERED aggregate over the registered name — the
    * filter reaches Spark's FileScan as a real `PartitionFilters`
    * entry (PlanShapeSpec pins it, plus the DPP dim-join variant), so
    * only the two probed years' files are planned, the first knob a
    * 100 TB table needs. The oracle replays the slice statically. */
  /** per-(application, sfDir) table name: the registry is
    * process-global and Bench's warmup (sf0.001) + measured (sf0.1)
    * passes share one JVM — a fixed name's CTAS claim collides on the
    * second sfDir (the table_sql_ddl naming discipline). */
  private[graft] def partOrdersName(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    "part_orders_" + graft.util.AppCleanup.appTag(s, d)

  val table_sql_partitioned: Q = (s, d) => {
    val name = partOrdersName(s, d)
    Sources.builtDir(s, d, "sql_part_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft PARTITIONED BY (o_year)
            LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, o_orderpriority, o_totalprice,
                      year(o_orderdate) AS o_year
               FROM parquet.`$d/orders.parquet`""")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT o_year, o_orderpriority, count(1) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price
          FROM $name
          WHERE o_year BETWEEN 1996 AND 1997
          GROUP BY o_year, o_orderpriority
          ORDER BY o_year, o_orderpriority""")
  }

  /** HIDDEN partitioning through pure SQL (r14 verdict missing #1 /
    * next #2): CTAS with `PARTITIONED BY (months(o_orderdate))` lands a
    * graft table whose files live under `data/o_orderdate_month=<yyyy-
    * MM>/` while the LOGICAL schema carries only the raw timestamp —
    * the Iceberg transform model, where the user never materializes a
    * derived column. The measured read filters on the RAW timestamp
    * and [[graft.sql.GraftPartPrune]] maps the range onto the derived
    * partition column, so the FileScan plans real `PartitionFilters`
    * and only the probed months' files (plus the conservative boundary
    * month) are read — GraftTableSpec pins the plan and the exact
    * planned-file set. The oracle replays the slice statically over
    * the raw source; pruning is never correctness-load-bearing. */
  val table_sql_part_transform: Q = (s, d) => {
    val name = "ptx_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_ptx_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft
            PARTITIONED BY (months(o_orderdate))
            LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, o_orderpriority, o_totalprice,
                      o_orderdate
               FROM parquet.`$d/orders.parquet`""")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS o_month,
              count(1) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price
          FROM $name
          WHERE o_orderdate >= TIMESTAMP_NTZ '1995-03-01 00:00:00'
            AND o_orderdate <  TIMESTAMP_NTZ '1995-10-01 00:00:00'
          GROUP BY date_format(o_orderdate, 'yyyy-MM')
          ORDER BY o_month""")
  }

  /** MERGE schema evolution (autoMerge) as a full-oracle row (r14
    * verdict missing #3): the fixture CTAS-creates the pre-1996 slice
    * WITHOUT `o_orderpriority`, then — behind the opt-in
    * `spark.graft.schema.autoMerge` conf — MERGEs the 1996 batch whose
    * source carries that NEW column: `INSERT *` widens the manifest in
    * the same commit, the inserted rows carry their priorities, and
    * every pre-evolution row reads NULL (the rows-that-never-received-
    * the-column semantics; old files stay bytes-identical). The
    * measured read aggregates per year with a count over the evolved
    * column, so a lost widening, a dropped batch, or a resurrect-style
    * misread each breaks the hash. The ingestion reality this encodes:
    * upstream adds a field and the pipeline must not stop — nor
    * silently drop the field. */
  val table_evolution: Q = (s, d) => {
    val name = "evo_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_evo_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, o_totalprice,
                      year(o_orderdate) AS o_year
               FROM parquet.`$d/orders.parquet`
               WHERE year(o_orderdate) <= 1995""")
      s.conf.set("spark.graft.schema.autoMerge", "true")
      try graft.sql.GraftSql.exec(s,
        s"""MERGE INTO $name t
            USING (SELECT o_orderkey, o_totalprice,
                          year(o_orderdate) AS o_year, o_orderpriority
                   FROM parquet.`$d/orders.parquet`
                   WHERE year(o_orderdate) = 1996) s
            ON t.o_orderkey = s.o_orderkey
            WHEN NOT MATCHED THEN INSERT *""")
      finally s.conf.unset("spark.graft.schema.autoMerge")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT o_year, count(1) AS n_orders,
              count(o_orderpriority) AS n_prio,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price
          FROM $name
          GROUP BY o_year ORDER BY o_year""")
  }

  /** `CREATE OR REPLACE TABLE` end-to-end: CTAS the raw ≤1995 order
    * slice, then REPLACE it wholesale with a per-year AGGREGATE of the
    * same source — the rebuild-a-derived-table pattern the verb exists
    * for (a reporting table re-derives on schedule; drop+create would
    * sever history and break readers mid-swap). The measured read
    * emits the post-replace aggregate by name AND the pre-replace raw
    * slice through `VERSION AS OF` — a replace that appended instead
    * of swapping, dropped history, or lost the schema change breaks
    * one leg or the other. Oracle replays both worlds statically. */
  val table_sql_replace: Q = (s, d) => {
    import graft.util.Det._
    val name = "repl_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_replace_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, o_orderdate, o_totalprice
               FROM parquet.`$d/orders.parquet`
               WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"""CREATE OR REPLACE TABLE $name USING graft
            LOCATION '$root' OPTIONS (key 'o_year')
            AS SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                      count(1) AS n_orders,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_price
               FROM parquet.`$d/orders.parquet`
               WHERE year(o_orderdate) <= 1997
               GROUP BY 1""")
    }
    val ref = graft.sql.GraftSqlTables.lookup(Seq(name)).get
    val post = graft.sql.GraftSql.sql(s,
        s"SELECT o_year, n_orders, sum_price FROM $name")
      .select(lit("post").as("form"), col("o_year"),
        col("n_orders"), col("sum_price"))
    val pre = GraftTable.read(s, ref.root, Some(1))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .select(lit("pre_check").as("form"), col("o_year"),
        col("n_orders"), col("sum_price"))
    post.unionAll(pre).orderBy("form", "o_year")
  }

  /** `TRUNCATE TABLE` end-to-end: CTAS the ≤1997 slice, TRUNCATE (one
    * metadata-only commit, zero files), re-load 1996–97 — the
    * full-reload pattern TRUNCATE exists for. The measured read emits
    * BOTH worlds: the post-reload state by name and the pre-truncate
    * snapshot through `VERSION AS OF` — proving the clear really
    * landed (an un-truncated table doubles nothing: the 1996 slice
    * would sit beside ≤1997 rows and flip every group) AND that
    * history survived it (the logical-clear contract; a physical
    * delete would break the v1 leg loudly). Oracle replays both
    * slices statically. */
  val table_truncate: Q = (s, d) => {
    import graft.util.Det._
    val name = "trunc_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_truncate_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, o_orderstatus, o_totalprice
               FROM parquet.`$d/orders.parquet`
               WHERE year(o_orderdate) <= 1995""")
      graft.sql.GraftSql.exec(s, s"TRUNCATE TABLE $name")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) BETWEEN 1996 AND 1997""")
    }
    def agg(df: org.apache.spark.sql.DataFrame, form: String) =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .select(lit(form).as("form"), col("o_orderstatus"),
          col("n_orders"), col("sum_price"))
    val ref = graft.sql.GraftSqlTables.lookup(Seq(name)).get
    agg(graft.sql.GraftSql.sql(s, s"SELECT * FROM $name"), "post")
      .unionAll(agg(GraftTable.read(s, ref.root, Some(1)), "pre"))
      .orderBy("form", "o_orderstatus")
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` end-to-end (r15
    * verdict missing #4): the fixture CTAS-creates a dedicated table
    * (never the shared orders fixture — an analyze commit would shift
    * the snapshot ids other rows' time-travel pins rely on), runs the
    * SQL verb, and the measured read presents the manifest-persisted
    * statistics' DETERMINISTIC subset as (stat, value) rows — exact
    * live rowCount plus min/max/nulls of the BIGINT key (integer
    * renderings agree cross-engine; NDV is HLL++-approximate and
    * sizeInBytes is parquet-encoding-specific, both engine-side by
    * nature, both covered by the PlanShapeSpec broadcast pin instead).
    * The oracle recomputes each stat from the source. What the stats
    * BUY — a broadcast picked from analyzed size instead of raw file
    * bytes — is plan-pinned in PlanShapeSpec. */
  val table_sql_analyze: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val name = "anl_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_analyze_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey')
            AS SELECT o_orderkey, o_totalprice
               FROM parquet.`$d/orders.parquet`
               WHERE year(o_orderdate) <= 1995""")
      graft.sql.GraftSql.exec(s,
        s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS o_orderkey")
    }
    val ref = graft.sql.GraftSqlTables.lookup(Seq(name)).get
    val m = GraftTable.manifest(ref.root, GraftTable.latestSnapshot(ref.root))
    val ts = m.tableStats.getOrElse(Map.empty)
    Seq("rowCount", "min.o_orderkey", "max.o_orderkey", "nulls.o_orderkey")
      .map(k => (k, ts.getOrElse(k,
        throw new NoSuchElementException(s"ANALYZE left no '$k' stat"))))
      .toDF("stat", "value").orderBy("stat")
  }

  /** `ALTER COLUMN ... TYPE` safe widening end-to-end (r15 verdict
    * missing #2): the fixture CTAS-creates the table with an INT
    * customer column, widens it to BIGINT in ONE metadata-only commit
    * (every pre-widen file carried by reference, read through the
    * Parquet readers' native int32→int64 promotion), then INSERTs a
    * 1996 batch whose values exceed Int.MaxValue — the overflow case
    * the widening exists for; without it the only path was a full
    * rewrite. The measured read aggregates the widened column across
    * BOTH epochs, so a sheared promotion (wrong values off the narrow
    * files), a lost widening (insert overflow), or a dropped epoch
    * each breaks the hash. Scale: the widen commit is O(manifest) at
    * any table size — zero data movement. */
  val table_widen: Q = (s, d) => {
    val name = "widen_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_widen_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, CAST(o_custkey AS INT) AS cust,
                      CAST(year(o_orderdate) AS INT) AS o_year
               FROM parquet.`$d/orders.parquet`
               WHERE year(o_orderdate) <= 1995""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name ALTER COLUMN cust TYPE BIGINT")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey + 100000000,
                   o_custkey + 4000000000,
                   CAST(year(o_orderdate) AS INT)
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1996""")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT o_year, count(1) AS n_rows, sum(cust) AS sum_cust
          FROM $name GROUP BY o_year ORDER BY o_year""")
  }

  /** DYNAMIC PARTITION OVERWRITE from pure SQL — the incremental-rerun
    * verb declared partitioning exists for (re-running one year
    * replaces ONLY that partition, as ONE atomic commit): the fixture
    * CTAS-creates a partitioned table with 1996 prices corrupted
    * (halved), then `INSERT OVERWRITE` re-loads JUST the corrected
    * 1996 slice — dynamic semantics from the batch's own partition
    * values, no PARTITION clause. The oracle replays the final state
    * from the source: an appended (not replaced) 1996 doubles that
    * year; a static overwrite vanishes every other year — either way
    * a hash mismatch. Keys of the replaced partition are deliberately
    * REUSED (they are gone by definition); the clash guard checks
    * survivors only. Scale: commit cost is O(batch + the replaced
    * partition's file entries); untouched partitions carry over by
    * reference. */
  val table_sql_part_overwrite: Q = (s, d) => {
    val name = "part_ow_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_part_ow_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name USING graft PARTITIONED BY (o_year)
            LOCATION '$root'
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey')
            AS SELECT o_orderkey, o_orderpriority,
                      CASE WHEN year(o_orderdate) = 1996
                           THEN o_totalprice / 2
                           ELSE o_totalprice END AS o_totalprice,
                      year(o_orderdate) AS o_year
               FROM parquet.`$d/orders.parquet`""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT OVERWRITE $name
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   year(o_orderdate) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1996""")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT o_year, count(1) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price
          FROM $name
          GROUP BY o_year ORDER BY o_year""")
  }

  /** NATIVE streaming sink end-to-end (r13 verdict missing #3): the
    * fixture drives a REAL `writeStream.format("graft-table")` — a
    * file-source stream over the orders parquet, drained
    * Trigger.AvailableNow through [[graft.table.GraftTableSink]] — so
    * the table under the measured read was built by exactly-once
    * micro-batch commits (batch-id watermarks in the manifest;
    * StreamingSpec's crash-replay proof pins the dedup). The measured
    * query is the plain batch read-back aggregate; the oracle replays
    * it statically from the source, proving the streamed ingest lost
    * and duplicated nothing. Scale: each micro-batch costs one
    * optimistic append commit — O(batch), never O(table). */
  val table_stream_sink: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "stream_sink_orders") { root =>
      val src = orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      GraftTable.create(s, root, src.limit(0),
        Seq("o_orderkey"), Seq("o_orderkey"), numFiles = 1)
      // the file stream source wants a DIRECTORY; stage the slice into
      // one (4 files → 4+ source splits, a real multi-file drain)
      val srcDir = s"${root}_src"
      src.repartition(4).write.mode("overwrite").parquet(srcDir)
      val q = s.readStream.schema(src.schema)
        .parquet(srcDir)
        .writeStream.format("graft-table")
        .option("path", root)
        .option("stats", "o_orderkey").option("cluster", "o_orderkey")
        .option("num_files", "2")
        .option("checkpointLocation", s"$root/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    GraftTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Streaming UPSERT sink end-to-end (r15 verdict missing #3): the
    * fixture seeds the table with the ≤1995 slice, then drives a REAL
    * `writeStream.format("graft-table").option("mode", "upsert")` over
    * a staged multi-file source carrying 1994–95 PRICE CORRECTIONS
    * (live keys — each micro-batch MERGEs them through the
    * upsertDelete kernel) plus the 1996–97 slice (new keys — the
    * insert arm), exactly-once under the same per-query watermark map
    * as the append sink (StreamingSpec pins replay idempotence and
    * streamed≡one-shot-MERGE parity). The measured read is the plain
    * final-state aggregate; the oracle replays it statically — a
    * doubled update (append instead of merge), a dropped batch, or a
    * phantom replay each breaks the hash. Scale: each micro-batch
    * costs one key-local CoW merge commit — O(batch + touched files),
    * never O(table). */
  val table_stream_upsert: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "stream_upsert_orders") { root =>
      val src = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("o_year"))
      GraftTable.create(s, root,
        src.where(col("o_year") <= 1995).drop("o_year"),
        Seq("o_orderkey"), Seq("o_orderkey"), numFiles = 2)
      // stream = corrections (×2 price on live 1994–95 keys) ∪ inserts
      // (1996–97); keys are globally unique, so any AvailableNow batch
      // split yields the same final state — deterministic by design
      val srcDir = s"${root}_src"
      src.where(col("o_year").between(1994, 1995))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.where(col("o_year").between(1996, 1997)))
        .drop("o_year")
        .repartition(4).write.mode("overwrite").parquet(srcDir)
      val q = s.readStream
        .schema(src.drop("o_year").schema)
        .parquet(srcDir)
        .writeStream.format("graft-table")
        .option("path", root)
        .option("mode", "upsert").option("key", "o_orderkey")
        .option("stats", "o_orderkey").option("cluster", "o_orderkey")
        .option("num_files", "2")
        .option("checkpointLocation", s"$root/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    GraftTable.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** File-level CDC from pure SQL: the v1→v2 delta (the appended 1998+
    * slice at pre-merge values) through `graft_table_changes`. */
  val table_sql_cdc: Q = (s, d) => {
    val root = ordersTable(s, d)
    graft.functions.GraftTableFunctions.register(s)
    s.sql(
      s"""SELECT o_orderpriority, count(1) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS sum_price
          FROM graft_table_changes('$root', 1, 2)
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** CDC REPLAY materialization — the CONSUMER side of the change feed
    * the format's CDC exists for: fold the full row-level history
    * (inserts, update pre/post pairs, deletes across CoW commits) back
    * into a table state, per key keeping the LAST commit's post-image
    * and dropping keys whose last touch is a delete. A downstream
    * replica applies a CDC feed exactly this way; replay ≡ direct read
    * is the completeness proof of the whole CDC surface — a missing
    * post-image, a phantom delete, or a mis-ordered commit all break
    * the equality (GraftTableSpec pins frame equality vs the direct
    * read; the oracle pins the replayed values statically). The story
    * walks all three change kinds: CREATE (inserts), a price-bump
    * MERGE (update pairs), a DELETE slice. Precedence inside a commit
    * is by change kind (post-image/insert over pre-image/delete),
    * across commits by snapshot id — one window keyed on the row key,
    * high-cardinality at any scale. */
  val table_cdc_replay: Q = (s, d) => {
    import graft.util.Det._
    // the feed is deterministic over the fixture story, so it is dumped
    // ONCE inside the same build as the table (the band/edge-table
    // discipline, r13 verdict #1): changesBetweenRows re-diffs every
    // commit's files per invocation — correct but the most expensive
    // part of the row, and pure fixture prep here. The replay fold
    // (the operator under test) still runs per invocation, now over a
    // plain parquet scan of the memoized feed. A production CDC
    // consumer does exactly this: the feed lands once per commit range,
    // downstream folds read the landed feed.
    val root = Sources.builtDir(s, d, "cdc_replay_orders") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
        .select("o_orderkey", "o_totalprice", "o_year")
      GraftTable.create(s, root, src.where(col("o_year") <= 1997),
        Seq("o_year", "o_orderkey"), Seq("o_year", "o_orderkey"),
        numFiles = 4)
      // +100.00 is exact in binary doubles at these magnitudes — both
      // engines replay it bit-identically
      GraftTable.merge(s, root,
        GraftTable.read(s, root).where(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        "o_orderkey", Seq("o_year", "o_orderkey"),
        Seq("o_year", "o_orderkey"))
      GraftTable.delete(s, root,
        GraftTable.read(s, root).where(col("o_orderkey") % 10 === 3)
          .select("o_orderkey"),
        "o_orderkey", Seq("o_year", "o_orderkey"),
        Seq("o_year", "o_orderkey"))
      GraftTable.changesBetweenRows(s, root, 0,
        GraftTable.latestSnapshot(root), "o_orderkey")
        .write.mode("overwrite").parquet(s"$root/_cdcfeed")
    }
    replayOf(s.read.parquet(s"$root/_cdcfeed"), "o_orderkey")
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** The CDC fold: last-touch-wins per key with post-image precedence
    * inside a commit; a key whose last touch is a delete drops out.
    * Handles delete-then-reinsert (the later insert wins by snapshot). */
  private[graft] def replayOf(cdc: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame = {
    val prec = when(col("_change_type")
      .isin("insert", "update_postimage"), 1).otherwise(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(desc("_commit_snapshot"), desc("__prec"))
    cdc.withColumn("__prec", prec)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 &&
        col("_change_type").isin("insert", "update_postimage"))
      .drop("__prec", "__rn", "_change_type", "_commit_snapshot")
  }

  /** MERGE from PURE SQL (round-9 verdict missing #1, the WRITE side of
    * the TVF read surface): a four-arm `MERGE INTO` issued through
    * plain SQL over a registered graft table
    * ([[graft.sql.GraftSql.exec]] — the same [[graft.sql.GraftDmlRule]]
    * `spark.sql.extensions` sessions run inside the analyzer). Arms
    * exercise every classification relation: matched-delete (%5 keys),
    * matched-update (doubled price — exact exponent bump),
    * not-matched-insert (even 1998+ keys), and
    * not-matched-by-source-update (1992 rows flagged 'X'). The oracle
    * replays the final state statically from the source relation, so a
    * green row proves the SQL path classifies and commits exactly like
    * the DSL the table format is tested on. Scale: classification is
    * ONE presence-marker join (FULL OUTER here: the statement has both
    * unmatched arm classes) and every guard ONE grouped aggregate; the
    * commit rewrites only files holding touched keys (stats+bloom
    * pruning) — cost follows DML locality, not table size. */
  val table_sql_merge: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "sql_merge_orders") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      GraftTable.create(s, root, src.where(col("o_year") <= 1997),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      graft.sql.GraftSqlTables.register("sql_merge_orders",
        graft.sql.GraftSqlTables.Ref(root, "o_orderkey", statsCols,
          statsCols, bloomCols = bloomCols))
      graft.sql.GraftSql.exec(s,
        s"""MERGE INTO sql_merge_orders t
            USING (SELECT *, year(o_orderdate) AS o_year
                   FROM parquet.`$d/orders.parquet`
                   WHERE year(o_orderdate) >= 1997) s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED AND s.o_orderkey % 5 = 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
            WHEN NOT MATCHED AND s.o_orderkey % 2 = 0 THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.o_year = 1992
              THEN UPDATE SET o_orderstatus = 'X'""")
    }
    GraftTable.read(s, root)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"),
        sum(when(col("o_orderstatus") === "X", 1).otherwise(0))
          .cast("long").as("n_flagged"))
      .orderBy("o_year")
  }

  /** INSERT + UPDATE + DELETE from pure SQL — the remaining three DML
    * verbs over a registered graft table, composed into the same
    * create→append→double→delete history the DSL fixtures use
    * (positional INSERT appends 1998+, UPDATE doubles the 1998 `%3`
    * slice, DELETE drops the 1996 `%7=2` keys), so the oracle is the
    * familiar static replay. */
  val table_sql_dml: Q = (s, d) => {
    import graft.util.Det._
    val root = Sources.builtDir(s, d, "sql_dml_orders") { root =>
      val src = orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      GraftTable.create(s, root, src.where(col("o_year") <= 1997),
        statsCols, clusterCols = statsCols, bloomCols = bloomCols)
      graft.sql.GraftSqlTables.register("sql_dml_orders",
        graft.sql.GraftSqlTables.Ref(root, "o_orderkey", statsCols,
          statsCols, bloomCols = bloomCols))
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO sql_dml_orders
            SELECT *, year(o_orderdate) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1998""")
      graft.sql.GraftSql.exec(s,
        """UPDATE sql_dml_orders SET o_totalprice = o_totalprice * 2
           WHERE o_year = 1998 AND o_orderkey % 3 = 0""")
      graft.sql.GraftSql.exec(s,
        "DELETE FROM sql_dml_orders " +
          "WHERE o_year = 1996 AND o_orderkey % 7 = 2")
    }
    GraftTable.read(s, root)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** Full catalog lifecycle from PURE SQL (r10 verdict missing #1 /
    * directive #2): the table is BORN from `CREATE TABLE ... USING
    * graft` — schema declared in the statement, storage root via
    * LOCATION, key/stats/cluster/bloom knobs via OPTIONS — then filled
    * by two positional INSERTs, trimmed by a DELETE, and read back by
    * name, every step a plain SQL string through the same
    * [[graft.sql.GraftSqlDdl]]/[[graft.sql.GraftDmlRule]] path
    * `spark.sql.extensions` sessions run (the injected-parser session
    * twin, plus CTAS/DROP/PURGE semantics, is GraftTableSpec's DDL
    * block). The oracle replays the final state statically. The name
    * carries an app+sf tag: the registry is process-global (shared-
    * metastore semantics), and bench runs this op at two SFs in one
    * JVM — an untagged second CREATE would loudly (and correctly)
    * collide. */
  val table_sql_ddl: Q = (s, d) => {
    val name = "sql_ddl_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_ddl_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
              o_totalprice DOUBLE, o_orderdate TIMESTAMP,
              o_orderpriority STRING, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT *, CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1996""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT *, CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1997""")
      graft.sql.GraftSql.exec(s,
        s"DELETE FROM $name WHERE o_orderkey % 10 = 3")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT o_year, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
         FROM $name GROUP BY o_year ORDER BY o_year""")
  }

  /** Schema evolution from pure SQL — the remaining DDL verb after r11's
    * CREATE/CTAS/DROP: `ALTER TABLE ... ADD COLUMNS` lands as a
    * METADATA-ONLY commit (files untouched; pre-alter rows read the new
    * column as NULL through the manifest schema), then the widened table
    * takes a 4-column positional INSERT and an UPDATE that backfills the
    * new column on pre-alter rows — proving old files, new files, and
    * copy-on-write rewrites coexist under one schema. The grouped read
    * keys on coalesce(o_band, 'unset') because never-touched pre-alter
    * rows are genuinely NULL (and Spark sorts NULL first where DuckDB
    * sorts it last — coalescing keeps the total order engine-neutral). */
  val table_sql_alter: Q = (s, d) => {
    val name = "sql_alter_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_alter_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1996""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name ADD COLUMNS (o_band STRING)")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year,
                CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1997""")
      graft.sql.GraftSql.exec(s,
        s"UPDATE $name SET o_band = 'legacy' WHERE o_year <= 1993")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT coalesce(o_band, 'unset') AS band, o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
         FROM $name GROUP BY 1, 2 ORDER BY band, o_year""")
  }

  /** Maintenance verbs from PURE SQL (r11 verdict missing #1 /
    * directive #1 — the last DSL-only lifecycle surface): the table is
    * born and filled by SQL (CREATE → two INSERTs → an UPDATE), then
    * `OPTIMIZE ... ZORDER BY (o_year, o_orderkey)` rewrites the live
    * set into the Z-ordered layout as commit 5, and `VACUUM ... RETAIN
    * 2 SNAPSHOTS` expires commits 1–3 (reclaiming the UPDATE's
    * superseded files — the build REQUIREs the reclaim fired) and
    * sweeps a planted 8-day-old stray through the 7-day orphan age
    * gate. The row reads BOTH surviving truths from SQL: the per-year
    * aggregate (OPTIMIZE and VACUUM must each be content-invariant)
    * and `DESCRIBE HISTORY` (exactly snapshots {4, 5} survive, each
    * carrying the full live row count — the UPDATE is count-neutral
    * and the compact invariant). All three verbs ride the same parser
    * seam as DDL ([[graft.sql.GraftSqlMaint]]); the statements are not
    * in Spark's grammar, so the splice matches the raw text. The
    * oracle replays the final state statically and pins the surviving
    * history literally — five retained snapshots instead of two is a
    * row-count mismatch, a silently no-op vacuum. */
  val table_sql_maint: Q = (s, d) => {
    val name = "sql_maint_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_maint_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1996""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1997""")
      graft.sql.GraftSql.exec(s,
        s"""UPDATE $name SET o_totalprice = o_totalprice * 2
            WHERE o_year = 1997 AND o_orderkey % 4 = 1""")
      graft.sql.GraftSql.exec(s,
        s"OPTIMIZE $name ZORDER BY (o_year, o_orderkey)")
      // a crashed write's leftover, aged past the 7-day safety gate, so
      // the SQL sweep leg provably fires
      val strayDir = java.nio.file.Paths.get(root, "data", "zz_orphan")
      java.nio.file.Files.createDirectories(strayDir)
      val stray = strayDir.resolve("stray.parquet")
      java.nio.file.Files.write(stray, Array[Byte](0, 1, 2, 3))
      java.nio.file.Files.setLastModifiedTime(stray,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
      val receipt = graft.sql.GraftSql
        .sql(s, s"VACUUM $name RETAIN 2 SNAPSHOTS").collect()(0)
      require(receipt.getInt(0) > 0,
        s"SQL VACUUM expired no superseded files at $root")
      require(receipt.getInt(1) >= 1,
        s"SQL VACUUM swept no orphans at $root")
    }
    val data = graft.sql.GraftSql.sql(s,
      s"""SELECT 'data' AS src, o_year, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
          FROM $name GROUP BY o_year""")
    val hist = graft.sql.GraftSql.sql(s, s"DESCRIBE HISTORY $name")
      .select(lit("snap").as("src"), col("snapshot").as("o_year"),
        col("n_rows").as("n_orders"),
        lit(null).cast("double").as("sum_price"))
    data.unionByName(hist).orderBy("src", "o_year")
  }

  /** SQL views over graft tables (r11 verdict missing #2): the view is
    * created from pure SQL over a registered graft name, then the table
    * takes ANOTHER insert — and the row reads through the view with an
    * outer predicate. The oracle covers ALL years including the
    * post-view insert, so a green row proves the view RE-RESOLVES to
    * the latest snapshot per query (a frozen Spark temp view would miss
    * the 1998+ rows — a row-count mismatch), and the outer predicate
    * composes with the view body's own filter ([[graft.sql.GraftSqlViews]]
    * inlines the re-parsed body before optimization, so both reach the
    * parquet scan — the pushdown pin is PlanShapeSpec's). */
  val table_sql_view: Q = (s, d) => {
    val tag = graft.util.AppCleanup.appTag(s, d)
    val name = "sql_view_orders_" + tag
    val vname = "v_recent_orders_" + tag
    Sources.builtDir(s, d, "sql_view_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE,
              o_orderpriority STRING, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"""CREATE VIEW $vname AS
            SELECT o_orderkey, o_year, o_orderpriority, o_totalprice
            FROM $name WHERE o_year >= 1996""")
      // lands AFTER the view exists — the view must see it (latest
      // snapshot per query), which the all-years oracle enforces
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1998""")
    }
    graft.sql.GraftSql.sql(s,
      s"""SELECT o_year, o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM $vname
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY o_year, o_orderpriority
         ORDER BY o_year, o_orderpriority""")
  }

  /** `DESCRIBE TABLE` from pure SQL (r12 — the first statement a
    * SQL-first user types against a new name): the latest manifest
    * schema as (ord, col_name, data_type, nullable) rows, driven over
    * the SHARED alter fixture so the row also pins the
    * DDL-interaction: the post-ALTER describe must show the widened
    * 4-column schema with the added column LAST (add-only evolution),
    * while snapshot reads keep presenting each manifest's own schema
    * (the alter-vs-time-travel audit). Oracle = the literal declared
    * schema — manifest-bookkeeping drift IS the failure mode DESCRIBE
    * exists to surface. EXTENDED/PARTITION are rejected loudly at the
    * splice. */
  val table_sql_describe: Q = (s, d) => {
    table_sql_alter(s, d) // ensures the fixture table + its ALTER commit
    val name = "sql_alter_orders_" + graft.util.AppCleanup.appTag(s, d)
    graft.sql.GraftSql.sql(s, s"DESCRIBE TABLE $name").orderBy("ord")
  }

  /** Write-audit-publish BRANCHES from pure SQL (r12 verdict missing
    * #5 — the ingestion pattern the dq family composes with): `ALTER
    * TABLE ... CREATE BRANCH staging`, a branch-addressed `INSERT INTO
    * t@staging` (main untouched — the mid-build require pins that), an
    * AUDIT read of the branch head via the `graft_table_branch` TVF,
    * then `ALTER TABLE ... PUBLISH BRANCH` fast-forwarding main onto
    * the branch chain in one step, and a post-publish main INSERT on
    * top. The row reads three truths: the pre-publish main via time
    * travel (snapshot 2 — proof the branch write did not leak), the
    * branch head via the TVF, and latest. Divergence/race guards are
    * GraftTableSpec's. */
  val table_sql_branch: Q = (s, d) => {
    import graft.util.Det._
    val name = "sql_branch_orders_" + graft.util.AppCleanup.appTag(s, d)
    graft.functions.GraftTableFunctions.register(s)
    val root = Sources.builtDir(s, d, "sql_branch_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE,
              o_orderpriority STRING, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name CREATE BRANCH staging")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name@staging
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1998""")
      // the AUDIT: main must be exactly the pre-branch state while the
      // branch holds the staged batch on top — loud, not oracle-later
      val mainN = graft.sql.GraftSql
        .sql(s, s"SELECT count(1) AS n FROM $name").head().getLong(0)
      val branchN = graft.sql.GraftSql.sql(s,
        s"SELECT count(1) AS n FROM graft_table_branch('$root', 'staging')")
        .head().getLong(0)
      require(branchN > mainN,
        s"branch write leaked to main ($mainN) or vanished ($branchN)")
      val pub = graft.sql.GraftSql.sql(s,
        s"ALTER TABLE $name PUBLISH BRANCH staging").head().getInt(0)
      require(pub == 3, s"publish landed as snapshot $pub, not 3")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1999""")
    }
    def slice(df: org.apache.spark.sql.DataFrame, src: String) =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .select(lit(src).as("src"), col("o_orderpriority"),
          col("n_orders"), col("sum_price"))
    val ref = graft.sql.GraftSqlTables.lookup(Seq(name.toLowerCase(
      java.util.Locale.ROOT))).get
    slice(GraftTable.read(s, ref.root, Some(2)), "main_pre_publish")
      .unionByName(slice(graft.sql.GraftSql.sql(s,
        s"SELECT * FROM graft_table_branch('$root', 'staging')"), "branch"))
      .unionByName(slice(graft.sql.GraftSql.sql(s,
        s"SELECT * FROM $name"), "latest"))
      .orderBy("src", "o_orderpriority")
  }

  /** `SHOW TAGS` / `SHOW BRANCHES` (r13 — the ref introspection beside
    * SHOW TABLES: tags and branches are retention roots, so an
    * unlistable ref pins storage invisibly): the story plants a pinned
    * tag, a created-then-DROPPED tag, a written branch and an empty
    * branch, then reads both verbs — SHOW TAGS lists the WHOLE ref
    * namespace kind-tagged (tag pinned snapshot = head; branch fork
    * point + current head), SHOW BRANCHES only branches, the dropped
    * tag absent from both. Literal oracle like table_sql_show — every
    * id is pinned by the fixture's commit recipe. */
  val table_sql_refs: Q = (s, d) => {
    val name = "sql_refs_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_refs_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (o_orderkey BIGINT, o_year INT)
            USING graft OPTIONS (key 'o_orderkey') LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, CAST(year(o_orderdate) AS INT)
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, CAST(year(o_orderdate) AS INT)
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1998""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name CREATE TAG archive AS OF SNAPSHOT 2")
      graft.sql.GraftSql.exec(s, s"ALTER TABLE $name CREATE TAG doomed")
      graft.sql.GraftSql.exec(s, s"ALTER TABLE $name DROP TAG doomed")
      graft.sql.GraftSql.exec(s, s"ALTER TABLE $name CREATE BRANCH wip")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name@wip
            SELECT o_orderkey, CAST(year(o_orderdate) AS INT)
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1999""")
      graft.sql.GraftSql.exec(s, s"ALTER TABLE $name CREATE BRANCH idle")
    }
    def tagged(sql: String, src: String) =
      graft.sql.GraftSql.sql(s, sql)
        .select(lit(src).as("src"), col("name"), col("kind"),
          col("snapshot"), col("head"))
    tagged(s"SHOW TAGS $name", "show_tags")
      .unionByName(tagged(s"SHOW BRANCHES $name", "show_branches"))
      .orderBy("src", "name")
  }

  /** `ALTER TABLE ... RENAME COLUMN` from pure SQL (r12 verdict missing
    * #4 — the most common evolution after add): a METADATA-ONLY commit
    * (zero data movement; the manifest re-keys the schema and stats and
    * records each pre-rename file's write-time physical name, which the
    * read path resolves per rename epoch). The story: CREATE + a
    * pre-rename INSERT (files physically named o_totalprice), RENAME to
    * o_price, a post-rename INSERT (files physically o_price) — then
    * the row reads BOTH epochs by the NEW name (an unresolved physical
    * name would read the pre-rename epoch as all-NULL, a sum mismatch)
    * and the pre-rename snapshot by the OLD name through time travel
    * (each manifest pins its own schema; presenting the renamed schema
    * retroactively would fail the select outright). DROP COLUMN and
    * type changes stay loudly rejected (GraftTableSpec). */
  val table_sql_rename_col: Q = (s, d) => {
    import graft.util.Det._
    val name = "sql_rencol_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_rencol_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name RENAME COLUMN o_totalprice TO o_price")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1998""")
    }
    // latest by the NEW name — spans pre- AND post-rename files
    val latest = graft.sql.GraftSql.sql(s,
      s"SELECT o_year, o_price FROM $name")
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_price")).as("sum_price"))
      .select(lit("latest").as("src"), col("o_year"), col("n_orders"),
        col("sum_price"))
    // the pre-rename snapshot (v2 = post-first-INSERT) by the OLD name:
    // time travel pins each manifest's own schema
    val ref = graft.sql.GraftSqlTables.lookup(Seq(name.toLowerCase(
      java.util.Locale.ROOT))).get
    val v2 = GraftTable.read(s, ref.root, Some(2))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .select(lit("v2_old_name").as("src"), col("o_year"),
        col("n_orders"), col("sum_price"))
    latest.unionByName(v2).orderBy("src", "o_year")
  }

  /** `ALTER TABLE ... DROP COLUMN` from pure SQL (r12 verdict missing
    * #4's second half — rename landed in r13, drop completes the
    * metadata-only evolution surface): ONE commit narrows the schema,
    * moves zero data, and tombstones each file's write-time PHYSICAL
    * name, so the dropped bytes sitting in immutable files can never
    * resurface. The story walks the resurrection trap deliberately:
    * CREATE + a pre-drop INSERT (files physically carry o_totalprice
    * with real money values), DROP the column, re-ADD the SAME name,
    * then a post-re-add INSERT. The row proves (a) pre-drop rows read
    * the re-added namesake as NULL — parquet reads columns by name, so
    * an un-tombstoned drop would silently resurrect the old prices
    * (n_priced > 0 for 1992-1997 IS that failure); (b) post-re-add rows
    * carry real values; (c) time travel to the pre-drop snapshot still
    * reads the original column (each manifest pins its own schema).
    * The key column stays undroppable (GraftTableSpec). */
  val table_sql_drop_col: Q = (s, d) => {
    import graft.util.Det._
    val name = "sql_dropcol_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_dropcol_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name DROP COLUMN o_totalprice")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name ADD COLUMNS (o_totalprice DOUBLE)")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
                o_totalprice
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1998""")
    }
    // latest: pre-drop years must read the re-added namesake as NULL
    val latest = graft.sql.GraftSql.sql(s,
      s"SELECT o_year, o_totalprice FROM $name")
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_totalprice")).as("n_priced"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .select(lit("latest").as("src"), col("o_year"), col("n_orders"),
        col("n_priced"), col("sum_price"))
    // the pre-drop snapshot (v2 = post-first-INSERT) still reads the
    // ORIGINAL column: time travel pins each manifest's own schema
    val ref = graft.sql.GraftSqlTables.lookup(Seq(name.toLowerCase(
      java.util.Locale.ROOT))).get
    val v2 = GraftTable.read(s, ref.root, Some(2))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_totalprice")).as("n_priced"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .select(lit("v2_pre_drop").as("src"), col("o_year"),
        col("n_orders"), col("n_priced"), col("sum_price"))
    latest.unionByName(v2).orderBy("src", "o_year")
  }

  /** `SHOW TABLES IN graft` / `SHOW VIEWS IN graft` from pure SQL (r12
    * verdict directive #1 — the natural completion of DESCRIBE: after
    * "what is this name", "what names exist"). The story: two tables
    * (one plain CREATE, one CTAS), a view, and a created-then-DROPPED
    * table, all under a per-app prefix; SHOW TABLES must enumerate
    * exactly the three SURVIVING names with their kind (tables AND
    * views — the one-namespace surface), SHOW VIEWS only the view, and
    * the dropped name must be absent from both. The LIKE pattern (Spark
    * SHOW semantics: '*' wildcard) scopes the listing to this story's
    * prefix — the registry is process-global and every other query's
    * fixture tables live beside these. The prefix is stripped before
    * returning so the oracle can pin the names LITERALLY. Driver-side
    * registry reads; no job runs at any scale. */
  val table_sql_show: Q = (s, d) => {
    val tag = graft.util.AppCleanup.appTag(s, d)
      .toLowerCase(java.util.Locale.ROOT)
    val p = s"show_story_$tag"
    Sources.builtDir(s, d, "show_story_ta") { rootA =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE ${p}_ta (o_orderkey BIGINT, o_year INT)
            USING graft OPTIONS (key 'o_orderkey') LOCATION '$rootA'""")
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE ${p}_tb
            USING graft OPTIONS (key 'o_orderkey')
            LOCATION '${Sources.sinkDir(s, d, "show_story_tb")}'
            AS SELECT o_orderkey,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE o_orderkey % 100 = 0""")
      graft.sql.GraftSql.exec(s,
        s"CREATE VIEW ${p}_v AS SELECT o_orderkey FROM ${p}_ta")
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE ${p}_dropped (id BIGINT)
            USING graft OPTIONS (key 'id')
            LOCATION '${Sources.sinkDir(s, d, "show_story_drop")}'""")
      graft.sql.GraftSql.exec(s, s"DROP TABLE ${p}_dropped")
    }
    def strip(df: org.apache.spark.sql.DataFrame, src: String) =
      df.select(lit(src).as("src"),
        // names come back in the registry's normalized lowercase form;
        // drop "<prefix>_" so the oracle pins the suffixes literally
        expr(s"substring(name, ${p.length + 2})").as("name"), col("kind"))
    strip(graft.sql.GraftSql.sql(s, s"SHOW TABLES IN graft LIKE '${p}_*'"),
        "show_tables")
      .unionByName(strip(
        graft.sql.GraftSql.sql(s, s"SHOW VIEWS IN graft LIKE '${p}_*'"),
        "show_views"))
      .orderBy("src", "name")
  }

  /** `SHOW CREATE TABLE` from pure SQL — the DDL round-trip closing the
    * introspection set (SHOW TABLES = what exists, DESCRIBE = what it
    * is, SHOW CREATE TABLE = how to recreate it). The statement is
    * reconstructed from LIVE metadata: the story CREATEs with every
    * knob (key/stats/cluster/bloom/num_files), then ALTERs a column in
    * — the emitted DDL must show the EVOLVED schema (recreating the
    * table as typed would silently lose the evolution; Spark's own
    * semantics). A registered VIEW answers with its stored body. The
    * oracle pins both statements LITERALLY (per-app prefix and LOCATION
    * normalized, whitespace collapsed); GraftTableSpec proves the
    * round-trip by re-executing the emitted DDL at a fresh location.
    * Driver-side metadata reads; no job at any scale. */
  val table_sql_show_create: Q = (s, d) => {
    val tag = graft.util.AppCleanup.appTag(s, d)
      .toLowerCase(java.util.Locale.ROOT)
    val p = s"sc_story_$tag"
    val root = Sources.builtDir(s, d, "sc_story_t") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE ${p}_sc (o_orderkey BIGINT, o_price DOUBLE)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_orderkey',
                     cluster 'o_orderkey', bloom 'o_orderkey',
                     num_files '2')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE ${p}_sc ADD COLUMNS (o_year INT)")
      graft.sql.GraftSql.exec(s,
        s"CREATE VIEW ${p}_scv AS SELECT o_orderkey FROM ${p}_sc")
    }
    def norm(src: String, stmt: String) =
      graft.sql.GraftSql.sql(s, stmt)
        .select(lit(src).as("src"),
          regexp_replace(
            expr(s"replace(replace(createtab_stmt, '$root', " +
              s"'<location>'), '$p', 'x')"),
            "\\s+", " ").as("stmt"))
    norm("table", s"SHOW CREATE TABLE ${p}_sc")
      .unionByName(norm("view", s"SHOW CREATE TABLE ${p}_scv"))
      .orderBy("src")
  }

  /** CHECK constraints from pure SQL — the write-audit half the branch
    * family was begging to compose with: a declared predicate every
    * row-adding write must satisfy, validated BEFORE any file lands so
    * a rejected batch strands nothing (the Delta CHECK-constraint
    * model). The story: CREATE with an in-line CONSTRAINT, a good
    * batch, ADD CONSTRAINT (validating existing rows — a constraint
    * the data already violates is refused, proven in-build), a second
    * good batch, then the audit moment: the 1998 batch VIOLATES
    * year_range and must be rejected atomically — if any of its rows
    * leaked into the table, the 1998 group's count/sum would double
    * and the oracle row fails. DROP CONSTRAINT then admits the same
    * batch (the fixture's years span 1995-2001, so the final state is
    * the WHOLE source). Enforcement is one O(batch) aggregate per
    * write; ADD pays one full scan (the cost of constraining late). */
  val table_sql_constraint: Q = (s, d) => {
    import graft.util.Det._
    val name = "sql_con_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_con_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT,
              CONSTRAINT price_pos CHECK (o_totalprice >= 0))
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1996""")
      graft.sql.GraftSql.exec(s,
        s"""ALTER TABLE $name ADD CONSTRAINT year_range
            CHECK (o_year BETWEEN 1992 AND 1997)""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1997""")
      def mustReject(stmt: String, cname: String, what: String): Unit = {
        val rejected =
          try { graft.sql.GraftSql.exec(s, stmt); false }
          catch { case e: Throwable =>
            e.getMessage != null && e.getMessage.contains(cname) }
        require(rejected, s"$what must be rejected by '$cname'")
      }
      mustReject(
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1998""",
        "year_range", "the 1998 batch")
      mustReject(
        s"""ALTER TABLE $name ADD CONSTRAINT year_tight
            CHECK (o_year >= 1996)""",
        "year_tight", "constraining data that already violates it")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name DROP CONSTRAINT year_range")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1998""")
    }
    graft.sql.GraftSql.sql(s,
      s"SELECT o_year, o_totalprice FROM $name")
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_year")
  }

  /** `DESCRIBE DETAIL` from pure SQL — the one-row operational summary
    * beside HISTORY (what happened) and SHOW CREATE TABLE (how to
    * recreate it): the live snapshot's id and op, file/live-row/DV-row
    * counts, constraint count, named-ref counts, and the shallow-clone
    * borrow flag. The story exercises every counter: CREATE + a
    * 4-file INSERT + CREATE TAG + CREATE BRANCH + ADD CONSTRAINT —
    * snapshot/op/file/check/ref counts pin literally, the live row
    * count recomputes from the source slice. Driver-side metadata
    * reads; no job at any scale. */
  val table_sql_detail: Q = (s, d) => {
    val name = "sql_detail_orders_" + graft.util.AppCleanup.appTag(s, d)
    Sources.builtDir(s, d, "sql_detail_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s, s"ALTER TABLE $name CREATE TAG loaded")
      graft.sql.GraftSql.exec(s,
        s"ALTER TABLE $name CREATE BRANCH audit")
      graft.sql.GraftSql.exec(s,
        s"""ALTER TABLE $name ADD CONSTRAINT price_pos
            CHECK (o_totalprice >= 0)""")
    }
    graft.sql.GraftSql.sql(s, s"DESCRIBE DETAIL $name")
  }

  /** SHALLOW CLONE from pure SQL — the zero-copy dev/test-copy verb
    * every lakehouse format ships (Delta CLONE): the clone's first
    * snapshot BORROWS the source's live files (absolute paths, no byte
    * moves — cloning 100 TB is one driver-side commit), after which
    * the two tables diverge independently: the story INSERTs 1998 into
    * the CLONE only and 1999 into the SOURCE only, then reads both —
    * a clone that shared state with its source would show cross-
    * contaminated year sets, a clone that missed the borrow would
    * lose ≤1997 entirely. GraftTableSpec pins the zero-copy claim
    * itself (no data files under the clone's root until its own
    * write), DV isolation, vacuum never reaching borrowed files, and
    * OPTIMIZE as the progressive materializer. */
  val table_sql_clone: Q = (s, d) => {
    import graft.util.Det._
    val rootB = Sources.sinkDir(s, d, "sql_clone_dst")
    val tag = graft.util.AppCleanup.appTag(s, d)
    val src = s"sql_clone_src_$tag"
    val dst = s"sql_clone_dst_$tag"
    Sources.builtDir(s, d, "sql_clone_src") { rootA =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $src (
              o_orderkey BIGINT, o_totalprice DOUBLE, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4')
            LOCATION '$rootA'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $src
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s,
        s"CREATE TABLE $dst SHALLOW CLONE $src LOCATION '$rootB'")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $dst
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1998""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $src
            SELECT o_orderkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1999""")
    }
    def slice(name: String, tagName: String) =
      graft.sql.GraftSql.sql(s, s"SELECT o_year, o_totalprice FROM $name")
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .select(lit(tagName).as("src"), col("o_year"), col("n_orders"),
          col("sum_price"))
    slice(src, "source").unionByName(slice(dst, "clone"))
      .orderBy("src", "o_year")
  }

  /** RESTORE + snapshot TAGS from PURE SQL (r12 — the last two DSL-only
    * lifecycle verbs after the VACUUM/OPTIMIZE/HISTORY wave): the
    * bad-batch recovery story every snapshot format documents, driven
    * entirely by SQL statements — CREATE + good INSERT, `CREATE TAG
    * archive` pinning it, a bad INSERT, `RESTORE ... TO SNAPSHOT 2`
    * rolling it back as a new auditable commit, and the corrected
    * reload. The row reads BOTH truths through SQL: the tagged archive
    * (pre-bad-batch, reached by a tag-addressed TVF-style read) and the
    * latest state ("everything but the bad 1998 batch"), grouped by
    * priority so the row is distinct from the DSL table_restore twin.
    * All verbs ride [[graft.sql.GraftSqlMaint]]'s text seam — none are
    * in Spark's grammar. */
  val table_sql_restore: Q = (s, d) => {
    import graft.util.Det._
    val name = "sql_restore_orders_" + graft.util.AppCleanup.appTag(s, d)
    val root = Sources.builtDir(s, d, "sql_restore_orders") { root =>
      graft.sql.GraftSql.exec(s,
        s"""CREATE TABLE $name (
              o_orderkey BIGINT, o_totalprice DOUBLE,
              o_orderpriority STRING, o_year INT)
            USING graft
            OPTIONS (key 'o_orderkey', stats 'o_year,o_orderkey',
                     cluster 'o_year,o_orderkey', num_files '4',
                     bloom 'o_orderkey')
            LOCATION '$root'""")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) <= 1997""")
      graft.sql.GraftSql.exec(s, s"ALTER TABLE $name CREATE TAG archive")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) = 1998""")
      val restored = graft.sql.GraftSql
        .sql(s, s"RESTORE TABLE $name TO SNAPSHOT 2").collect()(0).getInt(0)
      require(restored == 4, s"RESTORE landed as snapshot $restored, not 4")
      graft.sql.GraftSql.exec(s,
        s"""INSERT INTO $name
            SELECT o_orderkey, o_totalprice, o_orderpriority,
                CAST(year(o_orderdate) AS INT) AS o_year
            FROM parquet.`$d/orders.parquet`
            WHERE year(o_orderdate) >= 1999""")
    }
    // BOTH truths read through SQL: the archive via the tag-addressed
    // graft_table_tag TVF, latest via the registered name
    graft.functions.GraftTableFunctions.register(s)
    def slice(df: org.apache.spark.sql.DataFrame, which: String) =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .select(lit(which).as("src"), col("o_orderpriority"),
          col("n_orders"), col("sum_price"))
    slice(s.sql(s"SELECT * FROM graft_table_tag('$root', 'archive')"),
        "archive")
      .unionByName(slice(
        graft.sql.GraftSql.sql(s, s"SELECT * FROM $name"), "latest"))
      .orderBy("src", "o_orderpriority")
  }

  /** SCD2 (slowly-changing-dimension type 2) reconstruction — the
    * warehouse-history staple: the full row-level change log over ALL
    * commits (0 → 3: creation inserts, append inserts, merge
    * postimages) windows per key into validity intervals —
    * `valid_from_snap` = the commit that produced the version,
    * `valid_to_snap` = the next version's commit (NULL while current),
    * `is_current` = no successor. Prices are bit-exact raw doubles
    * (the merge writes 2·x — an exact binary scale). Generalizes to
    * any number of versions per key: the window is one lead() over the
    * (key, commit) order, cost bounded by versions-per-key, and the
    * change log itself is the CDC surface table_changes_merge proves.
    * The oracle derives the identical log from the source relation
    * (v1 = years ≤ 1997, v2 = 1998 appends, v3 = doubled prices on the
    * 1998 `key % 3 = 0` slice — the fixture's commit recipe). */
  val table_scd2: Q = (s, d) =>
    scd2Of(GraftTable.changesBetweenRows(s, ordersTable(s, d), 0, 3,
      "o_orderkey"))

  /** kernel over any row-level change log carrying (o_orderkey,
    * o_totalprice, _change_type, _commit_snapshot) — generalizes to ANY
    * number of versions per key: one lead() per change event, so a
    * 3-commit double→triple history chains three intervals, a DELETE
    * closes its predecessor's interval (the deleted key has NO current
    * row — the delete event participates in the lead() but emits no
    * interval itself), and a later re-insert opens a fresh interval
    * after the closed one. GraftTableSpec drives all three shapes over
    * a planted multi-commit table (r9 verdict #4 latent-divergence
    * audit: the production fixture only ever shows 2 versions/key and
    * no deletes). */
  private[graft] def scd2Of(
      log: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderkey").orderBy("v")
    log
      .where(col("_change_type").isin("insert", "update_postimage", "delete"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("_commit_snapshot").as("v"),
        (col("_change_type") === "delete").as("is_del"))
      .select(col("o_orderkey"), col("v").as("valid_from_snap"),
        lead(col("v"), 1).over(w).as("valid_to_snap"),
        lead(col("v"), 1).over(w).isNull.as("is_current"),
        col("o_totalprice"), col("is_del"))
      .where(!col("is_del"))
      .drop("is_del")
      .orderBy("o_orderkey", "valid_from_snap")
  }

  val queries: Seq[(String, Q)] = Seq(
    "table_snapshot" -> table_snapshot,
    "table_sql_tt" -> table_sql_tt,
    "table_sql_asof_name" -> table_sql_asof_name,
    "table_sql_partitioned" -> table_sql_partitioned,
    "table_sql_part_transform" -> table_sql_part_transform,
    "table_evolution" -> table_evolution,
    "table_widen" -> table_widen,
    "table_sql_analyze" -> table_sql_analyze,
    "table_truncate" -> table_truncate,
    "table_truncate" -> table_truncate,
    "table_sql_replace" -> table_sql_replace,
    "table_sql_part_overwrite" -> table_sql_part_overwrite,
    "table_stream_sink" -> table_stream_sink,
    "table_stream_upsert" -> table_stream_upsert,
    "table_sql_cdc" -> table_sql_cdc,
    "table_cdc_replay" -> table_cdc_replay,
    "table_sql_merge" -> table_sql_merge,
    "table_sql_dml" -> table_sql_dml,
    "table_sql_ddl" -> table_sql_ddl,
    "table_sql_alter" -> table_sql_alter,
    "table_sql_maint" -> table_sql_maint,
    "table_sql_view" -> table_sql_view,
    "table_sql_restore" -> table_sql_restore,
    "table_sql_describe" -> table_sql_describe,
    "table_sql_show" -> table_sql_show,
    "table_sql_show_create" -> table_sql_show_create,
    "table_sql_constraint" -> table_sql_constraint,
    "table_sql_clone" -> table_sql_clone,
    "table_sql_detail" -> table_sql_detail,
    "table_sql_rename_col" -> table_sql_rename_col,
    "table_sql_drop_col" -> table_sql_drop_col,
    "table_sql_branch" -> table_sql_branch,
    "table_sql_refs" -> table_sql_refs,
    "table_scd2" -> table_scd2,
    "table_incr_agg" -> table_incr_agg,
    "table_time_travel" -> table_time_travel,
    "table_changes" -> table_changes,
    "table_changes_merge" -> table_changes_merge,
    "table_prune" -> table_prune,
    "table_pointlookup" -> table_pointlookup,
    "table_compact" -> table_compact,
    "table_delete" -> table_delete,
    "table_delete_mor" -> table_delete_mor,
    "table_restore" -> table_restore,
    "table_vacuum" -> table_vacuum,
    "table_history" -> table_history,
    "table_asof" -> table_asof,
    "table_zorder" -> table_zorder)

  val oracle: Seq[(String, String)] = Seq(
    // the same change log derived from the source relation (the
    // fixture's commit recipe), windowed into validity intervals;
    // commit ids are 32-bit on both engines (CAST INT per convention)
    "table_scd2" ->
      """WITH log AS (
           SELECT o_orderkey, o_totalprice,
               CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 2 END AS v
           FROM orders
           UNION ALL
           SELECT o_orderkey, 2 * o_totalprice, 3
           FROM orders
           WHERE year(o_orderdate) = 1998 AND o_orderkey % 3 = 0)
         SELECT o_orderkey, CAST(v AS INT) AS valid_from_snap,
             CAST(lead(v) OVER w AS INT) AS valid_to_snap,
             (lead(v) OVER w IS NULL) AS is_current,
             o_totalprice
         FROM log
         WINDOW w AS (PARTITION BY o_orderkey ORDER BY v)
         ORDER BY o_orderkey, valid_from_snap""",
    // the TVF must plan exactly snapshot 1: pre-append, pre-merge
    "table_sql_tt" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) <= 1997
         GROUP BY 1 ORDER BY 1""",
    // final state: the corrected 1996 replaces the corrupted one —
    // an append doubles 1996, a static overwrite erases other years
    "table_sql_part_overwrite" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders GROUP BY 1 ORDER BY o_year""",
    // the streamed ingest must equal the source exactly — a lost or
    // replayed micro-batch breaks count and sum per status group
    "table_stream_sink" ->
      """SELECT o_orderstatus, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders GROUP BY 1 ORDER BY o_orderstatus""",
    // the streamed-upsert final state replays statically: ≤1993 rows
    // as-is, the 1994–95 corrections doubled (MERGEd over live keys,
    // never appended beside them), the 1996–97 batch inserted
    "table_stream_upsert" ->
      """SELECT o_orderstatus, count(1) AS n_orders,
             CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM (
           SELECT o_orderstatus, o_totalprice AS price
           FROM orders WHERE year(o_orderdate) <= 1993
           UNION ALL
           SELECT o_orderstatus, o_totalprice * 2 AS price
           FROM orders WHERE year(o_orderdate) BETWEEN 1994 AND 1995
           UNION ALL
           SELECT o_orderstatus, o_totalprice AS price
           FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1997
         ) GROUP BY 1 ORDER BY o_orderstatus""",
    // the partition-filtered slice replays statically; the engine-side
    // partition pruning is plan-pinned, never correctness-load-bearing
    "table_sql_partitioned" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders
         WHERE year(o_orderdate) BETWEEN 1996 AND 1997
         GROUP BY 1, 2 ORDER BY o_year, o_orderpriority""",
    // the evolved final state replays statically: pre-1996 rows never
    // received o_orderpriority (count = 0), the merged 1996 batch
    // carries it — a lost widening or a resurrected column flips n_prio
    "table_evolution" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             count(CASE WHEN year(o_orderdate) = 1996
                        THEN o_orderpriority END) AS n_prio,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) <= 1996
         GROUP BY 1 ORDER BY o_year""",
    // the widened final state replays statically: narrow-epoch rows as
    // INT, the post-widen batch shifted past Int.MaxValue — a sheared
    // promotion or a lost widening breaks sum_cust (sum goes HUGEINT in
    // DuckDB → CAST BIGINT, the cross-engine integer-sum rule)
    "table_widen" ->
      """SELECT o_year, count(1) AS n_rows,
             CAST(sum(cust) AS BIGINT) AS sum_cust
         FROM (
           SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                  CAST(o_custkey AS INTEGER) AS cust
           FROM orders WHERE year(o_orderdate) <= 1995
           UNION ALL
           SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                  o_custkey + 4000000000 AS cust
           FROM orders WHERE year(o_orderdate) = 1996
         ) GROUP BY o_year ORDER BY o_year""",
    // both worlds replay statically: post = the per-year aggregate the
    // replace installed, pre = the raw slice history still serves
    "table_sql_replace" ->
      """SELECT form, o_year, n_orders, sum_price FROM (
           SELECT 'post' AS form, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2
           UNION ALL
           SELECT 'pre_check' AS form, CAST(year(o_orderdate) AS INT),
               count(1), CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE)
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2
         ) ORDER BY form, o_year""",
    // both worlds replay statically: post = the reloaded 1996–97
    // slice, pre = the ≤1995 slice the truncate cleared but history
    // still serves
    "table_truncate" ->
      """SELECT form, o_orderstatus, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM (
           SELECT 'post' AS form, o_orderstatus, o_totalprice
           FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1997
           UNION ALL
           SELECT 'pre' AS form, o_orderstatus, o_totalprice
           FROM orders WHERE year(o_orderdate) <= 1995
         ) GROUP BY form, o_orderstatus
         ORDER BY form, o_orderstatus""",
    // the deterministic stat subset recomputes from the source; the
    // sort key is the stat name, values rendered as strings
    "table_sql_analyze" ->
      """SELECT stat, value FROM (
           SELECT 'rowCount' AS stat, CAST(count(1) AS VARCHAR) AS value
           FROM orders WHERE year(o_orderdate) <= 1995
           UNION ALL
           SELECT 'min.o_orderkey', CAST(min(o_orderkey) AS VARCHAR)
           FROM orders WHERE year(o_orderdate) <= 1995
           UNION ALL
           SELECT 'max.o_orderkey', CAST(max(o_orderkey) AS VARCHAR)
           FROM orders WHERE year(o_orderdate) <= 1995
           UNION ALL
           SELECT 'nulls.o_orderkey', '0'
         ) ORDER BY stat""",
    // the raw-timestamp slice replays statically; the hidden months()
    // transform and its mapped PartitionFilters are engine-side layout,
    // plan-pinned in GraftTableSpec, never correctness-load-bearing
    "table_sql_part_transform" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1995-10-01 00:00:00'
         GROUP BY 1 ORDER BY o_month""",
    // VERSION AS OF 1 = the pre-append slice; TIMESTAMP AS OF v2's own
    // commit stamp = the whole table at pre-merge prices — both replay
    // statically from the source (the fixture's commit recipe)
    "table_sql_asof_name" ->
      """SELECT * FROM (
           SELECT 'v1' AS form, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997
           GROUP BY 2
           UNION ALL
           SELECT 'v2ts' AS form, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders
           GROUP BY 2)
         ORDER BY form, o_year""",
    // the four MERGE arms replayed statically: 1997 keys %5 deleted,
    // other 1997 prices doubled (exact), 1998+ even keys inserted,
    // 1992 rows flagged 'X'; integer-sum n_flagged CAST BIGINT
    "table_sql_merge" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
               year(o_orderdate) AS o_year
           FROM orders WHERE year(o_orderdate) <= 1997),
         final AS (
           SELECT o_orderkey, o_orderstatus,
               2 * o_totalprice AS o_totalprice, o_year
           FROM base WHERE o_year = 1997 AND o_orderkey % 5 <> 0
           UNION ALL
           SELECT o_orderkey,
               CASE WHEN o_year = 1992 THEN 'X' ELSE o_orderstatus END,
               o_totalprice, o_year
           FROM base WHERE o_year <= 1996
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice,
               year(o_orderdate) AS o_year
           FROM orders
           WHERE year(o_orderdate) >= 1998 AND o_orderkey % 2 = 0)
         SELECT CAST(o_year AS INT) AS o_year, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
             CAST(sum(CASE WHEN o_orderstatus = 'X' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_flagged
         FROM final GROUP BY 1 ORDER BY 1""",
    // INSERT(1998+) + UPDATE(double 1998 %3) + DELETE(1996 %7=2)
    // replayed statically over the source relation
    "table_sql_dml" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1998
                                 AND o_orderkey % 3 = 0
                                THEN 2 * o_totalprice
                                ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE NOT (year(o_orderdate) = 1996 AND o_orderkey % 7 = 2)
         GROUP BY 1 ORDER BY 1""",
    // final state of the SQL-born table replayed statically: both
    // INSERT slices partition the full relation; the DELETE drops the
    // %10=3 keys
    "table_sql_ddl" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE o_orderkey % 10 <> 3
         GROUP BY 1 ORDER BY 1""",
    // the alter story replayed statically: ≤1993 rows backfilled
    // 'legacy' by the UPDATE, 1994-1996 rows genuinely NULL → 'unset'
    // (pre-alter files, never rewritten), 1997+ rows born with the
    // column by the post-alter INSERT
    "table_sql_alter" ->
      """WITH t AS (
           SELECT o_orderkey, o_totalprice,
               year(o_orderdate) AS o_year,
               CASE WHEN year(o_orderdate) <= 1993 THEN 'legacy'
                    WHEN year(o_orderdate) <= 1996 THEN 'unset'
                    WHEN o_orderkey % 2 = 0 THEN 'even'
                    ELSE 'odd' END AS band
           FROM orders)
         SELECT band, CAST(o_year AS INT) AS o_year, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM t GROUP BY 1, 2 ORDER BY band, o_year""",
    // OPTIMIZE and VACUUM are each content-invariant, so the data slice
    // is the final post-UPDATE state replayed statically; the surviving
    // history is pinned LITERALLY — snapshots {4, 5}, each at the full
    // live count (UPDATE count-neutral, compact invariant). Five
    // retained snapshots instead of two = row-count mismatch.
    "table_sql_maint" ->
      """WITH t AS (
           SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CASE WHEN year(o_orderdate) = 1997 AND o_orderkey % 4 = 1
                    THEN 2 * o_totalprice ELSE o_totalprice END AS p
           FROM orders),
         d AS (
           SELECT 'data' AS src, o_year, count(1) AS n_orders,
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM t GROUP BY 2),
         n AS (SELECT count(1) AS c FROM t)
         SELECT * FROM (
           SELECT * FROM d
           UNION ALL
           SELECT 'snap', CAST(4 AS INT), c, CAST(NULL AS DOUBLE) FROM n
           UNION ALL
           SELECT 'snap', CAST(5 AS INT), c, CAST(NULL AS DOUBLE) FROM n)
         ORDER BY src, o_year""",
    // all years ≥ 1996 at the two urgent priorities — INCLUDING the
    // 1998+ slice inserted AFTER the view was created: a snapshot-frozen
    // view misses those rows and fails on row count, so the oracle
    // itself proves per-query re-resolution
    "table_sql_view" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders
         WHERE year(o_orderdate) >= 1996
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY 1, 2 ORDER BY o_year, o_orderpriority""",
    // the literal declared schema, widened by the ALTER: a mismatch
    // means the manifest's schema bookkeeping drifted
    "table_sql_describe" ->
      """SELECT * FROM (VALUES
           (1, 'o_orderkey', 'bigint', true),
           (2, 'o_totalprice', 'double', true),
           (3, 'o_year', 'int', true),
           (4, 'o_band', 'string', true))
         t(ord, col_name, data_type, nullable)
         ORDER BY ord""",
    // the literal surviving ref namespace: the pinned tag (snapshot 2 =
    // head), the written branch (fork 3, head 4) and the idle branch
    // (fork = head = 3); the dropped tag absent — an unlistable or
    // undead ref IS the failure mode SHOW exists to surface
    "table_sql_refs" ->
      """SELECT * FROM (VALUES
           ('show_branches', 'idle', 'branch', 3, 3),
           ('show_branches', 'wip', 'branch', 3, 4),
           ('show_tags', 'archive', 'tag', 2, 2),
           ('show_tags', 'idle', 'branch', 3, 3),
           ('show_tags', 'wip', 'branch', 3, 4))
         t(src, name, kind, snapshot, head)
         ORDER BY src, name""",
    // three truths replayed statically: pre-publish main = ≤1997 (the
    // branch write must NOT have leaked), the branch head = ≤1998 (the
    // staged batch on top of the fork), latest = everything (publish +
    // the post-publish reload)
    "table_sql_branch" ->
      """WITH pre AS (
           SELECT 'main_pre_publish' AS src, o_orderpriority,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2),
         br AS (
           SELECT 'branch' AS src, o_orderpriority,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1998 GROUP BY 2),
         l AS (
           SELECT 'latest' AS src, o_orderpriority,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders GROUP BY 2)
         SELECT * FROM (
           SELECT * FROM pre UNION ALL
           SELECT * FROM br UNION ALL
           SELECT * FROM l)
         ORDER BY src, o_orderpriority""",
    // both truths replayed statically: latest spans all years (the
    // rename moved no data, so values are the source's exactly — a NULLed
    // pre-rename epoch is a sum mismatch); the time-travel slice is the
    // pre-rename state (≤ 1997)
    "table_sql_rename_col" ->
      """WITH l AS (
           SELECT 'latest' AS src, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders GROUP BY 2),
         v AS (
           SELECT 'v2_old_name' AS src,
               CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2)
         SELECT * FROM (SELECT * FROM l UNION ALL SELECT * FROM v)
         ORDER BY src, o_year""",
    // latest: pre-drop years (≤ 1997) read the re-added namesake as
    // NULL — zero priced rows and a NULL sum (a resurrection would put
    // the source's money values back, a count AND sum mismatch);
    // post-re-add years (≥ 1998) carry real values; the time-travel
    // slice replays the pre-drop state with its original column
    "table_sql_drop_col" ->
      """WITH l AS (
           SELECT 'latest' AS src, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               count(CASE WHEN year(o_orderdate) >= 1998 THEN 1 END)
                   AS n_priced,
               CAST(sum(CASE WHEN year(o_orderdate) >= 1998
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
                   AS sum_price
           FROM orders GROUP BY 2),
         v AS (
           SELECT 'v2_pre_drop' AS src,
               CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders, count(1) AS n_priced,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2)
         SELECT * FROM (SELECT * FROM l UNION ALL SELECT * FROM v)
         ORDER BY src, o_year""",
    // the literal surviving catalog: two tables + the view under the
    // story prefix (SHOW TABLES lists the whole one-namespace surface,
    // kind-tagged; SHOW VIEWS only the view); the dropped table and
    // every other fixture name are absent — a stale or leaked binding
    // IS the failure mode SHOW exists to surface
    "table_sql_show" ->
      """SELECT * FROM (VALUES
           ('show_tables', 'ta', 'table'),
           ('show_tables', 'tb', 'table'),
           ('show_tables', 'v', 'view'),
           ('show_views', 'v', 'view'))
         t(src, name, kind)
         ORDER BY src, name""",
    // both DDL statements pinned LITERALLY: the table's must show the
    // EVOLVED schema (o_year present — an as-typed reconstruction
    // silently loses the ALTER) with every knob, the view's its stored
    // body; prefix/location normalized, whitespace collapsed
    "table_sql_show_create" ->
      """SELECT * FROM (VALUES
           ('table', 'CREATE TABLE `x_sc` ( o_orderkey BIGINT, o_price DOUBLE, o_year INT) USING graft OPTIONS (key ''o_orderkey'', stats ''o_orderkey'', cluster ''o_orderkey'', bloom ''o_orderkey'', num_files ''2'') LOCATION ''<location>'''),
           ('view', 'CREATE VIEW `x_scv` AS SELECT o_orderkey FROM x_sc'))
         t(src, stmt)
         ORDER BY src""",
    // the replayed state statically: years ≤1997, +100.00 on %7 keys,
    // minus the %10=3 slice — a lost post-image or phantom delete
    // breaks count or sum
    "table_cdc_replay" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(CASE WHEN o_orderkey % 7 = 0
                                THEN o_totalprice + 100.0
                                ELSE o_totalprice END
                      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE year(o_orderdate) <= 1997 AND o_orderkey % 10 <> 3
         GROUP BY 1 ORDER BY o_year""",
    // the rejected 1998 batch landed NOTHING (atomic rejection): every
    // year group matches the source exactly — a leaked partial batch
    // doubles 1998's count and sum; the final state replays statically
    // because the drop re-admitted the same slice
    "table_sql_constraint" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders GROUP BY 1 ORDER BY o_year""",
    // every counter literal except the live row count, which
    // recomputes from the source slice; single row, no ORDER BY needed
    "table_sql_detail" ->
      """SELECT CAST(3 AS INT) AS snapshot,
             'alter_add_check(price_pos)' AS op,
             CAST(4 AS BIGINT) AS n_files,
             (SELECT CAST(count(1) AS BIGINT) FROM orders
              WHERE year(o_orderdate) <= 1997) AS n_live_rows,
             CAST(0 AS BIGINT) AS n_dv_rows,
             CAST(1 AS INT) AS n_checks,
             CAST(1 AS INT) AS n_tags,
             CAST(1 AS INT) AS n_branches,
             false AS is_clone,
             '' AS partition_cols""",
    // independent divergence from a shared borrow: source = ≤1997 ∪
    // 1999, clone = ≤1997 ∪ 1998 — cross-contamination or a lost
    // borrow both break the year sets
    "table_sql_clone" ->
      """WITH sl AS (
           SELECT 'source' AS src, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders
           WHERE year(o_orderdate) <= 1997 OR year(o_orderdate) = 1999
           GROUP BY 2),
         cl AS (
           SELECT 'clone' AS src, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1998 GROUP BY 2)
         SELECT * FROM (SELECT * FROM sl UNION ALL SELECT * FROM cl)
         ORDER BY src, o_year""",
    // the tag pins the pre-bad-batch slice (≤ 1997); RESTORE undid the
    // 1998 batch and the corrected reload re-added only 1999+ — latest
    // is "everything but 1998"; both replayed statically
    "table_sql_restore" ->
      """WITH a AS (
           SELECT 'archive' AS src, o_orderpriority,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2),
         l AS (
           SELECT 'latest' AS src, o_orderpriority,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <> 1998 GROUP BY 2)
         SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM l)
         ORDER BY src, o_orderpriority""",
    // the TVF's v1→v2 delta = the appended slice at pre-merge values
    "table_sql_cdc" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) >= 1998
         GROUP BY 1 ORDER BY 1""",
    // vacuum must change no surviving state: the tagged archive is the
    // pre-append slice at original prices, latest is the post-merge
    // state with the 1998 % 3 keys doubled — both replayed statically
    "table_vacuum" ->
      """WITH a AS (
           SELECT 'archive' AS src, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 2),
         l AS (
           SELECT 'latest' AS src, CAST(year(o_orderdate) AS INT) AS o_year,
               count(1) AS n_orders,
               CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1998
                                   AND o_orderkey % 3 = 0
                                  THEN 2 * o_totalprice
                                  ELSE o_totalprice END
                   AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 2)
         SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM l)
         ORDER BY src, o_year""",
    // as-of v2's own stamp = the post-append, pre-merge state: the full
    // relation at original prices
    "table_asof" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    // each commit's manifest row count recomputed from the source: the
    // create holds ≤ 1997, append and merge both cover the full relation
    // (the merge upserts keys the append already landed — count-neutral)
    "table_history" ->
      """WITH n AS (SELECT count(1) AS all_rows FROM orders),
         c AS (SELECT count(1) AS create_rows FROM orders
               WHERE year(o_orderdate) <= 1997)
         SELECT * FROM (
           SELECT CAST(3 AS INT) AS snapshot, CAST(2 AS INT) AS parent,
               'merge' AS op, all_rows AS n_rows FROM n
           UNION ALL
           SELECT CAST(2 AS INT), CAST(1 AS INT), 'append', all_rows FROM n
           UNION ALL
           SELECT CAST(1 AS INT), CAST(0 AS INT), 'create', create_rows
           FROM c)
         ORDER BY snapshot DESC""",
    // restore(1) undid the 1998+ append; the corrected reload re-added
    // only 1999+ — so the final state is simply "everything but 1998"
    "table_restore" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) <> 1998
         GROUP BY 1 ORDER BY 1""",
    // final state replayed statically: merge keys carry doubled totals
    // fold ≡ recompute: the maintained aggregate must equal the direct
    // final-state aggregate, so the oracle is table_snapshot's SQL
    "table_incr_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1998
                                 AND o_orderkey % 3 = 0
                                THEN 2 * o_totalprice
                                ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "table_snapshot" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1998
                                 AND o_orderkey % 3 = 0
                                THEN 2 * o_totalprice
                                ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    // snapshot 1 = the pre-append, pre-merge slice at original prices
    "table_time_travel" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) <= 1997
         GROUP BY 1 ORDER BY 1""",
    // the v1→v2 delta = exactly the appended slice, pre-merge values
    "table_changes" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) >= 1998
         GROUP BY 1 ORDER BY 1""",
    // the merge's row-level CDC replayed statically: each 1998 %3 key
    // yields a preimage at the original price and a postimage doubled;
    // doubling a double is exact (exponent bump), so the DECIMAL
    // accumulation agrees bit-for-bit across engines
    "table_changes_merge" ->
      """WITH touched AS (
           SELECT o_totalprice FROM orders
           WHERE year(o_orderdate) = 1998 AND o_orderkey % 3 = 0)
         SELECT * FROM (
           SELECT 'update_preimage' AS _change_type, count(1) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM touched
           UNION ALL
           SELECT 'update_postimage' AS _change_type, count(1) AS n_rows,
               CAST(sum(CAST(2 * o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
           FROM touched)
         ORDER BY _change_type""",
    // pruned read, post-merge state restricted to 1996 (merge touched
    // only 1998 keys, so 1996 values are the originals)
    "table_prune" ->
      """SELECT o_orderstatus, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) = 1996
         GROUP BY 1 ORDER BY 1""",
    // the same 12-key set named in pure SQL; values reflect the merge
    // (none of the smallest %7 keys land in the doubled 1998 set at the
    // shipped SFs, but the CASE keeps the oracle honest if one ever does)
    "table_pointlookup" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
             CASE WHEN year(o_orderdate) = 1998 AND o_orderkey % 3 = 0
                  THEN 2 * o_totalprice ELSE o_totalprice END
                 AS o_totalprice
         FROM orders
         WHERE o_orderkey % 7 = 0 AND o_orderkey IN (
             SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0
             ORDER BY o_orderkey LIMIT 12)
         ORDER BY o_orderkey""",
    // compaction is content-invariant: five small commits then one
    // compact commit must aggregate exactly like the source slice
    "table_compact" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) = 1996
         GROUP BY 1 ORDER BY 1""",
    // both MOR commits replayed statically: 1996 minus the % 7 = 2 keys
    // (DV delete), with % 5 = 0 survivors at doubled prices (DV upsert)
    "table_delete_mor" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(CASE WHEN o_orderkey % 5 = 0
                                THEN 2 * o_totalprice
                                ELSE o_totalprice END
                 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE year(o_orderdate) = 1996
           AND NOT o_orderkey % 7 = 2
         GROUP BY 1 ORDER BY 1""",
    // the delete replayed statically: 1996 minus the % 7 = 2 keys
    "table_delete" ->
      """SELECT o_orderpriority, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE year(o_orderdate) = 1996
           AND NOT o_orderkey % 7 = 2
         GROUP BY 1 ORDER BY 1""",
    // layout must not change content: the z-ordered customer-band read
    // aggregates exactly like the plain predicate over the source
    "table_zorder" ->
      """SELECT o_orderstatus, count(1) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
         FROM orders WHERE o_custkey BETWEEN 1 AND 200
         GROUP BY 1 ORDER BY 1""")
}
