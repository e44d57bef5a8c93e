package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFieldName, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AddConstraint, AlterColumns, ColumnDefinition, CreateTable, CreateTableAsSelect, DescribeRelation, DropColumns, DropConstraint, DropTable, LogicalPlan, OptionList, QualifiedColType, RenameColumn, RenameTable, ShowCreateTable, ShowTables, ShowViews, UnresolvedTableSpec}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.types.{StructField, StructType}

import graft.table.GraftTable

/** SQL DDL over graft tables — the catalog-lifecycle completion of the
  * r10 DML surface (r10 verdict missing #1): `CREATE TABLE ... USING
  * graft`, `CREATE TABLE ... USING graft AS SELECT`, and `DROP TABLE`,
  * all from pure SQL, so a table becomes name-addressable without any
  * Scala `GraftSqlTables.register` call.
  *
  * Spark-first mechanics: the statements are spliced at the PARSER
  * seam (`SparkSessionExtensions.injectParser`, [[GraftSqlParser]]),
  * not in a resolution rule — `ResolveSessionCatalog` is prepended to
  * every session's extended resolution rules and converts a resolved
  * `CreateTable` into a V1 session-catalog command within the same
  * fixed-point iteration, so an injected rule can never reliably win
  * that race; the parser hook runs strictly first. Plain sessions get
  * the identical splice inside [[GraftSql.resolve]].
  *
  * Table contract mirrors the DSL create call: `USING graft` with
  * `OPTIONS (key '<col>' [, stats 'a,b'] [, cluster 'a,b']
  * [, num_files 'n'] [, bloom 'a,b'])` and the storage root from
  * `LOCATION '<path>'` (or a `root` option). `key` is the table's
  * unique primary key — the same key-addressed assumption every DML
  * verb enforces. DROP unbinds the name and leaves files (external-
  * table semantics); `DROP ... PURGE` also deletes the root directory.
  */
object GraftSqlDdl {

  /** Parse-time splice: CREATE/CTAS with provider `graft` and DROP of a
    * registered name become graft commands; everything else passes
    * through untouched (a DROP of an unregistered name stays Spark's —
    * the session catalog may legitimately own it). */
  def splice(plan: LogicalPlan): LogicalPlan =
    GraftSqlViews.splice(plan).getOrElse(plan match {
      case CreateTable(UnresolvedIdentifier(parts, _), cols, partitioning,
          spec: UnresolvedTableSpec, ignoreIfExists)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        GraftCreateTableCommand(parts, toSchema(cols), partitioning,
          knobs(parts, spec), ignoreIfExists, specChecks(parts, spec))
      case CreateTableAsSelect(UnresolvedIdentifier(parts, _), partitioning,
          query, spec: UnresolvedTableSpec, _, ignoreIfExists, _)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        GraftCtasCommand(parts, query, partitioning, knobs(parts, spec),
          ignoreIfExists, specChecks(parts, spec))
      case DropTable(UnresolvedIdentifier(parts, _), ifExists, purge)
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftDropTableCommand(parts, ifExists, purge)
      // [CREATE OR] REPLACE TABLE ... USING graft [AS SELECT]: one
      // versioned redefinition commit — history survives (see
      // GraftTable.replaceTable); parser seam like CREATE/CTAS
      case org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect(
          UnresolvedIdentifier(parts, _), partitioning, query,
          spec: UnresolvedTableSpec, _, orCreate, _)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        GraftReplaceCtasCommand(parts, query, partitioning,
          knobs(parts, spec), orCreate, specChecks(parts, spec))
      case org.apache.spark.sql.catalyst.plans.logical.ReplaceTable(
          UnresolvedIdentifier(parts, _), cols, partitioning,
          spec: UnresolvedTableSpec, orCreate)
          if spec.provider.exists(_.equalsIgnoreCase("graft")) =>
        GraftReplaceTableCommand(parts, toSchema(cols), partitioning,
          knobs(parts, spec), orCreate, specChecks(parts, spec))
      case AddColumns(UnresolvedTable(parts, _, _), colsToAdd)
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftAlterAddColumnsCommand(parts, toAddedFields(parts, colsToAdd))
      case RenameTable(UnresolvedTableOrView(parts, _, _), newName, false)
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftRenameTableCommand(parts, newName)
      case RenameColumn(UnresolvedTable(parts, _, _),
          UnresolvedFieldName(fieldParts), newName)
          if GraftSqlTables.lookup(parts).isDefined =>
        require(fieldParts.length == 1,
          s"ALTER TABLE ${parts.mkString(".")} RENAME COLUMN: nested " +
            "column paths are not supported")
        GraftAlterRenameColumnCommand(parts, fieldParts.head, newName)
      case DropColumns(UnresolvedTable(parts, _, _), cols, ifExists)
          if GraftSqlTables.lookup(parts).isDefined =>
        val names = cols.map {
          case UnresolvedFieldName(fieldParts) =>
            require(fieldParts.length == 1,
              s"ALTER TABLE ${parts.mkString(".")} DROP COLUMN: nested " +
                "column paths are not supported")
            fieldParts.head
          case other => throw new IllegalArgumentException(
            s"ALTER TABLE ${parts.mkString(".")} DROP COLUMN: " +
              s"unsupported column reference $other")
        }
        GraftAlterDropColumnsCommand(parts, names, ifExists)
      // ALTER COLUMN ... TYPE within the safe widening matrix is a
      // first-class metadata-only commit (GraftTable.alterWidenColumnType
      // enforces the matrix loudly); every OTHER alteration — comments,
      // nullability, position, defaults — stays loudly rejected, not
      // fallen-through to a confusing session-catalog error
      case AlterColumns(UnresolvedTable(parts, _, _), specs)
          if GraftSqlTables.lookup(parts).isDefined =>
        val pureType = specs.collect {
          case org.apache.spark.sql.catalyst.plans.logical.AlterColumnSpec(
              fld, Some(dt), None, None, None, None, _)
              if fld.name.length == 1 =>
            fld.name.head -> dt
        }
        if (pureType.length == specs.length && specs.nonEmpty)
          GraftAlterWidenTypeCommand(parts, pureType)
        else throw new IllegalArgumentException(
          s"ALTER TABLE ${parts.mkString(".")} ALTER COLUMN supports " +
            "only TYPE widening on graft tables (INT -> BIGINT, " +
            "FLOAT -> DOUBLE) — evolution is add/rename/drop/widen")
      // TRUNCATE TABLE: one metadata-only commit dropping every live
      // row; history/time-travel/CDC keep working (the lakehouse
      // logical-clear contract). Parser seam like the rest of the DDL.
      case org.apache.spark.sql.catalyst.plans.logical.TruncateTable(
          UnresolvedTable(parts, _, _))
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftTruncateTableCommand(parts)
      // ANALYZE TABLE over a registered name: table stats always
      // (rowCount is free off the manifest), FOR COLUMNS adds
      // NDV/min/max/nulls for the named columns (FOR ALL COLUMNS =
      // every schema column); persisted into the manifest and surfaced
      // at the read seam (GraftStats). Parser seam like the rest of
      // the DDL — ResolveSessionCatalog converts AnalyzeTable/
      // AnalyzeColumn to session-catalog commands otherwise.
      case org.apache.spark.sql.catalyst.plans.logical.AnalyzeTable(
          UnresolvedTableOrView(parts, _, _), _, _)
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftAnalyzeCommand(parts, Nil, allColumns = false)
      case org.apache.spark.sql.catalyst.plans.logical.AnalyzeColumn(
          UnresolvedTableOrView(parts, _, _), colOpt, all)
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftAnalyzeCommand(parts, colOpt.getOrElse(Nil), allColumns = all)
      case AddConstraint(UnresolvedTable(parts, _, _), tc)
          if GraftSqlTables.lookup(parts).isDefined =>
        GraftAddCheckCommand(parts, toCheck(parts, tc))
      // CHECK parses to its own node whose child is Spark's validation
      // scan, `Filter(NOT cond, UnresolvedRelation)` — left unspliced,
      // the graft read rule resolves that relation and
      // ResolveSessionCatalog then dies extracting a catalog identifier
      // our relation doesn't have; graft runs its own validation scan
      case AddCheckConstraint(child, c) =>
        child.collectFirst {
          case r: UnresolvedRelation
              if GraftSqlTables.lookup(r.multipartIdentifier).isDefined =>
            r.multipartIdentifier
        } match {
          case Some(parts) => GraftAddCheckCommand(parts, toCheck(parts, c))
          case None => plan // not a graft name: Spark's own constraint path
        }
      case DropConstraint(UnresolvedTable(parts, _, _), cname, ifExists,
          cascade) if GraftSqlTables.lookup(parts).isDefined =>
        require(!cascade,
          s"ALTER TABLE ${parts.mkString(".")} DROP CONSTRAINT " +
            "... CASCADE: CHECK constraints have no dependents")
        GraftDropCheckCommand(parts, cname, ifExists)
      // catalog introspection: only the literal pseudo-namespace
      // `graft` is claimed — Spark's own SHOW over its session catalog
      // (any other namespace, or none) keeps working untouched
      case ShowTables(UnresolvedNamespace(Seq(ns), _), pattern, _)
          if ns.equalsIgnoreCase("graft") =>
        GraftShowCommand(viewsOnly = false, pattern)
      case ShowViews(UnresolvedNamespace(Seq(ns), _), pattern, _)
          if ns.equalsIgnoreCase("graft") =>
        GraftShowCommand(viewsOnly = true, pattern)
      // DDL round-trip introspection: only registered graft names are
      // claimed — Spark's own SHOW CREATE TABLE keeps working
      case ShowCreateTable(UnresolvedTableOrView(parts, _, _), asSerde, _)
          if GraftSqlTables.lookup(parts).isDefined ||
            GraftSqlViews.lookup(parts).isDefined =>
        require(!asSerde,
          s"SHOW CREATE TABLE ${parts.mkString(".")} AS SERDE: graft " +
            "tables have no serde representation")
        GraftShowCreateCommand(parts)
      // the first statement a SQL-first user types against a new name;
      // unregistered names stay Spark's (its catalog may own them)
      case d: DescribeRelation =>
        d.relation match {
          case UnresolvedTableOrView(parts, _, _)
              if GraftSqlTables.lookup(parts).isDefined ||
                GraftSqlViews.lookup(parts).isDefined =>
            require(!d.isExtended,
              s"DESCRIBE EXTENDED ${parts.mkString(".")}: graft stores " +
                "no storage descriptor — plain DESCRIBE shows the schema")
            require(d.partitionSpec.isEmpty,
              s"DESCRIBE ${parts.mkString(".")} PARTITION: graft tables " +
                "do not take partition specs (clustering is a table " +
                "option)")
            // tables and views are ONE namespace: both DESCRIBE (a
            // queryable name must be describable through the same
            // surface — review finding, r12)
            if (GraftSqlTables.lookup(parts).isDefined)
              GraftDescribeTableCommand(parts)
            else GraftDescribeViewCommand(parts)
          case _ => plan
        }
      case _ => plan
    })

  /** ALTER ADD COLUMNS clauses → plain (name, type) pairs, LOUDLY
    * rejecting everything the metadata-only commit cannot honor: nested
    * paths, NOT NULL (pre-alter rows read as NULL — a non-nullable add
    * would be a lie), FIRST/AFTER positions (graft appends, matching its
    * add-only evolution contract), COMMENT, and DEFAULT. */
  private def toAddedFields(parts: Seq[String],
      cols: Seq[QualifiedColType]): Seq[(String, org.apache.spark.sql.types.DataType)] = {
    val what = s"ALTER TABLE ${parts.mkString(".")} ADD COLUMNS"
    cols.map { c =>
      require(c.path.isEmpty,
        s"$what: nested column paths are not supported")
      require(c.nullable,
        s"$what: '${c.colName}' must be nullable — existing rows read " +
          "the added column as NULL")
      require(c.position.isEmpty,
        s"$what: FIRST/AFTER is not supported (columns append)")
      require(c.comment.isEmpty, s"$what: COMMENT is not stored")
      require(c.default.isEmpty, s"$what: DEFAULT is not stored")
      c.colName -> c.dataType
    }
  }

  /** Column definitions → a StructType — LOUDLY rejecting every clause
    * graft does not store (DEFAULT, GENERATED ALWAYS AS, IDENTITY):
    * silently creating a plain column where the user declared
    * defaults/identity semantics is exactly the silent drift the
    * typo'd-option guard below exists to prevent. */
  private def toSchema(cols: Seq[ColumnDefinition]): StructType = {
    cols.foreach { c =>
      require(c.defaultValue.isEmpty,
        s"column '${c.name}': DEFAULT is not supported on graft tables")
      require(c.generationExpression.isEmpty,
        s"column '${c.name}': GENERATED ALWAYS AS is not supported on " +
          "graft tables")
      require(c.identityColumnSpec.isEmpty,
        s"column '${c.name}': IDENTITY is not supported on graft tables")
    }
    StructType(cols.map(c => StructField(c.name, c.dataType, c.nullable)))
  }

  /** A parsed table constraint → (name, condition text), LOUDLY
    * rejecting what graft cannot honor: non-CHECK kinds (PK/FK/UNIQUE
    * need index machinery), unnamed constraints (Spark generates a
    * RANDOM-suffix name — nondeterministic and undroppable by intent),
    * and NOT ENFORCED (graft validates every write; silently storing an
    * unenforced constraint is the droppable-clause bug). The command
    * carries the condition as TEXT, never as an Expression field (the
    * checkAnalysis lesson, CLAUDE.md) — writes re-parse it per batch. */
  private[sql] def toCheck(parts: Seq[String],
      tc: org.apache.spark.sql.catalyst.expressions.TableConstraint)
      : (String, String) = {
    val what = s"ALTER/CREATE TABLE ${parts.mkString(".")}"
    tc match {
      case c: org.apache.spark.sql.catalyst.expressions.CheckConstraint =>
        require(c.userProvidedName != null && c.userProvidedName.nonEmpty,
          s"$what: graft requires NAMED constraints " +
            "(CONSTRAINT <name> CHECK (...)) — an auto-generated name " +
            "is nondeterministic and cannot be addressed by DROP")
        require(c.userProvidedCharacteristic.enforced.forall(identity),
          s"$what: NOT ENFORCED is not supported — graft validates " +
            "every write")
        c.userProvidedName -> c.condition
      case other => throw new IllegalArgumentException(
        s"$what: only CHECK constraints are supported on graft tables " +
          s"(got ${other.getClass.getSimpleName})")
    }
  }

  private[sql] def specChecks(parts: Seq[String],
      spec: UnresolvedTableSpec): Map[String, String] = {
    val cs = spec.constraints.map(toCheck(parts, _))
    requireDistinctCols("the declared constraint names", cs.map(_._1))
    cs.toMap
  }

  /** OPTIONS + LOCATION → a registry Ref. Loud on anything missing,
    * unrecognized, or silently droppable — a typo'd option must never
    * become a default, and an accepted-but-ignored clause
    * (TBLPROPERTIES, COMMENT, COLLATE, STORED AS) is the same bug. */
  private def knobs(parts: Seq[String],
      spec: UnresolvedTableSpec): GraftSqlTables.Ref = {
    val what = s"CREATE TABLE ${parts.mkString(".")} USING graft"
    require(spec.properties.isEmpty,
      s"$what does not store TBLPROPERTIES " +
        s"(got ${spec.properties.keys.mkString(", ")})")
    require(spec.comment.isEmpty,
      s"$what does not store a COMMENT — dropping it silently would " +
        "lose it")
    require(spec.collation.isEmpty, s"$what does not take COLLATE")
    require(spec.serde.isEmpty,
      s"$what does not take ROW FORMAT / STORED AS")
    val opts: Map[String, String] = (spec.optionExpression match {
      case OptionList(os) => os.map { case (k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> evalString(k, v)
      }
      case _ => Seq.empty
    }).toMap
    val known = Set("root", "key", "stats", "cluster", "num_files", "bloom")
    val unknown = opts.keySet -- known
    require(unknown.isEmpty, s"unknown graft table option(s) " +
      s"${unknown.mkString(", ")}; supported: ${known.mkString(", ")}")
    // one unambiguous root: LOCATION xor OPTIONS(root) — a conflicting
    // pair silently resolving either way misleads a later DROP PURGE
    require(spec.location.isEmpty || !opts.contains("root"),
      s"$what: give the storage root as LOCATION or OPTIONS(root), " +
        "not both")
    val root = spec.location.orElse(opts.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"$what needs a storage root: LOCATION '<path>' or " +
          "OPTIONS (root '<path>')"))
    val key = opts.getOrElse("key", throw new IllegalArgumentException(
      s"$what needs OPTIONS (key '<unique key column>') — graft " +
        "tables are key-addressed"))
    def csv(s: String): Seq[String] =
      s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val stats = opts.get("stats").map(csv).getOrElse(Seq(key))
    GraftSqlTables.Ref(root, key, stats,
      opts.get("cluster").map(csv).getOrElse(stats),
      opts.get("num_files").map(_.toInt).getOrElse(4),
      opts.get("bloom").map(csv).getOrElse(Nil))
  }

  private def evalString(k: String, e: Expression): String = {
    require(e.foldable, s"graft table option '$k' must be a literal")
    val v = e.eval()
    require(v != null, s"graft table option '$k' must not be NULL")
    v.toString
  }

  /** `PARTITIONED BY (a, months(b), bucket(8, c), ...)` → the declared
    * partition spec. Identity columns partition on their own value;
    * years/months/days/hours derive a HIDDEN calendar-prefix column
    * from a date/timestamp source and bucket(n, k) a hidden
    * deterministic bucket from an integral key (the Iceberg
    * hidden-partitioning model, [[graft.table.GraftTable.PartField]])
    * — predicates on the raw source column prune partitions via
    * [[GraftPartPrune]]. Unsupported transforms (truncate, ...) stay
    * LOUD rather than silently approximated. */
  private[sql] def partitionSpecOf(parts: Seq[String],
      partitioning: Seq[Transform]): Seq[GraftTable.PartField] =
    partitioning.map { t =>
      def srcOf: String = {
        require(t.references.length == 1,
          s"CREATE TABLE ${parts.mkString(".")} USING graft: partition " +
            s"transform $t must reference exactly one column")
        t.references.head.fieldNames match {
          case Array(one) => one
          case other => throw new IllegalArgumentException(
            s"CREATE TABLE ${parts.mkString(".")} USING graft: nested " +
              s"partition column ${other.mkString(".")} is not supported")
        }
      }
      t.name match {
        case "identity" =>
          GraftTable.PartField(srcOf, "identity", srcOf)
        case tn @ ("years" | "months" | "days" | "hours") =>
          val src = srcOf
          GraftTable.PartField(s"${src}_${tn.dropRight(1)}", tn, src)
        case "bucket" =>
          val n = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value match {
                case i: java.lang.Number => i.intValue()
                case v => throw new IllegalArgumentException(
                  s"bucket count must be an integer literal, got $v")
              }
          }.getOrElse(throw new IllegalArgumentException(
            s"CREATE TABLE ${parts.mkString(".")} USING graft: " +
              s"bucket transform $t carries no bucket count"))
          val src = srcOf
          GraftTable.PartField(s"${src}_bucket", "bucket", src, Some(n))
        case other => throw new IllegalArgumentException(
          s"CREATE TABLE ${parts.mkString(".")} USING graft supports " +
            s"identity / years / months / days / hours / bucket " +
            s"PARTITIONED BY " +
            s"transforms, got $other($t)")
      }
    }

  /** Atomically claim `name` BEFORE building: true → claimed (the
    * caller builds the table and must unregister on failure); false →
    * already bound under IF NOT EXISTS (no-op); loud otherwise. A
    * check-then-register pair is racy: two concurrent CREATEs both
    * pass the lookup, both build, and the put-loser's files are
    * silently orphaned behind a "success". */
  private[sql] def claim(parts: Seq[String], ref: GraftSqlTables.Ref,
      ignoreIfExists: Boolean): Boolean = {
    val name = parts.mkString(".")
    // the view/table namespaces are ONE namespace, guarded BOTH ways
    // (GraftCreateViewCommand guards the inverse): a doubly-bound name
    // would read as the view while DML and maintenance verbs hit the
    // table — silent divergence, never an error. The cross-registry
    // emptiness check and the claim form ONE atomic step under the
    // shared createLock (GraftCreateViewCommand holds the same lock for
    // its inverse check): without it, concurrent CREATE TABLE x and
    // CREATE VIEW x could each pass the other registry's check and
    // doubly bind the name (ADVICE, r12)
    GraftSqlViews.createLock.synchronized {
      require(GraftSqlViews.lookup(parts).isEmpty,
        s"cannot CREATE TABLE '$name': a graft VIEW is bound to that name")
      if (GraftSqlTables.registerIfAbsent(name, ref)) true
      else {
        require(ignoreIfExists,
          s"graft table '$name' already exists (IF NOT EXISTS to ignore)")
        false
      }
    }
  }

  private[sql] def requireDistinctCols(what: String,
      names: Seq[String]): Unit = {
    val dup = names.groupBy(_.toLowerCase(java.util.Locale.ROOT))
      .collect { case (n, vs) if vs.length > 1 => n }
    require(dup.isEmpty,
      s"duplicate column name(s) in $what: ${dup.mkString(", ")}")
  }
}

/** `CREATE TABLE name (cols) USING graft ...` — creates the empty
  * snapshot-0→1 table at the root and binds the name. */
case class GraftCreateTableCommand(parts: Seq[String], tableSchema: StructType,
    partitioning: Seq[Transform], ref: GraftSqlTables.Ref,
    ignoreIfExists: Boolean,
    checks: Map[String, String] = Map.empty) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val partSpec = GraftSqlDdl.partitionSpecOf(parts, partitioning)
    require(tableSchema.fieldNames.exists(_.equalsIgnoreCase(ref.keyCol)),
      s"key column '${ref.keyCol}' is not in the declared schema " +
        s"(${tableSchema.fieldNames.mkString(", ")})")
    GraftSqlDdl.requireDistinctCols("the declared schema",
      tableSchema.fieldNames.toSeq)
    if (!GraftSqlDdl.claim(parts, ref, ignoreIfExists)) return Seq.empty
    try {
      GraftTable.create(spark, ref.root,
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], tableSchema),
        ref.statsCols, ref.clusterCols, ref.numFiles, ref.bloomCols,
        checks = checks, partitionSpec = partSpec)
    } catch { case t: Throwable =>
      // conditional: only undo OUR claim, never a concurrent rebind
      GraftSqlTables.unregisterIfBoundTo(parts.mkString("."), ref)
      throw t
    }
    Seq.empty
  }
}

/** `CREATE TABLE name USING graft ... AS SELECT ...` — the query is
  * re-spliced through [[GraftDmlRule]] so registered graft names in its
  * FROM/subqueries resolve, then analyzed by the session and written as
  * the table's first snapshot. */
case class GraftCtasCommand(parts: Seq[String], query: LogicalPlan,
    partitioning: Seq[Transform], ref: GraftSqlTables.Ref,
    ignoreIfExists: Boolean,
    checks: Map[String, String] = Map.empty) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val partSpec = GraftSqlDdl.partitionSpecOf(parts, partitioning)
    // claim BEFORE evaluating the (possibly long) query; any failure
    // below unbinds the claim
    if (!GraftSqlDdl.claim(parts, ref, ignoreIfExists)) return Seq.empty
    try {
      // materialize ONCE before the guard: the key-contract check and
      // the table write below each evaluate the frame, and a
      // nondeterministic CTAS query (SELECT ... WHERE rand()<p) could
      // otherwise pass the check on one draw and write different rows
      // on the next (the MERGE source lesson)
      val df = SqlShim.ofRows(spark, GraftDmlRule(spark)(query)).persist()
      try {
        df.count()
        require(df.schema.fieldNames.exists(_.equalsIgnoreCase(ref.keyCol)),
          s"key column '${ref.keyCol}' is not in the CTAS output " +
            s"(${df.schema.fieldNames.mkString(", ")})")
        GraftSqlDdl.requireDistinctCols("the CTAS output",
          df.schema.fieldNames.toSeq)
        // the key contract holds from birth: no NULLs, no duplicates
        import org.apache.spark.sql.functions.col
        val bad = df.groupBy(col(ref.keyCol)).count()
          .where(col("count") > 1 || col(ref.keyCol).isNull)
          .limit(1).count()
        require(bad == 0, s"CTAS output violates the key contract on " +
          s"'${ref.keyCol}' (NULL or duplicate keys)")
        GraftTable.create(spark, ref.root, df, ref.statsCols,
          ref.clusterCols, ref.numFiles, ref.bloomCols, checks = checks,
          partitionSpec = partSpec)
      } finally df.unpersist()
    } catch { case t: Throwable =>
      // conditional: only undo OUR claim, never a concurrent rebind
      GraftSqlTables.unregisterIfBoundTo(parts.mkString("."), ref)
      throw t
    }
    Seq.empty
  }
}

/** `DROP TABLE name [PURGE]` over a registered graft table: unbinds the
  * name; PURGE also deletes the storage root. */
case class GraftDropTableCommand(parts: Seq[String], ifExists: Boolean,
    purge: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val name = parts.mkString(".")
    GraftSqlTables.lookup(parts) match {
      case None =>
        require(ifExists, s"graft table '$name' not found")
      case Some(ref) =>
        GraftSqlTables.unregister(name)
        if (purge)
          graft.util.AppCleanup.recursiveDelete(new java.io.File(ref.root))
    }
    Seq.empty
  }
}

/** `ALTER TABLE name ADD COLUMNS (c1 T1, ...)` over a registered graft
  * table: ONE metadata-only commit for the whole clause
  * ([[GraftTable.alterAddColumns]] — schema extends, files untouched,
  * pre-alter rows read NULL; a concurrent reader sees pre- or
  * post-widening, never half). The registry Ref carries no schema, so
  * nothing there changes; later INSERTs bind positionally against the
  * WIDENED schema and UPDATE/MERGE address the new column like any
  * other. */
case class GraftAlterAddColumnsCommand(parts: Seq[String],
    cols: Seq[(String, org.apache.spark.sql.types.DataType)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val ref = GraftSqlMaint.refOf(parts)
    GraftTable.alterAddColumns(ref.root, cols)
    Seq.empty
  }
}

/** `ALTER TABLE name RENAME COLUMN old TO new` over a registered graft
  * table: ONE metadata-only commit ([[GraftTable.alterRenameColumn]] —
  * schema and stats re-key, files untouched; pre-rename files resolve
  * through the manifest's per-file write-time name map at read). The
  * registry Ref addresses the KEY column by name, so renaming the key
  * also rebinds the Ref — otherwise every later DML verb would look up
  * a key column that no longer exists. Rebinding is conditional
  * (rebindIfStill), never last-wins: a concurrent re-register keeps its
  * binding and this rename's Ref update fails loudly. */
case class GraftAlterRenameColumnCommand(parts: Seq[String],
    oldName: String, newName: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val name = parts.mkString(".")
    val ref = GraftSqlMaint.refOf(parts)
    GraftTable.alterRenameColumn(ref.root, oldName, newName)
    def sub(c: String) = if (c.equalsIgnoreCase(oldName)) newName else c
    val ref2 = ref.copy(keyCol = sub(ref.keyCol),
      statsCols = ref.statsCols.map(sub), clusterCols = ref.clusterCols.map(sub),
      bloomCols = ref.bloomCols.map(sub))
    if (ref2 != ref) {
      // conditional swap: only replace the binding we looked up
      require(GraftSqlTables.rebindIfStill(name, ref, ref2),
        s"'$name' was rebound concurrently during RENAME COLUMN " +
          s"'$oldName' -> '$newName'; re-register the table with the " +
          "new column names")
    }
    Seq.empty
  }
}

/** `ALTER TABLE name DROP COLUMN [IF EXISTS] c[, ...]` over a
  * registered graft table: ONE metadata-only commit
  * ([[GraftTable.alterDropColumns]] — schema/stats narrowed, files
  * untouched, each file's write-time physical name tombstoned so a
  * later re-ADD of the name can never resurrect the dropped bytes).
  * The KEY column is not droppable — every DML verb addresses rows by
  * it, so dropping it would strand the whole write surface; recreate
  * the table under a new key instead. The Ref's stats/cluster/bloom
  * lists shed the dropped names (conditionally, like rename — a
  * concurrent re-register keeps its binding and this update fails
  * loudly), so later writes don't compute stats on a ghost. */
case class GraftAlterDropColumnsCommand(parts: Seq[String],
    names: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val name = parts.mkString(".")
    val ref = GraftSqlMaint.refOf(parts)
    names.find(_.equalsIgnoreCase(ref.keyCol)).foreach(k =>
      throw new IllegalArgumentException(
        s"cannot DROP COLUMN '$k' of '$name': it is the table's key " +
          "column — every DML verb addresses rows by it"))
    GraftTable.alterDropColumns(ref.root, names, ifExists)
    def keep(c: String) = !names.exists(_.equalsIgnoreCase(c))
    val ref2 = ref.copy(statsCols = ref.statsCols.filter(keep),
      clusterCols = ref.clusterCols.filter(keep),
      bloomCols = ref.bloomCols.filter(keep))
    if (ref2 != ref) {
      require(GraftSqlTables.rebindIfStill(name, ref, ref2),
        s"'$name' was rebound concurrently during DROP COLUMN " +
          s"${names.mkString(", ")}; re-register the table with the " +
          "new column set")
    }
    Seq.empty
  }
}

/** Shared back half of the two REPLACE forms: bound-root identity
  * guard, the CTAS key-contract guards, the replace commit, and the
  * conditional knob rebind. `existing` is the binding the statement
  * resolved against — a concurrent rebind fails the statement loudly
  * rather than silently overwriting the other writer's knobs. */
private[sql] object GraftReplace {
  def replace(spark: SparkSession, parts: Seq[String],
      existing: GraftSqlTables.Ref, ref: GraftSqlTables.Ref,
      df: org.apache.spark.sql.DataFrame,
      partSpec: Seq[GraftTable.PartField],
      checks: Map[String, String]): Unit = {
    val name = parts.mkString(".")
    require(existing.root == ref.root,
      s"REPLACE TABLE $name cannot move the storage root (bound " +
        s"'${existing.root}', statement gave '${ref.root}') — DROP and " +
        "CREATE to relocate")
    require(df.schema.fieldNames.exists(_.equalsIgnoreCase(ref.keyCol)),
      s"key column '${ref.keyCol}' is not in the REPLACE output " +
        s"(${df.schema.fieldNames.mkString(", ")})")
    GraftSqlDdl.requireDistinctCols("the REPLACE output",
      df.schema.fieldNames.toSeq)
    import org.apache.spark.sql.functions.col
    val bad = df.groupBy(col(ref.keyCol)).count()
      .where(col("count") > 1 || col(ref.keyCol).isNull)
      .limit(1).count()
    require(bad == 0, s"REPLACE output violates the key contract on " +
      s"'${ref.keyCol}' (NULL or duplicate keys)")
    GraftTable.replaceTable(spark, ref.root, df, ref.statsCols,
      ref.clusterCols, ref.numFiles, ref.bloomCols,
      checks = checks, partitionSpec = partSpec)
    if (ref != existing)
      require(GraftSqlTables.rebindIfStill(name, existing, ref),
        s"'$name' was rebound concurrently during REPLACE — re-run " +
          "against the current binding")
  }
}

/** `[CREATE OR] REPLACE TABLE name USING graft ... AS SELECT ...`: the
  * versioned full redefinition — new schema/rows/checks/partitioning in
  * ONE commit, history intact ([[GraftTable.replaceTable]]). Plain
  * `REPLACE TABLE` requires the name to exist; `CREATE OR REPLACE`
  * falls through to ordinary CTAS when it doesn't. The statement
  * restates its definition (LOCATION, key, knobs) exactly like CREATE;
  * the given root must equal the bound one. */
case class GraftReplaceCtasCommand(parts: Seq[String], query: LogicalPlan,
    partitioning: Seq[Transform], ref: GraftSqlTables.Ref,
    orCreate: Boolean, checks: Map[String, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val partSpec = GraftSqlDdl.partitionSpecOf(parts, partitioning)
    GraftSqlTables.lookup(parts) match {
      case None =>
        require(orCreate, s"REPLACE TABLE ${parts.mkString(".")}: no " +
          "such graft table (CREATE OR REPLACE creates it)")
        GraftCtasCommand(parts, query, partitioning, ref,
          ignoreIfExists = false, checks).run(spark)
      case Some(existing) =>
        val df = SqlShim.ofRows(spark, GraftDmlRule(spark)(query)).persist()
        try {
          df.count() // materialize once — the CTAS determinism guard
          GraftReplace.replace(spark, parts, existing, ref, df,
            partSpec, checks)
        } finally df.unpersist()
        Seq.empty
    }
  }
}

/** `[CREATE OR] REPLACE TABLE name (cols) USING graft ...` — the
  * column-definition form: redefines to an EMPTY table of the new
  * schema (the truncate-and-reshape verb). */
case class GraftReplaceTableCommand(parts: Seq[String],
    tableSchema: StructType, partitioning: Seq[Transform],
    ref: GraftSqlTables.Ref, orCreate: Boolean,
    checks: Map[String, String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val partSpec = GraftSqlDdl.partitionSpecOf(parts, partitioning)
    GraftSqlTables.lookup(parts) match {
      case None =>
        require(orCreate, s"REPLACE TABLE ${parts.mkString(".")}: no " +
          "such graft table (CREATE OR REPLACE creates it)")
        GraftCreateTableCommand(parts, tableSchema, partitioning, ref,
          ignoreIfExists = false, checks).run(spark)
      case Some(existing) =>
        val empty = spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], tableSchema)
        GraftReplace.replace(spark, parts, existing, ref, empty,
          partSpec, checks)
        Seq.empty
    }
  }
}

/** `TRUNCATE TABLE name` over a registered graft table: one
  * metadata-only commit with an empty file list
  * ([[GraftTable.truncate]]) — schema/checks/partitioning carry, time
  * travel and RESTORE keep every pre-truncate snapshot readable, CDC
  * reports deletes, storage reclaims via snapshot expiry. */
case class GraftTruncateTableCommand(parts: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val ref = GraftSqlMaint.refOf(parts)
    GraftTable.truncate(ref.root)
    Seq.empty
  }
}

/** `ANALYZE TABLE name COMPUTE STATISTICS [FOR COLUMNS c, ... | FOR ALL
  * COLUMNS]` over a registered graft table: one `analyze` commit
  * persisting exact live rowCount + live-scaled byte size (and column
  * NDV/min/max/null counts for the named columns) into the manifest
  * ([[GraftTable.analyzeStats]]); every later registered-name read
  * hands them to the optimizer ([[GraftStats]]). */
case class GraftAnalyzeCommand(parts: Seq[String], cols: Seq[String],
    allColumns: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val ref = GraftSqlMaint.refOf(parts)
    val colNames =
      if (!allColumns) cols
      else GraftTable.schemaOf(GraftTable.manifest(ref.root,
          GraftTable.latestSnapshot(ref.root))).fieldNames.toSeq
    GraftTable.analyzeStats(spark, ref.root, colNames)
    Seq.empty
  }
}

/** `ALTER TABLE name ALTER COLUMN c TYPE t[, ...]` over a registered
  * graft table, restricted to the safe widening matrix
  * ([[GraftTable.alterWidenColumnType]] — INT -> BIGINT, FLOAT ->
  * DOUBLE; ONE metadata-only commit per column, files untouched,
  * pre-widen files read through the widened logical schema via the
  * Parquet readers' native promotion). Multiple specs apply in
  * statement order; a later spec failing leaves the earlier commits
  * in place, each an honest snapshot (the ADD COLUMNS single-commit
  * discipline doesn't apply — each widen is independently valid). */
case class GraftAlterWidenTypeCommand(parts: Seq[String],
    cols: Seq[(String, org.apache.spark.sql.types.DataType)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val ref = GraftSqlMaint.refOf(parts)
    cols.foreach { case (c, dt) =>
      GraftTable.alterWidenColumnType(ref.root, c, dt)
    }
    Seq.empty
  }
}

/** `ALTER TABLE name ADD CONSTRAINT n CHECK (cond)` over a registered
  * graft table: validates the EXISTING rows first (a constraint the
  * current data violates is not addable — Delta's semantics), then one
  * metadata commit; every later row-adding write pays one O(batch)
  * aggregate. The condition rides as TEXT and re-parses per write. */
case class GraftAddCheckCommand(parts: Seq[String],
    check: (String, String)) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val ref = GraftSqlMaint.refOf(parts)
    GraftTable.addCheck(spark, ref.root, check._1, check._2)
    Seq.empty
  }
}

/** `ALTER TABLE name DROP CONSTRAINT [IF EXISTS] n`: pure metadata. */
case class GraftDropCheckCommand(parts: Seq[String], name: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val ref = GraftSqlMaint.refOf(parts)
    GraftTable.dropCheck(ref.root, name, ifExists)
    Seq.empty
  }
}

/** `ALTER TABLE old RENAME TO new` over a registered graft table: a
  * pure registry rebind — files, manifests and snapshots are untouched
  * (the name is the catalog's, the data is the root's). The new name is
  * CLAIMED atomically first (registerIfAbsent — renaming onto a bound
  * name fails loudly, never silently shadows), then the old binding is
  * released; losing the old binding mid-flight (a concurrent DROP)
  * rolls the claim back and fails rather than leaving two names. */
case class GraftRenameTableCommand(parts: Seq[String],
    newName: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val oldKey = parts.mkString(".")
    val newKey = newName.mkString(".")
    val ref = GraftSqlMaint.refOf(parts)
    // same one-namespace guard as CREATE, under the same shared lock so
    // the view check and the table claim are atomic vs a concurrent
    // CREATE VIEW of the target name: renaming onto a VIEW name would
    // split reads (view) from writes (table)
    GraftSqlViews.createLock.synchronized {
      require(GraftSqlViews.lookup(newName).isEmpty,
        s"cannot RENAME '$oldKey' to '$newKey': a graft VIEW is bound " +
          "to that name")
      require(GraftSqlTables.registerIfAbsent(newKey, ref),
        s"cannot RENAME '$oldKey' to '$newKey': target name already bound")
    }
    // conditional release: only remove the binding we looked up — a
    // concurrent DROP+re-register of the old name in the window must
    // keep ITS binding (the CREATE/CTAS rollback lesson applied here)
    if (!GraftSqlTables.unregisterIfBoundTo(oldKey, ref)) {
      // conditional rollback: a concurrent last-wins register() may
      // have retaken the new name in the window — remove only OUR claim
      GraftSqlTables.unregisterIfBoundTo(newKey, ref)
      throw new java.util.ConcurrentModificationException(
        s"'$oldKey' was dropped concurrently during RENAME to '$newKey'")
    }
    Seq.empty
  }
}

/** Delegating parser injected by `GraftExtensions`: every statement
  * parses through the session's own parser, then [[GraftSqlDdl.splice]]
  * swaps graft DDL for graft commands before the analyzer ever sees
  * them (see the object doc for why a resolution rule cannot win the
  * ResolveSessionCatalog race). */
class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {
  // maintenance verbs (VACUUM/OPTIMIZE/DESCRIBE HISTORY) splice on the
  // raw TEXT before delegation: they are not in Spark's grammar, so the
  // delegate would throw before any plan-level splice could run
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlMaint.parse(sqlText).getOrElse(
      GraftSqlDdl.splice(delegate.parsePlan(sqlText)))
  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    GraftSqlMaint.parse(sqlText).getOrElse(
      GraftSqlDdl.splice(delegate.parsePlanWithParameters(sqlText, ctx)))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String):
      org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}
