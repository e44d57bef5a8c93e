package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampNTZType}

import graft.table.GraftTable

/** Hidden-partition pruning (the Iceberg model): a predicate on the RAW
  * source column of a partition transform is mapped to an equivalent
  * predicate on the derived partition column, so Spark's own
  * FileSourceScanExec partition selection skips the non-matching files —
  * the user writes `WHERE ts >= X` and never learns the table is laid
  * out by `months(ts)`.
  *
  * Mechanics: graft reads of a transform-partitioned table scan with a
  * `basePath` of `<root>/data` and a partition schema that carries the
  * derived STRING column ([[GraftTable.readPhysical]]); this rule runs in
  * the optimizer's user-provided batch — AFTER predicate pushdown has
  * parked data filters directly above the scan relation — finds
  * range/equality conjuncts on transform sources, and conjoins the mapped
  * partition predicate. Time transforms format zero-padded calendar
  * prefixes, so source order and derived STRING order agree and
  * inequalities map conservatively onto the boundary partition
  * (`ts > X → part >= fmt(X)`: the X-boundary partition may still hold
  * qualifying rows); bucket is not order-preserving, so only equality /
  * IN map. The original source conjunct always stays — the mapped one
  * only PRUNES, row-level exactness is untouched, and a mapping bug can
  * only surface as a missing-rows hash mismatch, never silent extras.
  *
  * Registered via `spark.experimental.extraOptimizations` (not the
  * session-extension seam) so the driver's plain Verify/Bench sessions
  * get it too — [[ensure]] is called from every transform-partitioned
  * read. The user batch runs to fixed point, so the rewrite must be
  * idempotent: conjuncts already present are never re-added. */
object GraftPartPrune extends Rule[LogicalPlan] with PredicateHelper {

  /** Idempotently install the rule into a session's extra optimizer
    * batch (shared across sessions of one JVM is fine — the rule is a
    * no-op on non-graft plans). */
  def ensure(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(this))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ this
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithSubqueries {
      case f @ Filter(cond, rel: LogicalRelation) =>
        hiddenSpecFor(rel) match {
          case Seq() => f
          case spec =>
            val conj = splitConjunctivePredicates(cond)
            val mapped = spec.flatMap(fld =>
              conj.flatMap(c => mapConjunct(c, fld, rel)))
              .filterNot(m => conj.exists(_.semanticEquals(m)))
            if (mapped.isEmpty) f
            else f.copy(condition = (conj ++ mapped).reduce(And))
        }
    }

  /** The non-identity partition fields of the graft table this relation
    * scans, or empty. The owning root is derived from the scan's own
    * basePath (`<root>/data` — every graft partitioned read sets it,
    * [[GraftTable.readPhysical]]), so the rule covers EVERY graft read
    * of a transformed table — registered names, TVF root-path reads,
    * DSL frames — not just the name registry. */
  private def hiddenSpecFor(
      rel: LogicalRelation): Seq[GraftTable.PartField] =
    rel.relation match {
      case hfs: HadoopFsRelation =>
        hfs.options.get("basePath").toSeq.flatMap { base =>
          val basePath = new org.apache.hadoop.fs.Path(base).toUri.getPath
          if (!basePath.endsWith("/data")) Nil
          else {
            val root = basePath.stripSuffix("/data")
            // spec is fixed at create for the table's lifetime, so
            // reading the LATEST manifest is correct for any snapshot's
            // scan; a non-graft basePath or vanished root is simply
            // unpruned
            try {
              val v = GraftTable.latestSnapshot(root)
              if (v <= 0) Nil
              else GraftTable.partSpecOf(GraftTable.manifest(root, v))
                .filter(_.transform != "identity")
                .filter(f => rel.output.exists(_.name == f.name))
            } catch { case scala.util.control.NonFatal(_) => Nil }
          }
        }
      case _ => Nil
    }

  /** Map one conjunct on the field's SOURCE column to a predicate on
    * the derived partition column, when the shape admits one. */
  private def mapConjunct(c: Expression, fld: GraftTable.PartField,
      rel: LogicalRelation): Option[Expression] = {
    val part = rel.output.find(_.name == fld.name).getOrElse(return None)
    def isSrc(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == fld.source
      case _ => false
    }
    def mapped(l: Literal): Option[Expression] =
      derivedOf(l, fld).map(s => Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        StringType))
    val timeT = fld.transform != "bucket"
    c match {
      case EqualTo(a, l: Literal) if isSrc(a) =>
        mapped(l).map(EqualTo(part, _))
      case EqualTo(l: Literal, a) if isSrc(a) =>
        mapped(l).map(EqualTo(part, _))
      case In(a, ls) if isSrc(a) && ls.forall(_.isInstanceOf[Literal]) =>
        val vs = ls.map(l => mapped(l.asInstanceOf[Literal]))
        if (vs.exists(_.isEmpty)) None
        else Some(In(part, vs.flatten.distinct))
      case GreaterThanOrEqual(a, l: Literal) if isSrc(a) && timeT =>
        mapped(l).map(GreaterThanOrEqual(part, _))
      case GreaterThan(a, l: Literal) if isSrc(a) && timeT =>
        mapped(l).map(GreaterThanOrEqual(part, _))
      case LessThanOrEqual(a, l: Literal) if isSrc(a) && timeT =>
        mapped(l).map(LessThanOrEqual(part, _))
      case LessThan(a, l: Literal) if isSrc(a) && timeT =>
        mapped(l).map(LessThanOrEqual(part, _))
      // literal-first spellings: L op a  ≡  a flip(op) L
      case GreaterThanOrEqual(l: Literal, a) if isSrc(a) && timeT =>
        mapped(l).map(LessThanOrEqual(part, _))
      case GreaterThan(l: Literal, a) if isSrc(a) && timeT =>
        mapped(l).map(LessThanOrEqual(part, _))
      case LessThanOrEqual(l: Literal, a) if isSrc(a) && timeT =>
        mapped(l).map(GreaterThanOrEqual(part, _))
      case LessThan(l: Literal, a) if isSrc(a) && timeT =>
        mapped(l).map(GreaterThanOrEqual(part, _))
      case _ => None
    }
  }

  /** The derived partition value of a folded literal, exactly as the
    * write side derives it ([[GraftTable.derivedPartCol]]): the write
    * side slices the CAST-to-STRING wall clock of the DATE /
    * TIMESTAMP_NTZ source (zone-independent by definition; LTZ sources
    * are rejected at CREATE), mirrored here with java.time over the
    * same wall clock so a mapped predicate can never disagree with a
    * directory name — including at DST-gap wall clocks in non-UTC
    * sessions, where date_format would have sheared. */
  private[graft] def derivedOf(l: Literal,
      fld: GraftTable.PartField): Option[String] = {
    if (l.value == null) return None
    if (fld.transform == "bucket")
      return l.dataType match {
        case org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType =>
          Some(GraftTable.bucketValue(
            l.value.asInstanceOf[Number].longValue(),
            fld.n.get).toString)
        case _ => None
      }
    val fmt = java.time.format.DateTimeFormatter.ofPattern(
      GraftTable.timePartFmt(fld.transform))
    local(l.value, l.dataType).map(fmt.format)
  }

  private def local(v: Any,
      dt: DataType): Option[java.time.LocalDateTime] = dt match {
    case DateType =>
      Some(java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Number].longValue()).atStartOfDay())
    case TimestampNTZType =>
      val us = v.asInstanceOf[Number].longValue()
      Some(java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
    // TimestampType (LTZ) sources are rejected at CREATE (the
    // cross-zone shear guard), so a mapped literal of that type never
    // occurs; anything else stays unmapped — unpruned, never wrong
    case _ => None
  }
}
