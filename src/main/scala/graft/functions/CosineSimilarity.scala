package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns — the preferred extension mechanism when a
  * scalar must run inside whole-stage codegen (SURVEY.md §2-K preference
  * order: compose built-ins > native Expression > Scala UDF).
  *
  * Arithmetic contract: one fused index-order loop accumulating dot /
  * ‖a‖² / ‖b‖² — each accumulator sums in exactly the order the HOF
  * formulation (`aggregate(zip_with(...))` in [[graft.ops.Llm]]) folds, so
  * results are bit-identical to both the HOF path and the typed kernels,
  * and the DuckDB oracle keeps hash-matching. Unlike a Scala UDF there is
  * no Catalyst→Scala `Seq` boxing: `eval` uses the primitive
  * `toDoubleArray` fast path and `doGenCode` emits the loop straight into
  * the generated Java, keeping the surrounding WholeStageCodegen span
  * intact.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  // length mismatch / null element → null result: the same answer the HOF
  // formulation gives (zip_with pads with null, null poisons the fold) —
  // never a crash or a silently-wrong similarity
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The one fused dot/norm loop — shared by the expression above and the
    * typed kernels (llm_simjoin_lsh rerank) so the bit-identity contract
    * between every cosine path has a single source of truth. Independent
    * accumulators in index order ≡ the HOF `aggregate(zip_with(...))`
    * folds, so all paths agree to the last bit. */
  def cosine(xa: Array[Double], ya: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < xa.length) {
      dot += xa(i) * ya(i); na += xa(i) * xa(i); nb += ya(i) * ya(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Registration surface for the native functions: per-session (for the
  * driver's plain sessions) and via `spark.sql.extensions` config
  * ([[GraftExtensions]]) for sessions the user builds. */
object GraftFunctions {
  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_cosine expects 2 arguments")
      CosineSimilarity(children(0), children(1))
    })

  /** idempotent — SimpleFunctionRegistry.registerFunction overwrites */
  def register(s: SparkSession): Unit =
    s.sessionState.functionRegistry.registerFunction(
      cosineDescriptor._1, cosineDescriptor._2, cosineDescriptor._3)
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftFunctions.cosineDescriptor)
    e.injectTableFunction(GraftTableFunctions.tableDescriptor)
    e.injectTableFunction(GraftTableFunctions.asOfDescriptor)
    e.injectTableFunction(GraftTableFunctions.changesDescriptor)
    e.injectTableFunction(GraftTableFunctions.historyDescriptor)
    e.injectTableFunction(GraftTableFunctions.tagDescriptor)
    e.injectTableFunction(GraftTableFunctions.branchDescriptor)
    // SQL DML (INSERT/UPDATE/DELETE/MERGE) over registered graft tables
    e.injectResolutionRule(graft.sql.GraftDmlRule.apply)
    // SQL DDL (CREATE/CTAS/DROP ... USING graft) — parser seam, because
    // ResolveSessionCatalog would convert a resolved CreateTable before
    // any injected resolution rule could claim it
    e.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
  }
}
