package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{FilePartition, WriteFilesExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types._

/** Physical rules for interactive (small-input) queries, where a query's
  * cost is its fixed per-job and per-compile overhead rather than its
  * data. Both are injected by [[graft.sql.GraftExtensions]] and have no
  * switch of their own. */

/** Single-partition shuffle elision. When every input of a plan already
  * yields one partition, an exchange only splits that partition to
  * re-merge it: a stage boundary (under AQE a separate job) and a
  * shuffle write/read for nothing. This rule replaces each
  * `ENSURE_REQUIREMENTS` [[ShuffleExchangeExec]] with `CoalesceExec(1)`,
  * whose `SinglePartition` output satisfies every distribution a
  * parent can ask for, so the query runs in one stage.
  *
  * Guards:
  *  - all or nothing: the plan is rewritten only if EVERY such exchange
  *    in it has a one-partition child (an exchange fed by an elided one
  *    counts as one partition), so a join never zips a one-partition
  *    side with a many-partition side;
  *  - the partition count of a file scan comes from its file listing
  *    and Spark's own split sizing (`FilePartition`), never from
  *    `inputRDD`, which would broadcast a Hadoop configuration per plan;
  *  - user `repartition` and `REBALANCE` shuffles, bucketed scans, scans
  *    with dynamic-pruning filters, query stages and any operator not
  *    known to keep its child's partition count leave the plan as it is;
  *  - so do row-multiplying operators (`Generate`, `Expand`): an
  *    `explode` over a small file can feed far more rows than the file
  *    holds, and a one-partition result (say, a checkpointed shingle
  *    table) would make every later stage that reads it one task.
  *
  * Injected with `injectQueryStagePrepRule`, so it runs after AQE's
  * `EnsureRequirements`; such rules run only in adaptive (batch) plans,
  * never in streaming micro-batches. */
object ElideSinglePartitionShuffles extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val hasExchange = plan.exists {
      case s: ShuffleExchangeExec => s.shuffleOrigin == ENSURE_REQUIREMENTS
      case _ => false
    }
    if (!hasExchange || single(plan).isEmpty) plan
    else plan.transformUp {
      case s: ShuffleExchangeExec if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
        CoalesceExec(1, s.child)
    }
  }

  /** Whether `p` yields one partition once the exchanges below it are
    * elided: None when that is unknown or an exchange below must stay. */
  private def single(p: SparkPlan): Option[Boolean] = p match {
    case s: ShuffleExchangeExec =>
      if (s.shuffleOrigin == ENSURE_REQUIREMENTS && single(s.child).contains(true))
        Some(true)
      else None
    case b: BroadcastExchangeExec => single(b.child).map(_ => true)
    case f: FileSourceScanExec => scanIsSingle(f)
    // Generate and Expand are absent on purpose: they multiply rows,
    // so a small input no longer bounds the work one task would do
    case _: ProjectExec | _: FilterExec | _: SortExec | _: BaseAggregateExec |
        _: WindowExec | _: WindowGroupLimitExec | _: LocalLimitExec |
        _: GlobalLimitExec | _: SampleExec | _: WriteFilesExec |
        _: DataWritingCommandExec =>
      single(p.children.head)
    case _: CollectLimitExec | _: TakeOrderedAndProjectExec =>
      single(p.children.head).map(_ => true)
    case j: BaseJoinExec =>
      // broadcast sides are collected whole; the sides a join zips
      // partition by partition must agree
      val (bcast, zipped) = j.children.partition(_.isInstanceOf[BroadcastExchangeExec])
      val sides = zipped.map(single).distinct
      if (bcast.forall(single(_).isDefined) && sides.size == 1) sides.head else None
    case _ => None
  }

  private def scanIsSingle(f: FileSourceScanExec): Option[Boolean] = {
    val isDpp = f.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression]))
    if (f.bucketedScan || isDpp) return None
    val rel = f.relation
    val session = rel.sparkSession
    val conf = session.sessionState.conf
    val listing = f.selectedPartitions
    val files = listing.totalNumberOfFiles
    // each file after the first adds its open cost to a partition that
    // may hold at most maxPartitionBytes
    if (files > 1 && (files - 1) * conf.filesOpenCostInBytes > conf.filesMaxPartitionBytes)
      return Some(false)
    val maxSplit = FilePartition.maxSplitBytes(session, listing)
    val splits = listing.filePartitionIterator.flatMap { part =>
      part.files.flatMap { file =>
        val path = file.getPath
        PartitionedFileUtil.splitFiles(file, path,
          rel.fileFormat.isSplitable(session, rel.options, path), maxSplit, part.values)
      }
    }.toVector.sortBy(-_.length)
    Some(FilePartition.getFilePartitions(session, splits, maxSplit).size <= 1)
  }
}

/** Literal hoisting. A literal in a filter is inlined into the generated
  * Java source, so each new key of a lookup template compiles its
  * classes afresh. This rule swaps the non-null integral, floating,
  * date and timestamp literals that are direct children of a
  * [[BinaryComparison]] in a [[FilterExec]] condition for a
  * [[HoistedLiteral]], which reads its value from the generated class's
  * references array: the source repeats across keys and the code
  * generator's cache serves it.
  *
  * Scans are not touched, so their data and pushed filters keep the
  * literal and Parquet pushdown is unchanged; expressions that need a
  * foldable argument (LIKE, regexp) are never operands of a comparison
  * here. Run as a pre-columnar-transition rule, so it sees every stage
  * before `CollapseCodegenStages`, with or without AQE. */
object HoistFilterLiterals extends Rule[SparkPlan] {

  /** A literal this rule lifts out of a comparison: non-null and of a
    * primitive numeric, date or timestamp type. */
  private def hoistable(e: Expression): Boolean = e match {
    case Literal(v, t) if v != null => t match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
          DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transformUp {
        case b: BinaryComparison if b.children.exists(hoistable) =>
          b.withNewChildren(b.children.map {
            case l: Literal if hoistable(l) => HoistedLiteral(l)
            case e => e
          })
      }
      if (c fastEquals f.condition) f else f.copy(condition = c)
  }
}

/** A non-null numeric, date or timestamp operand that generated code reads from the
  * generated class's references array instead of inlining it. Two
  * kinds share it: a filter literal hoisted by [[HoistFilterLiterals]],
  * whose slot holds that literal for good, and a masked literal of a
  * SQL statement served by a [[TemplateCache]] template, whose slot is
  * bound to the current statement's value before each run. The slot,
  * not a value, goes into the references, and the task closure that
  * carries them is serialized per job, so each run reads the value
  * bound when its job started.
  *
  * Prints as the literal its slot holds. Not foldable, so no rule folds
  * it back into the source, and a scan never turns it into a pushed or
  * partition filter (those translate only [[Literal]]s). Two are equal
  * only when they share a slot (slots compare by identity); a hoisted
  * literal canonicalizes as the literal it replaced, so two plans with
  * the same hoisted filter still compare equal for exchange and
  * subquery reuse, while a template parameter stands for its position
  * alone. */
case class HoistedLiteral(slot: ParamSlot, dataType: DataType)
    extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = slot.value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slot", slot, classOf[ParamSlot].getName)
    val javaType = CodeGenerator.javaType(dataType)
    val value =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $ref.value()).${javaType}Value()"
      else s"(($javaType) $ref.value())"
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(value, dataType))
  }
  override def toString: String = Literal(slot.value, dataType).toString
  override def sql: String = Literal(slot.value, dataType).sql
  override lazy val canonicalized: Expression =
    if (slot.fixed) Literal(slot.value, dataType) else this
}

object HoistedLiteral {
  def apply(l: Literal): HoistedLiteral =
    HoistedLiteral(new ParamSlot(l.value, fixed = true), l.dataType)
}

/** The value a [[HoistedLiteral]] reads; compared by identity. A fixed
  * slot holds a hoisted literal and is never rebound. */
final class ParamSlot(@volatile var value: Any, val fixed: Boolean = false)
  extends Serializable

/** Hands [[HoistFilterLiterals]] to the columnar-transition step. */
object HoistFilterLiteralsColumnarRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = HoistFilterLiterals
}
