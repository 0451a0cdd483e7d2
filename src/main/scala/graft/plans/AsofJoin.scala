package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native keyed as-of join — the extension-ladder tier (c) operator
  * (custom LogicalPlan + Strategy + SparkPlan), built because the
  * tier-(a) composition (range join + per-row top-1 window,
  * graft.operators.TemporalJoins) materializes |left| × candidates
  * rows through a shuffle before discarding all but one per row.
  *
  * This operator instead asks the planner for co-partitioning on the
  * keys and (key, ts) ordering on both sides — EnsureRequirements
  * inserts the exchanges/sorts — then streams a single merge pass per
  * partition: O(|L| + |R|) with zero intermediate blowup. That is the
  * shape that survives 100 TB of fact data.
  *
  * Measured honestly (sf0.1, ~20k×20k, ~13 candidates per row):
  * parity with the composition — the fan-out is too small to matter at
  * this scale. The native win is structural: composed cost is
  * O(|L| · candidates-per-row) through a shuffle+window, so it grows
  * with right-side density and lookback; the merge stays O(|L| + |R|).
  *
  * Semantics: for each left row, the LAST right row with equal keys
  * and rightTs <= leftTs within `toleranceUs`; unmatched left rows
  * survive with nulls (left outer). Ties on rightTs resolve to the
  * right row latest in (key, ts) sort order — callers wanting full
  * determinism keep (keys, rightTs) unique, as ASOF semantics assume.
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    toleranceUs: Long) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lts, rts, tol) =>
      AsofJoinExec(lk, rk, lts, rts, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression, toleranceUs: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output; val rOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lts = leftTs; val rts = rightTs
    val tol = toleranceUs
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lts), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rts), rOut)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(
        lk.map(_.dataType))

      val rBuf = rIter.buffered
      // last right row (copied) whose key matches `curKey` and ts <= lts
      var candidate: InternalRow = null
      var candidateTs = 0L
      var candidateKey: UnsafeRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsRow = lTsProj(lRow)
        // SQL/DuckDB ASOF null semantics: a null key or null timestamp
        // on either side never matches (left rows still emitted
        // unmatched). Null-first ascending sort puts these rows before
        // all real work, so skipping them here cannot desync the merge.
        if (lKey.anyNull || lTsRow.isNullAt(0)) {
          joined(lRow, nullRight)
          resultProj(joined)
        } else {
        val lTsVal = lTsRow.getLong(0)
        // advance right while its (key, ts) is <= (lKey, lTs)
        var continue = true
        while (continue && rBuf.hasNext) {
          val rRow = rBuf.head
          val rKey = rKeyProj(rRow)
          if (rKey.anyNull || rTsProj(rRow).isNullAt(0)) rBuf.next()
          else {
            val cmp = keyOrdering.compare(rKey, lKey)
            if (cmp < 0) { rBuf.next(); candidate = null } // stale key
            else if (cmp == 0) {
              val rTsVal = rTsProj(rRow).getLong(0)
              if (rTsVal <= lTsVal) {
                candidate = rRow.copy(); candidateTs = rTsVal
                candidateKey = rKey.copy()
                rBuf.next()
              } else continue = false
            } else continue = false
          }
        }
        val matched = candidate != null && candidateKey != null &&
          keyOrdering.compare(candidateKey, lKey) == 0 &&
          lTsVal - candidateTs <= tol
        joined(lRow, if (matched) candidate else nullRight)
        resultProj(joined)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {
  /** Register the strategy once per session (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val es = spark.experimental.extraStrategies
    if (!es.exists(_.isInstanceOf[AsofJoinStrategy.type]))
      spark.experimental.extraStrategies = es :+ AsofJoinStrategy
  }

  /** DataFrame API: native keyed as-of left join. Keys/timestamps are
    * column names resolved against each side's analyzed output (the
    * node is built post-analysis, so attributes must bind eagerly —
    * lazily-resolved Column expressions would never re-enter the
    * analyzer). Column name clashes between sides must be renamed by
    * the caller beforehand. */
  def asofJoin(left: DataFrame, right: DataFrame, leftKeys: Seq[String],
      rightKeys: Seq[String], leftTs: String, rightTs: String,
      toleranceUs: Long = Long.MaxValue / 4): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = ColumnBridge.analyzed(left)
    val rPlan = ColumnBridge.analyzed(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name)}"))
    val plan = AsofJoinPlan(lPlan, rPlan,
      leftKeys.map(attr(lPlan, _)), rightKeys.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), toleranceUs)
    ColumnBridge.ofRows(spark, plan)
  }
}
