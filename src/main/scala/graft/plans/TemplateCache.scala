package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ResultQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.exchange.Exchange

/** Session-level cache of interactive query templates. A lookup that
  * differs from an earlier one only in the numbers or dates it compares
  * against runs the earlier one's retained RDD with its own values
  * bound, so it skips RDD construction, closure cleaning, the scan's
  * Hadoop-configuration broadcast and code generation.
  *
  *  - Key: the canonical form of the optimized plan with every literal
  *    [[HoistFilterLiterals]] would hoist (non-null numeric, date and
  *    timestamp operands of a comparison in a `Filter`) masked.
  *  - Build: the second time a key is seen with the same session SQL
  *    conf and the same file listing of every scan, a copy of the
  *    optimized plan whose masked literals are [[HoistedLiteral]] slots
  *    is planned and executed to an RDD, once.
  *  - Hit: the query plans as it always does, under a
  *    [[TemplateHitExec]] root whose `executeCollect` binds the query's
  *    values into the slots and runs the retained RDD as one job; every
  *    other action runs the plan beneath it. No result is reused: each
  *    hit scans its input.
  *  - Eligible: deterministic plans over file-source leaves only, with
  *    no subquery, command, observed metrics or user code (UDFs and
  *    typed object operators, whose closures a retained RDD would keep
  *    alive with whatever driver data they captured), whose copy plans
  *    to a single stage (no exchange or query stage below the final
  *    adaptive plan's result stage, no shuffle in the RDD) and whose
  *    scans filter neither partitions, buckets nor file metadata on a
  *    slot. Anything else plans exactly as without the cache.
  *  - Safety: a template serves one query at a time (a second one runs
  *    its own plan), and only while the session's SQL conf and each
  *    scan's listing (path, length, modification time of every file)
  *    equal what they were when it was built. At most `Capacity` keys
  *    per session are kept, least recently used first out.
  *
  * A slot is never pushed into the Parquet reader, so a hit reads every
  * row group of its files; eligible scans read one partition, which
  * bounds that loss. */
final class TemplateCache private (session: SparkSession) extends ColumnarRule {
  import TemplateCache._

  private val spark = session.asInstanceOf[classic.SparkSession]
  private val states = new java.util.LinkedHashMap[LogicalPlan, State](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[LogicalPlan, State]): Boolean =
      size() > Capacity
  }

  /** Runs served by a retained RDD, and templates built. */
  val hits = new AtomicLong
  val builds = new AtomicLong

  /** `root` planned from a template, or Nil to plan it as without the
    * cache. */
  private def plan(root: ReturnAnswer): Seq[SparkPlan] =
    if (admissible(root.child)) serve(root, root.child) else Nil

  private def serve(root: ReturnAnswer, query: LogicalPlan): Seq[SparkPlan] = {
    val (masked, params) = mask(query, keySlot)
    val key = masked.canonicalized
    val fp = fingerprint(query)
    // None: this query builds the template; a template being built (by
    // another query, or by this thread planning its copy) plans as
    // without the cache meanwhile
    val known = states.synchronized {
      Option(states.get(key)).filter(_.fp == fp) match {
        case Some(Seen(_)) => states.put(key, Building(fp)); None
        case Some(s) => Some(s)
        case None => states.put(key, Seen(fp)); Some(Seen(fp))
      }
    }
    val state = known.getOrElse {
      val built = try build(query, params) catch { case NonFatal(_) => None }
      val done = built.fold[State](Refused(fp))(Built(fp, _))
      states.synchronized(states.put(key, done))
      done
    }
    state match {
      case Built(_, t) =>
        TemplateHitExec(t, params, spark.sessionState.planner.SpecialLimits(root).head) :: Nil
      case _ => Nil
    }
  }

  private def admissible(query: LogicalPlan): Boolean = {
    val leaves = query.collectLeaves()
    leaves.nonEmpty && leaves.forall(fileSource) && !query.isStreaming &&
      query.deterministic && !query.exists {
        case _: Command | _: CollectMetrics | _: Tail | _: ObjectConsumer |
            _: ObjectProducer => true
        case p => p.expressions.exists(e => SubqueryExpression.hasSubquery(e) ||
          e.exists(x => x.isInstanceOf[HoistedLiteral] || x.isInstanceOf[UserDefinedExpression]))
      }
  }

  private def fileSource(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation =>
        r.location.isInstanceOf[PartitioningAwareFileIndex] && r.bucketSpec.isEmpty
      case _ => false
    }
    case _ => false
  }

  private def fingerprint(query: LogicalPlan): Fingerprint =
    (spark.sessionState.conf.getAllConfs, query.collectLeaves().map {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation].location
          .asInstanceOf[PartitioningAwareFileIndex].allFiles()
          .map(f => (f.getPath, f.getLen, f.getModificationTime))
      case _ => Nil
    })

  /** Plans a copy of `query` with its masked literals as slots, bound
    * to `params`, and executes it to an RDD if it is one stage. */
  private def build(query: LogicalPlan, params: Seq[Literal]): Option[Template] = {
    val slots = params.map(l => new ParamSlot(l.value))
    val (copy, _) = mask(query, slots)
    outsideExecution {
      val plan = new PlannedQuery(spark, copy).executedPlan
      val initial = plan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      if (!oneStage(initial)) None
      else {
        val rdd = plan.execute()
        // an adaptive plan's final plan runs as its result query stage
        val done = plan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan match {
            case r: ResultQueryStageExec => r.plan
            case p => p
          }
          case p => p
        }
        if (!oneStage(done) || !fixedScans(done) || !narrow(rdd)) None
        else {
          builds.incrementAndGet()
          Some(new Template(slots, rdd, hits))
        }
      }
    }
  }

  /** Runs `body` outside the current query's SQL execution, so building
    * a template posts no plan update to that query's listeners. */
  private def outsideExecution[T](body: => T): T = {
    val sc = spark.sparkContext
    val id = sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
    try body finally sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, id)
  }
}

object TemplateCache {
  /** Keys kept per session. The 360-query Verify corpus meets more
    * than 256 keys per pass, so a smaller bound, cycled through in
    * order, would evict every key before its next use. */
  private val Capacity = 1024

  private type Fingerprint = (Map[String, String], Seq[Seq[(Path, Long, Long)]])

  private sealed trait State { def fp: Fingerprint }
  private final case class Seen(fp: Fingerprint) extends State
  private final case class Building(fp: Fingerprint) extends State
  private final case class Refused(fp: Fingerprint) extends State
  private final case class Built(fp: Fingerprint, template: Template) extends State

  /** A new, empty cache for `session`. [[graft.sql.GraftExtensions]]
    * injects it as a columnar rule that changes nothing: Spark builds a
    * session's columnar rules once per session state but its planner
    * strategies on every planning, so held there the cache lives and
    * dies with its session, and a cloned session starts with its own. */
  def apply(session: SparkSession): TemplateCache = new TemplateCache(session)

  /** The cache of `session`, if it was built with
    * [[graft.sql.GraftExtensions]]. */
  def of(session: SparkSession): Option[TemplateCache] =
    session.asInstanceOf[classic.SparkSession].sessionState.columnarRules
      .collectFirst { case t: TemplateCache => t }

  /** The planner strategy [[graft.sql.GraftExtensions]] injects: plans
    * a query's root through the cache of `session`. */
  final class Serve(session: SparkSession) extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case root: ReturnAnswer => of(session).fold(Seq.empty[SparkPlan])(_.plan(root))
      case _ => Nil
    }
  }

  // one shared slot per masked position, so keys of one template compare equal
  private val keySlots = new ConcurrentHashMap[Int, ParamSlot]()
  private def keySlot(i: Int): ParamSlot = keySlots.computeIfAbsent(i, _ => new ParamSlot(null))

  /** `plan` with each literal [[HoistFilterLiterals]] would hoist from a
    * `Filter` replaced by a [[HoistedLiteral]] on `slot(i)`, numbered in
    * pre-order, and the literals it replaced. */
  private def mask(plan: LogicalPlan, slot: Int => ParamSlot): (LogicalPlan, Seq[Literal]) = {
    val found = ArrayBuffer.empty[Literal]
    val masked = plan.transformDown {
      case f: Filter =>
        val c = f.condition.transformDown {
          case b: BinaryComparison if b.children.exists(HoistFilterLiterals.hoistable) =>
            b.withNewChildren(b.children.map {
              case l: Literal if HoistFilterLiterals.hoistable(l) =>
                found += l
                HoistedLiteral(slot(found.size - 1), l.dataType)
              case e => e
            })
        }
        if (c fastEquals f.condition) f else f.copy(condition = c)
    }
    (masked, found.toSeq)
  }

  private def oneStage(plan: SparkPlan): Boolean = !plan.exists {
    case _: Exchange | _: QueryStageExec | _: AdaptiveSparkPlanExec => true
    case p => p.subqueries.nonEmpty
  }

  /** Every leaf is a file scan whose file list does not depend on a slot. */
  private def fixedScans(plan: SparkPlan): Boolean = plan.collectLeaves().forall {
    case f: FileSourceScanExec =>
      !f.bucketedScan && f.fileConstantMetadataColumns.isEmpty &&
        !f.partitionFilters.exists(_.exists(_.isInstanceOf[HoistedLiteral]))
    case _ => false
  }

  private def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall {
    case _: ShuffleDependency[_, _, _] => false
    case d => narrow(d.rdd)
  }

  private[plans] val copyRows: Iterator[InternalRow] => Array[InternalRow] = _.map(_.copy()).toArray
}

/** A built template: the slots of its plan and the RDD that plan
  * executed to. */
final class Template private[plans] (slots: Seq[ParamSlot], rdd: RDD[InternalRow],
    hits: AtomicLong) {
  private val busy = new AtomicBoolean

  /** The rows of one run with `params` bound, or None while another
    * query holds the template. */
  def run(params: Seq[Literal]): Option[Array[InternalRow]] =
    if (!busy.compareAndSet(false, true)) None
    else try {
      slots.zip(params).foreach { case (s, l) => s.value = l.value }
      hits.incrementAndGet()
      Some(rdd.sparkContext.runJob(rdd, TemplateCache.copyRows).flatten)
    } finally busy.set(false)
}

/** Root of a query served by a [[Template]]: `executeCollect` runs the
  * template with this query's `params`; the child is the query's own
  * plan, which EXPLAIN shows and every other action (and a collect
  * that finds the template busy) runs. Spark also plans subqueries
  * (dynamic-pruning build sides among them) as answers, so the node
  * can sit inside another plan: it canonicalizes as its child, keeping
  * exchange reuse as it was, and its template is not serialized with
  * the plan. */
case class TemplateHitExec(@transient template: Template, params: Seq[Literal],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def executeCollect(): Array[InternalRow] =
    template.run(params).getOrElse(child.executeCollect())
  override def stringArgs: Iterator[Any] = Iterator(params.mkString("[", ", ", "]"))
  override protected def doCanonicalize(): SparkPlan = child.canonicalized
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

/** Plans a logical plan that is already optimized, as it stands. */
private final class PlannedQuery(session: classic.SparkSession, plan: LogicalPlan)
    extends QueryExecution(session, plan) {
  override def analyzed: LogicalPlan = plan
  override def optimizedPlan: LogicalPlan = plan
}
