package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{MultiInstanceRelation, UnresolvedFunction,
  UnresolvedHaving, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.{NamedParameterContext, ParameterContext,
  ParserInterface, PositionalParameterContext}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ResultQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

/** Session-level cache of interactive SQL templates. A `SparkSession.sql`
  * statement that differs from an earlier one only in the numbers or
  * dates it compares against runs the earlier one's retained RDD with
  * its own values bound, so it skips analysis, optimization, physical
  * planning, RDD construction, closure cleaning, the scan's Hadoop
  * configuration broadcast and code generation.
  *
  *  - Key: the statement's parse tree (through [[TemplateCache.Parser]])
  *    with the non-null numeric, date and timestamp literals that are
  *    direct operands of a comparison, an `IN` list, a `BETWEEN` or
  *    arithmetic in a `WHERE` or `HAVING` condition masked, plus the
  *    current catalog and namespace. Only statements without a `WITH`
  *    clause over file-source temporary views (views of a DataFrame)
  *    and built-in or temporary functions qualify, and none while the
  *    session caches any data. A hit returns an already-analyzed
  *    [[ServedStatement]] leaf; its `executeCollect` runs the retained
  *    RDD, and a DataFrame built on it, or any other action, plans the
  *    template's analyzed plan with the statement's values beneath it.
  *    That plan holds the views the statement's fingerprint validated,
  *    so the leaf reads what the statement read when it was parsed, as
  *    an analyzed statement does. DataFrame queries never meet the
  *    cache: they plan as without it.
  *  - Build: the second time a key is seen with the same session SQL
  *    conf, the same temporary views and function definitions and the
  *    same file listing of every view's scans, a copy whose masked
  *    literals are typed, non-foldable [[HoistedLiteral]] slots is
  *    analyzed, optimized, planned and executed to an RDD, once. The
  *    copy is correct for any value of its slots' types; it is kept
  *    only if it reads no clock or session variable, coerces no
  *    integral slot to a decimal (whose precision Spark derives from a
  *    literal's value) and yields the schema the statement itself
  *    analyzes to.
  *  - Eligible: deterministic plans over file-source leaves only, with
  *    no subquery, command, observed metrics or user code (UDFs and
  *    typed object operators, whose closures a retained RDD would keep
  *    alive with whatever driver data they captured), whose copy plans
  *    to a single stage (no exchange or query stage below the final
  *    adaptive plan's result stage, no shuffle in the RDD) and whose
  *    scans filter neither partitions, buckets nor file metadata on a
  *    slot. Anything else plans exactly as without the cache. No result
  *    is reused: each hit scans its input.
  *  - Safety: a template serves one query at a time (a second one runs
  *    its own plan), and only while what its build saw holds. A key
  *    whose fingerprint changed at `VolatileAfter` sightings in a row
  *    without a build (a view re-registered over a rewritten table
  *    between reads) is volatile: it plans as without the cache and is
  *    not fingerprinted again until it leaves the cache. At most
  *    `Capacity` keys per session are kept, least recently used first
  *    out.
  *
  * A slot is never pushed into the Parquet reader, so a hit reads every
  * row group of its files; eligible scans read one partition, which
  * bounds that loss. */
final class TemplateCache private (session: SparkSession) {
  import TemplateCache._

  private val spark = session.asInstanceOf[classic.SparkSession]
  private val states = new java.util.LinkedHashMap[Key, State](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, State]): Boolean =
      size() > Capacity
  }

  /** Runs served by a retained RDD; templates built; fingerprints
    * taken; keys marked volatile. */
  val hits = new AtomicLong
  val builds = new AtomicLong
  val fingerprints = new AtomicLong
  val volatiles = new AtomicLong

  /** `parsed`, the parse tree of a `SparkSession.sql` statement, or a
    * leaf served by its template. */
  private def statement(parsed: LogicalPlan): LogicalPlan =
    if (!statementShape(parsed) || !spark.sharedState.cacheManager.isEmpty) parsed
    else try {
      val (masked, params) = mask(parsed, keySlot)
      val catalogs = spark.sessionState.catalogManager
      val key = Key(normalized(masked), catalogs.currentCatalog.name,
        catalogs.currentNamespace.toSeq)
      template(key, fingerprint(parsed))(build(parsed, params)) match {
        case Some(t) => ServedStatement(t, params, t.logical.output.map(_.newInstance()))
        case None => parsed
      }
    } catch { case NonFatal(_) => parsed }

  /** The template `key` leads to, built by `build` at the second
    * sighting with an unchanged fingerprint; None also when `fp` is
    * None (the statement does not qualify). */
  private def template(key: Key, fp: => Option[Fingerprint])(
      build: => Option[Template]): Option[Template] = {
    if (states.synchronized(states.get(key)) == Volatile) return None
    fp.flatMap { fp =>
      fingerprints.incrementAndGet()
      // None: this query builds the template; a template being built
      // (by another query, or by this thread planning its copy) plans
      // as without the cache meanwhile
      val known = states.synchronized {
        states.get(key) match {
          case Seen(`fp`, _) => states.put(key, Building(fp)); None
          case s @ (Building(`fp`) | Refused(`fp`) | Built(`fp`, _)) => Some(s)
          case Volatile => Some(Volatile)
          case prior =>
            val changes = prior match {
              case null => 0
              case Seen(_, n) => n + 1
              case _ => 1
            }
            val next = if (changes < VolatileAfter) Seen(fp, changes) else {
              volatiles.incrementAndGet()
              Volatile
            }
            states.put(key, next)
            Some(next)
        }
      }
      known match {
        case Some(Built(_, t)) => Some(t)
        case Some(_) => None
        case None =>
          val built = try build catch { case NonFatal(_) => None }
          states.synchronized(states.put(key, built.fold[State](Refused(fp))(Built(fp, _))))
          built
      }
    }
  }

  private def admissible(query: LogicalPlan): Boolean = {
    val leaves = query.collectLeaves()
    leaves.nonEmpty && leaves.forall(fileSource) && !query.isStreaming &&
      query.deterministic && !query.exists {
        case _: Command | _: CollectMetrics | _: Tail | _: ObjectConsumer |
            _: ObjectProducer => true
        case p => p.expressions.exists(e => SubqueryExpression.hasSubquery(e) ||
          e.exists(_.isInstanceOf[UserDefinedExpression]))
      }
  }

  /** What a statement's template depends on beyond its key: the SQL
    * conf, each temporary view it names (by identity) and that view's
    * file listing, and each function it calls (by the identity of its
    * builder). None when it names anything else: a catalog table, a
    * view defined by SQL text or over a non-file source, a qualified
    * or unknown function. */
  private def fingerprint(parsed: LogicalPlan): Option[Fingerprint] = {
    val catalog = spark.sessionState.catalog
    val registry = spark.sessionState.functionRegistry
    val views = parsed.collect {
      case r: UnresolvedRelation =>
        if (r.multipartIdentifier.size != 1 || r.isStreaming) None
        else catalog.getRawTempView(r.multipartIdentifier.head)
          .filter(_.plan.exists(_.collectLeaves().forall(fileSource)))
    }
    val functions = parsed.flatMap(_.expressions.flatMap(_.collect {
      case f: UnresolvedFunction =>
        if (f.nameParts.size != 1) None
        else registry.lookupFunctionBuilder(FunctionIdentifier(f.nameParts.head))
    }))
    if (!views.forall(_.isDefined) || !functions.forall(_.isDefined)) None
    else Some(Fingerprint(spark.sessionState.conf.getAllConfs,
      views.flatten.flatMap(_.plan.get.collectLeaves().map(listing)),
      (views.flatten ++ functions.flatten).map(new Ref(_))))
  }

  /** Analyzes, optimizes and plans a copy of the statement `parsed`
    * with its masked literals as slots, bound to `params`, and executes
    * it to an RDD if it qualifies. */
  private def build(parsed: LogicalPlan, params: Seq[Literal]): Option[Template] = {
    val slots = params.map(l => new ParamSlot(l.value))
    val (copy, _) = mask(parsed, slots)
    val qe = new QueryExecution(spark, copy)
    val analyzed = qe.analyzed
    val ok = timeless(analyzed) && !decimalSlot(analyzed) &&
      admissible(qe.optimizedPlan) &&
      new QueryExecution(spark, parsed).analyzed.schema == analyzed.schema
    val t = if (!ok) None else execute(qe, slots)
    t.foreach(_ => builds.incrementAndGet())
    t
  }

  /** The template `qe` executes to, if its plan is one stage over
    * fixed scans. */
  private def execute(qe: QueryExecution, slots: Seq[ParamSlot]) = outsideExecution {
    val plan = qe.executedPlan
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
      else Some(new Template(slots, rdd, done, qe.analyzed, qe.optimizedPlan.stats.sizeInBytes,
        () => hits.incrementAndGet()))
    }
  }

  /** Runs `body` outside any current SQL execution, so building a
    * template posts no plan update to that execution's listeners. */
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

  /** Sightings in a row with a changed fingerprint and no build after
    * which a key is volatile. */
  private val VolatileAfter = 3

  /** Compares by identity: a temporary view or function replaced under
    * the same name is a new one. */
  private final class Ref(val obj: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case r: Ref => r.obj eq obj
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(obj)
  }

  private final case class Fingerprint(conf: Map[String, String],
      files: Seq[Seq[(Path, Long, Long)]], refs: Seq[Ref])

  private final case class Key(tree: LogicalPlan, catalog: String,
      namespace: Seq[String])

  private sealed trait State
  private final case class Seen(fp: Fingerprint, changes: Int) extends State
  private final case class Building(fp: Fingerprint) extends State
  private final case class Refused(fp: Fingerprint) extends State
  private final case class Built(fp: Fingerprint, template: Template) extends State
  private case object Volatile extends State

  /** The cache of `session`, if it was built with
    * [[graft.sql.GraftExtensions]]: its [[Parser]] holds it. Spark
    * builds a session's parser once per session state, so the cache
    * lives and dies with its session, and a cloned session starts with
    * its own. */
  def of(session: SparkSession): Option[TemplateCache] =
    session.asInstanceOf[classic.SparkSession].sessionState.sqlParser match {
      case p: Parser => Some(p.cache)
      case _ => None
    }

  /** The planner strategy [[graft.sql.GraftExtensions]] injects: plans
    * a served statement as its [[ServedStatementExec]]. */
  object Serve extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ReturnAnswer(s: ServedStatement) => s.exec :: Nil
      case s: ServedStatement => s.exec :: Nil
      case _ => Nil
    }
  }

  /** The session parser [[graft.sql.GraftExtensions]] injects, holding
    * the session's cache: a `SparkSession.sql` statement without
    * parameters goes through the cache; everything else (view text,
    * `parseQuery`, expressions, identifiers) goes to `delegate`
    * unchanged. */
  final class Parser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {
    val cache = new TemplateCache(session)

    override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan = {
      val parsed = delegate.parsePlanWithParameters(sqlText, ctx)
      val bare = ctx match {
        case p: PositionalParameterContext => p.params.isEmpty
        case n: NamedParameterContext => n.params.isEmpty
        case _ => false
      }
      if (!bare) parsed else cache.statement(parsed)
    }
    override def parsePlan(sqlText: String): LogicalPlan = delegate.parsePlan(sqlText)
    override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
    override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String): TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseRoutineParam(sqlText: String): StructType =
      delegate.parseRoutineParam(sqlText)
    override def parseTableSchema(sqlText: String): StructType =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  }

  // one shared slot per masked position, so keys of one template compare equal
  private val keySlots = new ConcurrentHashMap[Int, ParamSlot]()
  private def keySlot(i: Int): ParamSlot = keySlots.computeIfAbsent(i, _ => new ParamSlot(null))

  /** Parse-tree nodes a served statement may consist of. A `WITH`
    * clause is not among them: its bodies are inner children, which
    * neither the key, the mask nor the fingerprint walks. */
  private def statementShape(parsed: LogicalPlan): Boolean = !parsed.exists {
    case _: Project | _: Filter | _: Sort | _: Aggregate | _: UnresolvedHaving |
        _: SubqueryAlias | _: UnresolvedRelation | _: GlobalLimit | _: LocalLimit |
        _: Distinct | _: Join | _: Union | _: WithWindowDefinition =>
      false
    case _ => true
  } && !parsed.exists(_.expressions.exists(SubqueryExpression.hasSubquery))

  /** A statement literal the key masks: non-null and numeric, date or
    * timestamp. */
  private def maskable(e: Expression): Boolean = e match {
    case Literal(v, t) if v != null => t match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
          _: DecimalType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    case _ => false
  }

  /** The parse tree `plan` with each maskable literal that is a direct
    * operand of a comparison, an `IN` list, a `BETWEEN` or arithmetic in
    * a `WHERE` or `HAVING` condition replaced by a [[HoistedLiteral]] on
    * `slot(i)`, numbered in pre-order, and the literals it replaced. */
  private def mask(plan: LogicalPlan, slot: Int => ParamSlot): (LogicalPlan, Seq[Literal]) = {
    val found = ArrayBuffer.empty[Literal]
    def condition(c: Expression): Expression = c.transformDown {
      case e if e.children.exists(maskable) && (e match {
          case _: BinaryComparison | _: In | _: BinaryArithmetic => true
          case f: UnresolvedFunction => f.nameParts.map(_.toLowerCase) == Seq("between")
          case _ => false
        }) =>
        e.withNewChildren(e.children.map {
          case l: Literal if maskable(l) =>
            found += l
            HoistedLiteral(slot(found.size - 1), l.dataType)
          case x => x
        })
    }
    val masked = plan.transformDown {
      case f: Filter => f.copy(condition = condition(f.condition))
      case h: UnresolvedHaving => h.copy(havingCondition = condition(h.havingCondition))
    }
    (masked, found.toSeq)
  }

  /** `plan` with every alias's expression id zeroed: two parses of one
    * statement differ only in those. */
  private def normalized(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case a: Alias => Alias(a.child, a.name)(ExprId(0), a.qualifier, a.explicitMetadata,
      a.nonInheritableMetadataKeys)
  }

  /** Every leaf expression of `plan` is a column, a literal, a slot, a
    * window marker or a reference to a common subexpression: nothing
    * reads the clock, the session or a variable, whose value a template
    * would keep. */
  private def timeless(plan: LogicalPlan): Boolean = !plan.exists(_.expressions.exists(_.exists {
    case _: Attribute | _: Literal | _: HoistedLiteral | _: SpecialFrameBoundary |
        _: WindowFrame | _: AggregateWindowFunction | _: NamedLambdaVariable |
        _: CommonExpressionRef => false
    case e => e.children.isEmpty
  }))

  /** Whether an integral slot is coerced to a decimal: the analyzer
    * types an integral literal there by its value's digits. */
  private def decimalSlot(plan: LogicalPlan): Boolean = plan.exists(_.expressions.exists(_.exists {
    case c: Cast => c.child.isInstanceOf[HoistedLiteral] &&
      c.dataType.isInstanceOf[DecimalType] && (c.child.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    case _ => false
  }))

  private def fileSource(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation =>
        r.location.isInstanceOf[PartitioningAwareFileIndex] && r.bucketSpec.isEmpty
      case _ => false
    }
    case _ => false
  }

  /** Path, length and modification time of every file a file-source
    * leaf lists. */
  private def listing(leaf: LogicalPlan): Seq[(Path, Long, Long)] = leaf match {
    case l: LogicalRelation =>
      l.relation.asInstanceOf[HadoopFsRelation].location
        .asInstanceOf[PartitioningAwareFileIndex].allFiles()
        .map(f => (f.getPath, f.getLen, f.getModificationTime)).toSeq
    case _ => Nil
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

/** A built template: the slots of its plan, the RDD that plan executed
  * to, the plan itself (for EXPLAIN), the statement's analyzed plan it
  * was planned from and that plan's optimized size. */
final class Template private[plans] (slots: Seq[ParamSlot], rdd: RDD[InternalRow],
    plan: SparkPlan, private[plans] val logical: LogicalPlan,
    private[plans] val sizeInBytes: BigInt, onRun: () => Unit) {
  private val busy = new AtomicBoolean

  /** The rows of one run with `params` bound, or None while another
    * query holds the template. */
  def run(params: Seq[Literal]): Option[Array[InternalRow]] =
    if (!busy.compareAndSet(false, true)) None
    else try {
      slots.zip(params).foreach { case (s, l) => s.value = l.value }
      onRun()
      Some(rdd.sparkContext.runJob(rdd, TemplateCache.copyRows).flatten)
    } finally busy.set(false)

  /** The template's plan with `params` in place of its slots. */
  private[plans] def bound(params: Seq[Literal]): SparkPlan = bind(plan, params)

  /** The template's logical plan with `params` in place of its slots. */
  private[plans] def boundLogical(params: Seq[Literal]): LogicalPlan = bind(logical, params)

  private def bind[P <: QueryPlan[P]](p: P, params: Seq[Literal]): P = {
    val at = slots.zip(params).toMap
    p.transformAllExpressions { case h: HoistedLiteral if at.contains(h.slot) => at(h.slot) }
  }
}

/** A `SparkSession.sql` statement served by a [[Template]], returned by
  * the parser already analyzed: `output` has the statement's schema and
  * `params` its masked values. A DataFrame built on it sees an opaque
  * relation: filters on it are not pushed into its scans. */
case class ServedStatement(template: Template, params: Seq[Literal],
    output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {
  /** The statement's analyzed plan: the template's, with `params` bound. */
  @transient private[plans] lazy val bound: LogicalPlan = template.boundLogical(params)

  // born analyzed, so the analyzer returns it as it stands
  override def analyzed: Boolean = true
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = Statistics(template.sizeInBytes)
  // compared as the plan it stands for, so data cached from a served
  // statement serves the same statement analyzed in full, and back
  override protected def doCanonicalize(): LogicalPlan = bound.canonicalized
  override def stringArgs: Iterator[Any] = Iterator(params.mkString("[", ", ", "]"))
  private[plans] def exec: SparkPlan = ServedStatementExec(template, params, output, bound)
}

/** Plans a [[ServedStatement]]. `executeCollect` runs its template with
  * its `params`; every other action (and a collect that finds the
  * template busy) plans and runs `bound`, the statement's analyzed
  * plan. EXPLAIN shows the template's plan with this statement's
  * values. */
case class ServedStatementExec(@transient template: Template, params: Seq[Literal],
    output: Seq[Attribute], @transient bound: LogicalPlan) extends LeafExecNode {
  @transient private lazy val planned: SparkPlan = new BoundStatement(session, bound).executedPlan
  override protected def doExecute(): RDD[InternalRow] = planned.execute()
  override def executeCollect(): Array[InternalRow] =
    template.run(params).getOrElse(planned.executeCollect())
  override def innerChildren: Seq[QueryPlan[_]] = Seq(template.bound(params))
  override def stringArgs: Iterator[Any] = Iterator(params.mkString("[", ", ", "]"))
}

/** Plans the analyzed plan of a served statement as a fragment of the
  * query that reads it, whose plan its `execute` feeds. It reads no
  * cached data: data cached from the statement itself is computed by
  * this plan. */
private final class BoundStatement(session: classic.SparkSession, plan: LogicalPlan)
    extends QueryExecution(session, plan) {
  override def analyzed: LogicalPlan = plan
  override def withCachedData: LogicalPlan = plan
  override lazy val sparkPlan: SparkPlan =
    session.sessionState.planner.plan(optimizedPlan.clone()).next()
}
