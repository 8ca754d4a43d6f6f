package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.google.common.collect.{Ordering => GuavaOrdering}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, InterpretedMutableProjection, InterpretedOrdering, InterpretedUnsafeProjection, NamedExpression, PlanExpression, Predicate, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{CollectLimitExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, GlobalLimitExec, InputAdapter, LocalLimitExec, PartitionedFileUtil, PlanLater, ProjectExec, SortExec, SparkPlan, SparkStrategy, SQLExecution, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec, SortBasedAggregationIterator}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

/** Small collects answered on the driver, with no Spark job.
  *
  * A `collect` root built only of Project, Filter, Aggregate (hash,
  * object-hash or sort aggregate, any mode), Sort, Limit and
  * TakeOrderedAndProject over one non-streaming parquet scan, every
  * expression deterministic and free of subqueries, gets a
  * [[DriverCollectExec]] root over the plan Spark itself builds. Two hooks
  * put it there, because Spark decides late whether a root runs adaptively:
  *
  *  - This planner strategy takes the roots that need no exchange: a
  *    `ReturnAnswer` over Project/Filter on the scan, planned exactly as
  *    Spark's own `SpecialLimits` plans it (a bare `CollectLimit` or
  *    `TakeOrderedAndProject` for LIMIT and ORDER BY … LIMIT, with their
  *    offsets). It is installed by [[GraftExtensions]] and, for a session
  *    built without it, by `GraftSession.prepare` as an extra strategy (the
  *    hook Pathling's `SqlStrategy.setup` uses), so the bare Bench/Verify
  *    session has it too.
  *  - Aggregates and global sorts need an exchange, so
  *    `InsertAdaptiveSparkPlan` wraps the whole root in an
  *    `AdaptiveSparkPlanExec`, whose `executeCollect` runs the shuffle
  *    stages before any node under it. [[wrapAdaptive]] puts the node
  *    above that wrapper instead. It runs in the physical hook
  *    [[GraftExtensions]] installs, so a session built without the
  *    extension keeps Spark's path for these roots.
  *
  * Everything below the new root is Spark's plan, AQE and pushed and
  * partition filters included, and it is what runs whenever the driver
  * path does not apply; EXPLAIN shows a `DriverCollect` root over it. */
object DriverCollect extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case root: ReturnAnswer =>
      SparkSession.active.sessionState.planner.SpecialLimits(root).take(1).flatMap {
        case p @ PlanLater(c) if readsOneParquetTable(c) => DriverCollectExec(p) :: Nil
        case p @ CollectLimitExec(_, PlanLater(c), _) if readsOneParquetTable(c) =>
          DriverCollectExec(p) :: Nil
        case p @ TakeOrderedAndProjectExec(_, order, list, PlanLater(c), _)
            if (order ++ list).forall(plain) && readsOneParquetTable(c) =>
          DriverCollectExec(p) :: Nil
        case _ => Nil
      }
    case _ => Nil
  }

  /** `plan` under a [[DriverCollectExec]] root when it is a query's
    * adaptive root (not a subquery's) over a chain the node evaluates. The
    * root's `inputPlan` is the plan before `EnsureRequirements`, with no
    * exchanges and no codegen stages. */
  def wrapAdaptive(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec if !a.isSubquery && DriverCollectExec.chain(a).nonEmpty =>
      DriverCollectExec(a)
    case other => other
  }

  private[plans] def plain(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])

  private def readsOneParquetTable(p: LogicalPlan): Boolean = p match {
    case Project(list, child) => list.forall(plain) && readsOneParquetTable(child)
    case Filter(cond, child) => plain(cond) && readsOneParquetTable(child)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case h: HadoopFsRelation => h.fileFormat.isInstanceOf[ParquetFileFormat]
      case _ => false
    }
    case _ => false
  }
}

/** The root [[DriverCollect]] plans: `child` is the plan Spark built, and
  * every way to run it other than `executeCollect`/`executeTake` is the
  * child's own.
  *
  * Driver path: when the files left after partition pruning total at most
  * `min(spark.sql.files.openCostInBytes, spark.sql.files.maxPartitionBytes)`
  * — Spark's own measure of the bytes one file open is worth, so no new
  * setting — and, for a chain that aggregates or sorts, at most
  * [[DriverCollectExec.GroupOrSortBudget]], the node reads them here with Spark's parquet reader and
  * evaluates the child's operators over the rows, interpreted (no codegen
  * compile), bound as the child binds them:
  *  - the scan's rows come in the `FilePartition`s Spark's scan builds
  *    (largest file first, listing order among equals; Spark splits no
  *    file within the budget), so row order and LIMIT match the child's
  *    under the same conf;
  *  - Project, Filter, partial aggregates and local limits run once per
  *    partition; an aggregate that needs its input clustered, a global
  *    sort or limit and TakeOrderedAndProject run once over all
  *    partitions in order, where Spark would exchange;
  *  - aggregates run Spark's `SortBasedAggregationIterator`, the iterator
  *    `SortAggregateExec` uses, over rows grouped by their binary grouping
  *    key (it only compares keys for equality); with no grouping keys and
  *    no input it returns Spark's single row;
  *  - sorts use `InterpretedOrdering` over the same `SortOrder`s, and
  *    TakeOrderedAndProject keeps only its top `n` rows, as Spark's does.
  * The reader is built once per (table schemas and options, read schema,
  * session conf) in the session registry, without pushed filters: every
  * data filter also stands in the `FilterExec` the node evaluates. (Spark's
  * parquet dictionary filter drops a page of -0.0 values under `d = 0.0`;
  * evaluated alone, the condition keeps them, as SQL says.)
  *
  * The child runs instead when its shape is not such a chain, a grouping
  * key is not binary-stable (a collated string), the files exceed the
  * budget, or the driver path throws (so errors surface exactly as
  * Spark's path raises them). The node's metrics say which path ran. */
case class DriverCollectExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] = child.execute()

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "driverPath" -> SQLMetrics.createMetric(sparkContext, "driver path"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "driverBytesRead" -> SQLMetrics.createSizeMetric(sparkContext, "bytes read on the driver"))

  override def executeCollect(): Array[InternalRow] =
    answer(Int.MaxValue)(child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    answer(n)(child.executeTake(n))

  override protected def withNewChildInternal(newChild: SparkPlan): DriverCollectExec =
    copy(child = newChild)

  /** The child's: the node returns what its child returns. Spark plans
    * some plans of its own (a pruning filter's build side, a subquery)
    * through the same query root and matches them against the plans they
    * reuse by their canonical form. */
  override protected def doCanonicalize(): SparkPlan = child.canonicalized

  /** At most `n` rows read on the driver, or `viaChild`'s; either way the
    * metrics record the path, the rows and the bytes read here. */
  private def answer(n: Int)(viaChild: => Array[InternalRow]): Array[InternalRow] = {
    val driver = DriverCollectExec.chain(child).flatMap { c =>
      if (c.scan.selectedPartitions.totalFileSize > c.budget(conf)) None
      else try Some(DriverCollectExec.run(c, n, output))
      catch { case NonFatal(_) => None }
    }
    val (rows, bytes) = driver.getOrElse((viaChild, 0L))
    metrics("driverPath").set(if (driver.isDefined) 1L else 0L)
    metrics("numOutputRows").set(rows.length.toLong)
    metrics("driverBytesRead").set(bytes)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    rows
  }
}

object DriverCollectExec {

  /** Rows per partition, as Spark's tasks would see them. */
  private type Parts = Seq[Iterator[InternalRow]]

  /** A chain the node evaluates: the parquet scan at its bottom, the
    * chain's operators as one function from the scan's partitions to the
    * root's, and whether one of them groups or sorts. */
  private[plans] final case class Chain(scan: FileSourceScanExec, ops: Parts => Parts,
      groupsOrSorts: Boolean = false) {
    /** The bytes of files the driver path reads at most: Spark's measure
      * of the bytes one file open is worth, capped for chains that group
      * or sort (see [[GroupOrSortBudget]]). */
    def budget(conf: SQLConf): Long = {
      val files = math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
      if (groupsOrSorts) math.min(files, GroupOrSortBudget) else files
    }
  }

  /** The budget's cap for chains that aggregate or sort. The driver runs
    * those operators row by row, interpreted, on one thread, where Spark's
    * path runs them compiled on every core after a fixed cost of two jobs.
    * The test-source probe `graft.plans.DriverCrossover` (GROUP BY …
    * ORDER BY … LIMIT over a 4-file table whose every byte the statement
    * reads, `local[4]`, 4 vCPU) measured medians of 185, 386 and 960 ms on
    * the driver path against 212, 171 and 170 ms on Spark's path for 1.0,
    * 3.9 and 15.7 MiB (two more runs: 170, 344 and 1302 against 235, 170
    * and 207 ms; 154, 361 and 1252 against 215, 154 and 195 ms), so the
    * crossover lies just above 1 MiB, below the 4 MiB default of the file
    * budget. (A point lookup's crossover lies between 4 and 14 MiB.) */
  private[plans] val GroupOrSortBudget: Long = 1L << 20

  /** `p` as a [[Chain]], if it is built only of the operators the node
    * evaluates, with plain expressions, over one parquet scan whose output
    * is its read schema plus the table's partition columns. */
  private[plans] def chain(p: SparkPlan): Option[Chain] = {
    type Op = Iterator[InternalRow] => Iterator[InternalRow]
    // `op` once per partition, as a task runs it, or once over every
    // partition in order where Spark exchanges (`all`)
    def step(c: SparkPlan, all: Boolean, groupsOrSorts: Boolean = false)(op: Op) =
      chain(c).map(ch => Chain(ch.scan,
        ch.ops andThen (ps => if (all) Seq(op(ps.iterator.flatten)) else ps.map(op)),
        ch.groupsOrSorts || groupsOrSorts))
    if (!p.expressions.forall(DriverCollect.plain)) None
    else p match {
      case a: AdaptiveSparkPlanExec => chain(a.inputPlan)
      case WholeStageCodegenExec(c) => chain(c)
      case InputAdapter(c) => chain(c)
      case ColumnarToRowExec(c) => chain(c)
      case ProjectExec(list, c) => step(c, all = false)(project(list, c.output))
      case FilterExec(cond, c) => step(c, all = false)(filter(cond, c.output))
      case LocalLimitExec(n, c) => step(c, all = false)(_.take(n))
      case GlobalLimitExec(n, c, 0) => step(c, all = true)(it => if (n >= 0) it.take(n) else it)
      case CollectLimitExec(n, c, offset) =>
        step(c, all = true)(it => (if (n >= 0) it.take(n) else it).drop(offset))
      case SortExec(order, global, c, _) =>
        step(c, all = global, groupsOrSorts = true)(sort(order, c.output))
      // a bounded top-k, Guava's `leastOf` as in Spark's own
      // `takeOrdered`; `n` counts the skipped `offset` rows, as in Spark's
      // executeCollect
      case TakeOrderedAndProjectExec(n, order, list, c, offset) =>
        step(c, all = true, groupsOrSorts = true)(it => project(list, c.output)(
          GuavaOrdering.from(new InterpretedOrdering(order, c.output))
            .leastOf(it.map(_.copy()).asJava, n).asScala.iterator.drop(offset)))
      case a: BaseAggregateExec if (a match {
            case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
            case _ => false
          }) && !a.isStreaming &&
          a.groupingExpressions.forall(e => UnsafeRowUtils.isBinaryStable(e.dataType)) =>
        step(a.child, all = !a.requiredChildDistribution.forall(_ == UnspecifiedDistribution),
          groupsOrSorts = true)(aggregate(a))
      case f: FileSourceScanExec
          if f.stream.isEmpty && !f.bucketedScan && f.optionalBucketSet.isEmpty &&
            f.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
            f.partitionFilters.forall(DriverCollect.plain) &&
            f.output.map(_.name) ==
              (f.requiredSchema.fieldNames ++ f.relation.partitionSchema.fieldNames).toSeq =>
        Some(Chain(f, identity))
      case _ => None
    }
  }

  private def bind(es: Seq[Expression], input: Seq[Attribute]): Seq[Expression] =
    es.map(BindReferences.bindReference(_, input))

  private def project(list: Seq[NamedExpression], input: Seq[Attribute])
      (it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.map(InterpretedUnsafeProjection.createProjection(bind(list, input)))

  private def filter(cond: Expression, input: Seq[Attribute])
      (it: Iterator[InternalRow]): Iterator[InternalRow] = {
    val p = Predicate.createInterpreted(BindReferences.bindReference(cond, input))
    p.initialize(0)
    it.filter(p.eval)
  }

  private def sort(order: Seq[SortOrder], input: Seq[Attribute])
      (it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.map(_.copy()).toArray.sorted(new InterpretedOrdering(order, input)).iterator

  /** One aggregate operator over one input: the rows grouped contiguously
    * by their binary grouping key (first-seen order), then Spark's
    * sort-based aggregation iterator, as `SortAggregateExec` runs it. */
  private def aggregate(a: BaseAggregateExec)(input: Iterator[InternalRow]): Iterator[InternalRow] = {
    val keys = a.groupingExpressions
    val grouped =
      if (keys.isEmpty) input
      else {
        val key = InterpretedUnsafeProjection.createProjection(bind(keys, a.child.output))
        val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
        input.foreach(r => groups.getOrElseUpdate(key(r).copy(), mutable.ArrayBuffer.empty) += r.copy())
        groups.valuesIterator.flatMap(_.iterator)
      }
    val hasInput = grouped.hasNext
    if (!hasInput && keys.nonEmpty) Iterator.empty
    else {
      val it = new SortBasedAggregationIterator(0, keys, a.child.output, grouped,
        a.aggregateExpressions, a.aggregateAttributes, a.initialInputBufferOffset,
        a.resultExpressions, (es, schema) => new InterpretedMutableProjection(es, schema),
        new SQLMetric("sum", 0L))
      if (hasInput) it.map(_.copy()) else Iterator.single(it.outputForEmptyGroupingKeyWithoutInput())
    }
  }

  /** The scan's files as the `FilePartition`s Spark's scan builds for them. */
  private def filePartitions(scan: FileSourceScanExec): Seq[FilePartition] = {
    val s = scan.relation.sparkSession
    val files = scan.selectedPartitions.filePartitionIterator.flatMap { p =>
      p.files.map(f =>
        PartitionedFileUtil.getPartitionedFile(f, f.getPath, p.values, 0, f.getLen))
    }.toArray.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(s, files.toSeq,
      FilePartition.maxSplitBytes(s, scan.selectedPartitions))
  }

  /** Read the chain's files on the driver and apply its operators, keeping
    * at most `n` rows, as UnsafeRows of `output`; with the bytes read. */
  private[plans] def run(c: Chain, n: Int, output: Seq[Attribute]): (Array[InternalRow], Long) = {
    val parts = filePartitions(c.scan)
    val read = reader(c.scan)
    val opened = mutable.ArrayBuffer.empty[Iterator[InternalRow]]
    val scanned: Parts = parts.map(_.files.iterator.flatMap { f =>
      val it = read(f); opened += it; it
    })
    val out = InterpretedUnsafeProjection.createProjection(bind(output, output))
    // Spark's aggregation iterator builds its key and result projections
    // itself; under this conf they are interpreted, like every other step
    val interpreted = SQLConf.get.clone()
    interpreted.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
    try SQLConf.withExistingConf(interpreted) {
      (c.ops(scanned).iterator.flatten.take(n).map(r => out(r).copy(): InternalRow).toArray,
        parts.iterator.flatMap(_.files).map(_.length).sum)
    }
    finally opened.foreach { it =>
      // a reader's iterator closes its file at its end; one a limit
      // stopped early is closed here, as a task's completion would
      try it match {
        case c: java.io.Closeable => c.close()
        case _ => while (it.hasNext) it.next()
      } catch { case NonFatal(_) => () }
    }
  }

  /** Spark's parquet reader for the scan, built as the scan builds it but
    * returning rows and with no pushed filters. Building it broadcasts the
    * Hadoop conf, so it is kept in the session registry. It reads no
    * table state when built, so its key is what it is built from: the
    * table's schemas and options and the read schema, with the session's
    * SQL conf as the snapshot, so a conf change is never answered by a
    * reader built under the old one. */
  private[graft] def reader(scan: FileSourceScanExec): PartitionedFile => Iterator[InternalRow] = {
    val rel = scan.relation
    val s = rel.sparkSession
    val name = Seq("driver_reader", rel.fileFormat.getClass.getName, rel.dataSchema.json,
      rel.partitionSchema.json, scan.requiredSchema.json,
      rel.options.toSeq.sorted.mkString(",")).mkString("|")
    val confs = s.sessionState.conf.getAllConfs.toSeq.sorted.mkString("\n")
    graft.SessionMemo.ofSnapshot(s, name, confs) {
      rel.fileFormat.buildReaderWithPartitionValues(s, rel.dataSchema, rel.partitionSchema,
        scan.requiredSchema, Nil, rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        s.sessionState.newHadoopConfWithOptions(rel.options))
    }
  }
}
