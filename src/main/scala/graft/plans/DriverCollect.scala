package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, IntegerLiteral, InterpretedUnsafeProjection, NamedExpression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{CollectLimitExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, PartitionedFileUtil, ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Planner strategy: a query root that only projects, filters and limits
  * one parquet table plans as [[DriverCollectExec]] over the plan Spark
  * itself builds for it, so a small read can answer without a Spark job.
  *
  * It matches `ReturnAnswer` (the root a `collect` plans) over an optional
  * `Limit n` over Project and Filter nodes on a non-streaming parquet
  * `HadoopFsRelation`, every expression deterministic and free of
  * subqueries. The `Limit n` becomes `CollectLimitExec(n, planLater(child))`
  * under the new node, exactly as Spark's `SpecialLimits` builds it; any
  * other root is `planLater(root)`. (The optimizer pushes a projection
  * below a limit, so `df.limit(n).select(…)` has this shape too.)
  * Everything below the new root is Spark's own plan, pushed and
  * partition filters included, and it is what runs whenever the driver
  * path does not apply. ORDER BY roots (an exchange and AQE) and
  * aggregates are left to Spark.
  *
  * Installed by [[GraftExtensions]] and, for a session built without it,
  * by `GraftSession.prepare` as an extra strategy (the hook Pathling's
  * `SqlStrategy.setup` uses). */
object DriverCollect extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(n), child)) if readsOneParquetTable(child) =>
      DriverCollectExec(CollectLimitExec(n, planLater(child))) :: Nil
    case ReturnAnswer(root) if readsOneParquetTable(root) =>
      DriverCollectExec(planLater(root)) :: Nil
    case _ => Nil
  }

  private def plain(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[SubqueryExpression])

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
  * `spark.sql.files.openCostInBytes` — Spark's own measure of the bytes one
  * file open is worth, so no new setting — the node reads them here with
  * Spark's parquet reader and evaluates the child's filters, projections
  * and limits over the rows, interpreted (no codegen compile), bound as
  * the child binds them. Files are read in the order Spark's scan packs
  * them (largest first, listing order among equals; Spark splits no file
  * within the budget), so the rows and their order are the ones the child
  * returns under the same conf, LIMIT included. The reader is built once
  * per (table schemas and options, read schema, session conf) in the
  * session registry, without pushed filters: every data filter also stands
  * in the `FilterExec` the node evaluates. (Spark's parquet dictionary
  * filter drops a page of -0.0 values under `d = 0.0`; evaluated alone,
  * the condition keeps them, as SQL says.)
  *
  * The child runs instead when its shape is not that chain over one file
  * scan, the files exceed the budget, or the driver read fails (so errors
  * surface exactly as Spark's path raises them). */
case class DriverCollectExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    driverRows(Int.MaxValue).getOrElse(child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    driverRows(n).getOrElse(child.executeTake(n))

  override protected def withNewChildInternal(newChild: SparkPlan): DriverCollectExec =
    copy(child = newChild)

  /** The child's: the node returns what its child returns. Spark plans
    * some plans of its own (a pruning filter's build side, a subquery)
    * through the same query root and matches them against the plans they
    * reuse by their canonical form. */
  override protected def doCanonicalize(): SparkPlan = child.canonicalized

  /** At most `n` result rows read on the driver, or None to run the child. */
  private def driverRows(n: Int): Option[Array[InternalRow]] =
    DriverCollectExec.chain(child).flatMap { case (steps, scan) =>
      val budget = math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
      if (scan.selectedPartitions.totalFileSize > budget) None
      else try Some(DriverCollectExec.run(steps, scan, n, output))
      catch { case NonFatal(_) => None }
    }
}

object DriverCollectExec {

  /** One operator of the chain, applied to the rows of its input. */
  private sealed trait Step
  private final case class FilterStep(cond: Expression, input: Seq[Attribute]) extends Step
  private final case class ProjectStep(list: Seq[NamedExpression], input: Seq[Attribute])
      extends Step
  private final case class LimitStep(n: Int) extends Step

  /** The child's operators top-down and the file scan under them, if the
    * child is an optional CollectLimit over Project/Filter over one
    * parquet scan whose output is its read schema plus the table's
    * partition columns. */
  private def chain(p: SparkPlan): Option[(List[Step], FileSourceScanExec)] = {
    def on(step: Step, c: SparkPlan) = chain(c).map { case (s, f) => (step :: s, f) }
    p match {
      case CollectLimitExec(n, c, 0) if n >= 0 => on(LimitStep(n), c)
      case ProjectExec(list, c) => on(ProjectStep(list, c.output), c)
      case FilterExec(cond, c) => on(FilterStep(cond, c.output), c)
      case WholeStageCodegenExec(c) => chain(c)
      case InputAdapter(c) => chain(c)
      case ColumnarToRowExec(c) => chain(c)
      case f: FileSourceScanExec
          if f.stream.isEmpty && !f.bucketedScan && f.optionalBucketSet.isEmpty &&
            f.relation.fileFormat.isInstanceOf[ParquetFileFormat] &&
            f.output.map(_.name) ==
              (f.requiredSchema.fieldNames ++ f.relation.partitionSchema.fieldNames).toSeq =>
        Some((Nil, f))
      case _ => None
    }
  }

  /** Read the scan's files on the driver and apply `steps`, keeping at
    * most `n` rows, as UnsafeRows of `output`. */
  private def run(steps: List[Step], scan: FileSourceScanExec, n: Int,
      output: Seq[Attribute]): Array[InternalRow] = {
    val files = scan.selectedPartitions.filePartitionIterator.flatMap { p =>
      p.files.map(f =>
        PartitionedFileUtil.getPartitionedFile(f, f.getPath, p.values, 0, f.getLen))
    }.toArray.sortBy(_.length)(Ordering[Long].reverse)
    val read = reader(scan)
    val opened = scala.collection.mutable.ArrayBuffer.empty[Iterator[InternalRow]]
    val rows = files.iterator.flatMap { f => val it = read(f); opened += it; it }
    val applied = steps.foldRight(rows) {
      case (FilterStep(cond, in), it) =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(cond, in))
        p.initialize(0)
        it.filter(p.eval)
      case (ProjectStep(list, in), it) =>
        it.map(InterpretedUnsafeProjection.createProjection(
          list.map(e => BindReferences.bindReference(e: Expression, in))))
      case (LimitStep(k), it) => it.take(k)
    }
    val out = InterpretedUnsafeProjection.createProjection(
      output.map(a => BindReferences.bindReference(a: Expression, output)))
    try applied.take(n).map(r => out(r).copy(): InternalRow).toArray
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
