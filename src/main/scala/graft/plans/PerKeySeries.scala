package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.PlanFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DateType, DoubleType}

/** A sequential computation over one key's series: the rows of one key,
  * in ascending date order, in; one value per row out.
  *
  * Each input row is `(date, inputs…)`: the date as days since the epoch
  * (never null — rows without a date take no part), then each input
  * column read as a nullable double. The result holds one value per
  * row, `None` for null. Implementations are case classes whose
  * parameters are plain values or `Seq`s, so equal plans canonicalize
  * equal.
  */
trait SeriesKernel extends Serializable {
  def apply(rows: IndexedSeq[InternalRow]): Array[Option[Double]]
}

/** Appends `target`, computed by `kernel` over each key's date-sorted
  * rows, to every row of `child`. The FAME kernels that are sequential
  * per key (`$chain`, nlrx) run as this one operator over the frame they
  * extend, instead of branching the plan into an aggregate or a
  * grouped solve that joins its result back on (keys, date).
  *
  * Its references are only `keys`, `date` and `inputs`, so column
  * pruning keeps exactly those below it. No optimizer rule pushes a
  * filter through an unknown node, and none may: a filter below this
  * node would change a key's series.
  */
case class PerKeySeries(keys: Seq[Attribute], date: Attribute,
    inputs: Seq[Attribute], target: Attribute, kernel: SeriesKernel,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ target
  override def producedAttributes: AttributeSet = AttributeSet(target)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): PerKeySeries = copy(child = newChild)
}

object PerKeySeries {

  /** `df` plus column `target` computed by `kernel` per key. Column
    * names resolve literally (a dotted series name is one column, not
    * struct access); a `target` that already exists is replaced in
    * place, as `withColumn` would.
    */
  def append(df: DataFrame, keys: Seq[String], dateCol: String,
      inputs: Seq[String], target: String, kernel: SeriesKernel)
      : DataFrame = {
    val plan = df.queryExecution.analyzed
    val resolver = SQLConf.get.resolver
    def attr(name: String): Attribute =
      plan.resolve(Seq(name), resolver).collect { case a: Attribute => a }
        .getOrElse(throw new IllegalArgumentException(
          s"no column `$name` among ${plan.output.map(_.name).mkString(", ")}"))
    val value = AttributeReference(target, DoubleType)()
    val node = PerKeySeries(keys.map(attr), attr(dateCol), inputs.map(attr),
      value, kernel, plan)
    // the column leaves through an alias: the analyzer renews a Project's
    // aliases when a plan is joined with itself, but cannot renew an
    // attribute that an unknown node produces
    val named = Alias(value, target)()
    val cols =
      if (!plan.output.exists(a => resolver(a.name, target))) plan.output :+ named
      else plan.output.map(a => if (resolver(a.name, target)) named else a)
    PlanFrame(df.sparkSession, Project(cols, node))
  }
}

/** The physical [[PerKeySeries]]: asks for its child clustered by the
  * keys (one partition when there are none) and sorted by (keys, date),
  * then walks each key's run of rows once. It passes the child's
  * partitioning and ordering through, so the per-key windows above it
  * need no exchange of their own.
  */
case class PerKeySeriesExec(keys: Seq[Attribute], date: Attribute,
    inputs: Seq[Attribute], target: Attribute, kernel: SeriesKernel,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ target
  override def producedAttributes: AttributeSet = AttributeSet(target)

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil else ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keys :+ date).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    // locals, so the task closure does not capture this plan
    val in = child.output
    val keyAttrs = keys
    val tz = Some(conf.sessionLocalTimeZone)
    val kernelInputs =
      (if (date.dataType == DateType) date else Cast(date, DateType, tz)) +:
        inputs.map(a =>
          if (a.dataType == DoubleType) a else Cast(a, DoubleType, tz))
    val outAttrs = output
    val kernel = this.kernel
    child.execute().mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(keyAttrs, in)
      val kernelRow = UnsafeProjection.create(kernelInputs, in)
      val emit = UnsafeProjection.create(outAttrs, outAttrs)
      val value = new GenericInternalRow(1)
      val joined = new JoinedRow
      val src = rows.buffered
      val group = ArrayBuffer.empty[InternalRow]

      // one key's run of rows → the rows with the kernel's column appended
      def runGroup(): Iterator[InternalRow] = {
        group.clear()
        group += src.next().copy()
        val key = keyOf(group.head).copy()
        while (src.hasNext && keyOf(src.head) == key) group += src.next().copy()
        val series = group.map(kernelRow(_).copy())
        val dated = series.indices.filterNot(series(_).isNullAt(0))
        val values = Array.fill[Option[Double]](group.size)(None)
        kernel(dated.map(series)).zip(dated).foreach { case (v, i) => values(i) = v }
        group.indices.iterator.map { i =>
          value.update(0, values(i).getOrElse(null))
          emit(joined(group(i), value))
        }
      }

      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = cur.hasNext || src.hasNext
        override def next(): InternalRow = {
          if (!cur.hasNext) cur = runGroup()
          cur.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PerKeySeriesExec = copy(child = newChild)
}

/** Plans [[PerKeySeries]] as [[PerKeySeriesExec]]; registered by
  * [[GraftExtensions]].
  */
object PerKeySeriesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PerKeySeries(keys, date, inputs, target, kernel, child) =>
      PerKeySeriesExec(keys, date, inputs, target, kernel,
        planLater(child)) :: Nil
    case _ => Nil
  }
}
