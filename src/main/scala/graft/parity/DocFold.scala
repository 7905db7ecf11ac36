package graft.parity

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, GenericInternalRow, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{PartitioningPreservingUnaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import FarmPipeline.RecordRow

/** Record assembly as one logical node: lines in, [[RecordRow]]s out,
  * each `(doc, page, side)` column folded by [[RecordFold.foldColumn]].
  * `input` is the child's `doc, seq, text, page, top, left, side`, in
  * that order; `output` is the child's `doc` followed by the attributes
  * the fold produces (`page, side, idx, name, numbers, pageLine`).
  * Planned by [[DocFoldStrategy]], which `GraftExtensions` injects. */
case class DocFold(input: Seq[Attribute], output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output.tail)
  override protected def withNewChildInternal(newChild: LogicalPlan): DocFold =
    copy(child = newChild)
}

object DocFold {

  /** The columns the fold reads, in `input` order, with their types. */
  private val lineColumns: Seq[(String, DataType)] = Seq(
    "doc" -> StringType, "seq" -> LongType, "text" -> StringType,
    "page" -> IntegerType, "top" -> DoubleType, "left" -> DoubleType,
    "side" -> IntegerType)

  /** Lines → records. Fails at once in a session without
    * `GraftExtensions`, which has no plan for the node, and on a line
    * column of another type. */
  def records(lines: DataFrame): Dataset[RecordRow] = {
    val spark = lines.sparkSession
    requirePlanner(spark)
    val typed = lines.select(lineColumns.map(c => col(c._1)): _*)
    for ((f, (name, t)) <- typed.schema.fields.toSeq.zip(lineColumns) if f.dataType != t)
      throw new IllegalArgumentException(
        s"record assembly needs column $name as ${t.simpleString}, got ${f.dataType.simpleString}")
    val child = PlanBridge.logicalPlan(typed)
    val enc = Encoders.product[RecordRow]
    val produced = DataTypeUtils.toAttributes(enc.schema).tail
    PlanBridge.dataset(spark, DocFold(child.output, child.output.head +: produced, child))(enc)
  }

  private def requirePlanner(spark: SparkSession): Unit =
    if (!PlanBridge.strategies(spark).contains(DocFoldStrategy))
      throw new IllegalStateException("record assembly plans through DocFoldStrategy, " +
        "which this session lacks: build it with graft.functions.GraftExtensions " +
        "(GraftSession.create does)")
}

/** Plans [[DocFold]] as [[DocFoldExec]] (the planner-strategy route for
  * an extension's own logical node). */
object DocFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DocFold(input, output, child) => DocFoldExec(input, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** The fold over whole documents: the child is clustered by `doc` and
  * sorted by `(doc, page, side)` within each partition (Spark's
  * `EnsureRequirements` adds the one exchange and the sort), so each
  * `(doc, page, side)` column arrives as one run of rows. Each run goes
  * straight into [[RecordFold.foldColumn]], and its records leave in
  * fold order as `idx` 0, 1, …, through an `UnsafeProjection`.
  *
  * `doc` passes through, so the output keeps the child's partitioning;
  * it is sorted by `(doc, page, side, idx)`. A sink that clusters by
  * `doc` and sorts by those keys (`FarmPipeline.writeCsv`) therefore
  * plans no exchange and no sort of its own. Fold state is one column. */
case class DocFoldExec(input: Seq[Attribute], output: Seq[Attribute], child: SparkPlan)
    extends PartitioningPreservingUnaryExecNode {

  override protected def outputExpressions: Seq[NamedExpression] = output.take(1)
  override def producedAttributes: AttributeSet = AttributeSet(output.tail)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(input.take(1)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(input(0), input(3), input(6)).map(SortOrder(_, Ascending)))
  override def outputOrdering: Seq[SortOrder] =
    output.take(4).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val ord = input.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    // Ordinals of the primitive inputs that may hold a null.
    val nullable = Seq(1, 3, 4, 5, 6).filter(i => input(i).nullable).map(ord).toArray
    val types = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      new DocFoldExec.Runs(rows, ord, nullable, UnsafeProjection.create(types))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DocFoldExec =
    copy(child = newChild)
}

object DocFoldExec {

  /** Records of each run of equal `(doc, page, side)` in `rows`. */
  final class Runs(rows: Iterator[InternalRow], ord: Array[Int], nullable: Array[Int],
                   project: UnsafeProjection) extends Iterator[InternalRow] {
    private var out: Iterator[InternalRow] = Iterator.empty
    // Key of the run `first` opens. `doc` is copied: the sorter reuses
    // the memory of the row it returned last.
    private var doc: UTF8String = _
    private var page = 0
    private var side = 0
    private var first: RecordFold.Line = if (rows.hasNext) open(rows.next()) else null

    private def line(r: InternalRow): RecordFold.Line = {
      var i = 0
      while (i < nullable.length) {
        if (r.isNullAt(nullable(i)))
          throw new IllegalArgumentException("record assembly: a line has a null seq, page, top, left or side")
        i += 1
      }
      val text = r.getUTF8String(ord(2))
      RecordFold.Line(if (text == null) null else text.toString, r.getInt(ord(3)),
        r.getDouble(ord(4)), r.getDouble(ord(5)), r.getLong(ord(1)))
    }

    private def open(r: InternalRow): RecordFold.Line = {
      doc = if (r.isNullAt(ord(0))) null else r.getUTF8String(ord(0)).clone()
      page = r.getInt(ord(3))
      side = r.getInt(ord(6))
      line(r)
    }

    private def inRun(r: InternalRow): Boolean =
      r.getInt(ord(3)) == page && r.getInt(ord(6)) == side &&
        (if (r.isNullAt(ord(0))) doc == null else doc != null && doc == r.getUTF8String(ord(0)))

    private def foldRun(): Iterator[InternalRow] = {
      val (runDoc, runPage, runSide) = (doc, page, side)
      val lines = ArrayBuffer(first)
      first = null
      while (first == null && rows.hasNext) {
        val r = rows.next()
        if (inRun(r)) lines += line(r) else first = open(r)
      }
      RecordFold.foldColumn(lines.toSeq).iterator.zipWithIndex.map { case (rec, idx) =>
        project(new GenericInternalRow(Array[Any](runDoc, runPage, runSide, idx,
          UTF8String.fromString(rec.name),
          new GenericArrayData(rec.numbers.map(UTF8String.fromString).toArray[Any]),
          rec.pageLine)))
      }
    }

    override def hasNext: Boolean = {
      while (!out.hasNext && first != null) out = foldRun()
      out.hasNext
    }

    override def next(): InternalRow =
      if (hasNext) out.next() else Iterator.empty.next()
  }
}
