package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Hash-aggregable mode-argmax over two LONG columns: the `lab` of the
  * row with the lexicographically greatest (cnt, -lab) — i.e. the
  * highest count, smallest label on ties. Value-identical to
  * `max_by(lab, struct(cnt, -lab))` for non-null inputs, but that form's
  * struct-typed aggregation buffer is not UnsafeRow-mutable, so Spark
  * plans the whole aggregate as a SortAggregate — a full sort of the
  * (node, label) table per LPA round (q258). Flattening the buffer into
  * two primitive long slots keeps the same one-pass argmax semantics
  * and makes the operator HashAggregate-eligible (r21 optimization,
  * guide §1.2 — per-round sort removed at any scale).
  *
  * The packed-long encoding rejected in r20 (cnt << 32 | label) is NOT
  * used: labels stay full 64-bit, so ids >= 2^31 are safe.
  *
  * Null handling (defensive only — q258 feeds count(*) and join keys,
  * both non-null): a row with a null cnt OR a null lab never updates
  * the buffer, so bestLab is never null beside a set bestCnt (a null
  * label there would lose every later equal-count tie-break, since
  * `lab < null` is null); an empty partial (null buffer) never wins a
  * merge; a group with no such row evaluates to null, as max_by does
  * on an empty group. Unlike max_by, a null-labelled row at the top
  * count is skipped rather than returned.
  */
case class ArgMaxCountMinLabel(lab: Expression, cnt: Expression)
    extends DeclarativeAggregate {
  override def children: Seq[Expression] = Seq(lab, cnt)
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "argmax_count_min_label"

  override def checkInputDataTypes(): TypeCheckResult =
    if (lab.dataType == LongType && cnt.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        s"(${lab.dataType.sql}, ${cnt.dataType.sql})")

  private lazy val bestCnt = AttributeReference("bestCnt", LongType)()
  private lazy val bestLab = AttributeReference("bestLab", LongType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bestCnt, bestLab)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, LongType), Literal.create(null, LongType))
  override lazy val updateExpressions: Seq[Expression] = {
    val better = Or(IsNull(bestCnt),
      Or(GreaterThan(cnt, bestCnt),
        And(EqualTo(cnt, bestCnt), LessThan(lab, bestLab))))
    val take = And(And(IsNotNull(cnt), IsNotNull(lab)), better)
    Seq(If(take, cnt, bestCnt), If(take, lab, bestLab))
  }
  override lazy val mergeExpressions: Seq[Expression] = {
    val better = Or(IsNull(bestCnt.left),
      Or(GreaterThan(bestCnt.right, bestCnt.left),
        And(EqualTo(bestCnt.right, bestCnt.left),
          LessThan(bestLab.right, bestLab.left))))
    val take = And(
      And(IsNotNull(bestCnt.right), IsNotNull(bestLab.right)), better)
    Seq(If(take, bestCnt.right, bestCnt.left),
      If(take, bestLab.right, bestLab.left))
  }
  override lazy val evaluateExpression: Expression = bestLab
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgMaxCountMinLabel =
    copy(lab = newChildren(0), cnt = newChildren(1))
}

object ArgMaxLong {
  /** Column wrapper: argmax_count_min_label(lab, cnt). */
  def argmaxCountMinLabel(lab: Column, cnt: Column): Column =
    ColumnBridge.column(ArgMaxCountMinLabel(
      ColumnBridge.expression(lab),
      ColumnBridge.expression(cnt)).toAggregateExpression())
}
