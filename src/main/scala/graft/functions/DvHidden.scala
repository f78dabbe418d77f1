package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.unsafe.types.UTF8String

/** Is a scanned row hidden by a deletion vector? `path` is the row's
  * `_metadata.file_path`, `rowIndex` its `_metadata.row_index`, and
  * `index` maps every DV'd file — keyed by its path as
  * [[graft.load.CommittedScan.norm]] spells it — to its hidden rows as
  * run starts and exclusive run ends (sorted, non-overlapping;
  * [[graft.load.DvVector]] normalizes).
  *
  * ONE predicate per relation, whatever the DV'd file count: rows
  * arrive file by file, so a [[DvCursor]] normalizes the input path
  * only when it changes and answers each row with one binary search
  * over that file's runs (Delta applies a file's vector once per file
  * in its reader the same way). The paths ride in the plan as one
  * referenced object, never as literals: the generated code is the same
  * at any file count, and its plan string prints the count only.
  *
  * Deterministic — a pure function of its inputs, so the filter still
  * pushes into the scan. Generated code holds one cursor per
  * partition; interpreted evaluation holds one per thread. Internal to
  * the committed read path, never user-facing. */
case class DvHidden(path: Expression, rowIndex: Expression,
    index: Map[String, (Array[Long], Array[Long])])
    extends BinaryExpression with Predicate {

  override def left: Expression = path
  override def right: Expression = rowIndex
  override def nullable: Boolean = false
  override def prettyName: String = "graft_dv_hidden"
  override def toString: String =
    s"graft_dv_hidden($path, $rowIndex, files=${index.size})"

  @transient private lazy val cursors =
    ThreadLocal.withInitial[DvCursor](() => new DvCursor(index))

  override def eval(input: InternalRow): Any = {
    val p = path.eval(input)
    val ri = rowIndex.eval(input)
    p != null && ri != null &&
      cursors.get().hidden(p.asInstanceOf[UTF8String], ri.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("dvIndex", index,
      "scala.collection.immutable.Map")
    val cursor = ctx.addMutableState("graft.functions.DvCursor", "dvCursor",
      v => s"$v = new graft.functions.DvCursor($idx);", forceInline = true)
    val p = path.genCode(ctx)
    val ri = rowIndex.genCode(ctx)
    ev.copy(code = code"""
      |${p.code}
      |${ri.code}
      |boolean ${ev.value} = !${p.isNull} && !${ri.isNull} &&
      |  $cursor.hidden(${p.value}, ${ri.value});
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvHidden =
    copy(path = newLeft, rowIndex = newRight)
}

/** [[DvHidden]]'s lookup state: the runs of the file the previous row
  * came from. Not thread-safe — one per partition or thread. */
final class DvCursor(index: Map[String, (Array[Long], Array[Long])]) {
  private[this] var last: UTF8String = null
  private[this] var starts: Array[Long] = null
  private[this] var ends: Array[Long] = null

  def hidden(path: UTF8String, ri: Long): Boolean = {
    if (last == null || !last.equals(path)) {
      // the scan may reuse the string's buffer for the next file
      last = path.clone()
      index.get(graft.load.CommittedScan.norm(path.toString)) match {
        case Some((s, e)) => starts = s; ends = e
        case None => starts = null; ends = null
      }
    }
    starts != null && DvHidden.containsRun(starts, ends, ri)
  }
}

object DvHidden {
  /** The rows a full scan of `files` returns: each file's recorded
    * footer row count (`rows`) less the rows its deletion-vector runs
    * (`runs`) hide — what [[DvHidden]] leaves of each file. `None` when
    * any file has no recorded count. The one live-row arithmetic:
    * `describeWarehouse` and [[graft.plans.MetadataOnlyCount]] both
    * count through it. */
  def liveRows[F](files: Iterator[F], rows: F => Option[Long],
      runs: F => Option[(Array[Long], Array[Long])]): Option[Long] = {
    var n = 0L
    while (files.hasNext) {
      val f = files.next()
      val r = rows(f).getOrElse(return None)
      n += r
      runs(f).foreach { case (starts, ends) =>
        var i = 0
        while (i < starts.length) {
          n -= math.max(0L, math.min(ends(i), r) - math.max(starts(i), 0L))
          i += 1
        }
      }
    }
    Some(n)
  }

  /** Binary search: any i with starts(i) <= v < ends(i)? */
  def containsRun(starts: Array[Long], ends: Array[Long],
                  v: Long): Boolean = {
    var lo = 0
    var hi = starts.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (v < starts(mid)) hi = mid - 1
      else if (v >= ends(mid)) lo = mid + 1
      else return true
    }
    false
  }
}
