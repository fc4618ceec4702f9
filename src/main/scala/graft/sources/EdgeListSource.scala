package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Reader for the reference's edge-list text format
  * (`Graph.py:4-8` in Riachi02/BFS-MapReduce; Presentazione.pdf slide
  * 24): one undirected edge per line, whitespace-separated integer
  * vertex ids, e.g. `"0 5"`.
  *
  * Spark-first: `spark.read.text` (splittable, distributed scan) + one
  * codegen'd byte-level line parser ([[EdgeLineExpr]]) — no
  * driver-side parsing, no regex, one pass over each line. Blank and
  * malformed lines are dropped rather than crashing the scan, so a
  * 100 TB ingest doesn't die on one bad record.
  */
object EdgeListSource {

  /** @return DataFrame(src LONG, dst LONG) — directed as written; apply
    *         `GraphOps.symmetrize` for the reference's undirected
    *         semantics. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).select(ColumnBridge.column(
      EdgeLineExpr(ColumnBridge.expression(col("value")))))
}

/** `edge_line(line)` — a 0/1-row generator yielding the line's
  * `(src, dst)`, or no row when the line is dropped.
  *
  * Exactly the rows of the former composable chain: drop blank lines,
  * `trim`, regex-split on `\\s+`, `try_cast` tokens 1 and 2 to long,
  * drop the line when either is null. In detail:
  *   - `trim` strips ASCII spaces (0x20) only;
  *   - tokens are split on runs of `[ \t\n\x0B\f\r]` — Java's `\s`
  *     without the UNICODE flag, all single UTF-8 bytes — and a
  *     leading empty token is kept (a line opening with a tab has an
  *     empty `src`, so it is dropped);
  *   - tokens 1 and 2 become longs through `UTF8String.toLongExact`,
  *     the routine `try_cast(string AS long)` runs (Cast's ANSI/TRY
  *     path via `UTF8StringUtils.toLongExact`); its failure is a
  *     dropped line. Tokens of 1–18 ASCII digits, which cannot
  *     overflow, take an allocation-free fast path instead;
  *   - blank lines, one-token lines and uncastable tokens give no row.
  *
  * A generator rather than a nullable struct plus a filter: Catalyst
  * pushes a filter through the projection that defines its column, so
  * the struct form would parse every line twice. `EdgeListSourceSpec`
  * keeps the old chain as a differential oracle.
  */
case class EdgeLineExpr(child: Expression) extends UnaryExpression with Generator {

  override def elementSchema: StructType = EdgeLineExpr.Schema
  override def prettyName: String = "edge_line"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    new EdgeLineRows().of(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rowsClass = classOf[EdgeLineRows].getName
    val rows = ctx.addMutableState(rowsClass, "edgeLineRows",
      v => s"$v = new $rowsClass();")
    val line = child.genCode(ctx)
    ev.copy(code =
      code"""
         |${line.code}
         |scala.collection.Iterator<InternalRow> ${ev.value} =
         |  $rows.of(${line.isNull} ? null : ${line.value});
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EdgeLineExpr {

  val Schema: StructType = new StructType()
    .add("src", LongType, nullable = false)
    .add("dst", LongType, nullable = false)

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Writes the line's (src, dst) into ordinals 0 and 1 of `out`;
    * false when the line is dropped. One scan of the line's bytes. */
  def parse(line: UTF8String, out: InternalRow): Boolean = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    var from = 0
    var until = line.numBytes
    while (from < until && Platform.getByte(base, off + from) == ' ') from += 1
    while (until > from && Platform.getByte(base, off + until - 1) == ' ') until -= 1
    if (from == until) return false
    var i = from
    while (i < until && !isSpace(Platform.getByte(base, off + i))) i += 1
    if (i == until) return false
    val srcEnd = i
    while (i < until && isSpace(Platform.getByte(base, off + i))) i += 1
    val dstStart = i
    while (i < until && !isSpace(Platform.getByte(base, off + i))) i += 1
    token(base, off, from, srcEnd, out, 0) &&
      token(base, off, dstStart, i, out, 1)
  }

  private def token(base: AnyRef, off: Long, from: Int, until: Int,
                    out: InternalRow, ordinal: Int): Boolean = {
    var digits = until > from && until - from <= 18
    var v = 0L
    var i = from
    while (digits && i < until) {
      val d = Platform.getByte(base, off + i) - '0'
      if (d < 0 || d > 9) digits = false else v = v * 10 + d
      i += 1
    }
    if (digits) { out.setLong(ordinal, v); true }
    else if (until == from) false
    else try {
      out.setLong(ordinal,
        UTF8String.fromAddress(base, off + from, until - from).toLongExact())
      true
    } catch { case _: NumberFormatException => false }
  }
}

/** A parsed line as a 0/1-element iterator over one output row. The
  * generated loop keeps one per task and reuses it, so parsing a line
  * allocates nothing — safe because GenerateExec's loop reads the row
  * before it asks for the next line; the interpreted `eval` takes a
  * fresh one per line. */
final class EdgeLineRows extends scala.collection.AbstractIterator[InternalRow] {
  private val row = new SpecificInternalRow(EdgeLineExpr.Schema)
  private var ready = false

  def of(line: UTF8String): Iterator[InternalRow] = {
    ready = line != null && EdgeLineExpr.parse(line, row)
    this
  }

  override def hasNext: Boolean = ready
  override def next(): InternalRow = { ready = false; row }
}
