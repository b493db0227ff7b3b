package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** A stored IVF search's probe set, ranked on the driver: per probed
  * cell, the queries that probe it, as one array of `element` structs
  * (the query's id and scored vector). A lookup is one binary search
  * over the sorted cell ids and returns a shared array, so a scanned row
  * pays no allocation for its probing queries.
  *
  * Equality and hash are those of `digest` (a SHA-256 of the queries'
  * rows and probed cells), never of the rows: a plan compares and hashes
  * its expressions during optimization, and the string form stays
  * compact, so a plan the SQL UI retains holds no query vector. */
final class ProbeTable private (val digest: String, val element: StructType,
    queries: Int, cells: Array[Long], probes: Array[ArrayData])
    extends Serializable {

  /** The probing queries of cell `cent`; empty for an unprobed cell. */
  def lookup(cent: Long): ArrayData = {
    val i = java.util.Arrays.binarySearch(cells, cent)
    if (i >= 0) probes(i) else none
  }

  /** No probing query: the lookup of a null cell. */
  def none: ArrayData = ProbeTable.Empty

  override def equals(o: Any): Boolean = o match {
    case t: ProbeTable =>
      (t eq this) || (t.digest == digest && t.element == element)
    case _ => false
  }

  override def hashCode: Int = digest.hashCode

  override def toString: String =
    s"probes[$queries queries, ${cells.length} cells]"
}

object ProbeTable {
  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** The table of `queries`: each query's row (of type `element`) with
    * the cells it probes. */
  def apply(element: StructType,
      queries: Seq[(UnsafeRow, Seq[Long])]): ProbeTable = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val byCell = scala.collection.mutable.TreeMap.empty[Long,
      scala.collection.mutable.ArrayBuffer[Any]]
    for ((row, cells) <- queries) {
      md.update(row.getBytes)
      val bb = java.nio.ByteBuffer.allocate(8 * (cells.length + 1))
      bb.putLong(cells.length.toLong)
      cells.foreach { c =>
        bb.putLong(c)
        byCell.getOrElseUpdate(c,
          scala.collection.mutable.ArrayBuffer.empty[Any]) += row
      }
      md.update(bb.array)
    }
    val digest = md.digest().map("%02x".format(_)).mkString
    new ProbeTable(digest, element, queries.length, byCell.keys.toArray,
      byCell.values.map(qs => new GenericArrayData(qs.toArray): ArrayData)
        .toArray)
  }
}

/** `probe_lookup(cent_id)`: the queries of `table` that probe the row's
  * cell, as an array of structs for `explode` — the probe side of a
  * stored IVF search without a join or a broadcast exchange. A null cell
  * is probed by no query.
  *
  * The table rides the generated class as a reference object
  * (`ctx.addReferenceObj`), so the generated code is the same text for
  * every query set: a search with new query vectors hits the codegen
  * cache instead of compiling new classes. */
case class ProbeLookupExpr(child: Expression, table: ProbeTable)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(table.element, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "probe_lookup"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"probe_lookup expects bigint, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val c = child.eval(input)
    if (c == null) table.none else table.lookup(c.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("probes", table, classOf[ProbeTable].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} =
      |  ${c.isNull} ? $t.none() : $t.lookup(${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): ProbeLookupExpr =
    copy(child = c)
}

object ProbeLookupExpr {
  /** Column-API entry point: the probing queries of a bigint cell id. */
  def probe_lookup(cent: Column, table: ProbeTable): Column =
    ColumnBridge.column(ProbeLookupExpr(ColumnBridge.expression(cent), table))
}
