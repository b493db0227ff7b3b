package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}

/** A merge-on-read delete set's id → newest-delete-version table, built
  * on the driver: sorted ids and, per id, the version of the newest entry
  * that deletes it. A probe is one binary search.
  *
  * Equality and hash are those of `key` (the entries the table was built
  * from), never of the arrays: a plan compares and hashes its expressions
  * during optimization, and a delete set can hold many thousand ids. */
final class DeleteTable private (val key: Seq[String],
    ids: Array[Long], versions: Array[Long]) extends Serializable {

  private val keyHash = key.hashCode

  /** True iff `id` has a delete entry newer than `dataVersion`. */
  def newerThan(id: Long, dataVersion: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(ids, id)
    i >= 0 && versions(i) > dataVersion
  }

  override def equals(o: Any): Boolean = o match {
    case t: DeleteTable =>
      (t eq this) || (t.keyHash == keyHash && t.key == key)
    case _ => false
  }

  override def hashCode: Int = keyHash

  override def toString: String = s"deletes[${ids.length} ids]"
}

object DeleteTable {
  def apply(key: Seq[String],
      newest: scala.collection.Map[Long, Long]): DeleteTable = {
    val ids = newest.keys.toArray
    java.util.Arrays.sort(ids)
    new DeleteTable(key, ids, ids.map(newest))
  }
}

/** `newer_delete(id, dataVersion)`, both bigint: does `table` delete `id`
  * in a version newer than the row's data version? The equality-delete
  * sequence rule (Iceberg v2) as ONE comparison per row, for every data
  * dir of a read at once.
  *
  * The table rides the generated class as a reference object
  * (`ctx.addReferenceObj`), so the generated code is the same text for
  * every version and delete set: a read of a freshly published version
  * hits the codegen cache instead of compiling new classes. A null id is
  * never deleted. */
case class NewerDeleteExpr(left: Expression, right: Expression,
    table: DeleteTable)
    extends BinaryExpression with Predicate {

  override def nullable: Boolean = false
  override def prettyName: String = "newer_delete"

  override def eval(input: InternalRow): Any = {
    val id = left.eval(input)
    val dv = right.eval(input)
    id != null && dv != null &&
      table.newerThan(id.asInstanceOf[Long], dv.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("deletes", table,
      classOf[DeleteTable].getName)
    val id = left.genCode(ctx)
    val dv = right.genCode(ctx)
    ev.copy(code = code"""
      |${id.code}
      |${dv.code}
      |boolean ${ev.value} = !${id.isNull} && !${dv.isNull} &&
      |  $t.newerThan(${id.value}, ${dv.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NewerDeleteExpr =
    copy(left = newLeft, right = newRight)
}
