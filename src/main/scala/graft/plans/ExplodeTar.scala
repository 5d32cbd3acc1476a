package graft.plans

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.types.StructType

import graft.io.TgzSource
import graft.model.Schemas

/** SQL-surface form of the S4 tar explode (SURVEY §2.8: "the one true
  * UDTF"): a Catalyst [[Generator]] so `.tgz` archives can be exploded from
  * pure SQL —
  *
  * {{{
  *   SELECT name, size FROM bin
  *   LATERAL VIEW explode_tar(path, content) t
  * }}}
  *
  * Its elements are [[Schemas.tarEntrySchema]] without `archive` (the
  * caller already holds the path), decoded lazily from the payload bytes
  * by [[TgzSource.rows]], the decoder the `tgz` source scans with. The
  * DataFrame path ([[TgzSource.entries]], a `tgz` source scan) remains the
  * primary API; [[TgzSource.explodeEntries]] is this generator over
  * streaming `binaryFile` batches. `CodegenFallback` is fine here — tar
  * decode is I/O-bound; the generated rows still feed
  * whole-stage-codegen'd consumers.
  */
case class ExplodeTar(path: Expression, content: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(path, content)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExplodeTar =
    copy(path = newChildren(0), content = newChildren(1))

  override def elementSchema: StructType = ExplodeTar.Elements

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val p = path.eval(input)
    val bytes = content.eval(input)
    if (p == null || bytes == null) Iterator.empty
    else TgzSource.rows(p.toString,
      new ByteArrayInputStream(bytes.asInstanceOf[Array[Byte]]), elementSchema)
  }

  override def prettyName: String = "explode_tar"
}

object ExplodeTar {

  /** [[Schemas.tarEntrySchema]] less `archive`. */
  val Elements: StructType = StructType(Schemas.tarEntrySchema.filterNot(_.name == "archive"))
}
