package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.io.TgzSource

/** SQL-surface form of the S4 tar explode (SURVEY §2.8: "the one true
  * UDTF"): a Catalyst [[Generator]] so `.tgz` archives can be exploded from
  * pure SQL —
  *
  * {{{
  *   SELECT name, size FROM bin
  *   LATERAL VIEW explode_tar(path, content) t
  * }}}
  *
  * The DataFrame path ([[TgzSource.entries]], a `tgz` source scan) remains the
  * primary API; this Generator shares its streaming reader, so entries are
  * decoded lazily per row group, never materialized per archive.
  * `CodegenFallback` is fine here — tar decode is I/O-bound; the generated
  * rows still feed whole-stage-codegen'd consumers.
  */
case class ExplodeTar(path: Expression, content: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(path, content)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExplodeTar =
    copy(path = newChildren(0), content = newChildren(1))

  override def elementSchema: StructType = StructType(Seq(
    StructField("ordinal", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("mode", LongType, nullable = false),
    StructField("modTime", TimestampType),
    StructField("typeflag", StringType, nullable = false),
    StructField("content", BinaryType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val p = path.eval(input)
    val bytes = content.eval(input)
    if (p == null || bytes == null) Iterator.empty
    else TgzSource.readTgz(p.asInstanceOf[UTF8String].toString,
      bytes.asInstanceOf[Array[Byte]]).map { e =>
      InternalRow(e.ordinal, UTF8String.fromString(e.name), e.size, e.mode,
        DateTimeUtils.fromJavaTimestamp(e.modTime),
        UTF8String.fromString(e.typeflag), e.content)
    }
  }

  override def prettyName: String = "explode_tar"
}
