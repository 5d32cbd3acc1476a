package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The BPE apply side at model scale: tokenize a word under a LEARNED
  * merge list carried in the expression (rank order), executed as one
  * static call inside whole-stage codegen.
  *
  * The earlier apply inlined each merge as a literal
  * `replace("(x)(y)","(xy)")` expression node — an O(#merges)-deep
  * expression chain that blows codegen limits around a few hundred merges,
  * while real tokenizers carry 32k. Here the merge table rides ONCE as a
  * reference object (Spark ships it inside the serialized task binary —
  * the broadcast-dictionary shape), the per-word loop runs executor-side
  * in [[BpeApply.countTokens]], and the plan stays scan → project with
  * expression depth O(1) regardless of merge count.
  */
object BpeFunctions {

  /** `bpe_word_tokens(word)` — the number of BPE tokens `word` segments
    * into under `merges` (in rank order). Value-identical to replaying
    * the literal replace chain over the `(a)(b)(c)` state.
    */
  def bpe_word_tokens(w: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.bridge.{column, expression}
    column(BpeWordTokens(expression(w), merges))
  }
}

/** The compiled merge list: parallel arrays (x, y, xy) in rank order. The
  * concatenated form `xy` powers the skip test in the hot loop — symbol
  * concatenation is invariant under merging (boundaries move, characters
  * don't), so a word that doesn't CONTAIN `xy` cannot hold the pair
  * `(x)(y)` adjacent in any segmentation state, and most of a 32k-merge
  * table is skipped per word by a substring probe.
  */
final class CompiledMerges(val xs: Array[String], val ys: Array[String],
                           val xys: Array[String]) extends Serializable

object CompiledMerges {
  def apply(merges: Seq[(String, String)]): CompiledMerges =
    new CompiledMerges(merges.map(_._1).toArray, merges.map(_._2).toArray,
      merges.map(m => m._1 + m._2).toArray)
}

object BpeApply {

  /** Per-thread word → token-count memo, keyed on the merge-table
    * instance: within a task every row shares one [[CompiledMerges]], and
    * a corpus has vastly more word OCCURRENCES than distinct words, so
    * the merge loop runs once per distinct word per task. Capped so a
    * pathological key space (one giant doc of unique words) can't grow
    * the memo unboundedly.
    */
  private val MemoCap = 1 << 20
  // keyed by merge-table IDENTITY so a projection evaluating several
  // bpe_word_tokens expressions with DIFFERENT tables (e.g. comparing two
  // vocabularies) memoizes each independently — the previous last-used
  // single entry was rebuilt per row in that shape, and worse, registered
  // a completion listener per rebuild (O(rows) listeners per task,
  // ADVICE r10). The listener now registers exactly once per task, when
  // the outer map is created.
  private val memo = new ThreadLocal[java.util.IdentityHashMap[
    CompiledMerges, java.util.HashMap[String, java.lang.Long]]]()

  /** Tokenize `word` under the merges in rank order (each application is
    * one greedy left-to-right non-overlapping pass — exactly the literal
    * `(x)(y)→(xy)` replace) and return the surviving symbol count.
    */
  def countTokens(word: UTF8String, m: CompiledMerges): Long = {
    val w = word.toString
    var tables = memo.get()
    if (tables == null) {
      tables = new java.util.IdentityHashMap[
        CompiledMerges, java.util.HashMap[String, java.lang.Long]]()
      memo.set(tables)
      // release with the task: a long-lived executor thread pool must not
      // pin up-to-MemoCap word strings after the BPE query finishes
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => memo.remove())
    }
    var words = tables.get(m)
    if (words == null) {
      words = new java.util.HashMap[String, java.lang.Long]()
      tables.put(m, words)
    }
    val cached = words.get(w)
    if (cached != null) return cached.longValue()
    var syms = graft.ops.Bpe.codePointSymbols(w)
    var r = 0
    while (r < m.xs.length && syms.length >= 2) {
      // the substring probe is on the ORIGINAL word — sound because the
      // concatenation of symbols never changes
      if (w.contains(m.xys(r))) syms = graft.ops.Bpe.mergePass(syms, m.xs(r), m.ys(r))
      r += 1
    }
    val n = syms.length.toLong
    if (words.size < MemoCap) words.put(w, java.lang.Long.valueOf(n))
    n
  }
}

/** `bpe_word_tokens(word) -> bigint`: BPE token count of a word under the
  * learned merge list — see [[BpeFunctions]] for why this replaces the
  * literal replace chain at realistic merge counts.
  */
case class BpeWordTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val compiled = CompiledMerges(merges)

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_word_tokens expects a string word, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    BpeApply.countTokens(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", compiled,
      classOf[CompiledMerges].getName)
    defineCodeGen(ctx, ev, w => s"graft.functions.BpeApply.countTokens($w, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : BpeWordTokens = copy(child = newChild)

  // the merge table is data, not structure: at the 32k merges this
  // expression targets, printing it would put megabytes into every
  // treeString/explain/error message containing the plan (ADVICE r10)
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"<${merges.length} merges>")

  override def prettyName: String = "bpe_word_tokens"
}
