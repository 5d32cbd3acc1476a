package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CanonicalIp, CharGramHashes, ExtractLocalIp, Md5Prefix, MinhashBandKeys, NfcNormalize, NormalizeIp, RollingHash, Simhash48, StripAccents, WordShingleHashes}

/** SparkSessionExtensions hook: exposes graft's custom Catalyst expressions
  * to SQL (`SELECT local_ip(name) ...`) so the engine is usable from pure
  * `spark.sql` just like from the DataFrame API. Wire up with
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)  // or
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * Extending via `injectFunction` (not a UDF registry) keeps the functions
  * codegen'd Catalyst expressions — no serialization wall in SQL either.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.entries.foreach(ext.injectFunction)
}

object GraftExtensions {

  private[plans] type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, clazz: Class[_], usage: String)
                   (build: PartialFunction[Seq[Expression], Expression]): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, name),
      args => build.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name expects $usage, got ${args.length} args")))

  private def unary(name: String, clazz: Class[_], build: Expression => Expression): Entry =
    entry(name, clazz, "1 argument") { case Seq(child) => build(child) }

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue

  /** Every SQL function graft exposes — one table for both [[apply]]
    * (session build) and [[register]] (an existing session).
    */
  private[plans] val entries: Seq[Entry] = Seq(
    unary("local_ip", classOf[ExtractLocalIp], ExtractLocalIp),
    unary("normalize_ip", classOf[NormalizeIp], NormalizeIp),
    unary("canonical_ip", classOf[CanonicalIp], CanonicalIp),
    unary("rolling_hash", classOf[RollingHash], RollingHash),
    unary("nfc_normalize", classOf[NfcNormalize], NfcNormalize),
    unary("strip_accents", classOf[StripAccents], StripAccents),
    unary("simhash48", classOf[Simhash48], Simhash48),
    entry("md5_prefix", classOf[Md5Prefix], "(str, constant nBytes)") {
      case Seq(c, n) if n.foldable => Md5Prefix(c, intArg(n))
    },
    entry("word_shingle_hashes", classOf[WordShingleHashes],
        "(tokens, constant w, constant nBytes)") {
      case Seq(toks, w, n) if w.foldable && n.foldable =>
        WordShingleHashes(toks, intArg(w), intArg(n))
    },
    entry("char_gram_hashes", classOf[CharGramHashes],
        "(text, constant n, constant nBytes)") {
      case Seq(text, n, b) if n.foldable && b.foldable =>
        CharGramHashes(text, intArg(n), intArg(b))
    },
    entry("minhash_band_keys", classOf[MinhashBandKeys],
        "(shingles, constant numBands, constant rowsPerBand)") {
      case Seq(shingles, nb, rb) if nb.foldable && rb.foldable =>
        MinhashBandKeys(shingles, intArg(nb), intArg(rb))
    },
    entry("explode_tar", classOf[ExplodeTar], "(path, content)") {
      case Seq(p, c) => ExplodeTar(p, c)
    })

  /** Imperative registration for an existing session (tests, shells). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }
}
