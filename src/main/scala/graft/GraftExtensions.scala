package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

import graft.functions.{ByteSplit, DotProduct, MinhashSig, NormalizeWord, RefHashWord, RepSig, RollingHash, SimhashSig, WordTokens}

/** Session-extension entry point: build a session with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or pass
  * the same pair to spark-submit) and the engine's functions resolve in
  * SQL text without imperative registration.
  *
  * This is the deployment path for a shared cluster: the extension rides
  * in the application jar and every session — JDBC, notebook,
  * spark-submit — sees the same function surface. Every custom
  * expression with a SQL-able signature is registered;
  * `hyperplane_sig` is not (its hyperplane weights are a plan-time
  * constant array, not a SQL literal — use the Scala API). Nor is the
  * `word_counts` generator behind `WordCount.count`: its rows are partial
  * counts of a whole task's lines, not a function of one row, so they
  * mean something only when summed per word.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def register(
      ext: SparkSessionExtensions, name: String, clazz: Class[_])(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), build))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "normalize_word", classOf[NormalizeWord])(e => NormalizeWord(e.head))
    register(ext, "byte_split", classOf[ByteSplit])(e => ByteSplit(e.head))
    register(ext, "word_tokens", classOf[WordTokens])(e => WordTokens(e.head))
    register(ext, "ref_hash_word", classOf[RefHashWord])(e => RefHashWord(e.head))
    register(ext, "dot_product", classOf[DotProduct])(e => DotProduct(e(0), e(1)))
    register(ext, "simhash_sig", classOf[SimhashSig])(e => SimhashSig(e.head))
    register(ext, "rolling_hash", classOf[RollingHash])(e => RollingHash(e.head))
    register(ext, "rep_sig", classOf[RepSig])(e => RepSig(e.head))
    // minhash_sig(arr, numHashes): the hash count must be a foldable
    // integer literal — it sizes the signature at plan time
    register(ext, "minhash_sig", classOf[MinhashSig]) {
      case Seq(arr, Literal(n: Int, _)) => MinhashSig(arr, n)
      case e => throw new IllegalArgumentException(
        s"minhash_sig(array<string>, int-literal), got ${e.size} args")
    }
    ext.injectOptimizerRule(_ => graft.plans.CollapseNormalizeWord)
  }
}
