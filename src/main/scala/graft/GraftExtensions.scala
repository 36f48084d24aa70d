package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomMightContain, BpeSymbols, CharEntropy,
  CharGramHashes, CharGrams, CharShingleHashes, CosineSimilarity,
  DotProduct, MinHashSig, PqAdc, SimHash32, SortedIntersectCount, Winnow,
  WordGramHashes60, WordShingleHashes}

/** Registration of graft's native Catalyst expressions, through one
  * path: this provider is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark loads it into every session it builds with graft on the
  * classpath, and `newSession()` and clones inherit the entries.
  * `spark.sql.extensions` is not needed; setting it to this class as
  * well only re-registers the same entries.
  *
  * Every session thus has `cosine_sim(a, b)` and the other
  * `GraftFunctions.entries` in SQL, and in the DataFrame API via
  * `call_function("cosine_sim", …)`.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.entries.foreach(ext.injectFunction)
}

object GraftFunctions {

  private type Entry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def binary(name: String, cls: Class[_],
                     mk: (Expression, Expression) => Expression): Entry = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"$name expects exactly 2 arguments")
      mk(children.head, children(1))
    }
  )

  private def unary(name: String, cls: Class[_],
                    mk: Expression => Expression): Entry = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == 1, s"$name expects exactly 1 argument")
      mk(children.head)
    }
  )

  /** (expr, int-literal) builders: the second argument must be a foldable
    * integer (a structural parameter, not data — it shapes the generated
    * loop, like the `2` in `round(x, 2)`). */
  private def withIntParam(name: String, cls: Class[_],
                           mk: (Expression, Int) => Expression): Entry = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"$name expects exactly 2 arguments")
      require(children(1).foldable,
        s"$name's second argument must be a literal integer")
      val v = children(1).eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$name's second argument must be an integer, got $other")
      }
      mk(children.head, v)
    }
  )

  private[graft] val entries: Seq[Entry] = Seq(
    binary("cosine_sim", classOf[CosineSimilarity], CosineSimilarity.apply),
    binary("sorted_intersect_count", classOf[SortedIntersectCount],
      SortedIntersectCount.apply),
    binary("dot_product", classOf[DotProduct], DotProduct.apply),
    withIntParam("word_shingle_hashes", classOf[WordShingleHashes],
      WordShingleHashes.apply),
    withIntParam("char_shingle_hashes", classOf[CharShingleHashes],
      CharShingleHashes.apply),
    withIntParam("char_grams", classOf[CharGrams], CharGrams.apply),
    withIntParam("char_gram_hashes", classOf[CharGramHashes],
      CharGramHashes.apply),
    withIntParam("winnow", classOf[Winnow], Winnow.apply),
    withIntParam("word_gram_hashes60", classOf[WordGramHashes60],
      WordGramHashes60.apply),
    withIntParam("minhash_sig", classOf[MinHashSig], MinHashSig.apply),
    unary("simhash32", classOf[SimHash32], SimHash32.apply),
    unary("char_entropy", classOf[CharEntropy], CharEntropy.apply),
    unary("bpe_symbols", classOf[BpeSymbols], BpeSymbols.apply),
    binary("pq_adc", classOf[PqAdc], PqAdc.apply),
    binary("bloom_might_contain", classOf[BloomMightContain],
      BloomMightContain.apply)
  )
}
