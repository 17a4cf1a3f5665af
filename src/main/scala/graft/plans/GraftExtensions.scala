package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String

/** Column + SQL surface for the custom Catalyst expressions, plus the
  * SparkSessionExtensions entry point:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   -- or --
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * After injection: SELECT multi_contains(text, 'def ', 'func '),
  *                  SELECT word_grams(split(lower(text), ' '), 8),
  *                  SELECT ... FROM t LATERAL VIEW split_snippets(text, 10)
  */
object GraftFunctions {

  import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}

  /** Column API for MultiContains. */
  def multiContains(text: Column, tokens: Seq[String]): Column =
    ExpressionUtils.column(MultiContains(ExpressionUtils.expression(text), tokens))

  /** Column API for the G1 generator. */
  def splitSnippets(text: Column, limit: Int): Column =
    ExpressionUtils.column(SplitSnippets(ExpressionUtils.expression(text), Literal(limit)))

  /** Column API for the top n-gram char fraction. */
  def topNgramCharFrac(text: Column, n: Int): Column =
    ExpressionUtils.column(TopNgramCharFrac(ExpressionUtils.expression(text), n))

  /** Column API for Unicode NFC normalization. */
  def nfcNormalize(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))

  /** Column API for the compiled ASCII-letter presence scan. */
  def hasAsciiLetter(text: Column): Column =
    ExpressionUtils.column(HasAsciiLetter(ExpressionUtils.expression(text)))

  /** Column API for the word `w`-gram builder. */
  def wordGrams(words: Column, w: Int): Column =
    ExpressionUtils.column(WordGrams(ExpressionUtils.expression(words), w))

  /** Column API for the compiled float-array dot product. */
  def vecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      VecDotFF(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column API for the compiled float-array L2 norm. */
  def vecNorm(a: Column): Column =
    ExpressionUtils.column(VecNormFF(ExpressionUtils.expression(a)))

  /** Column API for the compiled cosine-to-constant-query kernel. */
  def vecCosineToQ(a: Column, q: Seq[Double], qNorm: Double): Column =
    ExpressionUtils.column(VecCosineToQ(ExpressionUtils.expression(a), q, qNorm))

  /** Column API for the compiled int8-quantized-cosine kernel. */
  def vecInt8CosineToQ(a: Column, qCodes: Seq[Double], qNorm: Double): Column =
    ExpressionUtils.column(VecInt8CosineToQ(ExpressionUtils.expression(a), qCodes, qNorm))

  /** Aggregate Column: the k smallest long values, sorted ascending —
    * the bounded hot-bucket cap primitive. */
  def smallestKLongs(id: Column, k: Int): Column =
    ExpressionUtils.column(
      SmallestKLongs(ExpressionUtils.expression(id), k).toAggregateExpression())

  /** Aggregate Column: the k entries with the smallest long key, each
    * carrying a long payload; sorted ascending by key. */
  def smallestKLongPairs(key: Column, payload: Column, k: Int): Column =
    ExpressionUtils.column(
      SmallestKLongPairs(ExpressionUtils.expression(key),
        ExpressionUtils.expression(payload), k).toAggregateExpression())

  private[plans] def multiContainsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2, "multi_contains(text, token, ...)")
    val tokens = exprs.tail.map {
      case Literal(s: UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"multi_contains tokens must be string literals, got $other")
    }
    MultiContains(exprs.head, tokens)
  }

  private[plans] def splitSnippetsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "split_snippets(text, limit)")
    SplitSnippets(exprs.head, exprs(1))
  }

  private[plans] def topNgramBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "top_ngram_char_frac(text, n)")
    val n = exprs(1) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"top_ngram_char_frac n must be an integer literal, got $other")
    }
    TopNgramCharFrac(exprs.head, n)
  }

  private[plans] def wordGramsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "word_grams(words, w)")
    val w = exprs(1) match {
      case Literal(i: Int, IntegerType) => i
      case other => throw new IllegalArgumentException(
        s"word_grams w must be an integer literal, got $other")
    }
    WordGrams(exprs.head, w)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("multi_contains"),
      new ExpressionInfo(classOf[MultiContains].getName, "multi_contains"),
      GraftFunctions.multiContainsBuilder))
    e.injectFunction((
      FunctionIdentifier("split_snippets"),
      new ExpressionInfo(classOf[SplitSnippets].getName, "split_snippets"),
      GraftFunctions.splitSnippetsBuilder))
    e.injectFunction((
      FunctionIdentifier("top_ngram_char_frac"),
      new ExpressionInfo(classOf[TopNgramCharFrac].getName, "top_ngram_char_frac"),
      GraftFunctions.topNgramBuilder))
    e.injectFunction((
      FunctionIdentifier("word_grams"),
      new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
      GraftFunctions.wordGramsBuilder))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, "nfc_normalize(text)")
        NfcNormalize(exprs.head)
      }))
  }
}
