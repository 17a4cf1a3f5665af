package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.{Splitter, TokenMatcher}

/** Native Catalyst expression for X1 multi-token containment: ONE pass
  * over the string sets all presence bits (vs ~700 Contains expressions,
  * which would blow codegen size and rescan the string per token —
  * SURVEY.md §4.2). The Aho–Corasick automaton is built once per
  * expression instance and shipped as a codegen reference object, so
  * generated code stays tiny and the expression composes with
  * whole-stage codegen.
  */
case class MultiContains(child: Expression, tokens: Seq[String])
    extends UnaryExpression {

  @transient private lazy val matcher = TokenMatcher(tokens.toArray)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"multi_contains requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(BooleanType, containsNull = false)
  override def prettyName: String = "multi_contains"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(matcher.matchBits(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matcherRef = ctx.addReferenceObj("matcher", matcher, classOf[TokenMatcher].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $matcherRef.matchBits($c.toString()));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiContains =
    copy(child = newChild)
}

/** Gopher top-n-gram char fraction as a native codegen'd expression:
  * the per-row hash-count kernel (O(words), `Repetition.topNgramCharFrac`)
  * is not expressible with built-in higher-order functions in better
  * than O(words²), so a custom UnaryExpression carries it — generated
  * code is one static call, keeping the whole stage inside
  * WholeStageCodegen (a Scala UDF would box and break the stage). */
case class TopNgramCharFrac(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_ngram_char_frac requires a string column, got ${child.dataType}")
    else if (n < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_ngram_char_frac requires n >= 1, got $n")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = DoubleType
  override def prettyName: String = "top_ngram_char_frac"

  override def nullSafeEval(input: Any): Any =
    graft.quality.Repetition.topNgramCharFrac(input.asInstanceOf[UTF8String].toString, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.quality.Repetition.topNgramCharFrac($c.toString(), $n);")

  override protected def withNewChildInternal(newChild: Expression): TopNgramCharFrac =
    copy(child = newChild)
}

/** Unicode NFC normalization as a native codegen'd expression — Spark
  * ships no normalizer builtin, and canonical-equivalent byte variants
  * (decomposed accents, composed ligature forms) silently defeat
  * fingerprint dedup, gram matching, and token counting. Generated code
  * is one static call with an `isNormalized` fast path that returns the
  * (dominant) already-NFC row untouched; stays inside WholeStageCodegen
  * where a Scala UDF would box and break the stage. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    graft.text.Normalize.nfcUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.text.Normalize.nfcUtf8($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Presence of at least one ASCII letter, as one compiled byte scan —
  * replaces the per-word `rlike("[A-Za-z]")` inside
  * `GopherRules.alphaWordFrac`'s higher-order filter (a regex-engine
  * invocation per word; HOF lambda bodies are interpreted, so the regex
  * cost was paid through the expression interpreter on every word of
  * every document). UTF-8 guarantees the bytes 0x41–0x5A / 0x61–0x7A
  * appear ONLY as the ASCII letters themselves (continuation/multibyte
  * lead bytes all have the high bit set), so the byte scan is exactly
  * equivalent to the regex. */
case class HasAsciiLetter(child: Expression) extends UnaryExpression
    with Predicate {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"has_ascii_letter requires a string column, got ${child.dataType}")
  override def prettyName: String = "has_ascii_letter"

  override def nullSafeEval(input: Any): Any =
    HasAsciiLetter.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HasAsciiLetter.scan($c);")

  override protected def withNewChildInternal(newChild: Expression): HasAsciiLetter =
    copy(child = newChild)
}

object HasAsciiLetter {
  def scan(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) return true
      i += 1
    }
    false
  }
}

/** Double dot product of two float-array columns — the candidate-pair
  * cosine verify kernel (`Ann.cosineDupPairs` / `Ann.semDedup`). One
  * static call into a JIT-compiled loop (`VecKernels.dotFF`,
  * bit-identical to the zip_with/aggregate chain it replaced — see the
  * contract note there); stays inside WholeStageCodegen where the HOF
  * form interpreted every element. Null when either side is null or the
  * lengths differ (the zip_with-padding semantics for ragged inputs). */
case class VecDotFF(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot_ff requires two array<float> columns, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_ff"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else graft.sim.VecKernels.dotFF(aa, bb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.sim.VecKernels.dotFF($a, $b); }""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotFF =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float-array column (floats promoted to double) — the
  * per-row norm precompute of the cosine verify paths; bit-identical to
  * the sqrt(aggregate(transform(...))) chain (`VecKernels.norm2`). */
case class VecNormFF(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_norm_ff requires an array<float> column, got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm_ff"

  override def nullSafeEval(input: Any): Any =
    graft.sim.VecKernels.norm2(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.sim.VecKernels.norm2($c);")

  override protected def withNewChildInternal(newChild: Expression): VecNormFF =
    copy(child = newChild)
}

/** Cosine of a float-array column against a constant query vector
  * (`Ann.cosineTo`'s non-zero-query branch, zero-norm rows at -1.0).
  * The query rides the expression as a reference object; the per-row
  * work is one compiled loop (`VecKernels.cosineToQ`). Null when the
  * row's length differs from the query's (zip_with-padding semantics). */
case class VecCosineToQ(child: Expression, q: Seq[Double], qNorm: Double)
    extends UnaryExpression {

  @transient private lazy val qArr: Array[Double] = q.toArray

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_cosine_to_q requires an array<float> column, got $other")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine_to_q"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != qArr.length) null
    else graft.sim.VecKernels.cosineToQ(a, qArr, qNorm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qArr", qArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() != $qRef.length) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.sim.VecKernels.cosineToQ($c, $qRef, ${qNorm}D); }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): VecCosineToQ =
    copy(child = newChild)
}

/** int8-quantized cosine against pre-quantized query codes
  * (`Ann.int8CosineTo`'s non-zero-query branch; per-row symmetric
  * quantization, maxAbs == 0 rows at -1.0). Beyond removing the
  * interpreted HOF walk, the single-pass kernel also removes the
  * DUPLICATED subexpression work of the expression form, where `codes`
  * (itself containing the maxAbs aggregate) was re-evaluated inside the
  * dot, the norm, and the guard. */
case class VecInt8CosineToQ(child: Expression, qCodes: Seq[Double], qNorm: Double)
    extends UnaryExpression {

  @transient private lazy val qArr: Array[Double] = qCodes.toArray

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_int8_cosine_to_q requires an array<float> column, got $other")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_int8_cosine_to_q"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != qArr.length) null
    else graft.sim.VecKernels.int8CosineToQ(a, qArr, qNorm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qArr", qArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() != $qRef.length) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.sim.VecKernels.int8CosineToQ($c, $qRef, ${qNorm}D); }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): VecInt8CosineToQ =
    copy(child = newChild)
}

/** Space-joined word `w`-grams of a string-array column: the `n - w + 1`
  * grams over positions [i, i + w) for i = 0 .. n - w, an empty array
  * when n < w, null for a null array. Null elements are skipped, as
  * `array_join` skips them. The one gram builder of the dup-span,
  * contamination and q34 shingle operators: as a higher-order lambda
  * (`transform(sequence(0, n - w), i => array_join(slice(ws, i + 1, w),
  * " "))`) any array expression captured as `ws` is re-evaluated once
  * per gram, O(n²) per row. Here the words are joined once into one
  * buffer and every gram is a zero-copy view of it, O(bytes) per row. */
case class WordGrams(child: Expression, w: Int) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if w >= 1 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_grams requires w >= 1, got $w")
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_grams requires an array<string> column, got $other")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"

  override def nullSafeEval(input: Any): Any =
    WordGrams.build(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.WordGrams.build($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

object WordGrams {
  def build(words: org.apache.spark.sql.catalyst.util.ArrayData, w: Int): GenericArrayData = {
    val n = words.numElements()
    if (n < w) return new GenericArrayData(new Array[Any](0))
    val ws = new Array[UTF8String](n)
    var bytes = 0
    var j = 0
    while (j < n) {
      if (!words.isNullAt(j)) {
        ws(j) = words.getUTF8String(j)
        bytes += ws(j).numBytes() + 1
      }
      j += 1
    }
    // the non-null words joined by single spaces; from(j) is where the
    // first non-null word at or after j starts, to(j) where the last one
    // at or before j ends, so gram i is buf[from(i), to(i + w - 1))
    val buf = new Array[Byte](math.max(bytes - 1, 0))
    java.util.Arrays.fill(buf, ' '.toByte)
    val from = new Array[Int](n)
    val to = new Array[Int](n)
    var off = 0
    var end = 0
    j = 0
    while (j < n) {
      if (ws(j) != null) {
        from(j) = off
        ws(j).writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
        end = off + ws(j).numBytes()
        off = end + 1
      } else from(j) = -1
      to(j) = end
      j += 1
    }
    var next = buf.length
    j = n - 1
    while (j >= 0) {
      if (from(j) < 0) from(j) = next else next = from(j)
      j -= 1
    }
    val out = new Array[Any](n - w + 1)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromBytes(buf, from(i), math.max(to(i + w - 1) - from(i), 0))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** G1 as a SQL-facing Generator: split_snippets(text, limit) explodes a
  * file into chunks of >= limit non-empty lines (tail merged), semantics
  * of `create_stack_snippets.py:120-141`. Generators don't participate in
  * whole-stage codegen, so CodegenFallback costs nothing here.
  */
case class SplitSnippets(child: Expression, limit: Expression)
    extends BinaryExpression with CollectionGenerator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = child
  override def right: Expression = limit
  override def position: Boolean = false
  override def inline: Boolean = false

  override def elementSchema: StructType =
    StructType(StructField("chunk", StringType, nullable = false) :: Nil)

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input)
    val lim = limit.eval(input)
    if (text == null || lim == null) Iterator.empty
    else Splitter
      .splitSnippet(text.asInstanceOf[UTF8String].toString, lim.asInstanceOf[Int])
      .iterator.map(c => InternalRow(UTF8String.fromString(c)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SplitSnippets =
    copy(child = newLeft, limit = newRight)
}
