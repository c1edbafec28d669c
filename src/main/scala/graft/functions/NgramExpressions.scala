package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-level n-gram generation as native Catalyst expressions.
  *
  * The higher-order-function formulations — `transform(sequence(1, nt),
  * i => concat_ws(" ", element_at(toks, i + d)...))` for one order, and
  * the nested `flatten(transform(..., transform(...)))` the stupid-
  * backoff ladder uses for ALL lower orders at once — run interpreted
  * (HOFs have no codegen): a fresh lambda frame per element, per
  * position, per order. StageProf (r21) put the fivegram ladder's rung
  * pass at ~22 s of task CPU at sf0.1, dominated by exactly this
  * interpretation overhead — the same ~order-of-magnitude gap the repo
  * already measured on word_shingles vs its lambda twin. These
  * expressions produce byte-identical gram strings in tight loops
  * inside whole-stage codegen, staying in UTF8String (no
  * decode/re-encode of the corpus).
  */
object NgramOps {
  private val Space = UTF8String.fromString(" ")
  private val Tags: Array[UTF8String] =
    (0 to 16).map(m => UTF8String.fromString(m + ":")).toArray

  private def tagFor(m: Int): UTF8String =
    if (m < Tags.length) Tags(m) else UTF8String.fromString(m + ":")

  /** Consecutive m-token grams joined by single spaces — the codegen
    * twin of `transform(sequence(1, nt - m + 1), i => concat_ws(" ",
    * element_at(toks, i)...element_at(toks, i + m - 1)))` on a frame
    * where nt >= m, and of the zip_with adjacent-pair device at m = 2.
    * Fewer than m tokens yields an empty array (the callers filter
    * that case before the explode either way). Null tokens are SKIPPED
    * exactly as the concat_ws twin skips them (a lone null at m = 1
    * yields the empty string, concat_ws's all-null value), so the
    * declared `containsNull = false` element type genuinely holds for
    * arbitrary SQL-reachable input arrays, not just the repo's
    * null-free tokenizers.
    */
  def wordNgrams(toks: ArrayData, m: Int): GenericArrayData = {
    val n = toks.numElements()
    if (n < m) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - m + 1)
    val parts = new Array[UTF8String](m)
    var i = 0
    while (i + m <= n) {
      var j = 0
      while (j < m) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) =
        if (m == 1) {
          val t = parts(0)
          if (t == null) UTF8String.EMPTY_UTF8 else t
        } else UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Every rung's tagged grams in one pass — the codegen twin of the
    * backoff ladder's `flatten(transform(sequence(1, nt), i =>
    * transform(sequence(1, least(maxM, nt - i + 1)), m =>
    * concat(m, ":", array_join(slice(toks, i, m), " ")))))`: per
    * position i (ascending), the "m:gram" strings for m = 1..min(maxM,
    * nt - i + 1) (ascending) — identical values in identical order.
    * Each order-m gram extends the order-(m-1) gram by one token, so
    * the inner loop builds incrementally (one concat per gram, never a
    * re-join of the whole window). Null tokens are SKIPPED exactly as
    * the array_join twin skips them (no value, no separator), so the
    * declared `containsNull = false` element type holds for arbitrary
    * input arrays — a null token must not poison the incremental
    * concat into emitting null grams.
    */
  def gramRungs(toks: ArrayData, maxM: Int): GenericArrayData = {
    val n = toks.numElements()
    var total = 0
    var i = 0
    while (i < n) { total += math.min(maxM, n - i); i += 1 }
    val out = new Array[Any](total)
    var k = 0
    i = 0
    while (i < n) {
      val mMax = math.min(maxM, n - i)
      var gram: UTF8String = UTF8String.EMPTY_UTF8
      var kept = 0
      var m = 1
      while (m <= mMax) {
        val t = toks.getUTF8String(i + m - 1)
        if (t != null) {
          gram = if (kept == 0) t else UTF8String.concat(gram, Space, t)
          kept += 1
        }
        out(k) = UTF8String.concat(tagFor(m), gram)
        k += 1
        m += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** (max count, duplicated-occurrence count, total) over the doc's
    * consecutive m-token grams — the per-row reduction behind the
    * Gopher repetition metrics ([[graft.operators.TextOps
    * .qualityRepetition]]): the metrics are per-document functions of
    * the token array, so counting inside the row replaces an
    * explode → corpus-sized (doc, gram) exchange → re-aggregate per
    * order with one codegen'd pass (guide §2.4 — the aggregate's key
    * IS the row). Gram identity matches [[wordNgrams]] exactly (same
    * strings, same null-token skipping), so the counts — and the
    * IEEE divisions downstream — are identical to the exploded
    * formulation's.
    */
  def gramCounts(toks: ArrayData, m: Int): Array[Long] = {
    val n = toks.numElements()
    if (n < m) return Array(0L, 0L, 0L)
    val total = n - m + 1
    val counts = new java.util.HashMap[UTF8String, Integer](total * 2)
    val parts = new Array[UTF8String](m)
    var maxC = 0
    var i = 0
    while (i + m <= n) {
      var j = 0
      while (j < m) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      val gram =
        if (m == 1) {
          val t = parts(0)
          if (t == null) UTF8String.EMPTY_UTF8 else t
        } else UTF8String.concatWs(Space, parts: _*)
      val c = counts.merge(gram, 1,
        (a: Integer, b: Integer) => Integer.valueOf(a + b))
      if (c > maxC) maxC = c
      i += 1
    }
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next(); if (c >= 2) dup += c }
    Array(maxC.toLong, dup, total.toLong)
  }

  /** Content-defined chunk texts of a token array — the per-row twin
    * of [[graft.operators.Dedup.cdcChunks]]'s posexplode → per-doc
    * running-sum window → (doc, chunk) reassembly aggregate: a token
    * opens a new chunk iff md5_60(token) ≡ 0 (mod divisor), chunk text
    * is the space-join of its tokens. Chunking is per-document and a
    * document is one row, so computing it here removes BOTH
    * token-level corpus exchanges (the doc_id window and the
    * reassembly groupBy) from the plan. Identical chunk multiset: the
    * boundary bit matches `conv(substring(md5(tok),1,15),16,10) %
    * divisor = 0` bit for bit (Md5Ops.prefix60 IS that value), chunk
    * grouping is the same inclusive running sum (a boundary token
    * STARTS a chunk; a leading non-boundary run is its own chunk),
    * and null tokens — impossible from the tokenizers, possible for
    * SQL callers — never open a chunk and never contribute text,
    * matching the exploded form's null boundary bit and null-skipping
    * concat_ws (one deliberate divergence: LEADING null tokens, which
    * the exploded form collected into a degenerate null-chunk_id row
    * with empty text, are simply dropped here).
    */
  def cdcChunkTexts(toks: ArrayData, divisor: Int): GenericArrayData = {
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    val parts = new scala.collection.mutable.ArrayBuffer[UTF8String]
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        if (Md5Ops.prefix60(t) % divisor == 0 && parts.nonEmpty) {
          out += UTF8String.concatWs(Space, parts.toSeq: _*)
          parts.clear()
        }
        parts += t
      }
      i += 1
    }
    if (parts.nonEmpty) out += UTF8String.concatWs(Space, parts.toSeq: _*)
    new GenericArrayData(out.toArray)
  }
}

/** `word_ngrams(toks, m)` → ARRAY<STRING>: consecutive m-token grams. */
case class WordNgrams(child: Expression, m: Int) extends UnaryExpression {
  require(m >= 1, s"gram order must be positive, got $m")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngrams"
  protected override def nullSafeEval(input: Any): Any =
    NgramOps.wordNgrams(input.asInstanceOf[ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramOps.wordNgrams($c, $m)")
  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** `gram_top_frac(toks, m)` → DOUBLE: the most frequent m-gram's share
  * of the document's m-gram occurrences (max count / total) — null
  * when the document has no m-gram (fewer than m tokens), the same
  * null the exploded formulation's left join produced.
  */
case class GramTopFrac(child: Expression, m: Int) extends UnaryExpression {
  require(m >= 1, s"gram order must be positive, got $m")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_top_frac"
  protected override def nullSafeEval(input: Any): Any = {
    val a = NgramOps.gramCounts(input.asInstanceOf[ArrayData], m)
    if (a(2) == 0L) null else a(0).toDouble / a(2).toDouble
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.freshName("gc")
      s"""
         |long[] $a = graft.functions.NgramOps.gramCounts($c, $m);
         |if ($a[2] == 0L) { ${ev.isNull} = true; }
         |else { ${ev.value} = (double) $a[0] / (double) $a[2]; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): GramTopFrac =
    copy(child = newChild)
}

/** `gram_dup_frac(toks, m)` → DOUBLE: the share of the document's
  * m-gram occurrences belonging to grams that occur at least twice
  * (Gopher's duplicated-n-gram coverage) — null when the document has
  * no m-gram.
  */
case class GramDupFrac(child: Expression, m: Int) extends UnaryExpression {
  require(m >= 1, s"gram order must be positive, got $m")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_dup_frac"
  protected override def nullSafeEval(input: Any): Any = {
    val a = NgramOps.gramCounts(input.asInstanceOf[ArrayData], m)
    if (a(2) == 0L) null else a(1).toDouble / a(2).toDouble
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.freshName("gc")
      s"""
         |long[] $a = graft.functions.NgramOps.gramCounts($c, $m);
         |if ($a[2] == 0L) { ${ev.isNull} = true; }
         |else { ${ev.value} = (double) $a[1] / (double) $a[2]; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): GramDupFrac =
    copy(child = newChild)
}

/** `cdc_chunk_texts(toks, divisor)` → ARRAY<STRING>: content-defined
  * chunk texts (md5_60 boundary, space-joined tokens) in document
  * order. Null tokens never open a chunk and add no text; LEADING null
  * tokens (before the first non-null one) are dropped, not emitted as
  * an empty chunk, so an array of only nulls gives an empty array.
  */
case class CdcChunkTexts(child: Expression, divisor: Int)
    extends UnaryExpression {
  require(divisor >= 1, s"divisor must be positive, got $divisor")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_chunk_texts"
  protected override def nullSafeEval(input: Any): Any =
    NgramOps.cdcChunkTexts(input.asInstanceOf[ArrayData], divisor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NgramOps.cdcChunkTexts($c, $divisor)")
  override protected def withNewChildInternal(newChild: Expression): CdcChunkTexts =
    copy(child = newChild)
}

/** `gram_rungs(toks, maxM)` → ARRAY<STRING>: "m:gram" for every
  * position and every order m = 1..maxM.
  */
case class GramRungs(child: Expression, maxM: Int) extends UnaryExpression {
  require(maxM >= 1, s"max gram order must be positive, got $maxM")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_rungs"
  protected override def nullSafeEval(input: Any): Any =
    NgramOps.gramRungs(input.asInstanceOf[ArrayData], maxM)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramOps.gramRungs($c, $maxM)")
  override protected def withNewChildInternal(newChild: Expression): GramRungs =
    copy(child = newChild)
}
