package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType,
  LongType, ShortType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling-hash document fingerprinting as native Catalyst expressions.
  *
  * The reference has no function surface at all (README.md:73-75 unchecked;
  * its only expression engine is the interpreted `compute_value.rs`). The
  * north star asks for document fingerprinting via rolling hashes; a Scala
  * UDF would box every row, so these are implemented as `UnaryExpression`s
  * with `doGenCode` — the generated Java calls the static helpers below
  * directly, keeping the whole pipeline inside whole-stage codegen. At
  * 100 TB this is the difference between a scan-speed fingerprint pass and
  * a serialization-bound one.
  */
object RabinHash {
  /** FNV-64 prime as the polynomial base; arithmetic wraps (mod 2^64). */
  final val B = 0x100000001b3L

  /** Minimum k-gram Rabin hash over the byte string — a single stable
    * 64-bit document fingerprint.
    */
  def minKgram(bytes: Array[Byte], k: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var i = 0
    if (n <= k) {
      var h = 0L
      while (i < n) { h = h * B + (bytes(i) & 0xff); i += 1 }
      return h
    }
    var pow = 1L
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
    var min = h
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xff) * pow) * B + (bytes(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** Winnowing (Schleimer et al., SIGMOD'03): keep the minimum k-gram hash
    * of every w-hash window, deduplicating consecutive picks — a compact,
    * position-robust fingerprint set for near-duplicate detection.
    */
  def winnow(bytes: Array[Byte], k: Int, w: Int): Array[Long] = {
    val n = bytes.length
    if (n == 0) return Array.empty[Long]
    if (n <= k) return Array(minKgram(bytes, k))
    val m = n - k + 1
    val hs = new Array[Long](m)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
    hs(0) = h
    i = k
    while (i < n) {
      h = (h - (bytes(i - k) & 0xff) * pow) * B + (bytes(i) & 0xff)
      hs(i - k + 1) = h
      i += 1
    }
    winnowHashes(hs, w)
  }

  /** The windowing half of winnow, over an already-computed gram-hash
    * stream — factored out so the SQL-expressible md5-gram formulation
    * (TextFunctions.windowMins, used by the oracle-checked queries) can
    * be pinned algorithm-equivalent to this path in a spec.
    */
  def winnowHashes(hs: Array[Long], w: Int): Array[Long] = {
    val m = hs.length
    if (m == 0) return Array.empty[Long]
    if (m <= w) return Array(hs.min)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = Long.MinValue
    var start = 0
    while (start + w <= m) {
      var mn = hs(start)
      var j = start + 1
      while (j < start + w) { if (hs(j) < mn) mn = hs(j); j += 1 }
      if (out.isEmpty || mn != last) { out += mn; last = mn }
      start += 1
    }
    out.toArray
  }
}

/** Compiled twin of the md5-gram winnowing SQL device
  * (TextFunctions.gramHashes/windowMins/winnowCount): value-identical to
  * the interpreted higher-order-function formulation — and therefore to
  * the DuckDB oracle that mirrors it — but one codegen'd call per row
  * with an O(m) monotonic-deque sliding min instead of per-window slice
  * allocations (measured 44 s -> ~1 s on dedup_winnow at sf0.1).
  * Equivalence to both the SQL formulation and RabinHash.winnowHashes is
  * pinned in WinnowSpec.
  */
object Md5WinnowOps {

  /** md5-prefix60 hash of every k-CHAR gram, position order; empty text
    * -> empty, text shorter than one gram -> one whole-text hash (the
    * same edges as the SQL device and RabinHash).
    */
  def gramHashes(s: UTF8String, k: Int): Array[Long] = {
    val n = s.numChars()
    if (n == 0) return Array.empty[Long]
    val m = n - k + 1
    if (m < 1) return Array(Md5Ops.prefix60(s))
    val out = new Array[Long](m)
    var i = 0
    while (i < m) { out(i) = Md5Ops.prefix60(s.substring(i, i + k)); i += 1 }
    out
  }

  /** Sliding-window minima (window w) via a monotonic index deque —
    * O(m), not O(m*w); values identical to min-of-each-slice.
    */
  def windowMins(hs: Array[Long], w: Int): Array[Long] = {
    val m = hs.length
    if (m == 0) return hs
    if (m <= w) return Array(hs.min)
    val out = new Array[Long](m - w + 1)
    val idx = new Array[Int](m)
    var head = 0
    var tail = 0
    var i = 0
    while (i < m) {
      while (tail > head && hs(idx(tail - 1)) >= hs(i)) tail -= 1
      idx(tail) = i
      tail += 1
      if (idx(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = hs(idx(head))
      i += 1
    }
    out
  }

  /** Distinct window minima in first-occurrence order — exactly
    * `array_distinct(windowMins(gramHashes(text)))`.
    */
  def winnowSet(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val wins = windowMins(gramHashes(s, k), w)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    wins.foreach(seen.add(_))
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Consecutive-deduped winnow pick count (Schleimer et al. output
    * length) — exactly TextFunctions.winnowCount.
    */
  def winnowCount(s: UTF8String, k: Int, w: Int): Int = {
    val wins = windowMins(gramHashes(s, k), w)
    if (wins.isEmpty) return 0
    var c = 1
    var i = 1
    while (i < wins.length) { if (wins(i) != wins(i - 1)) c += 1; i += 1 }
    c
  }

  /** Minimum gram hash (the single document fingerprint); MinValue
    * sentinel is never produced by md5-prefix60 (60-bit non-negative),
    * so callers map empty -> null at the expression layer.
    */
  def gramMin(s: UTF8String, k: Int): Long = {
    val hs = gramHashes(s, k)
    if (hs.isEmpty) Long.MinValue else hs.min
  }
}

/** `md5_winnow_set(text)` → ARRAY<BIGINT>: distinct winnowed md5-gram
  * fingerprints (first-occurrence order).
  */
case class Md5WinnowSet(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_winnow_set"
  protected override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Md5WinnowOps.winnowSet(input.asInstanceOf[UTF8String], k, w))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Md5WinnowOps.winnowSet($c, $k, $w))")
  override protected def withNewChildInternal(newChild: Expression): Md5WinnowSet =
    copy(child = newChild)
}

/** `md5_winnow_count(text)` → INT: consecutive-deduped winnow pick count. */
case class Md5WinnowCount(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_winnow_count"
  protected override def nullSafeEval(input: Any): Any =
    Md5WinnowOps.winnowCount(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5WinnowOps.winnowCount($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): Md5WinnowCount =
    copy(child = newChild)
}

/** `md5_gram_min(text)` → BIGINT: minimum md5 gram hash (null for empty
  * text — matching `array_min` over an empty hash stream).
  */
case class Md5GramMin(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "md5_gram_min"
  protected override def nullSafeEval(input: Any): Any = {
    val v = Md5WinnowOps.gramMin(input.asInstanceOf[UTF8String], k)
    if (v == Long.MinValue) null else v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Md5WinnowOps.gramMin($c, $k);
      if (${ev.value} == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): Md5GramMin =
    copy(child = newChild)
}

/** `rabin_fingerprint(text)` → BIGINT: min k-gram rolling hash. */
case class RabinFingerprint(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rabin_fingerprint"
  protected override def nullSafeEval(input: Any): Any =
    RabinHash.minKgram(input.asInstanceOf[UTF8String].getBytes, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RabinHash.minKgram($c.getBytes(), $k)")
  override protected def withNewChildInternal(newChild: Expression): RabinFingerprint =
    copy(child = newChild)
}

/** `rabin_winnow(text)` → ARRAY<BIGINT>: winnowed fingerprint set. */
case class RabinWinnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rabin_winnow"
  protected override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      RabinHash.winnow(input.asInstanceOf[UTF8String].getBytes, k, w))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.RabinHash.winnow($c.getBytes(), $k, $w))")
  override protected def withNewChildInternal(newChild: Expression): RabinWinnow =
    copy(child = newChild)
}

/** The engine's SQL function table, for SQL text (`spark.sql`,
  * `selectExpr`). Operators do not look functions up by name: they build
  * the same expressions as Columns through [[TextFunctions]] and
  * [[VectorFunctions]], so they run on any session.
  */
object GraftFunctions {
  private[functions] def analysisError(msg: String) =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> msg))

  /** A builder's order argument: a foldable integral literal, positive
    * and in Int range (a 2.9 must not run as n = 2), else an
    * AnalysisException naming the function.
    */
  private def literalIntArg(fn: String, arg: Expression): Int = {
    def refuse(got: String) = analysisError(s"$fn requires a positive " +
      s"literal integer as its second argument, got $got")
    if (!arg.foldable) throw refuse(s"non-foldable expression ${arg.sql}")
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(arg.dataType)
    arg.eval() match {
      case n: Number if integral && n.longValue == n.intValue &&
        n.intValue >= 1 => n.intValue
      case other => throw refuse(String.valueOf(other))
    }
  }

  /** The engine's SQL function surface — the ONE table both
    * registration seams read: [[graft.engine.GraftExtensions]] injects it
    * when a session is built, [[register]] binds it into a live one. An
    * extensions-only session and a registered session therefore resolve
    * the same names. Every builder checks its argument count first
    * ([[FunctionDef.build]]).
    */
  val Table: Seq[FunctionDef] = {
    def text(name: String, clazz: Class[_ <: Expression])(
        make: Expression => Expression) =
      FunctionDef(name, clazz, "text", 1 to 1, es => make(es.head))
    def orderArg(name: String, clazz: Class[_ <: Expression])(
        make: (Expression, Int) => Expression) =
      FunctionDef(name, clazz, "tokens, n", 2 to 2,
        es => make(es.head, literalIntArg(name, es(1))))
    def vectors(name: String, clazz: Class[_ <: Expression])(
        make: (Expression, Expression) => Expression) =
      FunctionDef(name, clazz, "a, b", 2 to 2, es => make(es(0), es(1)))
    Seq(
      text("rabin_fingerprint", classOf[RabinFingerprint])(
        RabinFingerprint(_, 8)),
      text("rabin_winnow", classOf[RabinWinnow])(RabinWinnow(_, 8, 16)),
      text("md5_winnow_set", classOf[Md5WinnowSet])(Md5WinnowSet(_,
        TextFunctions.WinnowK, TextFunctions.WinnowW)),
      text("md5_winnow_count", classOf[Md5WinnowCount])(Md5WinnowCount(_,
        TextFunctions.WinnowK, TextFunctions.WinnowW)),
      text("md5_gram_min", classOf[Md5GramMin])(
        Md5GramMin(_, TextFunctions.WinnowK)),
      FunctionDef("word_shingles", classOf[WordShingles], "text[, n]",
        1 to 2, es => WordShingles(es.head,
          if (es.length > 1) literalIntArg("word_shingles", es(1)) else 3)),
      FunctionDef("bpe_encode", classOf[BpeEncode], "text[, merges_path]",
        1 to 2, es => BpeEncode(es.head, BpeOps.vocabFromArgs(es))),
      text("md5_prefix60", classOf[Md5Prefix60])(Md5Prefix60),
      orderArg("word_ngrams", classOf[WordNgrams])(WordNgrams),
      orderArg("gram_rungs", classOf[GramRungs])(GramRungs),
      orderArg("gram_top_frac", classOf[GramTopFrac])(GramTopFrac),
      orderArg("gram_dup_frac", classOf[GramDupFrac])(GramDupFrac),
      orderArg("cdc_chunk_texts", classOf[CdcChunkTexts])(CdcChunkTexts),
      vectors("vec_dot", classOf[VecDot])(VecDot),
      vectors("vec_cosine", classOf[VecCosine])(VecCosine),
      vectors("vec_l2sq", classOf[VecL2sq])(VecL2sq))
  }

  /** Bind [[Table]] into the session's function registry, skipping every
    * name the session already binds (a GraftExtensions session, or an
    * earlier call): re-binding a name would log one "replaced a
    * previously registered function" warning per function per call.
    * Needed only for SQL text on a session built without the extensions.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Table.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.build)
    }
  }
}

/** One SQL function of the engine: its name, the expression class it
  * builds (for DESCRIBE FUNCTION), its parameter list and accepted
  * argument counts, and the builder over its arguments.
  */
final case class FunctionDef(name: String, clazz: Class[_ <: Expression],
                             params: String, arity: Range,
                             make: Seq[Expression] => Expression) {
  def info: ExpressionInfo = new ExpressionInfo(clazz.getName, name)

  /** The registry builder: a wrong argument count fails analysis,
    * naming the function, instead of dropping or indexing arguments.
    */
  val build: Seq[Expression] => Expression = es =>
    if (arity.contains(es.length)) make(es)
    else throw GraftFunctions.analysisError(
      s"$name requires $counts ($params), got ${es.length}")

  private def counts: String =
    if (arity.size > 1) s"${arity.mkString(" or ")} arguments"
    else if (arity.head == 1) "exactly 1 argument"
    else s"exactly ${arity.head} arguments"
}
