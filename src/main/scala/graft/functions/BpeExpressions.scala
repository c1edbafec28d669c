package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy byte-pair-encoding tokenizer as a native Catalyst expression —
  * the "real BPE" upgrade over the regex proxy in TextFunctions.
  *
  * The algorithm is the published BPE apply-step (Sennrich et al. 2016):
  * a word starts as characters and the lowest-rank adjacent pair is
  * merged repeatedly until no merge applies. The merge table is DATA, not
  * code: [[BpeVocab]] is a serializable value the expression carries, so
  * a production vocab loads from a merges artifact
  * (`BpeOps.loadVocab(path)` / `bpe_encode(text, 'path')` in SQL — the
  * standard "a b"-per-line merges.txt format) and ships to executors with
  * the serialized expression (task-broadcast; a 50k-merge vocab is ~1 MB).
  * The in-repo toy table below is the default and the test fixture; the
  * per-row encoder and its codegen are identical under any vocab.
  */
final class BpeVocab(val merges: Vector[(String, String)])
    extends Serializable {

  // Merge parts never contain whitespace (words are whitespace-split), so
  // a single space is a collision-free rank-key separator.
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i) }
    m
  }

  /** Apply merges to one word (already lowercased). Splitting is by CODE
    * POINT, not UTF-16 unit — a supplementary-plane character (emoji,
    * rare CJK) must stay one symbol, never a lone-surrogate pair that
    * UTF8String would mangle into replacement bytes.
    */
  def encodeWord(w: String): Array[String] = {
    if (w.isEmpty) return Array.empty
    var parts: Array[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    var merged = true
    while (merged && parts.length > 1) {
      var best = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < parts.length - 1) {
        val r = rank.get(parts(j) + " " + parts(j + 1))
        if (r != null && r < best) { best = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) merged = false
      else {
        // merge EVERY adjacent occurrence of the winning pair, left to
        // right (the standard apply step)
        val a = parts(bestAt)
        val b = parts(bestAt + 1)
        val out = new scala.collection.mutable.ArrayBuffer[String](parts.length)
        var k = 0
        while (k < parts.length) {
          if (k < parts.length - 1 && parts(k) == a && parts(k + 1) == b) {
            out += a + b
            k += 2
          } else {
            out += parts(k)
            k += 1
          }
        }
        parts = out.toArray
      }
    }
    parts
  }

  def encode(text: UTF8String): GenericArrayData = {
    val words = BpeOps.Ws.split(
      text.toString.toLowerCase(java.util.Locale.ROOT))
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < words.length) {
      if (!words(i).isEmpty)
        encodeWord(words(i)).foreach(t => out += UTF8String.fromString(t))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object BpeOps {

  private[functions] val Ws = Pattern.compile("\\s+")

  /** Frequency-ordered merge rules (rank = index) — toy default vocab. */
  val Merges: Vector[(String, String)] = Vector(
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("e", "n"), ("a", "t"), ("o", "r"),
    ("an", "d"), ("in", "g"), ("t", "o"), ("o", "u"), ("i", "s"),
    ("e", "d"), ("a", "l"), ("a", "r"), ("s", "t"), ("e", "s"),
    ("o", "f"), ("i", "t"), ("a", "s"), ("l", "e"), ("m", "e"),
    ("c", "o"), ("d", "e"), ("h", "a"), ("s", "e"), ("n", "t"),
    ("w", "h"), ("wh", "i"), ("whi", "ch"), ("c", "h"), ("s", "h"),
    ("f", "or"), ("b", "e"), ("w", "as"), ("w", "i"), ("wi", "th"),
    ("n", "o"), ("u", "s"), ("l", "i"), ("m", "a"), ("p", "r"),
    ("the", "re"), ("th", "at"), ("ing", "s"), ("er", "s"), ("on", "s"))

  val Default: BpeVocab = new BpeVocab(Merges)

  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, BpeVocab)]()

  /** Load a merges artifact: one "a b" pair per line, rank = line order
    * (the merges.txt format BPE toolchains emit); blank lines and
    * `#`-prefixed headers are skipped. Read driver-side and cached ONE
    * entry per path (superseded mtimes are replaced, not accumulated —
    * an iterate-on-artifact session must not leak one vocab per
    * regeneration) — the vocab then travels inside the serialized
    * expression, so executors never touch the file, and replacing the
    * artifact on disk is picked up by the next query via the mtime
    * check. The cache entry is stamped with the PRE-read mtime: if a
    * swap races the read, the (possibly new) content is paired with the
    * old stamp, which the next call's mtime check invalidates — a
    * post-read stamp would instead pin stale content under the new
    * mtime permanently.
    * The path must be DRIVER-LOCAL (java.nio, not the Hadoop
    * filesystem layer): ship remote artifacts with `SparkFiles`/
    * `--files` or read them to a local temp first.
    */
  def loadVocab(path: String): BpeVocab = {
    def mtimeOf: Long = java.nio.file.Files
      .getLastModifiedTime(java.nio.file.Paths.get(path)).toMillis
    val cur = mtimeOf
    vocabCache.compute(path, (_, old) =>
      if (old != null && old._1 == cur) old
      else {
        val v = loadVocabUncached(path)
        (cur, v) // pre-read stamp: a racing swap leaves a stale stamp
                 // that the next call's re-stat invalidates
      })._2
  }

  private def loadVocabUncached(p: String): BpeVocab = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p))
    val merges = Vector.newBuilder[(String, String)]
    lines.forEach { ln =>
      val t = ln.trim
      if (t.nonEmpty && !t.startsWith("#")) {
        val parts = t.split(" ")
        require(parts.length == 2,
          s"malformed merges line in $p: '$ln' (want 'a b')")
        merges += ((parts(0), parts(1)))
      }
    }
    new BpeVocab(merges.result())
  }

  /** Back-compat shims for callers of the pre-vocab API. */
  def encode(text: UTF8String): GenericArrayData = Default.encode(text)
  def encodeWord(w: String): Array[String] = Default.encodeWord(w)

  /** Resolve the optional SQL merges-path argument
    * (`bpe_encode(text[, 'path'])`). The path must be a foldable non-null
    * string — validated HERE so a bad argument fails analysis with a
    * readable message instead of an NPE / unbound-attribute error from a
    * blind `eval()`.
    */
  def vocabFromArgs(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : BpeVocab =
    if (es.length <= 1) Default
    else {
      val e = es(1)
      if (!e.foldable) throw GraftFunctions.analysisError(
        "bpe_encode merges path must be a string literal, got: " + e.sql)
      val v = e.eval()
      if (v == null) throw GraftFunctions.analysisError(
        "bpe_encode merges path must not be NULL")
      loadVocab(v.toString)
    }
}

/** `bpe_encode(text[, 'merges_path'])` → ARRAY<STRING>: greedy BPE
  * tokens under the default (toy) vocab or a file-loaded one.
  */
case class BpeEncode(child: Expression, vocab: BpeVocab = BpeOps.Default)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_encode"
  protected override def nullSafeEval(input: Any): Any =
    vocab.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.addReferenceObj("bpeVocab", vocab, "graft.functions.BpeVocab")
    defineCodeGen(ctx, ev, c => s"$v.encode($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}
