package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `bpe_tokens(text)` → the document's BPE
  * token stream under a FIXED learned merge table, as one compiled
  * per-row call — the production-scale form of
  * [[graft.ext.TextStats.bpeEncode]].
  *
  * Why an expression and not the replace chain: the chain form folds
  * |merges| nested `replace` calls into ONE expression tree, which is
  * exact and oracle-replayable at q100's 8 merges but collapses at a
  * real tokenizer's 32k-merge vocabulary (analyzer/codegen tree depth,
  * plus a full document-length string rewrite per merge). Here the
  * merge table is a constant REFERENCE OBJECT — expression size is
  * O(1) in |merges| — and each word is encoded over a symbol ARRAY,
  * with a memoizing cache in front.
  *
  * The cache IS the histogram trick, executed implicitly: `bpeTrain`
  * proved (33×) that BPE work should be per DISTINCT word, not per
  * occurrence; a shared concurrent word→encoding memo gives the same
  * collapse per executor without the explode/join-back shuffle of a
  * materialized histogram — the operator stays fully narrow, so it
  * composes onto Structured Streaming and keeps zero corpus shuffles
  * at any scale. Zipf guarantees the hit rate; the map is cleared at
  * [[BpeTable.MaxCacheEntries]] to bound memory (encoding is pure, so
  * eviction never changes output).
  *
  * Semantics are BIT-IDENTICAL to the chain form (spec-pinned in
  * BpeTokensSpec): words = `split(text, ' ')` (empty tokens kept),
  * first [[MinHash48.MaxShinglePos]] words (the engine-wide cap),
  * per-word symbols = code points, merges applied IN TABLE ORDER with
  * `replace`'s resume-after-replacement quirk (a merged pair consumes
  * its trailing delimiter, so the immediately following pair cannot
  * merge in the same pass — see [[BpeTable.applyMerge]]), words joined
  * by the ` </w> ` marker. */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens requires a string argument, got ${child.dataType}")
  override def prettyName: String = "bpe_tokens"

  @transient private lazy val table = new BpeTable(merges)

  override protected def nullSafeEval(input: Any): Any =
    table.encodeDoc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("bpeTable", table, classOf[BpeTable].getName)
    defineCodeGen(ctx, ev, c => s"$tbl.encodeDoc($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

/** The merge table + memo cache behind [[BpeTokens]] — a plain
  * serializable object so generated code can call it via
  * `addReferenceObj` (the expression tree stays O(1) in |merges|). */
final class BpeTable(mergeSeq: Seq[(String, String)]) extends Serializable {

  private val lefts: Array[String] = mergeSeq.map(_._1).toArray
  private val rights: Array[String] = mergeSeq.map(_._2).toArray
  private val merged: Array[String] = mergeSeq.map(m => m._1 + m._2).toArray

  /** word → encoded form; shared across tasks in the executor JVM
    * (ConcurrentHashMap — encode is pure, so racing puts are benign). */
  @transient private lazy val cache = new ConcurrentHashMap[String, String]()

  def encodeDoc(doc: UTF8String): UTF8String = {
    // split(text, ' ') semantics: interior + trailing empty tokens kept
    val words = doc.toString.split(" ", -1)
    val n = math.min(words.length, BpeTable.MaxWords)
    val sb = new java.lang.StringBuilder(doc.numChars() * 2)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(" </w> ")
      sb.append(encodeWord(words(i)))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def encodeWord(word: String): String = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val enc = encodeUncached(word)
    if (cache.size() >= BpeTable.MaxCacheEntries) cache.clear()
    cache.put(word, enc)
    enc
  }

  private def encodeUncached(word: String): String = {
    if (word.isEmpty) return ""
    // symbols = code points, the `regexp_replace(w, '(.)', ' $1')`
    // expansion both engines' chain forms use
    var syms: Array[String] =
      word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var m = 0
    while (m < lefts.length && syms.length >= 2) {
      syms = applyMerge(syms, lefts(m), rights(m), merged(m))
      m += 1
    }
    String.join(" ", syms: _*)
  }

  /** One merge pass with `replace(' l r ', ' lr ')` semantics: scan
    * left-to-right; a replacement consumes its trailing delimiter, so a
    * match can NOT start at the symbol immediately following a merge
    * (`canMatch` models the consumed space). "l r l r" → [lr, l, r],
    * not [lr, lr] — the quirk both engines' `replace` builtins share,
    * kept so the compiled form stays bit-identical to the oracle chain. */
  private def applyMerge(syms: Array[String], l: String, r: String,
      lr: String): Array[String] = {
    val n = syms.length
    val out = new Array[String](n)
    var i = 0
    var o = 0
    var canMatch = true
    while (i < n) {
      if (canMatch && i + 1 < n && syms(i) == l && syms(i + 1) == r) {
        out(o) = lr; o += 1; i += 2; canMatch = false
      } else {
        out(o) = syms(i); o += 1; i += 1; canMatch = true
      }
    }
    if (o == n) syms else java.util.Arrays.copyOf(out, o)
  }
}

object BpeTokens {
  /** Engine-wide word-position enumeration bound (shared with the
    * chain form, shingles, bigrams). */
  val MaxWords: Int = MinHash48.MaxShinglePos

  /** Register `bpe_tokens` bound to THIS merge table. Always replaces:
    * DataFrame analysis is eager, so a plan built right after this call
    * captures this table; later re-registration never rewrites
    * already-analyzed plans (BpeTokensSpec pins two tables coexisting). */
  def register(spark: SparkSession, merges: Seq[(String, String)]): Unit = {
    Functions.bind(spark, "bpe_tokens", 1)(a => BpeTokens(a(0), merges))
  }
}

object BpeTable {
  val MaxWords: Int = MinHash48.MaxShinglePos
  val MaxCacheEntries: Int = 1 << 16
}
