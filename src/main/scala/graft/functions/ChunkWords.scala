package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `chunk_words(text)` at fixed
  * (width, stride) → `array<struct<chunk string, n_words bigint>>` —
  * the fixed-width overlapping word chunking
  * ([[graft.ext.Corpus.chunkOverlap]]) as ONE compiled per-row call.
  *
  * Why ([[WinnowKeys]]'s argument): the declarative form runs split +
  * `sequence` + per-start `slice`/`array_join` through INTERPRETED
  * higher-order lambdas, re-materializing the word array per chunk —
  * at sf1 that interpreter overhead left q108 at 3.3× of the DuckDB
  * replay despite a shuffle-free plan. Here the text is split once and
  * each chunk is one substring copy out of a reused word array, all
  * inside compiled code.
  *
  * Bit-parity contract (the q108 oracle spelling): tokens =
  * `split(text, ' ')` (Java split limit −1, so trailing empty words
  * survive — the engine-wide single-space contract); one chunk starts
  * at every multiple of `stride` in [0, len); chunk i = words
  * [start, min(start+width, len)) joined by a single space; `n_words`
  * = that slice's length (== `size(split(chunk, ' '))`, since words
  * contain no spaces by construction); the tail chunk is short, never
  * dropped. Null text is null (posexplode drops it). */
case class ChunkWords(child: Expression, width: Int, stride: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("chunk", StringType, nullable = false),
      StructField("n_words", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "chunk_words"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"chunk_words requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    ChunkWords.compute(input.asInstanceOf[UTF8String], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ChunkWords.compute($c, $width, $stride)")

  override protected def withNewChildInternal(newChild: Expression): ChunkWords =
    copy(child = newChild)
}

object ChunkWords {

  def compute(text: UTF8String, width: Int, stride: Int): GenericArrayData = {
    val words = text.toString.split(" ", -1)
    val len = words.length
    // ceil(len / stride) starts: 0, stride, 2·stride, … < len
    val nChunks = (len + stride - 1) / stride
    val out = new Array[Any](nChunks)
    var c = 0
    var start = 0
    while (c < nChunks) {
      val end = math.min(start + width, len)
      val sb = new java.lang.StringBuilder
      var i = start
      while (i < end) {
        if (i > start) sb.append(' ')
        sb.append(words(i))
        i += 1
      }
      out(c) = InternalRow(UTF8String.fromString(sb.toString),
        (end - start).toLong)
      c += 1
      start += stride
    }
    new GenericArrayData(out)
  }

  /** Bind `chunk_words` at fixed (width, stride) — parameter-specific,
    * so registration replaces any prior binding. */
  def register(spark: org.apache.spark.sql.SparkSession, width: Int,
      stride: Int): Unit = {
    require(width > 0 && stride > 0, "width/stride must be positive")
    Functions.bind(spark, "chunk_words", 1)(a => ChunkWords(a(0), width, stride))
  }
}
