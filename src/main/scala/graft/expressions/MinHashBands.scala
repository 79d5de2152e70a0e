package graft.expressions

import java.nio.charset.StandardCharsets
import java.util.Arrays

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for a document's MinHash LSH band keys
  * (8 minhashes, 4 bands x 2 rows): the one MinHash body behind q36's
  * pair graph, the persisted [[graft.operators.BandIndex]] and the
  * streaming [[graft.streaming.DedupStream]]. Pre-trimmed string in (the
  * caller applies Spark's `trim`, as the oracles do), the 4 band keys
  * out, one call per document and no row fan-out.
  *
  * The definition the DuckDB oracles spell out:
  *  - tokens: split on `[ \t\n\f\r]+` at limit -1 ([[SimHashSig]]'s
  *    tokenizer), so a leading tab gives an empty first token;
  *  - shingles: the distinct word trigrams, joined by one space;
  *  - minhash k (k in 0..7): the minimum over shingles of
  *    `md5("<k>:<shingle>")` as a lowercase hex string;
  *  - band b's key: hex `md5(hex(sig[2b]) || hex(sig[2b+1]))`.
  *
  * Fewer than 3 tokens means no shingles and an empty array; null in
  * gives null out. A minimum over a multiset equals the minimum over its
  * set, so repeated trigrams are hashed again rather than deduplicated.
  * The digests stay raw bytes: lowercase hex preserves unsigned byte
  * order, so comparing digests unsigned-bytewise picks the same minimum
  * as comparing their hex strings, and hex is built only for the 8
  * winners.
  *
  * Codegen: the generated code calls the static helper on the
  * UTF8String directly ([[SimHashSig]]'s pattern).
  */
case class MinHashBands(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires a string argument, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.MinHashBands.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {

  /** Minhashes per document (seeds are single digits), two per band. */
  private val Hashes = 8

  private val Hex = java.util.HexFormat.of()

  /** Static entry point shared by interpreted + generated code paths. */
  def compute(s: UTF8String): ArrayData = {
    val toks = SimHashSig.SplitRe.split(s.toString, -1)
      .map(_.getBytes(StandardCharsets.UTF_8))
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    val md = SimHashSig.Digest.get()
    md.reset()
    // all-0xff: no digest sorts after it, so the first shingle always wins
    val mins = Array.fill(Hashes)(Array.fill[Byte](16)(-1))
    val dig = new Array[Byte](16)
    // "<k>:<a> <b> <c>", the seed digit rewritten in place per k
    var buf = new Array[Byte](64)
    buf(1) = ':'
    var i = 0
    while (i + 2 < toks.length) {
      val a = toks(i)
      val b = toks(i + 1)
      val c = toks(i + 2)
      val len = 2 + a.length + 1 + b.length + 1 + c.length
      if (buf.length < len) buf = Arrays.copyOf(buf, 2 * len)
      System.arraycopy(a, 0, buf, 2, a.length)
      buf(2 + a.length) = ' '
      System.arraycopy(b, 0, buf, 3 + a.length, b.length)
      buf(3 + a.length + b.length) = ' '
      System.arraycopy(c, 0, buf, 4 + a.length + b.length, c.length)
      var k = 0
      while (k < Hashes) {
        buf(0) = ('0' + k).toByte
        md.update(buf, 0, len)
        md.digest(dig, 0, 16)
        if (Arrays.compareUnsigned(dig, mins(k)) < 0)
          System.arraycopy(dig, 0, mins(k), 0, 16)
        k += 1
      }
      i += 1
    }
    val keys = Array.tabulate[Any](Hashes / 2) { band =>
      val pair = Hex.formatHex(mins(2 * band)) + Hex.formatHex(mins(2 * band + 1))
      UTF8String.fromString(Hex.formatHex(md.digest(pair.getBytes(StandardCharsets.US_ASCII))))
    }
    new GenericArrayData(keys)
  }
}
