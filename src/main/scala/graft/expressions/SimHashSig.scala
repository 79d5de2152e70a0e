package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the whole per-document 64-bit SimHash
  * signature (Charikar STOC'02, at the Manku WWW'07 64-bit operating
  * point q80 indexes): pre-normalized string in (the caller applies the
  * exact `trim(lower(text))` the oracle applies, so case/trim parity is
  * by construction), the 64-character '0'/'1' signature out.
  *
  * This is the [[WinnowFingerprints]] promotion applied to q80's
  * signature leg. The declarative form was already the right algebra —
  * one hash aggregate with 64 conditional-sum columns, zero row fanout
  * beyond the token explode — but it still paid, per DISTINCT token:
  * a 32-hex-char md5 STRING materialization, four substring+conv
  * parses, and 64 aggregation-buffer updates through codegen'd but
  * column-at-a-time sum states; and per doc, a hash-aggregate exchange
  * carrying 64 long columns. One native expression computes the whole
  * signature map-side per doc: tokens split and de-duplicated with one
  * hash set, MD5 taken as raw BYTES (no hex round-trip — the oracle's
  * `md5(tok)` hex digits are these bytes' nibbles, bit b of the
  * signature being bit `7-(b&7)` of digest byte `b>>3`), votes
  * accumulated in one primitive int[64]. The signature definition is
  * UNCHANGED — `sum(2*bit(md5(token), b) - 1) > 0` over distinct
  * tokens — so q80's DuckDB oracle pins the rewrite value-exactly, and
  * the q80 plan loses both the token-row explode and the 64-column
  * signature exchange (the only remaining shuffle is the chunk-index
  * candidate join, which is the operator's actual work).
  *
  * Codegen: the generated code calls the static helper on the
  * UTF8String directly ([[NormalizeBasic]]'s pattern), one virtual call
  * per DOC, keeping the projection inside whole-stage codegen.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires a string argument, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SimHashSig.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {

  /** The q37/q80 whitespace tokenizer — Java regex split with limit -1,
    * exactly Spark's `split(s, '[ \t\n\f\r]+')` and DuckDB's
    * `string_split_regex` on the same class (a pre-trimmed input has no
    * trailing separators, so no trailing empties; a leading non-space
    * whitespace char survives trim on BOTH engines and yields the same
    * leading empty token here as there). [[MinHashBands]] tokenizes with
    * it too.
    */
  private[expressions] val SplitRe = java.util.regex.Pattern.compile("[ \t\n\f\r]+")

  private[expressions] val Digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Static entry point shared by interpreted + generated code paths. */
  def compute(s: UTF8String): UTF8String = {
    val votes = new Array[Int](64)
    val toks = SplitRe.split(s.toString, -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val md = Digest.get()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        val dig = md.digest(t.getBytes(StandardCharsets.UTF_8))
        var b = 0
        while (b < 64) {
          // signature bit b = bit 3-(b%4) of hex digit b/4 of the md5,
          // i.e. bit 7-(b&7) of digest byte b>>3
          if (((dig(b >> 3) >> (7 - (b & 7))) & 1) == 1) votes(b) += 1
          else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    val out = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      out(b) = if (votes(b) > 0) '1' else '0'
      b += 1
    }
    UTF8String.fromBytes(out)
  }
}
