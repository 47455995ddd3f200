package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Membership of a LONG bit position in a fixed bit-set carried by the
  * expression itself — the Bloom-filter probe of every decontamination
  * gate (q102's union filter, q125's per-benchmark filters, and their
  * streaming form), reached only through `Sketches.bloomHit`.
  *
  * Why a custom Catalyst Expression (SURVEY §7.3 escape hatch): the
  * serialized filter must ride the PLAN, not a join. Two composable forms
  * failed structurally, both measured in round 18:
  *  - `substr` over the 64 KiB hex-string literal: UTF8String.substring is
  *    a linear byte scan, and ~80 such scans per shingle made q125 the most
  *    expensive query in the suite (24.7 s warm at sf0.1);
  *  - `element_at` over a 2^18-element array literal: O(1) per probe, but
  *    Spark stringifies every literal into each plan node it appears in
  *    (UI descriptions, explain, canonicalization) and ~80 references ×
  *    262,144 rendered elements OOMed an 8 GB driver during planning.
  * This expression stores the set as UNBOXED longs shipped once per
  * task via `ctx.addReferenceObj`, probes with one mask + index + shift
  * inside whole-stage codegen, and renders as a constant-size tag — the
  * payload never prints. The set's size is the array length (a power of
  * two), and the incoming position is masked to it — so per-benchmark
  * filters sized individually (r19) probe through the same expression,
  * and a position in a larger power-of-two space folds down by exactly
  * the mod-m arithmetic the hash definition uses.
  *
  * Bit layout: bit p lives at word p >> 6, bit p & 63 — built by
  * Sketches.hexBitWords from the packBitsHex serialization (the layout
  * SketchesSpec pins). Equality is by array REFERENCE (plus tag), which is
  * sound here: each benchmark's word array is built once and shared by its
  * k probes, so common-subexpression elimination still sees identical
  * children, while two genuinely different sets never compare equal.
  */
case class BitSetContains(child: Expression, bits: Array[Long], tag: String)
    extends UnaryExpression {

  // the set's size IS the array length (r19, verdict r18 item 2: the
  // per-benchmark filters are sized individually, so the old require
  // pinning one global width would reject every right-sized filter);
  // power-of-two so the position folds in with one AND — callers pass
  // positions in a space the set's size divides (the 24-bit raw md5
  // value, or a coarser power-of-two reduction of it) and the mask IS
  // the mod, `raw mod m` for every filter width
  require(bits.length > 0 && (bits.length & (bits.length - 1)) == 0,
    s"bit-set must be a positive power-of-two word count, got ${bits.length}")

  private val mask: Long = bits.length.toLong * 64L - 1L

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_bitset_contains expects a LONG position, got ${child.dataType}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bitset_contains"

  override def nullSafeEval(p: Any): Any = {
    val i = p.asInstanceOf[Long] & mask
    ((bits((i >>> 6).toInt) >>> (i & 63L).toInt) & 1L) == 1L
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => {
      val ref = ctx.addReferenceObj("graftBits", bits, "long[]")
      s"${ev.value} = ((($ref[(int)(($p & ${mask}L) >>> 6)] " +
        s">>> (int)($p & 63L)) & 1L) == 1L);"
    })

  // compact rendering everywhere a plan is stringified — the payload must
  // never print (see the scaladoc's OOM note)
  override def toString: String = s"graft_bitset_contains($tag, $child)"
  override def sql: String = s"graft_bitset_contains('$tag', ${child.sql})"

  override protected def withNewChildInternal(newChild: Expression): BitSetContains =
    copy(child = newChild)
}

object BitSetContains {
  def apply(pos: Column, bits: Array[Long], tag: String): Column =
    GraftBridge.column(BitSetContains(GraftBridge.expression(pos), bits, tag))
}
