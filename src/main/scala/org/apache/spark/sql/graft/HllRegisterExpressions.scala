package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Packed HyperLogLog register-vector kernels for the HyperBall loop
  * (graft.graph.HyperBall): the per-node 64-register sketch lives in
  * ONE 64-byte BINARY column instead of 64 byte columns, so the
  * per-round join/shuffle row is ~70 B instead of the ~520 B an
  * UnsafeRow spends on 64 separate fixed-width fields, and the
  * max-merge is ONE aggregate expression (a tight byte loop) instead
  * of 64 separate `max` aggregates each with its own update
  * projection. Results are bit-identical to the columnar layout —
  * the registers and their max-merge are the same numbers, only the
  * physical row layout changes (oracle parity unaffected).
  */
object HllRegisters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  val R = 64

  /** q42's engine-portable register for one value, as BIGINT
    * `(j, rho)`: j = first md5 byte mod 64, rho = leading-zero bits
    * of the next 13 hex digits + 1 (regexp + a nibble CASE — pure
    * string/integer ops, no log2 float boundary), capped at 40. The
    * one derivation behind q42, q57, HyperBall and the streaming
    * sketch; their oracles mirror it digit for digit. */
  def register(value: Column): (Column, Column) = {
    val h = md5(value.cast("string"))
    val wh = substring(h, 3, 13)
    val lz = length(regexp_extract(wh, "^(0*)", 1))
    val nib = substring(wh, lz + lit(1), lit(1))
    val blen = when(nib === "1", 1).when(nib.isin("2", "3"), 2)
      .when(nib.isin("4", "5", "6", "7"), 3).otherwise(4)
    val rho = when(lz === 13, lit(53))
      .otherwise(lz * 4 + (lit(4) - blen) + 1)
    (conv(substring(h, 1, 2), 16, 10).cast("long") % R,
      least(rho, lit(40)).cast("long"))
  }

  /** `s_scaled` and `v_empty` aggregates over a SPARSE register set
    * (one row per non-empty register, max rank in column `m`):
    * Σ 2^(40−m) plus 2^40 per empty register, and the empty count. */
  def sparseSums(m: String): Seq[Column] = Seq(
    (sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(40 - $m AS INT))"))
      + (lit(R) - count(lit(1))) * lit(1L << 40)).as("s_scaled"),
    (lit(R) - count(lit(1))).cast("long").as("v_empty"))

  /** The estimate over columns `s_scaled` and `v_empty`, in exact
    * integer space: raw = (709·4096·2^40) DIV (1000·S), and below
    * 2.5m the linear-counting correction floor(m·ln(m/V)) — floor of
    * an irrational, so no decimal tie boundary exists (V = 64 ⇒ 0). */
  def estimate: Column = {
    val raw = expr("(709 * 4096 * 1099511627776) DIV (1000 * s_scaled)")
    when(col("v_empty") > 0 && raw < 160,
      floor(lit(64.0) * log(lit(64.0) / col("v_empty"))).cast("long"))
      .otherwise(raw)
  }
}

/** `hll_init(j, rho)` → 64-byte vector with register j = rho, rest
  * 0. Codegen'd. SQL-exposed, so the domain is ENFORCED, not
  * assumed: j outside [0, 64) or rho outside [0, 40] throws a
  * descriptive IllegalArgumentException from both eval and the
  * generated code (rho > 40 would otherwise make hll_scaled_sum's
  * `1L << (40 - rho)` a Java mod-64 negative shift — a silently
  * wrong estimate, the worst failure mode for a sketch). HyperBall
  * itself caps rho at 40; the check costs two branch-predicted
  * compares per row. */
case class HllRegInit(j: Expression, rho: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = j
  override def right: Expression = rho
  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_init"

  override protected def nullSafeEval(jv: Any, rv: Any): Any = {
    val ji = jv.asInstanceOf[Long]
    val ri = rv.asInstanceOf[Long]
    require(ji >= 0 && ji < HllRegisters.R,
      s"hll_init: register index $ji outside [0, ${HllRegisters.R})")
    require(ri >= 0 && ri <= 40,
      s"hll_init: rho $ri outside [0, 40]")
    val out = new Array[Byte](HllRegisters.R)
    out(ji.toInt) = ri.toByte
    out
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (jv, rv) =>
      s"""if ($jv < 0L || $jv >= ${HllRegisters.R}L) {
         |  throw new IllegalArgumentException(
         |    "hll_init: register index " + $jv +
         |    " outside [0, ${HllRegisters.R})");
         |}
         |if ($rv < 0L || $rv > 40L) {
         |  throw new IllegalArgumentException(
         |    "hll_init: rho " + $rv + " outside [0, 40]");
         |}
         |byte[] ${ev.value}_a =
         |  new byte[${HllRegisters.R}];
         |${ev.value}_a[(int) $jv] = (byte) $rv;
         |${ev.value} = ${ev.value}_a;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllRegInit =
    copy(j = newLeft, rho = newRight)
}

/** `hll_scaled_sum(regs)` → Σ_j 2^(40 − rho_j) as BIGINT — the
  * integer-space harmonic denominator of the q42 HLL estimate (an
  * empty register contributes 2^40). Codegen'd byte loop. A
  * register outside [0, 40] throws (eval AND codegen) rather than
  * hitting Java's mod-64 negative shift and returning a silently
  * wrong estimate — matters because the function is SQL-exposed to
  * arbitrary binary inputs, not just HyperBall's capped vectors. */
case class HllScaledSum(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_scaled_sum"

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[Array[Byte]]
    var s = 0L
    var i = 0
    while (i < a.length) {
      val r = a(i)
      require(r >= 0 && r <= 40,
        s"hll_scaled_sum: register value $r outside [0, 40]")
      s += 1L << (40 - r)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""long ${ev.value}_s = 0L;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ($v).length;
         |    ${ev.value}_i++) {
         |  byte ${ev.value}_r = ($v)[${ev.value}_i];
         |  if (${ev.value}_r < 0 || ${ev.value}_r > 40) {
         |    throw new IllegalArgumentException(
         |      "hll_scaled_sum: register value " + ${ev.value}_r +
         |      " outside [0, 40]");
         |  }
         |  ${ev.value}_s += 1L << (40 - ${ev.value}_r);
         |}
         |${ev.value} = ${ev.value}_s;""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): HllScaledSum = copy(child = newChild)
}

/** `hll_empty_count(regs)` → number of zero registers (the linear-
  * counting V statistic). Codegen'd byte loop. */
case class HllEmptyCount(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_empty_count"

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[Array[Byte]]
    var n = 0L
    var i = 0
    while (i < a.length) { if (a(i) == 0) n += 1; i += 1 }
    n
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""long ${ev.value}_n = 0L;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ($v).length;
         |    ${ev.value}_i++) {
         |  if (($v)[${ev.value}_i] == 0) ${ev.value}_n++;
         |}
         |${ev.value} = ${ev.value}_n;""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): HllEmptyCount = copy(child = newChild)
}

/** `bytewise_max(regs)` — aggregate: element-wise max over binary
  * vectors (all inputs must share one length; HyperBall uses 64).
  * The HLL register max-merge as ONE mergeable aggregate with
  * map-side partials — the whole point of the packed layout. */
case class ByteMaxAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bytewise_max"

  override def createAggregationBuffer(): Array[Byte] = null

  private def maxInto(acc: Array[Byte], v: Array[Byte])
    : Array[Byte] =
    if (acc == null) v.clone()
    else {
      require(acc.length == v.length,
        s"bytewise_max length mismatch: ${acc.length} vs ${v.length}")
      var i = 0
      while (i < acc.length) {
        if (v(i) > acc(i)) acc(i) = v(i)
        i += 1
      }
      acc
    }

  override def update(b: Array[Byte], input: InternalRow)
    : Array[Byte] = {
    val v = child.eval(input)
    if (v == null) b else maxInto(b, v.asInstanceOf[Array[Byte]])
  }

  override def merge(b: Array[Byte], o: Array[Byte]): Array[Byte] =
    if (o == null) b else maxInto(b, o)

  override def eval(b: Array[Byte]): Any = b

  // Marker-prefixed so a legitimately ZERO-LENGTH binary buffer and
  // the null (no-input-seen) buffer survive a shuffle round trip as
  // distinct states — serialize(null) = [], serialize(b) = 0x01 ++ b.
  // Without the prefix, empty-binary inputs returned empty locally
  // but null after a shuffle: a partition-count-dependent result
  // (unreachable from HyperBall's fixed 64-byte vectors, but the
  // function is SQL-exposed as bytewise_max).
  override def serialize(b: Array[Byte]): Array[Byte] =
    if (b == null) Array.emptyByteArray
    else {
      val out = new Array[Byte](b.length + 1)
      out(0) = 1
      System.arraycopy(b, 0, out, 1, b.length)
      out
    }

  override def deserialize(bytes: Array[Byte]): Array[Byte] =
    if (bytes.isEmpty) null
    else java.util.Arrays.copyOfRange(bytes, 1, bytes.length)

  override def withNewMutableAggBufferOffset(offset: Int): ByteMaxAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ByteMaxAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ByteMaxAgg =
    copy(child = newChildren(0))
}

object HllRegisterFunctions {
  import org.apache.spark.sql.Column

  def hllInit(j: Column, rho: Column): Column =
    ColumnBridge.column(HllRegInit(ColumnBridge.expression(j),
      ColumnBridge.expression(rho)))

  def hllScaledSum(regs: Column): Column =
    ColumnBridge.column(HllScaledSum(ColumnBridge.expression(regs)))

  def hllEmptyCount(regs: Column): Column =
    ColumnBridge.column(HllEmptyCount(ColumnBridge.expression(regs)))

  def byteMax(regs: Column): Column =
    ColumnBridge.column(
      ByteMaxAgg(ColumnBridge.expression(regs)).toAggregateExpression())
}
