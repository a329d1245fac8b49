package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/**
 * Compound per-column profile statistics in ONE aggregate buffer:
 * (n, n_null, n_distinct, mn, mx) over a double column — the exact
 * tier of [[graft.ops.Profile.numericProfile]].
 *
 * Why one buffer (r16, guide §1.2/§4.1): the r15 shape unpivoted the
 * input through `stack` (|cols|× the row count through a Generate),
 * collapsed it to a (column, value, count) table in a hash aggregate
 * whose probe count was rows×|cols| against a table as large as the
 * summed value cardinality, exchanged that table, and derived the five
 * metrics in a second aggregate. This aggregate reads each column ONCE
 * per input row — no stack, no (value → count) table, no mid-plan
 * exchange; the only exchange carries one serialized buffer per
 * (partition, column).
 *
 * Semantics are pinned to the old chain (ProfileCohortsSpec, frozen
 * copy):
 *  - values are NORMALIZED exactly as Spark's hash-aggregate grouping
 *    normalized them: -0.0 → +0.0 and NaN → the canonical NaN (so
 *    n_distinct, mn, mx see the same value classes the old
 *    `groupBy(v)` produced);
 *  - mn/mx use SQL double ordering (NaN greatest, as the old
 *    `min("v")`/`max("v")` over normalized keys did);
 *  - n counts ALL rows (the old sum of per-value counts including the
 *    null group), n_null the null rows, n_distinct the non-null
 *    distinct normalized values;
 *  - empty input evals to (0, 0, 0, null, null) — the empty-frame
 *    contract the |cols|-row restore join relied on.
 *
 * State is an open-addressed long set of `doubleToLongBits(normalized
 * value)` — bounded by the column's value CARDINALITY, the same bound
 * the old counts table had, with `maxEntries` as the loud guard for
 * pathological unbounded domains (use the KMV sketch tier there, same
 * escape hatch as [[LongBucketCounts]]). Merge is set union +
 * integer sums — commutative and associative, so the result is
 * bit-deterministic under any partitioning; eval reads only set SIZE,
 * so insertion order never matters.
 */
case class ColumnStats(
    child: Expression,
    maxEntries: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ColumnStatsBuffer] {

  // serialize() writes 38 + size*8 bytes; cap far below the int-length
  // overflow the same way LongBucketCounts does
  require(maxEntries > 0 && maxEntries <= (Int.MaxValue - 64) / 8,
    s"maxEntries must be in (0, ${(Int.MaxValue - 64) / 8}]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("n_null", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double input, got ${other.sql}")
  }

  override def createAggregationBuffer(): ColumnStatsBuffer =
    new ColumnStatsBuffer(maxEntries)

  override def update(buf: ColumnStatsBuffer, input: InternalRow): ColumnStatsBuffer = {
    val v = child.eval(input)
    if (v == null) { buf.n += 1; buf.nNull += 1 }
    else buf.addValue(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: ColumnStatsBuffer, other: ColumnStatsBuffer): ColumnStatsBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: ColumnStatsBuffer): Any = {
    val row = new GenericInternalRow(5)
    row.setLong(0, buf.n)
    row.setLong(1, buf.nNull)
    row.setLong(2, buf.distinctCount)
    if (buf.hasVal) { row.setDouble(3, buf.mn); row.setDouble(4, buf.mx) }
    else { row.setNullAt(3); row.setNullAt(4) }
    row
  }

  override def serialize(buf: ColumnStatsBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): ColumnStatsBuffer =
    ColumnStatsBuffer.fromBytes(bytes, maxEntries)

  override def withNewMutableAggBufferOffset(o: Int): ColumnStats =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ColumnStats =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(child = cs.head)
  override def prettyName: String = "column_stats"
}

/** Mutable aggregation state for [[ColumnStats]]. The distinct set is
  * open-addressed with 0L as the empty-slot sentinel; the legitimate
  * key 0L (= bits of +0.0, which -0.0 also normalizes to) is tracked
  * by `hasZero` instead of occupying a slot. */
final class ColumnStatsBuffer(maxEntries: Int) {
  var n: Long = 0L
  var nNull: Long = 0L
  var hasVal: Boolean = false
  var mn: Double = 0.0
  var mx: Double = 0.0
  private[functions] var hasZero: Boolean = false
  private[functions] var keys: Array[Long] = new Array[Long](64)
  private[functions] var size: Int = 0

  def distinctCount: Long = size.toLong + (if (hasZero) 1L else 0L)

  /** SQL double ordering on already-normalized values: NaN compares
    * greatest (Double.compare), -0.0 cannot occur post-normalization. */
  private def lt(a: Double, b: Double): Boolean =
    java.lang.Double.compare(a, b) < 0

  def addValue(v0: Double): Unit = {
    n += 1
    // the same normalization Spark applies to hash-aggregate group
    // keys: -0.0 folds into +0.0, NaN folds into the canonical NaN
    // (doubleToLongBits canonicalizes)
    val v = if (v0 == 0.0d) 0.0d else v0
    if (!hasVal) { hasVal = true; mn = v; mx = v }
    else {
      if (lt(v, mn)) mn = v
      if (lt(mx, v)) mx = v
    }
    val bits = java.lang.Double.doubleToLongBits(v)
    if (bits == 0L) hasZero = true else insert(bits)
  }

  private[functions] def insert(bits: Long): Unit = {
    val mask = keys.length - 1
    // Fibonacci scramble spreads consecutive bit patterns over the table
    var i = ((bits * 0x9e3779b97f4a7c15L) >>> 40).toInt & mask
    while (keys(i) != 0L) {
      if (keys(i) == bits) return
      i = (i + 1) & mask
    }
    keys(i) = bits
    size += 1
    if (size > maxEntries)
      throw new IllegalStateException(
        s"column_stats exceeded $maxEntries distinct values - the domain " +
        "is too sparse for the exact profile tier; use the KMV sketch " +
        "tier (exact = false)")
    if (size * 2 > keys.length) grow()
  }

  private def grow(): Unit = {
    val old = keys
    keys = new Array[Long](old.length * 2)
    size = 0
    var i = 0
    while (i < old.length) {
      if (old(i) != 0L) insert(old(i))
      i += 1
    }
  }

  def mergeFrom(other: ColumnStatsBuffer): Unit = {
    n += other.n
    nNull += other.nNull
    if (other.hasVal) {
      if (!hasVal) { hasVal = true; mn = other.mn; mx = other.mx }
      else {
        if (lt(other.mn, mn)) mn = other.mn
        if (lt(mx, other.mx)) mx = other.mx
      }
    }
    hasZero ||= other.hasZero
    var i = 0
    while (i < other.keys.length) {
      if (other.keys(i) != 0L) insert(other.keys(i))
      i += 1
    }
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(38 + size * 8)
    bb.putLong(n); bb.putLong(nNull)
    bb.put(if (hasVal) 1.toByte else 0.toByte)
    bb.putDouble(mn); bb.putDouble(mx)
    bb.put(if (hasZero) 1.toByte else 0.toByte)
    bb.putInt(size)
    var i = 0
    while (i < keys.length) {
      if (keys(i) != 0L) bb.putLong(keys(i))
      i += 1
    }
    bb.array()
  }
}

object ColumnStatsBuffer {
  def fromBytes(bytes: Array[Byte], maxEntries: Int): ColumnStatsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new ColumnStatsBuffer(maxEntries)
    buf.n = bb.getLong; buf.nNull = bb.getLong
    buf.hasVal = bb.get() == 1
    buf.mn = bb.getDouble; buf.mx = bb.getDouble
    buf.hasZero = bb.get() == 1
    val m = bb.getInt
    // size the table once for the incoming set (load factor ≤ 0.5)
    var cap = 64
    while (cap < m * 2) cap <<= 1
    buf.keys = new Array[Long](cap)
    var i = 0
    while (i < m) { buf.insert(bb.getLong); i += 1 }
    buf
  }
}

object ColumnStatsAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression => toExpr}

  /** Compound (n, n_null, n_distinct, mn, mx) over a double column in
    * one buffer. `maxEntries` bounds the distinct set per buffer —
    * 2^23 keeps an order of magnitude of headroom over the densest
    * gate column at 10× the bench scale while capping worst-case state
    * at the same order as [[HistAgg.bucket_counts]]'s guard. */
  def column_stats(c: Column, maxEntries: Int = 1 << 23): Column =
    column(ColumnStats(toExpr(c), maxEntries).toAggregateExpression())
}
