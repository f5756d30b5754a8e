package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Native bounded posting list: per group (a shingle), the long ids of
  * its rows — duplicates kept — or null once the group holds more than
  * `cap` rows. The per-shingle exchange of the near-dup Jaccard kernel
  * ([[graft.operators.Dedup.ngramJaccardPairs]]).
  *
  * Semantics are EXACTLY [[Aggregators.CappedIds]] (the typed reference,
  * asserted equal to this one in AggregatorsSpec):
  *  - every input row counts toward the cap, a null id included (a null
  *    id is counted, never listed);
  *  - a group of at most `cap` rows evaluates to its non-null ids sorted
  *    ascending, so the result does not depend on update/merge order;
  *  - a group of more than `cap` rows evaluates to null (overflow).
  *
  * Why not `collect_list` + a size filter: that buffer grows with the
  * group, so a stop-word shingle costs O(freq) memory and shuffle. Here
  * a buffer holds at most `cap` ids; the row that overflows it drops the
  * ids, and an overflowed buffer ignores later rows and merges — a hot
  * shingle ships a 4-byte marker. `cap = Int.MaxValue` is "no cap":
  * rows are not counted and the buffer never overflows.
  */
case class CappedIdsAgg(id: Expression, cap: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedIdsAgg.Buf] {
  require(cap > 0, s"cap must be positive, got $cap")

  override def children: Seq[Expression] = Seq(id)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (id.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"capped_ids needs a bigint id, got ${id.dataType.simpleString}")

  override def createAggregationBuffer(): CappedIdsAgg.Buf =
    new CappedIdsAgg.Buf(cap)

  override def update(b: CappedIdsAgg.Buf, row: InternalRow): CappedIdsAgg.Buf = {
    val v = id.eval(row)
    if (v == null) b.addNull() else b.add(v.asInstanceOf[Long])
    b
  }

  override def merge(b: CappedIdsAgg.Buf, o: CappedIdsAgg.Buf): CappedIdsAgg.Buf = {
    b.merge(o)
    b
  }

  override def eval(b: CappedIdsAgg.Buf): Any =
    if (b.overflowed) null
    else {
      val out = java.util.Arrays.copyOf(b.ids, b.size)
      java.util.Arrays.sort(out)
      UnsafeArrayData.fromPrimitiveArray(out)
    }

  // ids as 8-byte words, then — capped, and only when it differs from
  // the id count (a null was counted, or the overflow marker) — the row
  // count as a 4-byte tail: a rare shingle's one-id partial ships 8 bytes
  override def serialize(b: CappedIdsAgg.Buf): Array[Byte] = {
    val tail = cap != Int.MaxValue && b.rows != b.size
    val bb = java.nio.ByteBuffer.allocate(b.size * 8 + (if (tail) 4 else 0))
    var i = 0
    while (i < b.size) { bb.putLong(b.ids(i)); i += 1 }
    if (tail) bb.putInt(b.rows)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedIdsAgg.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new CappedIdsAgg.Buf(cap)
    val n = bytes.length / 8
    b.ids = new Array[Long](math.max(n, 1))
    var i = 0
    while (i < n) { b.ids(i) = bb.getLong; i += 1 }
    b.size = n
    b.rows = if (bytes.length % 8 != 0) bb.getInt else if (cap == Int.MaxValue) 0 else n
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedIdsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedIdsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CappedIdsAgg =
    copy(id = newChildren(0))
  override def prettyName: String = "capped_ids"
}

object CappedIdsAgg {
  /** Growable id array plus a saturating row count. Invariants: when
    * capped, `rows` ≤ cap + 1 and `overflowed` ⇔ `rows` > cap ⇒ `size`
    * = 0; otherwise `size` ≤ `rows` ≤ cap. Uncapped, `rows` stays 0.
    */
  final class Buf(cap: Int) {
    private val capped = cap != Int.MaxValue
    var rows: Int = 0
    var size: Int = 0
    var ids: Array[Long] = new Array[Long](math.min(cap, 4))

    def overflowed: Boolean = capped && rows > cap

    private def overflow(): Unit = {
      rows = cap + 1; size = 0; ids = Array.emptyLongArray
    }

    /** Count `n` more rows; true when the buffer may still list ids. */
    private def count(n: Int): Boolean =
      if (!capped) true
      else if (rows > cap) false
      else if (n > cap - rows) { overflow(); false }
      else { rows += n; true }

    private def reserve(n: Int): Unit =
      if (n > ids.length) {
        val grown = math.max(n, math.min(ids.length.toLong * 2, Int.MaxValue - 8L).toInt)
        ids = java.util.Arrays.copyOf(ids, if (capped) math.min(grown, cap) else grown)
      }

    def add(id: Long): Unit =
      if (count(1)) { reserve(size + 1); ids(size) = id; size += 1 }

    def addNull(): Unit = count(1)

    def merge(o: Buf): Unit =
      if (o.overflowed) overflow()
      else if (count(o.rows)) {
        reserve(size + o.size)
        System.arraycopy(o.ids, 0, ids, size, o.size)
        size += o.size
      }
  }
}
