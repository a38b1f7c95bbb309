package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._

/**
 * Exact per-key row counts as a single map<int,bigint> aggregate — the
 * observed-metric kernel for per-range-bucket sizes in
 * `TextOps.buildVocab`: attached via `Dataset.observe`, the bucket
 * histogram rides the checkpoint action that pins the range shuffle, so
 * the driver learns every bucket's size without a second job over the
 * bucketed frame.
 *
 * State is one counter per DISTINCT key, so this is safe exactly when the
 * key space is bounded (partition ids, bucket ids, band ids) — it is not
 * a general group-by replacement. Per-row cost is one hash-map update,
 * independent of the key-space size (unlike a `sum(when(k===b,..))` pivot,
 * whose per-row cost grows with the bucket count).
 */
case class CountByIntKey(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Int, Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_count_by_key expects int, got ${child.dataType}")

  override def dataType: DataType = MapType(IntegerType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_count_by_key"

  override def createAggregationBuffer(): mutable.HashMap[Int, Long] =
    mutable.HashMap.empty[Int, Long]

  override def update(buf: mutable.HashMap[Int, Long],
                      input: InternalRow): mutable.HashMap[Int, Long] = {
    val k = child.eval(input)
    if (k != null) {
      val key = k.asInstanceOf[Int]
      buf.update(key, buf.getOrElse(key, 0L) + 1L)
    }
    buf
  }

  override def merge(a: mutable.HashMap[Int, Long],
                     b: mutable.HashMap[Int, Long]): mutable.HashMap[Int, Long] = {
    b.foreach { case (k, v) => a.update(k, a.getOrElse(k, 0L) + v) }
    a
  }

  override def eval(buf: mutable.HashMap[Int, Long]): Any = {
    // deterministic entry order (sorted keys) so the observed metric value
    // is bit-stable across runs and merge orders
    val entries = buf.toArray.sortBy(_._1)
    ArrayBasedMapData(entries.map(_._1), entries.map(_._2))
  }

  // @transient: unlike the shuffle-only aggregates, this one rides an
  // AggregatingAccumulator (observe path) that is JAVA-serialized back to
  // the driver; an initialized codegen'd projection field is not
  // serializable and must re-derive on the other side
  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: mutable.HashMap[Int, Long]): Array[Byte] =
    projection.apply(InternalRow(eval(buf))).getBytes

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Int, Long] = {
    val buf = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val m = row.getMap(0)
    val keys = m.keyArray()
    val values = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      buf.update(keys.getInt(i), values.getLong(i))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountByIntKey =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountByIntKey =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountByIntKey =
    copy(child = newChild)
}
