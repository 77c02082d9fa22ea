package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import java.nio.ByteBuffer

/** MinHash signature as a single-pass native aggregate.
  *
  * One buffer of `numHashes` running minima per group replaces the
  * 64-separate-`min()`-columns formulation: one aggregate expression
  * instead of 64, one buffer update per input row, and partial/merge
  * support means the sketch combines map-side like any other aggregate —
  * the property that matters when each group's tokens span many
  * partitions at 100 TB.
  *
  * Hash family: h_i(x) = (a_i·x + b_i) mod p with p = 2^31−1 and (a_i,
  * b_i) drawn from a seeded generator, the standard universal-hash
  * construction for MinHash sketches (Broder's scheme).
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    seed: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val P = 2147483647L // 2^31 − 1, prime

  @transient private lazy val ab: Array[(Long, Long)] =
    MinHashAgg.hashParams(numHashes, seed)

  /** update() casts the input to Long, so require LongType at analysis
    * time — a ClassCastException mid-job is the wrong failure mode. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(
      s"minhash_agg requires a BIGINT input (e.g. pmod(xxhash64(x), ${P})), " +
        s"got ${child.dataType.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val h = java.lang.Math.floorMod(ab(i)._1 * x + ab(i)._2, P)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "minhash_agg"

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashAgg {
  private val P = 2147483647L // 2^31 − 1, prime

  /** The (a_i, b_i) universal-hash family for a given (numHashes, seed) —
    * THE contract between this aggregate and the fused per-row kernel
    * [[MinHashSig]] (pinned bit-identical in MinHashSigSpec): both must
    * draw from here or their sketches silently diverge. The kernel's one
    * caller is `DedupOps.lshDocFrame`, which the streaming near-dup gate
    * also bands through, so no other copy of the signature exists. */
  def hashParams(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((1 + rnd.nextLong().abs % (P - 1), rnd.nextLong().abs % P))
  }

  /** Aggregate Column: minhash signature (array<long>) of a long-hash
    * column. Input should already be a stable per-token hash (e.g.
    * `pmod(xxhash64(word), 2^31−1)`). */
  def minhash_agg(hashCol: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    Bridge.column(
      MinHashAgg(Bridge.expression(hashCol), numHashes, seed)
        .toAggregateExpression())
}
