package graft.plans

import java.nio.ByteBuffer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass one-permutation-hashing MinHash signature as a native
  * `TypedImperativeAggregate`: the buffer is the signature itself
  * (`numHashes` bucket minima over the input hash column), updated in a
  * tight loop, merged elementwise — map-side partial signatures combine
  * before the shuffle exactly like any algebraic aggregate. Replaces the
  * `numHashes`-separate-min-aggregates formulation with one buffer and
  * one pass (semantics identical to [[graft.operators.Dedup.minhashSignature]]:
  * bucket = pmod(h, numHashes), empty buckets filled by rotation
  * densification — borrow the first non-empty bucket scanning forward).
  */
case class MinHashAgg(child: Expression, numHashes: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires a BIGINT hash column, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val b = ((h % numHashes) + numHashes).toInt % numHashes
      if (h < buf(b)) buf(b) = h
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    // Rotation densification (densified OPH, Shrivastava & Li): an empty
    // bucket borrows the first non-empty bucket scanning FORWARD from it
    // (i+1, i+2, … mod k). Unlike the global-min+i fill this used to do,
    // a new shingle perturbs only the buckets that borrow from the bucket
    // it lands in — not every empty bucket at once — so signatures of
    // SHORT documents (fewer shingles than buckets) stay stable under
    // small edits and banding recall holds (SplitLeakageSpec's 30-word
    // corpus is the regression case).
    val out = new Array[Long](numHashes)
    var i = 0
    var anyFilled = false
    while (i < numHashes) {
      var v = buf(i)
      var j = 1
      while (v == Long.MaxValue && j < numHashes) {
        v = buf((i + j) % numHashes)
        j += 1
      }
      if (v != Long.MaxValue) anyFilled = true
      out(i) = v
      i += 1
    }
    // EVERY bucket empty (no non-null input at all): emit NULL, matching
    // the columnar Dedup.minhashSignature rotation form — an all-MaxValue
    // signature would band-collide with any other empty-input group
    if (!anyFilled) null else new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(numHashes * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null only for an all-empty input group (see eval)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashAgg =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "minhash_sig"
}

object MinHashAgg {
  /** Register `minhash_sig(hashCol)` with a fixed signature width. */
  def register(spark: SparkSession, numHashes: Int = 64): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig",
      exprs => MinHashAgg(exprs.head, numHashes).toAggregateExpression(),
      "built-in")

  def minhashSig(hashCol: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", hashCol)
}

/** The row-local form of [[MinHashAgg]]: the OPH signature of ONE
  * `array<bigint>` value, for a frame that already holds each document's
  * hashes in one row, so the signature needs no explode and no group-by
  * shuffle. It runs the aggregate's own `update` (bucket minimum) over the
  * array's elements and its `eval` (rotation densification) on the
  * result, so the two forms give the same signature for the same hashes.
  * Null for a null or empty array (the aggregate's empty-group null).
  */
case class MinHashSigOf(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_of requires an ARRAY<BIGINT> column, got ${other.catalogString}")
  }

  // one aggregate and input slot per deserialized expression instance;
  // expression trees are task-local in execution, so no sharing
  @transient private lazy val agg =
    MinHashAgg(BoundReference(0, LongType, nullable = false), numHashes)
  @transient private lazy val slot = new SpecificInternalRow(Seq(LongType))

  override def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val buf = agg.createAggregationBuffer()
    var i = 0
    while (i < hashes.numElements()) {
      if (!hashes.isNullAt(i)) {
        slot.setLong(0, hashes.getLong(i))
        agg.update(buf, slot)
      }
      i += 1
    }
    agg.eval(buf)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): MinHashSigOf =
    copy(child = c)
  override def prettyName: String = "minhash_sig_of"
}

object MinHashSigOf {
  /** Register `minhash_sig_of(hashes)` with a fixed signature width. */
  def register(spark: SparkSession, numHashes: Int = 64): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig_of", exprs => MinHashSigOf(exprs.head, numHashes), "built-in")

  def minhashSigOf(hashes: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig_of", hashes)
}
