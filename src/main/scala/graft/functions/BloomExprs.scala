package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.unsafe.types.UTF8String

/** PORTABLE Bloom-filter primitives — membership at a fixed byte
  * budget for the 10-billion-key regime where the exact sorted-set
  * probe (`InSortedLongSet`) can no longer hold every key.
  *
  * Everything here is engine-portable by construction (the same house
  * rule as the winnowing/fuzzy gram hashes): the key hashes are two
  * 31/37-multiplier codepoint polynomials mod the Mersenne prime
  * 2^31−1, and bit i's position is the Kirsch–Mitzenmacher double hash
  * (h1 + i·h2) mod m — every step replays in DuckDB BIGINT arithmetic
  * with no overflow, so the ORACLE reproduces the exact bit pattern,
  * false positives included. (Spark's own `stat.bloomFilter` is
  * Murmur3-based and NOT SQL-replayable; it also probes through a
  * scala UDF — off codegen. These expressions are the codegen'd,
  * gate-checkable replacement.)
  *
  * Semantics: no false negatives ever; false-positive rate is the
  * standard (1 − e^(−kn/m))^k, sized by [[graft.llm.Bloom.sizeFor]].
  */
object BloomExprs {

  /** Mersenne prime 2^31−1 — the shared portable-hash modulus. */
  val P: Long = 2147483647L

  private def checkM(fn: String, mBits: Long): Unit =
    require(mBits >= 64 && mBits <= Int.MaxValue.toLong - 63,
      s"$fn: mBits must be in [64, ${Int.MaxValue - 63}], got $mBits " +
        "(a single filter blob is capped at 256 MiB; shard above that " +
        "— Bloom.buildSharded)")

  /** k bit positions of a string key: two codepoint polynomials
    * (31 and 37, mod 2^31−1), then (h1 + i·h2) mod m for i < k. */
  case class BloomKeyPositions(child: Expression, mBits: Int, k: Int)
    extends UnaryExpression {

    checkM("bloom_key_positions", mBits)
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")

    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"bloom_key_positions: key must be a string, got ${other.simpleString}")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "bloom_key_positions"

    def positions(key: UTF8String): GenericArrayData = {
      val s = key.toString
      var h1 = 0L; var h2 = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        h1 = (h1 * 31 + cp) % P
        h2 = (h2 * 37 + cp) % P
      }
      val out = new Array[Long](k)
      var j = 0
      while (j < k) { out(j) = (h1 + j * h2) % mBits; j += 1 }
      new GenericArrayData(out)
    }

    protected override def nullSafeEval(input: Any): Any =
      positions(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomPos", this,
        classOf[BloomKeyPositions].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.positions($c);")
    }

    override protected def withNewChildInternal(c: Expression)
        : BloomKeyPositions = copy(child = c)
  }

  /** OR-folds position arrays into an m-bit filter (binary output,
    * little-endian words). Buffer is a FIXED m/8 bytes at every stage —
    * map-side partials each carry one blob, so size m for the executor
    * heap, not the key count. */
  case class BloomOrAgg(
      child: Expression,
      mBits: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

    checkM("bloom_or_agg", mBits)

    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"bloom_or_agg: expected array<bigint> positions, got ${other.simpleString}")
      }
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def prettyName: String = "bloom_or_agg"

    private def words: Int = (mBits + 63) / 64

    override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val arr = v.asInstanceOf[ArrayData]
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          val pos = arr.getLong(i)
          if (pos < 0 || pos >= mBits) throw new IllegalArgumentException(
            s"bloom_or_agg: position $pos outside [0, $mBits) — " +
              "positions and filter were sized with different mBits")
          buf((pos >> 6).toInt) |= (1L << (pos & 63))
          i += 1
        }
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    override def eval(buf: Array[Long]): Any = {
      val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.asLongBuffer().put(buf)
      bb.array()
    }

    override def serialize(buf: Array[Long]): Array[Byte] =
      eval(buf).asInstanceOf[Array[Byte]]
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val out = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
      out
    }

    override def withNewMutableAggBufferOffset(o: Int): BloomOrAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BloomOrAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): BloomOrAgg =
      copy(child = c)
  }

  /** True iff every position's bit is set in the filter blob. */
  case class BloomTest(left: Expression, right: Expression)
    extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"bloom_test: expected (binary, array<bigint>), got " +
            s"(${l.simpleString}, ${r.simpleString})")
      }
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "bloom_test"

    def test(bloom: Array[Byte], positions: ArrayData): Boolean = {
      val mBits = bloom.length.toLong * 8
      var i = 0
      val n = positions.numElements()
      while (i < n) {
        val pos = positions.getLong(i)
        if (pos < 0 || pos >= mBits) throw new IllegalArgumentException(
          s"bloom_test: position $pos outside the ${mBits}-bit filter — " +
            "probe and filter were sized with different mBits")
        // little-endian words, matching BloomOrAgg's layout
        if ((bloom((pos >> 3).toInt) & (1 << (pos & 7))) == 0) return false
        i += 1
      }
      true
    }

    protected override def nullSafeEval(bloom: Any, positions: Any): Any =
      test(bloom.asInstanceOf[Array[Byte]], positions.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomTest", this,
        classOf[BloomTest].getName)
      nullSafeCodeGen(ctx, ev,
        (b, p) => s"${ev.value} = $ref.test($b, $p);")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): BloomTest = copy(left = l, right = r)
  }

  /** Membership test against a SHARD SET of filter blobs carried by a
    * Spark broadcast HANDLE — the serialized expression ships the
    * handle, not the bytes, so executors fetch the blob array once
    * (torrent) and rows never copy filter bytes. This is the sharded
    * probe's engine: the naive formulation (equi-join the (shard,
    * blob) frame and test the joined column) copies m/8 bytes into
    * EVERY probed row — measured 28 s for 2M rows against a 1.2 MB
    * blob, i.e. unusable exactly at the scales sharding exists for.
    * A missing shard (no reference keys hashed there) is a null array
    * slot → never seen → false. */
  case class BloomTestSharded(
      blobs: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]],
      left: Expression, right: Expression)
    extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (IntegerType, ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"bloom_test_sharded: expected (int shard, array<bigint>), got " +
            s"(${l.simpleString}, ${r.simpleString})")
      }
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "bloom_test_sharded"

    def test(shard: Int, positions: ArrayData): Boolean = {
      val arr = blobs.value
      if (shard < 0 || shard >= arr.length) throw new IllegalArgumentException(
        s"bloom_test_sharded: shard $shard outside [0, ${arr.length}) — " +
          "probe and build used different shard counts")
      val blob = arr(shard)
      if (blob == null) false // no reference keys in this shard
      else {
        val mBits = blob.length.toLong * 8
        var i = 0
        val n = positions.numElements()
        while (i < n) {
          val pos = positions.getLong(i)
          if (pos < 0 || pos >= mBits) throw new IllegalArgumentException(
            s"bloom_test_sharded: position $pos outside the $mBits-bit " +
              "shard filter — probe and build were sized differently")
          if ((blob((pos >> 3).toInt) & (1 << (pos & 7))) == 0) return false
          i += 1
        }
        true
      }
    }

    protected override def nullSafeEval(shard: Any, positions: Any): Any =
      test(shard.asInstanceOf[Int], positions.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomTestSharded", this,
        classOf[BloomTestSharded].getName)
      nullSafeCodeGen(ctx, ev,
        (s, p) => s"${ev.value} = $ref.test($s, $p);")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): BloomTestSharded =
      copy(left = l, right = r)
  }

  def keyPositions(key: Column, mBits: Int, k: Int): Column =
    GraftBridge.column(BloomKeyPositions(GraftBridge.expression(key), mBits, k))

  def orAgg(positions: Column, mBits: Int): Column =
    GraftBridge.column(
      BloomOrAgg(GraftBridge.expression(positions), mBits).toAggregateExpression())

  def test(bloom: Column, positions: Column): Column =
    GraftBridge.column(BloomTest(
      GraftBridge.expression(bloom), GraftBridge.expression(positions)))

  def testSharded(
      blobs: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]],
      shard: Column, positions: Column): Column =
    GraftBridge.column(BloomTestSharded(blobs,
      GraftBridge.expression(shard), GraftBridge.expression(positions)))
}
