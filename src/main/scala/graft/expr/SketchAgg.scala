package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.core.{CountMin, CountingBloom, CuckooFilter, Hll, Kmv, SpaceSaving, TDigest}

/**
 * Mergeable sketches as Spark aggregates: one build aggregate
 * ([[SketchAgg]]), one merge aggregate ([[SketchMergeAgg]]), one
 * membership probe ([[SketchMightContain]]) and one subtract
 * ([[SketchSubtract]]), each driven by a small per-sketch codec.
 *
 * A sketch comes in two halves:
 *  - its [[SketchFormat]] (byte format + merge) — parameter-free, since
 *    the shape travels inside the blob; all a merge, probe or subtract
 *    needs;
 *  - a [[SketchCodec]] (create + add + result) — a case class whose
 *    fields are the sketch's parameters. The codec is itself a field of
 *    [[SketchAgg]], so two calls that differ only in a parameter (two
 *    `bloom_agg`s with different fpp) never compare equal and Catalyst
 *    never de-duplicates them into one aggregate.
 *
 * Partial aggregation applies to all of them: map tasks fold their rows
 * into one buffer per group and only serialized sketches cross the
 * exchange (SketchAggSpec asserts the plan shape for every function).
 */
abstract class SketchFormat[T] extends Serializable {
  /** SQL name stem: `<name>_agg`, `<name>_merge_agg`, `<name>_subtract`. */
  def name: String
  def merge(buf: T, other: T): T
  def serialize(buf: T): Array[Byte]
  def deserialize(bytes: Array[Byte]): T
}

/** A membership filter over LONG keys (the URL-seen pre-filters). */
abstract class FilterFormat[T] extends SketchFormat[T] {
  def probeName: String = s"${name}_might_contain"
  def mightContain(filter: T, key: Long): Boolean
}

/** A filter that can retire keys: `subtract(state, delta)` removes a
  * same-shape filter built over keys that were inserted into `state`. */
abstract class DeletableFormat[T] extends FilterFormat[T] {
  def subtract(state: T, delta: T): T
}

/** The build half of a sketch: parameters (as case-class fields of the
  * implementing class), input types, and how rows enter a buffer. */
abstract class SketchCodec[T](val format: SketchFormat[T]) extends Serializable {
  def inputTypes: Seq[DataType]
  def create(): T
  /** Fold one row's inputs, all non-null, in `inputTypes` order. */
  def add(buf: T, in: Array[Any]): Unit
  def resultType: DataType = BinaryType
  def result(buf: T): Any = format.serialize(buf)
}

object SketchAgg {
  def checkTypes(name: String, args: Seq[Expression],
                 want: Seq[DataType]): TypeCheckResult =
    if (args.map(_.dataType) == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${want.map(_.sql).mkString(", ")}), got " +
        s"(${args.map(_.dataType.sql).mkString(", ")})")
}

/** `<name>_agg(inputs…)` — build one sketch per group; a row with any
  * null input is skipped. */
case class SketchAgg[T](
    children: Seq[Expression],
    codec: SketchCodec[T],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[T] {

  override def prettyName: String = s"${codec.format.name}_agg"
  override def dataType: DataType = codec.resultType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    SketchAgg.checkTypes(prettyName, children, codec.inputTypes)

  @transient private lazy val inputs = children.toArray
  @transient private lazy val row = new Array[Any](inputs.length)

  override def createAggregationBuffer(): T = codec.create()

  override def update(buf: T, input: InternalRow): T = {
    var i = 0
    while (i < inputs.length) {
      row(i) = inputs(i).eval(input)
      if (row(i) == null) return buf
      i += 1
    }
    codec.add(buf, row)
    buf
  }

  override def merge(buf: T, other: T): T = codec.format.merge(buf, other)
  override def eval(buf: T): Any = codec.result(buf)
  override def serialize(buf: T): Array[Byte] = codec.format.serialize(buf)
  override def deserialize(bytes: Array[Byte]): T = codec.format.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchAgg[T] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchAgg[T] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SketchAgg[T] = copy(children = c)
}

/**
 * `<name>_merge_agg(blob)` — fold serialized sketches of one shape. For
 * the bloom, counting-bloom, HLL, KMV and count-min formats the merge of
 * per-round deltas into carried state is byte-identical to a one-shot
 * build over the union (the incremental-state property the seen filter
 * rests on); cuckoo merges are answer-identical and t-digest merges keep
 * the rank-error bound. No identity element exists without the shape,
 * so the buffer is null until the first blob arrives.
 */
case class SketchMergeAgg[T >: Null](
    child: Expression,
    format: SketchFormat[T],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[T] with UnaryLike[Expression] {

  override def prettyName: String = s"${format.name}_merge_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SketchAgg.checkTypes(prettyName, children, Seq(BinaryType))

  override def createAggregationBuffer(): T = null

  override def update(buf: T, input: InternalRow): T = {
    val v = child.eval(input)
    if (v == null) buf else merge(buf, format.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buf: T, other: T): T =
    if (buf == null) other
    else if (other == null) buf
    else format.merge(buf, other)

  override def eval(buf: T): Any = if (buf == null) null else format.serialize(buf)
  override def serialize(buf: T): Array[Byte] =
    if (buf == null) Array.emptyByteArray else format.serialize(buf)
  override def deserialize(bytes: Array[Byte]): T =
    if (bytes.isEmpty) null else format.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg[T] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg[T] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SketchMergeAgg[T] =
    copy(child = c)
}

/**
 * `might_contain(blob, key)` and kin — true if the serialized filter may
 * contain the LONG key. Deserialization is cached per byte-array
 * identity (the broadcast/bucket join hands every row in a partition the
 * SAME array instance, so the cache hits after the first row).
 * Deliberately non-codegen: the pre-filter sits outside the per-byte hot
 * path and the cache is simpler to reason about in interpreted eval.
 */
case class SketchMightContain[T](left: Expression, right: Expression,
                                 format: FilterFormat[T])
  extends BinaryExpression with codegen.CodegenFallback {

  override def prettyName: String = format.probeName
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SketchAgg.checkTypes(prettyName, children, Seq(BinaryType, LongType))

  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedFilter: T = _

  override protected def nullSafeEval(blob: Any, key: Any): Any = {
    val bytes = blob.asInstanceOf[Array[Byte]]
    if (cachedBytes ne bytes) {
      cachedFilter = format.deserialize(bytes)
      cachedBytes = bytes
    }
    format.mightContain(cachedFilter, key.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SketchMightContain[T] = copy(left = l, right = r)
}

/** `<name>_subtract(state, delta)` — retire a deletion batch (a filter
  * of the SAME shape over the deleted keys) from filter state. Deleted
  * keys must have been inserted (the deletable filters' contract). */
case class SketchSubtract[T](left: Expression, right: Expression,
                             format: DeletableFormat[T])
  extends BinaryExpression with codegen.CodegenFallback {

  override def prettyName: String = s"${format.name}_subtract"
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    SketchAgg.checkTypes(prettyName, children, Seq(BinaryType, BinaryType))

  override protected def nullSafeEval(state: Any, delta: Any): Any =
    format.serialize(format.subtract(
      format.deserialize(state.asInstanceOf[Array[Byte]]),
      format.deserialize(delta.asInstanceOf[Array[Byte]])))

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SketchSubtract[T] = copy(left = l, right = r)
}

// ---- the sketches: one format object each, its codec nested inside ----

/** Partitioned Bloom filter for the URL-seen pre-filter (SURVEY.md
  * §2.10): `groupBy(pmod(urlHash, B)).agg(bloom_agg(urlHash, n, fpp))`
  * yields B executor-sized filters. Same-shape filters OR-merge exactly
  * (bit union = filter of the set union). Spark's own
  * BloomFilterAggregate is not public API — this is our own. */
object BloomSketch extends FilterFormat[BloomFilter] {
  val name = "bloom"
  override val probeName = "might_contain"
  def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = buf.mergeInPlace(other)
  def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }
  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  def mightContain(f: BloomFilter, key: Long): Boolean = f.mightContainLong(key)

  case class Build(expectedItems: Long, fpp: Double)
      extends SketchCodec[BloomFilter](BloomSketch) {
    def inputTypes: Seq[DataType] = Seq(LongType)
    def create(): BloomFilter = BloomFilter.create(math.max(expectedItems, 1L), fpp)
    def add(buf: BloomFilter, in: Array[Any]): Unit = buf.putLong(in(0).asInstanceOf[Long])
  }
}

/** Counting Bloom filter — the DELETABLE seen pre-filter (see
  * [[graft.core.CountingBloom]]): counters are sums, so add and subtract
  * of same-shape filters are exact, byte for byte. */
object CountingBloomSketch extends DeletableFormat[CountingBloom] {
  val name = "cbloom"
  def merge(buf: CountingBloom, other: CountingBloom): CountingBloom = buf.mergeInPlace(other)
  def serialize(buf: CountingBloom): Array[Byte] = buf.serialize
  def deserialize(bytes: Array[Byte]): CountingBloom = CountingBloom.deserialize(bytes)
  def mightContain(f: CountingBloom, key: Long): Boolean = f.mightContain(key)
  def subtract(state: CountingBloom, delta: CountingBloom): CountingBloom =
    state.subtractInPlace(delta)

  case class Build(expectedItems: Long, fpp: Double)
      extends SketchCodec[CountingBloom](CountingBloomSketch) {
    def inputTypes: Seq[DataType] = Seq(LongType)
    def create(): CountingBloom = CountingBloom.create(math.max(expectedItems, 1L), fpp)
    def add(buf: CountingBloom, in: Array[Any]): Unit = buf.add(in(0).asInstanceOf[Long])
  }
}

/** Cuckoo filter — the COMPACT deletable seen pre-filter (see
  * [[graft.core.CuckooFilter]]). Merge and subtract are multiset
  * operations: answers equal a rebuild, bytes depend on merge order, so
  * never hash or compare the blob itself. */
object CuckooSketch extends DeletableFormat[CuckooFilter] {
  val name = "cuckoo"
  def merge(buf: CuckooFilter, other: CuckooFilter): CuckooFilter = buf.mergeInPlace(other)
  def serialize(buf: CuckooFilter): Array[Byte] = buf.serialize
  def deserialize(bytes: Array[Byte]): CuckooFilter = CuckooFilter.deserialize(bytes)
  def mightContain(f: CuckooFilter, key: Long): Boolean = f.mightContain(key)
  def subtract(state: CuckooFilter, delta: CuckooFilter): CuckooFilter =
    state.subtractEntriesOf(delta)

  case class Build(expectedItems: Long) extends SketchCodec[CuckooFilter](CuckooSketch) {
    def inputTypes: Seq[DataType] = Seq(LongType)
    def create(): CuckooFilter = CuckooFilter.create(math.max(expectedItems, 1L))
    def add(buf: CuckooFilter, in: Array[Any]): Unit = buf.add(in(0).asInstanceOf[Long])
  }
}

/** HyperLogLog distinct count of pre-hashed LONGs (see
  * [[graft.core.Hll]]); register-max merge, byte-identical to a rebuild.
  * At 10^10 URLs the per-host distinct state is m bytes, never a set. */
object HllSketch extends SketchFormat[Hll] {
  val name = "hll"
  def merge(buf: Hll, other: Hll): Hll = buf.mergeInPlace(other)
  def serialize(buf: Hll): Array[Byte] = buf.serialize()
  def deserialize(bytes: Array[Byte]): Hll = Hll.deserialize(bytes)

  case class Build(p: Int) extends SketchCodec[Hll](HllSketch) {
    def inputTypes: Seq[DataType] = Seq(LongType)
    def create(): Hll = new Hll(p)
    def add(buf: Hll, in: Array[Any]): Unit = buf.add(in(0).asInstanceOf[Long])
  }
}

/** KMV / theta set sketch of pre-hashed LONGs (see [[graft.core.Kmv]]):
  * the k smallest distinct hashes, exact below k, with set-operation
  * readers; k-smallest-of-union merge in any order is byte-identical. */
object KmvSketch extends SketchFormat[Kmv] {
  val name = "kmv"
  def merge(buf: Kmv, other: Kmv): Kmv = buf.mergeInPlace(other)
  def serialize(buf: Kmv): Array[Byte] = buf.serialize()
  def deserialize(bytes: Array[Byte]): Kmv = Kmv.deserialize(bytes)

  case class Build(k: Int) extends SketchCodec[Kmv](KmvSketch) {
    def inputTypes: Seq[DataType] = Seq(LongType)
    def create(): Kmv = Kmv.create(k)
    def add(buf: Kmv, in: Array[Any]): Unit = buf.add(in(0).asInstanceOf[Long])
  }
}

/** Count-min point frequencies of pre-hashed LONG keys with LONG weights
  * (see [[graft.core.CountMin]]); vector-add merge, byte-identical. */
object CountMinSketch extends SketchFormat[CountMin] {
  val name = "count_min"
  def merge(buf: CountMin, other: CountMin): CountMin = buf.mergeInPlace(other)
  def serialize(buf: CountMin): Array[Byte] = buf.serialize()
  def deserialize(bytes: Array[Byte]): CountMin = CountMin.deserialize(bytes)

  case class Build(depth: Int, width: Int) extends SketchCodec[CountMin](CountMinSketch) {
    def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    def create(): CountMin = CountMin.create(depth, width)
    def add(buf: CountMin, in: Array[Any]): Unit =
      buf.add(in(0).asInstanceOf[Long], in(1).asInstanceOf[Long])
  }
}

/** t-digest quantiles of DOUBLEs (see [[graft.core.TDigest]]). Merged
  * bytes depend on merge order; only the O(1/δ) rank-error bound is
  * invariant, so queries assert the bound, not the blob. */
object TDigestSketch extends SketchFormat[TDigest] {
  val name = "tdigest"
  def merge(buf: TDigest, other: TDigest): TDigest = buf.mergeInPlace(other)
  def serialize(buf: TDigest): Array[Byte] = buf.serialize()
  def deserialize(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)

  case class Build(delta: Double) extends SketchCodec[TDigest](TDigestSketch) {
    def inputTypes: Seq[DataType] = Seq(DoubleType)
    def create(): TDigest = new TDigest(delta)
    def add(buf: TDigest, in: Array[Any]): Unit = buf.add(in(0).asInstanceOf[Double])
  }
}

/** SpaceSaving frequent items (see [[graft.core.SpaceSaving]]): only
  * m-entry summaries cross the exchange, so hot terms over the full
  * corpus shuffle O(partitions·m) rows, not O(distinct keys). Exact
  * (err = 0) and partitioning-invariant while a group's distinct count
  * stays ≤ m. The result is `array<struct<item,est,err,total>>` sorted by
  * (est desc, item asc); `total` is the group's exact stream weight, so
  * the N/m error bound is readable from the output. */
object SpaceSavingSketch extends SketchFormat[SpaceSaving] {
  val name = "space_saving"
  def merge(buf: SpaceSaving, other: SpaceSaving): SpaceSaving = { buf.mergeIn(other); buf }
  def serialize(buf: SpaceSaving): Array[Byte] = buf.serialize()
  def deserialize(bytes: Array[Byte]): SpaceSaving = SpaceSaving.deserialize(bytes)

  case class Build(capacity: Int) extends SketchCodec[SpaceSaving](SpaceSavingSketch) {
    def inputTypes: Seq[DataType] = Seq(StringType, LongType)
    def create(): SpaceSaving = new SpaceSaving(capacity)
    def add(buf: SpaceSaving, in: Array[Any]): Unit =
      buf.add(in(0).asInstanceOf[UTF8String].toString, in(1).asInstanceOf[Long])
    override def resultType: DataType = ArrayType(StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false),
      StructField("total", LongType, nullable = false))), containsNull = false)
    override def result(buf: SpaceSaving): Any =
      new GenericArrayData(buf.sorted.map { case (item, est, err) =>
        InternalRow(UTF8String.fromString(item), est, err, buf.total)
      }.toArray[Any])
  }
}
