package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

import graft.core.{CountMin, Hll, Kmv, TDigest}

// Codegen'd scalar readers of the sketch blobs built by SketchAgg and
// SketchMergeAgg: each computes its answer from the serialized bytes.

/** Cardinality estimate of a serialized sketch blob. */
case class HllEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_estimate expects BINARY sketch, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hll_estimate"
  override protected def nullSafeEval(v: Any): Any =
    Hll.estimateBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Hll.estimateBytes($c)")
  override protected def withNewChildInternal(c: Expression): HllEstimate =
    copy(child = c)
}

/** Distinct-count estimate from a KMV blob (exact below k). */
case class KmvDistinct(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_distinct expects BINARY sketch, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_distinct"
  override protected def nullSafeEval(v: Any): Any =
    Kmv.distinctBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Kmv.distinctBytes($c)")
  override protected def withNewChildInternal(c: Expression): KmvDistinct =
    copy(child = c)
}

/** Stored-value count of a KMV blob (< k ⇔ the sketch is exact). */
case class KmvSize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_size expects BINARY sketch, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_size"
  override protected def nullSafeEval(v: Any): Any =
    Kmv.sizeBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Kmv.sizeBytes($c)")
  override protected def withNewChildInternal(c: Expression): KmvSize =
    copy(child = c)
}

/** Jaccard estimate of two same-k KMV blobs (Beyer et al. §4). */
case class KmvJaccard(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_jaccard expects (BINARY, BINARY), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kmv.jaccardBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kmv.jaccardBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvJaccard = copy(left = l, right = r)
}

/** Union-distinct estimate of two same-k KMV blobs. */
case class KmvUnionDistinct(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_union_distinct expects (BINARY, BINARY), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_union_distinct"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kmv.unionDistinctBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kmv.unionDistinctBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvUnionDistinct = copy(left = l, right = r)
}

/** Intersection-distinct estimate of two same-k KMV blobs. */
case class KmvIntersectDistinct(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_intersect_distinct expects (BINARY, BINARY), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_intersect_distinct"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kmv.intersectDistinctBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kmv.intersectDistinctBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvIntersectDistinct = copy(left = l, right = r)
}

/** Point-frequency estimate of a pre-hashed key from a sketch blob. */
case class CountMinQuery(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"count_min_query expects (BINARY, BIGINT), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "count_min_query"
  override protected def nullSafeEval(b: Any, k: Any): Any =
    CountMin.estimateBytes(b.asInstanceOf[Array[Byte]], k.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, k) => s"graft.core.CountMin.estimateBytes($b, $k)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CountMinQuery = copy(left = l, right = r)
}

/** Total added weight N of a sketch blob. */
case class CountMinTotal(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"count_min_total expects BINARY sketch, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "count_min_total"
  override protected def nullSafeEval(v: Any): Any =
    CountMin.totalBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.CountMin.totalBytes($c)")
  override protected def withNewChildInternal(c: Expression): CountMinTotal =
    copy(child = c)
}

/** Interpolated quantile estimate from a serialized digest blob. */
case class TDigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tdigest_quantile expects (BINARY, DOUBLE), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tdigest_quantile"
  override protected def nullSafeEval(b: Any, q: Any): Any =
    TDigest.quantileBytes(b.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, q) => s"graft.core.TDigest.quantileBytes($b, $q)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TDigestQuantile = copy(left = l, right = r)
}

/** Total observation count of a serialized digest blob. */
case class TDigestWeight(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tdigest_weight expects BINARY digest, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tdigest_weight"
  override protected def nullSafeEval(v: Any): Any =
    TDigest.weightBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TDigest.weightBytes($c)")
  override protected def withNewChildInternal(c: Expression): TDigestWeight =
    copy(child = c)
}
