package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** A Count-Min-Sketch point estimate: `left` is a serialized
  * `count_min_sketch` aggregate, `right` the string to look up. The
  * aggregate adds a string as its UTF-8 bytes, so the lookup does too.
  * Deserialized per row: its consumer (t7) probes a top-k. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_cms_estimate"

  override protected def nullSafeEval(s: Any, i: Any): Any =
    CountMinSketch.readFrom(s.asInstanceOf[Array[Byte]])
      .estimateCount(i.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sketches consumed INSIDE the plan: each is an aggregate in a
  * scalar subquery, so Spark runs it as part of the query (no
  * construction-time job, no driver round trip, no plan literal). */
object Sketches {
  /** `might_contain(bloom_filter_agg(build), key)` — the pair Spark's
    * runtime-filter rule injects, here placed explicitly: the filter
    * over `build`'s ONE long column (sized for `expectedItems` at
    * `fpp`) is a scalar subquery, probed by `BloomFilterMightContain`
    * inside codegen. */
  def mightContain(build: DataFrame, expectedItems: Long, fpp: Double,
      key: Column): Column = {
    val agg = new BloomFilterAggregate(expression(build(build.columns.head)),
      Literal(expectedItems), Literal(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
    val filter = build.agg(column(agg.toAggregateExpression())).scalar()
    column(BloomFilterMightContain(expression(filter), expression(key)))
  }

  /** A point estimate from a serialized `count_min_sketch` (in t7, a
    * scalar subquery over the whole token stream). */
  def cmsEstimate(sketch: Column, item: Column): Column =
    column(CmsEstimate(expression(sketch), expression(item)))
}
