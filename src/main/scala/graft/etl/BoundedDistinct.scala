package graft.etl

import org.apache.spark.sql.{DataFrame, Row}

/** Bounded distinct collect: the distinct rows of a frame whose result is
  * small by contract (affected partition values, FX pairs, dimension
  * tuples), as ONE map-side job with no exchange.
  *
  * `distinct().collect()` plans a partial aggregate, a shuffle and a final
  * aggregate — under AQE a shuffle job plus a result job for a handful of
  * values. For low group cardinality a task-local hash table is the right
  * aggregation: each task deduplicates its own rows and ships at most
  * `max + 1` of them, the driver deduplicates the union and refuses above
  * `max`. The fetch is therefore bounded by tasks × (max + 1) by
  * construction — the bound limits what is fetched, not the array after
  * the fetch — and needs no `limit()` exchange.
  */
object BoundedDistinct {

  /** The distinct rows of `rows` (order unspecified). Throws
    * IllegalArgumentException with `refusal` when they number more than
    * `max`; a task that reaches `max + 1` distinct rows stops reading its
    * input, since the refusal is then certain.
    */
  def collect(rows: DataFrame, max: Int, refusal: => String): Array[Row] = {
    require(max >= 0, s"bounded distinct needs max >= 0, got $max")
    val cap = max + 1
    val shipped = rows.rdd.mapPartitions { it =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[Row]
      while (seen.size < cap && it.hasNext) seen += it.next()
      seen.iterator
    }.collect()
    val distinct = shipped.distinct
    require(distinct.length <= max, refusal)
    distinct
  }
}
