package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Bounded distinct collect: the distinct values of several small-by-contract
  * projections of one frame (affected partition values, FX pairs,
  * dimension tuples), as ONE map-side job with no exchange.
  *
  * `distinct().collect()` plans a partial aggregate, a shuffle and a final
  * aggregate — under AQE a shuffle job plus a result job for a handful of
  * values, and one such pair per set. For low group cardinality a
  * task-local hash table is the right aggregation: each task deduplicates
  * its own rows into one table per projection and ships at most `max + 1`
  * values of each, the driver deduplicates the union and refuses above
  * `max`. The fetch is therefore bounded by tasks × Σ(max + 1) by
  * construction — the bound limits what is fetched, not the array after
  * the fetch — and needs no `limit()` exchange.
  */
object BoundedDistinct {

  /** One set to collect: the distinct `cols` tuples of the rows where
    * `where` holds, at most `max` of them, else `refusal`.
    */
  final case class Projection(cols: Seq[Column], max: Int, refusal: String,
      where: Column = lit(true)) {
    require(max >= 0, s"bounded distinct needs max >= 0, got $max")
  }

  /** Each projection's distinct tuples (order unspecified), in the order
    * of `projections`, from one pass over `rows`. Throws
    * IllegalArgumentException with the refusal of the FIRST projection (in
    * that order) holding more than its `max`. A task stops reading its
    * input once the first projection reaches `max + 1` values, since that
    * refusal is then certain; the others only stop growing at their cap,
    * so a later refusal never pre-empts an earlier one.
    */
  def collect(rows: DataFrame, projections: Seq[Projection]): Seq[Array[Row]] = {
    require(projections.nonEmpty, "bounded distinct needs at least one projection")
    val caps = projections.map(_.max + 1).toArray
    val sets = rows.select(projections.zipWithIndex.map { case (p, i) =>
      when(p.where, struct(p.cols: _*)).as(s"__set$i")
    }: _*)
    val shipped = sets.rdd.mapPartitions { it =>
      val seen = Array.fill(caps.length)(scala.collection.mutable.LinkedHashSet.empty[Row])
      while (seen(0).size < caps(0) && it.hasNext) {
        val r = it.next()
        var i = 0
        while (i < caps.length) {
          if (!r.isNullAt(i) && seen(i).size < caps(i)) seen(i) += r.getStruct(i)
          i += 1
        }
      }
      seen.iterator.zipWithIndex.flatMap { case (s, i) => s.iterator.map(i -> _) }
    }.collect()
    projections.zipWithIndex.map { case (p, i) =>
      val distinct = shipped.collect { case (`i`, r) => r }.distinct
      require(distinct.length <= p.max, p.refusal)
      distinct
    }
  }
}
