package graft.engine

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LocalTableScanExec

/** The bounded collect behind every broadcast-or-shuffle choice: bring a
  * frame's rows to the driver only when their summed weight fits a
  * budget, else report `None` so the caller takes its shuffle path. A
  * negative budget is always `None` and runs nothing.
  *
  * A frame already on the driver (a local relation) costs no job. Any
  * other runs ONE collecting job in the common case. Each of its P tasks
  * keeps its rows only while their weight fits its share,
  * `ceil(budget / P)`; past the share it returns only its weight, and it
  * stops reading once its weight passes the whole budget. The driver
  * declares overflow from the summed weights, so an over-budget set ships
  * at most P shares (budget + P rows for weights >= 1), never the whole
  * set.
  * Only when the total fits does a second job fetch the partitions that
  * overflowed their share; it runs on the same RDD, so it re-reads the
  * shuffle output the first job left and runs no map stage again.
  *
  * Neither `limit(n).collect()` nor persist + count + collect is used:
  * CollectLimit scans partitions in growing batches, re-running the
  * aggregation below it once per batch, and persist + count costs a cache
  * and a second action on every call.
  */
object BoundedCollect {

  /** Values shipped to the driver by the last call; for specs. */
  @volatile private[graft] var keptPeak = 0

  /** All rows of `df` if their summed `weight` is at most `budget`. */
  private[graft] def rows(df: DataFrame, budget: Long)(weight: InternalRow => Long)
      : Option[Array[InternalRow]] =
    collect(df, budget, weight, _.copy())

  /** The first column (non-null longs) of `df`, sorted for a
    * binary-search probe, if it has at most `cap` rows. Tasks ship
    * primitive `long[]`. */
  private[graft] def sortedLongs(df: DataFrame, cap: Long): Option[Array[Long]] =
    collect(df, cap, _ => 1L, _.getLong(0)).map { a => java.util.Arrays.sort(a); a }

  private def collect[T: ClassTag](df: DataFrame, budget: Long,
                                   weight: InternalRow => Long,
                                   take: InternalRow => T): Option[Array[T]] = {
    keptPeak = 0
    if (budget < 0) return None
    df.queryExecution.executedPlan match {
      case local: LocalTableScanExec =>
        val rs = local.executeCollect()
        if (rs.iterator.map(weight).sum > budget) None
        else { keptPeak = rs.length; Some(rs.map(take)) }
      case plan =>
        val rdd = plan.execute()
        val n = rdd.getNumPartitions
        if (n == 0) return Some(Array.empty[T])
        val parts = new Array[Array[T]](n)
        var total = 0L
        def keep(i: Int, part: (Array[T], Long)): Unit = {
          total += part._2
          parts(i) = part._1
          if (part._1 != null) keptPeak += part._1.length
        }
        val sc = df.sparkSession.sparkContext
        val share = budget / n + (if (budget % n == 0) 0 else 1)
        sc.runJob(rdd, read(budget, share, weight, take), keep _)
        if (total > budget) return None
        val over = parts.indices.filter(parts(_) == null)
        if (over.nonEmpty)
          sc.runJob(rdd, read(budget, budget, weight, take), over).zip(over)
            .foreach { case (part, i) => keep(i, part) }
        Some(Array.concat(parts.toIndexedSeq: _*))
    }
  }

  /** One task: its rows while their weight stays within `share`, null
    * past it, with their weight; reading stops once it passes `budget`. */
  private def read[T: ClassTag](budget: Long, share: Long, weight: InternalRow => Long,
                                take: InternalRow => T)
      : Iterator[InternalRow] => (Array[T], Long) = it => {
    val kept = scala.collection.mutable.ArrayBuilder.make[T]
    var w = 0L
    while (w <= budget && it.hasNext) {
      val r = it.next()
      w += weight(r)
      if (w <= share) kept += take(r)
    }
    (if (w <= share) kept.result() else null, w)
  }
}
