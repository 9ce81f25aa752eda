package graft

import org.apache.spark.sql.SparkSession

/** The one "fits on the driver" decision: how many rows of a structure
  * the session may hold on the driver. The structure may take a quarter
  * of the driver heap (it sits beside Spark's own cache and the jobs'
  * working sets), and the collects that build it must stay under
  * `spark.driver.maxResultSize` (Spark's default, 1 GiB, when the
  * session leaves it unset; 0 = unlimited). Callers give what one row
  * costs in each, measured: the driver-local index
  * (`shape.LocalGraphIndex.maxQuads`) and the connected-components tiers
  * (`analytics.Dedup`).
  */
private[graft] object DriverMemory {
  def rows(spark: SparkSession, heapBytesPerRow: Long, collectBytesPerRow: Long): Long = {
    val heap = Runtime.getRuntime.maxMemory / 4 / heapBytesPerRow
    val collect = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (collect > 0) math.min(heap, collect / collectBytesPerRow) else heap
  }
}
