package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Width pin for fan-out exchanges: the exchange under a stage whose output
  * is far larger than its input (a bucket pair emit, a block join, a
  * posting probe). `repartition(keys)` without a count plans as
  * REPARTITION_BY_COL, which AQE coalesces by BYTES — a KB-scale band or
  * id frame lands on 1-2 tasks and the amplifying stage above it runs
  * serially. `repartition(n, keys)` plans as REPARTITION_BY_NUM, which AQE
  * leaves at `n`; `n` is the frame's own session
  * `spark.sql.shuffle.partitions`, so the caller's width setting (a cloned
  * session's data-sized width included) is what the stage runs at. The
  * hash partitioning on `keys` still satisfies a following group-by or
  * equi-join on the same keys, so the pin adds no exchange of its own. */
object FanOut {
  def pin(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)
}
