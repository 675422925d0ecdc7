package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Global positions without a partitionless window. A `row_number()` or
  * running sum OVER (ORDER BY ...) with no PARTITION BY moves every row
  * through one task; at 10^12 rows that is the plan to avoid. This is the
  * two-pass zipWithIndex over a Dataset, the one place graft computes a
  * position in a global order:
  *  1. range-partition and sort within partitions on (group, order), the
  *     one exchange; the partitions are then globally ordered, and the
  *     layout is pinned with `localCheckpoint` so both passes see it;
  *  2. sum the weight per (partition, group): P·G rows collected to the
  *     driver, never data;
  *  3. prefix-sum those sums over the partitions of each group into
  *     offsets, broadcast them, and stream each partition once adding
  *     its local running sum to its offset.
  * The range partitioner samples its bounds, so partition sizes vary from
  * run to run, but sorted range partitions concatenated in partition
  * order are the same total order wherever the cuts fell: positions do
  * not depend on `nPartitions` or the sample, as long as `order` has no
  * ties. Rows that tie may take their positions in either order. */
private[ops] object GlobalRank {

  private val Pid = "__rank_pid"
  private val Group = "__rank_group"
  private val Weight = "__rank_weight"

  /** `df` with a `pos` column appended: the exclusive running sum of
    * `weight` (integral, never null) over the rows in `order`, restarting
    * at each value of `group`, which leads `order`. With the defaults
    * `pos` is the 0-based row number in `order`. */
  def positions(df: DataFrame, order: Seq[Column], nPartitions: Int,
                weight: Column = lit(1L), group: Column = lit(0)): DataFrame = {
    val keys = col(Group) +: order
    // The partition id is FROZEN INTO THE DATA at checkpoint time, not
    // read from TaskContext in the assign pass. TaskContext
    // .getPartitionId() is the TASK's id: if a consumer pipelines a
    // coalesce() above this operator, one task computes many parent
    // partitions (each with a fresh closure) and every one of them
    // would read the coalesced id — all offsets resolve to partition
    // 0's and positions silently restart per partition.
    // spark_partition_id() evaluated DURING localCheckpoint
    // materialization is the real range-partition index (materialize
    // runs one task per partition), and a data column survives any
    // downstream re-partitioning.
    val pinned = df.withColumn(Group, group)
      .repartitionByRange(nPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .select(col("*"), spark_partition_id().as(Pid), weight.cast("long").as(Weight))
      .localCheckpoint(false) // pin layout: both passes must see ONE layout
    val sums = pinned.groupBy(col(Pid), col(Group)).agg(sum(col(Weight)))
      .collect().map(r => (r.getInt(0), r.get(1), r.getLong(2)))
    val offsets: Map[(Int, Any), Long] = sums.groupBy(_._2).values.flatMap { runs =>
      val byPid = runs.sortBy(_._1)
      byPid.map(r => (r._1, r._2)).zip(byPid.scanLeft(0L)(_ + _._3))
    }.toMap
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val n = df.schema.length // the caller's columns lead every pinned row
    pinned.mapPartitions { rows =>
      var pid = -1
      var g: Any = null
      var pos = 0L
      rows.map { r =>
        if (r.getInt(n + 1) != pid || r.get(n) != g) {
          pid = r.getInt(n + 1); g = r.get(n); pos = bc.value((pid, g))
        }
        val out = new Array[Any](n + 1)
        var i = 0
        while (i < n) { out(i) = r.get(i); i += 1 }
        out(n) = pos
        pos += r.getLong(n + 2)
        new GenericRow(out): Row
      }
    }(Encoders.row(df.schema.add(StructField("pos", LongType, nullable = false))))
  }
}
