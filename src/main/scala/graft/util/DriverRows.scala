package graft.util

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Rows moving between the cluster and the driver. */
object DriverRows {

  /** `df`'s rows when there are at most `cap` of them, else None — the
    * measurement behind every `DedupConfig.driverBudget` gate. One job: a
    * single partition under the limit, whose task stops after cap + 1 rows
    * (over many partitions a limit-collect scans one, then a growing batch,
    * a job each). A cap <= 0 runs nothing. */
  def atMost(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0L) None
    else {
      val rows = df.coalesce(1).limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
      if (rows.length > cap) None else Some(rows)
    }

  /** A LocalRelation of rows already on the driver. Filters and projections
    * over it fold at optimization time; a join that broadcasts it is a job
    * of its own (Spark fills the broadcast through a collect). */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
