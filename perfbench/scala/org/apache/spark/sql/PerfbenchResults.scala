package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution

/** Writes a planned query's result without planning it again: the RDD of
  * its physical plan (`qe.toRdd`) is wrapped as a DataFrame and written as
  * parquet, so the execution the benchmark times is the plan's own.  The
  * wrapper is package-private, hence this shim. */
object PerfbenchResults {
  def write(qe: QueryExecution, path: String): Unit =
    qe.sparkSession.internalCreateDataFrame(qe.toRdd, qe.analyzed.schema, false)
      .write.mode("overwrite").parquet(path)
}
