package graft.queries

/** The chain pipeline's package-private entry points, re-exported for
  * the benchmark (which lives outside `graft.queries` and must not
  * change engine code to reach them).
  */
object PerfbenchAccess {
  def chainOrders(s: org.apache.spark.sql.SparkSession, dir: String) =
    PipelineQueries.chainOrders(s, dir)

  def chainServe(s: org.apache.spark.sql.SparkSession, dir: String,
      conf: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Boolean)]) =
    PipelineQueries.chainServe(s, dir, conf)

  def chainOracleSql: String = PipelineQueries.chainOracleSql
}
