package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, desc, lit, when}

/** Exercises the benchmark's own checks on a tiny frame and writes what
  * they returned as JSON, for `perfbench/tests` to assert on: digests
  * of an output, of the same rows in another order, and of perturbed
  * copies; and the record of an operation that threw.
  *
  * Usage: SelfTest WORK_DIR OUT_JSON
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(work, out) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = Seq((1L, "a", 1.5), (2L, "b", -0.0), (3L, "c", 2.0)).toDF("k", "s", "v")
    val bench = new Bench(spark, new StageListener, work, 1L, 1.0, new Tracer(spark, false))
    val digests = Map(
      "base" -> Probe.digest(base),
      "reordered" -> Probe.digest(base.orderBy(desc("k"))),
      "signed_zero" -> Probe.digest(base.withColumn("v",
        when(col("k") === 2L, lit(0.0)).otherwise(col("v")))),
      "one_cell" -> Probe.digest(base.withColumn("s",
        when(col("k") === 3L, lit("d")).otherwise(col("s")))),
      "extra_row" -> Probe.digest(base.union(base.where(col("k") === 1L))))
    val threw = bench.op("derive")(throw new IllegalStateException("injected"))
    val passed = bench.op("derive")(base.write.parquet(s"$work/out"))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json(Map("digests" -> digests,
      "threw" -> bench.opJson(threw), "passed" -> bench.opJson(passed))))
    finally w.close()
    spark.stop()
  }
}
