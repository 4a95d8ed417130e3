package graft.tools

/** Dump the raw (non-oracle-able) faces of the two audit lanes for their
  * out-of-band verifiers — since r9 the DECLARED q50/q74 lanes emit
  * bound-verdict booleans (driver-green), so the raw ALS rec lists and raw
  * sketch estimates no longer appear in a Verify dump; this main produces
  * them on demand:
  *
  *   sbt "runMain graft.tools.DumpAux /root/testdata/sf0.01 /tmp/aux"
  *   python3 tools/verify_als.py --sf-dir ... --spark-out /tmp/aux/als_lists
  *   python3 tools/verify_sketches.py --sf-dir ... --spark-out /tmp/aux/sketches_raw
  */
object DumpAux {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.runtime.GraftScale.session(sfDir, cpus)
    import org.apache.spark.sql.functions._
    graft.pipelines.AlsRecommender.recommend(graft.io.Tables.clicks(spark, sfDir), k = 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/als_lists")
    graft.io.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/sketches_raw")
    spark.stop()
  }
}
