package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the mains (Bench, Verify, ScaleSweep, Dev):
  * `local[cpus]` with `cpus` shuffle partitions (ScaleSweep can ask for
  * another count), no UI, UTC session time zone, WARN logging. Any other
  * conf comes from a `-Dspark.x=y` JVM system property, which
  * `SparkConf` reads. */
object Session {
  def local(cpus: Int): SparkSession = local(cpus, cpus)

  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
