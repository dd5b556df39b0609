package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The machine a result was measured on: core count, heap, versions, and
  * the calibration pair `graft.Bench` records (the same fixed JVM scalar
  * loop and fixed Spark aggregate, one pass each), so results from boxes
  * with different core counts can be normalised against each other. */
final case class Box(nproc: Int, heapMaxMb: Long, spark: String, java: String,
                     calibJvmS: Double, calibSparkS: Double) {
  def line: String =
    f"box nproc=$nproc heap_max_mb=$heapMaxMb spark=$spark java=$java " +
      f"calib_jvm_scalar_s=$calibJvmS%.4f calib_spark_agg_s=$calibSparkS%.4f"
  def json: String =
    s"""{"nproc":$nproc,"heap_max_mb":$heapMaxMb,"spark":"$spark","java":"$java",""" +
      s""""calibration":{"jvm_scalar_s":${Main.num(calibJvmS)},"spark_agg_s":${Main.num(calibSparkS)}}}"""
}

object Box {
  /** Runs after the measured phase, so it never disturbs it. */
  def record(spark: SparkSession, nproc: Int): Box = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < 200000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += java.lang.Long.rotateLeft(x, 17)
      i += 1
    }
    if (acc == 42L) System.err.println("calib sentinel")
    val jvmS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, 32).selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    val sparkS = (System.nanoTime() - t1) / 1e9
    Box(nproc, Runtime.getRuntime.maxMemory() >> 20, spark.version,
      System.getProperty("java.version"), jvmS, sparkS)
  }
}
