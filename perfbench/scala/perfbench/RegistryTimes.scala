package perfbench

import graft.{GraftSession, SparkEntry}

/** Times every `SparkEntry.queries` key once cold and once warm, as the
  * basis on which perfbench/panel.py chooses the `registry` workload's
  * panel. Both passes run every key in sorted order in one session;
  * each query is built fresh and written to the noop sink, timed from
  * the start of its build to the end of its write.
  *
  * Usage: RegistryTimes <cpus> <data dir> <work dir>
  * Prints one `key<TAB>cold_s<TAB>warm_s` line per key; a key that fails
  * prints FAIL in place of its times.
  */
object RegistryTimes {
  def main(args: Array[String]): Unit = {
    val Array(cpus, dataDir, workDir) = args
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("graft.work.dir", s"$workDir/graft")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val keys = SparkEntry.queries.keys.toSeq.sorted
    def time(key: String): Option[Double] =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(key)(spark, dataDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    try {
      val cold = keys.map(time)
      val warm = keys.map(time)
      keys.lazyZip(cold).lazyZip(warm).foreach {
        case (k, Some(c), Some(w)) => println(f"$k\t$c%.3f\t$w%.3f")
        case (k, _, _) => println(s"$k\tFAIL\tFAIL")
      }
    } finally spark.stop()
  }
}
