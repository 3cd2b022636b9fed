package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time selected queries (min of N runs after warm-up) at a
  * scale-factor dir — the per-query iteration loop Bench is too big
  * for. Usage: TimeQ <sfDir> <query> [query ...] */
object TimeQ {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: TimeQ <sfDir> <query> [query ...]")
      sys.exit(2)
    }
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    args.tail.foreach { name =>
      run(name) // per-query untimed warm-up: absorbs first-touch
                // table reads so later queries' min-of-two is honest
      val t = math.min(run(name), run(name))
      println(f"$name%-28s $t%8.3f s")
    }
    spark.stop()
  }
}
