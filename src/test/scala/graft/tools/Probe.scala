package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch harness for plan/perf probes (not part of the library API). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"

    val name = args.headOption.getOrElse("q56_mechanism_targets")
    def run(): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    // replicate the bench's between-rep release protocol so reps here
    // measure what the bench measures (see Bench.scala)

    val q = graft.SparkEntry.queries(name)(spark, dir)
    println(s"[probe] $name plan:")
    q.explain("formatted")
    run() // warm codegen
    graft.Sessions.release(spark)
    (1 to 5).foreach { i =>
      val t0 = System.nanoTime()
      run()
      println(f"[probe] $name rep $i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      graft.Sessions.release(spark)
    }
    spark.stop()
  }
}
