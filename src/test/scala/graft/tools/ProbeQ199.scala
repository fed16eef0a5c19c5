package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of q199 (stream near-dup maintenance) at the
  * bench SF — where do its ~13 s/rep actually go: the 4-trigger
  * replay, the 3 state compactions, or the envelope verdict?
  */
object ProbeQ199 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("PROBE_CACHED_AQE", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def sec[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // warm: one full q199 run via the registry
    sec("warm full q199")(
      graft.SparkEntry.queries("q199_stream_neardups")(spark, dir)
        .write.format("noop").mode("overwrite").save())
    (1 to 2).foreach { rep =>
      println(s"[probe] ---- rep $rep ----")
      val src = sec("ensureDocBacklog") {
        // replicate SparkEntry.ensureDocBacklog via reflection-free
        // copy: the artifact already exists after the warm run, so
        // just reuse the fixture the registry created — cheapest way
        // is to re-run the registry body in stages below instead.
        ()
      }
      val _ = src
      val schema = spark.read.parquet(s"$dir/documents.parquet").schema
      val _ = schema
      // stage the registry body by hand
      val scratch = java.nio.file.Files
        .createTempDirectory("probe_q199").toString
      val backlog = {
        // same construction as SparkEntry.ensureDocBacklog — find the
        // existing artifact dir under /tmp
        val tmpdir = new java.io.File(
          System.getProperty("java.io.tmpdir"))
        tmpdir.listFiles().filter(_.getName.startsWith("graft_postsrc_"))
          .sortBy(-_.lastModified()).head.getPath
      }
      val bschema = spark.read.parquet(backlog).schema
      val docsStream = spark.readStream.schema(bschema)
        .option("maxFilesPerTrigger", 1).parquet(backlog)
      sec("stream replay (4 triggers)") {
        val query = graft.streaming.StreamOps.neardupSink(docsStream,
          s"$scratch/state", "doc_id", "text", s"$scratch/ckpt",
          Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
          threshold = 0.6, shingleN = 3)
        query.awaitTermination()
      }
      Seq("pairs", "shingles", "bands").foreach { rel =>
        sec(s"compact $rel")(
          graft.streaming.StreamOps.compactIndex(
            spark, s"$scratch/state/$rel", s"$scratch/ckpt"))
      }
      sec("final verdict+select") {
        val acc = spark.read.parquet(s"$scratch/state/pairs")
        val pairs = acc.select(
            least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
        // the exact side off the persisted artifact, as in SparkEntry
        val exact = graft.operators.Dedup.ensureJaccardPairs(
          graft.Tables(spark, dir).documents, "doc_id", "text",
          n = 3, threshold = 0.6, maxShingleFreq = Long.MaxValue,
          {
            val tmpdir = new java.io.File(
              System.getProperty("java.io.tmpdir"))
            tmpdir.listFiles()
              .filter(_.getName.startsWith("graft_jacpairs_"))
              .sortBy(-_.lastModified()).head.getPath
              .replaceAll("-n3-t600000-f9223372036854775807$", "")
          })
        val exKeys = exact.select(col("id_a"), col("id_b"))
        val fp = pairs.join(exKeys, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("__fp"))
        val hit = pairs.join(exKeys, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("__hit"))
        val verdict = fp.crossJoin(hit)
          .crossJoin(exKeys.agg(count(lit(1)).as("__n")))
        exact.crossJoin(broadcast(verdict))
          .write.format("noop").mode("overwrite").save()
      }
      graft.Sessions.release(spark)
    }
    spark.stop()
  }
}
