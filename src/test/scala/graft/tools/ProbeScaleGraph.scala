package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bfs, PageRank}

/** 10× scale-up probe for the graph iteratives (q100 PageRank, q119
  * BFS) — same method as ProbeScale/ProbeScale3: replicate the sf0.1
  * supplier↔part bipartite graph 10× with offset node ids (10 disjoint
  * copies: 10× nodes AND 10× edges, component diameter unchanged —
  * the sharded-crawl regime where extra data adds graph VOLUME, not
  * depth), compare wall time at fixed cores on one session.
  *
  * PageRank runs through the same persisted-statics path the
  * registered q100 uses (ensureGraph artifact under /tmp), timed
  * separately for the build (once per corpus) and the per-run cost —
  * the two numbers a production scheduler actually sees. BFS runs
  * 3 hops from one seed per copy (q119's shape, multiplied).
  */
object ProbeScaleGraph {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(); ()
    }

    def pairs1x: DataFrame =
      spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select(concat(lit("S"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("P"), col("l_partkey").cast("string")).as("dst"))
        .distinct()

    def undirected(p: DataFrame): DataFrame =
      p.union(p.select(col("dst").as("src"), col("src").as("dst")))

    // 10 disjoint copies via an id-prefix tag (copy 0 keeps the
    // original ids so the 1× graph is a subgraph of the 10×)
    def pairs10x: DataFrame = {
      val p = pairs1x
      (0 until 10).map { i =>
        if (i == 0) p
        else p.select(concat(lit(s"c$i"), col("src")).as("src"),
          concat(lit(s"c$i"), col("dst")).as("dst"))
      }.reduce(_ union _)
    }

    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-34s $dt%8.2f s  rows=$n")
      graft.Sessions.release(spark)
      dt
    }

    def runScale(tag: String, mkPairs: () => DataFrame, copies: Int): Unit = {
      val edges = undirected(mkPairs())
      time(s"$tag edges count") { edges.count() }
      val art = s"/tmp/graft_scalegraph_$tag"
      // cold = artifact build + 5 iterations; warm = read parquet + iterate
      deleteRec(new java.io.File(s"$art-edges"))
      deleteRec(new java.io.File(s"$art-nodes"))
      time(s"$tag pagerank cold (build+5it)") {
        PageRank.ranksFromArtifact(spark, art, edges, 5).count()
      }
      (1 to 3).foreach { i =>
        time(s"$tag pagerank warm #$i") {
          PageRank.ranksFromArtifact(spark, art, edges, 5).count()
        }
      }
      // one seed per copy: the blast-radius query fans out in every shard
      val seeds = (0 until copies).map(i =>
        if (i == 0) "S1" else s"c${i}S1").toDF("id")
      (1 to 3).foreach { i =>
        time(s"$tag bfs 3 hops #$i") {
          Bfs.shortestHops(edges, seeds, maxHops = 3).count()
        }
      }
    }

    runScale("1x", () => pairs1x, 1)
    runScale("10x", () => pairs10x, 10)
    spark.stop()
  }
}
