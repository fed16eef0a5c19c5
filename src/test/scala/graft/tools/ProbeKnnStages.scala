// lives in the operators package (not graft.tools) to reach the
// private[operators] contractBy it instruments
package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFns

/** Stage attribution for `Similarity.knnJoin` on the 100× clone-heavy
  * replica (/tmp/graft_scale100, built by ProbeScale100): times each
  * internal stage cumulatively so the 100× wall-clock decomposes into
  * contraction / band self-join / payload join-back / clone+cross
  * expansion / final top-k window. Feeds the SCALING.md verdict on
  * whether the band fan-out or the payload join dominates.
  */
object ProbeKnnStages {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = args.headOption.getOrElse("/tmp/graft_scale100")
    val (k, numBits, bands, seed) = (3, 32, 4, 42L)
    val w = numBits / bands
    val mask = (1L << w) - 1L

    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-42s $dt%9.2f s  rows=$n")
      dt
    }

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val all = emb.select(col("vec_id").as("id"), col("embedding").as("v"))

    // full operator reference number first (same call ProbeScale100 makes)
    time("knnJoin full (reference)")(
      Similarity.knnJoin(emb, "vec_id", "embedding", k, numBits, bands).count())
    graft.Sessions.release(spark)

    // ---- cumulative stages (each re-runs the prefix, deltas = stage cost)
    def contracted() = Dedup.contractBy(all, "id", "v")

    val t1 = time("S1 contractBy (groups count)") {
      val (groups, _) = contracted(); groups.count()
    }
    graft.Sessions.release(spark)

    def reps(groups: DataFrame) = groups.select(col("rid").as("id"), col("v"))
    def sigged(groups: DataFrame) = reps(groups).select(col("id"), col("v"),
      VecFns.hyperplaneSig(col("v"), numBits, seed).as("sig"))
    def banded(groups: DataFrame) = sigged(groups).select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * w).bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
    def repPairsBare(groups: DataFrame) = {
      val bd = banded(groups)
      bd.as("l").join(bd.as("r"), col("l.band") === col("r.band") &&
          col("l.bh") === col("r.bh") && col("l.id") =!= col("r.id"))
        .select(col("l.id").as("id"), col("r.id").as("nn_id"))
        .distinct()
    }
    val t2 = time("S2 +band self-join, bare pairs") {
      val (groups, _) = contracted(); repPairsBare(groups).count()
    }
    graft.Sessions.release(spark)

    def repPairs(groups: DataFrame) = {
      val vecs = sigged(groups).select(col("id"), col("v"))
      repPairsBare(groups)
        .join(vecs.select(col("id"), col("v").as("va")), "id")
        .join(vecs.select(col("id").as("nn_id"), col("v").as("vb")), "nn_id")
        .withColumn("cosine", round(VecFns.cosine(col("va"), col("vb")), 6))
        .drop("va", "vb")
    }
    val t3 = time("S3 +payload join-back + cosine") {
      val (groups, _) = contracted(); repPairs(groups).count()
    }
    graft.Sessions.release(spark)

    def materialized(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    def cands(groups: DataFrame, membersOpt: Option[DataFrame]) = {
      val members = materialized(membersOpt.get)
      val mw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("rid")).orderBy(col("mid").asc)
      val topMembers = materialized(members
        .withColumn("__mr", row_number().over(mw))
        .filter(col("__mr") <= k + 1))
      val selfCos = reps(groups)
        .select(col("id").as("rid"), round(VecFns.cosine(col("v"), col("v")), 6).as("cosine"))
      val cloneCands = members
        .join(topMembers.select(col("rid"), col("mid").as("nn_mid")), Seq("rid"))
        .filter(col("mid") =!= col("nn_mid"))
        .join(selfCos, Seq("rid"))
        .select(col("mid").as("id"), col("nn_mid").as("nn_id"), col("cosine"))
      // the current shape: rank cross candidates per REP, expand only
      // the surviving top-k to members
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("cosine").desc, col("nn_id").asc)
      val crossAtB = repPairs(groups)
        .join(topMembers.filter(col("__mr") <= k)
          .select(col("rid").as("nn_id"), col("mid").as("mb")), Seq("nn_id"))
        .select(col("id"), col("mb").as("nn_id"), col("cosine"))
      val crossTop = crossAtB
        .withColumn("__rn", row_number().over(win))
        .filter(col("__rn") <= k).drop("__rn")
      val crossCands = crossTop
        .join(members.select(col("rid").as("id"), col("mid").as("ma")), Seq("id"))
        .select(col("ma").as("id"), col("nn_id"), col("cosine"))
        .filter(col("id") =!= col("nn_id"))
      cloneCands.unionByName(crossCands)
    }
    val t4 = time("S4 +clone/cross expansion (cands)") {
      val (groups, membersOpt) = contracted()
      if (membersOpt.isEmpty) { println("[probe] clone-free corpus — no expansion"); 0L }
      else cands(groups, membersOpt).count()
    }
    graft.Sessions.release(spark)

    val t5 = time("S5 +final top-k window (full)") {
      val (groups, membersOpt) = contracted()
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("cosine").desc, col("nn_id").asc)
      cands(groups, membersOpt)
        .withColumn("__rn", row_number().over(win))
        .filter(col("__rn") <= k).drop("__rn").count()
    }
    graft.Sessions.release(spark)

    println(f"[probe] stage deltas: contract=$t1%.1f band=${t2 - t1}%.1f " +
      f"payload=${t3 - t2}%.1f expand=${t4 - t3}%.1f window=${t5 - t4}%.1f")
    spark.stop()
  }
}
