package graft.tools

import graft.Env
import graft.operators.{BandJoin, TextDedup, VectorSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: measured band-bucket occupancy for the two LSH candidate
  * joins (`dedup_minhash`'s 16×4 MinHash bands over documents,
  * `ann_cos_pairs_lsh`'s 8×8-bit hyperplane tables over embeddings) at
  * one or more SF dirs — the evidence behind the skew posture in
  * SCALING.md. Per banding: bucket count, max and p99 occupancy, the
  * candidate-pair mass Σ m·(m−1)/2 the join will enumerate, and how
  * many buckets exceed [[BandJoin.DefaultCap]] (i.e. would trip the
  * block-matrix guard).
  *
  * Usage: runMain graft.tools.LshBandStats <sfDir> [<sfDir> ...]
  */
object LshBandStats {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def profile(tag: String, dir: String, keyed: DataFrame,
                keyCols: Seq[String]): Unit = {
      val occ = keyed.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("m"))
      val s = occ.agg(
        count(lit(1)).as("buckets"),
        max(col("m")).as("max_occ"),
        expr("percentile(m, 0.99)").as("p99_occ"),
        sum(col("m") * (col("m") - 1) / 2).cast("long").as("cand_pairs"),
        sum(when(col("m") > BandJoin.DefaultCap, 1L).otherwise(0L))
          .as("over_cap")).collect()(0)
      println(f"STATS dir=$dir banding=$tag buckets=${s.getLong(0)} " +
        f"max_occ=${s.getLong(1)} p99_occ=${s.getDouble(2)}%.1f " +
        f"cand_pairs=${s.getLong(3)} over_cap_${BandJoin.DefaultCap}=${s.getLong(4)}")
    }

    for (dir <- args.toSeq) {
      val env = Env(spark, dir)
      profile("minhash_16x4", dir,
        TextDedup.bandKeys(env.documents, "doc_id", "text"),
        Seq("band", "key"))
      profile("hyperplane_8x8bit", dir,
        VectorSearch.lshBandKeys(env.embeddings),
        Seq("bkey"))
    }
    spark.stop()
  }
}
