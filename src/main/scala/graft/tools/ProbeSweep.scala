package graft.tools

import graft.Env
import graft.operators.VectorSearch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement: IVF recall\@5 vs probe budget — how many of the 16
  * label cells a query must scan to hold recall as cell occupancy
  * grows with the corpus (the probe-budget note SCALING.md's recall
  * rows reference). Ground truth = bruteForceTopK on the same
  * every-50th query set.
  *
  * Usage: runMain graft.tools.ProbeSweep <sfDir> [nProbe ...]
  */
object ProbeSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                 else Seq(1, 3, 6, 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Env(spark, sfDir)
    import spark.implicits._
    val q = env.embeddings.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val brute = VectorSearch.bruteForceTopK(env.embeddings, q, k = 5)
      .select($"qid", $"vec_id").localCheckpoint()
    for (p <- probes) {
      val approx = VectorSearch.ivfTopK(env.embeddings, q, k = 5, nProbe = p)
        .select($"qid", $"vec_id", lit(1).as("hit"))
      val rec = brute.join(approx, Seq("qid", "vec_id"), "left")
        .agg((count($"hit") / count(lit(1))).as("recall"))
        .head().getDouble(0)
      println(f"[probe] $sfDir nProbe=$p%2d recall@5=$rec%.4f")
    }
    // the auto-scaled geometry (ann_ivf_autoscale): cells ∝ √n at a
    // constant 3/16 probe fraction — the configuration whose recall
    // should HOLD across these sf points while the pinned one decays
    val n = env.embeddings.count()
    val (bits, nProbe) = VectorSearch.ivfSizing(n)
    val auto = VectorSearch.ivfAutoTopK(env.embeddings, q, k = 5)
      .select($"qid", $"vec_id", lit(1).as("hit"))
    val autoRec = brute.join(auto, Seq("qid", "vec_id"), "left")
      .agg((count($"hit") / count(lit(1))).as("recall"))
      .head().getDouble(0)
    println(f"[probe] $sfDir AUTOSCALE n=$n cells=${1 << bits} nProbe=$nProbe recall@5=$autoRec%.4f")
    spark.stop()
  }
}
