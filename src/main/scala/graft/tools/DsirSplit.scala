package graft.tools

import graft.Env
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement: decompose `corpus_dsir_weights` growth into its
  * stages (the text_perplexity precedent — separate data growth from
  * plan decay). Mirrors [[graft.operators.Dsir.importanceWeights]]'s
  * internal stages on the same input split (`source = 'src0'` target):
  *
  *  A. gram stream — explode unigrams+bigrams, md5 bucket (narrow);
  *  B. ratios — A + 256-row broadcast probe joins + scalar attach;
  *  C. full operator — B + the per-doc ordered ln-fold groupBy.
  *
  * Usage: runMain graft.tools.DsirSplit <sfDir> [reps]
  * Prints warm per-stage seconds; stage deltas attribute the growth.
  */
object DsirSplit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val env = Env(spark, sfDir)
    env.documents.count() // warm the scan

    // stage A/B mirror Dsir.importanceWeights's gram/ratio exprs
    def base = env.documents.select($"doc_id".cast("long").as("doc_id"),
      ($"source" === "src0").as("is_target"), split($"text", " ").as("s"))
    def grams = {
      val uni = transform(sequence(lit(1), size($"s")),
        i => struct(i.as("pos"), element_at($"s", i).as("gram")))
      val bi = when(size($"s") >= 2,
          transform(sequence(lit(1), size($"s") - 1),
            j => struct((size($"s") + j).as("pos"),
              concat_ws(" ", element_at($"s", j),
                element_at($"s", j + 1)).as("gram"))))
        .otherwise(array().cast("array<struct<pos:int,gram:string>>"))
      base.select($"doc_id", $"is_target", explode(concat(uni, bi)).as("g"))
        .select($"doc_id", $"is_target", $"g.pos".as("pos"),
          substring(md5($"g.gram"), 1, 2).as("bucket"))
    }
    def ratios = {
      val g = grams.localCheckpoint(eager = false)
      val ct = g.filter($"is_target").groupBy($"bucket")
        .agg(count(lit(1)).as("ct"))
      val cr = g.groupBy($"bucket").agg(count(lit(1)).as("cr"))
      val totals = g.agg(
        sum(when($"is_target", 1L).otherwise(0L)).as("tot_t"),
        count(lit(1)).as("tot_r"))
      graft.operators.PlanHints.withScalars(
          g.join(broadcast(cr), Seq("bucket"))
            .join(broadcast(ct), Seq("bucket"), "left"), totals)
        .select($"doc_id", $"pos",
          (((coalesce($"ct", lit(0L)) + 1).cast("double")
              / ($"tot_t" + 256).cast("double"))
            / (($"cr" + 1).cast("double")
              / ($"tot_r" + 256).cast("double"))).as("ratio"))
    }
    def full = graft.operators.Dsir.importanceWeights(
      env.documents, "doc_id", "text", $"source" === "src0")

    for (r <- 1 to reps) {
      for ((label, df) <- Seq("A_grams" -> grams, "B_ratios" -> ratios,
                              "C_full" -> full)) {
        val t0 = System.nanoTime()
        df.count()
        println(f"[dsir] $sfDir rep$r $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
