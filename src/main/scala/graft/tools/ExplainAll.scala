package graft.tools

import graft.SparkEntry

/** Dev tool: plan audit over every registered query — flags physical
  * operators that don't survive scale (cartesian products, nested-loop
  * joins, single-partition windows) so regressions are caught before
  * the bench does. Usage: runMain graft.tools.ExplainAll <sfDir>
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Tuning.session()
    // Dense-scan joins that are INTENTIONAL (pinned in
    // OperatorPlanShapeSpec): the chunk-blocked brute scans
    // (VectorSearch.scanChunks — inherently |Q|·|V| work sharded via one
    // crossJoin against bounded query chunks) and the 32-row block-cell
    // enumeration in ann_cos_pairs. Value = max allowed
    // cartesian/nested-loop nodes; every other query allows zero.
    val intentionalDense = Map(
      "ann_cos_pairs" -> 1,
      "ann_brute_topk" -> 1,
      "ann_hard_negatives" -> 1,
      "ann_sq8_rerank" -> 1,
      "ann_pq_rerank" -> 1,
      "ann_pq_index_roundtrip" -> 1, // codes-table chunk scan (scanPqCodes)
      "ann_pq_append" -> 1, // same codes-table chunk scan, merged codes
      "ann_recall_report" -> 1,    // brute ground-truth side
      "ann_ivf_recall_report" -> 1,
      "ann_ivfpq_recall_report" -> 1, // brute ground-truth side
      "ann_mrl_rerank" -> 1, // prefix-dim chunk scan
      "ann_mrl_index_roundtrip" -> 1, // same scan over the prefix table
      "ann_mrl_append" -> 1, // same scan over the merged segments
      "ann_mrl_shard_merge" -> 1, // same scan over the merged shards
      "ann_mrl_delete" -> 1, // same scan over the masked prefix table
      "t20_mrl_ingest_stream" -> 1, // same scan, streamed-append segs
      "ann_mrl_recall_report" -> 2, // brute ground truth + prefix scan
      // adaptive-budget family: calibration brute truth (+ prefix
      // coarse scans for MRL; + serve-set brute for the recall cards)
      "ann_ivf_probe_sweep" -> 1,
      "ann_ivf_adaptive" -> 1,
      "ann_ivf_adaptive_recall" -> 2,
      "ann_mrl_cand_sweep" -> 2,
      "ann_mrl_adaptive" -> 3,
      "ann_mrl_adaptive_recall" -> 4,
      "ann_lsh_radius_sweep" -> 1,
      "ann_lsh_adaptive" -> 1,
      "ann_lsh_adaptive_recall" -> 2,
      "ann_ivfpq_cand_sweep" -> 2, // calib brute ×2 (cell + ADC dials)
      "ann_ivfpq_adaptive" -> 2,
      "ann_ivfpq_adaptive_recall" -> 3, // + serve-set brute
      "text_hybrid_rrf" -> 1,      // brute vector leg (50-query contract)
      "ann_retrain_card" -> 1,     // brute ground-truth leg of the card
      "ann_retrain_rebuild" -> 1,  // same card on the rebuilt index
      // the DENSE NB model is classes × vocab BY DEFINITION — the one
      // cross product is between two vocabulary-bounded aggregates
      // (NaiveBayes.train), never against the document stream
      "text_nb_train" -> 1,
      "text_nb_classify" -> 1)
    def count(plan: String, pat: String): Int =
      pat.r.findAllMatchIn(plan).size
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val dense = count(plan, "CartesianProduct") +
          count(plan, "BroadcastNestedLoopJoin")
        val hits =
          (if (dense > intentionalDense.getOrElse(name, 0))
             Seq(s"dense join ×$dense (allowed ${intentionalDense.getOrElse(name, 0)})")
           else Nil) ++
          (if (plan.contains("No Partition Defined"))
             Seq("single-partition window") else Nil)
        println(s"[audit] $name: ${if (hits.isEmpty) "ok" else hits.mkString("; ")}")
      } catch {
        case e: Throwable => println(s"[audit] $name: ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
