package graft.tools

import graft.Env
import graft.operators.{Bm25, IndexCommit, VectorSearch}
import org.apache.spark.sql.SparkSession

/** Dev measurement: the persisted-index WRITE LAYOUT at a scale point
  * — for each index family, the input's optimizer size estimate, the
  * size-derived writer width ([[graft.operators.IndexCommit.writeWidth]]
  * at the default 128 MiB target and at a 1 MiB target, showing the
  * same estimator crossing the old fixed-16 ceiling on real data), and
  * the ACTUAL parquet file count the committed layout produced — the
  * numbers behind SCALING.md's "no fixed-width writes" row.
  *
  * Usage: runMain graft.tools.IndexLayout <sfDir>
  */
object IndexLayout {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Env(spark, sfDir)

    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    def mb(b: BigInt): String = f"${b.toDouble / 1e6}%.1f"

    val scratch = java.nio.file.Files
      .createTempDirectory("graft_layout").toString
    def report(family: String, input: org.apache.spark.sql.DataFrame,
               build: String => Unit, table: String): Unit = {
      val est = input.queryExecution.optimizedPlan.stats.sizeInBytes
      val w128 = IndexCommit.writeWidth(input)
      // 64 KiB target: scales the SAME estimator past the parallel
      // floor on this small test data, proving width ∝ bytes with a
      // real input (the 128 MiB column moves at deployment sizes)
      val w1 = IndexCommit.writeWidth(input, 64L << 10)
      val dir = s"$scratch/$family"
      val t0 = System.nanoTime()
      build(dir)
      val sec = (System.nanoTime() - t0) / 1e9
      val files = IndexCommit.tablePaths(spark, dir, table)
        .map(parquetFiles).sum
      println(f"[layout] $family @ $sfDir: est_mb=${mb(est)} " +
        s"width@128MiB=$w128 width@64KiB=$w1 " +
        f"${table}_files=$files build_s=$sec%.1f")
    }

    report("bm25", env.documents,
      d => Bm25.writeIndex(env.documents, "doc_id", "text", d), "postings")
    // the vocab-sized df aggregate: same estimator discipline as the
    // postings (floor on test data), and a web-scale synthetic frame
    // shows the derived width crossing both the old fixed 16 and the
    // former coalesce(1) — df is never a single-task write
    locally {
      import org.apache.spark.sql.functions._
      val dfPlan = env.documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val bigVocab = spark.range(3L * 1000 * 1000 * 1000)
        .select(col("id").cast("string").as("term"),
          col("id").as("df")) // a 10⁹-term vocabulary's estimate shape
      val dfFiles = IndexCommit.tablePaths(spark, s"$scratch/bm25", "df")
        .map(parquetFiles).sum
      println(s"[layout] bm25_df @ $sfDir: " +
        s"width@128MiB=${IndexCommit.writeWidth(dfPlan)} " +
        s"width@64KiB=${IndexCommit.writeWidth(dfPlan, 64L << 10)} " +
        s"big_vocab_width@128MiB=${IndexCommit.writeWidth(bigVocab)} " +
        s"df_files=$dfFiles")
    }
    report("lsh", env.embeddings,
      d => VectorSearch.lshWriteIndex(env.embeddings, d), "buckets")
    report("ivf", env.embeddings,
      d => VectorSearch.ivfWriteIndex(env.embeddings, d), "cells")
    report("ivfpq", env.embeddings,
      d => VectorSearch.ivfPqWriteIndex(env.embeddings, d), "codes")
    report("mrl", env.embeddings,
      d => VectorSearch.mrlWriteIndex(env.embeddings, d), "prefix")

    // the distributed clone's task count: measured on the real index
    // at this SF, plus the same sizing rule at deployment scales —
    // promotion parallelism grows one task per ~128 MiB of payload
    locally {
      val src = s"$scratch/bm25"
      def walkLens(f: java.io.File): Seq[Long] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walkLens)
        else Seq(f.length())
      val m = IndexCommit.currentManifest(spark, src).get
      val lens = m.tables.values.flatten
        .flatMap(seg => walkLens(new java.io.File(src, seg))).toSeq
      val par = spark.sparkContext.defaultParallelism
      val t0 = System.nanoTime()
      IndexCommit.cloneSnapshot(spark, src, s"$scratch/bm25_clone")
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[layout] clone @ $sfDir: files=${lens.size} " +
        f"total_mb=${lens.sum / 1e6}%.1f " +
        s"slices_actual=${IndexCommit.cloneSlices(lens.sum, lens.size, par)} " +
        s"slices@100GB=${IndexCommit.cloneSlices(100L << 30, 100000, 1000)} " +
        s"slices@10TB=${IndexCommit.cloneSlices(10L << 40, 1000000, 1000)} " +
        f"clone_s=$sec%.1f")
    }

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(scratch))
    spark.stop()
  }
}
