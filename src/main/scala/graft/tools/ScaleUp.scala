package graft.tools

import graft.Env
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize an ~sf1 (×10) or ~sf10 (×100) dataset from
  * sf0.1 by unioning key-remapped copies (the driver only generates up
  * to sf0.1; the 100× scaling story needs measured points above it).
  * Every key space is shifted by copy·unit so FK joins stay
  * consistent; fixed dims (region/nation) are left at TPC-H's fixed
  * cardinality, exactly as a real larger SF would. The unit defaults
  * to 10⁹ (the historical sf1 layout) but must shrink to 10⁸ for ×100
  * copies: SubstringDedup packs doc ids into 35 bits (max ≈3.4·10¹⁰)
  * and 100·10⁹ would trip its overflow guard, where 100·10⁸ ≈ 10¹⁰
  * stays comfortably inside — same regime the committed sf1 already
  * exercises (ids to 9·10⁹).
  *
  * Two per-copy perturbations keep OUTPUT growth linear like a real
  * corpus instead of quadratic like naive duplication:
  *   - document text is positionally salted (every 5th token gets a
  *     per-copy suffix) so cross-copy near-dup similarity falls well
  *     below the 0.8 verify threshold while intra-copy planted
  *     near-dups keep their similarity (both sides of a pair get the
  *     same salt);
  *   - embeddings get a per-copy ORTHOGONAL transform (deterministic
  *     sign-flip diagonal ∘ cyclic coordinate shift). Orthogonality
  *     preserves every intra-copy inner product bit-for-bit in
  *     structure (planted near-dup pairs, cluster geometry), while a
  *     vector and its differently-transformed twin in another copy
  *     land at background similarity — so ann_cos_pairs/semdedup/LSH
  *     outputs grow ~linearly and no 100-deep exact-duplicate LSH
  *     buckets appear. (The pre-round-17 sf1 replicated embeddings
  *     verbatim; SCALING.md documents the recall-ceiling artifact that
  *     caused. Copy 0 is always the identity transform, so the base
  *     data survives unchanged.)
  *
  * Event times shift 1h per copy.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [copies] [unit]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/.scratch/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val unit = args.lift(3).map(_.toLong).getOrElse(1000000000L)
    val spark = graft.Tuning.session()
    val env = Env(spark, src)

    def replicate(df: DataFrame)(remap: (DataFrame, Long) => DataFrame)
        : DataFrame =
      (0 until copies).map(k => remap(df, k.toLong)).reduce(_ unionByName _)

    def shiftKeys(keys: String*)(df: DataFrame, k: Long): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * unit)))

    val saltTok = udf { (text: String, k: Long) =>
      if (text == null) null
      else {
        val toks = text.split(" ", -1)
        var i = 0
        while (i < toks.length) {
          if (i % 5 == 0) toks(i) = toks(i) + "~" + k
          i += 1
        }
        toks.mkString(" ")
      }
    }

    // Deterministic ±1 from (copy, coordinate) — splitmix64 finalizer.
    // Orthogonal per copy: out(i) = sign(k,i) · in((i+k) mod d).
    val rotateVec = udf { (v: Seq[Float], k: Long) =>
      if (v == null || k == 0L) v
      else {
        val d = v.length
        val out = new Array[Float](d)
        var i = 0
        while (i < d) {
          var z = k * 1315423911L + i * 2654435761L + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          val sign = if ((z & 1L) == 0L) 1.0f else -1.0f
          out(i) = sign * v(((i + k) % d).toInt)
          i += 1
        }
        out.toSeq
      }
    }

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    write("region", env.region)
    write("nation", env.nation)
    write("customer", replicate(env.customer)(shiftKeys("c_custkey")))
    write("supplier", replicate(env.supplier)(shiftKeys("s_suppkey")))
    write("part", replicate(env.part)(shiftKeys("p_partkey")))
    write("orders", replicate(env.orders)(shiftKeys("o_orderkey", "o_custkey")))
    write("lineitem", replicate(env.lineitem)(
      shiftKeys("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", replicate(env.events) { (df, k) =>
      shiftKeys("event_id", "user_id")(df, k)
        .withColumn("ts", col("ts") + lit(k * 3600L * 1000000000L))
    })
    write("documents", replicate(env.documents) { (df, k) =>
      shiftKeys("doc_id")(df, k)
        .withColumn("text", saltTok(col("text"), lit(k)))
    })
    write("embeddings", replicate(env.embeddings) { (df, k) =>
      shiftKeys("vec_id")(df, k)
        .withColumn("embedding", rotateVec(col("embedding"), lit(k)))
    })
    spark.stop()
  }
}
