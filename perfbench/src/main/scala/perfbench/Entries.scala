package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A closed loop over registry entries (`graft.SparkEntry.queries`),
  * each timed as graft.Bench times it: build the entry's DataFrame, then
  * a noop-format write that evaluates every output row. The seed only
  * permutes the order; the inputs do not depend on it, so the recorded
  * fingerprints hold for every seed.
  *
  * `scaled` reads a copy of the tables the entries use, made larger by
  * [[ScaleCopy]] at set-up; otherwise the entries read the benchmark's
  * committed tables as they are. */
final class Entries(scaled: Boolean) extends Workload {
  private var dir: String = _
  private var order: Seq[String] = Nil
  private lazy val fns = graft.SparkEntry.queries

  def setup(c: Ctx): Unit = {
    val names = c.spec.path("entries").elements().asScala.map(_.asText).toSeq
    order = new scala.util.Random(c.seed).shuffle(names)
    val src = c.data.resolve(c.spec.path("data").asText)
    dir =
      if (!scaled) src.toString
      else ScaleCopy.write(c.spark, src.toString, c.work.resolve("scaled").toString,
        c.spec.path("scale").asInt, c.spec.path("files").asInt,
        c.spec.path("scaled_tables").elements().asScala.map(_.asText).toSeq)
    // warm the session as graft.Bench does: scan metadata, codegen, JIT
    val env = graft.Env(c.spark, dir)
    graft.Tables.names.filter(t => Files.exists(java.nio.file.Paths.get(dir, s"$t.parquet")))
      .foreach(t => env.table(t).count())
  }

  private def fingerprint(c: Ctx, n: String): String =
    try Fingerprint.of(fns(n)(c.spark, dir)) finally Main.hygiene(c.spark)

  /** Fails on the first entry that throws: only outputs are recorded. */
  override def record(c: Ctx): Map[String, String] = order.map(n => n -> fingerprint(c, n)).toMap

  /** The untimed correctness pass; it also runs each entry once before
    * it is timed, as graft.Bench's cold pass does. */
  override def checkBefore(c: Ctx, expected: Map[String, String]): Seq[Check] =
    order.map { n =>
      val got =
        try fingerprint(c, n)
        catch { case e: Throwable => s"error ${e.getClass.getSimpleName}: ${e.getMessage}" }
      val want = expected.getOrElse(n, "<none recorded>")
      Check(s"fingerprint:$n", got == want, if (got == want) "" else s"got $got want $want")
    }

  def pass(c: Ctx, op: (String, String) => (=> Unit) => Unit): Unit =
    order.foreach { n =>
      op("entry", n) {
        val df: DataFrame = c.phase("construct")(fns(n)(c.spark, dir))
        c.phase("execute")(df.write.format("noop").mode("overwrite").save())
      }
    }
}

/** A larger, seed-independent copy of some tables: `copies` unions of
  * each, keys shifted per copy so joins stay consistent, document text
  * salted and embeddings rotated per copy so near-duplicate outputs
  * grow linearly rather than quadratically (the perturbations
  * graft.tools.ScaleUp applies), written as `files` sorted files. */
object ScaleCopy {
  private val unit = 1000000000L

  def write(spark: SparkSession, src: String, dst: String, copies: Int, files: Int,
            tables: Seq[String]): String = {
    val saltTok = udf { (text: String, k: Long) =>
      if (text == null || k == 0L) text
      else {
        val toks = text.split(" ", -1)
        var i = 0
        while (i < toks.length) { if (i % 5 == 0) toks(i) = toks(i) + "~" + k; i += 1 }
        toks.mkString(" ")
      }
    }
    // orthogonal per copy: out(i) = sign(k, i) * in((i + k) mod d)
    val rotateVec = udf { (v: Seq[Float], k: Long) =>
      if (v == null || k == 0L) v
      else {
        val d = v.length
        Seq.tabulate(d) { i =>
          var z = k * 1315423911L + i * 2654435761L + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          (if ((z & 1L) == 0L) 1.0f else -1.0f) * v(((i + k) % d).toInt)
        }
      }
    }
    def shift(df: DataFrame, k: Long, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * unit)))
    val perCopy: Map[String, (String, (DataFrame, Long) => DataFrame)] = Map(
      "documents" -> ("doc_id", (df, k) =>
        shift(df, k, "doc_id").withColumn("text", saltTok(col("text"), lit(k)))),
      "embeddings" -> ("vec_id", (df, k) =>
        shift(df, k, "vec_id").withColumn("embedding", rotateVec(col("embedding"), lit(k)))),
      "part" -> ("p_partkey", (df, k) => shift(df, k, "p_partkey")))
    tables.foreach { t =>
      val (key, remap) = perCopy(t)
      val df = spark.read.parquet(s"$src/$t.parquet")
      (0 until copies).map(k => remap(df, k.toLong)).reduce(_ unionByName _)
        .repartition(files, col(key)).sortWithinPartitions(key)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    dst
  }
}
