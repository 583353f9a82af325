package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Bm25, IndexCommit, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Persistent BM25 and IVF-PQ indexes under a closed loop of appends,
  * deletes and serves, with a maintain step (compact, GC, fsck) per
  * family at the end of every pass. Set-up builds both indexes over a
  * seeded 80% of the documents and embeddings; the held-out 20% feeds
  * the appends. The seed picks the split, the increments, every delete
  * batch and the queries. */
final class IndexChurn extends Workload {
  private var spark: SparkSession = _
  private var docSchema, vecSchema: StructType = _
  private var docIncs, vecIncs: Iterator[Seq[Row]] = Iterator.empty
  private var docIncLeft, vecIncLeft = 0
  private var rng: scala.util.Random = _
  private val liveDocs = mutable.LinkedHashMap[Long, Row]()
  private val liveVecs = mutable.LinkedHashMap[Long, Row]()
  private val deletedDocs, deletedVecs = mutable.Set[Long]()
  private var baseVecs: Seq[Row] = Nil
  private val appendedVecs = mutable.ArrayBuffer[Seq[Row]]()
  private val deletedVecBatches = mutable.ArrayBuffer[Seq[Long]]()
  private val pending = mutable.ArrayBuffer[Check]()
  private var bmQueries: Seq[(String, Seq[String])] = Nil
  private var vecQueries: DataFrame = _
  private var vectors: DataFrame = _
  private var work: Path = _
  private var k, delDocs, delVecs = 0
  private def bmDir = work.resolve("bm25").toString
  private def pqDir = work.resolve("ivfpq").toString
  private def twinDir = work.resolve("ivfpq_twin").toString

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
  private def ids(xs: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    xs.toDF("id")
  }

  def setup(c: Ctx): Unit = {
    spark = c.spark; work = c.work
    val s = c.spec
    k = s.path("k").asInt
    delDocs = s.path("delete_docs").asInt; delVecs = s.path("delete_vecs").asInt
    rng = new scala.util.Random(c.seed)
    liveDocs.clear(); liveVecs.clear(); deletedDocs.clear(); deletedVecs.clear()
    appendedVecs.clear(); deletedVecBatches.clear(); pending.clear()

    val data = c.data.resolve(s.path("data").asText)
    val docsIn = spark.read.parquet(data.resolve("documents.parquet").toString)
    val vecsIn = spark.read.parquet(data.resolve("embeddings.parquet").toString)
    docSchema = docsIn.schema; vecSchema = vecsIn.schema
    val allDocs = docsIn.collect().sortBy(_.getAs[Long]("doc_id"))
    val allVecs = vecsIn.collect().sortBy(_.getAs[Long]("vec_id"))
    vectors = vecsIn

    def split(rows: Array[Row], inc: Int): (Seq[Row], Seq[Seq[Row]]) = {
      val sh = rng.shuffle(rows.toSeq)
      val nBase = (rows.length * 0.8).toInt
      (sh.take(nBase), sh.drop(nBase).grouped(inc).filter(_.size == inc).toSeq)
    }
    val (baseDocs, dIncs) = split(allDocs, s.path("increment_docs").asInt)
    val (bVecs, vIncs) = split(allVecs, s.path("increment_vecs").asInt)
    baseVecs = bVecs
    docIncs = dIncs.iterator; docIncLeft = dIncs.size
    vecIncs = vIncs.iterator; vecIncLeft = vIncs.size
    baseDocs.foreach(r => liveDocs(r.getAs[Long]("doc_id")) = r)
    baseVecs.foreach(r => liveVecs(r.getAs[Long]("vec_id")) = r)

    // queries: two whitespace tokens of seeded documents; seeded vectors
    val nq = s.path("queries").asInt
    bmQueries = rng.shuffle(allDocs.toSeq).take(nq).zipWithIndex.map { case (r, i) =>
      val toks = Option(r.getAs[String]("text")).getOrElse("").split(" ").filter(_.nonEmpty)
      s"q$i" -> rng.shuffle(toks.toSeq).take(2)
    }.filter(_._2.nonEmpty)
    val qRows = rng.shuffle(allVecs.toSeq).take(nq)
      .map(r => Row(r.getAs[Long]("vec_id"), r.getAs[Any]("embedding")))
    vecQueries = spark.createDataFrame(qRows.asJava,
      StructType.fromDDL("qid BIGINT, qe ARRAY<FLOAT>"))

    Bm25.writeIndex(df(baseDocs, docSchema), "doc_id", "text", bmDir)
    VectorSearch.ivfPqWriteIndex(df(baseVecs, vecSchema), pqDir)
  }

  override def warmUpPass: Boolean = true
  override def hasPass: Boolean = docIncLeft >= 1 && vecIncLeft >= 1

  /** Sum of the indexes' manifest generations, read through the public
    * manifest API. */
  override def generation: Long = Seq(bmDir, pqDir)
    .flatMap(d => IndexCommit.currentManifest(spark, d).map(_.gen)).sum

  private def sample(live: mutable.LinkedHashMap[Long, Row], n: Int): Seq[Long] = {
    val keys = live.keysIterator.toArray
    rng.shuffle(keys.toSeq).take(n).sorted
  }

  private def servedNoDeleted(kind: String, rows: Array[Row], col: String,
                              deleted: collection.Set[Long]): Unit = {
    val bad = rows.map(_.getAs[Long](col)).filter(deleted.contains)
    pending += Check(s"$kind:no_deleted_served", bad.isEmpty,
      if (bad.isEmpty) "" else s"served deleted ids ${bad.distinct.take(5).mkString(",")}")
  }

  private def fsckOk(kind: String, rows: Array[Row]): Unit = {
    val bad = rows.filterNot(_.getAs[Boolean]("ok")).map(_.getAs[String]("check"))
    pending += Check(s"$kind:fsck", rows.nonEmpty && bad.isEmpty,
      if (bad.isEmpty) "" else s"failed ${bad.mkString(",")}")
  }

  /** One pass: one append, delete and serve cycle per family, then
    * both maintains. */
  def pass(c: Ctx, op: (String, String) => (=> Unit) => Unit): Unit = {
    val dInc = docIncs.next(); docIncLeft -= 1
    op("bm25.append", "appendIndex") {
      Bm25.appendIndex(spark, bmDir, df(dInc, docSchema), "doc_id", "text")
    }
    dInc.foreach(r => liveDocs(r.getAs[Long]("doc_id")) = r)
    val dDel = sample(liveDocs, delDocs)
    op("bm25.delete", "deleteDocs")(Bm25.deleteDocs(spark, bmDir, ids(dDel)))
    dDel.foreach { i => liveDocs.remove(i); deletedDocs += i }
    var served: Array[Row] = Array.empty
    op("bm25.serve", "serve") { served = Bm25.serve(spark, bmDir, bmQueries, k).collect() }
    servedNoDeleted("bm25.serve", served, "doc_id", deletedDocs)

    val vInc = vecIncs.next(); vecIncLeft -= 1
    op("ivfpq.append", "ivfPqAppendIndex") {
      VectorSearch.ivfPqAppendIndex(spark, pqDir, df(vInc, vecSchema))
    }
    vInc.foreach(r => liveVecs(r.getAs[Long]("vec_id")) = r)
    appendedVecs += vInc
    val vDel = sample(liveVecs, delVecs)
    op("ivfpq.delete", "deleteVectors")(VectorSearch.deleteVectors(spark, pqDir, ids(vDel)))
    vDel.foreach { i => liveVecs.remove(i); deletedVecs += i }
    deletedVecBatches += vDel
    op("ivfpq.serve", "ivfPqServe") {
      served = VectorSearch.ivfPqServe(spark, pqDir, vectors, vecQueries, k).collect()
    }
    servedNoDeleted("ivfpq.serve", served, "vec_id", deletedVecs)

    var fsck: Array[Row] = Array.empty
    op("bm25.maintain", "compact+gc+fsck") {
      Bm25.compactIndex(spark, bmDir)
      c.phase("gc")(IndexCommit.gcUnreferenced(spark, bmDir))
      fsck = c.phase("fsck")(Bm25.fsck(spark, bmDir).collect())
    }
    fsckOk("bm25.maintain", fsck)
    op("ivfpq.maintain", "compact+gc+fsck") {
      VectorSearch.compactIndexTable(spark, pqDir, "codes", "cell")
      c.phase("gc")(IndexCommit.gcUnreferenced(spark, pqDir))
      fsck = c.phase("fsck")(VectorSearch.ivfPqFsck(spark, pqDir).collect())
    }
    fsckOk("ivfpq.maintain", fsck)
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  override def checkAfter(c: Ctx): Seq[Check] = {
    def check(name: String)(body: => Option[String]): Check =
      try { val bad = body; Check(name, bad.isEmpty, bad.getOrElse("")) }
      catch { case e: Throwable => Check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val bm = check("bm25:serve_equals_topk_over_live") {
      val served = rowsOf(Bm25.serve(spark, bmDir, bmQueries, k))
      val want = rowsOf(Bm25.topK(df(liveDocs.values.toSeq, docSchema), "doc_id", "text",
        bmQueries, k))
      if (served == want) None else Some(s"${served.size} served rows vs ${want.size} topK rows")
    }
    val twin = check("ivfpq:sequential_equals_batched_twin") {
      // the twin: the same base build, then every increment and delete
      // of the run in one ivfPqApplyDeltas commit
      VectorSearch.ivfPqWriteIndex(df(baseVecs, vecSchema), twinDir)
      if (appendedVecs.nonEmpty || deletedVecBatches.nonEmpty)
        VectorSearch.ivfPqApplyDeltas(spark, twinDir, appendedVecs.map(df(_, vecSchema)).toSeq,
          Some(ids(deletedVecBatches.flatten.toSeq)))
      val a = rowsOf(VectorSearch.ivfPqServe(spark, pqDir, vectors, vecQueries, k))
      val b = rowsOf(VectorSearch.ivfPqServe(spark, twinDir, vectors, vecQueries, k))
      if (a == b) None else Some(s"${a.diff(b).size} rows differ")
    }
    // the last op of every pass is each family's maintain, whose fsck
    // already checked the final generation
    pending.toSeq ++ Seq(bm, twin)
  }

  private def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  override def commitState(c: Ctx): Seq[(String, Double, String)] = {
    val ms = Seq(bmDir, pqDir).flatMap(d => IndexCommit.currentManifest(spark, d))
    Seq(("commit.segments_live", ms.map(_.tables.values.map(_.size).sum).sum.toDouble, "count"),
      ("commit.files_stamped", ms.map(_.files.size).sum.toDouble, "count"),
      ("commit.index_mb", (bytesUnder(bmDir) + bytesUnder(pqDir)) / 1048576.0, "MB"))
  }

  /** space_amp: bytes under the two index directories divided by the
    * bytes of a fresh build of both over the final live set. */
  override def extras(c: Ctx): Seq[(String, Double, String)] = {
    val fbm = work.resolve("fresh_bm25").toString
    val fpq = work.resolve("fresh_ivfpq").toString
    Bm25.writeIndex(df(liveDocs.values.toSeq, docSchema), "doc_id", "text", fbm)
    VectorSearch.ivfPqWriteIndex(df(liveVecs.values.toSeq, vecSchema), fpq)
    val amp = (bytesUnder(bmDir) + bytesUnder(pqDir)).toDouble /
      (bytesUnder(fbm) + bytesUnder(fpq))
    Seq(("space_amp", amp, "ratio"))
  }
}
