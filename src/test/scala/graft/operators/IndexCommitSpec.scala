package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Crash-consistency of the manifest commit protocol: every index
  * mutation stages segments first and flips one marker last, so a
  * process killed ANYWHERE before the flip leaves the prior index
  * serving bit-identical results, and a retry converges to the same
  * state as a never-crashed run. These tests inject the crash at both
  * interesting points — mid-first-stage (a poisoned increment fails
  * the staging job itself) and BETWEEN stages (postings staged, df/
  * stats not — the exact multi-table inconsistency the round-12
  * delete-then-rename protocol could strand). */
class IndexCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rmRf(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  private val docs = Seq(
    (1L, "red blue red fast"),
    (2L, "red blue green fast scan"),
    (3L, "green green table"),
    (4L, "red table scan value")).toDF("doc_id", "text")
  private val queries = Seq("q1" -> Seq("red", "table"), "q2" -> Seq("green"))

  test("manifest lifecycle: gens advance, fallback reads bare layout") {
    val dir = tmpDir("graft_mf")
    try {
      // pre-manifest directory: tablePaths falls back to dir/table
      assert(IndexCommit.currentManifest(spark, dir).isEmpty)
      assert(IndexCommit.tablePaths(spark, dir, "t") == Seq(s"$dir/t"))
      IndexCommit.commit(spark, dir) { (gen, cur) =>
        assert(gen == 1L && cur.isEmpty)
        Seq((1, "a")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> Seq(s"t-g$gen"))
      }
      val m1 = IndexCommit.currentManifest(spark, dir).get
      assert(m1.gen == 1L && m1.tables == Map("t" -> Seq("t-g1")))
      IndexCommit.commit(spark, dir) { (gen, cur) =>
        assert(gen == 2L && cur.get.gen == 1L)
        Seq((2, "b")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> (cur.get.tables("t") :+ s"t-g$gen"))
      }
      assert(IndexCommit.readTable(spark, dir, "t").count() == 2)
      // unknown table: loud error naming what the manifest carries
      val ex = intercept[RuntimeException](
        IndexCommit.tablePaths(spark, dir, "nope"))
      assert(ex.getMessage.contains("has no table"), ex.getMessage)
    } finally rmRf(dir)
  }

  test("writeWidth: parallel floor at small inputs, scales with bytes") {
    val floor = math.max(1,
      math.min(spark.sparkContext.defaultParallelism, 16))
    val small = spark.range(100).toDF("id")
    assert(IndexCommit.writeWidth(small) == floor)
    // ~80 GB estimated → well past the 16-writer ceiling the fixed
    // repartition imposed (stats-only: no job runs on this range)
    val big = spark.range(10L * 1000 * 1000 * 1000).toDF("id")
    val w = IndexCommit.writeWidth(big)
    assert(w > 16, s"width $w should exceed the old fixed 16")
    assert(w <= IndexCommit.MaxWidth)
    // monotone in the target: halving bytes-per-file doubles files
    assert(IndexCommit.writeWidth(big, 64L << 20) >= w)
    // the unknown-stats sentinel is rejected loudly, never a silent
    // MaxWidth explosion
    val huge = spark.range(Long.MaxValue / 16).toDF("id")
    val ex = intercept[IllegalArgumentException](
      IndexCommit.writeWidth(huge))
    assert(ex.getMessage.contains("sentinel"), ex.getMessage)
  }

  test("crash BETWEEN append stages: old index serves; retry converges") {
    val dir = tmpDir("graft_crash_between")
    try {
      val base = docs.filter($"doc_id" =!= 4L)
      Bm25.writeIndex(base, "doc_id", "text", dir)
      val before = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      val genBefore = IndexCommit.currentManifest(spark, dir).get.gen
      // injected crash: stage the postings increment for real, then
      // die before df/stats — the marker never flips
      val boom = intercept[RuntimeException] {
        IndexCommit.commit(spark, dir) { (gen, _) =>
          Seq(("value", 4L, 4L, 1L)).toDF("term", "doc_id", "dl", "tf")
            .write.mode("overwrite")
            .parquet(IndexCommit.segmentPath(dir, "postings", gen))
          throw new RuntimeException("injected crash between stages")
        }
      }
      assert(boom.getMessage.contains("injected"))
      // the old manifest is live and the old index serves bit-equal
      assert(IndexCommit.currentManifest(spark, dir).get.gen == genBefore)
      val after = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(after == before)
      // retry the REAL append: converges to the full-build answer (the
      // orphan segment from the crashed attempt is overwritten, then
      // GC'd by the successful commit — no double-append possible)
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 4L),
        "doc_id", "text")
      val served = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      val full = Bm25.topK(docs, "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == full)
      assert(served.nonEmpty)
      // post-commit GC removed the crashed attempt's orphan and the
      // superseded df/stats segments: every remaining segment dir is
      // referenced by the current manifest
      val m = IndexCommit.currentManifest(spark, dir).get
      val live = m.tables.values.flatten.toSet
      val segDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.matches(".+-g\\d+"))
        .map(_.getName).toSet
      assert(segDirs == live, s"orphans survived GC: ${segDirs -- live}")
    } finally rmRf(dir)
  }

  test("time travel: retained generations serve the old state; GC honors keepGens") {
    val dir = tmpDir("graft_tt")
    try {
      val base = docs.filter($"doc_id" =!= 4L)
      Bm25.writeIndex(base, "doc_id", "text", dir)
      val genOne = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      // append with a 2-gen retention window: gen 1 stays readable
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 4L),
        "doc_id", "text", retainGens = 2)
      assert(IndexCommit.currentManifest(spark, dir).get.gen == 2L)
      // the pinned-generation serve answers exactly as gen 1 did when
      // it was current (base-only build)
      val travel = Bm25.serve(spark, dir, queries, k = 3, atGen = Some(1L))
        .orderBy("qid", "rank").collect().toSeq
      assert(travel == genOne)
      val baseOnly = Bm25.topK(base, "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(travel == baseOnly)
      // the current generation serves the full corpus
      val now = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(now == Bm25.topK(docs, "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq)
      assert(now != travel)
      // default GC (keepGens = 1) collects gen 1; time travel now
      // fails LOUDLY, and the current serve is untouched
      IndexCommit.gcUnreferenced(spark, dir)
      val ex = intercept[IllegalArgumentException](
        Bm25.serve(spark, dir, queries, k = 3, atGen = Some(1L))
          .collect())
      assert(ex.getMessage.contains("no manifest g1"), ex.getMessage)
      assert(Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq == now)
    } finally rmRf(dir)
  }

  test("deleteDocs equals never-indexed; idempotent; compaction materializes") {
    val dir = tmpDir("graft_del")
    try {
      Bm25.writeIndex(docs, "doc_id", "text", dir)
      val ids = docs.filter($"doc_id" === 3L).select($"doc_id")
      Bm25.deleteDocs(spark, dir, ids)
      val served = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      // exact semantics: delete == a from-scratch build without doc 3
      // (df/stats decremented precisely, postings masked)
      val rebuilt = Bm25.topK(docs.filter($"doc_id" =!= 3L),
          "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == rebuilt)
      assert(served.nonEmpty)
      // q2 is only answerable by green docs (2, 3); after deleting 3
      // the result set actually changed — the assertion has teeth
      assert(served != Bm25.topK(docs, "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq)
      // idempotent: re-deleting the same doc must not double-subtract
      // the df/stats contributions
      Bm25.deleteDocs(spark, dir, ids)
      assert(Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq == served)
      // compaction materializes: tombstones table gone, rows gone,
      // serve unchanged
      Bm25.compactIndex(spark, dir)
      val m = IndexCommit.currentManifest(spark, dir).get
      assert(!m.tables.contains("tombstones"))
      assert(IndexCommit.readTable(spark, dir, "postings")
        .filter($"doc_id" === 3L).count() == 0)
      assert(Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq == served)
    } finally rmRf(dir)
  }

  test("crash MID-STAGE: a failing increment job commits nothing") {
    val dir = tmpDir("graft_crash_mid")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" =!= 4L), "doc_id", "text", dir)
      val before = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      val genBefore = IndexCommit.currentManifest(spark, dir).get.gen
      // the poisoned increment fails the postings staging JOB itself
      // (executor-side), the first write of the append
      val poisoned = docs.filter($"doc_id" === 4L)
        .as[(Long, String)]
        .map { _: (Long, String) =>
          throw new IllegalStateException("injected executor crash")
          (0L, ""): (Long, String)
        }
        .toDF("doc_id", "text")
      intercept[Throwable] {
        Bm25.appendIndex(spark, dir, poisoned, "doc_id", "text")
      }
      assert(IndexCommit.currentManifest(spark, dir).get.gen == genBefore)
      val after = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(after == before)
      assert(after.nonEmpty)
    } finally rmRf(dir)
  }

  test("delete THEN append: tombstones survive; serve == rebuild on survivors+appended") {
    val dir = tmpDir("graft_del_app")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" =!= 4L), "doc_id", "text", dir)
      Bm25.deleteDocs(spark, dir,
        docs.filter($"doc_id" === 3L).select($"doc_id"))
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 4L),
        "doc_id", "text")
      // the append must CARRY the mask forward — dropping it would
      // resurrect doc 3's postings against already-decremented df/
      // stats (doc 3 holds "table", a q1 term: resurrection is
      // visible in the ranking, the assertion has teeth)
      val m = IndexCommit.currentManifest(spark, dir).get
      assert(m.tables.contains("tombstones"),
        s"append dropped the tombstones table: ${m.tables.keys}")
      val served = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      val rebuilt = Bm25.topK(docs.filter($"doc_id" =!= 3L),
          "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == rebuilt)
      assert(served.nonEmpty)
    } finally rmRf(dir)
  }

  test("re-ingest after delete: loud error until a compaction materializes it (BM25 and IVF)") {
    // an append can neither keep a re-ingested id masked (served as
    // deleted while counted) nor unmask it (its pre-delete rows are
    // still physically present beside the new ones — double-counted);
    // the only consistent order is compact-then-re-ingest, ENFORCED
    val dir = tmpDir("graft_reingest")
    try {
      Bm25.writeIndex(docs, "doc_id", "text", dir)
      Bm25.deleteDocs(spark, dir,
        docs.filter($"doc_id" === 3L).select($"doc_id"))
      val doc3v2 = Seq((3L, "table table green")).toDF("doc_id", "text")
      val ex = intercept[IllegalArgumentException](
        Bm25.appendIndex(spark, dir, doc3v2, "doc_id", "text"))
      assert(ex.getMessage.contains("compact the index"), ex.getMessage)
      // the refused commit changed nothing: still at the delete's gen
      Bm25.compactIndex(spark, dir)
      Bm25.appendIndex(spark, dir, doc3v2, "doc_id", "text")
      val served = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      val rebuilt = Bm25.topK(
          docs.filter($"doc_id" =!= 3L).unionByName(doc3v2),
          "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == rebuilt)
      assert(served.nonEmpty)
    } finally rmRf(dir)
    // same contract on a vector family. Probing vec 7's own embedding
    // pins the lifecycle: its nearest cell is by definition probed, so
    // rank-1 is vec 7 itself exactly when the id is servable
    val rnd = new scala.util.Random(43)
    val emb = (0 until 90).map { i =>
      (i.toLong, i % 6, Array.fill(16)(rnd.nextGaussian().toFloat)) }
      .toDF("vec_id", "label", "embedding")
    // query id 999 ∉ corpus: the serve path's self-match exclusion
    // (vid != qid) must not hide the vector we're probing for
    val probe7 = emb.filter($"vec_id" === 7L)
      .select(org.apache.spark.sql.functions.lit(999L).as("qid"),
        $"embedding".as("qe"))
    def top1(vdir: String): Long = VectorSearch
      .ivfServe(spark, vdir, probe7, k = 1, nProbe = 6, dim = 16)
      .select($"vec_id").head().getLong(0)
    val vdir = tmpDir("graft_reingest_ivf")
    try {
      VectorSearch.ivfWriteIndex(emb, vdir, dim = 16)
      assert(top1(vdir) == 7L)
      VectorSearch.deleteVectors(spark, vdir,
        emb.filter($"vec_id" === 7L).select($"vec_id"))
      assert(top1(vdir) != 7L, "deleted vec 7 must not be served")
      val vex = intercept[IllegalArgumentException](
        VectorSearch.ivfAppendIndex(spark, vdir,
          emb.filter($"vec_id" === 7L).select($"vec_id", $"embedding"),
          dim = 16))
      assert(vex.getMessage.contains("compact the index"), vex.getMessage)
      VectorSearch.compactIndexTable(spark, vdir, "cells", "cell")
      VectorSearch.ivfAppendIndex(spark, vdir,
        emb.filter($"vec_id" === 7L).select($"vec_id", $"embedding"),
        dim = 16)
      assert(top1(vdir) == 7L, "re-ingested vec 7 must serve again")
    } finally rmRf(vdir)
  }

  test("deleting a NULL-text doc decrements stats exactly") {
    val dir = tmpDir("graft_del_null")
    try {
      // a null-text doc is indexed via the empty-string sentinel
      // posting, so its n_docs/Σdl contribution is recoverable at
      // delete time — without it the stats would drift from the
      // bit-identical-to-never-indexed contract
      val nullDoc = Seq((5L, null.asInstanceOf[String]))
        .toDF("doc_id", "text")
      Bm25.writeIndex(docs.unionByName(nullDoc), "doc_id", "text", dir)
      Bm25.deleteDocs(spark, dir, nullDoc.select($"doc_id"))
      val stats = IndexCommit.readTable(spark, dir, "stats")
        .agg(org.apache.spark.sql.functions.sum($"n_docs"),
          org.apache.spark.sql.functions.sum($"sum_dl")).head()
      assert(stats.getLong(0) == 4L, s"n_docs ${stats.getLong(0)}")
      assert(stats.getLong(1) == 16L, s"sum_dl ${stats.getLong(1)}") // 4+5+3+4
      val served = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == Bm25.topK(docs, "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq)
      assert(served.nonEmpty)
    } finally rmRf(dir)
  }

  test("df deltas: appends/deletes write delta segments; compact materializes the fold") {
    val dir = tmpDir("graft_df_delta")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" < 3L), "doc_id", "text", dir)
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 3L),
        "doc_id", "text")
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 4L),
        "doc_id", "text")
      Bm25.deleteDocs(spark, dir,
        docs.filter($"doc_id" === 2L).select($"doc_id"))
      // base + 2 positive deltas + 1 negative delta, never rewritten
      val m = IndexCommit.currentManifest(spark, dir).get
      assert(m.tables("df").size == 4, m.tables("df").toString)
      val served = Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == Bm25.topK(docs.filter($"doc_id" =!= 2L),
          "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq)
      // the N-delta fold ≡ the materialized table compaction writes
      val folded = IndexCommit.readTable(spark, dir, "df")
        .groupBy($"term")
        .agg(org.apache.spark.sql.functions.sum($"df").as("df"))
        .filter($"df" > 0)
        .orderBy($"term").collect().toSeq
      Bm25.compactIndex(spark, dir)
      val m2 = IndexCommit.currentManifest(spark, dir).get
      assert(m2.tables("df").size == 1 && !m2.tables.contains("tombstones"))
      val materialized = IndexCommit.readTable(spark, dir, "df")
        .orderBy($"term").collect().toSeq
      assert(materialized == folded)
      assert(Bm25.serve(spark, dir, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq == served)
    } finally rmRf(dir)
  }

  test("single-writer contract: a racing committer loses LOUDLY; stale claims recover via GC") {
    val dir = tmpDir("graft_claim")
    try {
      def commitOne(tag: String): Unit =
        IndexCommit.commit(spark, dir) { (gen, _) =>
          Seq((gen, tag)).toDF("k", "v").write.mode("overwrite")
            .parquet(IndexCommit.segmentPath(dir, "t", gen))
          Map("t" -> Seq(s"t-g$gen"))
        }
      commitOne("seed")
      // a second committer interleaves mid-stage: exactly one wins,
      // and the loser's error names the contested generation
      var loser: Option[Throwable] = None
      IndexCommit.commit(spark, dir) { (gen, _) =>
        loser = Some(intercept[RuntimeException](commitOne("intruder")))
        Seq((gen, "winner")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> Seq(s"t-g$gen"))
      }
      assert(loser.get.getMessage.contains("_claim_g000000000002"),
        loser.get.getMessage)
      assert(loser.get.getMessage.contains("single-writer"),
        loser.get.getMessage)
      val m = IndexCommit.currentManifest(spark, dir).get
      assert(m.gen == 2L)
      assert(IndexCommit.readTable(spark, dir, "t")
        .collect().map(_.getString(1)).toSeq == Seq("winner"))
      // a committer KILLED before its flip strands a claim: the next
      // commit refuses (could be a live concurrent writer), and the
      // documented recovery — GC, which only a sole writer may run —
      // clears it so the retry proceeds
      new java.io.File(dir, "_claim_g000000000003").createNewFile()
      val stale = intercept[RuntimeException](commitOne("retry"))
      assert(stale.getMessage.contains("already held"), stale.getMessage)
      IndexCommit.gcUnreferenced(spark, dir)
      commitOne("retry")
      assert(IndexCommit.currentManifest(spark, dir).get.gen == 3L)
    } finally rmRf(dir)
  }

  test("GC grace: a reader holding gen N survives a concurrent commit+GC") {
    val dir = tmpDir("graft_grace")
    try {
      IndexCommit.commit(spark, dir) { (gen, _) =>
        Seq((1, "old")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> Seq(s"t-g$gen"))
      }
      // a long-running reader resolves its scan paths against gen 1...
      val readerPaths = IndexCommit.tablePaths(spark, dir, "t")
      // ...while a writer supersedes it and vacuums with a grace
      // window: gen 1 was dereferenced less than graceMs ago, so its
      // segments survive keepGens = 1
      IndexCommit.commit(spark, dir) { (gen, _) =>
        Seq((2, "new")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> Seq(s"t-g$gen"))
      }
      IndexCommit.gcUnreferenced(spark, dir, keepGens = 1,
        graceMs = 3600L * 1000)
      // the reader's late scan completes, and the superseded
      // generation even stays time-travel readable through the lease
      assert(spark.read.parquet(readerPaths: _*)
        .collect().map(_.getString(1)).toSeq == Seq("old"))
      assert(IndexCommit.manifestAt(spark, dir, 1L).tables("t") ==
        Seq("t-g1"))
      // without the grace (the single-JVM default) the segment goes
      IndexCommit.gcUnreferenced(spark, dir, keepGens = 1)
      assert(!new java.io.File(dir, "t-g1").exists())
    } finally rmRf(dir)
  }

  test("shard merge == full build; pending shard deletes materialize through") {
    val dirs = (0 to 2).map(i => tmpDir(s"graft_shard$i"))
    val dest = tmpDir("graft_shard_merged")
    try {
      // three shard builds over disjoint slices, one with a pending
      // delete (tombstone mask not yet compacted)
      (0 to 2).foreach { s =>
        Bm25.writeIndex(docs.filter($"doc_id" % 3 === s.toLong),
          "doc_id", "text", dirs(s))
      }
      Bm25.deleteDocs(spark, dirs(0), // doc 3 lives in shard 0 (3 % 3)
        docs.filter($"doc_id" === 3L).select($"doc_id"))
      Bm25.mergeIndexes(spark, dest, dirs)
      // merged == a single build on everything-but-the-deleted-doc,
      // and the merge materialized the shard's mask (no tombstones)
      val m = IndexCommit.currentManifest(spark, dest).get
      assert(!m.tables.contains("tombstones"))
      assert(m.tables("postings").size == 1 && m.tables("df").size == 1)
      val served = Bm25.serve(spark, dest, queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq
      assert(served == Bm25.topK(docs.filter($"doc_id" =!= 3L),
          "doc_id", "text", queries, k = 3)
        .orderBy("qid", "rank").collect().toSeq)
      assert(served.nonEmpty)
      assert(IndexCommit.readTable(spark, dest, "postings")
        .filter($"doc_id" === 3L).count() == 0)
    } finally { dirs.foreach(rmRf); rmRf(dest) }
  }

  test("stateless shard merge == full build; mismatched geometry fails loudly") {
    val rnd = new scala.util.Random(59)
    val emb = (0 until 90).map { i =>
      (i.toLong, i % 5, Array.fill(16)(rnd.nextGaussian().toFloat)) }
      .toDF("vec_id", "label", "embedding")
    val qs = emb.filter($"vec_id" % 9 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val dirs = (0 to 1).map(i => tmpDir(s"graft_lshard$i"))
    val full = tmpDir("graft_lfull")
    val dest = tmpDir("graft_lmerged")
    try {
      (0 to 1).foreach { s =>
        VectorSearch.lshWriteIndex(emb.filter($"vec_id" % 2 === s.toLong),
          dirs(s), bits = 6, dim = 16)
      }
      VectorSearch.lshWriteIndex(emb, full, bits = 6, dim = 16)
      VectorSearch.mergeStatelessIndexes(spark, dest, dirs,
        "buckets", Some("bkt"))
      // seed-derived planes: every shard assigned identically, so the
      // merged serve is bit-equal to the single full build's
      val merged = VectorSearch.lshServe(spark, dest, qs, k = 4)
        .orderBy("qid", "rank").collect().toSeq
      assert(merged == VectorSearch.lshServe(spark, full, qs, k = 4)
        .orderBy("qid", "rank").collect().toSeq)
      assert(merged.nonEmpty)
      // a shard built at different geometry cannot merge silently
      val odd = tmpDir("graft_lodd")
      try {
        VectorSearch.lshWriteIndex(emb.filter($"vec_id" % 2 === 0L),
          odd, bits = 8, dim = 16)
        val ex = intercept[IllegalArgumentException](
          VectorSearch.mergeStatelessIndexes(spark, tmpDir("graft_lx"),
            Seq(dirs(0), odd), "buckets", Some("bkt")))
        assert(ex.getMessage.contains("geometries differ"), ex.getMessage)
      } finally rmRf(odd)
    } finally { dirs.foreach(rmRf); rmRf(full); rmRf(dest) }
  }

  test("IVF time travel pins cells, centroids AND the tombstone mask") {
    val rnd = new scala.util.Random(53)
    val emb = (0 until 80).map { i =>
      (i.toLong, i % 4, Array.fill(8)(rnd.nextGaussian().toFloat)) }
      .toDF("vec_id", "label", "embedding")
    val probe = emb.filter($"vec_id" === 11L)
      .select(org.apache.spark.sql.functions.lit(999L).as("qid"),
        $"embedding".as("qe"))
    val dir = tmpDir("graft_ivf_tt")
    try {
      VectorSearch.ivfWriteIndex(emb, dir, dim = 8)
      def top1(atGen: Option[Long]) = VectorSearch
        .ivfServe(spark, dir, probe, k = 1, nProbe = 4, dim = 8,
          atGen = atGen)
        .select($"vec_id").head().getLong(0)
      assert(top1(None) == 11L)
      // delete vec 11 with a retention window: the pre-delete
      // generation must still serve it, the current one must not —
      // the mask is part of the pinned snapshot, not a global overlay
      VectorSearch.deleteVectors(spark, dir,
        emb.filter($"vec_id" === 11L).select($"vec_id"), retainGens = 2)
      assert(top1(None) != 11L)
      assert(top1(Some(1L)) == 11L,
        "gen-1 serve must predate the takedown")
    } finally rmRf(dir)
  }

  test("IVF append crash leaves the cells/centroids pair consistent") {
    val rnd = new scala.util.Random(41)
    val emb = (0 until 120).map { i =>
      (i.toLong, i % 8, Array.fill(16)(rnd.nextGaussian().toFloat)) }
      .toDF("vec_id", "label", "embedding")
    val qs = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val dir = tmpDir("graft_crash_ivf")
    try {
      VectorSearch.ivfWriteIndex(emb.filter($"vec_id" % 7 =!= 0), dir,
        dim = 16)
      val before = VectorSearch.ivfServe(spark, dir, qs, k = 4, dim = 16)
        .orderBy("qid", "rank").collect().toSeq
      val poisoned = emb.filter($"vec_id" % 7 === 0)
        .select($"vec_id", $"embedding")
        .as[(Long, Array[Float])]
        .map { _: (Long, Array[Float]) =>
          throw new IllegalStateException("injected executor crash")
          (0L, Array.empty[Float]): (Long, Array[Float])
        }
        .toDF("vec_id", "embedding")
      intercept[Throwable] {
        VectorSearch.ivfAppendIndex(spark, dir, poisoned, dim = 16)
      }
      val after = VectorSearch.ivfServe(spark, dir, qs, k = 4, dim = 16)
        .orderBy("qid", "rank").collect().toSeq
      assert(after == before)
      assert(after.nonEmpty)
    } finally rmRf(dir)
  }

  test("a failed LSH rebuild over a live index commits nothing; a " +
       "clean retry converges and GC leaves no orphan segment") {
    val emb = vecs.select($"vec_id", $"embedding")
    val qs = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val dir = tmpDir("graft_crash_rebuild")
    val clean = tmpDir("graft_crash_rebuild_clean")
    def serve(d: String = dir) = VectorSearch.lshServe(spark, d, qs, 4)
      .orderBy("qid", "rank").collect().toSeq
    try {
      VectorSearch.lshWriteIndex(emb.filter($"vec_id" % 7 =!= 0), dir)
      val gen = IndexCommit.currentManifest(spark, dir).get.gen
      val before = serve()
      // the bucket write fails on the executors; the overlapped meta
      // write (driver-sized, no poisoned input) succeeds
      val poisoned = emb.as[(Long, Array[Float])]
        .map { _: (Long, Array[Float]) =>
          throw new IllegalStateException("injected executor crash")
          (0L, Array.empty[Float]): (Long, Array[Float])
        }
        .toDF("vec_id", "embedding")
      val crash = intercept[Throwable](
        VectorSearch.lshWriteIndex(poisoned, dir))
      assert(Iterator.iterate(crash)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected")),
        crash.toString)
      assert(new java.io.File(
        IndexCommit.segmentPath(dir, "meta", gen + 1)).isDirectory,
        "the overlapped meta write should have staged its segment")
      assert(IndexCommit.currentManifest(spark, dir).get.gen == gen)
      assert(serve() == before)
      // a clean retry re-stages the same generation over the orphans
      VectorSearch.lshWriteIndex(emb, dir)
      val m = IndexCommit.currentManifest(spark, dir).get
      assert(m.gen == gen + 1)
      // the retried index serves what a never-crashed build serves
      VectorSearch.lshWriteIndex(emb, clean)
      assert(serve() == serve(clean))
      val live = m.tables.values.flatten.toSet
      val onDisk = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.matches(".+-g\\d+")).toSet
      assert(onDisk == live, s"on disk $onDisk, referenced $live")
    } finally { rmRf(dir); rmRf(clean) }
  }

  test("cloneSnapshot: byte-copied promotion is independent, " +
       "time-travels, and stays collision-free under later commits") {
    val src = tmpDir("graft_clone_src")
    val dst = tmpDir("graft_clone_dst_") + "/fresh"
    val dstOld = tmpDir("graft_clone_old_") + "/pinned"
    try {
      Bm25.writeIndex(docs, "doc_id", "text", src)
      // retain gen 1 through the delete so the pinned clone can read it
      Bm25.deleteDocs(spark, src, Seq(4L).toDF("doc_id"), retainGens = 2)
      def served(dir: String): Set[Long] =
        Bm25.serve(spark, dir, queries, k = 10)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      // current-gen clone: the takedown travels with the bytes
      IndexCommit.cloneSnapshot(spark, src, dst)
      assert(IndexCommit.currentManifest(spark, dst).get.gen == 1L)
      assert(served(dst) == served(src) && !served(dst).contains(4L))
      // pinned-gen clone: yesterday's index, byte-for-byte
      IndexCommit.cloneSnapshot(spark, src, dstOld, atGen = Some(1L))
      assert(served(dstOld).contains(4L))
      // a clone is not a merge: re-cloning onto it errors loudly
      val busy = intercept[IllegalArgumentException](
        IndexCommit.cloneSnapshot(spark, src, dst))
      assert(busy.getMessage.contains("already holds"), busy.getMessage)
      // independence: source GC (and even deletion) cannot reach the clone
      IndexCommit.gcUnreferenced(spark, src, keepGens = 1)
      rmRf(src)
      assert(!served(dst).contains(4L))
      // later commits against the clone stage <table>-g2 names — the
      // c<i> infix on cloned segments guarantees no collision
      Bm25.appendIndex(spark, dst,
        Seq((9L, "red nine")).toDF("doc_id", "text"), "doc_id", "text")
      assert(served(dst).contains(9L) && !served(dst).contains(4L))
    } finally { rmRf(dst); rmRf(dstOld) }
  }

  test("distributed clone: segments land byte-identical; task count " +
       "scales with index size") {
    val src = tmpDir("graft_dclone_src")
    val dst = tmpDir("graft_dclone_dst_") + "/fresh"
    try {
      Bm25.writeIndex(docs, "doc_id", "text", src)
      Bm25.appendIndex(spark, src,
        Seq((9L, "red nine table")).toDF("doc_id", "text"),
        "doc_id", "text")
      val m = IndexCommit.currentManifest(spark, src).get
      IndexCommit.cloneSnapshot(spark, src, dst)
      val mc = IndexCommit.currentManifest(spark, dst).get
      // every source segment file has a byte-identical twin under the
      // clone's renamed segment dir — the copy is raw streaming, no
      // re-encode, so md5s match file for file
      def md5(f: java.io.File): String = {
        val d = java.security.MessageDigest.getInstance("MD5")
        d.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }
      def filesUnder(dir: java.io.File): Seq[java.io.File] = {
        val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory)
          .flatMap(filesUnder)
      }
      var checked = 0
      m.tables.foreach { case (t, segs) =>
        segs.zipWithIndex.foreach { case (seg, i) =>
          val cloneSeg = mc.tables(t)(i)
          val srcRoot = new java.io.File(src, seg)
          val dstRoot = new java.io.File(dst, cloneSeg)
          filesUnder(srcRoot).foreach { sf =>
            val rel = srcRoot.toPath.relativize(sf.toPath).toString
            val df = new java.io.File(dstRoot, rel)
            assert(df.isFile, s"missing clone file $df")
            assert(md5(sf) == md5(df), s"clone differs at $rel")
            checked += 1
          }
        }
      }
      assert(checked > 0)
      // copy parallelism scales with the payload: a metadata-sized
      // clone stays at the parallel floor, a 100 GB index fans out to
      // one task per ~128 MiB, capped at one task per file
      val floorSlices = IndexCommit.cloneSlices(1L << 20, 40, 32)
      assert(floorSlices == 32, s"floor: $floorSlices")
      val bigSlices = IndexCommit.cloneSlices(100L << 30, 10000, 32)
      assert(bigSlices == 800, s"100GB: $bigSlices")
      assert(IndexCommit.cloneSlices(100L << 30, 10, 32) == 10,
        "never more tasks than files")
    } finally { rmRf(src); rmRf(dst) }
  }

  test("GC during a mid-flight commit (contract violation) spares the " +
       "live claim; stale claims still recover") {
    val dir = tmpDir("graft_claimage")
    try {
      Bm25.writeIndex(docs, "doc_id", "text", dir)
      // an operator erroneously runs GC with a grace window while a
      // commit is mid-stage: the committer's fresh claim survives and
      // the commit completes
      IndexCommit.commit(spark, dir) { (gen, cur) =>
        IndexCommit.gcUnreferenced(spark, dir, keepGens = 1,
          graceMs = 60000L)
        val claim = new java.io.File(dir, f"_claim_g$gen%012d")
        assert(claim.isFile,
          "GC with a grace window must spare a live claim")
        Seq((9L, 9L)).toDF("doc_id", "x").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "extra", gen))
        cur.get.tables.updated("extra", Seq(s"extra-g$gen"))
      }
      assert(IndexCommit.currentManifest(spark, dir).get
        .tables.contains("extra"))
      // a genuinely stranded claim (killed committer, aged past the
      // grace) is still cleared so the sole writer can retry
      val nextGen = IndexCommit.currentManifest(spark, dir).get.gen + 1
      val stale = new java.io.File(dir, f"_claim_g$nextGen%012d")
      assert(stale.createNewFile())
      assert(stale.setLastModified(System.currentTimeMillis() - 120000L))
      IndexCommit.gcUnreferenced(spark, dir, keepGens = 1,
        graceMs = 60000L)
      assert(!stale.exists(), "aged stranded claim must be cleared")
    } finally rmRf(dir)
  }

  test("segmentDebt derives row counts from the PASSED manifest, not " +
       "the current one") {
    val dir = tmpDir("graft_debt")
    try {
      IndexCommit.commit(spark, dir) { (gen, _) =>
        Seq((1, "a")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> Seq(s"t-g$gen"))
      }
      val m1 = IndexCommit.currentManifest(spark, dir).get
      IndexCommit.commit(spark, dir) { (gen, cur) =>
        Seq((2, "b"), (3, "c")).toDF("k", "v").write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "t", gen))
        Map("t" -> (cur.get.tables("t") :+ s"t-g$gen"))
      }
      val m2 = IndexCommit.currentManifest(spark, dir).get
      def debtRows(m: IndexCommit.Manifest): (Long, Long) = {
        val r = IndexCommit.segmentDebt(spark, dir, m)
          .filter($"tbl" === "t").head()
        (r.getAs[Int]("segments").toLong, r.getAs[Long]("n_rows"))
      }
      // time-travel manifest: ITS segment count with ITS row count
      assert(debtRows(m1) == ((1L, 1L)))
      assert(debtRows(m2) == ((2L, 3L)))
    } finally rmRf(dir)
  }

  test("fsck: green on a maintained index, FALSE rows on injected df " +
       "drift; diff reports adds and takedowns") {
    val dir = tmpDir("graft_fsck")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" <= 2L), "doc_id", "text", dir)
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 3L),
        "doc_id", "text", retainGens = 4)
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" === 4L),
        "doc_id", "text", retainGens = 4)
      Bm25.deleteDocs(spark, dir, Seq(2L).toDF("doc_id"),
        retainGens = 4)
      // every invariant holds after the maintenance window (5 family
      // rows + the 4 shared bit-rot rows)
      val ok = Bm25.fsck(spark, dir).collect()
      assert(ok.length == 9 && ok.forall(_.getAs[Boolean]("ok")),
        ok.mkString("; "))
      // diff gen 1 -> current: 3 and 4 were added, 2 was taken down
      val d = Bm25.diffIndex(spark, dir, 1L,
          IndexCommit.currentManifest(spark, dir).get.gen)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(d == Set(("added", 3L), ("added", 4L), ("removed", 2L)), d)
      // inject drift: a bogus df delta no postings back — fsck must
      // flag the mismatch instead of trusting the fold
      IndexCommit.commit(spark, dir) { (gen, cur) =>
        Seq(("red", 5L)).toDF("term", "df").coalesce(1)
          .write.mode("overwrite")
          .parquet(IndexCommit.segmentPath(dir, "df", gen))
        cur.get.tables.updated("df", cur.get.tables("df") :+ s"df-g$gen")
      }
      val bad = Bm25.fsck(spark, dir).collect()
        .map(r => r.getString(0) -> r.getAs[Boolean]("ok")).toMap
      assert(!bad("df_mismatch_terms"),
        s"injected df drift must fail the recount: $bad")
      assert(bad("stats_n_docs") && bad("tombstones_orphaned"))
    } finally rmRf(dir)
  }

  test("health cards stay quiet on an emptied index (no NaN flip)") {
    val dir = tmpDir("graft_empty_health")
    try {
      Bm25.writeIndex(docs, "doc_id", "text", dir)
      Bm25.deleteDocs(spark, dir, docs.select($"doc_id"))
      Bm25.compactIndex(spark, dir)
      // all docs deleted and materialized: masked = live = 0; the
      // masked fraction must read 0.0, not the NaN of 0/0 (which
      // Spark orders above every threshold)
      val card = Bm25.healthCard(spark, dir).collect()
      assert(card.nonEmpty)
      assert(card.forall(!_.getAs[Boolean]("compact_recommended")),
        card.mkString("; "))
    } finally rmRf(dir)
  }

  test("bit rot: a flipped byte (length intact) trips ONLY the checksum " +
       "row; stamps carry through append + compact; a rotted clone aborts") {
    val dir = tmpDir("graft_rot")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" > 2),
        "doc_id", "text")
      val m = IndexCommit.currentManifest(spark, dir).get
      // every physical file under every segment is stamped, including
      // the base build's files carried forward through the append
      val segs = m.tables.values.flatten.toSet
      assert(m.files.nonEmpty &&
        segs.forall(s => m.files.keys.exists(_.startsWith(s + "/"))),
        s"all segments stamped; got ${m.files.keys.toSeq.sorted}")
      def card(): Map[String, (Long, Long, Boolean)] =
        IndexCommit.checksumCard(spark, dir,
            IndexCommit.currentManifest(spark, dir).get)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
      val clean = card()
      assert(clean.values.forall(_._3), s"clean index all-ok: $clean")
      // corrupt ONE byte of a postings file, SAME length, through the
      // filesystem (fresh local-FS sidecar): the OS-level read stays
      // happy — only the manifest stamp can catch this
      val (rel, (len, _)) = m.files
        .filter { case (r, (l, _)) =>
          r.startsWith("postings") && r.endsWith(".parquet") && l > 100 }
        .head
      val fsPath = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
      val orig = new Array[Byte](len.toInt)
      val in = fs.open(fsPath)
      try in.readFully(0L, orig) finally in.close()
      val bytes = orig.clone()
      bytes(len.toInt / 2) = (bytes(len.toInt / 2) ^ 0x01).toByte
      val out = fs.create(fsPath, true)
      try out.write(bytes) finally out.close()
      val rotted = card()
      assert(rotted("segment_checksum_mismatches") == (0L, 1L, false),
        s"the flipped byte must trip the checksum row: $rotted")
      assert(rotted("segment_length_mismatches") == (0L, 0L, true),
        "the length-only audit stays green on a flipped byte — " +
          "exactly the gap the stamps exist to close")
      assert(rotted("segment_files_missing")._3 &&
        rotted("segment_files_unstamped")._3, s"$rotted")
      // promotion of rotted bytes aborts BEFORE the clone's flip: the
      // copy tasks hash in flight and the stamps disagree
      val dest = tmpDir("graft_rot_clone")
      try {
        val ex = intercept[Exception](
          IndexCommit.cloneSnapshot(spark, dir, dest))
        assert(ex.getMessage.contains("bit rot"), ex.getMessage)
        assert(IndexCommit.currentManifest(spark, dest).isEmpty,
          "nothing may flip at the destination")
      } finally rmRf(dest)
      // restore the replica's bytes (rot recovery is restore-from-
      // replica, never compaction — a compaction READS the rot); then
      // compaction re-stages every table, so the new manifest stamps
      // fresh bytes and drops the dereferenced segments' entries
      val out2 = fs.create(fsPath, true)
      try out2.write(orig) finally out2.close()
      assert(card().values.forall(_._3), "restored bytes re-verify")
      Bm25.compactIndex(spark, dir)
      val m2 = IndexCommit.currentManifest(spark, dir).get
      val segs2 = m2.tables.values.flatten.toSet
      assert(m2.files.keys.forall(r =>
        segs2.contains(r.substring(0, r.indexOf('/')))),
        "compaction drops stamps of dereferenced segments")
      val healed = card()
      assert(healed.values.forall(_._3), s"post-compact all-ok: $healed")
    } finally rmRf(dir)
  }

  /** Spark jobs that `body` starts from this thread, counted by a
    * listener on the job group `body` runs under. Listener events are
    * delivered in order, so once a sentinel job started afterwards in
    * a second group arrives, every job of `body` has been counted. */
  private def jobsStartedBy[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("frame-construction") => jobs.incrementAndGet(): Unit
          case Some("listener-sentinel") => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("frame-construction", "frame construction")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("listener-sentinel", "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The read every segment open made before footer schemas: Spark's
    * own schema inference, one segment root at a time. */
  private def inferredUnion(paths: Seq[String]) =
    paths.map(p => spark.read.option("basePath", p).parquet(p))
      .reduce(_ unionByName _)

  private val vecs = (1L to 40L).map { i =>
    (i, i % 3, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
  }.toDF("vec_id", "label", "embedding")

  test("segment opens read the footer schema: no Spark job, the " +
       "schema Spark infers (BM25 deltas, IVFPQ cells, debt card, " +
       "bare layout)") {
    val bm25Dir = tmpDir("graft_open_bm25")
    val ivfPqDir = tmpDir("graft_open_ivfpq")
    val bareDir = tmpDir("graft_open_bare")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" =!= 4L), "doc_id", "text",
        bm25Dir)
      Bm25.appendIndex(spark, bm25Dir, docs.filter($"doc_id" === 4L),
        "doc_id", "text")
      Bm25.deleteDocs(spark, bm25Dir, Seq(2L).toDF("doc_id"))
      VectorSearch.ivfPqWriteIndex(vecs, ivfPqDir)
      // pre-manifest layout: a bare partitioned table dir
      Seq((1, "a"), (2, "b")).toDF("k", "v").write.partitionBy("k")
        .parquet(s"$bareDir/t")
      val bm25 = IndexCommit.currentManifest(spark, bm25Dir).get
      assert(Seq("postings", "df").forall(bm25.tables(_).size > 1),
        s"the BM25 case must cover multi-segment tables: ${bm25.tables}")
      assert(IndexCommit.currentManifest(spark, bareDir).isEmpty)
      val cases = Seq(
        bm25Dir -> Seq("postings", "df", "stats", "tombstones"),
        ivfPqDir -> Seq("codes", "centroids", "codebooks", "meta"),
        bareDir -> Seq("t"))
      for ((dir, tables) <- cases; t <- tables) {
        val (df, jobs) = jobsStartedBy(IndexCommit.readTable(spark, dir, t))
        assert(jobs == 0, s"opening $dir/$t started $jobs Spark job(s)")
        val expected = inferredUnion(IndexCommit.tablePaths(spark, dir, t))
        assert(df.schema == expected.schema, s"$dir/$t")
        assert(df.collect().map(_.toString).sorted.toSeq ==
          expected.collect().map(_.toString).sorted.toSeq, s"$dir/$t")
      }
      // the cell-partitioned codes: `cell` is discovered from the dirs
      assert(IndexCommit.readTable(spark, ivfPqDir, "codes").columns
        .last == "cell")
      assert(IndexCommit.readTable(spark, bareDir, "t").columns.last == "k")
      // the pinned read and the debt card open segments the same way
      val (at, atJobs) = jobsStartedBy(
        IndexCommit.readTableAt(spark, bm25Dir, "df", bm25.gen))
      assert(atJobs == 0)
      assert(at.schema ==
        inferredUnion(IndexCommit.tablePaths(spark, bm25Dir, "df")).schema)
      val (card, cardJobs) = jobsStartedBy(
        IndexCommit.segmentDebt(spark, bm25Dir, bm25))
      assert(cardJobs == 0, s"segmentDebt started $cardJobs Spark job(s)")
      val rows = card.collect().map(r =>
        r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
      bm25.tables.foreach { case (t, segs) =>
        assert(rows(t) == (segs.size,
          inferredUnion(segs.map(s => s"$bm25Dir/$s")).count()), t)
      }
      // a segment with no data file falls through to Spark's inference,
      // error included
      new java.io.File(s"$bareDir/empty").mkdirs()
      val ours = intercept[Exception](
        IndexCommit.readTable(spark, bareDir, "empty"))
      val spark0 = intercept[Exception](inferredUnion(Seq(s"$bareDir/empty")))
      assert(ours.getClass == spark0.getClass &&
        ours.getMessage == spark0.getMessage, ours.getMessage)
    } finally { rmRf(bm25Dir); rmRf(ivfPqDir); rmRf(bareDir) }
  }

  /** The paths of the files opened while `body` runs, recorded by
    * [[OpenRecorder]] installed as this session's `file://`
    * filesystem. */
  private def opensDuring(body: => Unit): Seq[org.apache.hadoop.fs.Path] = {
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("fs.file.impl", classOf[OpenRecorder].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    OpenRecorder.opened.clear()
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    OpenRecorder.opened.toArray(Array.empty[org.apache.hadoop.fs.Path])
      .toSeq
  }

  /** The names of the `_manifest_g*` files opened while `body` runs. */
  private def manifestOpensDuring(body: => Unit): Seq[String] =
    opensDuring(body).map(_.getName).filter(_.startsWith("_manifest_g"))

  test("a vector serve reads every table at ONE manifest generation") {
    val queries = vecs.filter($"vec_id" <= 3L)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val base = vecs.filter($"vec_id" <= 36L)
    val inc = vecs.filter($"vec_id" > 36L)
    // (name, build, serve, one-increment append, health-card rows table)
    val families: Seq[(String, String => Unit, String => DataFrame,
        String => Unit, String)] = Seq(
      ("lsh", VectorSearch.lshWriteIndex(base, _),
        VectorSearch.lshServe(spark, _, queries, 3),
        VectorSearch.lshAppendIndex(spark, _, inc), "buckets"),
      ("pq", VectorSearch.pqWriteIndex(base, _),
        VectorSearch.pqServe(spark, _, vecs, queries, 3),
        VectorSearch.pqAppendIndex(spark, _, inc), "codes"),
      ("ivfPq", VectorSearch.ivfPqWriteIndex(base, _),
        VectorSearch.ivfPqServe(spark, _, vecs, queries, 3),
        VectorSearch.ivfPqAppendIndex(spark, _, inc), "codes"),
      ("mrl", VectorSearch.mrlWriteIndex(base, _),
        VectorSearch.mrlServe(spark, _, vecs, queries, 3),
        VectorSearch.mrlAppendIndex(spark, _, inc), "prefix"),
      ("ivf", VectorSearch.ivfWriteIndex(base, _),
        VectorSearch.ivfServe(spark, _, queries, 3),
        VectorSearch.ivfAppendIndex(spark, _, inc), "cells"))
    for ((name, build, serve, append, rowsTable) <- families) {
      val dir = tmpDir(s"graft_pin_$name")
      def manifestName = f"_manifest_g${
        IndexCommit.currentManifest(spark, dir).get.gen}%012d"
      try {
        build(dir)
        // a tombstone table makes the serve read its mask too
        VectorSearch.deleteVectors(spark, dir, Seq(5L).toDF("vec_id"))
        // the append encodes against the generation it extends,
        // resolved once: its geometry/centroid/codebook reads and the
        // commit share one open of the base manifest
        val prev = manifestName
        val appendOpens = manifestOpensDuring(append(dir))
        assert(appendOpens.count(_ == prev) == 1,
          s"$name append opened $appendOpens")
        val cur = manifestName
        var served = Seq.empty[Long]
        val opened = manifestOpensDuring {
          served = serve(dir).select($"vec_id").as[Long].collect().toSeq
        }
        assert(opened == Seq(cur), s"$name serve opened $opened")
        assert(served.nonEmpty && !served.contains(5L), s"$name: $served")
        val cardOpens = manifestOpensDuring {
          VectorSearch.healthCard(spark, dir, rowsTable).collect(): Unit
        }
        assert(cardOpens == Seq(cur), s"$name health card opened $cardOpens")
      } finally rmRf(dir)
    }
  }

  test("a card evaluates its inputs once: checkRows is one projection " +
       "of the scalar row") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val rowsRead = spark.sparkContext.longAccumulator("card-source-rows")
    val source = spark.sparkContext.parallelize(1L to 100L, 4)
      .map { v => rowsRead.add(1L); v }.toDF("v")
    val scalars = PlanHints.withScalars(spark.range(1).toDF("_one"),
      source.agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
        max(col("v")).as("hi"), min(col("v")).as("lo")))
    val card = IndexCommit.checkRows(scalars, Seq(
      ("sum", lit(5050L), col("s")), ("count", lit(100L), col("n")),
      ("max", lit(100L), col("hi")), ("min", lit(1L), col("lo"))))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
    assert(card.toSeq == Seq(("sum", 5050L, true), ("count", 100L, true),
      ("max", 100L, true), ("min", 1L, true)))
    assert(rowsRead.value == 100L,
      s"the source was read ${rowsRead.value / 100.0} times, not once")
  }

  test("checksumCard opens each stamped file exactly once") {
    val dir = tmpDir("graft_rot_once")
    try {
      Bm25.writeIndex(docs.filter($"doc_id" <= 2), "doc_id", "text", dir)
      Bm25.appendIndex(spark, dir, docs.filter($"doc_id" > 2),
        "doc_id", "text")
      val m = IndexCommit.currentManifest(spark, dir).get
      var card = Seq.empty[Boolean]
      val opened = opensDuring {
        card = IndexCommit.checksumCard(spark, dir, m).collect()
          .map(_.getBoolean(3)).toSeq
      }
      assert(card.size == 4 && card.forall(identity))
      val stamped = m.files.keySet.map(r => new java.io.File(dir, r).getPath)
      val counts = opened.map(_.toUri.getPath).groupBy(identity)
        .map { case (p, ps) => p -> ps.size }
      assert(stamped.nonEmpty && stamped.forall(counts.get(_).contains(1)),
        s"opens per stamped file: ${stamped.toSeq.sorted.map(p =>
          p -> counts.getOrElse(p, 0))}")
    } finally rmRf(dir)
  }

  test("fsck cards start a bounded number of Spark jobs (BM25, IVFPQ, " +
       "with a tombstone)") {
    val bm25Dir = tmpDir("graft_fsck_jobs_bm25")
    val ivfPqDir = tmpDir("graft_fsck_jobs_ivfpq")
    try {
      Bm25.writeIndex(docs, "doc_id", "text", bm25Dir)
      Bm25.deleteDocs(spark, bm25Dir, Seq(2L).toDF("doc_id"))
      VectorSearch.ivfPqWriteIndex(vecs, ivfPqDir)
      VectorSearch.deleteVectors(spark, ivfPqDir, Seq(5L).toDF("vec_id"))
      // one projection per card: 18 jobs each (a union of one branch
      // per check started 34 for BM25 and 40 for IVFPQ)
      for ((name, fsck) <- Seq(
             "bm25" -> (() => Bm25.fsck(spark, bm25Dir)),
             "ivfPq" -> (() => VectorSearch.ivfPqFsck(spark, ivfPqDir)))) {
        val (rows, jobs) = jobsStartedBy(fsck().collect())
        assert(rows.nonEmpty && rows.forall(_.getBoolean(3)),
          s"$name: ${rows.mkString("; ")}")
        assert(jobs <= 18, s"$name fsck started $jobs Spark jobs")
      }
    } finally { rmRf(bm25Dir); rmRf(ivfPqDir) }
  }
}

/** `file://` filesystem that records the path of every file it
  * opens. */
class OpenRecorder extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenRecorder.opened.add(f): Unit
    super.open(f, bufferSize)
  }
}

object OpenRecorder {
  val opened =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
}
