package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Round-18 optimization equivalences, pinned:
  *
  *  - a one-commit delta cycle ([[IndexCommit.commitDeltas]] /
  *    `applyDeltas`) produces THE SAME index as the sequential
  *    append×N + delete chain — same per-table segment counts (the
  *    health cards' segment-debt numbers), same table contents, same
  *    fsck verdicts — in one manifest generation instead of N+1, for
  *    BM25, the LSH/IVF/IVFPQ/MRL vector families and the dedup index,
  *    with single-operation cycles keeping the sequential segment
  *    names;
  *  - the salted writer sub-split
  *    ([[IndexCommit.clusterForPartitionedWrite]]) never changes the
  *    partition-directory layout or the rows, only the file count
  *    within a partition value once the width exceeds the value count;
  *  - [[graft.FastRawLocalFileSystem]] reports the same file statuses
  *    — and the same FileNotFoundException for a path that vanishes
  *    mid-listing — as stock Hadoop, minus the per-file shell exec. */
class DeltaCycleSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rmRf(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def segCounts(dir: String): Map[String, Int] =
    IndexCommit.currentManifest(spark, dir).get.tables
      .map { case (t, segs) => t -> segs.size }

  private val docs = (1L to 60L).map(i =>
    (i, s"w${i % 7} w${i % 5} w${i % 3} common t$i")).toDF("doc_id", "text")

  test("Bm25.applyDeltas == sequential appendIndex x2 + deleteDocs") {
    val seqDir = tmpDir("graft_dc_seq")
    val batDir = tmpDir("graft_dc_bat")
    try {
      val base = docs.filter($"doc_id" % 3 === 0)
      val inc1 = docs.filter($"doc_id" % 3 === 1)
      val inc2 = docs.filter($"doc_id" % 3 === 2)
      val del = docs.filter($"doc_id" % 7 === 3).select($"doc_id")
      Seq(seqDir, batDir).foreach(d =>
        Bm25.writeIndex(base, "doc_id", "text", d))
      Bm25.appendIndex(spark, seqDir, inc1, "doc_id", "text")
      Bm25.appendIndex(spark, seqDir, inc2, "doc_id", "text")
      Bm25.deleteDocs(spark, seqDir, del)
      Bm25.applyDeltas(spark, batDir, Seq(inc1, inc2), "doc_id", "text",
        Some(del))
      // same segment-count profile (health-card surface) ...
      assert(segCounts(batDir) == segCounts(seqDir))
      // ... same table contents ...
      Seq("postings", "df", "stats", "tombstones").foreach { t =>
        assert(rowsOf(IndexCommit.readTable(spark, batDir, t)) ==
          rowsOf(IndexCommit.readTable(spark, seqDir, t)), s"table $t")
      }
      // ... same fsck verdict (incl. checksum legs) and served ranking
      val fs = rowsOf(Bm25.fsck(spark, seqDir)
        .select($"check", $"expected", $"actual", $"ok"))
      val fb = rowsOf(Bm25.fsck(spark, batDir)
        .select($"check", $"expected", $"actual", $"ok"))
      assert(fb == fs)
      assert(fb.forall(_.contains("true")))
      val qs = Seq("q1" -> Seq("w1", "w2"), "q2" -> Seq("common"))
      assert(rowsOf(Bm25.serve(spark, batDir, qs, k = 5)) ==
        rowsOf(Bm25.serve(spark, seqDir, qs, k = 5)))
      // ... in ONE generation instead of three
      assert(IndexCommit.currentManifest(spark, batDir).get.gen == 2L)
      assert(IndexCommit.currentManifest(spark, seqDir).get.gen == 4L)
      // a delete-only cycle keeps the sequential `df-g<gen>` name; the
      // `df-x` infix marks a takedown beside increment df deltas only
      val seqT = IndexCommit.currentManifest(spark, seqDir).get.tables
      assert(seqT("df").last == "df-g4")
      assert(seqT("postings").last == "postings-g3")
      assert(seqT("tombstones") == Seq("tombstones-g4"))
      assert(IndexCommit.currentManifest(spark, batDir).get
        .tables("df").last == "df-x-g2")
    } finally { rmRf(seqDir); rmRf(batDir) }
  }

  private val vecs = (1L to 40L).map { i =>
    (i, i % 3, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
  }.toDF("vec_id", "label", "embedding")

  /** One persisted-index family's lifecycle surface, for the table-
    * driven "one delta cycle == the sequential chain" check. */
  private case class Family(name: String, rowsTable: String,
                            keyCol: String, data: DataFrame,
                            build: (DataFrame, String) => Unit,
                            append: (String, DataFrame) => Unit,
                            delete: (String, DataFrame) => Unit,
                            applyDeltas: (String, Seq[DataFrame],
                              Option[DataFrame]) => Unit,
                            fsck: String => DataFrame)

  private val vectorFamilies = Seq(
    Family("lsh", "buckets", "vec_id", vecs,
      VectorSearch.lshWriteIndex(_, _),
      VectorSearch.lshAppendIndex(spark, _, _),
      VectorSearch.deleteVectors(spark, _, _),
      VectorSearch.lshApplyDeltas(spark, _, _, _),
      VectorSearch.lshFsck(spark, _)),
    Family("ivf", "cells", "vec_id", vecs,
      VectorSearch.ivfWriteIndex(_, _),
      VectorSearch.ivfAppendIndex(spark, _, _),
      VectorSearch.deleteVectors(spark, _, _),
      VectorSearch.ivfApplyDeltas(spark, _, _, _),
      VectorSearch.ivfFsck(spark, _)),
    Family("ivfPq", "codes", "vec_id", vecs,
      VectorSearch.ivfPqWriteIndex(_, _),
      VectorSearch.ivfPqAppendIndex(spark, _, _),
      VectorSearch.deleteVectors(spark, _, _),
      VectorSearch.ivfPqApplyDeltas(spark, _, _, _),
      VectorSearch.ivfPqFsck(spark, _)),
    Family("mrl", "prefix", "vec_id", vecs,
      VectorSearch.mrlWriteIndex(_, _),
      VectorSearch.mrlAppendIndex(spark, _, _),
      VectorSearch.deleteVectors(spark, _, _),
      VectorSearch.mrlApplyDeltas(spark, _, _, _),
      VectorSearch.mrlFsck(spark, _)))

  private val dedupFamily =
    Family("dedup", "bands", "doc_id", docs,
      TextDedup.writeDedupIndex(_, "doc_id", "text", _),
      TextDedup.appendDedupIndex(spark, _, _, "doc_id", "text"),
      TextDedup.deleteFromDedupIndex(spark, _, _),
      TextDedup.dedupApplyDeltas(spark, _, _, "doc_id", "text", _),
      TextDedup.dedupFsck(spark, _))

  (vectorFamilies.map(f => (f,
      s"${f.name}ApplyDeltas == ${f.name}AppendIndex + deleteVectors")) :+
    ((dedupFamily,
      "dedupApplyDeltas == appendDedupIndex + deleteFromDedupIndex")))
    .foreach { case (f, title) =>
    test(title) {
      val seqDir = tmpDir(s"graft_dc_${f.name}_seq")
      val batDir = tmpDir(s"graft_dc_${f.name}_bat")
      try {
        val key = col(f.keyCol)
        val base = f.data.filter(key % 2 === 0)
        val inc = f.data.filter(key % 2 === 1)
        val del = f.data.filter(key % 5 === 2).select(key)
        Seq(seqDir, batDir).foreach(d => f.build(base, d))
        f.append(seqDir, inc)
        f.delete(seqDir, del)
        f.applyDeltas(batDir, Seq(inc), Some(del))
        assert(segCounts(batDir) == segCounts(seqDir))
        val tables = IndexCommit.currentManifest(spark, seqDir).get.tables
        tables.keys.foreach { t =>
          assert(rowsOf(IndexCommit.readTable(spark, batDir, t)) ==
            rowsOf(IndexCommit.readTable(spark, seqDir, t)), s"table $t")
        }
        // single-operation cycles keep the sequential segment names: a
        // one-increment append stages `<t>-g<gen>`, a delete
        // `tombstones-g<gen>`
        assert(tables(f.rowsTable).last == s"${f.rowsTable}-g2")
        assert(tables("tombstones") == Seq("tombstones-g3"))
        val bat = IndexCommit.currentManifest(spark, batDir).get
        assert(bat.tables(f.rowsTable).last == s"${f.rowsTable}-g2")
        assert(bat.tables("tombstones") == Seq("tombstones-g2"))
        val fs = rowsOf(f.fsck(seqDir)
          .select($"check", $"expected", $"actual", $"ok"))
        assert(rowsOf(f.fsck(batDir)
          .select($"check", $"expected", $"actual", $"ok")) == fs)
        assert(fs.forall(_.endsWith(",true]")), fs)
        assert(bat.gen == 2L)
        assert(IndexCommit.currentManifest(spark, seqDir).get.gen == 3L)
      } finally { rmRf(seqDir); rmRf(batDir) }
    }
  }

  /** Every visible file under every segment of `dir`'s current
    * manifest carries a (length, CRC32C) stamp — walked on disk, not
    * through the commit's own listing — and re-hashing them verifies. */
  private def assertStamped(dir: String, what: String): Unit = {
    val m = IndexCommit.currentManifest(spark, dir).get
    def files(f: java.io.File, rel: String): Seq[String] =
      if (!f.isDirectory) Seq(rel)
      else f.listFiles().toSeq.filterNot(_.getName.startsWith("."))
        .flatMap(c => files(c, s"$rel/${c.getName}"))
    val onDisk = m.tables.values.flatten.toSeq.distinct
      .flatMap(seg => files(new java.io.File(dir, seg), seg))
    assert(onDisk.exists(_.endsWith(".parquet")) &&
      onDisk.forall(m.files.contains),
      s"$what: unstamped ${onDisk.filterNot(m.files.contains)}")
    val card = IndexCommit.checksumCard(spark, dir, m).collect()
    assert(card.forall(_.getBoolean(3)), s"$what: ${card.mkString("; ")}")
  }

  private val bm25Family = Family("bm25", "postings", "doc_id", docs,
    Bm25.writeIndex(_, "doc_id", "text", _),
    Bm25.appendIndex(spark, _, _, "doc_id", "text"),
    Bm25.deleteDocs(spark, _, _),
    Bm25.applyDeltas(spark, _, _, "doc_id", "text", _),
    Bm25.fsck(spark, _))

  private val rotChecks = Seq("segment_checksum_mismatches",
    "segment_files_missing", "segment_files_unstamped",
    "segment_length_mismatches")
  /** Each family fsck card's own check names in row order; the four
    * [[rotChecks]] rows follow them. */
  private val fsckChecks = Map(
    "bm25" -> Seq("stats_n_docs", "stats_sum_dl", "df_terms",
      "df_mismatch_terms", "tombstones_orphaned"),
    "lsh" -> Seq("bucket_mismatches", "duplicate_vec_rows", "live_vecs",
      "norm_mismatches", "tombstones_orphaned", "zero_norm_rows"),
    "ivf" -> Seq("append_assignment_mismatches", "cells_without_centroid",
      "centroid_duplicate_cells", "duplicate_vec_rows", "live_vecs",
      "tombstones_orphaned", "zero_norm_rows"),
    "ivfPq" -> Seq("cells_without_centroid", "code_range_violations",
      "code_width_violations", "codebook_duplicate_entries",
      "codebook_subspaces", "duplicate_vec_rows", "live_vecs",
      "tombstones_orphaned"),
    "mrl" -> Seq("duplicate_vec_rows", "live_vecs",
      "prefix_width_violations", "tombstones_orphaned"),
    "dedup" -> Seq("band_count_violations", "band_key_mismatches",
      "band_shingle_unmatched", "duplicate_shingle_rows", "live_docs",
      "n_sh_mismatches", "tombstones_orphaned"))

  test("every fsck card keeps its schema and row order, all-ok when " +
       "fresh, from one projection") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
    import org.apache.spark.sql.types._
    def belowProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => belowProjects(child)
      case other => other
    }
    (vectorFamilies ++ Seq(dedupFamily, bm25Family)).foreach { f =>
      val dir = tmpDir(s"graft_card_${f.name}")
      try {
        f.build(f.data, dir)
        val card = f.fsck(dir)
        // BM25's stats columns are nullable, and so are its card's
        // expected, actual and ok columns
        val nullable = f.name == "bm25"
        assert(card.schema == StructType(Seq(
          StructField("check", StringType, nullable = false),
          StructField("expected", LongType, nullable),
          StructField("actual", LongType, nullable),
          StructField("ok", BooleanType, nullable))), f.name)
        val rows = card.collect()
        assert(rows.map(_.getString(0)).toSeq ==
          fsckChecks(f.name) ++ rotChecks, f.name)
        assert(rows.forall(_.getBoolean(3)), s"${f.name}: ${rows.mkString("; ")}")
        // every row comes from one Generate over the scalar row, not a
        // union of one branch per check
        val plan = card.queryExecution.optimizedPlan
        assert(belowProjects(plan).isInstanceOf[Generate] &&
          plan.collect { case g: Generate => g }.size == 1,
          s"${f.name}: ${plan.treeString}")
      } finally rmRf(dir)
    }
  }

  test("every commit kind stamps every file it stages") {
    val dirs = scala.collection.mutable.LinkedHashMap[String, String]()
    def dir(name: String): String =
      dirs.getOrElseUpdate(name, tmpDir(s"graft_stamp_$name"))
    try {
      // each family's build, append and delete
      (vectorFamilies ++ Seq(dedupFamily, bm25Family)).foreach { f =>
        val key = col(f.keyCol)
        f.build(f.data.filter(key % 2 === 0), dir(f.name))
        assertStamped(dir(f.name), s"${f.name} build")
        f.append(dir(f.name), f.data.filter(key % 2 === 1))
        assertStamped(dir(f.name), s"${f.name} append")
        f.delete(dir(f.name), f.data.filter(key % 5 === 2).select(key))
        assertStamped(dir(f.name), s"${f.name} delete")
      }
      VectorSearch.pqWriteIndex(vecs, dir("pq"))
      assertStamped(dir("pq"), "pq build")
      // compactions
      VectorSearch.compactIndexTable(spark, dir("ivf"), "cells", "cell")
      assertStamped(dir("ivf"), "compactIndexTable")
      Bm25.compactIndex(spark, dir("bm25"))
      assertStamped(dir("bm25"), "Bm25.compactIndex")
      // both merges, each against a second shard with disjoint ids
      Bm25.writeIndex(docs.select(($"doc_id" + 100).as("doc_id"), $"text"),
        "doc_id", "text", dir("bm25_shard"))
      Bm25.mergeIndexes(spark, dir("bm25_merged"),
        Seq(dir("bm25"), dir("bm25_shard")))
      assertStamped(dir("bm25_merged"), "Bm25.mergeIndexes")
      VectorSearch.lshWriteIndex(
        vecs.select(($"vec_id" + 100).as("vec_id"), $"label", $"embedding"),
        dir("lsh_shard"))
      VectorSearch.mergeStatelessIndexes(spark, dir("lsh_merged"),
        Seq(dir("lsh"), dir("lsh_shard")), "buckets", Some("bkt"))
      assertStamped(dir("lsh_merged"), "mergeStatelessIndexes")
      // a clone carries its copy-time stamps
      IndexCommit.cloneSnapshot(spark, dir("ivfPq"), dir("ivfPq_clone"))
      assertStamped(dir("ivfPq_clone"), "cloneSnapshot")
    } finally dirs.values.foreach(rmRf)
  }

  test("ivfPq delta path sub-splits hot coarse cells (coarse cells < nCells)") {
    // `vecs` has 3 coarse cells (label = vec_id % 3) under the default
    // 16-entry codebook: the local[4] write width 4 exceeds the cell
    // count, so each cell writes through ceil(4 / 3) = 2 salted tasks —
    // sized by the centroid count, the partition column's real
    // cardinality, not by nCells (which gives k = 1)
    val dir = tmpDir("graft_dc_pqsplit")
    val flat = tmpDir("graft_dc_pqflat")
    try {
      VectorSearch.ivfPqWriteIndex(vecs.filter($"vec_id" <= 20), dir)
      VectorSearch.ivfPqAppendIndex(spark, dir, vecs.filter($"vec_id" > 20))
      def cellFiles(segDir: String): Seq[Int] =
        new java.io.File(segDir).listFiles().filter(_.isDirectory).toSeq
          .map(_.listFiles().count(_.getName.endsWith(".parquet")))
      val seg = IndexCommit.currentManifest(spark, dir).get.tables("codes").last
      assert(cellFiles(s"$dir/$seg").exists(_ > 1),
        s"expected a sub-split hot cell: ${cellFiles(s"$dir/$seg")}")
      // the split changes the file layout only: the same index with
      // its appended segment rewritten one file per cell serves the
      // same rows
      IndexCommit.cloneSnapshot(spark, dir, flat)
      val flatSeg = IndexCommit.currentManifest(spark, flat).get
        .tables("codes").last
      val rows = spark.read.parquet(s"$flat/$flatSeg").collect()
      val schema = spark.read.parquet(s"$flat/$flatSeg").schema
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(1).write.mode("overwrite").partitionBy("cell")
        .parquet(s"$flat/$flatSeg")
      assert(cellFiles(s"$flat/$flatSeg").forall(_ == 1))
      val qs = vecs.filter($"vec_id" % 7 === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      assert(rowsOf(VectorSearch.ivfPqServe(spark, flat, vecs, qs, 5)) ==
        rowsOf(VectorSearch.ivfPqServe(spark, dir, vecs, qs, 5)))
    } finally { rmRf(dir); rmRf(flat) }
  }

  test("clusterForPartitionedWrite: identity at k=1; layout-preserving sub-split at k>1") {
    val df = (1L to 200L).map(i => ((i % 3).toInt, i)).toDF("p", "vec_id")
    // k = 1: width <= nPartValues — must be the plain hash clustering
    val plain = IndexCommit.clusterForPartitionedWrite(df, 3, "p", 3L,
      "vec_id")
    assert(plain.rdd.getNumPartitions == 3)
    // k > 1: width 8 over 3 values — up to ceil(8/3)=3 sub-splits
    val d1 = tmpDir("graft_dc_salt")
    val d2 = tmpDir("graft_dc_plain")
    try {
      IndexCommit.clusterForPartitionedWrite(df, 8, "p", 3L, "vec_id")
        .write.mode("overwrite").partitionBy("p").parquet(d1)
      df.repartition(8, $"p")
        .write.mode("overwrite").partitionBy("p").parquet(d2)
      def partDirs(d: String): Set[String] =
        new java.io.File(d).listFiles().filter(_.isDirectory)
          .map(_.getName).toSet
      // identical partition-directory layout ...
      assert(partDirs(d1) == partDirs(d2))
      // ... identical rows ...
      assert(rowsOf(spark.read.parquet(d1)) == rowsOf(spark.read.parquet(d2)))
      // ... but the hot partitions now hold >1 data file
      val files = new java.io.File(d1, "p=0").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files > 1, s"expected sub-split files, got $files")
    } finally { rmRf(d1); rmRf(d2) }
  }

  test("FastRawLocalFileSystem statuses match stock Hadoop") {
    val dir = tmpDir("graft_dc_fs")
    try {
      val sub = new java.io.File(dir, "sub"); sub.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "a.txt"), "hello")
      java.nio.file.Files.writeString(
        sub.toPath.resolve("b.bin"), "worldwide")
      val conf = spark.sessionState.newHadoopConf()
      val fast = new graft.FastRawLocalFileSystem
      fast.initialize(new java.net.URI("file:///"), conf)
      val stock = new org.apache.hadoop.fs.RawLocalFileSystem
      stock.initialize(new java.net.URI("file:///"), conf)
      val p = new org.apache.hadoop.fs.Path(dir)
      def key(s: org.apache.hadoop.fs.FileStatus): String =
        Seq(s.getPath.getName, s.getLen, s.isDirectory, s.getPermission,
          s.getOwner, s.getGroup, s.getModificationTime).mkString("|")
      val f = fast.listStatus(p).map(key).sorted.toSeq
      val s = stock.listStatus(p).map(key).sorted.toSeq
      assert(f == s)
      assert(key(fast.getFileStatus(new org.apache.hadoop.fs.Path(dir, "a.txt")))
        == key(stock.getFileStatus(new org.apache.hadoop.fs.Path(dir, "a.txt"))))
      // missing path: same exception contract
      intercept[java.io.FileNotFoundException](
        fast.getFileStatus(new org.apache.hadoop.fs.Path(dir, "nope")))
      intercept[java.io.FileNotFoundException](
        fast.listStatus(new org.apache.hadoop.fs.Path(dir, "nope")))
      // file listStatus: single-entry array, like stock
      assert(fast.listStatus(new org.apache.hadoop.fs.Path(dir, "a.txt"))
        .length == 1)
      // a directory that vanishes between the attribute read and the
      // listing, or whose iteration fails on a vanished path, reports
      // FileNotFoundException like stock Hadoop's missing-path case —
      // the exception Spark's listing-race handling catches
      val racy = new graft.FastRawLocalFileSystem {
        override private[graft] def childNames(
            d: java.nio.file.Path): Array[String] = {
          rmRf(d.toString)
          super.childNames(d)
        }
      }
      racy.initialize(new java.net.URI("file:///"), conf)
      intercept[java.io.FileNotFoundException](racy.listStatus(
        new org.apache.hadoop.fs.Path(sub.getPath)))
      intercept[java.io.FileNotFoundException](stock.listStatus(
        new org.apache.hadoop.fs.Path(sub.getPath)))
      val torn = new graft.FastRawLocalFileSystem {
        override private[graft] def childNames(
            d: java.nio.file.Path): Array[String] =
          throw new java.nio.file.DirectoryIteratorException(
            new java.nio.file.NoSuchFileException(d.toString))
      }
      torn.initialize(new java.net.URI("file:///"), conf)
      intercept[java.io.FileNotFoundException](torn.listStatus(p))
    } finally rmRf(dir)
  }
}
