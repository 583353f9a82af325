package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Atomic multi-table commits and size-derived write widths for the
  * persisted index families (BM25 postings, LSH buckets, IVF cells,
  * PQ/IVFPQ codes, MRL prefixes) — ONE shared lifecycle layer so every
  * family gets the same crash-consistency and layout discipline
  * instead of six copies of delete-then-rename.
  *
  * == Commit protocol ==
  *
  * An index directory holds immutable SEGMENT directories
  * (`<table>-g<gen>` — plain or partitioned parquet) plus numbered
  * manifest files (`_manifest_g<gen>`). A logical table is the union
  * of the segment dirs the CURRENT manifest (highest gen) lists for
  * it. A commit stages every new segment first — writes that never
  * touch live data — and then flips exactly ONE marker: the new
  * manifest file appears via write-to-temp + rename, the atomic
  * filesystem op. Consequences, which the crash-injection spec pins:
  *
  *  - a crash ANYWHERE before the manifest rename leaves the old
  *    manifest (and every segment it references) untouched — the old
  *    index serves, bit-identically;
  *  - a failed multi-table append can never leave tables mutually
  *    inconsistent (the round-12 hazard: BM25 postings appended but
  *    df/stats not yet merged) because no live table is EVER modified
  *    in place — "append" commits a new increment segment plus fully
  *    re-staged aggregate tables in one flip;
  *  - retrying after a crash is safe: the retry recomputes the same
  *    next gen (the manifest never advanced) and its staging writes
  *    `mode("overwrite")`, replacing the orphan half-written segments
  *    of the failed attempt rather than appending beside them.
  *
  * Single writer per index directory is the ingest contract, and it
  * is ENFORCED: [[commit]] claims its generation by atomically
  * creating a `_claim_g<gen>` marker (create-fails-if-exists) before
  * staging, so a second committer racing the same generation errors
  * LOUDLY — naming the winner — instead of silently interleaving
  * manifests. The claim is removed when the commit flips (or when
  * `stage` throws), so ordinary crash-retries never see it; only a
  * hard process kill mid-commit strands one, and [[gcUnreferenced]]
  * clears stranded claims (GC must not run concurrently with a
  * commit — the same single-writer discipline). Readers need no
  * coordination at all. The claim, the flip and GC's retention rule
  * are the [[ManifestLog]] core this layer shares with
  * [[CollectionCommit]].
  *
  * Garbage: segments dereferenced by a newer manifest (compaction
  * inputs, superseded df/stats stagings) and old manifest files are
  * deleted by [[gcUnreferenced]] AFTER the flip — post-commit GC, so
  * a crash during GC leaves harmless orphans, never corruption.
  *
  * This is the reference's materialized-cache idea
  * (/root/reference/fast.py:106-136 refreshes a cached feed and swaps
  * it under a single lookup key) rebuilt as a table-format primitive:
  * the "single key" is the manifest file, and the thing it versions is
  * a multi-table columnar index.
  *
  * == Staging ==
  *
  * This layer alone stages segments: a family hands it
  * `(table, write(dest))` pairs, and the layer names each segment
  * (`<table>-g<gen>`, [[deltaSegments]] for deltas), runs every write
  * of one commit concurrently ([[Par]]), builds the manifest map,
  * flips it and runs GC. There are three bodies:
  *
  *  - [[build]]: a full build or merge — the listed tables, one
  *    segment each, are the whole new index;
  *  - [[compact]]: the listed tables are replaced by one segment each,
  *    `tombstones` is dropped and every other table carried forward;
  *  - [[commitDeltas]], the delta path: every append and every delete
  *    is one cycle through it — an append is the one-increment cycle, a
  *    delete ([[appendTombstones]]) the delete-only one. A family's
  *    `xAppendIndex`/`xApplyDeltas` supplies only its encode, a
  *    function of the base manifest the cycle extends, so frozen
  *    geometry, centroids and codebooks are read from the very
  *    generation the commit extends, resolved once.
  *
  * BM25, whose df/stats aggregates are re-merged rather than appended,
  * keeps one [[commit]] body of its own (`Bm25.applyDeltas`, which its
  * append and delete delegate to); [[cloneSnapshot]] stages byte
  * copies through the same claim/stamp/flip core.
  *
  * == Write width ==
  *
  * [[writeWidth]] replaces the former hard-coded `repartition(16, …)`
  * at every index-table write: 16 writers was a fixed file-count and
  * write-parallelism ceiling (a 100 TB postings table through 16
  * tasks). The width is derived from the INPUT's optimizer size
  * estimate at a target of bytes-per-file — the `ivfSizing` discipline
  * (geometry ∝ data) applied to layout.
  */
object IndexCommit {
  import ManifestLog.fsOf

  /** The current state of an index directory: manifest generation,
    * per logical table the segment dirs (relative names) composing it,
    * and per physical file (relative `segment/child...` path) the
    * (length, CRC32C) stamp taken when the file entered the index —
    * the bit-rot baseline every fsck re-hashes against
    * ([[checksumCard]]). */
  final case class Manifest(gen: Long, tables: Map[String, Seq[String]],
                            files: Map[String, (Long, Long)] = Map.empty)

  private val SegmentRe = "(.+)-g(\\d+)".r
  private val HeaderV1 = "graft-index-manifest-v1"
  private val Header = "graft-index-manifest-v2"

  private val log = new ManifestLog("_manifest_g", "_claim_g",
    Set(Header, HeaderV1), "", "gcUnreferenced the directory")(parseManifest)

  private def parseManifest(gen: Long, lines: Seq[String],
                            dir: String): Manifest = {
    // v2 appends `#f\t<rel>\t<len>\t<crc32c>` stamp lines; unknown
    // `#`-prefixed lines are reserved and skipped so a v2 reader stays
    // forward-tolerant
    val (meta, tableLines) = lines.partition(_.startsWith("#"))
    val tables = tableLines.map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"malformed manifest line in $dir: $line")
      line.substring(0, i) ->
        line.substring(i + 1).split(',').toSeq.filter(_.nonEmpty)
    }.toMap
    val files = meta.filter(_.startsWith("#f\t")).map { line =>
      val parts = line.split('\t')
      require(parts.length == 4,
        s"malformed manifest file-stamp line in $dir: $line")
      parts(1) -> (parts(2).toLong, parts(3).toLong)
    }.toMap
    Manifest(gen, tables, files)
  }

  /** Highest-generation manifest in `dir`, or None for an empty /
    * pre-manifest directory. */
  def currentManifest(spark: SparkSession, dir: String): Option[Manifest] =
    log.current(spark, dir)

  /** The manifest at a SPECIFIC generation — TIME TRAVEL: every commit
    * is immutable, so as long as retention ([[gcUnreferenced]]'s
    * `keepGens`) hasn't collected it, any prior index state serves
    * bit-identically to when it was current. Loud error when the
    * generation was never committed or has been GC'd. */
  def manifestAt(spark: SparkSession, dir: String, gen: Long): Manifest =
    log.at(spark, dir, gen,
      s"index at $dir has no manifest g$gen (never committed, or GC'd " +
        "past retention — raise keepGens on gcUnreferenced to keep " +
        "time-travel windows)")

  /** The manifest a read pinned at `atGen` resolves: that generation
    * ([[manifestAt]]) when given, else the current one — a loud error
    * naming `op` when the directory holds no committed index. */
  private[operators] def manifestFor(spark: SparkSession, dir: String,
      atGen: Option[Long], op: String): Manifest =
    atGen match {
      case Some(g) => manifestAt(spark, dir, g)
      case None => currentManifest(spark, dir)
        .getOrElse(sys.error(s"$op: no committed index at $dir"))
    }

  /** [[readTable]] pinned to generation `gen` — the union of the
    * segments THAT manifest lists for `table`. */
  def readTableAt(spark: SparkSession, dir: String, table: String,
                  gen: Long): DataFrame =
    readTableOf(spark, dir, manifestAt(spark, dir, gen), table)

  /** `table` as the already-resolved manifest `m` lists it. A reader
    * that resolves its manifest once and reads every table through it
    * sees one generation throughout — a commit+GC landing mid-read
    * cannot pair one generation's codes with another's centroids —
    * and parses the manifest once. */
  private[operators] def readTableOf(spark: SparkSession, dir: String,
                                     m: Manifest, table: String): DataFrame =
    readSegments(spark, tablePathsOf(dir, m, table))

  /** Absolute paths of the segments `m` lists for `table` — a loud
    * error naming the tables `m` carries when it has no such table. */
  private[operators] def tablePathsOf(dir: String, m: Manifest,
                                      table: String): Seq[String] =
    m.tables.getOrElse(table,
        sys.error(s"index at $dir has no table '$table' " +
          s"(manifest g${m.gen} carries ${m.tables.keys.toSeq.sorted})"))
      .map(s => s"$dir/$s")

  /** The union of the segment dirs at `paths`, each opened by
    * [[openSegment]]. */
  private[operators] def readSegments(spark: SparkSession,
                                      paths: Seq[String]): DataFrame =
    paths.map(openSegment(spark, _)).reduce(_ unionByName _)

  /** The key under which Spark stores a written frame's schema in
    * every parquet footer. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Open ONE committed segment dir against its own `basePath` (see
    * [[readTable]]) — the only place an index segment is read.
    *
    * The data schema comes from the footer of the segment's first
    * visible data file, read on the driver, instead of from Spark's
    * schema inference, which runs a one-task Spark job per open to
    * read that same footer. A segment is written by one Spark write,
    * so every part file in it carries the same schema. Partition
    * columns are still discovered from the directory names. A segment
    * with no data file, or whose footer holds no Spark schema, falls
    * through to the inferred read, so its behaviour (Spark's error
    * included) is unchanged. */
  private def openSegment(spark: SparkSession, root: String): DataFrame = {
    val reader = spark.read.option("basePath", root)
    footerSchema(spark, root).fold(reader)(reader.schema).parquet(root)
  }

  /** The Spark schema in the footer of the first visible data file
    * under `root` (depth-first in name order, skipping Spark's hidden
    * `_*` and `.*` names); None when there is no such file, the footer
    * holds no Spark schema, or listing or reading fails — the caller
    * then leaves the read to Spark's inference. */
  private def footerSchema(spark: SparkSession,
                           root: String): Option[StructType] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    def firstFile(dir: Path): Option[FileStatus] =
      fs.listStatus(dir)
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .sortBy(_.getPath.getName).iterator
        .flatMap(st => if (st.isDirectory) firstFile(st.getPath) else Some(st))
        .nextOption()
    try firstFile(p).flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath)
          .withMetadataFilter(SKIP_ROW_GROUPS).build())
      val json =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey)
        finally reader.close()
      Option(json).map(DataType.fromJson).collect { case s: StructType => s }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Run one atomic commit against `dir`: `stage(gen, current)` writes
    * new segment dirs (each named `segmentPath(dir, table, gen)`, each
    * with `mode("overwrite")`) and returns the FULL table→segments map
    * the new manifest should carry (carrying forward untouched tables'
    * prior segment lists verbatim). Only after `stage` returns is the
    * marker flipped. A `stage` that throws commits nothing. The claim,
    * the flip and their error texts are the shared [[ManifestLog]]
    * protocol.
    *
    * Every physical file under a NEWLY staged segment is stamped with
    * its (length, CRC32C) in the manifest before the flip — the
    * content baseline the fsck family's [[checksumCard]] re-hashes
    * against, catching bit rot a length-only audit can't (a flipped
    * byte keeps the length). Stamping is COMMIT-SIZED work, not
    * index-sized: carried-forward segments keep their prior stamps
    * verbatim (their bytes are immutable by the protocol), only the
    * increment is hashed, and the hashing is ONE distributed job over
    * all the new files, listed after `stage` returns (one task per
    * ~[[CloneBytesPerTask]], same packing as promotion copies) —
    * never a driver byte loop. */
  def commit(spark: SparkSession, dir: String)(
      stage: (Long, Option[Manifest]) => Map[String, Seq[String]]): Unit =
    commitStamped(spark, dir, () => Map.empty)(stage)

  /** [[commit]], where `precomputedFiles` supplies stamps the stage
    * already took while streaming the bytes (the clone's copy tasks),
    * so their segments are not listed and read a second time. */
  private def commitStamped(spark: SparkSession, dir: String,
      precomputedFiles: () => Map[String, (Long, Long)])(
      stage: (Long, Option[Manifest]) => Map[String, Seq[String]]): Unit = {
    val cur = currentManifest(spark, dir)
    val gen = cur.map(_.gen).getOrElse(0L) + 1
    log.commit(spark, dir, gen) { (fs, p) =>
      val tables = stage(gen, cur)
      require(tables.nonEmpty, s"commit to $dir staged no tables")
      // file stamps: carry forward immutable retained segments' stamps,
      // take the precomputed ones, hash the rest of the newly staged
      // files in one distributed job
      val segSet = tables.values.flatten.toSet
      val prevSegs =
        cur.map(_.tables.values.flatten.toSet).getOrElse(Set.empty)
      val carried = cur.map(_.files).getOrElse(Map.empty)
        .filter { case (rel, _) =>
          val i = rel.indexOf('/')
          i > 0 && segSet.contains(rel.substring(0, i))
        }
      val provided = precomputedFiles()
      val stamped = provided.keySet.map(rel => rel.substring(0, rel.indexOf('/')))
      val toHash = (segSet -- prevSegs -- stamped).toSeq.sorted
        .flatMap(seg => listSegmentFiles(fs, p, seg))
      val fileMap = carried ++ provided ++ checksumFiles(spark, toHash)
      val stampLines = fileMap.toSeq.sortBy(_._1).map {
        case (rel, (len, crc)) =>
          require(!rel.contains('\t'), s"bad file name: $rel")
          s"#f\t$rel\t$len\t$crc"
      }
      ((Header +: tables.toSeq.sortBy(_._1).map { case (t, segs) =>
        require(!t.contains('=') && !t.contains(','), s"bad table name: $t")
        segs.foreach(s => require(!s.contains(','), s"bad segment name: $s"))
        s"$t=${segs.mkString(",")}"
      }) ++ stampLines).mkString("", "\n", "\n")
    }
  }

  /** Canonical segment dir (absolute) for `table` staged at `gen`. */
  def segmentPath(dir: String, table: String, gen: Long): String =
    s"$dir/$table-g$gen"

  /** THE BUILD BODY of every full build and shard merge: stage each
    * `(table, write)` into `segmentPath(dir, table, gen)`, all writes
    * overlapped, commit `table -> Seq(<table>-g<gen>)` for exactly the
    * listed tables (a rebuild supersedes every prior table, tombstones
    * included), then GC to `retainGens`. A write that throws commits
    * nothing: the prior index keeps serving, and a retry re-stages the
    * same generation over the failed attempt's orphans. */
  private[operators] def build(spark: SparkSession, dir: String,
      retainGens: Int)(tables: (String, String => Unit)*): Unit =
    stageTables(spark, dir, retainGens)(_ => (Map.empty, tables))

  /** THE COMPACTION BODY: `tables(prev)` lists the tables to rewrite,
    * each into one new segment; `tombstones` is dropped (the rewrites
    * materialize the mask) and every other table of `prev` is carried
    * forward verbatim. */
  private[operators] def compact(spark: SparkSession, dir: String,
      op: String, retainGens: Int)(
      tables: Manifest => Seq[(String, String => Unit)]): Unit =
    stageTables(spark, dir, retainGens) { cur =>
      val prev = cur.getOrElse(sys.error(s"$op: no committed index at $dir"))
      (prev.tables - "tombstones", tables(prev))
    }

  /** The one staging body [[build]] and [[compact]] share: `plan`
    * gets the base manifest and returns the carried-forward tables and
    * the `(table, write)` pairs to stage, one segment each. */
  private def stageTables(spark: SparkSession, dir: String,
      retainGens: Int)(plan: Option[Manifest] =>
        (Map[String, Seq[String]], Seq[(String, String => Unit)])): Unit = {
    commit(spark, dir) { (gen, cur) =>
      val (carried, tables) = plan(cur)
      Par.all(tables.map { case (t, write) =>
        () => write(segmentPath(dir, t, gen)) })
      carried ++ tables.map { case (t, _) => t -> deltaSegments(t, 1, gen) }
    }
    gcUnreferenced(spark, dir, retainGens)
  }

  /** The one writer of a driver-sized one-file table (`meta`,
    * `centroids`, `codebooks`, `stats`): `df` as a single parquet file
    * at the staged segment. */
  private[operators] def oneFile(df: DataFrame): String => Unit =
    dest => df.coalesce(1).write.mode("overwrite").parquet(dest)

  /** The segment names of `n` deltas of `table` staged in one cycle at
    * `gen`, in order: a single delta keeps the sequential chain's
    * `<table>-g<gen>`; several need the disambiguating
    * `<table>-d<i>-g<gen>`. */
  private[operators] def deltaSegments(table: String, n: Int,
                                       gen: Long): Seq[String] =
    if (n == 1) Seq(s"$table-g$gen")
    else (0 until n).map(i => s"$table-d$i-g$gen")

  /** THE DELTA PATH: every append and every delete of the LSH, IVF,
    * PQ, IVFPQ, MRL and dedup indexes goes through this one body — N
    * appended segments plus an optional takedown, staged in parallel
    * and flipped as ONE generation. An append is the one-increment
    * cycle, a delete ([[appendTombstones]]) the delete-only one. The
    * round-17 profile showed the composed lifecycle entries are chains
    * of ~60-100 small SERIAL jobs, one commit (claim, staged write,
    * checksum job, manifest flip, GC listing) per append/delete (guide
    * §1.2/§2.6): a nightly
    * cycle of two appends and a takedown paid that chain three times.
    * Here it is paid once and every staged write overlaps ([[Par]]).
    *
    * RESULT-PRESERVING by construction: the staged segment SET is the
    * sequential chain's, segment for segment ([[deltaSegments]] names
    * each table's increments, so per-table segment counts, and with
    * them the health cards' segment-debt numbers, are unchanged), and
    * the takedown's tombstone delta is `tombstones-g<gen>`. Only the
    * number of manifest generations differs; no declared query reads
    * generation numbers (entries resolve pins from the manifests they
    * commit).
    *
    * `increments` are the appended frames (their `keyCol` column is
    * gated against the prior tombstones — the re-ingest contract,
    * [[requireDisjointFromTombstones]]). `encode(prev)(increment)`
    * gives one increment's (table, write(destPath)) pairs; it is called
    * inside the commit with the base manifest `prev` the new
    * generation extends (and not at all for a delete-only cycle), so a
    * family reads its frozen artifacts from `prev` with
    * [[readTableOf]] — the increment is encoded against exactly the
    * generation it extends, and the cycle resolves the manifest once.
    * Increments of one table keep their sequence order. The takedown
    * is ordered AFTER the appends, like the sequential chain:
    * `deleteIds` (first column, cast to long) are anti-joined against
    * PRIOR tombstones only (idempotent re-delete). */
  def commitDeltas(spark: SparkSession, dir: String, op: String,
                   keyCol: String, increments: Seq[DataFrame],
                   encode: Manifest => DataFrame => Seq[(String, String => Unit)],
                   deleteIds: Option[DataFrame],
                   retainGens: Int = 1): Unit = {
    require(increments.nonEmpty || deleteIds.nonEmpty,
      s"$op: nothing to apply")
    commit(spark, dir) { (gen, cur) =>
      val prev = cur.getOrElse(sys.error(
        s"$op: no committed index at $dir — build it first"))
      val segments =
        if (increments.isEmpty) Nil
        else {
          requireDisjointFromTombstones(spark, dir, prev,
            increments.map(_.select(keyCol)).reduce(_ unionByName _),
            keyCol, op)
          increments.flatMap(encode(prev))
        }
      val delLeg = deleteIds.map { ids =>
        val newIds = ids.select(ids.col(ids.columns.head).cast("long")
          .as(keyCol)).distinct()
        (newIds, maskTombstonesOf(spark, dir, prev, newIds, keyCol))
      }
      val byTable = segments.groupBy(_._1).map { case (t, ws) =>
        t -> deltaSegments(t, ws.size, gen).zip(ws.map(_._2))
      }
      Par.all(byTable.values.flatten.toSeq.map { case (seg, write) =>
        () => write(s"$dir/$seg")
      } ++ delLeg.toSeq.map { case (newIds, fresh) => () =>
        fresh.repartition(deltaWidth(newIds))
          .write.mode("overwrite")
          .parquet(segmentPath(dir, "tombstones", gen))
      })
      prev.tables ++ byTable.map { case (t, sw) =>
        t -> (prev.tables(t) ++ sw.map(_._1))
      } ++ delLeg.map(_ => "tombstones" ->
        (prev.tables.getOrElse("tombstones", Nil) :+
          s"tombstones-g$gen")).toMap
    }
    gcUnreferenced(spark, dir, retainGens)
  }

  /** Absolute paths composing `table` under the current manifest. A
    * directory with no manifest falls back to the bare `dir/table`
    * layout (pre-manifest indexes stay readable). */
  def tablePaths(spark: SparkSession, dir: String, table: String): Seq[String] =
    currentManifest(spark, dir).fold(Seq(s"$dir/$table"))(
      tablePathsOf(dir, _, table))

  /** Read a logical index table — the union of its manifest segments.
    * Each segment is scanned against its OWN `basePath` (Spark's
    * multi-path partition discovery rejects sibling partitioned roots
    * as conflicting structures), so `cell=…`/`bkt=…` dirs under every
    * segment resolve to the same column and partition pruning applies
    * per scan under the union. Each segment is opened with the schema
    * in its own parquet footer, read on the driver ([[openSegment]]),
    * so building the frame starts no Spark job. */
  def readTable(spark: SparkSession, dir: String, table: String): DataFrame =
    readSegments(spark, tablePaths(spark, dir, table))

  /** CLONE one committed snapshot into a fresh index directory — the
    * promotion/backup primitive (validate an index in staging, then
    * promote the EXACT bytes to serving; or export yesterday's pinned
    * generation before a risky maintenance cycle). The clone is a new
    * INDEPENDENT index: its manifest is generation 1, its segments are
    * byte-copies (no re-encode — physical layout, term sort order and
    * row-group statistics survive verbatim), and source GC can never
    * reach into it. Cloned segment dirs are renamed `<table>-c<i>-g1`
    * — the `c<i>` infix keeps the source's multi-segment (delta)
    * structure while guaranteeing no collision with any segment a
    * LATER commit against the clone stages (`<table>-g<gen>` names).
    * Time travel composes: `atGen` clones any retained source
    * generation, not just the current one.
    *
    * The copy is a DISTRIBUTED job (distcp shape): the manifest gives
    * the EXACT file set, the driver's only work is listing it
    * (metadata-sized — file names and lengths, never bytes), and the
    * bytes move through one cluster task per ~[[CloneBytesPerTask]]
    * of payload — files packed largest-first round-robin so a skewed
    * segment (one fat parquet file beside many small ones) can't
    * serialize the job. Each task streams its files raw (no re-encode
    * — physical layout, term sort order, row-group statistics survive
    * verbatim) and verifies landed lengths. The commit protocol is
    * unchanged: the clone's manifest flips only after EVERY byte
    * landed, so a crash mid-copy leaves an uncommitted directory a
    * retry overwrites. Promotion of a petabyte index is therefore
    * cluster-wide parallel I/O, not a driver bottleneck. */
  def cloneSnapshot(spark: SparkSession, src: String, dest: String,
                    atGen: Option[Long] = None): Unit = {
    val m = manifestFor(spark, src, atGen, "cloneSnapshot")
    val (sfs, sp) = fsOf(spark, src)
    var copied: Map[String, (Long, Long)] = Map.empty
    commitStamped(spark, dest, () => copied) { (gen, cur) =>
      require(cur.isEmpty,
        s"cloneSnapshot: destination $dest already holds a committed " +
          "index (gen " + cur.map(_.gen).getOrElse(0L) + ") — clones " +
          "are fresh directories, not merges")
      val renames = m.tables.toSeq.flatMap { case (t, segs) =>
        segs.zipWithIndex.map { case (seg, i) => (seg, s"$t-c$i-g$gen") }
      }
      // the exact file list, from the manifest's segment dirs: driver
      // work is directory listings only
      val files: Seq[(String, String, String, String, Long)] =
        renames.flatMap { case (seg, name) =>
          listSegmentFiles(sfs, sp, seg).map { case (abs, rel, len) =>
            val child = rel.stripPrefix(seg + "/")
            (abs, s"$dest/$name/$child", rel, s"$name/$child", len)
          }
        }
      val landed = copyDistributed(spark,
        files.map { case (a, d, _, dr, l) => (a, d, dr, l) })
      // the copy tasks hash what they stream; verify against the
      // source's stamps BEFORE the flip — promotion is exactly where
      // serving rotted bytes would start, so it is exactly where a
      // stamp mismatch must abort
      val srcRelOf = files.map { case (_, _, sr, dr, _) => dr -> sr }.toMap
      landed.foreach { case (dr, len, crc) =>
        m.files.get(srcRelOf(dr)).foreach { case (slen, scrc) =>
          require(slen == len && scrc == crc,
            s"cloneSnapshot: ${srcRelOf(dr)} hashed crc=$crc len=$len " +
              s"in flight but the source manifest stamps crc=$scrc " +
              s"len=$slen — bit rot at the source (run the family fsck) " +
              "or a torn copy; aborting before the clone's flip")
        }
      }
      copied = landed.map { case (dr, len, crc) => dr -> (len, crc) }.toMap
      m.tables.map { case (t, segs) =>
        t -> segs.indices.map(i => s"$t-c$i-g$gen")
      }
    }
  }

  /** Visible physical files under segment `seg` of the index rooted at
    * `p`: (absolute path, relative `seg/child...` name, length). Driver
    * work is directory listing only — names and lengths, never bytes. */
  private def listSegmentFiles(fs: FileSystem, p: Path,
                               seg: String): Seq[(String, String, Long)] = {
    val segRoot = fs.makeQualified(new Path(p, seg))
    if (!fs.exists(segRoot)) return Nil
    val it = fs.listFiles(segRoot, true)
    val buf = Seq.newBuilder[(String, String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val full = st.getPath.toString
      val rel = full.stripPrefix(segRoot.toString).stripPrefix("/")
      require(full != rel, s"listSegmentFiles: $full not under $segRoot")
      buf += ((full, s"$seg/$rel", st.getLen))
    }
    buf.result()
  }

  /** CRC32C of a stream's bytes (the stamp function — hardware-
    * accelerated on modern JVMs, collision-adequate for rot detection;
    * not a cryptographic integrity claim). */
  private def crcOfStream(in: java.io.InputStream): Long = {
    val c = new java.util.zip.CRC32C
    val buf = new Array[Byte](1 << 20)
    var n = in.read(buf)
    while (n >= 0) { if (n > 0) c.update(buf, 0, n); n = in.read(buf) }
    c.getValue
  }

  /** Pack work items into `slices` bins, largest-first round-robin,
    * as ONE LIST PER BIN — `parallelize(bins, bins.size)` then puts
    * exactly one bin in each partition, so the binning happens on the
    * driver (file-count-sized metadata) and the job is a single
    * shuffle-free stage. The former shape (`parallelize` +
    * `partitionBy(HashPartitioner)`) paid a full RDD shuffle per
    * commit just to route items to bins the driver had already
    * decided (guide §2.4: remove shuffles outright). */
  private def packBins[T](items: Seq[T], slices: Int,
                          len: T => Long): IndexedSeq[Seq[T]] = {
    val bins = IndexedSeq.fill(slices)(Seq.newBuilder[T])
    items.sortBy(f => -len(f)).zipWithIndex
      .foreach { case (f, i) => bins(i % slices) += f }
    bins.map(_.result())
  }

  /** Distributed (length, CRC32C) stamps for `(abs, rel, len)` files —
    * one task per ~[[CloneBytesPerTask]] of payload, files packed
    * largest-first so one fat parquet file can't serialize the job;
    * the driver sees names and stamps, never bytes. */
  private def checksumFiles(spark: SparkSession,
      files: Seq[(String, String, Long)]): Map[String, (Long, Long)] = {
    if (files.isEmpty) return Map.empty
    val slices = cloneSlices(files.map(_._3).sum, files.size,
      spark.sparkContext.defaultParallelism)
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(
        spark.sessionState.newHadoopConf()))
    spark.sparkContext.parallelize(
        packBins[(String, String, Long)](files, slices, _._3), slices)
      .flatMap(identity)
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { case (abs, rel, _) =>
          val path = new Path(abs)
          val pfs = path.getFileSystem(conf)
          val len = pfs.getFileStatus(path).getLen
          val in = pfs.open(path)
          val crc = try crcOfStream(in) finally in.close()
          (rel, len, crc)
        }
      }
      .collect()
      .map { case (r, l, c) => r -> (l, c) }.toMap
  }

  /** The BIT-ROT leg of the fsck family, shared by every index family:
    * re-hash every manifest-stamped physical file under `m`'s segments
    * and compare (length, CRC32C) against the stamps taken at commit/
    * append/compact/clone time. The algebra recounts the family cards
    * make (occupancy, tombstone masks, band keys, file counts) cannot
    * see a flipped byte that keeps its file length — this card can.
    * Rows, in the family cards' (check, expected, actual, ok) schema,
    * expected 0 everywhere:
    *
    *  - `segment_checksum_mismatches`: stamped files whose re-hash
    *    differs (a length-intact file the filesystem refuses to read —
    *    e.g. a stale local-FS checksum sidecar — counts here too: both
    *    ARE rot evidence, and an fsck must report the corruption it
    *    exists to find, never crash on it);
    *  - `segment_files_missing`: stamped files absent on disk;
    *  - `segment_files_unstamped`: on-disk files under a listed
    *    segment with no manifest stamp (a foreign write, or a
    *    pre-checksum legacy segment);
    *  - `segment_length_mismatches`: stamped files whose length
    *    drifted — the only physical corruption the pre-stamp audits
    *    could catch.
    *
    * The re-hash is a distributed job over the stamped file list
    * (driver work is listing names; tasks packed largest-first by
    * payload). The family fscks fold [[checksumScalars]] into their own
    * scalar row instead of appending this card, so one projection
    * emits all their rows and every stamped file is re-hashed once. */
  def checksumCard(spark: SparkSession, dir: String,
                   m: Manifest): DataFrame = {
    val (agg, checks) = checksumScalars(spark, dir, m)
    checkRows(PlanHints.withScalars(spark.range(1).toDF("_one"), agg),
      checks)
  }

  /** [[checksumCard]]'s one-row aggregate (`miss_n`, `len_mm`,
    * `crc_mm`) and its four (name, expected, actual) checks over it —
    * the form a family fsck folds into its own scalar row. */
  private[operators] def checksumScalars(spark: SparkSession, dir: String,
      m: Manifest): (DataFrame, Seq[(String, Column, Column)]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
    import spark.implicits._
    val (fs, p) = fsOf(spark, dir)
    val qualified = fs.makeQualified(p).toString
    val segs = m.tables.values.flatten.toSeq.distinct
    val onDisk = segs.flatMap(s => listSegmentFiles(fs, p, s).map(_._2))
      .toSet
    val unstamped = (onDisk -- m.files.keySet).size.toLong
    val entries = m.files.toSeq.sortBy(_._1)
    val mismAgg =
      if (entries.isEmpty)
        // range(1)'s id IS the zero (a literal would fold the
        // constant-key scalar join back into a nested-loop cross)
        spark.range(1).select(col("id").as("miss_n"),
          col("id").as("len_mm"), col("id").as("crc_mm"))
      else {
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.SerializableWritable(
            spark.sessionState.newHadoopConf()))
        val slices = cloneSlices(entries.map(_._2._1).sum, entries.size,
          spark.sparkContext.defaultParallelism)
        spark.sparkContext.parallelize(
            packBins[(String, Long, Long)](
              entries.map { case (rel, (len, crc)) => (rel, len, crc) },
              slices, _._2), slices)
          .flatMap(identity)
          .mapPartitions { it =>
            val conf = confBc.value.value
            it.map { case (rel, len, crc) =>
              val path = new Path(s"$qualified/$rel")
              try {
                val pfs = path.getFileSystem(conf)
                if (!pfs.exists(path)) (1L, 0L, 0L)
                else if (pfs.getFileStatus(path).getLen != len)
                  (0L, 1L, 0L)
                else {
                  val in = pfs.open(path)
                  val h = try crcOfStream(in) finally in.close()
                  (0L, 0L, if (h != crc) 1L else 0L)
                }
              } catch {
                case _: java.io.IOException => (0L, 0L, 1L)
              }
            }
          }
          .toDF("m", "l", "c")
          .agg(
            coalesce(sum(col("m")), lit(0L)).cast("long").as("miss_n"),
            coalesce(sum(col("l")), lit(0L)).cast("long").as("len_mm"),
            coalesce(sum(col("c")), lit(0L)).cast("long").as("crc_mm"))
      }
    (mismAgg,
      Seq(("segment_checksum_mismatches", lit(0L), col("crc_mm")),
        ("segment_files_missing", lit(0L), col("miss_n")),
        ("segment_files_unstamped", lit(0L), lit(unstamped)),
        ("segment_length_mismatches", lit(0L), col("len_mm"))))
  }

  /** The fsck cards' (check, expected, actual, ok) rows over the one
    * row of `scalars`: one row per (name, expected, actual) check, in
    * the order given, all emitted by ONE projection (`inline` over an
    * array of row structs). A union of one `select` per check would
    * give each branch its own column-pruned copy of the aggregate
    * subtrees under `scalars`; exchange reuse only matches identical
    * subtrees, so every branch would re-run the aggregates (and an
    * opaque kernel such as the [[checksumCard]] re-hash) once per
    * check. Here each aggregate appears once in the plan and runs
    * once. */
  private[operators] def checkRows(scalars: DataFrame,
      checks: Seq[(String, Column, Column)]): DataFrame = {
    import org.apache.spark.sql.functions.{array, inline, lit, struct}
    scalars.select(inline(array(checks.map { case (name, expected, actual) =>
      struct(lit(name).as("check"),
        expected.cast("long").as("expected"),
        actual.cast("long").as("actual"),
        (expected === actual).as("ok"))
    }: _*)))
  }

  /** Payload target per clone-copy task — one task per ~this many
    * bytes, so copy parallelism scales with index size (the
    * [[writeWidth]] discipline applied to promotion I/O). */
  val CloneBytesPerTask: Long = 128L << 20

  /** Task count for a distributed copy of `totalBytes` across
    * `nFiles` files given the cluster's `parallelism`: at least the
    * parallel floor (small clones still fan out across files), at
    * most one task per file (a task's unit of work is a whole file),
    * growing one task per [[CloneBytesPerTask]] of payload. */
  def cloneSlices(totalBytes: Long, nFiles: Int, parallelism: Int): Int = {
    if (nFiles <= 0) 1
    else {
      val byBytes = ((totalBytes + CloneBytesPerTask - 1)
        / CloneBytesPerTask).toInt
      math.min(nFiles, math.max(math.max(1, byBytes),
        math.min(parallelism, nFiles)))
    }
  }

  /** Stream `(srcFile, destFile, destRel, expectedLen)` tuples through
    * a cluster job: files packed largest-first round-robin into
    * [[cloneSlices]] bins, each task opening the filesystems from the
    * shipped Hadoop conf, copying raw bytes while hashing them
    * (CRC32C), and verifying the landed length. Returns the landed
    * `(destRel, length, crc)` stamps — file-count-sized metadata, the
    * same scale as the driver's listing. Re-runnable: destination
    * files are created with overwrite. */
  private def copyDistributed(spark: SparkSession,
      files: Seq[(String, String, String, Long)])
      : Seq[(String, Long, Long)] = {
    if (files.isEmpty) return Nil
    val slices = cloneSlices(files.map(_._4).sum, files.size,
      spark.sparkContext.defaultParallelism)
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(
        spark.sessionState.newHadoopConf()))
    spark.sparkContext.parallelize(
        packBins[(String, String, String, Long)](files, slices, _._4),
        slices)
      .flatMap(identity)
      .mapPartitions { (it: Iterator[(String, String, String, Long)]) =>
        val conf = confBc.value.value
        val buf = new Array[Byte](1 << 20)
        it.map { case (s, d, rel, len) =>
          val spath = new Path(s)
          val dpath = new Path(d)
          val sfs = spath.getFileSystem(conf)
          val dfs = dpath.getFileSystem(conf)
          val crc = new java.util.zip.CRC32C
          val in = sfs.open(spath)
          try {
            val out = dfs.create(dpath, true)
            try {
              var n = in.read(buf)
              while (n >= 0) {
                if (n > 0) { out.write(buf, 0, n); crc.update(buf, 0, n) }
                n = in.read(buf)
              }
            } finally out.close()
          } finally in.close()
          val landed = dfs.getFileStatus(dpath).getLen
          require(landed == len,
            s"cloneSnapshot: $d landed $landed bytes, expected $len")
          (rel, landed, crc.getValue)
        }
      }
      .collect().toSeq
  }

  /** Per-table segment debt under `m`: (tbl, segments, n_rows) — the
    * family-agnostic core every health card shares (segment counts are
    * manifest metadata; row counts are distributed aggregates over the
    * un-folded segment unions, i.e. what a compaction would read).
    * Callers attach their family's mask/live scalars and threshold
    * logic on top. */
  def segmentDebt(spark: SparkSession, dir: String,
                  m: Manifest): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    m.tables.keys.toSeq.sorted.map { t =>
      // the union is built from M's own segment list (not readTable,
      // which resolves the CURRENT manifest) so segment counts and row
      // counts derive from the same snapshot — a time-travel manifest
      // reports its own rows, never a mix of old layout and new data
      readTableOf(spark, dir, m, t)
        .agg(count(lit(1)).cast("long").as("n_rows"))
        .select(lit(t).as("tbl"),
          lit(m.tables(t).size).as("segments"), col("n_rows"))
    }.reduce(_ unionByName _)
  }

  /** Delete segment dirs and manifests no longer referenced by the
    * CURRENT manifest — call after a commit (never before: post-commit
    * GC can only orphan, not corrupt). Touches nothing but this
    * module's own naming patterns.
    *
    * Reader race (the standard table-format vacuum trade): a reader
    * that resolved [[tablePaths]] against manifest g(n) and is still
    * scanning when a later commit's GC deletes a g(n)-only segment
    * fails that scan. Single-JVM callers here GC in the same thread
    * that committed, so no overlap exists; a multi-reader deployment
    * should defer GC by a grace period longer than its longest query
    * (Iceberg/Delta vacuum semantics) — retention is a deploy knob,
    * not a correctness one, since GC never touches segments the
    * current manifest references.
    *
    * `keepGens` is the RETENTION window: segments and manifest files
    * referenced by any of the newest `keepGens` generations survive
    * (default 1 = current only). Raising it buys both time-travel
    * reads ([[manifestAt]]/[[readTableAt]]) and the multi-reader
    * grace period the vacuum-race note above calls for — retention is
    * the deploy knob, GC never touches what a retained manifest
    * references.
    *
    * `graceMs` is the TIME-BASED reader lease: a generation stays
    * retained until it has been superseded for at least `graceMs`
    * (measured from its successor manifest's mtime — the instant it
    * stopped being current), regardless of `keepGens`. A reader that
    * resolved paths against gen N therefore survives any number of
    * concurrent commit+GC cycles as long as its scan finishes within
    * the grace window — the Iceberg/Delta vacuum contract. Default 0
    * keeps the count-only retention (single-JVM callers GC in the
    * committing thread, where no reader overlap exists).
    *
    * Also clears stranded `_claim_g*` markers (a committer killed
    * before its flip) — GC never runs concurrently with a commit by
    * the single-writer contract, so any claim it sees SHOULD be dead.
    * Hardening against a contract violation (an operator running GC
    * during a live commit): a claim is only cleared once it is older
    * than `graceMs`, so a mid-flight committer's fresh claim survives
    * an erroneous concurrent GC and the silent-interleave window the
    * claims exist to close stays closed. With the default `graceMs`
    * of 0 every claim GC sees is treated as stranded — the
    * single-JVM recover-after-kill path. */
  def gcUnreferenced(spark: SparkSession, dir: String,
                     keepGens: Int = 1, graceMs: Long = 0L): Unit =
    log.gc(spark, dir, keepGens, graceMs) { (retained, _) =>
      val live = retained.flatMap(_.tables.values.flatten).toSet
      st => st.isDirectory && SegmentRe.matches(st.getPath.getName) &&
        !live.contains(st.getPath.getName)
    }

  /** Merge `ids` into the index's `tombstones` table in one commit —
    * the generic deletion primitive every family's delete wraps, the
    * delete-only [[commitDeltas]] cycle. The not-already-tombstoned
    * ids (so re-deletes are idempotent) land as a NEW DELTA SEGMENT
    * and the manifest flips once — a delete writes delete-sized
    * volume no matter how large the accumulated tombstone set is (the
    * logical table is the union of its delta segments; anti-join
    * masking needs no fold). The caller's serve path masks with
    * [[maskTombstones]]; a later compaction materializes the mask and
    * drops the table. */
  def appendTombstones(spark: SparkSession, dir: String, ids: DataFrame,
                       keyCol: String, retainGens: Int = 1): Unit =
    commitDeltas(spark, dir, "appendTombstones", keyCol, Nil, _ => _ => Nil,
      Some(ids), retainGens)

  /** Enforce, inside an APPEND commit, that the increment's ids are
    * disjoint from the index's tombstones — the re-ingest contract.
    * An append can neither keep a re-ingested id masked (it would
    * serve as deleted while this very commit's aggregates count it)
    * nor simply unmask it (the id's PRE-DELETE rows are still
    * physically present in carried-forward segments until a
    * compaction, so unmasking resurrects them beside the new rows and
    * double-counts the doc). The only consistent order is compact
    * first — materialize the deletion — then re-ingest, and this
    * check turns the wrong order into a loud error instead of a
    * silently wrong index. No-op when the index carries no
    * tombstones. */
  def requireDisjointFromTombstones(spark: SparkSession, dir: String,
                                    prev: Manifest, ids: DataFrame,
                                    keyCol: String, op: String): Unit =
    if (prev.tables.contains("tombstones")) {
      val overlap = readTableOf(spark, dir, prev, "tombstones")
        .join(ids.select(ids.col(ids.columns.head).cast("long")
          .as(keyCol)).distinct(), Seq(keyCol), "left_semi")
        .count()
      require(overlap == 0,
        s"$op to $dir: $overlap increment id(s) were previously " +
          "deleted and are still tombstoned — compact the index to " +
          "materialize the deletion before re-ingesting them")
    }

  /** Anti-join `df` against the index's tombstones table on `keyCol`
    * — identity when the index carries none. Every serve path calls
    * this so tombstoned rows never become candidates. */
  def maskTombstones(spark: SparkSession, dir: String, df: DataFrame,
                     keyCol: String): DataFrame =
    currentManifest(spark, dir).fold(df)(
      maskTombstonesOf(spark, dir, _, df, keyCol))

  /** [[maskTombstones]] against the already-resolved manifest `m` —
    * the mask a reader pinned to one generation applies. */
  private[operators] def maskTombstonesOf(spark: SparkSession, dir: String,
      m: Manifest, df: DataFrame, keyCol: String): DataFrame =
    if (m.tables.contains("tombstones"))
      df.join(readTableOf(spark, dir, m, "tombstones"), Seq(keyCol),
        "left_anti")
    else df

  /** ONE-PASS tombstone audit shared by the family fscks — the
    * (masked, live_re, orphaned) trio every fsck card reports. The
    * former shape ran three separate scalar-subtree jobs (a count of
    * the tombstones table, an anti-join recount of live ids, and the
    * reverse anti-join for orphans); a single full-outer join over the
    * distinct physical ids computes all three in one job with
    * identical values (guide §1.2: remove redundant passes —
    * at index scale that is two fewer full passes over the id set).
    * `presentIds` carries the PHYSICAL (pre-mask) ids, possibly with
    * repeats. With no tombstones table the trio degenerates to
    * (0, distinct ids, 0), still one job. */
  def tombstoneAuditAgg(spark: SparkSession, presentIds: DataFrame,
                        tombstones: Option[DataFrame],
                        keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, countDistinct, lit, sum, when}
    tombstones match {
      case Some(t) =>
        val p = presentIds.select(col(keyCol)).distinct()
          .withColumn("_p", lit(1))
        val tt = t.select(col(keyCol)).withColumn("_t", lit(1))
        p.join(tt, Seq(keyCol), "full_outer").agg(
          coalesce(sum(col("_t")), lit(0L)).cast("long").as("masked"),
          coalesce(sum(when(col("_p").isNotNull && col("_t").isNull, 1L)),
            lit(0L)).cast("long").as("live_re"),
          coalesce(sum(when(col("_t").isNotNull && col("_p").isNull, 1L)),
            lit(0L)).cast("long").as("orphaned"))
      case None =>
        // the aggregate column stays FIRST so withScalars derives its
        // constant key from a non-foldable column (see PlanHints)
        presentIds.agg(
            countDistinct(col(keyCol)).cast("long").as("live_re"))
          .select(col("live_re"), lit(0L).cast("long").as("masked"),
            lit(0L).cast("long").as("orphaned"))
    }
  }

  /** Cap on the derived width: 65 536 writers × the 128 MiB default
    * target ≈ 8 TiB per table per job — above that, split the build
    * (several appends) rather than one mega-job. */
  val MaxWidth: Int = 1 << 16

  /** Size-derived writer width for an index-table write, replacing the
    * former fixed `repartition(16, …)`: ⌈estimated bytes / target
    * bytes-per-file⌉, floored at min(defaultParallelism, 16) so small
    * builds keep parallel file creation (the measured sf0.1 bottleneck
    * was the serial file-create sequence, not hashing), capped at
    * [[MaxWidth]]. `sizeHint` should be a SCAN-BACKED frame (the
    * source table / the live index being compacted) — Catalyst's
    * estimate there is file-size-derived; a checkpoint-backed frame
    * reports the unknown-stats sentinel and is rejected loudly rather
    * than silently exploding the partition count. The estimate is of
    * decoded bytes, so actual files land below the target after
    * parquet encoding — the conservative side of the trade. */
  def writeWidth(sizeHint: DataFrame,
                 targetBytesPerFile: Long = 128L << 20): Int =
    widthOf(sizeHint, targetBytesPerFile, unknownIsFloor = false)

  /** Cluster `df` for a `partitionBy(partCol)` write with a WRITER
    * SUB-SPLIT for hot partitions (guide §2.5 skew / §6): repartition
    * by (partCol) alone routes ALL of a partition value's rows through
    * ONE task — one file per value, fine when values ≫ tasks, but a
    * write-parallelism ceiling once the derived width exceeds the
    * value count (a hot LSH bucket / IVF cell at 100 TB writes through
    * a single task forever). When `width > nPartValues`, add a
    * DETERMINISTIC salt — pmod(xxhash64(idCol), k), never rand()
    * (SPARK-38388: retried tasks must reproduce their row-to-partition
    * assignment) — with k = ⌈width / nPartValues⌉ sub-splits per
    * value, so each value writes through up to k parallel tasks. The
    * directory layout is UNCHANGED (partitionBy still groups by
    * partCol; a value's dir just holds up to k files, and parquet
    * readers union them identically). k = 1 — the identity, byte-for-
    * byte the old clustering — whenever width ≤ nPartValues, which is
    * every local-bench shape; the salt engages exactly when the
    * cluster is wide enough to need it. */
  def clusterForPartitionedWrite(df: DataFrame, width: Int,
                                 partCol: String, nPartValues: Long,
                                 idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val k = if (nPartValues <= 0) 1L
      else (width + nPartValues - 1) / nPartValues
    if (k <= 1L) df.repartition(width, col(partCol))
    else df.repartition(width, col(partCol),
      pmod(xxhash64(col(idCol)), lit(k)))
  }

  /** Distinct partition-value count of a partitioned index table, from
    * the live segments' partition DIRECTORY NAMES (driver metadata —
    * one listStatus per segment, no data read): the `nPartValues`
    * input [[clusterForPartitionedWrite]] needs when the caller has no
    * geometry artifact at hand (compaction/merge of an existing
    * table). */
  def partitionValueCount(spark: SparkSession, dirs: Seq[String],
                          table: String): Long = {
    val vals = scala.collection.mutable.Set[String]()
    dirs.foreach { d =>
      val (fs, p) = fsOf(spark, d)
      if (fs.exists(p))
        fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.contains('=')) vals += n: Unit
        }
    }
    math.max(1L, vals.size.toLong)
  }

  /** [[writeWidth]] for a PARTITIONED write (`partitionBy(partCol)`):
    * the file count there is fixed by the partition column's
    * cardinality (each partition value owns ≥ 1 file whatever the
    * task count), so width buys only PARALLELISM of file creation —
    * the measured bottleneck on bucket/cell segment writes was each
    * task creating its ~16 partition files serially (parquet writer
    * open + footer ≈ 100 ms each), not the hashing. Use the full
    * cluster parallelism as the floor instead of [[writeWidth]]'s
    * 16-task floor; large tables keep the size-derived width. */
  def partitionedWriteWidth(sizeHint: DataFrame,
                            targetBytesPerFile: Long = 128L << 20): Int = {
    val par = sizeHint.sparkSession.sparkContext.defaultParallelism
    math.min(MaxWidth,
      math.max(writeWidth(sizeHint, targetBytesPerFile), par))
  }

  /** [[writeWidth]] for DELTA segments (per-append df deltas, per-
    * delete tombstone batches) whose natural size hint may be
    * checkpoint- or join-backed and so carry the unknown-stats
    * sentinel: deltas are increment-sized by construction, so an
    * unknown estimate falls back to the parallel floor instead of the
    * loud error the full-table writes keep. */
  def deltaWidth(sizeHint: DataFrame,
                 targetBytesPerFile: Long = 128L << 20): Int =
    widthOf(sizeHint, targetBytesPerFile, unknownIsFloor = true)

  /** The one body of [[writeWidth]] and [[deltaWidth]]: ⌈estimate /
    * target⌉ between the parallel floor and [[MaxWidth]]. They differ
    * only on the unknown-stats sentinel, which `unknownIsFloor` maps
    * to the floor and otherwise rejects loudly. */
  private def widthOf(sizeHint: DataFrame, targetBytesPerFile: Long,
                      unknownIsFloor: Boolean): Int = {
    val floor = math.max(1,
      math.min(sizeHint.sparkSession.sparkContext.defaultParallelism, 16))
    val est = sizeHint.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= BigInt(Long.MaxValue) / 4) {
      require(unknownIsFloor,
        "writeWidth: size estimate is the unknown-stats sentinel — pass a " +
          "scan-backed sizeHint, not a checkpointed/RDD-backed frame")
      floor
    } else {
      val byBytes = (est + targetBytesPerFile - 1) / targetBytesPerFile
      math.max(floor, byBytes.min(BigInt(MaxWidth)).toInt)
    }
  }
}
