package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit protocol both manifest layers share: [[IndexCommit]]
  * (`_manifest_g<gen>` claimed by `_claim_g<gen>`, one per index
  * directory) and [[CollectionCommit]] (`_collection_g<gen>` claimed
  * by `_colclaim_g<gen>`, one per collection directory). For one
  * directory and one name scheme it owns:
  *
  *  - the generation listing and the read of one manifest's lines;
  *  - the commit: claim the generation (atomic create-fails-if-exists,
  *    so a second committer racing it errors loudly, naming the
  *    winner), build the manifest body, write it to a temp file,
  *    refuse to replace a committed manifest, rename — the one atomic
  *    flip — and release the claim, also when the body throws;
  *  - the retention rule: the newest `keepGens` generations, plus every
  *    generation superseded less than `graceMs` ago (measured from its
  *    successor manifest's mtime — the instant it stopped being
  *    current);
  *  - the aged-claim sweep: a claim is stranded (a committer killed
  *    before its flip) once older than `graceMs`, and it is cleared
  *    also in a directory that holds no manifest yet.
  *
  * Each layer keeps only what differs: its manifest body and parse
  * (`parse` gets the generation and the lines after the header), the
  * checks of what a manifest references, and which other directory
  * entries its GC deletes.
  *
  * @param stem      manifest-file prefix; the 12-digit generation follows
  * @param claimStem claim-marker prefix
  * @param headers   the first lines a manifest may start with
  * @param layer     what the error texts call this layer's manifests
  *                  ("" or "collection ")
  * @param gcHint    how a sole writer clears a stranded claim */
private[operators] final class ManifestLog[M](stem: String,
    claimStem: String, headers: Set[String], layer: String, gcHint: String)(
    parse: (Long, Seq[String], String) => M) {
  import ManifestLog.fsOf

  private val ManifestRe = s"$stem(\\d+)".r
  private val ClaimRe = s"$claimStem(\\d+)".r

  private def manifestName(gen: Long): String = f"$stem$gen%012d"
  private def claimName(gen: Long): String = f"$claimStem$gen%012d"

  private def gens(fs: FileSystem, p: Path): Array[Long] =
    fs.listStatus(p).map(_.getPath.getName)
      .collect { case ManifestRe(g) => g.toLong }

  private def read(fs: FileSystem, p: Path, gen: Long, dir: String): M = {
    val in = fs.open(new Path(p, manifestName(gen)))
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.toSeq
    require(lines.headOption.exists(headers.contains),
      s"unrecognized ${layer}manifest header in $dir: ${lines.headOption}")
    parse(gen, lines.drop(1).filter(_.nonEmpty), dir)
  }

  /** The highest generation's manifest in `dir`, or None for a missing
    * or manifest-less directory. */
  def current(spark: SparkSession, dir: String): Option[M] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return None
    val all = gens(fs, p)
    if (all.isEmpty) None else Some(read(fs, p, all.max, dir))
  }

  /** The manifest at generation `gen`; `missing` is the error when it
    * was never committed or has been collected. */
  def at(spark: SparkSession, dir: String, gen: Long, missing: => String): M = {
    val (fs, p) = fsOf(spark, dir)
    require(fs.exists(new Path(p, manifestName(gen))), missing)
    read(fs, p, gen, dir)
  }

  /** Claim generation `gen` of `dir`, run `body` (it gets the
    * directory's filesystem and path and returns the full manifest
    * text), and flip the manifest. A `body` that throws commits
    * nothing. */
  def commit(spark: SparkSession, dir: String, gen: Long)(
      body: (FileSystem, Path) => String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) fs.mkdirs(p): Unit
    val claim = new Path(p, claimName(gen))
    val fin = new Path(p, manifestName(gen))
    def lostRace = s"${layer}commit to $dir lost the race: generation " +
      s"$gen was committed by a concurrent writer (single-writer " +
      "contract violated)"
    val claimed =
      try { fs.create(claim, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!claimed) {
      if (fs.exists(fin)) sys.error(lostRace)
      else sys.error(
        s"${layer}commit to $dir: ${claimName(gen)} is already held — a " +
          "concurrent committer is mid-flight (single-writer contract " +
          "violated) or a prior attempt was killed before its flip; a " +
          s"sole writer recovering from a kill should $gcHint to clear " +
          "stranded claims, then retry")
    }
    try {
      val text = body(fs, p)
      val tmp = new Path(p, s".$stem$gen.tmp")
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      // belt over the claim's braces: a committer that claimed through
      // the winner's claim-release gap still refuses to replace a
      // committed manifest (atomic on HDFS where rename-to-existing
      // fails; best-effort check on local filesystems)
      require(!fs.exists(fin), lostRace)
      require(fs.rename(tmp, fin),
        s"${layer}manifest flip failed: $tmp -> $fin (concurrent writer?)")
    } finally fs.delete(claim, false): Unit
  }

  /** Retention GC of `dir`: deletes the manifests outside the retained
    * generations, aged claims and stray temp manifests. `dead` gets the
    * retained manifests and the lease cutoff (epoch ms) and returns
    * which of the directory's other entries the layer deletes; it is
    * not called when the directory holds no manifest, where only aged
    * claims are cleared. Post-commit only — GC can then only
    * orphan, not corrupt — and never concurrent with a commit (the
    * single-writer contract; a claim younger than `graceMs` is spared
    * so an out-of-contract GC cannot reopen the interleave race). */
  def gc(spark: SparkSession, dir: String, keepGens: Int, graceMs: Long)(
      dead: (Seq[M], Long) => FileStatus => Boolean): Unit = {
    require(keepGens >= 1, s"keepGens must be >= 1, got $keepGens")
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return
    val all = gens(fs, p).sorted.reverse
    val cutoff = System.currentTimeMillis() - graceMs
    val retained = all.zipWithIndex.filter { case (_, i) =>
      i < keepGens || (graceMs > 0 &&
        fs.getFileStatus(new Path(p, manifestName(all(i - 1))))
          .getModificationTime >= cutoff)
    }.map(_._1).toSeq
    val layerDead =
      if (all.isEmpty) (_: FileStatus) => false
      else dead(retained.map(read(fs, p, _, dir)), cutoff)
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      val del = n match {
        case ClaimRe(_) => st.getModificationTime < cutoff
        // a first commit killed before its flip strands a claim in a
        // directory with NO manifest; gc is the documented recovery, so
        // it clears aged claims there too and touches nothing else
        case _ if all.isEmpty => false
        case ManifestRe(g) => !retained.contains(g.toLong)
        case _ => n.startsWith(s".$stem") || layerDead(st)
      }
      if (del) fs.delete(st.getPath, true): Unit
    }
  }
}

private[operators] object ManifestLog {
  def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }
}
