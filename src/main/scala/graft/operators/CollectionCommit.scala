package graft.operators

import org.apache.spark.sql.SparkSession

/** Cross-index atomic snapshots — the consistency layer ABOVE
  * [[IndexCommit]]. A retrieval deployment rarely serves one index:
  * hybrid RRF reads a BM25 manifest AND a vector manifest, and a
  * takedown must vanish from BOTH legs at once. Each member index
  * already flips atomically, but two member flips are two instants —
  * a reader resolving manifests between them sees the document deleted
  * from one leg and alive in the other (exactly the torn state a
  * multi-table transaction exists to prevent; Iceberg/Delta solve the
  * single-table version of this, the reference's analogue is the
  * consolidated cache swapping feeds under one lookup key,
  * /root/reference/fast.py:106-136).
  *
  * A COLLECTION directory owns its member indexes as subdirectories
  * (`colDir/<member>` is an ordinary [[IndexCommit]] index) plus
  * numbered collection manifests (`_collection_g<gen>`) pinning, per
  * member, ONE index generation. Readers resolve the collection
  * manifest once and serve every leg at its pinned generation
  * ([[graft.operators.Bm25.serve]]'s / ivfServe's `atGen`): the set of
  * legs they observe is always one that was committed TOGETHER.
  *
  * == Protocol ==
  *
  * [[commit]] claims its generation (atomic create-fails-if-exists,
  * same single-writer enforcement as the member layer), runs `stage`
  * — which performs the member commits, each itself atomic — and only
  * then flips the collection manifest via temp-file + rename. The
  * claim, the flip, the retained-generation rule of [[gc]] and its
  * aged-claim sweep are the core both layers share ([[ManifestLog]]),
  * not a copy of the member layer's; this layer adds only its manifest
  * body, its member-resolution checks and its member-dir GC.
  * Consequences, which CollectionCommitSpec pins:
  *
  *  - a crash AFTER some member flips but BEFORE the collection flip
  *    leaves collection readers on the PRIOR collection manifest,
  *    whose pinned member generations are all still present (member
  *    commits never modify prior generations) — consistent, just
  *    stale; the orphan member generations are superseded by the
  *    retry or trimmed by [[gc]];
  *  - a retried commit re-runs the member operations (append/delete
  *    retries are idempotent at the member layer) and flips the same
  *    collection generation the crashed attempt claimed;
  *  - two racing collection committers: exactly one wins, the loser
  *    errors naming the contested generation.
  *
  * == Retention ==
  *
  * Member-level GC must never collect a generation some retained
  * collection manifest still pins. Member maintenance invoked inside
  * `stage` should therefore pass `retainGens = Int.MaxValue` (retain
  * everything) and leave trimming to [[gc]], which derives each
  * member's exact retention floor from the retained collection
  * manifests — the same inversion of control the member layer applies
  * to its own segments (manifests decide, GC obeys). */
object CollectionCommit {

  /** One committed collection state: per member subdirectory name, the
    * pinned [[IndexCommit]] generation. */
  final case class Manifest(gen: Long, members: Map[String, Long])

  private val Header = "graft-collection-manifest-v1"

  private val log = new ManifestLog("_collection_g", "_colclaim_g",
    Set(Header), "collection ", "gc the collection")(parse)

  private def parse(gen: Long, lines: Seq[String], dir: String): Manifest =
    Manifest(gen, lines.map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"malformed collection manifest line in $dir: $line")
      line.substring(0, i) -> line.substring(i + 1).toLong
    }.toMap)

  /** The member index's own directory under the collection root. */
  def memberDir(colDir: String, member: String): String =
    s"$colDir/$member"

  /** Highest-generation collection manifest, or None before the first
    * commit. */
  def currentManifest(spark: SparkSession, colDir: String): Option[Manifest] =
    log.current(spark, colDir)

  /** The collection manifest at a SPECIFIC generation — collection
    * TIME TRAVEL: every leg of a prior snapshot serves bit-identically
    * as long as [[gc]] retention covers it. */
  def manifestAt(spark: SparkSession, colDir: String, gen: Long): Manifest =
    log.at(spark, colDir, gen,
      s"collection at $colDir has no manifest g$gen (never committed, " +
        "or GC'd past retention — raise keepGens on gc)")

  /** Run one atomic collection commit: `stage(gen, current)` performs
    * the member index commits (each atomic at its own layer) and
    * returns the FULL member→generation map the new collection
    * manifest pins (carrying forward untouched members' generations
    * verbatim). Only after `stage` returns is the collection marker
    * flipped; a `stage` that throws commits nothing at the collection
    * layer. */
  def commit(spark: SparkSession, colDir: String)(
      stage: (Long, Option[Manifest]) => Map[String, Long]): Unit = {
    val cur = currentManifest(spark, colDir)
    val gen = cur.map(_.gen).getOrElse(0L) + 1
    log.commit(spark, colDir, gen) { (_, _) =>
      val members = stage(gen, cur)
      require(members.nonEmpty, s"collection commit to $colDir pinned " +
        "no members")
      members.keys.foreach(m => require(
        !m.contains('=') && !m.contains('/') && !m.contains(','),
        s"bad member name: $m"))
      // every generation this manifest pins — new AND carried-forward
      // from the prior snapshot — must RESOLVE before the flip: a
      // member-level op inside stage that ran with default retention
      // (instead of the documented retainGens = Int.MaxValue) GCs
      // member generations a prior collection manifest still pins.
      // Validating here turns that misuse into a loud commit-time
      // error instead of a collection-time-travel read failing later.
      members.foreach { case (mem, g) =>
        try { IndexCommit.manifestAt(spark, memberDir(colDir, mem), g); () }
        catch { case e: Exception => sys.error(
          s"collection commit to $colDir: member '$mem' generation " +
            s"$g does not resolve (${e.getMessage}) — member " +
            "maintenance inside stage must pass retainGens = " +
            "Int.MaxValue and leave trimming to CollectionCommit.gc")
        }
      }
      cur.foreach(_.members.foreach { case (mem, g) =>
        try { IndexCommit.manifestAt(spark, memberDir(colDir, mem), g); () }
        catch { case e: Exception => sys.error(
          s"collection commit to $colDir: PRIOR snapshot g${cur.get.gen} " +
            s"pins member '$mem' generation $g which no longer resolves " +
            s"(${e.getMessage}) — member maintenance inside stage must " +
            "pass retainGens = Int.MaxValue so retained collection " +
            "snapshots keep serving; trimming belongs to " +
            "CollectionCommit.gc")
        }
      })
      (Header +: members.toSeq.sortBy(_._1)
        .map { case (m, g) => s"$m=$g" }).mkString("", "\n", "\n")
    }
  }

  /** CLONE one committed collection snapshot into a fresh collection
    * directory — staging→serving promotion for a MULTI-INDEX
    * deployment: validate the whole hybrid state (every leg) in
    * staging, then promote the exact bytes of EVERY member at its
    * pinned generation in one operation. Each member is cloned via
    * [[IndexCommit.cloneSnapshot]] (a distributed distcp-shape copy;
    * physical layout survives verbatim) at the generation THIS
    * collection snapshot pins — so the promoted collection is the
    * consistent cross-index state the snapshot guarantees, never a
    * mix of member currents. The destination commits as collection
    * generation 1 pinning every member's clone at its own generation
    * 1; source GC can never reach into it. `atGen` promotes any
    * retained source snapshot (collection time travel composes).
    *
    * Crash recovery: member clones land first, the collection
    * manifest flips last — a crash mid-way leaves dest without a
    * collection manifest, and the retry wipes the partial member
    * clones (nothing references them: the destination collection
    * never committed) and re-copies. A hard kill can also strand the
    * destination's `_colclaim_g1`; [[gc]] on the (manifest-less)
    * destination clears aged claims, after which the retry proceeds. */
  def cloneSnapshot(spark: SparkSession, colDir: String, dest: String,
                    atGen: Option[Long] = None): Unit = {
    val src = atGen match {
      case Some(g) => manifestAt(spark, colDir, g)
      case None => currentManifest(spark, colDir).getOrElse(sys.error(
        s"cloneSnapshot: no committed collection at $colDir"))
    }
    commit(spark, dest) { (_, cur) =>
      require(cur.isEmpty,
        s"cloneSnapshot: destination $dest already holds a committed " +
          "collection (gen " + cur.map(_.gen).getOrElse(0L) + ") — " +
          "clones are fresh directories, not merges")
      src.members.foreach { case (mem, g) =>
        val dm = memberDir(dest, mem)
        // a crashed prior attempt may have left a committed member
        // clone; the destination collection never flipped, so nothing
        // references it — wipe and re-copy (idempotent retry)
        val (dfs, dmp) = ManifestLog.fsOf(spark, dm)
        if (dfs.exists(dmp)) dfs.delete(dmp, true): Unit
        IndexCommit.cloneSnapshot(spark, memberDir(colDir, mem), dm,
          Some(g))
      }
      src.members.map { case (mem, _) => mem -> 1L }
    }
  }

  /** Trim collection AND member retention in one pass: keep the newest
    * `keepGens` collection manifests, then GC each member index down
    * to exactly the generations some retained collection manifest
    * still pins (plus anything newer — orphans of a crashed stage are
    * superseded, not resurrected). `graceMs` is the time-based reader
    * lease at BOTH layers: a collection manifest superseded less than
    * graceMs ago stays retained past `keepGens` (so a long-running
    * reader's pinned snapshot survives an aggressive trim), and the
    * same lease forwards to each member's gcUnreferenced. Call after
    * a commit, never before — post-commit GC can only orphan, not
    * corrupt. */
  def gc(spark: SparkSession, colDir: String, keepGens: Int = 1,
         graceMs: Long = 0L): Unit =
    log.gc(spark, colDir, keepGens, graceMs) { (retained, cutoff) =>
      val retainedMembers = retained.flatMap(_.members.keys).toSet
      retainedMembers.foreach { member =>
        val mDir = memberDir(colDir, member)
        val floor = retained.flatMap(_.members.get(member)).min
        IndexCommit.currentManifest(spark, mDir).foreach { cur =>
          // keep every member gen >= the oldest pinned one; the member
          // layer counts retention from its newest gen downward
          val span = (cur.gen - floor + 1).max(1L).min(Int.MaxValue.toLong)
          IndexCommit.gcUnreferenced(spark, mDir, span.toInt, graceMs)
        }
      }
      // a member directory dropped from EVERY retained collection
      // manifest is unreachable by any reader this layer serves —
      // without this it (and all its generations) leaks disk forever.
      // The collection dir OWNS its subdirectories (the member
      // contract), so an unpinned subdirectory is garbage. Aged-only,
      // like claims: a fresh dir may be a NEW member a live committer
      // is mid-staging (not yet pinned by any manifest) — an
      // out-of-contract concurrent gc must not destroy it, and staging
      // keeps the dir's mtime current.
      st => st.isDirectory && !retainedMembers.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff
    }
}
