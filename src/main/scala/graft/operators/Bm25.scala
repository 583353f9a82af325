package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the classic
  * Robertson/Spärck-Jones ranking (Okapi BM25), as a batch top-k per
  * query over Spark aggregates:
  *
  *   score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
  *                          / (tf(t,d) + k1·(1 − b + b·dl/avgdl))
  *
  * with the RATIONAL idf variant idf = (N − df + 0.5)/(df + 0.5) —
  * per-term-monotone with the textbook ln(1 + ·) form (swap in `log`
  * for it; the plan is identical) but free of transcendentals, so the
  * score is pure IEEE-754 basic arithmetic and SQL oracles reproduce
  * it bit-for-bit (ln is not correctly-rounded and differs across
  * libm implementations).
  *
  * Scale shape: two column-pruned corpus scans — a (count, Σdl) stats
  * aggregate, and the term-frequency extraction with the query-term
  * filter applied BEFORE the aggregation (tokens not in any query
  * never leave the scan), so the shuffled volume is O(matching
  * doc-term pairs), not corpus tokens. The tf relation is lazily
  * checkpointed: it feeds both the per-term df aggregate and the
  * scoring join without re-scanning the corpus. Corpus stats and df
  * are broadcast (both tiny); the per-term score is QUERY-INDEPENDENT
  * (BM25's term weight mentions only tf, df, dl), so it is computed
  * once per (term, doc) row BEFORE the query-list join fans the
  * relation out per query. The per-query top-k runs through the
  * rank-filter window that Spark rewrites to partial per-partition
  * group limits (WindowGroupLimit, verified Partial+Final in the
  * plan) — no query's full posting list is ever sorted globally.
  *
  * Per-(query,doc) summation: double addition is not associative, so
  * a raw sum(DOUBLE) would be partition-order-dependent. Instead each
  * per-term score is quantized to integer micro-units — floor(s·10⁶)
  * as a long — and the LONGS are summed: associative, map-side
  * combinable, whole-stage-codegen, and engine-exact (the one
  * product s·10⁶ is correctly rounded identically everywhere, floor
  * of a double is always exactly representable, and the final
  * ssum/10⁶ is a single correctly-rounded division). Ranking is on
  * the quantized sum — a documented 1e-6 score quantization, ties
  * broken by doc_id. Overflow bound: s < 2.2·idf ≤ 2.2·(2N+1) per
  * term, so a q-term query overflows Long only past
  * ~9.2e18/(2.2e6·q) ≈ 7e11/q documents — three orders of magnitude
  * above a 100 TB corpus.
  */
object Bm25 {

  /** @param queries (query id, query terms); terms match whitespace
    *                tokens exactly.
    * @return (qid, rank, doc_id, score): top-`k` docs per query among
    *         docs containing ≥ 1 query term; rank by 1e-6-quantized
    *         score desc, doc_id asc.
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queries: Seq[(String, Seq[String])], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = queries.flatMap(_._2).distinct
    val base = corpusBase(docs, idCol, textCol)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("sum_dl"))
    val tf = base.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // feeds the df aggregate AND the scoring join — pin it so the
      // corpus term extraction runs once
      .localCheckpoint(eager = false)
    val dfT = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    scoreAndRank(tf, dfT, stats, queries, k, k1, b)
  }

  /** NULL text is normalized to the empty string, whose single-token
    * split `[""]` gives the doc dl = 1 and one `""` posting — a term
    * no whitespace-token query can ever name, so scoring is
    * unaffected, but EVERY doc now owns at least one posting row.
    * That makes [[deleteDocs]]' exact recovery total: the n_docs/Σdl
    * decrements are recovered from postings, and a null-text doc
    * without the sentinel row could never be decremented (its stats
    * contribution would drift from the advertised bit-identical-to-
    * never-indexed replay). */
  private def corpusBase(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        split(coalesce(col(textCol), lit("")), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))

  /** Fold the df table's DELTA SEGMENTS to per-term document
    * frequencies: [[writeIndex]] commits the base df, every
    * [[appendIndex]] a positive increment delta, every [[deleteDocs]]
    * a negative one; the logical df is their sum (terms folded to
    * ≤ 0 have no live postings and drop out). Reading folds; only
    * [[compactIndex]] materializes — so an append/delete writes
    * increment-sized df volume even at a 10⁹-term vocabulary, the
    * same discipline the postings table has. Callers filter the
    * segments BEFORE folding where they can (the serve path's
    * query-term filter pushes into every segment scan). */
  private def foldDf(raw: DataFrame): DataFrame =
    raw.groupBy(col("term")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)

  /** The shared scoring tail of the inline ([[topK]]) and served
    * ([[serve]]) paths — ONE body so the quantized-long arithmetic
    * cannot drift between them (their shared oracle depends on it).
    * `tf` rows are (doc_id, dl, term, tf) already restricted to query
    * terms; `dfT`/`stats` are the tiny broadcast sides. */
  private def scoreAndRank(tf: DataFrame, dfT: DataFrame,
                           stats: DataFrame,
                           queries: Seq[(String, Seq[String])], k: Int,
                           k1: Double, b: Double): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val qdf = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    // association mirrors the oracle exactly: ((idf · num) / denom)
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val num = col("tf") * (lit(k1) + lit(1.0))
    val denom = col("tf") +
      lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (col("dl") / col("avgdl")))
    val scored = PlanHints.withScalars(tf.join(broadcast(dfT), "term"), stats)
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("sq", floor(idf * num / denom * lit(1e6)))
    val summed = scored.join(broadcast(qdf), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("sq")).as("ssum"))
      .withColumn("score", col("ssum").cast("double") / lit(1e6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    summed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
  }

  /** Persist the FULL inverted index as TABLES — the build-once /
    * serve-many shape text retrieval needs at corpus scale (the
    * inline [[topK]] re-extracts corpus term frequencies per query
    * set; a deployment extracts once and serves thousands of query
    * sets): `postings/` holds every (term, doc_id, dl, tf) row,
    * hash-clustered AND sorted by term within files so a serve-time
    * query-term filter prunes parquet row groups by the term min/max
    * stats (the disk-level analogue of the inline path's
    * filter-before-aggregate); `df/` the per-term document
    * frequencies; `stats/` the one-row (n_docs, Σdl). Unlike the
    * inline path the index covers ALL terms — query-independent by
    * construction. Integer tf/df/dl round-trip parquet exactly, so a
    * served query reproduces [[topK]]'s answer bit for bit (one
    * shared oracle).
    *
    * The three tables land as one [[IndexCommit]] manifest flip —
    * partial builds are invisible — with the postings writer width
    * derived from the corpus size ([[IndexCommit.writeWidth]]), not a
    * fixed file count. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 dir: String): Unit = {
    val spark = docs.sparkSession
    val base = corpusBase(docs, idCol, textCol)
    val tfPlan = base.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // width hints come from the un-checkpointed plan (scan-backed
    // stats); the checkpointed twin carries the data so the corpus
    // term extraction runs once for postings AND df
    val dfWidth = IndexCommit.writeWidth(tfPlan.groupBy(col("term"))
      .agg(count(lit(1)).as("df")))
    // EAGER: the overlapped staged writes below read the materialized
    // blocks instead of racing to compute a lazy checkpoint twice
    val tfAll = tfPlan.localCheckpoint(eager = true)
    IndexCommit.build(spark, dir, retainGens = 1)(
      "postings" -> termSorted(postingsOf(tfAll), IndexCommit.writeWidth(docs)),
      // df is vocab-sized, not corpus-sized, but a web corpus's vocab
      // is 10⁸–10⁹ terms — size-derived width and a term sort, never
      // one file
      "df" -> termSorted(tfAll.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df")), dfWidth),
      "stats" -> IndexCommit.oneFile(base.agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))))
  }

  /** The (term, doc_id, dl, tf) postings rows of a tf relation. */
  private def postingsOf(tf: DataFrame): DataFrame =
    tf.select(col("term"), col("doc_id"), col("dl"), col("tf"))

  /** The one writer of BM25's term-sorted tables (postings and df
    * segments): `df` hash-clustered by term across `width` writers and
    * sorted by term within each file, so a serve-time term filter
    * prunes parquet row groups by their term min/max stats. */
  private def termSorted(df: DataFrame, width: Int): String => Unit =
    dest => df.repartition(width, col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(dest)

  /** ONE-COMMIT NIGHTLY CYCLE — N disjoint-id appends plus an optional
    * takedown applied as a SINGLE atomic generation; the one delta path
    * of the BM25 index ([[appendIndex]] is its one-increment cycle,
    * [[deleteDocs]] its delete-only one). The staged segment set
    * matches the sequential [[appendIndex]]×N + [[deleteDocs]] chain
    * segment for segment: one postings segment and one positive df
    * delta per increment, one negative df delta + tombstone delta for
    * the takedown, the stats row re-merged once with the final value —
    * identical rows and identical per-table segment counts
    * (health/fsck cards are unchanged), computed by the same exact
    * integer algebra. Increment segments are named by
    * [[IndexCommit.deltaSegments]] (a table staging a single delta
    * keeps the `<table>-g<gen>` name); the takedown's df delta takes
    * `df-x-g<gen>` only beside increment df deltas. What changes is the
    * chain length (guide §1.2/§2.6): ONE claim + manifest flip + stamp
    * job + GC instead of N+1, every staged write overlapped, and the
    * takedown's decrement recovery reads this cycle's increments from
    * the pinned tf blocks instead of re-reading their freshly written
    * parquet. */
  def applyDeltas(spark: org.apache.spark.sql.SparkSession, dir: String,
                  increments: Seq[DataFrame], idCol: String,
                  textCol: String, deleteIds: Option[DataFrame] = None,
                  retainGens: Int = 1): Unit = {
    require(increments.nonEmpty || deleteIds.nonEmpty,
      "applyDeltas: nothing to apply")
    val bases = increments.map(docs => corpusBase(docs, idCol, textCol))
    val tfPlans = bases.map(_.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    // widths from the un-checkpointed, scan-backed plans (see writeIndex)
    val dfWidths = tfPlans.map(p => IndexCommit.deltaWidth(
      p.groupBy(col("term")).agg(count(lit(1)).as("df"))))
    val postWidths = increments.map(IndexCommit.writeWidth(_))
    // materialize every increment's tf ONCE, concurrently — each feeds
    // its postings write, its df delta, the stats merge and (when a
    // takedown rides the same cycle) the decrement recovery join
    val tfIncs = Par.all(tfPlans.map(p =>
      () => p.localCheckpoint(eager = true)))
    IndexCommit.commit(spark, dir) { (gen, cur) =>
      val prev = cur.getOrElse(sys.error(
        s"applyDeltas: no committed index at $dir — writeIndex first"))
      if (increments.nonEmpty)
        IndexCommit.requireDisjointFromTombstones(spark, dir, prev,
          bases.map(_.select(col("doc_id"))).reduce(_ unionByName _),
          "doc_id", "applyDeltas")
      // takedown leg, pinned BEFORE the parallel stage (both pins feed
      // two parallel branches each): the decrements are recovered from
      // the prior postings PLUS this cycle's increments — the same
      // physical rows the sequential chain's delete read back from disk
      val delLeg = deleteIds.map { ids =>
        val newIds = ids.select(col(ids.columns.head).cast("long")
          .as("doc_id")).distinct()
        val fresh = IndexCommit.maskTombstonesOf(spark, dir, prev, newIds,
            "doc_id")
          .localCheckpoint(eager = true)
        val post = (IndexCommit.readTableOf(spark, dir, prev, "postings") +:
          tfIncs.map(postingsOf)).reduce(_ unionByName _)
        val delRows = post.join(fresh, Seq("doc_id"))
          .localCheckpoint(eager = true)
        (newIds, fresh, delRows)
      }
      val postSegs = IndexCommit.deltaSegments("postings", tfIncs.size, gen)
      val incDfSegs = IndexCommit.deltaSegments("df", tfIncs.size, gen)
      val incWrites: Seq[() => Unit] =
        tfIncs.zipWithIndex.flatMap { case (tfInc, i) =>
          Seq[() => Unit](
            () => termSorted(postingsOf(tfInc), postWidths(i))(
              s"$dir/${postSegs(i)}"),
            () => termSorted(tfInc.groupBy(col("term"))
                .agg(countDistinct(col("doc_id")).as("df")), dfWidths(i))(
              s"$dir/${incDfSegs(i)}"))
        }
      // the takedown's NEGATIVE df delta — delete-sized write volume
      // no matter the vocabulary size ([[foldDf]] nets it out at read)
      val dfX = if (tfIncs.isEmpty) "df" else "df-x"
      val delWrites: Seq[() => Unit] = delLeg.toSeq.flatMap {
        case (newIds, fresh, delRows) =>
          Seq[() => Unit](
            () => termSorted(delRows.groupBy(col("term"))
                .agg((-countDistinct(col("doc_id"))).as("df")),
              IndexCommit.deltaWidth(newIds))(
              IndexCommit.segmentPath(dir, dfX, gen)),
            () => fresh.repartition(IndexCommit.deltaWidth(newIds))
              .write.mode("overwrite")
              .parquet(IndexCommit.segmentPath(dir, "tombstones", gen)))
      }
      val statsWrite: () => Unit = () => {
        val prior = IndexCommit.readTableOf(spark, dir, prev, "stats")
        val merged =
          if (bases.isEmpty) prior
          else (prior +: bases.map(_.agg(count(lit(1)).as("n_docs"),
              sum(col("dl").cast("long")).as("sum_dl"))))
            .reduce(_ unionByName _)
            .agg(sum(col("n_docs")).as("n_docs"),
              sum(col("sum_dl")).as("sum_dl"))
        val finalStats = delLeg match {
          case Some((_, _, delRows)) =>
            val delStats = delRows.groupBy(col("doc_id"))
              .agg(first(col("dl")).as("dl"))
              .agg(count(lit(1)).as("dn"),
                // sum over zero rows is NULL, not 0 — an empty delete
                // set must leave the stats untouched, not null them
                coalesce(sum(col("dl").cast("long")), lit(0L)).as("ddl"))
            PlanHints.withScalars(merged, delStats)
              .select((col("n_docs") - col("dn")).as("n_docs"),
                (col("sum_dl") - col("ddl")).as("sum_dl"))
          case None => merged
        }
        IndexCommit.oneFile(finalStats)(
          IndexCommit.segmentPath(dir, "stats", gen))
      }
      Par.all(incWrites ++ delWrites :+ statsWrite)
      val dfSegs = incDfSegs ++ delLeg.map(_ => s"$dfX-g$gen").toSeq
      prev.tables ++ Map(
        "postings" -> (prev.tables("postings") ++ postSegs),
        "df" -> (prev.tables("df") ++ dfSegs),
        "stats" -> Seq(s"stats-g$gen")) ++
        delLeg.map(_ => "tombstones" ->
          (prev.tables.getOrElse("tombstones", Nil) :+
            s"tombstones-g$gen")).toMap
    }
    IndexCommit.gcUnreferenced(spark, dir, retainGens)
  }

  /** APPEND an increment to a persisted inverted index — unlike the
    * ANN appends there is NO frozen-vs-retrained tension: the index is
    * exact additive aggregates, so maintenance is exact merge and the
    * incrementally-built index is BIT-IDENTICAL to a full rebuild
    * (served results share [[topK]]'s oracle outright). Increment doc
    * ids must be disjoint from the base (the ingest contract), making
    * per-term df additive: the increment's postings become a NEW
    * segment, `df`/`stats` are re-merged additively into fresh
    * segments, and all three land in one [[IndexCommit]] manifest flip
    * — a crash mid-append can no longer strand postings that df/stats
    * don't count (the round-12 hazard), and a retried append replaces
    * the failed attempt's orphan segments instead of double-appending.
    *
    * Write volume is INCREMENT-SIZED at any index size: the df merge
    * is a DELTA SEGMENT (the increment's own per-term df, folded with
    * the base and every other delta at read — [[foldDf]] — and
    * materialized only at [[compactIndex]]), never a rewrite of the
    * vocab-sized table; only the one-row stats re-merge reads prior
    * state. Tombstones ([[deleteDocs]]) are CARRIED FORWARD — an
    * append must never resurrect deleted docs' postings against
    * already-decremented aggregates — and the increment must be
    * DISJOINT from them (enforced loudly,
    * [[IndexCommit.requireDisjointFromTombstones]]): re-ingesting a
    * deleted id requires a [[compactIndex]] first to physically drop
    * its pre-delete rows, or the unmasked old and new rows would both
    * score. The one-increment [[applyDeltas]] cycle. */
  def appendIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  docs: DataFrame, idCol: String, textCol: String,
                  retainGens: Int = 1): Unit =
    applyDeltas(spark, dir, Seq(docs), idCol, textCol, None, retainGens)

  /** DELETE documents from a persisted index — the
    * takedown/opt-out/right-to-be-forgotten primitive a corpus index
    * needs (appends grow an index; governance shrinks it). EXACT, not
    * best-effort: the deleted docs' per-term df decrements and their
    * (n_docs, Σdl) stats contributions are recovered from the
    * postings themselves (postings ⋈ ids, one row group of work per
    * matching term file), so after the commit the aggregates are
    * precisely those of an index BUILT WITHOUT the docs, and the
    * postings rows are masked by a `tombstones` table the serve path
    * anti-joins — served results are bit-identical to a from-scratch
    * build on the surviving corpus (the entry's oracle IS that
    * replay). [[compactIndex]] later materializes the mask (rewrites
    * postings minus tombstones, drops the table), reclaiming the
    * bytes. Idempotent: already-tombstoned ids are excluded before
    * the decrements, so a retried delete can't double-subtract. All
    * four staged tables land in one manifest flip — the delete-only
    * [[applyDeltas]] cycle. */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession, dir: String,
                 ids: DataFrame, retainGens: Int = 1): Unit =
    // no increments, so the id/text column names are never read
    applyDeltas(spark, dir, Nil, "doc_id", "text", Some(ids), retainGens)

  /** COMPACT the postings table back to ONE term-sorted segment — the
    * maintenance job nightly [[appendIndex]] runs accumulate toward:
    * each append adds a postings segment, and a serve-time term filter
    * must open every segment's row groups (N small files after N
    * nights — the same small-files decay
    * [[VectorSearch.compactIndexTable]] fixes for the cell-partitioned
    * families, here with the term-sort restored so row-group pruning
    * bites again) — and the df DELTA segments the appends/deletes
    * accumulated fold back to ONE materialized per-term table. Pure
    * reorganization committed by one manifest flip (live segments are
    * only read; inputs are GC'd after): rows are identical, so serving
    * shares the uncompacted oracle. `retainGens` keeps superseded
    * generations readable ([[IndexCommit.manifestAt]]) through the
    * compaction, matching the append/delete paths. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   dir: String, retainGens: Int = 1): Unit =
    IndexCommit.compact(spark, dir, "compactIndex", retainGens) { prev =>
      val postings = IndexCommit.readTableOf(spark, dir, prev, "postings")
      val dfRaw = IndexCommit.readTableOf(spark, dir, prev, "df")
      // materialize pending deletes: the rewrite drops tombstoned rows
      // (the compaction drops the tombstones table itself)
      Seq("postings" -> termSorted(
          IndexCommit.maskTombstonesOf(spark, dir, prev, postings, "doc_id"),
          IndexCommit.writeWidth(postings)),
        "df" -> termSorted(foldDf(dfRaw), IndexCommit.writeWidth(dfRaw)))
    }

  /** MERGE shard indexes into one — the SHARD-PARALLEL build shape a
    * 100 TB corpus needs: no single job builds the whole index; K
    * independent [[writeIndex]] jobs each index a corpus slice (their
    * own clusters, their own failure domains), and this merge folds
    * the shards into one serving index. The BM25 aggregates make the
    * merge EXACT under the disjoint-doc-ids shard contract: per-term
    * df adds across shards (each term's df counts disjoint doc sets),
    * (n_docs, Σdl) adds, and postings union — so the merged index is
    * BIT-IDENTICAL to a single full build and serves against
    * [[topK]]'s oracle outright. Pending deletes in a shard are
    * MATERIALIZED on the way through (postings anti-joined per shard;
    * each shard's df deltas already carry the exact decrements), so
    * the merged index starts tombstone-free. One [[IndexCommit]]
    * manifest flip on the destination; sources are read-only. */
  def mergeIndexes(spark: org.apache.spark.sql.SparkSession,
                   dest: String, sources: Seq[String],
                   retainGens: Int = 1): Unit = {
    require(sources.nonEmpty, "mergeIndexes: no source shards")
    val shards = sources.map(src =>
      src -> IndexCommit.manifestFor(spark, src, None, "mergeIndexes"))
    val postings = shards.map { case (src, m) =>
      IndexCommit.maskTombstonesOf(spark, src, m,
        IndexCommit.readTableOf(spark, src, m, "postings"), "doc_id")
    }.reduce(_ unionByName _)
    // shard df segments (base + any append/delete deltas) fold across
    // shards exactly like within one: sum per term
    val dfAll = shards.map { case (src, m) =>
      IndexCommit.readTableOf(spark, src, m, "df") }.reduce(_ unionByName _)
    val stats = shards.map { case (src, m) =>
        IndexCommit.readTableOf(spark, src, m, "stats") }
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_dl")).as("sum_dl"))
    IndexCommit.build(spark, dest, retainGens)(
      "postings" -> termSorted(postings, IndexCommit.writeWidth(postings)),
      "df" -> termSorted(foldDf(dfAll), IndexCommit.writeWidth(dfAll)),
      "stats" -> IndexCommit.oneFile(stats))
  }

  /** Serve BM25 top-k from a persisted inverted index (see
    * [[writeIndex]]): the postings scan carries the query-term filter
    * (pushed to parquet — only matching row groups are read), df is
    * filtered the same and broadcast, stats is the one-row scalar
    * attach. No corpus scan, no driver-side collection beyond the
    * fixed query list. */
  /** INDEX HEALTH card — the maintenance advisor that closes the
    * append/delete loop the way [[VectorSearch.ivfRetrainCard]] closes
    * the drift loop: reads the index AS IT IS ON DISK and reports, per
    * manifest table, the segment count (how many files a serve-time
    * term filter must open — the read amplification nightly
    * [[appendIndex]]/[[deleteDocs]] deltas accumulate) and the raw row
    * count (what a compaction would read, un-folded), plus the
    * tombstone-debt scalars: `masked_docs` (tombstoned ids whose
    * postings rows are still physically present) and `live_docs` (the
    * exactly-maintained stats count). `compact_recommended` flips when
    * segment debt exceeds `maxSegments` or the masked fraction exceeds
    * `maxMaskedFrac` — the signal an operator (or scheduler) acts on
    * with [[compactIndex]], after which the card re-run reports one
    * segment per table and zero masks (the spec pins card → action →
    * verified recovery). Segment counts come from the manifest
    * (driver-side metadata); row counts are distributed aggregates;
    * the debt scalars attach via the constant-key scalar join, so the
    * card is one lazy plan — no corpus-sized collects. */
  def healthCard(spark: org.apache.spark.sql.SparkSession, dir: String,
                 maxSegments: Int = 8,
                 maxMaskedFrac: Double = 0.1): DataFrame = {
    val m = IndexCommit.currentManifest(spark, dir).getOrElse(sys.error(
      s"healthCard: no committed index at $dir"))
    val maxSeg = m.tables.values.map(_.size).max
    val masked =
      if (m.tables.contains("tombstones"))
        IndexCommit.readTableOf(spark, dir, m, "tombstones")
          .agg(count(lit(1)).cast("long").as("masked_docs"))
      else
        // range(1)'s id IS the zero — a lit(0L) column would be
        // foldable and collapse withScalars' constant-key join back
        // into the nested-loop cross join it exists to avoid
        spark.range(1).select(col("id").as("masked_docs"))
    val live = IndexCommit.readTableOf(spark, dir, m, "stats")
      .select(col("n_docs").cast("long").as("live_docs"))
    val perTable = IndexCommit.segmentDebt(spark, dir, m)
    PlanHints.withScalars(PlanHints.withScalars(perTable, masked), live)
      .withColumn("compact_recommended",
        lit(maxSeg > maxSegments) ||
          // guarded denominator: an EMPTY index (0 masked, 0 live)
          // must report a quiet card, not the NaN that 0/0 yields —
          // Spark orders NaN above every double, so NaN > frac would
          // recommend compacting an index with nothing to compact
          (when(col("masked_docs") + col("live_docs") > 0,
            col("masked_docs").cast("double")
              / (col("masked_docs") + col("live_docs")))
            .otherwise(lit(0.0))
            > lit(maxMaskedFrac)))
      .select(col("tbl"), col("segments"), col("n_rows"),
        col("masked_docs"), col("live_docs"), col("compact_recommended"))
  }

  /** SNAPSHOT DIFF — the audit/compliance view of the index
    * lifecycle: which documents became servable and which stopped
    * being servable between two retained generations. A document is
    * PRESENT at gen g iff it has postings rows under g's manifest
    * (every indexed doc owns at least one — the null-text sentinel,
    * [[corpusBase]]) and is not tombstoned there. The diff is two
    * anti-joins over the pinned tables — distributed, no collects —
    * and because generations are immutable it answers the governance
    * question ("what changed between yesterday's index and today's?")
    * bit-deterministically for as long as retention keeps both
    * manifests. Output: (status 'added'|'removed', doc_id). */
  def diffIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                genA: Long, genB: Long): DataFrame = {
    def presentAt(gen: Long): DataFrame = {
      val m = IndexCommit.manifestAt(spark, dir, gen)
      val docs = IndexCommit.readTableOf(spark, dir, m, "postings")
        .select(col("doc_id")).distinct()
      val present = IndexCommit.maskTombstonesOf(spark, dir, m, docs, "doc_id")
      // each generation's present-set anchors BOTH anti-joins below —
      // pin it so each gen's postings union is scanned once, not twice
      present.localCheckpoint(eager = true)
    }
    val a = presentAt(genA)
    val b = presentAt(genB)
    b.join(a, Seq("doc_id"), "left_anti")
      .select(lit("added").as("status"), col("doc_id"))
      .unionByName(
        a.join(b, Seq("doc_id"), "left_anti")
          .select(lit("removed").as("status"), col("doc_id")))
  }

  /** FSCK — re-derive every maintained aggregate from the postings
    * ground truth and compare: the delta algebra (df deltas, exact
    * stats decrements, tombstone masks) claims the index is
    * bit-identical to a from-scratch build on the surviving corpus,
    * and this card CHECKS that claim against the physical files
    * instead of asserting it. One row per invariant:
    *
    *  - `stats_n_docs` / `stats_sum_dl`: the maintained one-row stats
    *    vs a recount over live (tombstone-masked) postings;
    *  - `df_terms`: folded df vocabulary size vs the live postings'
    *    distinct-term count;
    *  - `df_mismatch_terms`: number of terms whose folded df differs
    *    from a live recount (expected 0 — the invariant itself);
    *  - `tombstones_orphaned`: tombstoned ids with no physical
    *    postings rows anywhere under the manifest (expected 0: a
    *    tombstone always masks something until compaction drops it).
    *
    * All distributed aggregates composed via the constant-key scalar
    * join ([[PlanHints.withScalars]]) — one lazy plan, no collects.
    * Run it after any maintenance window; a FALSE row is corruption
    * (or a bug in a delta path) caught before it serves. */
  def fsck(spark: org.apache.spark.sql.SparkSession,
           dir: String, atGen: Option[Long] = None): DataFrame = {
    val m = IndexCommit.manifestFor(spark, dir, atGen, "fsck")
    def table(t: String) = IndexCommit.readTableOf(spark, dir, m, t)
    // the postings union feeds the stats recount, the df recount AND
    // the orphan check, three aggregate subtrees under the card's one
    // projection — pin it once so the audit reads the multi-segment
    // union from disk ONCE instead of once per subtree
    val postings = table("postings").localCheckpoint(eager = true)
    val live =
      if (m.tables.contains("tombstones"))
        postings.join(table("tombstones"), Seq("doc_id"), "left_anti")
      else postings
    val perDoc = live.groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"))
    val docAgg = perDoc.agg(
      count(lit(1)).cast("long").as("exp_n_docs"),
      sum(col("dl")).cast("long").as("exp_sum_dl"))
    val stats = table("stats").select(
      col("n_docs").cast("long").as("act_n_docs"),
      col("sum_dl").cast("long").as("act_sum_dl"))
    val recountDf = live.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df_re"))
    val folded = foldDf(table("df"))
    val dfCmp = folded.join(recountDf, Seq("term"), "full_outer")
      .agg(
        count(when(col("df_re").isNotNull, 1)).cast("long")
          .as("exp_terms"),
        count(when(col("df").isNotNull, 1)).cast("long")
          .as("act_terms"),
        count(when(coalesce(col("df"), lit(-1L)) =!=
          coalesce(col("df_re"), lit(-1L)), 1)).cast("long")
          .as("mismatch_terms"))
    val orphans =
      if (m.tables.contains("tombstones"))
        table("tombstones")
          .join(postings.select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).cast("long").as("orphaned"))
      else spark.range(1).select(col("id").cast("long").as("orphaned"))
    val (rotAgg, rotChecks) = IndexCommit.checksumScalars(spark, dir, m)
    val scalars = Seq(docAgg, stats, dfCmp, orphans, rotAgg)
      .foldLeft(spark.range(1).toDF("_one"))(PlanHints.withScalars)
    IndexCommit.checkRows(scalars, Seq(
        ("stats_n_docs", col("exp_n_docs"), col("act_n_docs")),
        ("stats_sum_dl", col("exp_sum_dl"), col("act_sum_dl")),
        ("df_terms", col("exp_terms"), col("act_terms")),
        ("df_mismatch_terms", lit(0L), col("mismatch_terms")),
        ("tombstones_orphaned", lit(0L), col("orphaned"))) ++ rotChecks)
  }

  /** SERVE-COST card — the capacity-planning view of a query
    * workload against the index AS IT IS ON DISK: per query, how many
    * candidate postings rows its term filter admits. Two numbers per
    * qid, both from the df delta segments alone (term-filtered scans
    * of a vocabulary table — never touching the postings):
    *
    *  - `live_candidates`: the FOLDED df (base + append deltas −
    *    delete deltas) summed over the query's distinct terms — the
    *    rows that survive tombstone masking and actually score;
    *  - `physical_candidates`: the positive deltas only — the rows
    *    the scan must READ before masking. The gap between the two
    *    IS the takedown read-amplification compaction reclaims, per
    *    query: the health card says "compact when masked fraction is
    *    high", this card says which workloads pay for not doing it.
    */
  def serveCostCard(spark: org.apache.spark.sql.SparkSession,
                    dir: String,
                    queries: Seq[(String, Seq[String])],
                    atGen: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val m = IndexCommit.manifestFor(spark, dir, atGen, "serveCostCard")
    val terms = queries.flatMap { case (qid, ts) =>
      ts.distinct.map(qid -> _)
    }.toDF("qid", "term")
    val allTerms = queries.flatMap(_._2).distinct
    // the term filter pushes into every df delta segment's scan
    val dfSegs = IndexCommit.readTableOf(spark, dir, m, "df")
      .filter(col("term").isin(allTerms: _*))
    val perTerm = dfSegs.groupBy(col("term")).agg(
      sum(col("df")).as("live"),
      sum(when(col("df") > 0, col("df")).otherwise(lit(0L)))
        .as("physical"))
    terms.join(perTerm, Seq("term"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum(coalesce(col("live"), lit(0L))).cast("long")
          .as("live_candidates"),
        sum(coalesce(col("physical"), lit(0L))).cast("long")
          .as("physical_candidates"))
  }

  def serve(spark: org.apache.spark.sql.SparkSession, dir: String,
            queries: Seq[(String, Seq[String])], k: Int = 10,
            k1: Double = 1.2, b: Double = 0.75,
            atGen: Option[Long] = None): DataFrame = {
    val manifest = IndexCommit.manifestFor(spark, dir, atGen, "serve")
    def table(t: String) = IndexCommit.readTableOf(spark, dir, manifest, t)
    val terms = queries.flatMap(_._2).distinct
    val raw = table("postings")
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    // tombstoned docs ([[deleteDocs]]) are masked here; df/stats were
    // decremented exactly at delete time, so the serve is
    // bit-identical to a from-scratch build on the surviving corpus
    val tf = IndexCommit.maskTombstonesOf(spark, dir, manifest, raw, "doc_id")
    // the term filter pushes into EVERY df delta segment's scan; the
    // fold then nets base + append/delete deltas over only the
    // matching terms
    val dfT = foldDf(table("df")
      .filter(col("term").isin(terms: _*)))
    val stats = table("stats")
    scoreAndRank(tf, dfT, stats, queries, k, k1, b)
  }
}
