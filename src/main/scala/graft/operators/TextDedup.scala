package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text deduplication operators for the large-scale pipeline brief:
  * exact (fingerprint groupBy), MinHash+LSH banded near-dup, and
  * SimHash hamming near-dup. Everything is built from codegen'd
  * built-in expressions — no UDFs on the hot path, no all-pairs cross
  * joins (candidates come from band/chunk equality joins).
  */
object TextDedup {

  /** Word n-gram shingles (distinct) from a whitespace-tokenized text
    * column. Short documents (< n tokens) fall back to one whole-text
    * shingle so they still participate.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    if (n == 1) array_distinct(toks) // unigram: skip the window transform
    else array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks))))
  }

  /** Canonical content fingerprint: md5 over the sorted distinct shingle
    * set. Token-order-insensitive — catches shuffled near-copies that
    * raw-text hashing misses.
    */
  def shingleFingerprint(text: Column, n: Int = 3): Column =
    md5(concat_ws("|", array_sort(shingles(text, n))))

  /** Exact dedup by fingerprint: one shuffle (groupBy fingerprint),
    * emits (fingerprint, canonical_id = min id, n_dups) for groups of
    * ≥ 2. At 100 TB this is the cheapest dedup pass and runs first.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame =
    docs.groupBy(shingleFingerprint(col(textCol), n).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= 2)

  /** Exact duplicated-n-gram accounting — the substring-level dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499): for every document, how many
    * of its distinct n-token grams also occur in ANOTHER document.
    * Whole-document dedup misses boilerplate and quoted passages
    * duplicated across otherwise-distinct pages; a high dup_frac
    * flags exactly those. Gram fallback for short docs matches
    * [[Decontaminate.gramHashes]] (one whole-text gram).
    *
    * Scale shape: grams travel as md5 (fixed 32 bytes, never the raw
    * 13-token strings); the per-doc-distinct gram stream is lazily
    * checkpointed because BOTH legs consume it (the corpus would
    * otherwise re-tokenize twice); duplicated grams come from one
    * map-side-combinable count on the gram key; the dup set joins
    * back ON THE SAME KEY — co-partitioned with the groupBy's
    * exchange, so the join reuses it rather than reshuffling — as a
    * SHUFFLE_HASH build side (the duplicated-gram set at 100 TB is
    * itself corpus-scale: never broadcast); the per-doc rollup is the
    * only other shuffle. No window on the gram key (a viral
    * boilerplate gram would serialize through one task).
    *
    * @return one row per document with ≥ 1 gram: (doc_id, n_grams,
    *         n_dup_grams, dup_frac, flagged = dup_frac ≥ 0.5).
    */
  def duplicatedGramStats(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 13): DataFrame = {
    val tg = docs.select(col(idCol).as("doc_id"),
        explode(Decontaminate.gramHashes(col(textCol), n)).as("g"))
      .localCheckpoint(eager = false)
    val dup = tg.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
    tg.join(dup.hint("SHUFFLE_HASH"), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           count(col("n_docs")).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
      .withColumn("flagged", col("dup_frac") >= 0.5)
  }

  /** Signature table (doc_id, sig: array<long>) via explode + grouped
    * min aggregation: each shingle row computes k hashes columnarly
    * (map-side partial min, one shuffle of k·partitions rows) instead
    * of allocating k intermediate arrays per document — measured ~2×
    * faster at sf0.1 and the shape that scales (partial aggregation,
    * no per-row array churn).
    */
  def minhashSignatures(sh: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(xxhash64(col("s"), lit(i))).as(s"h$i"))
    sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH band keys: hash `rows` consecutive signature slots per band.
    * Docs sharing any band key become candidate pairs. With k=64,
    * bands=16, rows=4, a pair at Jaccard s collides with probability
    * 1-(1-s⁴)¹⁶ — ≥ 0.9999999 at s = 0.9 (the planted-dup regime).
    */
  /** Closed-form banding derivation from (threshold, recall floor) —
    * the S-curve inversion of MMDS ch. 3 (Leskovec/Rajaraman/Ullman)
    * instead of a pinned 16×4: a pair at Jaccard s collides with
    * probability p(s) = 1 − (1 − s^r)^b, so among all (r, b = ⌊k/r⌋)
    * splits of the k-slot signature pick the LARGEST r (steepest
    * S-curve → fewest sub-threshold false candidates) whose collision
    * probability AT the threshold still meets the recall floor.
    * The best any split reaches is r = 1's 1 − (1−t)^k, which is ≈ 1
    * for moderate thresholds but FALLS SHORT of high floors at small t
    * (e.g. t = 0.03, k = 64 tops out at 0.857) — such (threshold,
    * floor, k) combinations are rejected with a clear error naming
    * the achievable maximum rather than failing opaquely. Within the
    * viable region the derivation is monotone — lower thresholds force
    * smaller r (wider bands), higher thresholds allow more selective
    * banding.
    *
    * @return (bands, rows) with bands·rows ≤ k, rows maximal subject
    *         to 1 − (1 − threshold^rows)^bands ≥ recallFloor.
    */
  def deriveBanding(threshold: Double, k: Int = 64,
                    recallFloor: Double = 0.95): (Int, Int) = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(recallFloor > 0 && recallFloor < 1,
      s"recallFloor must be in (0,1), got $recallFloor")
    require(k >= 1, s"k must be positive, got $k")
    def recallAt(r: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(threshold, r.toDouble), b.toDouble)
    // only self-consistent splits: the band kernel derives
    // rows = k / bands, so keep r values with k / (k / r) == r
    // (e.g. k=64 r=11 → b=5 but 64/5=12 ≠ 11 — excluded)
    val viable = (1 to k).map(r => (r, k / r))
      .filter { case (r, b) => k / b == r }
      .filter { case (r, b) => recallAt(r, b) >= recallFloor }
    require(viable.nonEmpty,
      f"no banding of a $k-slot signature reaches recall $recallFloor " +
        f"at threshold $threshold: the widest split (rows=1, bands=$k) " +
        f"tops out at 1-(1-t)^k = ${recallAt(1, k)}%.6f — lower the " +
        "recall floor or use a longer signature")
    val (r, b) = viable.maxBy(_._1)
    (b, r)
  }

  def lshBandKeys(sigCol: Column, bands: Int = 16, rows: Int = 4): Column =
    array((0 until bands).map(b =>
      xxhash64((Seq(lit(b)) ++ (0 until rows).map(r =>
        sigCol.getItem(b * rows + r))): _*)): _*)

  /** PPJoin-style length filter over a self-joined candidate frame
    * (aliases `a`/`b`, shingle counts in `n_sh`): J ≥ t implies
    * min(|A|,|B|) ≥ t·max(|A|,|B|), so size-disparate collisions can
    * never verify — drop them before the expensive exact-Jaccard stage.
    * Two integer compares in the join condition; provably no recall
    * loss. Shared by both dedup candidate joins (the inequality is
    * correctness-critical — one copy only). */
  private def sizeBand(threshold: Double): Column =
    least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
      lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh"))

  /** Exact Jaccard of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** The exact-verify stage shared by every candidate scheme (banded
    * self-join, min-shingle blocking, incremental band join): re-join
    * the shingle sets by id onto the candidate pairs, compute exact
    * Jaccard, and keep pairs ≥ threshold with the filter pinned above
    * the joins. Precision-1-by-construction lives HERE — one copy
    * only, like [[sizeBand]].
    *
    * @param cands (aCol, bCol) candidate id pairs
    * @param shA / shB (doc_id, sh) shingle sets resolving aCol / bCol
    */
  private def verifyPairs(cands: DataFrame, shA: DataFrame, shB: DataFrame,
                          aCol: String, bCol: String,
                          threshold: Double): DataFrame =
    cands
      .join(shA.select(col("doc_id").as(aCol), col("sh").as("sh_a")), aCol)
      .join(shB.select(col("doc_id").as(bCol), col("sh").as("sh_b")), bCol)
      .select(col(aCol), col(bCol),
              jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(PlanHints.geqNonPushable(col("jaccard"), threshold))

  /** MinHash-LSH near-duplicate pairs with exact verification:
    *  1. shingle + sign + band each doc (narrow, codegen);
    *  2. explode band keys, self-join on (band, key) — the ONLY
    *     shuffle that grows with collisions, never all-pairs;
    *  3. distinct candidate pairs, re-join shingle sets by id;
    *  4. exact Jaccard filter ≥ threshold (precision 1 by
    *     construction; recall 1-(1-s^rows)^bands).
    * Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * Set `threshold` in the regime the banding guarantees: with the
    * 16×4 default the miss probability is ≈ 2e-4 at s = 0.8 but ~35%
    * at s = 0.5 — a 0.5 threshold only reproduces brute-force ground
    * truth on corpora with no pairs between 0.5 and ~0.85.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.5, n: Int = 3,
                          k: Int = 64, bands: Int = 16): DataFrame = {
    // localCheckpoint: the shingle sets join BOTH sides of the verify
    // stage (doc_a and doc_b) — pin them so the per-doc shingle arrays
    // materialize once instead of twice. Lazy (eager=false) everywhere
    // in this module: materialization rides the first consuming job
    // instead of paying a separate eager pass per checkpoint — measured
    // −23% on dedup_minhash / −16% on dedup_ngram at sf0.1.
    val sh = shingleHashSets(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), n)
      .localCheckpoint(eager = false)
    // localCheckpoint: the kernel output feeds BOTH sides of the
    // self-join — without it the per-shingle hashing subtree runs twice.
    val banded = bandKeysKernel(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), n, k, bands)
      .localCheckpoint(eager = false)
    // Skew-guarded band join (BandJoin.selfPairs): identical pair set
    // to the plain (band, key) self-join, but a degenerate hot bucket
    // is block-decomposed instead of enumerating its m²/2 candidates
    // in one task. sizeBand is symmetric, as the hot path requires.
    val cands = BandJoin.selfPairs(banded, Seq("band", "key"), "doc_id",
        "doc_a", "doc_b", extraCond = Some(sizeBand(threshold)))
      .distinct()
    verifyPairs(cands, sh, sh, "doc_a", "doc_b", threshold)
  }

  /** [[minhashNearDupPairs]] with the banding DERIVED from the
    * threshold and a recall floor via [[deriveBanding]] instead of the
    * fixed 16×4 (which is only guaranteed in the ≥ 0.8 regime): at
    * e.g. threshold 0.6 / floor 0.95 this widens to 21 bands × 3 rows,
    * whose collision probability is ≥ 0.99 at 0.6 and ≈ 1 − 1e-23 at
    * the planted-dup 0.9. Same verify stage, same precision-1 output —
    * only the candidate scheme adapts.
    */
  def minhashNearDupPairsAuto(docs: DataFrame, idCol: String,
                              textCol: String, threshold: Double,
                              recallFloor: Double = 0.95, n: Int = 3,
                              k: Int = 64): DataFrame = {
    val (bands, _) = deriveBanding(threshold, k, recallFloor)
    minhashNearDupPairs(docs, idCol, textCol, threshold, n, k, bands)
  }

  /** Incremental near-dup: every INCREMENT doc with a near-dup in the
    * BASE corpus — the production dedup shape at 100 TB, where the
    * nightly increment is checked against the accumulated corpus
    * WITHOUT ever re-pairing the corpus with itself (the self-join
    * over 100 TB is exactly what an incremental pipeline exists to
    * avoid). Same band-join + exact-verify machinery as
    * [[minhashNearDupPairs]], but the candidate join is increment
    * bands ⋈ base bands, so shuffle volume is O(increment + base band
    * keys) and the base-side band keys are a pure function of the
    * text — persist them once as a table and each nightly run is an
    * increment scan plus one equi-join.
    *
    * Returns directional (inc_id, base_id, jaccard) for all verified
    * pairs at ≥ threshold; a doc present on both sides self-matches
    * at J = 1, which is the correct "already in base" signal.
    */
  def minhashNearDupAgainst(base: DataFrame, increment: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double = 0.5, n: Int = 3,
                            k: Int = 64, bands: Int = 16): DataFrame = {
    def prep(df: DataFrame) = {
      val named = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      (shingleHashSets(named, n).localCheckpoint(eager = false),
       bandKeysKernel(named, n, k, bands).localCheckpoint(eager = false))
    }
    val (shB, bandB) = prep(base)
    val (shI, bandI) = prep(increment)
    val cands = bandI.as("a")
      .join(bandB.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        sizeBand(threshold))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("base_id"))
      .distinct()
    verifyPairs(cands, shI, shB, "inc_id", "base_id", threshold)
  }

  /** Persist the MinHash-LSH DEDUP INDEX — the dedup family joins the
    * [[IndexCommit]] lifecycle the retrieval families already have.
    * At corpus scale near-dup is not a query, it is an ARTIFACT
    * workflow: the accumulated corpus's band keys and shingle sets are
    * computed once, committed as tables, and every nightly increment
    * is a kernel pass over the increment plus one equi-join against
    * the persisted bands ([[nearDupAgainstIndex]] — the served twin of
    * [[minhashNearDupAgainst]], bit-identical because candidates and
    * the exact-Jaccard verify read the same values from parquet that
    * the inline path computes in-flight; integer hashes round-trip
    * exactly). Three tables in one atomic flip: `bands` (doc_id, band,
    * key, n_sh — the candidate join side, hash-clustered by key),
    * `shingles` (doc_id, sh — the exact-verify side), `meta` (the
    * (n, k, bands) geometry appends must match). Appends commit delta
    * segments (increment-sized volume); deletion is the shared
    * tombstone layer ([[IndexCommit.appendTombstones]] via
    * [[deleteFromDedupIndex]]), masked on BOTH the candidate and
    * verify sides at serve. */
  def writeDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                      dir: String, n: Int = 3, k: Int = 64,
                      bands: Int = 16, retainGens: Int = 1): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val named = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    IndexCommit.build(spark, dir, retainGens)(
      "bands" -> dedupWrite(bandKeysKernel(named, n, k, bands), "key",
        IndexCommit.writeWidth(docs)),
      "shingles" -> dedupWrite(shingleHashSets(named, n), "doc_id",
        IndexCommit.writeWidth(docs)),
      "meta" -> IndexCommit.oneFile(Seq((n, k, bands)).toDF("n", "k", "bands")))
  }

  /** The dedup index's row-table write: `rows` hash-clustered on
    * `key` across `width` writers. */
  private def dedupWrite(rows: DataFrame, key: String,
                         width: Int): String => Unit =
    dest => rows.repartition(width, col(key)).write.mode("overwrite")
      .parquet(dest)

  /** The frozen (n, k, bands) geometry manifest `m` carries. */
  private def dedupIndexGeometry(spark: org.apache.spark.sql.SparkSession,
      dir: String, m: IndexCommit.Manifest): (Int, Int, Int) = {
    val meta = IndexCommit.readTableOf(spark, dir, m, "meta").head()
    (meta.getAs[Int]("n"), meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
  }

  /** APPEND an increment to a persisted dedup index: band keys and
    * shingle sets are pure per-document functions of the text under
    * the index's frozen (n, k, bands) geometry, so the appended index
    * is bit-identical to a full rebuild on base ∪ increment — the
    * entry shares the roundtrip oracle outright. Increment-sized
    * delta segments; disjoint-ids and re-ingest contracts enforced
    * like every other family. The one-increment [[dedupApplyDeltas]]
    * cycle. */
  def appendDedupIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, increment: DataFrame, idCol: String,
                       textCol: String, retainGens: Int = 1): Unit =
    dedupApplyDeltas(spark, dir, Seq(increment), idCol, textCol, None,
      retainGens)

  /** ONE-COMMIT append(+takedown) cycle for the dedup index (the
    * sequential [[appendDedupIndex]]+[[deleteFromDedupIndex]] chain
    * under a single manifest flip; see [[IndexCommit.commitDeltas]] —
    * identical rows and per-table segment counts, both delta tables of
    * every increment staged in parallel). */
  def dedupApplyDeltas(spark: org.apache.spark.sql.SparkSession,
                       dir: String, increments: Seq[DataFrame],
                       idCol: String, textCol: String,
                       deleteIds: Option[DataFrame] = None,
                       retainGens: Int = 1): Unit = {
    val named = increments.map(inc => inc.select(col(idCol).as("doc_id"),
      col(textCol).as("text")))
    IndexCommit.commitDeltas(spark, dir, "dedupApplyDeltas", "doc_id",
      named, { prev =>
        val (n, k, bands) = dedupIndexGeometry(spark, dir, prev)
        inc => Seq(
          "bands" -> dedupWrite(bandKeysKernel(inc, n, k, bands), "key",
            IndexCommit.deltaWidth(inc)),
          "shingles" -> dedupWrite(shingleHashSets(inc, n), "doc_id",
            IndexCommit.deltaWidth(inc)))
      },
      deleteIds, retainGens)
  }

  /** Takedown for the dedup index — the shared tombstone layer; the
    * serve path masks deleted docs out of BOTH the candidate and
    * verify sides, so they can neither match nor be matched. */
  def deleteFromDedupIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, ids: DataFrame,
                           retainGens: Int = 1): Unit =
    IndexCommit.appendTombstones(spark, dir, ids, "doc_id", retainGens)

  /** FSCK for the persisted dedup index — the recount-vs-maintained
    * audit ([[Bm25.fsck]]'s discipline) with a FULL derivation
    * recount: band keys are pure functions of the stored shingle sets
    * under the frozen (k, bands) geometry, so the audit re-derives
    * every document's keys from the `shingles` table (the exact
    * [[bandKeysOf]] the build/append kernels use) and compares them
    * against the physical `bands` rows. One row per invariant:
    *
    *  - `band_key_mismatches`: stored key ≠ re-derived key (a drifted
    *    band row would admit/miss candidates silently);
    *  - `n_sh_mismatches`: the bands table's maintained shingle count
    *    vs the stored set's true size (the length prefilter's input);
    *  - `band_count_violations`: docs with ≠ `bands` band rows
    *    (missing or duplicated rows both admit wrong candidates);
    *  - `band_shingle_unmatched`: (doc, band) present on one side of
    *    the bands⋈shingles join only — a torn write;
    *  - `duplicate_shingle_rows`: one shingle set per doc;
    *  - `tombstones_orphaned`: every tombstone masks a physical doc;
    *  - `live_docs`: physical docs − tombstones vs the masked
    *    recount.
    *
    * All distributed (the recount is one kernel pass over shingles);
    * composed into one lazy plan via the constant-key scalar join. */
  def dedupFsck(spark: org.apache.spark.sql.SparkSession, dir: String,
                atGen: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val m = IndexCommit.manifestFor(spark, dir, atGen, "dedupFsck")
    def table(t: String) = IndexCommit.readTableOf(spark, dir, m, t)
    val meta = table("meta").head()
    val (k, bands) =
      (meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
    // both unions feed several invariant aggregates each (own
    // aggregate subtrees) — pin once so the segment union is read from
    // disk once per table, not once per subtree
    val bandsT = table("bands").select(col("doc_id"),
      col("band").cast("int").as("band"), col("key"),
      col("n_sh").cast("int").as("n_sh"))
      .localCheckpoint(eager = true)
    val shT = table("shingles").select(col("doc_id"), col("sh"))
      .localCheckpoint(eager = true)
    val hasTomb = m.tables.contains("tombstones")
    val recomputed = shT.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val (as, bs) = bandSeeds(k)
        it.flatMap { case (d, hs) =>
          val keys = bandKeysOf(hs, k, bands, as, bs)
          (0 until bands).iterator.map(b => (d, b, keys(b), hs.length))
        }
      }
      .toDF("doc_id", "band", "rkey", "rn_sh")
    val cmpAgg = bandsT.join(recomputed, Seq("doc_id", "band"),
        "full_outer")
      .agg(
        coalesce(sum(when(col("key").isNull || col("rkey").isNull, 1L)
          .otherwise(0L)), lit(0L)).cast("long").as("unmatched"),
        coalesce(sum(when(col("key").isNotNull && col("rkey").isNotNull
          && col("key") =!= col("rkey"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("key_mm"),
        coalesce(sum(when(col("n_sh").isNotNull && col("rn_sh").isNotNull
          && col("n_sh") =!= col("rn_sh"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("nsh_mm"))
    val perDocAgg = bandsT.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"))
      .agg(
        coalesce(sum(when(col("nb") =!= bands, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("band_count_bad"),
        count(lit(1)).cast("long").as("phys_docs"))
    val dupShAgg = shT.agg(
      (count(lit(1)) - countDistinct(col("doc_id"))).cast("long")
        .as("dup_sh"))
    // the mask trio in ONE fused job (see
    // [[IndexCommit.tombstoneAuditAgg]] — formerly three scalar jobs)
    val trioAgg = IndexCommit.tombstoneAuditAgg(spark,
      bandsT.select(col("doc_id")),
      if (hasTomb) Some(table("tombstones")) else None, "doc_id")
    val (rotAgg, rotChecks) = IndexCommit.checksumScalars(spark, dir, m)
    val scalars = Seq(cmpAgg, perDocAgg, dupShAgg, trioAgg, rotAgg)
      .foldLeft(spark.range(1).toDF("_one"))(PlanHints.withScalars)
    IndexCommit.checkRows(scalars, Seq(
        ("band_count_violations", lit(0L), col("band_count_bad")),
        ("band_key_mismatches", lit(0L), col("key_mm")),
        ("band_shingle_unmatched", lit(0L), col("unmatched")),
        ("duplicate_shingle_rows", lit(0L), col("dup_sh")),
        ("live_docs", col("phys_docs") - col("masked"), col("live_re")),
        ("n_sh_mismatches", lit(0L), col("nsh_mm")),
        ("tombstones_orphaned", lit(0L), col("orphaned"))) ++ rotChecks)
  }

  /** Serve an increment against the persisted dedup index — the
    * build-once/check-nightly twin of [[minhashNearDupAgainst]]:
    * increment band keys equi-join the persisted `bands` table
    * (length-filtered), candidates verify by exact Jaccard against
    * the persisted `shingles` sets. Bit-identical to the inline
    * operator over the index's live (un-tombstoned) corpus. */
  def nearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String, increment: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double = 0.5): DataFrame = {
    val man = IndexCommit.manifestFor(spark, dir, None, "nearDupAgainstIndex")
    val (n, k, bands) = dedupIndexGeometry(spark, dir, man)
    val named = increment.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    val bandI = bandKeysKernel(named, n, k, bands)
      .localCheckpoint(eager = false)
    val shI = shingleHashSets(named, n).localCheckpoint(eager = false)
    def served(t: String) = IndexCommit.maskTombstonesOf(spark, dir, man,
      IndexCommit.readTableOf(spark, dir, man, t), "doc_id")
    val cands = bandI.as("a")
      .join(served("bands").as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        sizeBand(threshold))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("base_id"))
      .distinct()
    verifyPairs(cands, shI, served("shingles"), "inc_id", "base_id",
      threshold)
  }

  /** N-gram-Jaccard near-dup pairs via MIN-SHINGLE blocking (the
    * third dedup family of the pipeline brief, distinct from banded
    * MinHash): each doc's block keys are its `keys` lexicographically
    * smallest shingle md5s; docs at Jaccard j share at least one of
    * their k smallest shingles with probability ≈ 1−(1−j)^k (documents
    * above 0.5 virtually always), so candidates come from an equi-join
    * on those keys and the exact Jaccard verify keeps precision at 1.
    * Simpler than MinHash (no signatures), same no-all-pairs shape.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5, n: Int = 3,
                        keys: Int = 4): DataFrame = {
    // ONE kernel pass produces both the block keys and the verify
    // shingle sets; the lazy localCheckpoint pins it for its four
    // consumers (two self-join sides, two verify sides). Only the
    // narrow (doc_id, key, n_sh) projection enters the candidate
    // shuffle — the arrays stay out of the join.
    val kerneled = minKeySetsKernel(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), n, keys)
      .localCheckpoint(eager = false)
    val sh = kerneled.select(col("doc_id"), col("sh"))
    val keyed = kerneled.select(col("doc_id"), explode(col("keys")).as("key"),
                                size(col("sh")).as("n_sh"))
    val cands = keyed.as("a")
      .join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id") &&
        sizeBand(threshold))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cands, sh, sh, "doc_a", "doc_b", threshold)
  }

  /** Combined kernel for [[ngramJaccardPairs]]: ONE pass per document
    * produces both its distinct shingle-hash set (the verify side) and
    * its `keys` smallest shingle hashes (the block keys) — previously
    * two kernels, one of which re-derived every shingle as an md5
    * string. The hash family affects RECALL, not precision: keys only
    * feed candidate generation and the exact-Jaccard verify kills every
    * false candidate, but different hash families elect different
    * min-shingles, so the candidate set — and therefore which true
    * near-dup pairs are surfaced — can differ between md5 and FNV
    * min-keys. Both are uniform enough that the EXPECTED recall of
    * min-shingle blocking is the same (the min of a uniformly hashed
    * set is a uniform sample either way); the swap trades a per-shingle
    * md5-string allocation for a primitive FNV step, not an output
    * identity. Unsigned min order — any fixed total order works. */
  private[graft] def minKeySetsKernel(docs: DataFrame, n: Int,
                                      keys: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (docId, text) =>
          val hs = distinctShingleHashes(text, n)
          // flip the sign bit: unsigned order under signed sort
          val flipped = hs.map(_ ^ Long.MinValue).sorted
          val mins = flipped.take(keys).map(_ ^ Long.MinValue)
          (docId, hs, mins)
        }
      }
      .toDF("doc_id", "sh", "keys")
  }

  /** Compiled signature+banding kernel: one string hash per shingle
    * (FNV-1a 64), then k min-hashes via universal hashing
    * (h_i = a_i·h + b_i with odd multipliers — same LSH statistics as
    * k independent hashes at 1/k the hashing cost), banded into
    * (doc_id, band, key) rows. Internal hashes only FEED candidate
    * generation; the exact-Jaccard verify stage downstream determines
    * the output, so the hash family is a private implementation detail
    * (recall for 0.9-similar pairs stays ≥ 1−4e-8 with k=64/16 bands).
    * Measured ~4× faster than the expression form at sf0.1.
    */
  /** Distinct word-n-gram identities of one document as 64-bit FNV-1a
    * hashes, first-occurrence order — the shared shingle-identity pass
    * of every dedup kernel. Tokenization matches Spark's split()/
    * DuckDB string_split exactly: regex split with limit -1 KEEPS
    * trailing empty tokens; null text behaves as empty; documents
    * shorter than n tokens contribute one whole-text shingle (the
    * `shingles` expression fallback). Shingles never materialize as
    * strings — token hashes roll over an n-window. */
  private def distinctShingleHashes(text: String, n: Int): Array[Long] = {
    val toks = (if (text == null) "" else text).split(" ", -1)
    val tokHash = new Array[Long](toks.length)
    var t = 0
    while (t < toks.length) {
      var h = 0xCBF29CE484222325L
      val bytes = toks(t).getBytes("UTF-8")
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL); h *= 0x100000001B3L; i += 1
      }
      tokHash(t) = h
      t += 1
    }
    val nShingles = math.max(toks.length - n + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    out.sizeHint(nShingles)
    val limit = math.min(n, toks.length)
    var s0 = 0
    while (s0 < nShingles) {
      var h = 0xCBF29CE484222325L
      var w = 0
      while (w < limit) {
        h = (h ^ tokHash(s0 + w)) * 0x100000001B3L; w += 1
      }
      if (seen.add(h)) out += h
      s0 += 1
    }
    out.result()
  }

  /** Compiled shingle-SET kernel for the verify stage: one row per doc
    * with its distinct shingle hashes. Replaces the `shingles`
    * expression form there — the HOF + per-shingle string
    * materialization cost ~5× more than this kernel at sf0.1, and the
    * verify joins now shuffle 8-byte elements instead of raw n-gram
    * strings. Jaccard over the hashed sets equals Jaccard over the
    * raw-string sets the SQL oracles compute, except under an in-pair
    * 64-bit collision (P ≈ |A|·|B|/2^64 < 1e-13 per pair) — the same
    * identity approximation the candidate stage already makes for
    * signatures and size bands. */
  private[graft] def shingleHashSets(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)]
      .mapPartitions(it => it.map { case (docId, text) =>
        (docId, distinctShingleHashes(text, n))
      })
      .toDF("doc_id", "sh")
  }

  /** Per-band LSH keys from a document's distinct shingle hashes
    * under the frozen (k, bands) geometry — the single derivation
    * shared by the build/append kernels AND [[dedupFsck]]'s recount
    * (the fsck re-derives keys from the STORED shingle sets, so build
    * and audit cannot silently drift apart). Seed constants are fixed
    * odd multipliers/offsets; keys fold per band via FNV-1a. */
  /** The fixed minhash seed mix for a k-permutation geometry —
    * computed once per partition, never per document. */
  private[graft] def bandSeeds(k: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(k)(i => (0x9E3779B97F4A7C15L * (i + 1)) | 1L),
    Array.tabulate(k)(i => 0xC2B2AE3D27D4EB4FL * (i + 7)))

  private[graft] def bandKeysOf(hs: Array[Long], k: Int, bands: Int,
                                as: Array[Long],
                                bs: Array[Long]): Array[Long] = {
    val rows = k / bands
    val sig = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < hs.length) {
      val h = hs(s)
      var j = 0
      while (j < k) {
        val hj = as(j) * h + bs(j)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      s += 1
    }
    Array.tabulate(bands) { b =>
      var key = 0xCBF29CE484222325L ^ b
      var r = 0
      while (r < rows) {
        key = (key ^ sig(b * rows + r)) * 0x100000001B3L; r += 1
      }
      key
    }
  }

  private def bandKeysKernel(docs: DataFrame, n: Int, k: Int,
                             bands: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)]
      .mapPartitions { it =>
        val (as, bs) = bandSeeds(k)
        it.flatMap { case (docId, text) =>
          val hs = distinctShingleHashes(text, n)
          val keys = bandKeysOf(hs, k, bands, as, bs)
          (0 until bands).iterator.map { b =>
            (docId, b, keys(b), hs.length)
          }
        }
      }
      .toDF("doc_id", "band", "key", "n_sh")
  }

  /** 32-bit SimHash over the shingle set, derived from md5 hex digits
    * (engine-portable: ANY system with md5 computes the identical
    * value — the SQL oracle replicates it digit for digit). Bit b is
    * set when more than half the shingles have a high bit in hex digit
    * b of their md5.
    *
    * Computed in one compiled partition map: the expression form
    * (explode + 32 conditional-sum aggregations) shuffled 650k shingle
    * rows and substring'd each hex digit; the kernel runs MessageDigest
    * MD5 once per shingle and folds bits in primitive loops — same
    * md5, same simhash, ~4× faster at sf0.1.
    */
  def simhash32(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, text) =>
          // Match Spark's split()/DuckDB string_split exactly: regex
          // split with limit -1 KEEPS trailing empty tokens; null text
          // behaves as empty (the expression forms are null-safe too).
          val toks = (if (text == null) "" else text).split(" ", -1)
          val nShingles = math.max(toks.length - n + 1, 1)
          val seen = new java.util.HashSet[String](nShingles * 2)
          val bitSums = new Array[Int](32)
          var s0 = 0
          while (s0 < nShingles) {
            val shingle =
              if (toks.length < n) toks.mkString(" ")
              else {
                val sb = new java.lang.StringBuilder(toks(s0))
                var w = 1
                while (w < n) { sb.append(' ').append(toks(s0 + w)); w += 1 }
                sb.toString
              }
            if (seen.add(shingle)) {
              md.reset()
              val digest = md.digest(shingle.getBytes("UTF-8"))
              // hex digit b = high/low nibble of byte b/2; "high" hex
              // digit (>= '8') == top bit of the nibble set
              var b = 0
              while (b < 32) {
                val byte = digest(b >> 1) & 0xff
                val nibble = if ((b & 1) == 0) byte >> 4 else byte & 0xf
                bitSums(b) += (if (nibble >= 8) 1 else -1)
                b += 1
              }
            }
            s0 += 1
          }
          var simhash = 0L
          var b = 0
          while (b < 32) {
            if (bitSums(b) > 0) simhash |= (1L << b)
            b += 1
          }
          (docId, simhash)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup pairs: chunk the 32 bits into 4 bytes; hamming
    * distance ≤ 3 guarantees (pigeonhole) at least one equal chunk, so
    * chunk-equality candidates + exact hamming verify give EXACT
    * results for maxHamming ≤ 3 — no recall loss, no all-pairs.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, n: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 chunks only guarantee recall for hamming <= 3")
    // localCheckpoint: chunked feeds both sides of the self-join.
    val sh = simhash32(docs, idCol, textCol, n).localCheckpoint(eager = false)
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 8).bitwiseAND(0xff)): _*)))
      .select(col("doc_id"), col("simhash"),
              col("pos").as("chunk"), col("col").as("key"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Transitive near-dup CLUSTERS from a pair frame (doc_a, doc_b):
    * min-label propagation (level-synchronous, the J9 closure shape) —
    * each doc ends up labeled with the smallest doc_id reachable
    * through the near-dup graph, i.e. its cluster's canonical id. Pair
    * dedup alone under-deletes: A≈B and B≈C must collapse {A,B,C} to
    * ONE survivor even when A≉C directly.
    *
    * Scale posture: each iteration is one equi-join + min-aggregation
    * on the EDGE set (tiny relative to the corpus — only near-dup
    * members appear), never on the corpus, plus a POINTER-JUMPING
    * self-join on the label frame (label(label(doc)) — path halving),
    * so convergence is O(log diameter) sweeps instead of O(diameter):
    * a million-node chain converges in ~20 sweeps, and the default
    * `maxIter` is a runaway guard, not a diameter bound. Lineage is
    * pinned per level with lazy localCheckpoint; the loop exits as soon
    * as a sweep changes nothing. Returns (doc_id, canonical_id) for
    * every doc in some pair. THROWS when `maxIter` sweeps don't
    * converge (component diameter > 2^maxIter) — a silent partial
    * answer would split clusters and under-delete.
    */
  def nearDupComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = false)
    // initialization folds the first sweep in: label₀ = min(self, min
    // neighbor) is exactly what sweep 1 would compute from identity
    // labels (pointer jumping adds nothing there — every parent is
    // itself), and the single map-side-combinable aggregate replaces
    // both the node-distinct shuffle and that sweep's three joins
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nbr_min")).as("label"))
      .localCheckpoint(eager = false)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      // pointer jumping: label(label(doc)) — every label value is
      // itself a node id (min over node ids), so the lookup always
      // resolves; taking it into the min halves remaining path length
      val parentMin = labels.as("x")
        .join(labels.as("p"), col("x.label") === col("p.doc_id"))
        .select(col("x.doc_id").as("doc_id"),
                col("p.label").as("parent_label"))
      // carry old_label through the sweep so the convergence probe is a
      // filter on the SAME (checkpoint-cached) frame — no extra join
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .join(parentMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"),
                least(coalesce(col("nbr_label"), col("label")),
                      coalesce(col("parent_label"), col("label"))))
            .as("label"))
        .localCheckpoint(eager = false)
      changed = next.filter(col("label") =!= col("old_label"))
        .limit(1).count() > 0
      labels = next.select(col("doc_id"), col("label"))
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"nearDupComponents did not converge within $maxIter sweeps — raise maxIter")
    labels.select(col("doc_id"), col("label").as("canonical_id"))
  }
}
