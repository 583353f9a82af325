package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-guarded candidate generation for banded self-joins (MinHash
  * bands, hyperplane LSH buckets): produce every within-bucket id
  * pair, exactly as `keyed ⋈ keyed on keyCols` would, but never let a
  * single hot bucket serialize on one task.
  *
  * Why the plain equi-join is a 100 TB hazard: a sort-merge self-join
  * buffers each key group, so ONE degenerate band key with m members
  * (every near-empty doc shares a signature; a constant embedding
  * column hashes to one bucket) enumerates its m²/2 candidates inside
  * a single task — the join INPUT partitions are balanced but the
  * OUTPUT explosion is all on one core, and AQE's skew split cannot
  * divide a single key group. The pair mass itself is irreducible
  * (the verify stage exists to filter it); what must not happen is
  * paying it serially.
  *
  * The guard: bucket occupancy is counted (map-side-combinable agg on
  * the same key), buckets ≤ `cap` take the normal equi-join, and
  * buckets > `cap` are rerouted through a block-matrix decomposition —
  * members hash into nb = ⌈m/cap⌉ sub-blocks (clamped to
  * [[MaxBlocks]]), the (i ≤ j) block-pair cells are enumerated by
  * replicating left rows to cells (b, j ≥ b) and right rows to cells
  * (i ≤ b, b), and the join key becomes (bucket, i, j) — per-cell
  * input ≈ 2·cap rows, the m²/2 output spreads over nb² tasks, total
  * replication ≤ nb per side. Every unordered pair lands in exactly
  * one cell (its members' block ids), so the union of both paths is
  * THE SAME candidate multiset the plain join yields — callers'
  * `.distinct()` + exact-verify stages are untouched and every SQL
  * oracle stays bit-identical whether or not the guard fires.
  *
  * Hot buckets are few by construction (≤ rows/cap), broadcast back
  * against the keyed side (no extra shuffle on the main path), and
  * logged LOUDLY — one warning per hot bucket, emitted where the
  * broadcast relation materializes — so a capture that hit the guard
  * says so in its log rather than silently changing shape.
  * [[hotBuckets]] is the same occupancy scan as a standalone audit;
  * SCALING.md "Retired measurement tools" records the measured
  * occupancy of both LSH bandings.
  */
object BandJoin {

  /** Default occupancy bound: 4096 members ≈ 8.4M pairs per bucket —
    * a few seconds of verify work, the largest block a single task
    * should own. Honest buckets sit orders of magnitude below this
    * (sf1 measured max 31 for 16×4 minhash bands, 107 for 8×8-bit
    * hyperplane tables — see SCALING.md); only degenerate keys reach
    * it. */
  val DefaultCap = 4096

  /** Replication clamp for the hot path: nb ≤ 64 bounds per-row
    * replication while restoring up to 64² = 4096-way parallelism on
    * a pathological bucket — past that, per-cell input grows beyond
    * `cap` again, which is the right failure mode (graceful, loud)
    * for data that is no longer skew but a broken banding. */
  val MaxBlocks = 64

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.BandJoin")

  /** Buckets of `keyed` (one row per (bucket-key, id)) whose occupancy
    * exceeds `cap`: (keyCols*, occupancy). Tiny by construction. */
  def hotBuckets(keyed: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > cap)

  /** All within-bucket unordered id pairs of `keyed`, skew-guarded.
    * Output columns: (outA, outB) with outA < outB — the same pair
    * multiset as
    * {{{ keyed.as("a").join(keyed.as("b"), keys && a.id < b.id && extraCond) }}}
    * (callers keep their own `.distinct()`); `extraCond` must be a
    * SYMMETRIC pair predicate over the `a`/`b` aliases (e.g. the
    * PPJoin length filter), because the hot path fixes side
    * assignment by block, not by id order. */
  def selfPairs(keyed: DataFrame, keyCols: Seq[String], idCol: String,
                outA: String, outB: String,
                extraCond: Option[Column] = None,
                cap: Int = DefaultCap): DataFrame = {
    val keys = keyCols.map(col)
    // One warning per hot bucket, fired when the broadcast relation is
    // built — visibly loud in any run that tripped the guard, free in
    // the (universal) case where no bucket exceeds the cap.
    val warned = udf { (key: String, occ: Long) =>
      log.warn(s"[BandJoin] hot bucket $key occupancy=$occ > cap=$cap — " +
        "rerouting through block-matrix pair generation (results unchanged)")
      occ
    }
    val hot = hotBuckets(keyed, keyCols, cap)
      .withColumn("occupancy",
        warned(concat_ws(",", keys: _*), col("occupancy")))
    val tagged = keyed.join(broadcast(hot), keyCols, "left")
    val cold = tagged.filter(col("occupancy").isNull).drop("occupancy")
    val hotRows = tagged.filter(col("occupancy").isNotNull)

    def joinCond(extraKeys: Seq[String], pairCond: Column): Column =
      (keyCols ++ extraKeys)
        .map(k => col(s"a.$k") === col(s"b.$k"))
        .reduce(_ && _) && pairCond && extraCond.getOrElse(lit(true))

    val coldPairs = cold.as("a")
      .join(cold.as("b"), joinCond(Nil, col(s"a.$idCol") < col(s"b.$idCol")))
      .select(col(s"a.$idCol").as(outA), col(s"b.$idCol").as(outB))

    // Block-matrix reroute: nb sub-blocks, left rows cover cells
    // (blk, j ≥ blk), right rows cover (i ≤ blk, blk). Diagonal cells
    // see both orientations of a pair — least/greatest + the callers'
    // distinct collapse them; off-diagonal cells see each pair once.
    val blocked = hotRows
      .withColumn("nb", least(ceil(col("occupancy") / cap), lit(MaxBlocks)))
      .withColumn("blk", pmod(xxhash64(col(idCol)), col("nb")))
    val lhs = blocked.withColumn("bj",
      explode(sequence(col("blk"), col("nb") - 1))).withColumnRenamed("blk", "bi")
    val rhs = blocked.withColumn("bi",
      explode(sequence(lit(0L), col("blk")))).withColumnRenamed("blk", "bj")
    val hotPairs = lhs.as("a")
      .join(rhs.as("b"),
        joinCond(Seq("bi", "bj"), col(s"a.$idCol") =!= col(s"b.$idCol")))
      .select(
        least(col(s"a.$idCol"), col(s"b.$idCol")).as(outA),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as(outB))

    coldPairs.unionByName(hotPairs)
  }
}
