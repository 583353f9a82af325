package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A failing query reports `-1` (never a fake
  * timing) and its error class/message under `"errors"` so regressions
  * are visible in BENCH_r{N}.json rather than silently "passing".
  */
object Bench {
  /** Warm the session once (scan metadata, codegen caches, JIT) so the
    * alphabetically-first query doesn't absorb startup cost — measured
    * ~4s of warmup otherwise attributed to whichever query runs first.
    * Env sets the nanosAsLong conf events.parquet needs. Warmup
    * failures (missing table) must NOT abort the bench — the affected
    * queries will report their own errors. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try {
      val warmEnv = Env(spark, sfDir)
      Tables.names.foreach(t =>
        try warmEnv.table(t).count()
        catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  /** Evaluate `df` through a NOOP-format write, not count().
    * count() lets the optimizer delete real work — unused-side outer
    * joins (join elimination), final sorts, and every projected column
    * the count doesn't need — so a query could bench "fast" while its
    * actual result was never produced. The noop sink evaluates every
    * output row in full (no IO), which is the honest "produce the
    * result" cost a user would pay. */
  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tuning.session()

    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    warm(spark, sfDir)

    def runOnce(fn: (SparkSession, String) => DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { noopWrite(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Per-query hygiene, OUTSIDE the timed window: across 187
      // queries × 2 passes leaked checkpoint blocks crowd the storage
      // pool and slow later queries' real work.
      Tuning.reset(spark)
      (if (err.isEmpty) sec else -1.0, err)
    }

    // Paced GC, also outside the timed window: the ContextCleaner
    // frees shuffle files, broadcasts, and block-tracker entries only
    // when a GC processes its weak references — a run that seldom
    // collects accumulates driver bookkeeping until scheduling itself
    // slows (measured: 3.4× on the cold pass with a 32g heap that
    // never GCed). One explicit collection every 10 queries keeps the
    // cleaner fed at a bounded, untimed cost.
    var sinceGc = 0
    def pacedGc(): Unit = {
      sinceGc += 1
      if (sinceGc >= 10) { sinceGc = 0; System.gc() }
    }

    // SENTINEL SERIES: a fixed, sf-independent CPU probe (20M-row
    // range sum through the same noop action) interleaved through the
    // registry every 20 queries plus both endpoints of each pass. Its
    // cost is a constant of the host, not of any query — so a degraded
    // bench window (CPU contention, paging, a noisy neighbor) shows up
    // as elevated sentinel timings at the SAME positions where query
    // timings inflated, letting the artifact self-diagnose phantom
    // regressions (the round-11 43 s winnow / 27 s video / 11.8 s
    // trivial filter all reproduced at ~1 s off-window). Sentinels are
    // recorded per pass in BENCH_FULL.json; the compact tail line
    // carries the median/max so the driver's 2000-char capture sees
    // the health signal without the per-position detail.
    val sentinelEvery = 20
    def sentinel(): Double = {
      import org.apache.spark.sql.functions.{col, sum}
      val t0 = System.nanoTime()
      try spark.range(0, 20000000L, 1, 8).agg(sum(col("id")))
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }

    // WARM-UP CONTRACT (documented in SCALING.md "Cold-start split"):
    // pass 1 runs every query once and is RECORDED as cold_queries /
    // cold_total — it pays per-query janino codegen, JIT first-touch,
    // and parquet footer reads, a constant that amortizes away in any
    // real session. Pass 2 re-runs the identical plans and is the
    // reported steady-state number (`queries` / `value`). Both passes
    // use the same noop action; nothing is skipped in either pass, so
    // the cold number stays visible in every artifact rather than
    // being gamed away.
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    def runPass(): (Seq[(String, Double, Option[String])], Seq[(Int, Double)]) = {
      val sents = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
      sents += ((0, sentinel()))
      val res = sorted.zipWithIndex.map { case ((name, fn), i) =>
        val (sec, err) = runOnce(fn); pacedGc()
        if ((i + 1) % sentinelEvery == 0 && i + 1 < sorted.size)
          sents += ((i + 1, sentinel()))
        (name, sec, err)
      }
      sents += ((sorted.size, sentinel()))
      (res, sents.toSeq)
    }
    def sentJson(s: Seq[(Int, Double)]): String =
      s.map { case (i, v) => s"[$i,$v]" }.mkString("[", ",", "]")
    def sentStats(s: Seq[(Int, Double)]): (Double, Double) = {
      val v = s.map(_._2).sorted
      (v(v.size / 2), v.last)
    }
    // WINDOW ADJUDICATION: a query timing is `window_suspect` when the
    // sentinel segment it ran in was itself degraded — the host, not
    // the plan, was slow (round 12: the warm sentinel spiked 0.449 s
    // vs a 0.048 s median at position 200, exactly where a trivial
    // projection "took" 19 s; every flagged query re-ran at sane speed
    // off-window). A sentinel spikes when it exceeds
    // max(3×median, median+0.2 s) — the absolute guard keeps a
    // micro-jitter on a fast host from flagging everything. A query is
    // suspect in a pass iff a NEIGHBORING sentinel (the probes at its
    // segment's two ends) spiked AND its own timing is anomalous vs
    // the other pass (warm > 1.5×cold is physically impossible for an
    // identical plan; cold > 3×warm exceeds any codegen/JIT constant).
    // Flags EXONERATE, they don't excuse: an off-window regression
    // (calm sentinels) stays unflagged and must be owned.
    def spikePositions(sents: Seq[(Int, Double)]): Set[Int] = {
      val med = sents.map(_._2).sorted.apply(sents.size / 2)
      val cut = math.max(3 * med, med + 0.2)
      sents.collect { case (i, v) if v > cut => i }.toSet
    }
    def windowSuspects(pass: Seq[(String, Double, Option[String])],
                       sents: Seq[(Int, Double)],
                       other: Map[String, Double],
                       factor: Double): Seq[String] = {
      val spiked = spikePositions(sents)
      val bounds = sents.map(_._1).sorted
      pass.zipWithIndex.collect {
        case ((name, sec, None), i)
            if {
              val lo = bounds.filter(_ <= i).lastOption.getOrElse(0)
              val hi = bounds.find(_ > i).getOrElse(bounds.last)
              (spiked(lo) || spiked(hi)) && sec >= 0 &&
                other.get(name).exists(o =>
                  o >= 0 && sec > factor * math.max(o, 0.5))
            } => name
      }
    }
    val (cold, coldSents) = runPass()
    // Emit a complete, parseable artifact after pass 1: if the driver
    // kills the process during the warm pass, the stdout tail and the
    // tracked file still carry the full cold capture instead of
    // nothing (the driver reads only the last ~2000 chars).
    locally {
      val coldTotal0 = cold.collect { case (_, v, _) if v >= 0 => v }.sum
      val coldQs0 = cold.map { case (k, v, _) => s""""${esc(k)}":$v""" }
        .mkString("{", ",", "}")
      val coldErrs0 = cold.collect {
        case (k, _, Some(e)) => s""""${esc(k)}":"${esc(e)}""""
      }.mkString("{", ",", "}")
      val nErr0 = cold.count(_._3.isDefined)
      val (sMed0, sMax0) = sentStats(coldSents)
      val coldJson = s"""{"metric":"total","value":$coldTotal0,"unit":"sec","cold_total":$coldTotal0,"pass":"cold-only","queries":$coldQs0,"errors":$coldErrs0,"sentinels":{"cold":${sentJson(coldSents)}},"sf":"${esc(sfDir)}"}"""
      println(s"""{"metric":"total","value":$coldTotal0,"unit":"sec","cold_total":$coldTotal0,"pass":"cold-only","queries":{},"errors":{},"n_queries":${cold.size},"n_errors":$nErr0,"sentinel_med":$sMed0,"sentinel_max":$sMax0,"detail":"BENCH_FULL.json","sf":"${esc(sfDir)}"}""")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"), coldJson + "\n")
      catch { case _: Throwable => () }
    }
    val (results, warmSents) = runPass()
    val qs = results.map { case (k, v, _) => s""""${esc(k)}":$v""" }
      .mkString("{", ",", "}")
    val coldQs = cold.map { case (k, v, _) => s""""${esc(k)}":$v""" }
      .mkString("{", ",", "}")
    // report an error from either pass — a query must survive both
    val errs = (cold ++ results).collect {
      case (k, _, Some(e)) => k -> e
    }.toMap.toSeq.sortBy(_._1)
      .map { case (k, e) => s""""${esc(k)}":"${esc(e)}"""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val coldTotal = cold.collect { case (_, v, _) if v >= 0 => v }.sum
    val coldMap = cold.map { case (k, v, _) => k -> v }.toMap
    val warmMap = results.map { case (k, v, _) => k -> v }.toMap
    // warm vs cold: an identical replayed plan slower than its cold
    // run is host noise; cold vs warm: > 3× is past any codegen cost
    val suspWarm = windowSuspects(results, warmSents, coldMap, 1.5)
    val suspCold = windowSuspects(cold, coldSents, warmMap, 3.0)
    // warm ≫ cold with CALM sentinels is the opposite of a suspect: an
    // identical replayed plan can't honestly triple, but the probes
    // saw nothing — so either a sub-20-query burst slipped between
    // sentinels (a concurrent compile did exactly this: 33.9 s warm on
    // a 2 s query, both neighbors calm) or the query is genuinely
    // nondeterministic. Flagged as warm_anomalies = "investigate me",
    // never as exoneration.
    val warmAnomalies = results.collect {
      case (name, sec, None)
          if sec >= 0 && !suspWarm.contains(name) &&
            coldMap.get(name).exists(c =>
              c >= 0 && sec > 3.0 * math.max(c, 0.5)) => name
    }
    def strArr(xs: Seq[String]): String =
      xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    val suspJson =
      s"""{"cold":${strArr(suspCold)},"warm":${strArr(suspWarm)},"warm_anomalies":${strArr(warmAnomalies)}}"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"queries":$qs,"cold_queries":$coldQs,"errors":$errs,"sentinels":{"cold":${sentJson(coldSents)},"warm":${sentJson(warmSents)}},"window_suspects":$suspJson,"sf":"${esc(sfDir)}"}"""
    println(json)
    // The driver records only the LAST ~2000 chars of stdout — a
    // 285-query line can NEVER fit that window whole, which left every
    // round's driver artifact with parsed=null. Three redundant forms
    // follow so ANY reasonable tail parser reconstructs per-query data:
    // (1) one short {"q":name,"s":warm,"c":cold} line per query (a
    //     line-merging parser sees the alphabetical tail of the
    //     registry even inside a 2000-char window, and a full-stdout
    //     parser sees all of them);
    // (2) the compact headline LAST, now carrying a NON-EMPTY queries
    //     map — the slowest entries first, as many as fit a ~1300-char
    //     budget so the line always survives the tail window whole
    //     (the previous compact line's queries:{} parsed to nothing);
    // (3) BENCH_FULL.json keeps every timing (tracked, committed).
    results.foreach { case (name, sec, _) =>
      val c = coldMap.getOrElse(name, -1.0)
      println(s"""{"q":"${esc(name)}","s":$sec,"c":$c}""")
    }
    val nErr = (cold ++ results).collect { case (k, _, Some(_)) => k }.distinct.size
    val (sMedW, sMaxW) = sentStats(warmSents)
    val nSusp = (suspCold ++ suspWarm).distinct.size
    // top-slowest-first queries map, truncated to the char budget; 3dp
    // is plenty for entries that earn a slot in the headline
    val topBudget = 1300
    val topEntries = results.collect { case (k, v, None) if v >= 0 => (k, v) }
      .sortBy(-_._2)
      .map { case (k, v) => s""""${esc(k)}":${math.rint(v * 1000) / 1000}""" }
    val topKept = scala.collection.mutable.ArrayBuffer[String]()
    var topLen = 0
    topEntries.foreach { e =>
      if (topLen + e.length + 1 <= topBudget) { topKept += e; topLen += e.length + 1 }
    }
    val topQs = topKept.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"queries":$topQs,"queries_omitted":${results.size - topKept.size},"errors":{},"n_queries":${results.size},"n_errors":$nErr,"sentinel_med":$sMedW,"sentinel_max":$sMaxW,"n_window_suspects":$nSusp,"n_warm_anomalies":${warmAnomalies.size},"detail":"BENCH_FULL.json","sf":"${esc(sfDir)}"}""")
    // The driver tail-captures stdout and can clip the single long line
    // past the first ~40 queries — persist the full JSON to files too
    // so every timing survives into the round record (BENCH_FULL.json
    // is tracked, so the end-of-round snapshot commits it; target/ is
    // the scratch copy).
    // independent best-effort writes: a failure of one must not skip
    // the other, and both paths are CWD-relative by the driver contract
    // (the driver launches sbt from the repo root)
    try {
      val out = java.nio.file.Paths.get("target", "bench-full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json + "\n")
    } catch { case _: Throwable => () }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"), json + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
