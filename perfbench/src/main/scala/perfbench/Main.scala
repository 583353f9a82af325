package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** One timed operation of a pass: a registry entry or a lifecycle call. */
final case class OpRec(kind: String, name: String, secs: Double, ok: Boolean,
                       error: String)

/** One untimed correctness check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload sees of the run: the session, its seed and its
  * directories, and the tracer while a traced pass runs. */
final class Ctx(val spark: SparkSession, val seed: Long, val data: Path, val work: Path,
                val spec: JsonNode) {
  var tracer: Option[Tracer] = None
  def phase[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(name, "phase")(body))
}

trait Workload {
  /** Makes the inputs (and indexes) under `c.work` and warms the session. */
  def setup(c: Ctx): Unit
  /** Untimed checks made before the timed passes. */
  def checkBefore(c: Ctx, expected: Map[String, String]): Seq[Check] = Nil
  /** One pass: every op of the workload once, each through `op`. */
  def pass(c: Ctx, op: (String, String) => (=> Unit) => Unit): Unit
  /** False once the inputs for another whole pass are used up. */
  def hasPass: Boolean = true
  /** Whether one untimed pass must warm the ops before timing (the
    * entry workloads' correctness pass already does). */
  def warmUpPass: Boolean = false
  /** Untimed checks made after the timed passes. */
  def checkAfter(c: Ctx): Seq[Check] = Nil
  /** Workload-specific figures (name, value, unit), made in traced runs. */
  def extras(c: Ctx): Seq[(String, Double, String)] = Nil
  /** The commit layer's state at the end of a traced run. */
  def commitState(c: Ctx): Seq[(String, Double, String)] =
    Seq(("commit.segments_live", 0.0, "count"), ("commit.files_stamped", 0.0, "count"),
      ("commit.index_mb", 0.0, "MB"))
  /** Fingerprints of every entry, for recording expected outputs. */
  def record(c: Ctx): Map[String, String] = Map.empty
  /** Generations committed so far, summed over the workload's indexes. */
  def generation: Long = 0L
}

object Main {
  /** Set-ups per run. The first runs in a cold JVM and is reported only
    * in the run's detail; setup_s is the median of the others. */
  private val SetupRuns = 5

  private final case class Args(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, data: Path, work: Path, out: Path,
                                spec: Path, expected: Path, record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("data")), Paths.get(need("work")),
      Paths.get(need("out")), Paths.get(need("spec")), Paths.get(need("expected")),
      m.get("record").contains("1"))
  }

  /** The session graft.Bench builds: graft.Tuning, the same confs, and
    * `local[SPARK_GRAFT_CPUS]` (default: the host's processor count).
    * A traced session swaps in the counting `file://` filesystem. */
  def session(cpus: Int, traced: Boolean, work: Path): SparkSession = {
    val b = graft.Tuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** graft.Bench's between-entry hygiene: free the blocks earlier work
    * pinned and the plans it cached. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.delete)
  }

  /** Bench's host-health sentinel: a fixed 20M-row range sum, timed
    * after one untimed run so it measures the host, not codegen. */
  def probe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 8).agg(sum(col("id")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the
    * maximum when there are fewer than eleven), and that percentile. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(0.0), 100)
    else (s(s.size - 11), math.floor(100.0 * (s.size - 10) / s.size).toInt)
  }

  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  def workloadOf(name: String): Workload = name match {
    case "catalog_etl" => new Entries(scaled = false)
    case "corpus_kernels" => new Entries(scaled = true)
    case "index_churn" => new IndexChurn
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.ArrayBuffer[(String, Double)]()
    var mark = System.currentTimeMillis()
    phases += "jvm_start" -> (mark - jvmStart) / 1e3
    def phase(name: String): Unit = {
      val now = System.currentTimeMillis()
      phases += name -> (now - mark) / 1e3
      mark = now
    }
    val a = parse(argv)
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(a.spec.toFile)
    require(spec.path("workloads").has(a.workload), s"unknown workload ${a.workload}")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val w = workloadOf(a.workload)
    rmTree(a.work)
    Files.createDirectories(a.work)

    // Set-up is repeated and the median of the warm ones reported, so
    // one slow set-up does not decide setup_s; the last one is kept for
    // the run.
    val setups = mutable.ArrayBuffer[Double]()
    var ctx: Ctx = null
    for (_ <- 1 to SetupRuns) {
      if (ctx != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        rmTree(a.work); Files.createDirectories(a.work)
      }
      val t0 = System.nanoTime()
      val spark = session(cpus, a.trace, a.work)
      ctx = new Ctx(spark, a.seed, a.data, a.work, spec.path("workloads").path(a.workload))
      w.setup(ctx)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    phase("setups")

    if (a.record) {
      val fps = w.record(ctx)
      require(fps.nonEmpty, s"${a.workload} checks invariants, it has no outputs to record")
      val root = (if (Files.exists(a.expected)) mapper.readTree(a.expected.toFile)
                  else mapper.createObjectNode())
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val node = root.putObject(a.workload)
      fps.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(a.expected.toFile, root)
      println(s"recorded ${fps.size} fingerprints for ${a.workload}")
      spark.stop()
      sys.exit(0)
    }

    val expected: Map[String, String] =
      if (!Files.exists(a.expected)) Map.empty
      else mapper.readTree(a.expected.toFile).path(a.workload).fields().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    val checks = mutable.ArrayBuffer[Check]()
    checks ++= w.checkBefore(ctx, expected)
    phase("checks_before")

    val ops = mutable.ArrayBuffer[OpRec]()
    // The heap in use just after the full collections before each op
    // (and after the last): the live set the program keeps between ops.
    // Unlike the resident set, it does not depend on how far the
    // collector grew the heap, and unlike the heap after a young
    // collection, not on where in an op the young collections fell.
    val liveHeap = mutable.ArrayBuffer[Double]()
    def collect(): Unit = {
      hygiene(spark)
      System.gc()
      // The first collection leaves the earlier op's broadcasts and
      // cached blocks unreachable, and Spark's ContextCleaner frees them
      // on its own thread afterwards; measured after one collection, the
      // live set depended on which entry the seed put last (89 to 248 MB
      // on corpus_kernels). The second collection follows that clean-up.
      Thread.sleep(200)
      System.gc()
      liveHeap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    def op(kind: String, name: String)(body: => Unit): Unit = {
      // outside the op's time: hygiene and a collection of the earlier
      // ops' garbage, so an op's time does not depend on which op the
      // seed put before it
      collect()
      val g0 = ctx.tracer.map(_ => w.generation)
      val id = ctx.tracer.map(_.open(s"$kind/$name", "op"))
      val t0 = System.nanoTime()
      val err =
        try { body; "" }
        catch { case e: Throwable =>
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        }
      val secs = (System.nanoTime() - t0) / 1e9
      for (t <- ctx.tracer; i <- id; g <- g0) { t.close(i); t.addGens(i, w.generation - g) }
      ops += OpRec(kind, name, secs, err.isEmpty, err)
    }
    /** One pass; its time is the sum of its ops' times. */
    def runPass(): Double = {
      val first = ops.size
      w.pass(ctx, (k, n) => b => op(k, n)(b))
      ops.drop(first).map(_.secs).sum
    }

    if (w.warmUpPass)
      w.pass(ctx, (k, n) => b =>
        try b catch { case e: Throwable => checks += Check(s"warm-up:$k/$n", ok = false,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}") })

    phase("warm_up")
    val probeBefore = probe(spark)
    val passes = mutable.ArrayBuffer[Double]()
    var tracedPass = 0.0
    var layers = Seq.empty[(String, Double, String)]
    var spans = Seq.empty[Span]
    var untraced = 0
    var opLayers = Map.empty[Int, LayerStats] // traced op index -> its layers
    liveHeap.clear()
    val timed0 = System.nanoTime()
    if (!a.trace) {
      // closed loop, one client: whole passes until the run's seconds
      // are used (always at least one)
      while (passes.isEmpty ||
             ((System.nanoTime() - timed0) / 1e9 < a.seconds && w.hasPass))
        passes += runPass()
    } else {
      // an untraced pass, a traced pass and an untraced pass of the same
      // shape: the traced pass over the one after it is the tracing
      // overhead, and the first untraced pass gives the e2e figures
      passes += runPass()
      untraced = ops.size
      val tracer = new Tracer(spark)
      tracer.start()
      ctx.tracer = Some(tracer)
      tracedPass = tracer.span(a.workload, "workload")(runPass())
      ctx.tracer = None
      tracer.stop()
      val after = ops.size
      val untracedAfter = runPass()
      val perOp = tracer.attribute()
      val opSpans = tracer.spans.filter(_.kind == "op").sortBy(_.startNs)
      val tracedOps = ops.slice(untraced, after)
      val total = new LayerStats
      perOp.values.foreach(total.add)
      total.commitGcS = tracer.spans.filter(_.name == "gc").map(_.secs).sum
      total.commitFsckS = tracer.spans.filter(_.name == "fsck").map(_.secs).sum
      val churnKinds = spec.path("churn_kinds").elements().asScala.map(_.asText).toSeq
      layers = Layers.metrics(total, cpus, tracedOps.size) ++
        Seq(("jvm.heap_peak_mb", tracer.heapPeakMb, "MB")) ++
        w.commitState(ctx) ++
        Seq(("trace.overhead", tracedPass / untracedAfter, "ratio")) ++
        churnKinds.flatMap { k =>
          val s = new LayerStats
          opSpans.zip(tracedOps).foreach { case (sp, o) =>
            if (o.kind == k) perOp.get(sp.id).foreach(s.add)
          }
          Layers.perKind(k, s)
        }
      spans = tracer.spans.toSeq
      opLayers = opSpans.zip(tracedOps).zipWithIndex.flatMap { case ((sp, _), i) =>
        perOp.get(sp.id).map(untraced + i -> _)
      }.toMap
    }
    val timedS = (System.nanoTime() - timed0) / 1e9
    collect() // what the last op left
    phase("timed")
    val probeAfter = probe(spark)
    checks ++= w.checkAfter(ctx)
    phase("checks_after")
    val extras = if (a.trace) w.extras(ctx) else Nil
    val rss = peakRssMb()
    spark.stop()
    phase("extras_and_stop")

    // ---- report ------------------------------------------------------
    val timedOps = if (a.trace) ops.take(untraced) else ops
    val lat = timedOps.map(_.secs).toSeq
    val (tailS, tailPct) = tail(lat)
    val failedOps = ops.count(!_.ok)
    val failedChecks = checks.count(!_.ok)
    val attempted = ops.size + checks.size
    val failed = failedOps + failedChecks
    val e2e = Seq(
      ("setup_s", median(setups.drop(1).toSeq), "s"),
      ("wall_s", median(passes.toSeq), "s"),
      ("op_p50_s", median(lat), "s"),
      ("heap_live_mb", median(liveHeap.toSeq), "MB"))
    val byKind = timedOps.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      (s"$k.p50_s", median(os.map(_.secs).toSeq), os.size)
    }

    def metrics(ms: Seq[(String, Double, String)]): ObjectNode = {
      val o = mapper.createObjectNode()
      ms.foreach { case (n, v, u) => o.putObject(n).put("value", v).put("unit", u) }
      o
    }
    def nums(xs: Iterable[Double]): ArrayNode = {
      val arr = mapper.createArrayNode()
      xs.foreach(x => arr.add(x))
      arr
    }
    val detail = mapper.createObjectNode()
      .put("workload", a.workload).put("seed", a.seed).put("trace", a.trace).put("cpus", cpus)
    detail.set[JsonNode]("metrics", metrics(if (a.trace) layers else e2e))
    detail.set[JsonNode]("end_to_end", metrics(e2e))
    detail.set[JsonNode]("per_layer", metrics(layers))
    detail.set[JsonNode]("extras", metrics(extras ++ Seq(
      ("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio"),
      ("peak_rss_mb", rss, "MB"))))
    // the tail is the highest percentile with ten samples beyond it;
    // a run of ten or fewer ops has none, and reports its maximum
    detail.put("op_tail_s", tailS).put("op_tail_pct", tailPct).put("op_samples", lat.size)
    val perKind = detail.putObject("per_kind_p50")
    byKind.foreach { case (k, v, n) => perKind.putObject(k).put("value", v).put("samples", n) }
    detail.set[JsonNode]("setups_s", nums(setups))
    detail.set[JsonNode]("passes_s", nums(passes))
    detail.set[JsonNode]("heap_live_mb", nums(liveHeap))
    detail.put("traced_pass_s", tracedPass).put("timed_s", timedS)
    val phasesNode = detail.putObject("phases_s")
    phases.foreach { case (n, v) => phasesNode.put(n, v) }
    detail.putObject("probe_s").put("before", probeBefore).put("after", probeAfter)
    val opsNode = detail.putArray("ops")
    ops.zipWithIndex.foreach { case (o, i) =>
      val n = opsNode.addObject().put("kind", o.kind).put("name", o.name).put("s", o.secs)
        .put("ok", o.ok).put("error", o.error)
      opLayers.get(i).foreach(l => n.set[JsonNode]("layers", metrics(Layers.metrics(l, cpus, 1))))
    }
    val checksNode = detail.putArray("checks")
    checks.foreach(c => checksNode.addObject().put("name", c.name).put("ok", c.ok)
      .put("detail", c.detail))
    Files.createDirectories(a.out.getParent)
    Files.writeString(a.out, mapper.writeValueAsString(detail) + "\n")
    if (a.trace) {
      val sp = a.out.resolveSibling(a.out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
      Files.writeString(sp, spans.map(s => mapper.writeValueAsString(mapper.createObjectNode()
        .put("id", s.id).put("parent", s.parent).put("name", s.name).put("kind", s.kind)
        .put("start_ms", s.startMs).put("end_ms", s.endMs).put("s", s.secs)))
        .mkString("", "\n", "\n"))
    }
    val result = mapper.createObjectNode()
      .put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    result.set[JsonNode]("metrics", metrics(if (a.trace) layers else e2e))
    println("PERFBENCH_RESULT " + mapper.writeValueAsString(result))
    System.out.flush()
    // end the JVM even if a library left a non-daemon thread behind
    sys.exit(0)
  }
}
