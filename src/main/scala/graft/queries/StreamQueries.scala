package graft.queries

import graft.{Env, Q}
import graft.streaming.Streams
import graft.streaming.Streams.CoverageAttempt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{concat, lit}

/** T3 as a VERIFIED query: the flatMapGroupsWithState queue drain runs
  * as a real streaming query (file source → state store → memory
  * sink) inside the batch harness, and its FINAL STATE is checked
  * against a DuckDB oracle. The queue contents are constructed
  * order-invariant — each identifier gets either only failures or a
  * single success — so the per-group iterator order (which Structured
  * Streaming does not guarantee) cannot change the outcome, and the
  * state machine's result is deterministic and SQL-expressible.
  *
  * The attempt queue is STAGED to scratch parquet by a distributed
  * write and streamed back as a FILE source (the t5/t6 pattern) — the
  * queue never rides the driver, so a corpus-sized backlog survives
  * 100× (the prior MemoryStream harness collected the whole customer
  * table; a production drain points the same readStream at Kafka/the
  * landing directory with identical downstream code). Update-mode
  * emission appends one state row per (identifier, micro-batch) that
  * touched it, so the verified projection folds to the FINAL state
  * per identifier — max attempts wins; attempts is non-decreasing
  * across emissions and tied rows are bit-identical, so the fold is
  * deterministic whatever the file-to-batch split.
  */
object StreamQueries {

  def t3QueueDrain(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, lit, max, max_by, sequence, when}
    val stage = freshScratch("t3_attempts")
    env.customer
      .select($"c_custkey".cast("long").as("id"),
              ($"c_custkey" % 3 === 0).as("allFail"),
              ($"c_custkey" % 5 + 1).cast("int").as("n"))
      .select($"id", $"allFail",
        explode(sequence(lit(1), when($"allFail", $"n").otherwise(1))).as("k"))
      .select($"id".cast("string").as("identifier"),
              lit("resolve").as("operation"),
              (!$"allFail").as("success"))
      .write.mode("overwrite").parquet(stage)
    val attempts = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[CoverageAttempt].schema)
      .parquet(stage)
      .as[CoverageAttempt]
    val sink = "t3_drain_sink"
    spark.catalog.dropTempView(sink): Unit // reruns replace, not accumulate
    withStreamPartitions(spark) {
      val q = Streams.coverageStateMachine(attempts)
        .writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(sink)
      .groupBy($"identifier")
      .agg(max_by($"status", $"attempts").as("status"),
           max($"attempts").as("attempts"))
      .select($"identifier".cast("long").as("identifier"), $"status",
              $"attempts")
      .orderBy($"identifier")
  }

  /** S8+S11 as a VERIFIED round-trip: the consolidated parquet cache
    * and the CSV report sink each write to a scratch location and read
    * back, and the oracle checks the content that survived the
    * round-trip — the sinks stop being write-only test code. The
    * scratch path is per-process (pid suffix) so two concurrent Verify
    * runs on one host cannot overwrite each other's files mid-read;
    * within a process the fixed path + overwrite keeps reruns
    * idempotent. */
  def s8SinkRoundtrip(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val rows = env.customer.select(
      $"c_custkey".cast("long").as("fast_id"),
      concat(lit("Subject "), $"c_custkey" % 97).as("name"))
    val base = StreamQueries.scratchBase
    graft.sources.NTriples.writeConsolidated(rows, s"$base/consolidated")
    graft.sources.Sinks.writeCsvReport(rows, s"$base/report")
    val pq = graft.sources.NTriples.readConsolidated(spark, s"$base/consolidated")
      .select(lit("parquet").as("sink"), $"fast_id".cast("long").as("fast_id"),
              $"name")
    val csv = graft.sources.Sinks.readCsvReport(spark, s"$base/report")
      .select(lit("csv").as("sink"), $"fast_id".cast("long").as("fast_id"),
              $"name")
    pq.unionByName(csv).orderBy($"sink", $"fast_id")
  }

  /** Stateful streaming queries allocate one state-store instance per
    * shuffle partition per stateful operator — at the session's 32
    * partitions that is pure constant overhead for these bounded
    * harness runs (measured: the interval join spent most of its 7 s
    * on store setup/commit). Run `body` under a smaller stateful
    * parallelism and restore the session conf after; result
    * correctness is partitioning-independent. A production deployment
    * sizes `spark.sql.shuffle.partitions` (or the state-store
    * provider) to the stream's actual key cardinality instead.
    */
  private def withStreamPartitions[A](spark: org.apache.spark.sql.SparkSession,
                                      n: Int = 8)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Streaming file-source read of a testdata table. FileStreamSource
    * force-overrides basePath to the PATH ITSELF for non-glob paths,
    * which fails when the path is a single parquet file (basePath must
    * be a directory) — a character-class glob keeps the explicit
    * directory basePath in force and matches both the single-file
    * layout (driver testdata) and a directory (ScaleUp output). */
  private def streamRead(env: Env, name: String)
      : org.apache.spark.sql.DataFrame = {
    val phys = env.spark.read.parquet(s"${env.dir}/$name.parquet").schema
    env.spark.readStream.schema(phys)
      .option("basePath", env.dir)
      .parquet(s"${env.dir}/[${name.head}]${name.tail}.parquet")
  }

  /** Streaming view of the events table with the same physical-type
    * normalization as `Env.events`: `ts` is always long nanoseconds,
    * whichever physical type the driver generated (TIMESTAMP(NANOS) →
    * LongType via the nanosAsLong conf; timestamp[us] → explicit
    * unix_micros conversion under the UTC session the Env loader
    * pins). */
  private def streamEvents(env: Env): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = streamRead(env, "events")
    val phys = raw.schema
    phys("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn(
        "ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }

  /** T4 — [[Streams.intervalJoinStream]] as a VERIFIED query: both
    * legs stream from the events parquet via the FILE SOURCE (no
    * driver collect — unlike t3's bounded MemoryStream harness), the
    * watermarked stream-stream interval join runs as a real streaming
    * query under Trigger.AvailableNow (one batch for one file, so the
    * watermark drops nothing and the result equals the batch join),
    * and the memory-sink output is checked against the plain SQL
    * interval join. Purchases pair with same-user views in the
    * preceding hour; timestamps µs-truncated on both sides (the
    * events_sessionize precedent — DuckDB's nanos scan can't see
    * finer).
    */
  def t4IntervalJoinStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    val l = streamEvents(env).filter($"event_type" === "purchase")
      .select($"user_id".as("key"),
        graft.Tables.eventTs($"ts" - $"ts" % 1000).as("lts"),
        $"event_id".as("l_id"))
    val r = streamEvents(env).filter($"event_type" === "view")
      .select($"user_id".as("key"),
        graft.Tables.eventTs($"ts" - $"ts" % 1000).as("rts"),
        $"event_id".as("r_id"), $"value".as("r_value"))
    val sink = "t4_ij_sink"
    spark.catalog.dropTempView(sink): Unit // reruns replace, not accumulate
    withStreamPartitions(spark) {
      val q = Streams.intervalJoinStream(l, r, horizon = "1 hour")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(sink)
      .select($"key".as("user_id"), $"l_id", unix_micros($"lts").as("lts_us"),
        $"r_id", unix_micros($"rts").as("rts_us"), $"r_value")
      .orderBy($"user_id", $"l_id", $"r_id")
  }

  /** T5 — [[Streams.streamingDedup]] as a VERIFIED query: documents
    * stream from parquet (file source), event-time synthesized
    * deterministically from doc_id, fingerprint = the canonical
    * bag-of-words hash (`dedup_exact`'s key), and
    * dropDuplicatesWithinWatermark keeps one row per fingerprint.
    * WHICH duplicate survives depends on arrival order (Structured
    * Streaming does not order files/rows), so the verified projection
    * is the surviving fingerprint SET — exactly the distinct-key
    * semantics the operator guarantees — not the arbitrary payload.
    */
  def t5DedupStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_micros
    val docs = streamRead(env, "documents")
      .select($"doc_id",
        // base offset keeps doc_id 0 ABOVE the initial watermark (an
        // epoch-0 event time equals it and is discarded as late)
        timestamp_micros(lit(1704067200000000L) + $"doc_id" * 60000000L)
          .as("ts"),
        graft.operators.TextDedup.shingleFingerprint($"text", n = 1)
          .as("fingerprint"))
    val sink = "t5_dedup_sink"
    spark.catalog.dropTempView(sink): Unit // reruns replace, not accumulate
    withStreamPartitions(spark) {
      val q = Streams.streamingDedup(docs, "ts", "fingerprint")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(sink).select($"fingerprint").orderBy($"fingerprint")
  }

  /** T6 — [[Streams.decontaminateEachBatch]] as a VERIFIED query: the
    * bench index (Bloom + exact gram relation) compiles ONCE from the
    * static bench split, the training split streams from parquet, and
    * every micro-batch replays the batch operator's prefilter+verify
    * through foreachBatch into a parquet scratch sink (read back,
    * ordered). Per-doc results are batch-independent (no keyed stream
    * state), so the union over micro-batches equals the batch
    * operator output and the entry SHARES text_decontaminate's
    * oracle verbatim.
    */
  /** T7 — [[Streams.sessionizeStream]] as a VERIFIED query: gap-based
    * session aggregation with `session_window`, streamed from the
    * events parquet, Trigger.AvailableNow, memory sink. Append-mode
    * watermarked aggregation only EMITS a session once the watermark
    * passes its end — with one data batch plus the closing no-data
    * batch, the final watermark is max(ts) − delay, so sessions ending
    * inside the last delay window stay buffered when the query stops.
    * That is real streaming semantics, not an artifact, and the oracle
    * encodes the same horizon (`HAVING session_end ≤ max(ts) − delay`).
    * Split rule is session_window's (a gap of EXACTLY the threshold
    * splits; the batch operator's `>` keeps it — documented in the
    * operator's scaladoc), and the oracle replays `>=`.
    */
  def t7SessionizeStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    val ev = streamEvents(env)
      .select($"user_id",
        graft.Tables.eventTs($"ts" - $"ts" % 1000).as("ts"),
        $"value")
    val sink = "t7_sess_sink"
    spark.catalog.dropTempView(sink): Unit // reruns replace, not accumulate
    withStreamPartitions(spark) {
      val q = Streams.sessionizeStream(ev, "ts", gap = "30 minutes",
          watermark = "10 minutes")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(sink)
      .select($"user_id",
        unix_micros($"session_start").as("session_start_us"),
        unix_micros($"session_end").as("session_end_us"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start_us")
  }

  /** T8 — [[Streams.windowedEventCounts]] as a VERIFIED query: the
    * watermarked tumbling-hour aggregation streamed from the events
    * parquet. Same emission horizon as [[t7SessionizeStream]]: append
    * mode emits a window once the watermark (max ts − delay after the
    * closing no-data batch) passes its end, and the oracle replays
    * that horizon; epoch-aligned tumbling windows replay as integer
    * floor division.
    */
  def t8WindowedCountsStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.unix_micros
    val ev = streamEvents(env)
      .select(graft.Tables.eventTs($"ts" - $"ts" % 1000).as("ts"),
        $"event_type")
    val sink = "t8_wc_sink"
    spark.catalog.dropTempView(sink): Unit // reruns replace, not accumulate
    withStreamPartitions(spark) {
      val q = Streams.windowedEventCounts(ev, "ts")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.table(sink)
      .select(unix_micros($"window_start").as("window_start_us"),
        $"event_type", $"n")
      .orderBy($"window_start_us", $"event_type")
  }

  /** T9 — streaming ANN: query vectors arrive as a stream (file
    * source over the embeddings parquet, every-50th filter) and each
    * micro-batch is answered against the STATIC corpus through the
    * IVF index ([[graft.operators.VectorSearch.ivfTopK]]) inside
    * foreachBatch — the online-serving shape of the index (t6's
    * static-side pattern with the ANN operator as the per-batch
    * kernel). Per-query results are batch-independent, so the
    * streamed union equals the batch query and the entry SHARES
    * ann_ivf_topk's oracle verbatim.
    */
  def t9AnnStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val queries = streamRead(env, "embeddings")
      .filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    // Build the index ONCE as on-disk tables and serve every
    // micro-batch from it (ivfTopK inside the loop would RETRAIN per
    // batch — the anti-pattern index persistence exists to remove);
    // ivfServe is bit-exact vs the inline path, so the shared oracle
    // is unchanged.
    val idxDir = freshScratch("t9_ivf_index")
    graft.operators.VectorSearch.ivfWriteIndex(env.embeddings, idxDir)
    val out = s"$scratchBase/t9_ann_${System.nanoTime()}"
    withStreamPartitions(spark) {
      val q = queries.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.VectorSearch
            .ivfServe(spark, idxDir, batch, k = 5)
            .write.mode("append").parquet(out)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.read.parquet(out).orderBy($"qid", $"rank")
  }

  /** T12 — streaming serving from the persisted IVFPQ index: the
    * composed coarse-cells + residual-codes artifact is built ONCE
    * ([[graft.operators.VectorSearch.ivfPqWriteIndex]]), query vectors
    * stream in micro-batches, and foreachBatch serves each batch from
    * the codes table with exact re-rank — the t9 pattern on the index
    * family a 100 TB deployment actually ships. Per-query results are
    * batch-independent, so the streamed union shares
    * ann_ivfpq_topk's oracle verbatim.
    */
  def t12IvfPqStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val queries = streamRead(env, "embeddings")
      .filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val idxDir = freshScratch("t12_ivfpq_index")
    graft.operators.VectorSearch.ivfPqWriteIndex(env.embeddings, idxDir)
    val out = s"$scratchBase/t12_ivfpq_${System.nanoTime()}"
    withStreamPartitions(spark) {
      val q = queries.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.VectorSearch
            .ivfPqServe(spark, idxDir, env.embeddings, batch, k = 5)
            .write.mode("append").parquet(out)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.read.parquet(out).orderBy($"qid", $"rank")
  }

  /** T10 — streaming MODEL SERVING for the Naive Bayes domain
    * classifier: the model + priors train ONCE against the static
    * corpus (lazy-checkpointed so the training plan runs once, not
    * per micro-batch), documents stream in, and foreachBatch
    * classifies each micro-batch under the frozen model — the
    * t9 serving pattern with a trained model artifact instead of an
    * index. Per-doc results are batch-independent, so the streamed
    * union equals the batch classify and the entry SHARES
    * text_nb_classify's oracle verbatim.
    */
  def t10NbStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val model = graft.operators.NaiveBayes
      .train(env.documents, "source", "text")
      .localCheckpoint(eager = false)
    val prior = graft.operators.NaiveBayes.priors(env.documents, "source")
      .localCheckpoint(eager = false)
    val stream = streamRead(env, "documents")
    val out = s"$scratchBase/t10_nb_${System.nanoTime()}"
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.NaiveBayes
            .classify(batch, "doc_id", "source", "text", model, prior)
            .write.mode("append").parquet(out)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.read.parquet(out).orderBy($"doc_id")
  }

  /** T13 — the TRAINED quality filter serving a document stream: the
    * centroid model trains once in batch over the labeled corpus (the
    * build-once artifact — in production the nightly training job),
    * then every micro-batch is scored through the unchanged
    * [[graft.operators.TextAnalysis.qualityClassifierWith]] inference
    * path (broadcast weight table + bias, integer sums). Per-doc
    * results are batch-independent, so the streamed union replays
    * text_quality_trained's oracle verbatim — the t10 NB pattern on
    * the trained filter, completing the corpus-filter lifecycle:
    * label → train → verify → serve the stream.
    */
  /** STREAMING INGEST into the persisted inverted index — the write
    * side of the t9/t13 build-once pattern: the base index is built in
    * batch, then the increment corpus ARRIVES AS A STREAM and every
    * micro-batch lands as one atomic manifest append
    * ([[graft.operators.Bm25.appendIndex]] — postings segment + exact
    * additive df/stats merge per batch, a crash between batches leaves
    * a consistent index at the last committed generation). The final
    * serve is bit-identical to one full build (disjoint ids, exact
    * merges compose across any batch slicing), so the entry shares
    * text_bm25_topk's oracle — the streamed ingest IS the
    * assertion. */
  def t14Bm25IngestStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val dir = freshScratch("t14_bm25_index")
    graft.operators.Bm25.writeIndex(
      env.documents.filter($"doc_id" % 7 =!= 0), "doc_id", "text", dir)
    val stream = streamRead(env, "documents")
      .filter($"doc_id" % 7 === 0)
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.Bm25.appendIndex(spark, dir, batch,
              "doc_id", "text")
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    graft.operators.Bm25.serve(spark, dir, TextQueries.Bm25Workload,
        k = 10)
      .orderBy($"qid", $"rank")
  }

  /** T15 — STREAMING TAKEDOWN, the governance twin of [[t14Bm25IngestStream]]:
    * the index is built in batch, then deletion requests ARRIVE AS A
    * STREAM and every micro-batch lands as one atomic manifest flip
    * ([[graft.operators.Bm25.deleteDocs]] — exact df/stats decrements
    * as a negative delta segment plus a tombstone delta, so a crash
    * between batches leaves a consistent index with every
    * already-committed takedown applied). Deletes compose across any
    * batch slicing (each batch's decrements are recovered from the
    * postings of ids not yet tombstoned), so the final serve is
    * bit-identical to one batch delete — the entry shares
    * text_bm25_delete's surviving-corpus oracle. */
  def t15TakedownStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val dir = freshScratch("t15_bm25_index")
    graft.operators.Bm25.writeIndex(env.documents, "doc_id", "text", dir)
    val stream = streamRead(env, "documents")
      .filter($"doc_id" % 5 === 2)
      .select($"doc_id")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.Bm25.deleteDocs(spark, dir, batch)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    graft.operators.Bm25.serve(spark, dir, TextQueries.Bm25Workload,
        k = 10)
      .orderBy($"qid", $"rank")
  }

  /** T16 — the same streaming takedown on a VECTOR index: each
    * micro-batch of vec_ids is one atomic tombstone-delta commit
    * ([[graft.operators.VectorSearch.deleteVectors]]); the serve path
    * anti-joins the union of delta segments, so stream-sliced deletes
    * ≡ one batch delete and the entry shares ann_ivf_delete's
    * oracle. */
  def t16AnnTakedownStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val dir = freshScratch("t16_ivf_index")
    graft.operators.VectorSearch.ivfWriteIndex(env.embeddings, dir)
    val stream = streamRead(env, "embeddings")
      .filter($"vec_id" % 5 === 2)
      .select($"vec_id")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.VectorSearch.deleteVectors(spark, dir, batch)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    graft.operators.VectorSearch.ivfServe(spark, dir,
        env.embeddings.filter($"vec_id" % 50 === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qe")), k = 5)
      .orderBy($"qid", $"rank")
  }

  /** T17 — STREAMING INGEST into the persisted VECTOR index, t14's
    * twin: the IVF index is built in batch on the base corpus, the
    * increment ARRIVES AS A STREAM, and every micro-batch lands as one
    * atomic manifest append
    * ([[graft.operators.VectorSearch.ivfAppendIndex]] — frozen-
    * centroid assignment, one new cells segment per batch). Per-vector
    * assignment is batch-independent, so the streamed union equals one
    * full append and the entry shares ann_ivf_append's oracle. */
  def t17AnnIngestStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val dir = freshScratch("t17_ivf_index")
    graft.operators.VectorSearch.ivfWriteIndex(
      env.embeddings.filter($"vec_id" % 7 =!= 0), dir)
    val stream = streamRead(env, "embeddings")
      .filter($"vec_id" % 7 === 0)
      .select($"vec_id", $"embedding")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.VectorSearch.ivfAppendIndex(spark, dir, batch)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    graft.operators.VectorSearch.ivfServe(spark, dir,
        env.embeddings.filter($"vec_id" % 50 === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qe")), k = 5)
      .orderBy($"qid", $"rank")
  }

  /** T18 — streaming takedown at the COLLECTION level, composing t15
    * and t16's per-index discipline with the cross-index consistency
    * layer: takedown requests arrive as ONE stream of ids applying to
    * BOTH hybrid-retrieval legs (the testdata contract: embeddings
    * vec_ids ≡ documents doc_ids), and every micro-batch lands as ONE
    * [[graft.operators.CollectionCommit]] flip containing both member
    * deletes — at no reader-observable instant is a doc gone from one
    * leg and alive in the other, however the stream slices the set.
    * Exact decrements and tombstone deltas compose across any batch
    * slicing, so the final hybrid serve (both legs pinned to the last
    * collection snapshot) shares the batch takedown entry's
    * surviving-corpus ranking. */
  def t18CollectionTakedownStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import graft.operators.{Bm25, CollectionCommit, IndexCommit, VectorSearch}
    val colDir = freshScratch("t18_collection")
    val colPath = new org.apache.hadoop.fs.Path(colDir)
    val fs = colPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(colPath)) fs.delete(colPath, true): Unit
    val bmDir = CollectionCommit.memberDir(colDir, "bm25")
    val ivfDir = CollectionCommit.memberDir(colDir, "ivf")
    def memberGen(dir: String): Long =
      IndexCommit.currentManifest(spark, dir).get.gen
    CollectionCommit.commit(spark, colDir) { (_, _) =>
      // independent member builds — overlap them (guide §2.6)
      graft.operators.Par.both(
        Bm25.writeIndex(env.documents, "doc_id", "text", bmDir),
        VectorSearch.ivfWriteIndex(env.embeddings, ivfDir))
      Map("bm25" -> memberGen(bmDir), "ivf" -> memberGen(ivfDir))
    }
    val stream = streamRead(env, "documents")
      .filter($"doc_id" % 17 === 3)
      .select($"doc_id")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val ids = batch.persist()
            try CollectionCommit.commit(spark, colDir) { (_, _) =>
              graft.operators.Par.both(
                Bm25.deleteDocs(spark, bmDir, ids,
                  retainGens = Int.MaxValue),
                VectorSearch.deleteVectors(spark, ivfDir,
                  ids.select($"doc_id".as("vec_id")),
                  retainGens = Int.MaxValue))
              Map("bm25" -> memberGen(bmDir), "ivf" -> memberGen(ivfDir))
            } finally { ids.unpersist(); () }
          }
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    CollectionCommit.gc(spark, colDir, keepGens = 1)
    val m = CollectionCommit.currentManifest(spark, colDir).get
    val terms: Seq[(String, Seq[String])] = env.documents
      .filter($"doc_id" % 100 === 0 && $"doc_id" < 5000)
      .select($"doc_id",
        org.apache.spark.sql.functions.slice(
          org.apache.spark.sql.functions.split($"text", " "), 1, 6).as("t6"))
      .collect()
      .map(r => (r.getLong(0).toString, r.getSeq[String](1).distinct))
      .toSeq
    val text = Bm25
      .serve(spark, bmDir, terms, k = 10, atGen = Some(m.members("bm25")))
      .select($"qid".cast("long").as("qid"), $"doc_id", $"rank".as("trank"))
      .filter($"doc_id" =!= $"qid")
    val ivfGen = m.members("ivf")
    val nCells = IndexCommit
      .readTableAt(spark, ivfDir, "centroids", ivfGen).count().toInt
    val vec = VectorSearch
      .ivfServe(spark, ivfDir,
        env.embeddings.filter($"vec_id" % 100 === 0 && $"vec_id" < 5000)
          .select($"vec_id".as("qid"), $"embedding".as("qe")),
        k = 10, nProbe = nCells, atGen = Some(ivfGen))
      .select($"qid", $"vec_id".as("doc_id"), $"rank".as("vrank"))
    TextQueries.fuseRrf(text, vec).orderBy($"qid", $"rank")
  }

  /** T19 — STREAMING INGEST into the persisted IVFPQ index, t17's
    * shape for the two-stage-quantized family: the coarse centroids
    * AND residual codebooks are trained in batch on the base corpus
    * (every vec_id % 7 ≠ 0) and FROZEN; the increment arrives as a
    * stream, and every micro-batch lands as one atomic code-segment
    * append ([[graft.operators.VectorSearch.ivfPqAppendIndex]] —
    * per-row residual encoding against both frozen artifacts). The
    * encoding is batch-independent, so the streamed union equals one
    * full append and the entry shares ann_ivfpq_append's oracle. */
  def t19IvfPqIngestStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val dir = freshScratch("t19_ivfpq_index")
    graft.operators.VectorSearch.ivfPqWriteIndex(
      env.embeddings.filter($"vec_id" % 7 =!= 0), dir)
    val stream = streamRead(env, "embeddings")
      .filter($"vec_id" % 7 === 0)
      .select($"vec_id", $"label", $"embedding")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.VectorSearch.ivfPqAppendIndex(spark, dir, batch)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    graft.operators.VectorSearch.ivfPqServe(spark, dir, env.embeddings,
        env.embeddings.filter($"vec_id" % 50 === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qe")), k = 5)
      .orderBy($"qid", $"rank")
  }

  /** T20 — streaming ingest for the MATRYOSHKA family: the persisted
    * prefix geometry is fixed at build time, each micro-batch appends
    * a stateless prefix-copy segment
    * ([[graft.operators.VectorSearch.mrlAppendIndex]]), and the
    * two-stage serve reads the segment union. Prefix truncation is
    * per-row, so ANY batch slicing equals the one-shot append — the
    * entry shares ann_mrl_append's (= ann_mrl_rerank's) oracle. */
  def t20MrlIngestStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val dir = freshScratch("t20_mrl_index")
    graft.operators.VectorSearch.mrlWriteIndex(
      env.embeddings.filter($"vec_id" % 7 =!= 0), dir)
    val stream = streamRead(env, "embeddings")
      .filter($"vec_id" % 7 === 0)
      .select($"vec_id", $"embedding")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.VectorSearch.mrlAppendIndex(spark, dir, batch)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    graft.operators.VectorSearch.mrlServe(spark, dir, env.embeddings,
        env.embeddings.filter($"vec_id" % 50 === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qe")), k = 5)
      .orderBy($"qid", $"rank")
  }

  /** T21 — streaming ingest at the COLLECTION level, t18's twin on
    * the write side: new documents arrive as ONE stream and every
    * micro-batch appends to BOTH hybrid legs — the keyword index
    * ([[graft.operators.Bm25.appendIndex]]) and the vector index
    * ([[graft.operators.VectorSearch.ivfAppendIndex]], the batch's
    * embeddings resolved by a left-semi join against the embeddings
    * table under the ids≡ids testdata contract) — inside ONE
    * [[graft.operators.CollectionCommit]] flip. A reader at ANY
    * pinned collection generation therefore never sees one leg's
    * batch without the other's, however the stream slices the
    * increment. Both member appends are exact and batch-independent
    * (additive df/stats merges; frozen-centroid assignment), so each
    * leg's final serve is bit-identical to its one-shot batch append —
    * the entry literally shares t14's and t17's oracles, unioned
    * under a member column, served at the LAST collection snapshot's
    * pins. */
  def t21CollectionIngestStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import graft.operators.{Bm25, CollectionCommit, IndexCommit, VectorSearch}
    import org.apache.spark.sql.functions.lit
    val colDir = freshScratch("t21_collection")
    val colPath = new org.apache.hadoop.fs.Path(colDir)
    val fs = colPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(colPath)) fs.delete(colPath, true): Unit
    val bmDir = CollectionCommit.memberDir(colDir, "bm25")
    val ivfDir = CollectionCommit.memberDir(colDir, "ivf")
    def memberGen(dir: String): Long =
      IndexCommit.currentManifest(spark, dir).get.gen
    CollectionCommit.commit(spark, colDir) { (_, _) =>
      graft.operators.Par.both(
        Bm25.writeIndex(env.documents.filter($"doc_id" % 7 =!= 0),
          "doc_id", "text", bmDir),
        VectorSearch.ivfWriteIndex(
          env.embeddings.filter($"vec_id" % 7 =!= 0), ivfDir))
      Map("bm25" -> memberGen(bmDir), "ivf" -> memberGen(ivfDir))
    }
    val stream = streamRead(env, "documents")
      .filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"text")
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val docs = batch.persist()
            try CollectionCommit.commit(spark, colDir) { (_, _) =>
              graft.operators.Par.both(
                Bm25.appendIndex(spark, bmDir, docs, "doc_id", "text",
                  retainGens = Int.MaxValue),
                VectorSearch.ivfAppendIndex(spark, ivfDir,
                  env.embeddings
                    .join(docs.select($"doc_id".as("vec_id")),
                      Seq("vec_id"), "left_semi")
                    .select($"vec_id", $"embedding"),
                  retainGens = Int.MaxValue))
              Map("bm25" -> memberGen(bmDir), "ivf" -> memberGen(ivfDir))
            } finally { docs.unpersist(); () }
          }
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    CollectionCommit.gc(spark, colDir, keepGens = 1)
    val m = CollectionCommit.currentManifest(spark, colDir).get
    val bm = Bm25.serve(spark, bmDir, TextQueries.Bm25Workload, k = 10,
        atGen = Some(m.members("bm25")))
      .select(lit("bm25").as("member"), $"qid", $"rank",
        $"doc_id".as("id"), $"score")
    val ivf = VectorSearch.ivfServe(spark, ivfDir,
        env.embeddings.filter($"vec_id" % 50 === 0)
          .select($"vec_id".as("qid"), $"embedding".as("qe")),
        k = 5, atGen = Some(m.members("ivf")))
      .select(lit("ivf").as("member"), $"qid".cast("string").as("qid"),
        $"rank", $"vec_id".as("id"), $"cos".as("score"))
    bm.unionByName(ivf).orderBy($"member", $"qid", $"rank")
  }

  /** T22 — INGEST WHILE MAINTAINING: the full operational timeline no
    * single entry exercised before. Micro-batch collection ingest
    * (t21's two-leg flips) runs, then the NIGHTLY MAINTENANCE RUN
    * (health-card-driven compaction of both flagged members + one
    * collection flip + GC), then MORE micro-batch ingest — with
    * readers pinned at collection generations taken BEFORE the
    * maintenance (g1), AT the maintenance flip (g2) and at the final
    * state (g3), all three served at the END of the timeline. What
    * the phases prove, each replayed bit-equal by the oracle:
    *
    *  - `g1_before`: the pre-maintenance pins STILL SERVE after the
    *    compaction rewrote both members, more ingest landed, and two
    *    GC passes ran. The first GC trims the streamed delta
    *    generations by COUNT (`keepGens = 2` spans the pinned
    *    snapshot); the final GC keeps only ONE generation by count —
    *    g1/g2 survive it purely through the `graceMs` READER LEASE
    *    (their successor manifests are younger than the lease), so a
    *    long-running reader's snapshot outliving an aggressive trim
    *    is exercised by the entry itself, not just asserted in specs.
    *  - `g2_maint`: the post-maintenance pins serve BIT-EQUAL to g1 —
    *    compaction is pure reorganization, so the same SQL oracles
    *    both phases.
    *  - `g3_after`: base + BOTH streamed increments — appends after a
    *    compaction land beside the folded segments and the serve
    *    algebra composes across the maintenance boundary.
    *
    * The mid-compaction reader consistency (a reader pinned at g1
    * never observes a mixed generation while the maintenance commit
    * is mid-flight) is pinned in CollectionCommitSpec. */
  def t22IngestWhileMaintain(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import graft.operators.{Bm25, CollectionCommit, CollectionMaintenance,
      IndexCommit, VectorSearch}
    import org.apache.spark.sql.functions.lit
    val colDir = freshScratch("t22_collection")
    val colPath = new org.apache.hadoop.fs.Path(colDir)
    val fs = colPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(colPath)) fs.delete(colPath, true): Unit
    val bmDir = CollectionCommit.memberDir(colDir, "bm25")
    val ivfDir = CollectionCommit.memberDir(colDir, "ivf")
    def memberGen(dir: String): Long =
      IndexCommit.currentManifest(spark, dir).get.gen
    CollectionCommit.commit(spark, colDir) { (_, _) =>
      graft.operators.Par.both(
        Bm25.writeIndex(env.documents.filter($"doc_id" % 7 =!= 0),
          "doc_id", "text", bmDir),
        VectorSearch.ivfWriteIndex(
          env.embeddings.filter($"vec_id" % 7 =!= 0), ivfDir))
      Map("bm25" -> memberGen(bmDir), "ivf" -> memberGen(ivfDir))
    }
    // one streamed ingest window: every micro-batch appends to BOTH
    // legs inside one collection flip (t21's shape)
    def ingest(half: Long): Unit = {
      val stream = streamRead(env, "documents")
        .filter($"doc_id" % 7 === 0 && $"doc_id" % 2 === half)
        .select($"doc_id", $"text")
      withStreamPartitions(spark) {
        val q = stream.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              val docs = batch.persist()
              try CollectionCommit.commit(spark, colDir) { (_, _) =>
                graft.operators.Par.both(
                  Bm25.appendIndex(spark, bmDir, docs, "doc_id", "text",
                    retainGens = Int.MaxValue),
                  VectorSearch.ivfAppendIndex(spark, ivfDir,
                    env.embeddings
                      .join(docs.select($"doc_id".as("vec_id")),
                        Seq("vec_id"), "left_semi")
                      .select($"vec_id", $"embedding"),
                    retainGens = Int.MaxValue))
                Map("bm25" -> memberGen(bmDir),
                  "ivf" -> memberGen(ivfDir))
              } finally { docs.unpersist(); () }
            }
        }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
    }
    ingest(0L)
    val gBefore = CollectionCommit.currentManifest(spark, colDir).get.gen
    // the nightly window: both members carry streaming segment debt
    // (> 1 segment), so the cards flag both and the run flips exactly
    // one collection generation; the count-retention GC then trims
    // the streamed delta generations while sparing the pinned g1
    val flagged = CollectionMaintenance.run(spark, colDir,
      Map("bm25" -> CollectionMaintenance.KeywordFamily,
        "ivf" -> CollectionMaintenance.VectorFamily("cells", "cell")),
      maxSegments = 1, maxMaskedFrac = 0.05)
    require(flagged.values.forall(identity),
      s"streamed segment debt must flag both members: $flagged")
    CollectionCommit.gc(spark, colDir, keepGens = 2)
    val gMaint = CollectionCommit.currentManifest(spark, colDir).get.gen
    require(gMaint == gBefore + 1,
      s"maintenance must flip exactly once (g$gBefore -> g$gMaint)")
    ingest(1L)
    val gAfter = CollectionCommit.currentManifest(spark, colDir).get.gen
    // aggressive trim with a reader lease: count-retention keeps ONLY
    // the newest generation; g1/g2 survive solely because their
    // successors are younger than the grace window — the serves below
    // would fail loudly if the lease did not hold
    CollectionCommit.gc(spark, colDir, keepGens = 1,
      graceMs = 3600L * 1000)
    def phaseServe(phase: String, gen: Long): DataFrame = {
      val m = CollectionCommit.manifestAt(spark, colDir, gen)
      val bm = Bm25.serve(spark, bmDir, TextQueries.Bm25Workload, k = 10,
          atGen = Some(m.members("bm25")))
        .select(lit(phase).as("phase"), lit("bm25").as("member"),
          $"qid", $"rank", $"doc_id".as("id"), $"score")
      val ivf = VectorSearch.ivfServe(spark, ivfDir,
          env.embeddings.filter($"vec_id" % 50 === 0)
            .select($"vec_id".as("qid"), $"embedding".as("qe")),
          k = 5, atGen = Some(m.members("ivf")))
        .select(lit(phase).as("phase"), lit("ivf").as("member"),
          $"qid".cast("string").as("qid"), $"rank",
          $"vec_id".as("id"), $"cos".as("score"))
      bm.unionByName(ivf)
    }
    phaseServe("g1_before", gBefore)
      .unionByName(phaseServe("g2_maint", gMaint))
      .unionByName(phaseServe("g3_after", gAfter))
      .orderBy($"phase", $"member", $"qid", $"rank")
  }

  def t13QualityStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val w = graft.operators.TextAnalysis
      .qualityTrainCentroid(TextQueries.qualityLabeled(env), "doc_id",
        "text", labelCol = "gate_keep")
      .select($"f", $"w".as("w_mu"))
      .localCheckpoint(eager = false) // train once, serve every batch
    val stream = streamRead(env, "documents")
    val out = s"$scratchBase/t13_quality_${System.nanoTime()}"
    withStreamPartitions(spark) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val docs = batch.withColumn("gate_keep",
            graft.operators.TextAnalysis.qualityScore(col("text")) >= 0.65)
          graft.operators.TextAnalysis
            .qualityClassifierWith(docs, "doc_id", "text", w)
            .join(docs.select(col("doc_id").cast("long").as("doc_id"),
              col("gate_keep").as("label")), "doc_id")
            .select(col("doc_id"), col("n_toks"), col("score"), col("keep"),
              col("label"), (col("keep") === col("label")).as("correct"))
            .write.mode("append").parquet(out)
      }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    spark.read.parquet(out).orderBy($"doc_id")
  }

  /** T11 — [[Streams.trendingCounts]] as a VERIFIED query: the
    * streaming leg of events_trending_topk. The watermarked
    * day-window × item count streams from the events parquet
    * (AvailableNow, append mode — only SEALED windows emit, same
    * horizon rule as [[t8WindowedCountsStream]]), then the
    * non-incrementalizable rank applies per sealed window in a batch
    * pass over the sink — exactly the production split the batch
    * entry's scaladoc prescribes. Oracle = the batch trending SQL
    * restricted to day windows the final watermark sealed.
    */
  def t11TrendingStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{expr, get_json_object, row_number}
    val ev = streamEvents(env)
      .select(graft.Tables.eventTs($"ts" - $"ts" % 1000).as("ts"),
        get_json_object($"props", "$.k").cast("long").as("item"))
      .filter($"item".isNotNull)
    val sink = "t11_trend_sink"
    spark.catalog.dropTempView(sink): Unit // reruns replace, not accumulate
    withStreamPartitions(spark) {
      val q = Streams.trendingCounts(ev, "ts", "item")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val w = Window.partitionBy($"day").orderBy($"n".desc, $"item")
    spark.table(sink)
      // integer `div`, not Column `/` (double division wobbles at
      // epoch-µs magnitudes — the Tables.eventTs gotcha)
      .select(expr("unix_micros(window_start) div 86400000000")
          .cast("long").as("day"),
        $"item", $"n")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"day", $"rank".cast("int").as("rank"), $"item", $"n")
      .orderBy($"day", $"rank")
  }

  def t6DecontaminateStream(env: Env): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    val bench = env.documents.filter($"doc_id" % 5 === 0)
    val idx = graft.operators.Decontaminate.benchIndex(bench, "doc_id", "text")
    val train = streamRead(env, "documents")
      .filter($"doc_id" % 5 =!= 0)
    val out = s"$scratchBase/t6_decon_${System.nanoTime()}"
    val q = Streams.decontaminateEachBatch(train, idx, "doc_id", "text") {
      (flags, _) => flags.write.mode("append").parquet(out)
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    spark.read.parquet(out).orderBy($"doc_id")
  }

  /** Per-INVOCATION scratch dir for the index-lifecycle entries: a
    * fixed name reused across in-process reruns makes every rebuild
    * land at a HIGHER generation on top of the prior run's segments,
    * so the bench's warm pass silently pays an extra workload the cold
    * pass never had — GC-ing the prior pass's ~hundreds of small
    * bucket/cell files inside the timed window (the round-17 driver
    * captures flagged exactly the LSH family with warm ≫ cold). A
    * fresh dir per invocation makes warm and cold runs do IDENTICAL
    * work — each invocation builds its index from the parquet inputs,
    * nothing is reused — and generation numbering deterministic. The
    * whole per-process root is deleted on JVM exit (below). */
  private val invocationSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def freshScratch(name: String): String =
    s"$scratchBase/${name}_i${invocationSeq.incrementAndGet()}"

  /** Per-process scratch root, deleted on JVM exit so repeated Verify
    * runs don't accumulate orphaned pid-suffixed trees in tmpdir. */
  private[graft] lazy val scratchBase: String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_sink_roundtrip_${ProcessHandle.current().pid()}"
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }
    base
  }

  val entries: Seq[Q] = Seq(
    Q.sql("s8_sink_roundtrip", s8SinkRoundtrip,
      """WITH rows_ AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS fast_id,
        |         'Subject ' || (c_custkey % 97) AS name
        |  FROM customer)
        |SELECT sink, fast_id, name FROM (
        |  SELECT 'parquet' AS sink, fast_id, name FROM rows_
        |  UNION ALL
        |  SELECT 'csv', fast_id, name FROM rows_)
        |ORDER BY sink, fast_id""".stripMargin),

    Q.sql("t4_interval_join_stream", t4IntervalJoinStream,
      """SELECT l.user_id AS user_id, l.event_id AS l_id,
        |       epoch_us(l.ts) AS lts_us,
        |       r.event_id AS r_id, epoch_us(r.ts) AS rts_us,
        |       r.value AS r_value
        |FROM events l JOIN events r ON r.user_id = l.user_id
        |WHERE l.event_type = 'purchase' AND r.event_type = 'view'
        |  AND epoch_us(r.ts) <= epoch_us(l.ts)
        |  AND epoch_us(r.ts) >= epoch_us(l.ts) - 3600000000
        |ORDER BY user_id, l_id, r_id""".stripMargin),

    Q.sql("t5_dedup_stream", t5DedupStream,
      """SELECT DISTINCT
        |  md5(array_to_string(list_sort(list_distinct(
        |    string_split(text, ' '))), '|')) AS fingerprint
        |FROM documents
        |ORDER BY fingerprint""".stripMargin),

    Q.sql("t6_decontaminate_stream", t6DecontaminateStream,
      CorpusQueries.decontaminateSql),

    // per-query results are batch-independent → shares ann_ivf_topk's
    // oracle verbatim
    Q.sql("t9_ann_stream", t9AnnStream, AnnQueries.ivfTopkSql),

    // streamed model serving ≡ batch classify (batch-independent rows)
    Q.sql("t10_nb_stream", t10NbStream, NbQueries.nbClassifySql),

    // trained quality filter served per micro-batch — shares
    // text_quality_trained's oracle (batch-independent per-doc rows)
    Q.sql("t13_quality_stream", t13QualityStream,
      TextQueries.qualityTrainedSql),

    // streamed ingest: every micro-batch is one atomic manifest
    // append; exact additive merges compose across any batch slicing,
    // so the final serve shares the full-build oracle
    Q.sql("t14_bm25_ingest_stream", t14Bm25IngestStream,
      TextQueries.bm25TopkSql),

    // streamed takedown: every micro-batch is one atomic delete
    // commit; exact decrements compose across any batch slicing, so
    // the final serve shares the batch delete's surviving-corpus
    // oracle
    Q.sql("t15_takedown_stream", t15TakedownStream,
      TextQueries.bm25DeleteSql),
    Q.sql("t16_ann_takedown_stream", t16AnnTakedownStream,
      AnnQueries.ivfDeleteSql),

    // streamed vector ingest: frozen-centroid assignment is
    // batch-independent, so the streamed union shares the one-append
    // oracle
    Q.sql("t17_ann_ingest_stream", t17AnnIngestStream,
      AnnQueries.ivfAppendSql),

    // collection-level streaming takedown: every micro-batch one
    // atomic cross-index flip; final hybrid serve shares the batch
    // takedown's surviving-corpus ranking
    Q.sql("t18_collection_takedown_stream", t18CollectionTakedownStream,
      TextQueries.hybridTakedownServeSql),

    // IVFPQ served per micro-batch from the persisted index — shares
    // ann_ivfpq_topk's oracle (batch-independent per-query results)
    Q.sql("t12_ivfpq_stream", t12IvfPqStream, AnnQueries.ivfPqSql),

    // streamed IVFPQ ingest == one batch append (frozen two-stage
    // artifacts; per-row residual encode) — shares ann_ivfpq_append's
    // oracle
    Q.sql("t19_ivfpq_ingest_stream", t19IvfPqIngestStream,
      AnnQueries.ivfPqAppendSql),
    // streamed MRL ingest == one batch append (stateless prefix copy)
    // — shares ann_mrl_append's oracle
    Q.sql("t20_mrl_ingest_stream", t20MrlIngestStream,
      AnnQueries.mrlRerankSql),

    // collection-level streaming ingest: every micro-batch appends to
    // BOTH hybrid legs inside one collection flip; each leg's exact
    // append algebra composes across any batch slicing, so the entry
    // shares t14's and t17's oracles unioned under a member column
    Q.sql("t21_collection_ingest_stream", t21CollectionIngestStream,
      s"""SELECT * FROM (
         |  SELECT 'bm25' AS member, qid, rank,
         |         CAST(doc_id AS BIGINT) AS id, score
         |  FROM (${TextQueries.bm25TopkSql.linesIterator
             .mkString("\n         |")}) b
         |  UNION ALL
         |  SELECT 'ivf', CAST(qid AS VARCHAR), rank, vec_id, cos
         |  FROM (${AnnQueries.ivfAppendSql.linesIterator
             .mkString("\n         |")}) v)
         |ORDER BY member, qid, rank""".stripMargin),

    // ingest → maintain → ingest, served at three pinned collection
    // generations: g1 (pre-maintenance: base + half the stream) must
    // survive the compaction and both GC passes, g2 (the maintenance
    // flip) is pure reorganization and shares g1's SQL bit-equal, g3
    // is the full corpus (the one-shot append replay)
    Q.sql("t22_ingest_while_maintain", t22IngestWhileMaintain,
      s"""WITH g1 AS (
         |  SELECT 'bm25' AS member, qid, rank,
         |         CAST(doc_id AS BIGINT) AS id, score
         |  FROM (${TextQueries.bm25TopkSqlFor(
               "WHERE doc_id % 7 <> 0 OR doc_id % 2 = 0").linesIterator
               .mkString("\n         |")}) b
         |  UNION ALL
         |  SELECT 'ivf', CAST(qid AS VARCHAR), rank, vec_id, cos
         |  FROM (${AnnQueries.ivfAppendSqlFor("vec_id % 2 = 0")
               .linesIterator.mkString("\n         |")}) v),
         |g3 AS (
         |  SELECT 'bm25' AS member, qid, rank,
         |         CAST(doc_id AS BIGINT) AS id, score
         |  FROM (${TextQueries.bm25TopkSql.linesIterator
             .mkString("\n         |")}) b
         |  UNION ALL
         |  SELECT 'ivf', CAST(qid AS VARCHAR), rank, vec_id, cos
         |  FROM (${AnnQueries.ivfAppendSql.linesIterator
             .mkString("\n         |")}) v)
         |SELECT * FROM (
         |  SELECT 'g1_before' AS phase, * FROM g1
         |  UNION ALL SELECT 'g2_maint', * FROM g1
         |  UNION ALL SELECT 'g3_after', * FROM g3)
         |ORDER BY phase, member, qid, rank""".stripMargin),

    Q.sql("t8_windowed_counts_stream", t8WindowedCountsStream,
      """WITH e AS (SELECT epoch_us(ts) AS tus, event_type FROM events),
        |mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
        |SELECT (tus // 3600000000) * 3600000000 AS window_start_us,
        |       event_type, CAST(count(*) AS BIGINT) AS n
        |FROM e
        |GROUP BY 1, 2
        |HAVING window_start_us + 3600000000 <= (SELECT m - 600000000 FROM mx)
        |ORDER BY window_start_us, event_type""".stripMargin),

    // session_window semantics: split on gap >= 30min (the stream
    // operator's rule), end = last event + gap; emission horizon =
    // final watermark (max ts - 10min) per append-mode semantics
    Q.sql("t7_sessionize_stream", t7SessionizeStream,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value
        |           FROM events),
        |f AS (SELECT *,
        |        CASE WHEN lag(tus) OVER w IS NULL
        |                  OR tus - lag(tus) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (SELECT *,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id
        |          ORDER BY tus ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |      FROM f),
        |mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
        |SELECT user_id,
        |  min(tus) AS session_start_us,
        |  max(tus) + 1800000000 AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s
        |GROUP BY user_id, sid
        |HAVING max(tus) + 1800000000 <= (SELECT m - 600000000 FROM mx)
        |ORDER BY user_id, session_start_us""".stripMargin),

    // the events_trending_topk replay restricted to day windows the
    // final watermark (max ts − 10 min) sealed — the t7/t8 horizon
    // rule; rank per sealed window, (n desc, item) tie-break
    Q.sql("t11_trending_stream", t11TrendingStream,
      """WITH e AS (SELECT epoch_us(ts) AS tus,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT)
        |               AS item
        |           FROM events),
        |mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |d AS (SELECT tus // 86400000000 AS day, item,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM e WHERE item IS NOT NULL GROUP BY 1, 2),
        |sealed AS (SELECT * FROM d
        |           WHERE (day + 1) * 86400000000
        |                 <= (SELECT m - 600000000 FROM mx)),
        |r AS (SELECT day, item, n,
        |        CAST(row_number() OVER (PARTITION BY day
        |          ORDER BY n DESC, item) AS INT) AS rank
        |      FROM sealed)
        |SELECT day, rank, item, n
        |FROM r WHERE rank <= 3
        |ORDER BY day, rank""".stripMargin),

    Q.sql("t3_queue_drain", t3QueueDrain,
      """SELECT c_custkey AS identifier,
        |  CASE WHEN c_custkey % 3 = 0 THEN
        |    CASE WHEN (c_custkey % 5) + 1 >= 3
        |         THEN 'PERSISTENT_FAILURE' ELSE 'TRANSIENT_FAILURE' END
        |  ELSE 'SUCCESS' END AS status,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN (c_custkey % 5) + 1
        |            ELSE 1 END AS INT) AS attempts
        |FROM customer
        |ORDER BY identifier""".stripMargin),
  )
}
