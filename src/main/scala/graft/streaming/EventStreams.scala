package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One gap-connected run of events for a user — a session still open for
  * extension: `[startMs, endMs]` containing `n` events. Top-level so the
  * state encoder codegen resolves it cleanly. */
case class SessionRun(startMs: Long, endMs: Long, n: Long)

/** Per-user state for [[EventStreams.sessionize]]: the open runs, sorted by
  * start, pairwise separated by more than the gap. */
case class SessionRuns(runs: List[SessionRun])

/** Per-bucket membership state for [[EventStreams.nearDupCandidates]]. */
case class BucketState(ids: Seq[Long], lastMs: Long)

/** A streaming near-dup candidate: `doc_id` collided with prior `peer_id`
  * in minhash band `band`. */
case class DupCandidate(doc_id: Long, peer_id: Long, band: Int)

/** Per-host admitted-count state for [[EventStreams.domainQuotaAdmit]]. */
case class HostQuota(count: Long)

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value). The reference has no streaming
  * surface (SURVEY.md §2.3); these are the engine's additions, and each
  * transform is usable identically in batch mode — the batch query
  * `q9_events_window` in SparkEntry is the oracle-checked twin of
  * [[windowedCounts]].
  */
object EventStreams {

  /** Smallest positive Long accepted as epoch nanoseconds by
    * [[normalizeEventTs]]: 1e17 ns = 1973-03-03. Genuine nanosecond data
    * from 1970-01-01..1973-03-03 falls below it and is (incorrectly)
    * rejected — callers with early-epoch nanos should normalize upstream,
    * or relax this floor. The deliberate trade: modern micros (~2e15) and
    * millis (~2e12) land far below, so a fixture shipping the wrong unit
    * fails fast instead of being misread 1000x. */
  val MinPlausibleEpochNanos: Long = 100000000000000000L

  /** The driver's events fixture has shipped `ts` under two parquet
    * encodings across rounds: TIMESTAMP(NANOS), which Spark only reads as a
    * raw Long (under `spark.sql.legacy.parquet.nanosAsLong`), and
    * TIMESTAMP(MICROS) without a zone, which Spark reads as TIMESTAMP_NTZ.
    * Normalize either to a session-zoned TIMESTAMP column (sessions here
    * always run UTC, so the NTZ wall-clock is value-preserving). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // The div-1000 assumes epoch NANOS. A fixture shipping plain INT64
      // micros/millis (no parquet logical type) would be misread 1000x+ with
      // no error, only downstream oracle mismatches — so guard per row:
      // a POSITIVE value below 1e17 (epoch nanos for 1973-03-03; modern
      // micros are ~2e15, millis ~2e12) fails fast. Zero and negatives pass
      // through: an epoch-zero sentinel or pre-1970 nanos are legitimate,
      // and for them div 1000 remains value-correct while no magnitude test
      // can tell their unit apart. A row-level conditional stays codegen'd
      // and works on streaming frames, where an eager min() scan could not
      // run.
      case LongType => df.withColumn("ts", expr(
        s"""timestamp_micros(if(ts is null or ts <= 0 or ts >= $MinPlausibleEpochNanos,
          |  ts div 1000,
          |  cast(raise_error(concat('events.ts=', ts,
          |    ' is below the nanos-plausibility floor ($MinPlausibleEpochNanos =',
          |    ' 1973-03-03); fixture is likely micros/millis — or genuine',
          |    ' pre-1973 nanos, which need the floor relaxed upstream'))
          |   as bigint)))""".stripMargin))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"unsupported events.ts type: $other (expected LONG nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** Tumbling-window aggregation with a watermark: the canonical streaming
    * rollup. Works on a `readStream` or batch DataFrame alike. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), min("value").as("min_v"), max("value").as("max_v"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("min_v"), col("max_v"))
  }

  /** CRASH-RECOVERY replay of [[windowedCounts]]: run the aggregation as a
    * durable file-source → file-sink query, STOP it mid-stream, and resume
    * a brand-new query from the same checkpoint — the operational property
    * none of the MemoryStream harnesses can exercise (a MemoryStream's
    * offsets die with the process, so checkpoint restart over one is
    * unsupported by design; JSON files + parquet sink are the replayable/
    * exactly-once pair Structured Streaming actually recovers with).
    *
    * What the restart must prove, and the single output checks:
    *  - windows still OPEN at the stop are carried in the state store and
    *    finish from post-restart data (no gaps);
    *  - windows already emitted before the stop are not re-emitted (no
    *    duplicates — state eviction + the file sink's commit log);
    *  - the union of both queries' emissions equals the batch twin
    *    bit-exactly.
    *
    * `filesBefore` controls how much of the (ts-sorted) stream arrives
    * before the crash; a far-future flush row closes the tail windows
    * after the restart (callers filter event_type='flush', the module's
    * established pattern). Returns the sink read back as a batch frame. */
  def windowedCountsRestartReplay(spark: SparkSession, events: Seq[Event],
                                  windowLen: String = "1 hour",
                                  filesBefore: Int = 3, filesAfter: Int = 3,
                                  watermark: String = "1 hour"): DataFrame = {
    val run = replaySeq.incrementAndGet()
    val base = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_restart_$run")
    // the counter resets per JVM: a leftover base dir from a previous
    // process would feed the new query stale files AND a stale checkpoint
    if (java.nio.file.Files.exists(base)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val srcDir = base.resolve("src"); val sinkDir = base.resolve("sink")
    val ckptDir = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(srcDir)

    // ts-sorted so the watermark advances monotonically across files and
    // the pre-stop portion genuinely closes some windows
    val sorted = events.sortBy(_.ts.getTime)
    val far = new Timestamp(sorted.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
    val tail = sorted.drop(sorted.size / 2) :+ Event(-1L, far, -1L, "flush", 0.0)
    val head = sorted.take(sorted.size / 2)
    def writeFiles(rows: Seq[Event], names: Iterator[String], n: Int): Unit = {
      val chunk = math.max(1, (rows.size + n - 1) / n)
      rows.grouped(chunk).foreach { c =>
        val body = c.map(e =>
          s"""{"event_id":${e.event_id},"ts":${e.ts.getTime / 1000},""" +
          s""""user_id":${e.user_id},"event_type":"${e.event_type}","value":${e.value}}""")
          .mkString("", "\n", "\n")
        java.nio.file.Files.writeString(srcDir.resolve(names.next()), body)
      }
    }
    val names = Iterator.from(0).map(i => f"part-$i%05d.json")

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE")
    def startQuery() = {
      val src = spark.readStream.schema(schema).json(srcDir.toString)
        .withColumn("ts", expr("timestamp_seconds(ts)"))
      windowedCounts(src, windowLen, watermark)
        .writeStream.format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
    }

    writeFiles(head, names, filesBefore)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeFiles(tail, names, filesAfter)
    val q2 = startQuery() // NEW query, same checkpoint: the restart
    try q2.processAllAvailable() finally q2.stop()

    spark.read.parquet(sinkDir.toString).filter(col("event_type") =!= "flush")
  }

  /** Windowed approximate distinct users per event type — the streaming
    * distinct count. Structured Streaming rejects COUNT(DISTINCT) in a
    * streaming aggregation outright (it would need the full per-window key
    * set in the state store); the mergeable hll_distinct sketch is the
    * standard answer: the state per (window, type) is one 2^p-byte register
    * array, updates fold in place, and because the sketch is order- and
    * partitioning-invariant the streaming result is bit-identical to the
    * batch twin for any within-watermark arrival order — not just
    * approximately equal. Works on a `readStream` or batch frame alike. */
  def windowedDistinctUsers(events: DataFrame, windowLen: String = "1 hour",
                            watermark: String = "10 minutes", p: Int = 12): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(_root_.graft.functions.hll_distinct(col("user_id").cast("string"), p)
        .as("approx_users"))
      .select(col("window.start").as("win_start"), col("event_type"), col("approx_users"))
  }

  /** Windowed top-k events per (window, type) via the mergeable bounded-
    * heap aggregate ([[graft.functions.topk_by]]) — the streaming
    * leaderboard. An exact streaming top-k needs only k entries of state
    * per open (window, type) group (16·k bytes — the same bounded-state
    * argument as the sketch family, but EXACT, because top-k under a total
    * order is itself mergeable: offer() is associative/commutative over
    * row sets). The (score DESC, id ASC) id tiebreak totally orders rows,
    * so any within-watermark arrival order replays bit-equal to the batch
    * twin — the un-tiebroken variant of this operator would be
    * nondeterministic under micro-batch boundaries and could never gate.
    * Works on a `readStream` or batch frame alike. */
  def windowedTopKEvents(events: DataFrame, k: Int, windowLen: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(_root_.graft.functions.topk_by(col("value"), col("event_id"), k).as("tk"))
      .select(col("window.start").as("win_start"), col("event_type"),
        posexplode(col("tk")))
      .select(col("win_start"), col("event_type"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("event_id"), col("col.score").as("value"))
  }

  /** Replay harness for [[windowedTopKEvents]] — same contract as
    * [[windowedDistinctReplay]]: far watermark, flush event, results
    * bit-equal to the batch twin for any micro-batch split. */
  def windowedTopKReplay(spark: SparkSession, events: Seq[Event], k: Int,
                         windowLen: String = "1 hour", nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_topk_replay_${replaySeq.incrementAndGet()}"
    val q = windowedTopKEvents(mem.toDF(), k, windowLen, watermark = "3650 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("event_type") =!= "flush")
  }

  /** Windowed value quantiles per event type via the mergeable HDR
    * histogram — the streaming percentile. NON-NEGATIVE VALUE DOMAIN ONLY:
    * negative inputs are clamped to 0, not dropped or failed, so feeding a
    * stream of deltas/balances silently biases p50/p95 toward 0 — pre-shift
    * such streams into a non-negative encoding before this operator.
    * Exact percentiles are as
    * unavailable in a streaming aggregation as COUNT(DISTINCT) (they'd
    * buffer every value per open window); the histogram state is
    * (64−b)·2^b counters per (window, type), updates commute, and the
    * stream is bit-equal to the batch twin for any within-watermark
    * arrival order. Values enter as centi-units (CAST(value·100 AS LONG),
    * truncation — deterministic in any IEEE engine), clamped to >= 0: the
    * histogram's domain is non-negative longs, and without the clamp a
    * single negative value would throw inside the aggregate and kill a
    * long-running streaming query at runtime. Quantiles come back in
    * centi-units. */
  def windowedValueQuantiles(events: DataFrame, windowLen: String = "1 hour",
                             watermark: String = "10 minutes", b: Int = 5): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    // the isNotNull guard keeps NULL values SKIPPED (the aggregate's null
    // behavior) — a bare greatest(0L, NULL) would coerce them to 0 and
    // count phantom samples
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(_root_.graft.functions.hist_sketch(
        when(col("value").isNotNull,
          greatest(lit(0L), (col("value") * lit(100.0)).cast("long"))), b).as("h"))
      .select(col("window.start").as("win_start"), col("event_type"),
        _root_.graft.functions.hist_quantile(col("h"), 0.5).as("p50_x100"),
        _root_.graft.functions.hist_quantile(col("h"), 0.95).as("p95_x100"))
  }

  /** Windowed frequency monitoring for KNOWN keys via the mergeable
    * Count-Min sketch — completes the streaming sketch family (counts /
    * HLL distinct / HDR quantiles / CMS frequencies). The production shape:
    * track how often each watched entity (hot users, flagged domains)
    * appears per window without keeping per-key state for the full key
    * space — the sketch is d·2^log2w counters per (window, type) no matter
    * the user cardinality, and estimates are upper bounds (≥ truth) with
    * the usual CMS guarantee. `probeUsers` are the watched keys; estimates
    * are order/partition-invariant like every sketch here, so the stream
    * is bit-equal to the batch twin for any within-watermark arrival
    * order. */
  def windowedUserFreq(events: DataFrame, probeUsers: Seq[Long],
                       windowLen: String = "1 hour",
                       watermark: String = "10 minutes",
                       d: Int = 4, log2w: Int = 12): DataFrame = {
    require(probeUsers.nonEmpty, "probeUsers must name at least one watched key")
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(_root_.graft.functions.cms_build(col("user_id").cast("string"), d, log2w).as("cms"))
      .select(col("window.start").as("win_start"), col("event_type"),
        explode(array(probeUsers.map(u =>
          struct(lit(u).as("user_id"),
            _root_.graft.functions.cms_estimate(col("cms"), lit(u.toString)).as("est_cnt"))): _*)).as("p"))
      .select(col("win_start"), col("event_type"),
        col("p.user_id").as("user_id"), col("p.est_cnt").as("est_cnt"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp, events: Long)

  /** Gap-based sessionization via flatMapGroupsWithState with an event-time
    * timeout. Event-time (not processing-time) makes the operator
    * deterministic and replayable, and avoids the continuous empty
    * micro-batches a processing-time timeout schedules.
    *
    * State is a list of gap-merged session RUNS (disjoint intervals more
    * than the gap apart), and a run is emitted exactly once — only when the
    * watermark has passed its `end + gap`, i.e. when no admissible event can
    * still extend or bridge it. Late-but-within-watermark events arriving in
    * a later micro-batch therefore merge into (or bridge) the right runs
    * instead of dragging a session's end backwards, and the output is
    * session-for-session identical to [[sessionizeBatch]] for ANY
    * within-watermark arrival order (spec: two-batch out-of-order replay +
    * full-fixture replay both equal the batch twin). Events below the
    * watermark are dropped, the standard late-data rule — an emitted
    * session can't be retracted in append mode. flatMap, not map: one
    * watermark advance can close several runs for one user (bursty or
    * historical replay input). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermarkDelay: String = "10 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val src = if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionRuns, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, evts, state: GroupState[SessionRuns]) =>
          // batch mode has no watermark: Long.MinValue = "never close early"
          // (sessionizeBatch is the batch surface; this operator is for streams)
          val wm =
            try state.getCurrentWatermarkMs()
            catch { case _: UnsupportedOperationException => Long.MinValue }
          val prior = state.getOption.map(_.runs).getOrElse(Nil)
          val merged =
            if (state.hasTimedOut) prior
            else {
              // sorted-start interval merge with gap tolerance: the gap-
              // connected components of (prior runs ++ new event points) are
              // exactly the sessions the batch twin computes on sorted times
              val pts = evts.map(_.ts.getTime).filter(_ >= wm)
                .toSeq.sorted.map(t => SessionRun(t, t, 1L)).toList
              (prior ++ pts).sortBy(r => (r.startMs, r.endMs))
                .foldLeft(List.empty[SessionRun]) {
                  case (cur :: done, r) if r.startMs <= cur.endMs + gapMs =>
                    SessionRun(cur.startMs, math.max(cur.endMs, r.endMs), cur.n + r.n) :: done
                  case (acc, r) => r :: acc
                }.reverse
            }
          val (closed, open) = merged.partition(_.endMs + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionRuns(open))
            // earliest still-open run decides the next timeout; guaranteed
            // > watermark by the partition above. Re-set every call — an
            // invocation that doesn't set a timeout clears it.
            if (wm != Long.MinValue) state.setTimeoutTimestamp(open.head.endMs + gapMs)
          }
          closed.iterator.map(r =>
            Session(userId, new Timestamp(r.startMs), new Timestamp(r.endMs), r.n))
      }
  }

  /** Streaming exact dedup on event ids: state is bounded by the watermark
    * (dropDuplicatesWithinWatermark), so long-running pipelines don't
    * accumulate unbounded id state; in batch mode it degrades to a plain
    * dropDuplicates. */
  def dedupEvents(events: DataFrame, idCols: Seq[String] = Seq("event_id"),
                  watermark: String = "1 hour"): DataFrame = {
    if (events.isStreaming)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCols)
    else events.dropDuplicates(idCols)
  }

  /** Streaming exact content dedup: drops rows whose text (byte-exact, via
    * the codegen'd built-in xxhash64) was already seen within the watermark
    * horizon. The streaming twin of `Dedup.exact`: state is one 64-bit hash
    * per distinct document in the horizon, so memory is bounded by
    * distinct-docs-per-window, not corpus size. Requires a `ts` column on
    * streams. (For order-insensitive near-dup dropping, hash with
    * `graft.functions.simhash64` instead — token-vote hashing makes word
    * permutations collide by design.) */
  def dedupByContent(docs: DataFrame, textCol: String,
                     watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("__content_h", xxhash64(col(textCol)))
    val out =
      if (docs.isStreaming)
        hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("__content_h")
      else hashed.dropDuplicates("__content_h")
    out.drop("__content_h")
  }

  /** Streaming banded-MinHash near-dup candidate detection: each arriving
    * document's band hashes key into stateful buckets
    * (flatMapGroupsWithState); a document colliding with prior bucket
    * members emits one [[DupCandidate]] per prior member. Downstream
    * verifies candidates (exact jaccard) in batch — state holds only ids
    * (bounded per bucket by `maxBucket`, expired by event-time timeout after
    * `ttl`), never document payloads, so state size is
    * O(buckets × maxBucket × 8 B) regardless of corpus size.
    *
    * Expects columns (doc_id: long, ts: timestamp, text: string). */
  def nearDupCandidates(docs: DataFrame, ngramWidth: Int, bandCount: Int,
                        bandSize: Int, lshSeed: Long, watermarkDelay: String = "10 seconds",
                        ttlMs: Long = 60 * 60 * 1000L, maxBucket: Int = 64): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    val w = ngramWidth
    val fam = graft.core.MinHashFamily(bandCount, bandSize, lshSeed)
    val banded = docs.select(col("doc_id").cast("long"), col("ts"), col("text"))
      .as[(Long, Timestamp, String)]
      .flatMap { case (id, ts, text) =>
        if (text == null) Iterator.empty
        else {
          val bytes = text.getBytes("UTF-8")
          val set = graft.core.Shingles.fromTextUtf8(bytes, 0, bytes.length, w)
          val hs = fam.hash(set)
          hs.iterator.zipWithIndex.map { case (h, band) => (band, h, id, ts) }
        }
      }.toDF("band", "h", "doc_id", "ts")
    bucketCollisions(banded, watermarkDelay, ttlMs, maxBucket)
  }

  /** Streaming embedding near-dup candidates via random-hyperplane (sign)
    * LSH — the cosine-family member of the streaming blocking set, next to
    * the MinHash [[nearDupCandidates]]: each arriving vector's
    * `cosine_sketch64` splits into `bands` equal bit-chunks (the same
    * chunk layout as the batch [[graft.api.Ann.cosineLshPairs]], so batch
    * and stream block identically), and each (band, chunk) keys the shared
    * bounded bucket state. Emits one [[DupCandidate]] per prior co-bucket
    * member; downstream verifies with exact cosine in batch. Zero-norm
    * vectors are skipped up front (they sketch to all-ones and would
    * always collide; their cosine is undefined — same exclusion as every
    * batch cosine path).
    *
    * Expects columns (vec_id: long, ts: timestamp, embedding: array<double>). */
  def embedNearDupCandidates(vecs: DataFrame, nbits: Int, bands: Int, lshSeed: Long,
                             watermarkDelay: String = "10 seconds",
                             ttlMs: Long = 60 * 60 * 1000L,
                             maxBucket: Int = 64): Dataset[DupCandidate] = {
    import vecs.sparkSession.implicits._
    require(bands >= 1 && nbits % bands == 0,
      s"bands must divide nbits, got nbits=$nbits bands=$bands")
    val width = nbits / bands
    val mask = graft.api.SketchBlocking.chunkMask(width)
    val banded = vecs.select(col("vec_id").cast("long"), col("ts"),
        col("embedding").cast("array<double>"))
      .as[(Long, Timestamp, Seq[Double])]
      .flatMap { case (id, ts, emb) =>
        if (emb == null) Iterator.empty
        else {
          val arr = emb.toArray
          var normSq = 0.0
          var i = 0
          while (i < arr.length) { normSq += arr(i) * arr(i); i += 1 }
          if (normSq == 0.0) Iterator.empty
          else {
            val sk = graft.core.CosineFamily(nbits, lshSeed, arr.length).sketch(arr)
            (0 until bands).iterator.map(b => (b, (sk >>> (b * width)) & mask, id, ts))
          }
        }
      }.toDF("band", "h", "doc_id", "ts")
    bucketCollisions(banded, watermarkDelay, ttlMs, maxBucket)
  }

  /** The shared stateful core of the streaming blockers: (band, h, id, ts)
    * rows key into bounded bucket membership; an id colliding with prior
    * members emits one candidate per member. State holds only ids (capped
    * at `maxBucket`, expired by event-time timeout after `ttlMs`), never
    * payloads — O(buckets × maxBucket × 8 B) regardless of corpus size. */
  private def bucketCollisions(banded: DataFrame, watermarkDelay: String,
                               ttlMs: Long, maxBucket: Int): Dataset[DupCandidate] = {
    import banded.sparkSession.implicits._
    val src = if (banded.isStreaming) banded.withWatermark("ts", watermarkDelay) else banded
    src.as[(Int, Long, Long, Timestamp)]
      .groupByKey { case (band, h, _, _) => (band, h) }
      .flatMapGroupsWithState[BucketState, DupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(BucketState(Seq.empty, 0L))
            val newRows = rows.toSeq.sortBy(r => (r._4.getTime, r._3))
            val out = scala.collection.mutable.ArrayBuffer[DupCandidate]()
            var members = prev.ids
            var lastMs = prev.lastMs
            newRows.foreach { case (_, _, id, ts) =>
              members.foreach(p => if (p != id) out += DupCandidate(id, p, band))
              members = (members :+ id).takeRight(maxBucket)
              lastMs = math.max(lastMs, ts.getTime)
            }
            state.update(BucketState(members, lastMs))
            state.setTimeoutTimestamp(lastMs + ttlMs)
            out.iterator
          }
      }
  }

  private val replaySeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming decontamination — the stream-static twin of
    * [[graft.api.Contamination.sharedNgrams]]: each micro-batch of
    * arriving documents probes the STATIC benchmark's broadcast shingle
    * set and emits its (doc_id, bench_id, shared_ngrams) flags. The flag
    * rule is per-document-LOCAL (a doc's flags depend only on its own
    * text and the static bench), so the query is STATELESS — no
    * watermark, no state store, and the union of micro-batch outputs is
    * bit-equal to the batch run over the whole corpus, which is exactly
    * what the gate pins (it shares contamination_check's oracle).
    * `foreachBatch` is the composition point because the rule is an
    * aggregation-after-join — the documented Structured Streaming shape
    * for running a batch operator per micro-batch; at production scale
    * the same body sits on a `readStream` source and appends to the
    * flags table, and the static bench side broadcasts once per batch.
    * MemoryStream feeding is the test harness. */
  def contaminationReplay(spark: SparkSession, docs: Seq[(Long, String)],
                          bench: DataFrame, nBatches: Int,
                          ngramWidth: Int, minShared: Long): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tbl = s"graft_stream_contam_${replaySeq.incrementAndGet()}"
    graft.api.BucketedWrite.dropTable(spark, tbl)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.api.Contamination.sharedNgrams(batch, bench, "doc_id", "text",
            ngramWidth, minShared)
          .write.mode("append").format("parquet").saveAsTable(tbl)
        ()
      }
      .outputMode("update").start()
    try {
      val chunk = math.max(1, (docs.size + nBatches - 1) / nBatches)
      docs.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.catalog.refreshTable(tbl)
    spark.table(tbl)
  }

  /** Replay a finite event set through [[sessionize]] as a REAL Structured
    * Streaming query — MemoryStream source split over `nBatches`
    * micro-batches in the given (arbitrary) order, memory sink, then one
    * far-future flush event so the watermark closes every open session —
    * and return the emitted sessions as a batch DataFrame.
    *
    * This is the driver-verification harness that puts the streaming
    * operator under the SAME independent oracle as its batch twin
    * ([[sessionizeBatch]]'s SQL): equality holds for any within-watermark
    * arrival order, so arbitrary fixture order over several micro-batches
    * is a genuine end-to-end check of watermarks, event-time timeouts and
    * cross-batch state. Not a production source — production streams come
    * from `readStream` (files/Kafka); the operator under test is identical
    * either way. */
  def sessionizeReplay(spark: SparkSession, events: Seq[Event], gapMs: Long,
                       nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    // unique sink name per invocation: the memory sink table outlives stop()
    val sink = s"graft_sessionize_replay_${replaySeq.incrementAndGet()}"
    // watermark delay far beyond the fixture's time range: replay disorder is
    // never "late", so the streamed sessions must equal the batch twin exactly
    val q = sessionize(mem.toDS(), gapMs, watermarkDelay = "3650 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("user_id") >= 0)
      .select("user_id", "start", "end", "events")
  }

  /** Replay [[sessionize]] with a SHORT watermark and caller-controlled
    * micro-batches — the late-data admission harness. Every other replay
    * here sets the delay beyond the fixture's time range so nothing is ever
    * late; this one feeds each element of `batches` as exactly one
    * micro-batch under a real `watermarkDelay`, so rows arriving after the
    * watermark passed them are genuinely DROPPED and the caller's oracle
    * must model the drop set explicitly. The admission rule under test:
    * batch k's rows are filtered against the watermark established by
    * batches 0..k-1 (max event time minus delay), and the drop predicate
    * is `ts <= watermark` — Spark's pre-function late-row filter (the
    * nearDup replay's documented epoch-0 drop) combined with the
    * operator's own `>= wm` guard. A final far-future flush closes every
    * surviving session. */
  def sessionizeLateReplay(spark: SparkSession, batches: Seq[Seq[Event]], gapMs: Long,
                           watermarkDelay: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_late_sessionize_replay_${replaySeq.incrementAndGet()}"
    val q = sessionize(mem.toDS(), gapMs, watermarkDelay)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      val far = new Timestamp(
        batches.flatten.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("user_id") >= 0)
      .select("user_id", "start", "end", "events")
  }

  /** Replay a finite document set through [[nearDupCandidates]] as a real
    * Structured Streaming query and return every emitted candidate.
    *
    * Driver-verification harness: with an effectively unbounded bucket
    * capacity and TTL (the defaults here), every pair of documents sharing a
    * (band, hash) bucket meets exactly once — whichever arrives later emits
    * against the earlier member — so the emitted set, normalized to
    * unordered pairs, equals the full co-bucket pair set per band
    * REGARDLESS of micro-batch arrival order. That set is pure MinHash
    * bucket math, independently re-derivable (tools/gen_oracles.py), which
    * turns the stateful streaming operator into an oracle-checkable one.
    * Production use keeps the bounded defaults of [[nearDupCandidates]]
    * (maxBucket, ttl) and accepts the documented recall trade. */
  def nearDupReplay(spark: SparkSession, docs: Seq[(Long, Timestamp, String)],
                    ngramWidth: Int, bandCount: Int, bandSize: Int, lshSeed: Long,
                    nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, String)]
    val sink = s"graft_neardup_replay_${replaySeq.incrementAndGet()}"
    val q = nearDupCandidates(mem.toDF().toDF("doc_id", "ts", "text"),
        ngramWidth, bandCount, bandSize, lshSeed,
        watermarkDelay = "3650 days", ttlMs = Long.MaxValue / 4, maxBucket = 1 << 20)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (docs.size + nBatches - 1) / nBatches)
      docs.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink)
  }

  /** Replay a finite embedding set through [[embedNearDupCandidates]] —
    * the cosine twin of [[nearDupReplay]], same disorder-tolerant config
    * (watermark beyond the fixture range, effectively-unbounded TTL and
    * bucket cap) so the candidate set must equal pure co-bucket math for
    * any micro-batch split. */
  def embedNearDupReplay(spark: SparkSession,
                         vecs: Seq[(Long, Timestamp, Seq[Double])],
                         nbits: Int, bands: Int, lshSeed: Long,
                         nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, Seq[Double])]
    val sink = s"graft_embed_neardup_replay_${replaySeq.incrementAndGet()}"
    val q = embedNearDupCandidates(mem.toDF().toDF("vec_id", "ts", "embedding"),
        nbits, bands, lshSeed,
        watermarkDelay = "3650 days", ttlMs = Long.MaxValue / 4, maxBucket = 1 << 20)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (vecs.size + nBatches - 1) / nBatches)
      vecs.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink)
  }

  /** Replay a finite event set through [[windowedCounts]] as a real
    * Structured Streaming query (append mode: a window only emits once the
    * watermark passes its end) and return every emitted window row.
    *
    * Driver-verification harness: with a watermark delay beyond the
    * fixture's time range nothing is ever late, so the emitted windows must
    * equal the batch twin (`q9_events_window`'s SQL) for ANY micro-batch
    * arrival order. A far-future flush event advances the watermark past
    * every real window; its own forever-open window is filtered out. */
  def windowedCountsReplay(spark: SparkSession, events: Seq[Event],
                           windowLen: String = "1 hour", nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_windowed_replay_${replaySeq.incrementAndGet()}"
    val q = windowedCounts(mem.toDF(), windowLen, watermark = "3650 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("event_type") =!= "flush")
  }

  /** Stream-stream interval join — click-to-purchase attribution: each
    * purchase joins every click by the same user in the preceding
    * `maxDelay`. The canonical two-stream stateful join: both sides carry
    * watermarks and the join predicate carries the time bound, so Spark
    * can size the buffered state to watermark + delay instead of holding
    * both streams forever — state is O(events within the delay horizon),
    * the property that keeps this runnable on an unbounded 100 TB/day
    * event feed. Inner-join matches emit as they form, so the result set
    * equals the batch join for any micro-batch split with no window
    * closing needed. Works identically on batch inputs (no watermark, same
    * predicate). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      maxDelay: String = "1 hour",
                      watermark: String = "1 hour"): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    val c = wm(clicks).select(col("event_id").as("click_id"),
      col("ts").as("click_ts"), col("user_id"))
    val p = wm(purchases).select(col("event_id").as("purchase_id"),
      col("ts").as("purchase_ts"), col("user_id").as("p_user"), col("value"))
    c.join(p, expr(s"user_id = p_user AND purchase_ts >= click_ts " +
        s"AND purchase_ts <= click_ts + interval $maxDelay"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Replay harness for [[attributionJoin]]: two MemoryStreams fed in
    * alternating chunks (clicks slightly ahead, so cross-batch matches —
    * purchase arriving batches after its click — are exercised). Inner
    * interval joins need no flush event: every match emits once both sides
    * have arrived. */
  def attributionJoinReplay(spark: SparkSession, clicks: Seq[Event],
                            purchases: Seq[Event], maxDelay: String = "1 hour",
                            nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val memP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_attr_replay_${replaySeq.incrementAndGet()}"
    val q = attributionJoin(memC.toDF(), memP.toDF(), maxDelay, watermark = "3650 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = (xs: Seq[Event]) => math.max(1, (xs.size + nBatches - 1) / nBatches)
      val cs = clicks.grouped(chunk(clicks)).toSeq
      val ps = purchases.grouped(chunk(purchases)).toSeq
      for (i <- 0 until math.max(cs.size, ps.size)) {
        if (i < cs.size) memC.addData(cs(i))
        q.processAllAvailable()
        if (i < ps.size) memP.addData(ps(i))
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(sink)
  }

  /** Windowed last observation per user — the streaming face of
    * [[graft.api.TimeSeries.resampleGapFill]]'s bucketing stage: per
    * (window, user), the value of the max-(ts, event_id) event survives. A
    * declarative max_by aggregate, so it runs identically in streaming
    * (append mode + watermark) and batch, and the unique tie key makes the
    * survivor deterministic for ANY arrival order — which is what lets the
    * replay land bit-equal on the batch twin. Forward-FILL deliberately
    * stays batch-side: filling bucket k requires bucket k-1 CLOSED (a
    * per-key ordered pass over emitted windows), not an open streaming
    * aggregation. NULL values are skipped (no observation). */
  def windowedLastValue(events: DataFrame, windowLen: String = "1 day",
                        watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.filter(col("value").isNotNull)
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_value"))
      .select(col("window.start").as("win_start"), col("user_id"), col("last_value"))
  }

  /** Replay harness for [[windowedLastValue]] — same contract as
    * [[windowedCountsReplay]]: far watermark, flush event, closed windows
    * equal the batch twin for any micro-batch split. */
  def windowedLastValueReplay(spark: SparkSession, events: Seq[Event],
                              windowLen: String = "1 day", nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_lastval_replay_${replaySeq.incrementAndGet()}"
    val q = windowedLastValue(mem.toDF(), windowLen, watermark = "3650 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("user_id") =!= -1L)
  }

  /** Replay a finite event set through [[windowedDistinctUsers]] — same
    * harness as [[windowedCountsReplay]] (append mode, far watermark so
    * nothing is late, flush event to close every real window). The sketch's
    * order/partition invariance upgrades the usual replay contract: the
    * emitted estimates are bit-equal to the batch twin for ANY micro-batch
    * split of the input, which the driver oracle pins value-for-value. */
  def windowedDistinctReplay(spark: SparkSession, events: Seq[Event],
                             windowLen: String = "1 hour", nBatches: Int = 3,
                             p: Int = 12): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_hll_replay_${replaySeq.incrementAndGet()}"
    val q = windowedDistinctUsers(mem.toDF(), windowLen, watermark = "3650 days", p = p)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("event_type") =!= "flush")
  }

  /** Replay harness for [[windowedValueQuantiles]] — same contract as
    * [[windowedDistinctReplay]]: far watermark, flush event, estimates
    * bit-equal to the batch twin for any micro-batch split. */
  def windowedQuantilesReplay(spark: SparkSession, events: Seq[Event],
                              windowLen: String = "1 hour", nBatches: Int = 3,
                              b: Int = 5): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_hist_replay_${replaySeq.incrementAndGet()}"
    val q = windowedValueQuantiles(mem.toDF(), windowLen, watermark = "3650 days", b = b)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("event_type") =!= "flush")
  }

  /** Replay harness for [[windowedUserFreq]] — same contract as
    * [[windowedDistinctReplay]]: far watermark, flush event, estimates
    * bit-equal to the batch twin for any micro-batch split. */
  def windowedFreqReplay(spark: SparkSession, events: Seq[Event], probeUsers: Seq[Long],
                         windowLen: String = "1 hour", nBatches: Int = 3,
                         d: Int = 4, log2w: Int = 12): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val sink = s"graft_cms_replay_${replaySeq.incrementAndGet()}"
    val q = windowedUserFreq(mem.toDF(), probeUsers, windowLen,
        watermark = "3650 days", d = d, log2w = log2w)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (events.size + nBatches - 1) / nBatches)
      events.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
      val far = new Timestamp(events.iterator.map(_.ts.getTime).max + 4000L * 86400_000L)
      mem.addData(Event(-1L, far, -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).filter(col("event_type") =!= "flush")
  }

  /** Streaming per-domain quota admission — the crawl-side twin of
    * [[graft.api.Domains.domainQuotaSample]]. The batch rule is offline
    * and order-free (keep the k smallest hash scores per host); a live
    * crawl must decide AT ARRIVAL, so the streaming rule is first-come:
    * admit while the host's admitted count is below `maxPerDomain`.
    * Within a micro-batch a host's rows process in (ts, doc_id) order,
    * so the overall decision is "the first `maxPerDomain` arrivals per
    * host" — batch-boundary-INDEPENDENT (the counter is cumulative and
    * the order is global), which is what lets one sequential oracle gate
    * any replay chunking.
    *
    * State = ONE long per distinct host — O(hosts), the quota's inherent
    * floor, and deliberately WITHOUT a timeout: an expiring counter would
    * silently re-open a spent budget (quotas are per-crawl, not
    * per-hour; restart a new query for a new crawl). Emits
    * `(doc_id, host, admitted)` for every input row — the drop side is
    * load-bearing for crawl telemetry, not just the survivors.
    * Expects columns (doc_id: long, ts: timestamp, url: string). */
  def domainQuotaAdmit(docs: DataFrame, maxPerDomain: Int,
                       watermarkDelay: String = "10 seconds"): DataFrame = {
    import docs.sparkSession.implicits._
    require(maxPerDomain > 0, s"maxPerDomain must be positive, got $maxPerDomain")
    val src0 = docs.select(
        graft.api.Domains.urlHost(col("url")).as("host"),
        col("doc_id").cast("long").as("doc_id"), col("ts"))
      .filter(col("host").isNotNull)
    firstKPerKeyAdmit(src0, maxPerDomain, watermarkDelay)
      .select(col("doc_id"), col("key").as("host"), col("admitted"))
  }

  /** The shared first-k-per-key admission kernel behind
    * [[domainQuotaAdmit]] (k = quota, key = host) and [[urlDedupAdmit]]
    * (k = 1, key = canonical URL): one cumulative counter per key in
    * `flatMapGroupsWithState` state, within-batch arrival order pinned
    * to (event time, doc_id). Input columns `(key, doc_id, ts)`; output
    * `(doc_id, key, admitted)`. */
  private def firstKPerKeyAdmit(src0: DataFrame, k: Long,
                                watermarkDelay: String): DataFrame = {
    import src0.sparkSession.implicits._
    val src = if (src0.isStreaming) src0.withWatermark("ts", watermarkDelay)
              else src0
    src.as[(String, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HostQuota, (Long, String, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[HostQuota]) =>
          var c = state.getOption.map(_.count).getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._3.getTime, r._2))
            .map { case (_, id, _) =>
              val admit = c < k
              if (admit) c += 1
              (id, key, admit)
            }
          state.update(HostQuota(c))
          out.iterator
      }.toDF("doc_id", "key", "admitted")
  }

  /** Replay a finite URL stream through [[domainQuotaAdmit]] as a real
    * Structured Streaming query in the GIVEN order (event times synthesized
    * monotone from arrival position), returning every verdict row. The
    * cross-batch check is the whole point: a host whose quota fills in
    * batch k must reject its batch-k+1 arrivals from persisted state. */
  def domainQuotaReplay(spark: SparkSession, docs: Seq[(Long, String)],
                        nBatches: Int, maxPerDomain: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, String)]
    val sink = s"graft_domquota_replay_${replaySeq.incrementAndGet()}"
    val timed = docs.zipWithIndex.map { case ((id, url), i) =>
      (id, new Timestamp((i + 1) * 1000L), url)
    }
    val q = domainQuotaAdmit(mem.toDF().toDF("doc_id", "ts", "url"), maxPerDomain)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (timed.size + nBatches - 1) / nBatches)
      timed.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink).select("doc_id", "host", "admitted")
  }

  /** First-come streaming URL dedup — the streaming twin of
    * [[graft.api.Domains.dedupByUrl]], the crawl-frontier shape: the
    * FIRST document to arrive under each canonical URL key
    * ([[graft.api.Domains.normalizedUrl]] — percent-normalized,
    * optionally query-sorted, tracking params optionally stripped via
    * `dropParamPrefixes` so the streaming key can match a batch
    * [[graft.api.Domains.dedupByUrl]] run's exactly) admits; every
    * later arrival under the same key rejects, across micro-batch
    * boundaries, from
    * `flatMapGroupsWithState` state. Within one batch, arrival order is
    * (event time, doc_id) — the same deterministic walk the quota twin
    * pins.
    *
    * State per key is one [[HostQuota]] counter that saturates at 1 —
    * the shared [[firstKPerKeyAdmit]] kernel with k = 1, functionally a
    * seen-bit (one long, not one bit, per key) — O(distinct URLs), the
    * inherent floor for exact first-come dedup, deliberately unexpired like
    * [[domainQuotaAdmit]]'s counters (the frontier's key set IS the
    * dedup contract; an expiring variant would silently re-admit old
    * pages). Unparseable URLs (null key) admit UNCONDITIONALLY — the
    * batch operator's null contract — implemented by keying each such
    * doc to a private sentinel (`"\u0000" + doc_id`) so it forms its
    * own single-row group; those sentinel entries do grow state with
    * the junk-URL count, documented here rather than hidden. */
  def urlDedupAdmit(docs: DataFrame, sortQuery: Boolean = true,
                    watermarkDelay: String = "10 seconds",
                    dropParamPrefixes: Seq[String] = Nil): DataFrame = {
    val key = graft.api.Domains.normalizedUrl(col("url"), sortQuery,
      dropParamPrefixes)
    val src0 = docs.select(
      coalesce(key, concat(lit("\u0000"), col("doc_id").cast("string")))
        .as("ukey"),
      col("doc_id").cast("long").as("doc_id"), col("ts"))
    firstKPerKeyAdmit(src0, 1L, watermarkDelay)
      .select(col("doc_id"), col("admitted"))
  }

  /** Replay a finite URL stream through [[urlDedupAdmit]] as a real
    * Structured Streaming query — the [[domainQuotaReplay]] harness
    * shape. The cross-batch check is the point: a URL first seen in
    * batch k must reject its batch-k+1 re-fetches from persisted
    * state. */
  def urlDedupReplay(spark: SparkSession, docs: Seq[(Long, String)],
                     nBatches: Int,
                     dropParamPrefixes: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, String)]
    val sink = s"graft_urldedup_replay_${replaySeq.incrementAndGet()}"
    val timed = docs.zipWithIndex.map { case ((id, url), i) =>
      (id, new Timestamp((i + 1) * 1000L), url)
    }
    val q = urlDedupAdmit(mem.toDF().toDF("doc_id", "ts", "url"),
        dropParamPrefixes = dropParamPrefixes)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (timed.size + nBatches - 1) / nBatches)
      timed.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink).select("doc_id", "admitted")
  }

  /** Replay a finite document sequence through [[dedupByContent]] as a real
    * Structured Streaming query, in the GIVEN order, and return every
    * surviving row.
    *
    * Driver-verification harness for watermark-bounded streaming dedup:
    * `dropDuplicatesWithinWatermark` keeps the first arrival per content
    * hash, so with docs fed in id order the survivor set is exactly
    * "min doc_id per distinct text" — a pure SQL fact any engine can
    * recompute. Splitting over micro-batches makes later batches' duplicate
    * drops a genuine cross-batch state check. Event times are synthesized
    * monotone from arrival position, starting at +1s (the initial watermark
    * is the epoch and stateful operators drop rows at ts <= watermark). */
  def dedupContentReplay(spark: SparkSession, docs: Seq[(Long, String)],
                         nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, String)]
    val sink = s"graft_dedup_replay_${replaySeq.incrementAndGet()}"
    val timed = docs.zipWithIndex.map { case ((id, text), i) =>
      (id, new Timestamp((i + 1) * 1000L), text)
    }
    val q = dedupByContent(mem.toDF().toDF("doc_id", "ts", "text"), "text")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val chunk = math.max(1, (timed.size + nBatches - 1) / nBatches)
      timed.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(sink).select("doc_id", "text")
  }

  /** Streaming rolling ingestion — the streaming twin of the
    * saveSignatureIndex → appendToSignatureIndex → nearDupAgainstIndex
    * batch recipe, proving the index stays probe-consistent ACROSS
    * micro-batches: a doc admitted (and appended) in batch k must block its
    * near-dups arriving in batch k+1, including through hot-sidecar routes.
    * Each micro-batch, under `foreachBatch`:
    *   1. probe the incoming docs against the current index + admitted
    *      corpus (`nearDupAgainstIndex` — the LSH params must match the
    *      build's);
    *   2. admit the non-colliding docs (intra-batch pairs deliberately
    *      don't block — same contract as the batch admission loop);
    *   3. append admitted texts to the corpus table and their signatures
    *      through the hot/cold-routed [[graft.api.BandedLsh.appendToSignatureIndex]].
    * Returns `(doc_id, admitted)` for every streamed doc, read back from
    * the corpus table — the decision log IS the table state, no driver-side
    * bookkeeping to drift from it. MemoryStream feeding is the test
    * harness; the foreachBatch body is the production shape. */
  def rollingDedupReplay(spark: SparkSession, corpus: Seq[(Long, String)],
                         stream: Seq[(Long, String)], nBatches: Int,
                         ngramWidth: Int, bandCount: Int, bandSize: Int,
                         seed: Long, threshold: Double,
                         hotBucketCap: Long): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = replaySeq.incrementAndGet()
    val idxTbl = s"graft_roll_stream_idx_$n"
    val corpTbl = s"graft_roll_stream_corpus_$n"
    val corpusDf = corpus.toDF("doc_id", "text")
    graft.api.BandedLsh.saveSignatureIndex(corpusDf, idxTbl, 8, "doc_id", "text",
      ngramWidth, bandCount, bandSize, seed, hotBucketCap)
    // the per-JVM replay counter restarts while the warehouse dir persists:
    // drop table AND orphaned location or CREATE refuses the leftover dir
    graft.api.BucketedWrite.dropTable(spark, corpTbl)
    corpusDf.write.mode("overwrite").format("parquet").saveAsTable(corpTbl)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // foreachBatch executes on a CLONED SparkSession, and V1 table
        // relation caches are per-session: an insert invalidates only the
        // writing session's cache, so reads routed through any OTHER
        // session silently serve the pre-append file listing (measured:
        // every append invisible, all admissions false). All reads below go
        // through the batch's own session, refreshed defensively first —
        // the writes also run on it, keeping invalidation and lookup on the
        // same cache.
        val ss = batch.sparkSession
        Seq(corpTbl, idxTbl, s"${idxTbl}_hot").foreach(ss.catalog.refreshTable)
        val b = batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        val dup = graft.api.BandedLsh.nearDupAgainstIndex(idxTbl,
            ss.table(corpTbl), b, "doc_id", "text",
            ngramWidth, bandCount, bandSize, seed, threshold)
          .select(col("batch_id").as("doc_id")).distinct()
        // PIN the admission decision before any side effect: keep is lazy,
        // and the writes below mutate the very tables its probe reads — an
        // unpinned keep re-evaluates during the index append AFTER the
        // corpus insert landed this batch's own rows, so intra-batch
        // near-dup admits (A,B admitted together, sim > threshold) suddenly
        // see each other as corpus near-dups and BOTH drop out of the
        // re-evaluation: corpus keeps them but their signature rows are
        // never appended, and later near-dups probe into a hole. The
        // localCheckpoint also stops paying the probe join three times.
        val keep = b.join(dup, Seq("doc_id"), "left_anti").localCheckpoint(true)
        keep.write.mode("append").insertInto(corpTbl)
        graft.api.BandedLsh.appendToSignatureIndex(keep, idxTbl, "doc_id", "text",
          ngramWidth, bandCount, bandSize, seed)
        ()
      }
      .outputMode("update").start()
    try {
      val chunk = math.max(1, (stream.size + nBatches - 1) / nBatches)
      stream.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    // the final read is on the OUTER session — refresh or it too would
    // serve the build-time listing
    spark.catalog.refreshTable(corpTbl)
    stream.map(_._1).toDF("doc_id")
      .join(spark.table(corpTbl).select(col("doc_id"), lit(true).as("in_corpus")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("in_corpus"), lit(false)).as("admitted"))
  }

  /** Streaming day-2 admission: a document stream drives
    * [[graft.api.IncrementalCuration.admitBatch]] one micro-batch at a
    * time against day-1 state built on `corpus` — the crawl-side twin
    * of the batch day-2 seam, the way [[rollingDedupReplay]] twins the
    * signature index. Each foreachBatch invocation IS one admission
    * day: the batch admits through the full recipe, folds into the
    * statistic indexes, appends its full row set to the rolling corpus
    * LOOKUP table (admitBatch's coverage contract spans every indexed
    * id, so the lookup grows with the stream), and appends its admitted
    * rows to a results table. Output = the accumulated admitted rows —
    * bit-equal to batch-admitting the same slices in the same order
    * (which the oracle recomputes slice by slice as union-rerun
    * slices), and probe-consistent across micro-batches because every
    * admit runs on the batch's OWN cloned session with the state tables
    * defensively refreshed (the per-session V1 relation-cache trap
    * [[rollingDedupReplay]] documents). */
  def incrementalAdmitReplay(spark: SparkSession,
                             corpus: Seq[(Long, String, String)],
                             stream: Seq[(Long, String, String)],
                             bench: Seq[(Long, String)], nBatches: Int,
                             params: graft.api.IncrementalCuration.Params =
                               graft.api.IncrementalCuration.Params()): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = replaySeq.incrementAndGet()
    val prefix = s"graft_incadm_$n"
    val lookupTbl = s"${prefix}_lookup"
    val resTbl = s"${prefix}_admits"
    val benchTbl = s"${prefix}_bench"
    graft.api.IncrementalCuration.reset(spark, prefix)
    Seq(lookupTbl, resTbl, benchTbl)
      .foreach(graft.api.BucketedWrite.dropTable(spark, _))
    val corpusDf = corpus.toDF("doc_id", "text", "lang")
    // day-1 state build and the lookup/bench table writes are independent
    // (disjoint tables) — overlapped, guide §2.6
    graft.api.Par.run(spark, Seq[(String, () => Unit)](
      ("incrementalAdmitReplay: day-1 state build", () =>
        graft.api.IncrementalCuration.buildState(corpusDf, prefix,
          "doc_id", "text", col("lang") === "en", params)),
      // driver-local fixtures, scanned on every micro-batch's probe:
      // one file each, not defaultParallelism near-empty ones
      ("incrementalAdmitReplay: corpus lookup table", () =>
        corpusDf.coalesce(1).write.format("parquet").saveAsTable(lookupTbl)),
      ("incrementalAdmitReplay: bench table", () =>
        bench.toDF("doc_id", "text").coalesce(1).write.format("parquet")
          .saveAsTable(benchTbl))))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("doc_id", "text", "lang").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ss = batch.sparkSession
          (graft.api.IncrementalCuration.stateTables(prefix) ++
            Seq(lookupTbl, benchTbl, resTbl))
            .foreach(t => if (ss.catalog.tableExists(t)) ss.catalog.refreshTable(t))
          val b = batch.select(col("doc_id").cast("long").as("doc_id"),
            col("text"), col("lang"))
          // admitBatch pins its own output (localCheckpoint) before
          // returning, so the append below cannot see a later batch's
          // statistics through lazy re-evaluation
          val admitted = graft.api.IncrementalCuration.admitBatch(b,
            ss.table(benchTbl), ss.table(lookupTbl), prefix,
            "doc_id", "text", col("lang") === "en", params)
          // both tables grow AFTER the admit (the probe's candidates come
          // from the index, which gains this batch only during the admit)
          // and are disjoint — overlapped (guide §2.6); admitted is
          // already pinned by admitBatch, b by its persist
          graft.api.Par.run(ss, Seq[(String, () => Unit)](
            ("incrementalAdmitReplay: admitted rows append", () =>
              admitted.write.mode("append").format("parquet")
                .saveAsTable(resTbl)),
            ("incrementalAdmitReplay: lookup append", () =>
              b.select(ss.table(lookupTbl).columns.map(col).toIndexedSeq: _*)
                .write.mode("append").insertInto(lookupTbl))))
        }
        ()
      }
      .outputMode("update").start()
    try {
      val chunk = math.max(1, (stream.size + nBatches - 1) / nBatches)
      stream.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.catalog.refreshTable(resTbl)
    spark.table(resTbl)
  }

  /** Streaming ingestion into a persisted IVF-PQ index
    * ([[graft.api.Ann.saveIvfPqIndex]]): an embedding stream lands via
    * [[graft.api.Ann.appendToIvfPqIndex]] one micro-batch at a time — the
    * crawl-side twin of the batch append, the way [[rollingDedupReplay]]
    * twins the signature index. Because the models are FROZEN, per-batch
    * ingestion commutes: the final index is bit-identical to one big batch
    * append regardless of batch boundaries (spec-pinned), so what this
    * operator actually gates is the streaming PLUMBING — foreachBatch runs
    * on a CLONED SparkSession whose V1 relation cache is independent, so
    * every batch must refresh the model/codes tables through ITS OWN
    * session or the frozen-model load and the insert's file listing go
    * stale (the [[rollingDedupReplay]] trap, same fix). Returns per-cell
    * population of the final codes table. */
  def annAppendReplay(spark: SparkSession, tablePrefix: String,
                      stream: Seq[(Long, Seq[Double])],
                      nBatches: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        Seq(s"${tablePrefix}_codes", s"${tablePrefix}_model")
          .foreach(ss.catalog.refreshTable)
        graft.api.Ann.appendToIvfPqIndex(
          batch.select(col("vec_id").cast("long").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding")),
          tablePrefix)
        ()
      }
      .outputMode("update").start()
    try {
      val chunk = math.max(1, (stream.size + nBatches - 1) / nBatches)
      stream.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.catalog.refreshTable(s"${tablePrefix}_codes")
    spark.table(s"${tablePrefix}_codes")
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("cell_rows"))
  }

  /** Streaming ingestion into a persisted gram-span index
    * ([[graft.api.Dedup.saveGramIndex]]): each micro-batch lands via
    * [[graft.api.Dedup.appendToGramIndex]] — the last persisted index
    * family to get its streaming twin. Appends are order-ASSOCIATIVE by
    * construction (the flag state ultimately encodes the duplication
    * relation of the union, and each append flags BOTH sides of every
    * new cross-batch duplication), so the final index equals the batch
    * build over the whole corpus regardless of batch boundaries — the
    * gate reuses the batch dup-span oracle directly. The plumbing being
    * gated is the cloned-session refresh across the triples AND flags
    * tables (the rollingDedupReplay trap: a stale relation cache makes a
    * batch mine against the pre-append listing, silently under-flagging
    * every later duplication). Returns the final merged span set. */
  def gramIngestReplay(spark: SparkSession, table: String,
                       corpus: Seq[(Long, String)],
                       stream: Seq[(Long, String)], nBatches: Int,
                       width: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.api.Dedup.saveGramIndex(corpus.toDF("doc_id", "text"), table, 8,
      "doc_id", "text", width = width)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        Seq(table, s"${table}_flags").foreach(ss.catalog.refreshTable)
        graft.api.Dedup.appendToGramIndex(
          batch.select(col("doc_id").cast("long").as("doc_id"), col("text")),
          table, "doc_id", "text", width = width)
        ()
      }
      .outputMode("update").start()
    try {
      val chunk = math.max(1, (stream.size + nBatches - 1) / nBatches)
      stream.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    Seq(table, s"${table}_flags").foreach(spark.catalog.refreshTable)
    graft.api.Dedup.dupSpansFromIndex(spark, table)
  }

  /** Streaming novelty-gated ANN ingestion: [[annAppendReplay]]'s
    * foreachBatch plumbing around [[graft.api.Ann.admitNovelVectors]] —
    * each micro-batch searches the PRE-batch index state, drops
    * near-duplicates on the exact verdict, and appends survivors to both
    * stores. Cross-batch state is load-bearing exactly like
    * [[rollingDedupReplay]]: a clone of a batch-1 admit arriving in batch
    * 3 must drop on state batch 1 appended. Because admission semantics
    * are defined per batch (pre-batch state only), the streamed verdicts
    * are bit-equal to the batch-chunked driver loop at the same batch
    * boundaries — one oracle, two plans. The cloned-session refresh
    * covers all THREE tables the admit reads (codes, model, raw corpus).
    * Returns `(vec_id, admitted)` for the whole stream. */
  def annNoveltyReplay(spark: SparkSession, tablePrefix: String,
                       corpusTable: String,
                       stream: Seq[(Long, Seq[Double])], nBatches: Int,
                       tau: Double, nprobe: Int,
                       kCand: Int = 8): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        Seq(s"${tablePrefix}_codes", s"${tablePrefix}_model", corpusTable)
          .foreach(ss.catalog.refreshTable)
        graft.api.Ann.admitNovelVectors(
            batch.select(col("vec_id").cast("long").as("vec_id"),
              col("embedding").cast("array<double>").as("embedding")),
            tablePrefix, corpusTable, tau, nprobe, kCand)
          .collect()
          .foreach(r => verdicts.synchronized {
            verdicts += ((r.getLong(0), r.getBoolean(1))) })
        ()
      }
      .outputMode("update").start()
    try {
      val chunk = math.max(1, (stream.size + nBatches - 1) / nBatches)
      stream.grouped(chunk).foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    verdicts.toSeq.toDF("vec_id", "admitted")
  }

  /** Streaming WARC ingestion — the crawl-side arrival shape: tape files
    * land in a directory over time and each `Trigger.AvailableNow` pass
    * parses ONLY files the checkpoint has not seen (Structured
    * Streaming's file-source tracking is the exactly-once ledger; a
    * re-delivered or re-listed file is never re-parsed, so the output
    * accumulates each record exactly once). Parse is
    * [[graft.sources.WarcFiles.parseWarc]] per file — the batch source's
    * exact framing on the streaming arrival path.
    *
    * Each micro-batch writes mode-OVERWRITE to its own deterministic
    * directory `<outPath>/batch=<id>` — the idempotence the exactly-once
    * claim actually needs: the file-source checkpoint marks files seen
    * only when the batch COMMITS (after foreachBatch returns), so a
    * crash between a successful append and the commit would replay the
    * batch, and a bare table append would double-count every record;
    * the replayed batch id instead overwrites its own directory and the
    * accumulated output stays exact. Batch ids are monotonic per
    * checkpoint across restarts, so waves never collide. Read with
    * `spark.read.parquet(outPath)` (`batch` arrives as a hive partition
    * column). Call once per arrival wave; the checkpoint carries the
    * seen-file set across calls and across JVMs. */
  /** Shared stream construction for the WARC tape sources: checkpointable
    * binaryFile file stream → per-file strict-framing parse. One owner so
    * [[warcIngest]] and [[warcAdmitIngest]] cannot drift. */
  private def warcStream(spark: SparkSession, tapeGlob: String)
      : Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.types._
    spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(tapeGlob)
      .select("path", "content")
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY))
      .flatMap { case (p, b) => graft.sources.WarcFiles.parseWarc(p, b) }(
        org.apache.spark.sql.Encoders.row(graft.sources.WarcFiles.schema))
  }

  def warcIngest(spark: SparkSession, tapeGlob: String,
                 checkpoint: String, outPath: String): Unit = {
    val parsed = warcStream(spark, tapeGlob)
    val q = parsed.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        df.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()
    q.awaitTermination()
  }

  /** The production day-N loop as ONE pipeline: a WARC tape wave arrives
    * on disk, the checkpointed file stream parses only the files no prior
    * pass has seen ([[warcIngest]]'s exactly-once file discipline), and
    * each micro-batch admits through the full day-2 recipe
    * ([[graft.api.IncrementalCuration.admitBatch]]) against the persisted
    * day-1 state — the composition of [[warcIngest]] and
    * [[incrementalAdmitReplay]] that neither proves alone. The caller
    * supplies `project`, the mapping from the parsed WARC record frame
    * (`path, record_offset, warc_type, record_id, target_uri, warc_date,
    * content_type, content`) to the admit inputs — a frame with a
    * unique long `doc_id`, a string `text`, and whatever column(s)
    * `label` reads (real tapes carry ids/text/routing in tape-specific
    * places; hardcoding one extraction here would silently null every
    * other tape's ids). Each wave call is one AvailableNow pass = one
    * admission day; admitted rows land in `resTbl`, the batch's full
    * row set in `lookupTbl` AFTER the admit (probe-coverage contract).
    * Every table access runs on the micro-batch's own cloned session
    * with a defensive refresh (the V1 relation-cache trap
    * [[rollingDedupReplay]] documents).
    *
    * Replay safety (exactly-once state): each micro-batch admits under
    * generation tag `warc_b<batchId>` — batch ids are stable across a
    * crash/restart of the same checkpoint, so a wave replayed because
    * the crash landed BETWEEN the admit and the checkpoint commit finds
    * its `gen_done` marker, skips every state mutation, and
    * reconstructs the bit-equal admitted rows ([[graft.api
    * .IncrementalCuration.admitBatch]]'s generation contract); the
    * `resTbl`/`lookupTbl` appends are id-anti-joined against the live
    * table so the replayed rows land exactly once (ids are unique
    * across days; the anti-join is an id-only column-pruned scan — at
    * warehouse scale, swap for a `batch=<id>` partition-overwrite
    * layout if the scan shows up). A crash landing MID-append leaves
    * `gen_started` without `gen_done` and the replay REFUSES loudly —
    * torn statistics need the [[graft.api.IncrementalCuration
    * .compactState]]-committed restore path, not a silent re-append.
    *
    * `crashBeforeCommit` is the test seam that plants exactly the
    * worst-case crash: the batch completes every write, then throws
    * before foreachBatch returns, so the checkpoint never commits and
    * the next call must replay the wave (gated: `stream_admit_replay`
    * is bit-equal to the uncrashed twin `stream_warc_admit`). */
  def warcAdmitIngest(spark: SparkSession, tapeGlob: String,
                      checkpoint: String, prefix: String, lookupTbl: String,
                      benchTbl: String, resTbl: String,
                      project: DataFrame => DataFrame,
                      label: Column = col("lang") === "en",
                      params: graft.api.IncrementalCuration.Params =
                        graft.api.IncrementalCuration.Params(),
                      crashBeforeCommit: Boolean = false): Unit = {
    val parsed = warcStream(spark, tapeGlob)
    val q = parsed.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!df.isEmpty) {
          val ss = df.sparkSession
          (graft.api.IncrementalCuration.stateTables(prefix) ++
            Seq(lookupTbl, benchTbl, resTbl))
            .foreach(t => if (ss.catalog.tableExists(t)) ss.catalog.refreshTable(t))
          val b = project(df.toDF())
          val admitted = graft.api.IncrementalCuration.admitBatch(b,
            ss.table(benchTbl), ss.table(lookupTbl), prefix,
            "doc_id", "text", label, params,
            generation = Some(s"warc_b$batchId"))
          // idempotent-by-id appends: a replayed wave re-produces the
          // same rows; only ids the table lacks land (ids unique across
          // days, so a first run appends everything, a replay nothing)
          def appendMissing(rows: DataFrame, tbl: String): Unit =
            if (!ss.catalog.tableExists(tbl))
              rows.write.format("parquet").saveAsTable(tbl)
            else rows
              .join(ss.table(tbl).select("doc_id"), Seq("doc_id"), "left_anti")
              .select(ss.table(tbl).columns.map(col).toIndexedSeq: _*)
              .write.mode("append").insertInto(tbl)
          // disjoint tables, both anti-join-guarded (idempotent by id) —
          // overlapped (guide §2.6): any crash interleaving leaves a
          // subset a replay converges from, same as the sequential order
          graft.api.Par.run(ss, Seq[(String, () => Unit)](
            ("warcAdmitIngest: admitted rows append", () =>
              appendMissing(admitted, resTbl)),
            ("warcAdmitIngest: lookup append", () =>
              appendMissing(b, lookupTbl))))
          if (crashBeforeCommit) throw new IllegalStateException(
            "planted crash between admit and checkpoint commit (test seam)")
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Batch-mode sessionization with identical gap semantics, built on window
    * functions — the oracle twin of [[sessionize]] and the scalable batch
    * formulation (two shuffles: by user, then by (user, session)). */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > gapMs / 1000, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(byUser))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("start"), max("ts").as("end"), count(lit(1)).as("events"))
  }
}
