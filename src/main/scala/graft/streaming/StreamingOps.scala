package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Widen
import graft.textops.{CdcChunker, LineDedup, NearDup, SpanDedup}

/** Structured Streaming variants of the batch operators (SURVEY §7.4.8 —
  * an extension, not reference surface; the reference is batch-only).
  * The column-expression core (parsing, risk features, rules) is shared
  * with the batch path — these wrappers only swap the stateful pieces:
  *
  *  - W1 sessionization  -> `session_window` + watermark
  *  - A1 request counts  -> windowed agg with watermark
  *  - W2-ish burst state -> `flatMapGroupsWithState` with event-time
  *    timeout (bounded state: one in-flight burst per key)
  *
  * The incremental-index ingest loops (near-dup, fingerprint, span,
  * CDC, line-clean, ANN) keep no streaming state: the corpus lives in a
  * persisted index, bounded by disk, and each batch's shuffle is sized
  * by the batch. They share one replay-safe protocol, written once on
  * [[pinnedIngest]]: the index ledger drops replayed ids, the batch is
  * pinned before the index mutates, the sink runs before the append,
  * and the pins are released on every exit. Each returns the configured
  * writer; the caller sets checkpoint/trigger and calls `start()`.
  */
object StreamingOps {

  /** Streaming W1: gap-based sessions per (source, ip). Late data beyond
    * `watermark` is dropped; session ids are (source, ip, window start)
    * rather than a global dense id — a global ordinal is not computable
    * incrementally (the batch path's dense numbering needs the full key
    * set).
    */
  def sessionize(
      logs: DataFrame,
      gapSeconds: Long = 60,
      watermark: String = "10 minutes"): DataFrame =
    logs
      .withWatermark("utc_timestamp", watermark)
      .groupBy(
        session_window(col("utc_timestamp"), s"$gapSeconds seconds"),
        col("source"), col("ip"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("utc_timestamp")).as("session_start"),
        max(col("utc_timestamp")).as("session_end"))

  /** Streaming A1: per-(source, ip, method, request_uri) counts in
    * tumbling windows.
    */
  def requestCounts(
      logs: DataFrame,
      window: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    logs
      .withWatermark("utc_timestamp", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("utc_timestamp"), window),
        col("source"), col("ip"), col("method"), col("request_uri"))
      .agg(count(lit(1)).as("request_count"))

  /** Streaming D1 analogue: exact-key dedup with state bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark`). Semantics
    * diverge from batch D1 deliberately: the batch rule keeps
    * non-first occurrences whose key stays within ONE source, but
    * cross-source membership is not incrementally computable without
    * unbounded per-key state, so the streaming variant drops every
    * duplicate key inside the horizon (the conservative superset — the
    * standard streaming-dedup contract). Keys seen again after the
    * watermark expires are emitted again; size the watermark to the
    * replay window of the upstream transport.
    */
  def dedupExact(
      logs: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "utc_timestamp",
      watermark: String = "10 minutes"): DataFrame =
    logs
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class ToolEvent(source: String, ip: String, uri: String,
      epochMicros: Long, rowId: Long)
  final case class ToolProgress(startMicros: Long, found: Set[String], collected: Seq[Long])
  final case class ToolScanState(perTool: Map[String, ToolProgress])
  final case class ToolAssignment(source: String, ip: String, rowId: Long, tool: String)

  /** Streaming W3 analogue: per (source, ip), track each tool
    * signature's keyword progress; when ALL keywords have been seen
    * within `timeWindowSeconds` of the window's first hit, every
    * collected row is emitted with the tool id, and that tool's window
    * resets. A hit arriving after the window expires restarts the
    * window at that hit.
    *
    * Deliberate divergences from the batch scanner (its semantics need
    * the COMPLETE group): single forward pass (no rescan from every
    * unconsumed candidate), assignments emit once on completion
    * (append-mode stream, no last-wins overwrite), and grouping is
    * (source, ip) with the time window standing in for the session
    * boundary. State per key is bounded by window-duration × hit rate
    * per tool — which is why the batch scanner's `time_window == 0`
    * (unlimited) contract is REJECTED here: an unlimited window over an
    * unbounded stream would grow `collected` forever (checkpoint bloat,
    * executor OOM); pick an explicit horizon instead.
    */
  def toolScan(
      events: Dataset[ToolEvent],
      signatures: Seq[graft.rules.ToolSignature]): Dataset[ToolAssignment] = {
    import events.sparkSession.implicits._
    require(signatures.forall(_.timeWindowSeconds > 0),
      "streaming toolScan needs a finite time window per signature " +
        "(time_window=0 means unlimited in batch; unbounded state on a stream)")
    val sigs = signatures
      .map(s => (s.tool, s.keywords.map(_.toLowerCase.trim).filter(_.nonEmpty).toSet,
        s.timeWindowSeconds * 1000000L))
      .filter(_._2.nonEmpty)
    events
      .groupByKey(e => (e.source, e.ip))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, String), it: Iterator[ToolEvent], state: GroupState[ToolScanState]) => {
          val sorted = it.toSeq.sortBy(e => (e.epochMicros, e.rowId))
          var perTool = state.getOption.map(_.perTool).getOrElse(Map.empty)
          val out = Seq.newBuilder[ToolAssignment]
          for (e <- sorted) {
            val uri = e.uri.toLowerCase
            for ((tool, req, windowMicros) <- sigs) {
              val hits = req.filter(uri.contains)
              if (hits.nonEmpty) {
                val prev = perTool.get(tool) match {
                  case Some(p) if e.epochMicros - p.startMicros <= windowMicros => p
                  case _ => ToolProgress(e.epochMicros, Set.empty, Seq.empty)
                }
                val next = ToolProgress(prev.startMicros,
                  prev.found ++ hits, prev.collected :+ e.rowId)
                if (req.subsetOf(next.found)) {
                  next.collected.foreach(id =>
                    out += ToolAssignment(key._1, key._2, id, tool))
                  perTool = perTool - tool
                } else {
                  perTool = perTool.updated(tool, next)
                }
              }
            }
          }
          // no live windows -> drop the state entry entirely (NoTimeout
          // would otherwise keep one per (source, ip) ever seen)
          if (perTool.isEmpty) state.remove()
          else state.update(ToolScanState(perTool))
          out.result().iterator
        })
  }

  final case class AsofEvent(key: String, ts: java.sql.Timestamp,
      isLeft: Boolean, rowId: Long, value: String)
  final case class AsofPending(lefts: Seq[(Long, Long)], rights: Seq[(Long, String)])
  /** `tsMs` is None for a null-time left row (the batch twin preserves
    * the null left time too) — an in-band sentinel like -1 would
    * collide with legitimate pre-1970 event times.
    */
  final case class AsofResult(key: String, rowId: Long, tsMs: Option[Long],
      matchTsMs: Option[Long], value: Option[String])

  /** Streaming analogue of [[graft.operators.AsofJoin.asofBackward]]:
    * left events and right state-updates arrive as ONE tagged stream; a
    * left row is answered with the most recent right value at or before
    * its event time (`>=` tie semantics, ties on (time) resolved to the
    * greatest value — both matching the batch operator).
    *
    * Out-of-order correctness is what the watermark buys: a left row is
    * NOT answered until the watermark passes its event time, so any
    * right update that can still legally arrive (i.e. is not yet late)
    * gets to win first. Rows later than the watermark are dropped by
    * the engine — that horizon is the correctness contract.
    *
    * State per key is bounded: pending lefts ahead of the watermark,
    * rights ahead of the watermark, plus exactly ONE carry (the latest
    * right at-or-before the watermark — the only one any future left
    * can still match, because rights are consumed newest-first).
    * Pending lefts schedule an event-time timeout at their earliest
    * time, so a key drains even if it never receives another event.
    */
  def asofJoin(
      events: Dataset[AsofEvent],
      watermark: String = "10 seconds"): Dataset[AsofResult] = {
    import events.sparkSession.implicits._
    // batch-twin null semantics, handled BEFORE the stateful path (a
    // null event time has no place on a watermarked timeline): null-time
    // rights are dropped; null-time lefts emit an immediate no-match row
    val nullTimeLefts = events.filter(e => e.ts == null && e.isLeft)
      .map(e => AsofResult(e.key, e.rowId, None, None, None))
    val timed = events.filter(_.ts != null)
    val matched = timed
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, it: Iterator[AsofEvent], state: GroupState[AsofPending]) => {
          val st = state.getOption.getOrElse(AsofPending(Nil, Nil))
          val incoming = it.toSeq
          val lefts = st.lefts ++ incoming.filter(_.isLeft).map(e => (e.ts.getTime, e.rowId))
          // null VALUES are legal (unlike null times): order them first
          // on (time) ties, matching the batch window's asc_nulls_first
          val rights = (st.rights ++
            incoming.filterNot(_.isLeft).map(e => (e.ts.getTime, e.value)))
            .sortBy { case (t, v) => (t, Option(v)) }
          val wmMs = state.getCurrentWatermarkMs()

          val (ready, pending) = lefts.partition(_._1 <= wmMs)
          val out = ready.sorted.map { case (ts, rowId) =>
            rights.takeWhile(_._1 <= ts).lastOption match {
              case Some((rt, v)) => AsofResult(key, rowId, Some(ts), Some(rt), Some(v))
              case None => AsofResult(key, rowId, Some(ts), None, None)
            }
          }

          // prune: one carry at-or-before the watermark + everything after
          val (old, fresh) = rights.partition(_._1 <= wmMs)
          val kept = old.lastOption.toSeq ++ fresh
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsofPending(pending, kept))
            // drain pending lefts even if this key never sees another
            // event; their times are all > wmMs, as the timeout API requires
            if (pending.nonEmpty) state.setTimeoutTimestamp(pending.map(_._1).min)
          }
          out.iterator
        })
    matched.union(nullTimeLefts)
  }

  /** The one micro-batch body of the pinned ingest loops
    * ([[dedupIngest]], [[dedupIngestFingerprints]], [[spanDedupIngest]],
    * [[cdcChunkIngest]], [[annIngest]]). Per batch it pins the batch,
    * pins `survivors(batch)`, hands the survivors to `sink`, then calls
    * `append(batch, survivors)`, and releases both pins on every exit
    * ([[graft.operators.Widen.pinned]]).
    *
    * Pin before append: the survivors plan reads the index (the
    * ledger's replay anti-join, a near-dup probe) and `append` MUTATES
    * it, so a lazy frame re-evaluated by the sink after the append
    * would anti-join away the ids it just appended and hand the sink
    * an empty batch. The batch pin also evaluates the stream's per-row
    * expressions (shingles, an image fingerprint) once for every
    * consumer.
    *
    * Sink before append: a sink failure replays the batch with the
    * index unchanged, so the batch re-survives and is re-delivered
    * (standard foreachBatch at-least-once: make the sink idempotent on
    * `batchId`). Appending first would let the replay's anti-join drop
    * the batch and hand the sink nothing, silently losing rows the
    * index already holds. A crash between sink and append re-delivers
    * and THEN appends, covered by the same idempotent-sink contract.
    *
    * Release on every exit: a transiently failing sink would otherwise
    * leak both checkpoint block sets on every replayed batch until
    * executor storage degrades the stream.
    */
  private def pinnedIngest(stream: DataFrame, sink: (DataFrame, Long) => Unit)(
      survivors: DataFrame => DataFrame)(
      append: (DataFrame, DataFrame) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      Widen.pinned(batch.toDF()) { pinned =>
        Widen.pinned(survivors(pinned)) { out =>
          sink(out, batchId)
          append(pinned, out)
        }
      }
    }

  /** Continuous-crawl near-dup ingestion: each micro-batch is deduped
    * in-batch and against the persisted minhash index
    * ([[graft.textops.NearDup.dedupNewBatch]]), handed to `sink`, and
    * appended to the index so the NEXT batch dedups against it
    * ([[pinnedIngest]]'s protocol). The batch is shingled ONCE, on
    * the stream before the pin: the pinned (rows + shingle column)
    * frame feeds in-batch pair gen, the index probe and the append,
    * and the corpus side is never re-shingled at all. The sink gets
    * the survivors without the shingle column.
    */
  def dedupIngest(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      sink: (DataFrame, Long) => Unit,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Long = 100): DataStreamWriter[Row] = {
    pinnedIngest(
      docs.withColumn(NearDup.ShCol, NearDup.hashedShingles(col(textCol), shingleSize)),
      (out, batchId) => sink(out.drop(NearDup.ShCol), batchId))(
      NearDup.dedupNewBatchPrepared(_, idCol, indexDir, k, bands, threshold, maxBucketSize)) {
      (_, out) =>
        NearDup.writeMinhashIndexFromShingles(
          out.select(col(idCol).as("id"), col(NearDup.ShCol).as("sh")),
          indexDir, k, bands, "append")
    }
  }

  /** Streaming incremental near-dup ingestion for the FINGERPRINT
    * (image) family: [[dedupIngest]]'s shape over
    * [[graft.textops.NearDup.dedupNewFingerprintBatch]]. Each batch
    * drops replays (index ids), in-batch near-dups and near-dups of
    * the persisted corpus, delivers the survivors to `sink`, then
    * appends them so the NEXT batch sees them. The stream frame must
    * already carry the fingerprint column (e.g.
    * `withColumn("fp", PerceptualHash.dhash64(col("bytes")))`); the
    * batch pin computes it once per batch.
    */
  def dedupIngestFingerprints(
      media: DataFrame, idCol: String, fpCol: String, indexDir: String,
      sink: (DataFrame, Long) => Unit,
      maxHamming: Int = 3, maxBucketSize: Long = 0): DataStreamWriter[Row] = {
    pinnedIngest(media, sink)(
      NearDup.dedupNewFingerprintBatch(_, idCol, fpCol, indexDir, maxHamming, maxBucketSize)) {
      (_, out) => NearDup.appendToFingerprintIndex(out, idCol, fpCol, indexDir)
    }
  }

  /** Streaming incremental SUBSTRING dedup, the span family's
    * ingestion loop over [[graft.textops.SpanDedup.dedupSpansNewBatch]]:
    * each batch drops replayed ids, trims in-batch duplicate spans AND
    * spans already seen in history, delivers the trimmed rows to
    * `sink`, then appends the batch's ids + window hashes so the next
    * batch sees them. The ledger-first append order inside
    * [[graft.textops.SpanDedup.appendToSpanIndex]] keeps replays
    * no-ops. Batch ids must ascend across batches.
    */
  def spanDedupIngest(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      sink: (DataFrame, Long) => Unit, k: Int = 8): DataStreamWriter[Row] = {
    pinnedIngest(docs, sink)(SpanDedup.dedupSpansNewBatch(_, idCol, textCol, indexDir, k)) {
      (pinned, out) =>
        // append the FRESH rows' ORIGINAL text (history must hold
        // every window seen, including ones trimmed from the
        // output): out carries exactly the fresh ids
        SpanDedup.appendToSpanIndex(
          pinned.join(out.select(col(idCol)), Seq(idCol), "left_semi"),
          idCol, textCol, indexDir, k)
    }
  }

  /** Streaming CDC storage-dedup loop: each micro-batch chunks its
    * docs, reports per-doc dedup accounting against EVERYTHING
    * ingested so far ([[graft.textops.CdcChunker.dedupStatsAgainstIndex]]
    * — the restic/borg per-backup ratio) to `sink`, then appends its
    * novel chunk hashes. A replayed batch reports against the same
    * history and the ledger drops its re-append. StreamingOpsSpec pins
    * the batch-sequence stats equal to batch-by-batch recomputation
    * against the union of previous batches.
    */
  def cdcChunkIngest(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    pinnedIngest(docs, sink)(CdcChunker.dedupStatsAgainstIndex(_, idCol, textCol, indexDir)) {
      (pinned, _) => CdcChunker.appendToChunkIndex(pinned, idCol, textCol, indexDir)
    }
  }

  final case class BurstKey(source: String, ip: String, request_uri: String)
  final case class BurstEvent(source: String, ip: String, request_uri: String,
      epochMicros: Long, status: Int)
  final case class BurstState(startMicros: Long, lastMicros: Long, n: Long)
  final case class BurstAlert(source: String, ip: String, request_uri: String,
      startMicros: Long, endMicros: Long, n: Long)

  /** Streaming W2 analogue: per (source, ip, uri), consecutive 500s with
    * inter-arrival gap <= maxGapSeconds accumulate; once the count
    * reaches `minRequests` the burst is emitted (once, on the row that
    * crosses the threshold). State is O(1) per key.
    *
    * NoTimeout here: a stale key's state is one small struct, and a
    * ProcessingTimeTimeout would keep scheduling timeout batches, which
    * makes `processAllAvailable`-style draining (tests, backfills) spin
    * forever. A long-running production deployment bounds state with
    * `GroupStateTimeout.EventTimeTimeout` + a watermark on the source
    * instead.
    */
  def burstAlerts(
      events: Dataset[BurstEvent],
      minRequests: Long = 100,
      maxGapSeconds: Double = 1.0): Dataset[BurstAlert] = {
    import events.sparkSession.implicits._
    val gapMicros = (maxGapSeconds * 1e6).toLong
    events
      .filter(_.status == 500)
      .groupByKey(e => BurstKey(e.source, e.ip, e.request_uri))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: BurstKey, it: Iterator[BurstEvent], state: GroupState[BurstState]) => {
          val sorted = it.toSeq.sortBy(_.epochMicros)
          var st = state.getOption.getOrElse(BurstState(-1L, -1L, 0L))
          val alerts = Seq.newBuilder[BurstAlert]
          for (e <- sorted) {
            st =
              if (st.n == 0L || e.epochMicros - st.lastMicros > gapMicros)
                BurstState(e.epochMicros, e.epochMicros, 1L)
              else st.copy(lastMicros = e.epochMicros, n = st.n + 1)
            if (st.n == minRequests)
              alerts += BurstAlert(key.source, key.ip, key.request_uri,
                st.startMicros, st.lastMicros, st.n)
          }
          state.update(st)
          alerts.result().iterator
        })
  }

  final case class UrlEvent(host: String, url: String)
  final case class HostCounter(next: Long)

  /** Streaming crawl-politeness scheduling — q147's
    * ([[graft.operators.CrawlScheduler]]) live twin (round-10 verdict
    * item 5): the frontier arrives as a stream; every URL gets a
    * per-host fetch slot continuing from everything scheduled for
    * that host SO FAR (a stateful counter per host —
    * `flatMapGroupsWithState`), and `fetch_time_ms = slot · delay`
    * exactly as in batch. Within one micro-batch a host's URLs take
    * slots in md5(url) order — the batch plan's deterministic fair
    * queueing — so the streamed schedule is PREFIX-EQUAL to applying
    * the batch scheduler per batch with carried-over offsets
    * (StreamingOpsSpec pins it).
    *
    * State is one Long per host — bounded by the host universe, the
    * smallest state of any twin here, and deliberately NOT timed out:
    * expiring a counter would hand a revisited host slot 0 again and
    * violate the politeness contract the operator exists to enforce.
    * (A deployment that anchors fetch_time to wall clock instead of
    * slot arithmetic can add an event-time timeout; the counter is
    * then advisory.) The delay join is a stateless broadcast after
    * the stateful op, exactly the batch shape.
    */
  def politenessSchedule(
      urls: DataFrame, hostCol: String, urlCol: String,
      delays: DataFrame, defaultDelayMs: Long = 1000L): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    val slotted = urls
      .select(col(hostCol).cast("string").as("host"),
        col(urlCol).cast("string").as("url"))
      .as[UrlEvent]
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (host: String, it: Iterator[UrlEvent], state: GroupState[HostCounter]) => {
          val start = state.getOption.map(_.next).getOrElse(0L)
          // the batch scheduler's within-host order: (md5, url)
          val ordered = it.toVector.sortBy(e => (md5hex(e.url), e.url))
          state.update(HostCounter(start + ordered.length))
          ordered.iterator.zipWithIndex.map { case (e, i) =>
            (host, e.url, start + i)
          }
        })
      .toDF(hostCol, urlCol, "fetch_slot")
    val d = delays.select(col(hostCol),
      col("delay_ms").cast("long").as("_cs_d"))
    slotted
      .join(broadcast(d), Seq(hostCol), "left")
      .withColumn("fetch_time_ms",
        col("fetch_slot") * coalesce(col("_cs_d"), lit(defaultDelayMs)))
      .drop("_cs_d")
  }

  /** The streaming crawl FRONTIER end-to-end (round-11; composes the
    * round's parser with the gates and the politeness scheduler):
    * discovered URLs stream in; domain-blocklisted hosts drop, robots
    * rules gate per path, and survivors take per-host fetch slots.
    *
    * The robots decision here is deliberately AGGREGATION-FREE so it
    * can sit upstream of `flatMapGroupsWithState` in append mode
    * (Spark rejects stateful-after-aggregate chains): the rule table
    * pre-aggregates per host into a (len DESC, allow-first) sorted
    * ARRAY — a BATCH-side groupBy, done once — and the stream side is
    * a stream-static broadcast join + a scalar first-matching-prefix
    * lambda. Longest-prefix / allow-beats-disallow semantics equal
    * [[graft.operators.RobotsGate.decide]]'s max-struct form
    * (StreamingOpsSpec pins the allowed-set equality). The blocklist
    * check is the label-aligned suffix rule as a scalar `exists` over
    * the (bounded, literal) domain list.
    *
    * `parsedRobots` is [[graft.operators.RobotsGate.parseRobots]]
    * output — `kind = rule` rows gate, `kind = delay` rows feed the
    * scheduler. Output = [[politenessSchedule]]'s schema over the
    * gated stream.
    */
  def frontierSchedule(
      urls: DataFrame, urlCol: String, parsedRobots: DataFrame,
      blockedDomains: Seq[String],
      defaultDelayMs: Long = 1000L): DataFrame = {
    import graft.operators.{Blocklist, RobotsGate}
    val rulesByHost = parsedRobots.filter(col("kind") === "rule")
      .select(col("host"),
        // DESC sort: len first (longest prefix wins), then ord with
        // allow=1 > disallow=0 (allow beats disallow on exact ties —
        // RobotsGate.decide's max-struct order)
        struct(
          length(col("prefix")).as("len"),
          when(col("allow"), 1).otherwise(0).as("ord"),
          col("allow").as("allow"), col("prefix").as("prefix")).as("_r"))
      .groupBy(col("host"))
      .agg(sort_array(collect_list(col("_r")), asc = false).as("_fr_rules"))
    val delays = parsedRobots.filter(col("kind") === "delay")
      .select(col("host"), col("delay_ms"))
    val withHost = urls
      .withColumn("host", Blocklist.urlHost(col(urlCol)))
      .withColumn("_fr_path", RobotsGate.urlPath(col(urlCol)))
      .filter(col("host").isNotNull)
      .filter(!exists(typedLit(blockedDomains),
        d => col("host") === d || col("host").endsWith(concat(lit("."), d))))
    val gated = withHost
      .join(broadcast(rulesByHost), Seq("host"), "left")
      .withColumn("_fr_m", filter(coalesce(col("_fr_rules"),
          array().cast(
            "array<struct<len:int,ord:int,allow:boolean,prefix:string>>")),
        r => col("_fr_path").startsWith(r.getField("prefix"))))
      .filter(size(col("_fr_m")) === 0 || col("_fr_m").getItem(0).getField("allow"))
      .drop("_fr_rules", "_fr_m", "_fr_path")
    politenessSchedule(gated, "host", urlCol, delays, defaultDelayMs)
  }

  /** Streaming line-level boilerplate cleaning over a growing
    * line-frequency index ([[graft.textops.LineDedup]]): each batch is
    * cleaned against the hot-line set AS OF THE PREVIOUS batches (a
    * line becomes boilerplate only once history proves it — the
    * incremental-index contract), delivered to `sink`, then appended
    * to the index so the NEXT batch counts it. [[pinnedIngest]]'s
    * protocol with the batch pin only: the cleaned frame has one
    * consumer, the sink, which runs before the append, and the index
    * append itself drops replayed batches via the ingestion ledger.
    */
  def lineCleanIngest(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String,
      minDf: Long, sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Widen.pinned(batch.toDF()) { b =>
        sink(LineDedup.cleanAgainstLineIndex(b, idCol, textCol, indexDir, minDf), batchId)
        LineDedup.appendToLineIndex(b, idCol, textCol, indexDir)
      }
    }

  /** Streaming corpus statistics — continuous ingest monitoring with
    * FIXED state per group: exact running term counts plus the three
    * mergeable sketches ([[graft.operators.HeavyHitters]] Misra-Gries
    * top terms, [[graft.operators.DistinctSketch]] KMV distinct
    * estimate, [[graft.operators.CountMin]] frequency counters for
    * arbitrary later point probes) as ONE streaming aggregation. The
    * TypedImperativeAggregate buffers serialize into the state store
    * between micro-batches, so per-group state is O(mgCapacity + kmvK
    * + cmsDepth*cmsWidth) regardless of stream length — the streaming
    * twin of q80/q82/q89, and after any prefix of the stream the
    * results are IDENTICAL to the batch aggregates over that prefix
    * (mergeability is exactly partition/batch-order independence;
    * StreamingOpsSpec pins this). Run in complete/update output mode
    * (global stats, no watermark — the state is the fixed-size
    * summaries themselves, not row history).
    */
  def corpusStats(
      terms: DataFrame, groupCol: String, termCol: String,
      mgCapacity: Int = 256, kmvK: Int = 64,
      cmsDepth: Int = 4, cmsWidth: Int = 256, quantileK: Int = 256): DataFrame =
    terms.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_terms"),
      graft.operators.DistinctSketch.kmv(
        graft.operators.DistinctSketch.hash60(col(termCol)), kmvK).as("distinct_sketch"),
      graft.operators.HeavyHitters.mg_summary(col(termCol), mgCapacity)
        .as("heavy_hitters"),
      graft.operators.CountMin.cms(col(termCol), cmsDepth, cmsWidth)
        .as("freq_sketch"),
      // "p99 term length so far" — the quantile member of the sketch
      // family; mergeable, so batch-prefix ≡ streaming state holds for
      // it exactly as for the other three
      graft.operators.QuantileSketch.qsketch(
        length(col(termCol)).cast("long"), quantileK).as("len_quantiles"),
      // HLL registers (64 bytes of state) — the max-merge distinct
      // sketch; complements KMV (exact below k) with the register
      // form rollup cubes max-merge (q139's aggregate twin)
      graft.operators.Hll.hll(
        graft.operators.DistinctSketch.hash60(col(termCol))).as("hll_sketch"))

  /** Bootstrap the vector store + IVF index that [[annIngest]] grows:
    * fit the quantizer on the bootstrap corpus, persist centroids +
    * assignments ([[graft.vector.Ivf.writeIndex]]) and the vectors
    * themselves under `<dir>/vectors.parquet`. The quantizer is FIXED
    * from here on (the appendToIndex contract); re-train by
    * re-bootstrapping when drift warrants it.
    */
  def annIngestInit(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int): Unit = {
    val centroids = graft.vector.Ivf.fitCentroids(corpus, vecCol, nlist)
    graft.vector.Ivf.writeIndex(corpus, idCol, vecCol, dir, centroids)
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$dir/vectors.parquet")
  }

  /** Streaming ANN ingestion — the vector twin of [[dedupIngest]]:
    * each micro-batch drops ids the index already holds (replay
    * protection), delivers the survivors to `sink`, appends their
    * vectors to the store and their cell assignments to the persisted
    * IVF index — the NEXT batch (and any [[annIngestSearch]]) sees
    * them ([[pinnedIngest]]'s protocol).
    *
    * Append order: vectors — idempotently, via an id anti-join against
    * the store — then the assignment append. A crash after the vectors
    * write replays into a re-sink + skipped vector append + assignment
    * append; there is no order in which a replayed id double-lands in
    * either store.
    *
    * `compactAboveFiles > 0` bounds steady-state file counts: after a
    * batch commits, if either store exceeds the threshold it folds
    * back down (tombstone-applying index compact; row-preserving
    * store coalesce) — without this, one file set accretes per batch
    * forever.
    */
  def annIngest(
      vecs: DataFrame, idCol: String, vecCol: String, dir: String,
      sink: (DataFrame, Long) => Unit,
      compactAboveFiles: Int = 0): DataStreamWriter[Row] = {
    val spark = vecs.sparkSession
    pinnedIngest(vecs, sink) { pinned =>
      val known = spark.read.parquet(s"$dir/cells.parquet").select(col("id").as("_an_known"))
      pinned.join(known, pinned(idCol) === col("_an_known"), "left_anti")
    } { (_, fresh) =>
      val vectors = fresh.select(col(idCol).as("id"), col(vecCol).as("vec"))
      graft.operators.IndexOps.unledgered(vectors, "id", s"$dir/vectors.parquet")
        .getOrElse(vectors).write.mode("append").parquet(s"$dir/vectors.parquet")
      graft.vector.Ivf.appendToIndex(fresh, idCol, vecCol, dir)
      // steady-state file-count bound: per-batch appends accrete
      // one file set per batch; above the threshold, fold the
      // assignment index (tombstone-applying compact) and the
      // vector store (row-preserving coalesce) back down. Runs
      // AFTER the batch commits — a crash mid-compact replays
      // into a no-op batch plus a re-compact.
      if (compactAboveFiles > 0) {
        def files(p: String): Int = {
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(hp)) 0
          else fs.listStatus(hp).count(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))
        }
        if (files(s"$dir/cells.parquet") > compactAboveFiles)
          graft.vector.Ivf.compactIndex(spark, dir)
        if (files(s"$dir/vectors.parquet") > compactAboveFiles) {
          val rows = spark.read.parquet(s"$dir/vectors.parquet").count()
          graft.operators.StorageLayout.compactSmallFiles(
            spark, s"$dir/vectors.parquet",
            targetRowsPerFile = math.max(1L, rows / 4))
        }
      }
    }
  }

  /** Search the [[annIngest]]-grown index: the persisted-index path
    * over the persisted vector store.
    */
  def annIngestSearch(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int = 4): DataFrame =
    graft.vector.Ivf.searchIndex(
      spark.read.parquet(s"$dir/vectors.parquet"), "id", "vec",
      queries, qidCol, qvecCol, dir, k, nprobe)

  /** Exactly-once streaming append into a [[graft.operators.TableLog]]
    * table: each micro-batch commits as ONE atomic table version
    * tagged `batch-<id>`; a replayed batch finds its tag in a
    * committed manifest and skips entirely. Unlike the built-in file
    * sink's private commit log, the result is a versioned,
    * time-travelable table any [[graft.operators.TableLog.read]]
    * serves consistently mid-stream (readers see whole versions,
    * never a half-written batch). The table must exist
    * ([[graft.operators.TableLog.create]] a seed or empty-schema
    * frame first).
    */
  def tableLogSink(rows: DataFrame, path: String): DataStreamWriter[Row] =
    tableLogSink(rows, path, compactAboveFiles = 0, targetRowsPerFile = 0L)

  /** [[tableLogSink]] with steady-state file-count maintenance: after
    * each committed batch, if the table's CURRENT version lists more
    * than `compactAboveFiles` files, fold a [[graft.operators.TableLog.compact]]
    * toward `targetRowsPerFile` as the next version (the annIngest
    * `compactAboveFiles` discipline on the table log). Replay-safe:
    * the append commits (tagged) BEFORE the fold, a replayed batch is
    * recognized by its tag and never re-appended, and a compact that
    * re-runs after a crash is content-identical maintenance — another
    * version, same rows. The file-count probe reads the MANIFEST
    * ([[graft.operators.TableLog.files]]), never the data.
    */
  def tableLogSink(
      rows: DataFrame, path: String,
      compactAboveFiles: Int, targetRowsPerFile: Long): DataStreamWriter[Row] = {
    require(compactAboveFiles == 0 || targetRowsPerFile > 0,
      "tableLogSink: compaction needs a positive targetRowsPerFile")
    rows.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          graft.operators.TableLog.appendBatch(
            s, path, batch.toDF(), s"batch-$batchId")
          if (compactAboveFiles > 0 &&
            graft.operators.TableLog.files(s, path).size > compactAboveFiles)
            graft.operators.TableLog.compact(s, path, targetRowsPerFile)
        }
        ()
    }
  }

  /** Exactly-once streaming UPSERT into a [[graft.operators.TableLog]]
    * table — the Iceberg streaming-upsert shape over equality-delete
    * sidecars: each micro-batch commits as ONE atomic version that
    * key-deletes the batch's key tuples from every pre-existing file
    * and appends the batch's rows as new files
    * ([[graft.operators.TableLog.upsertBatch]]). Per-epoch write cost
    * is O(batch) — one key-list sidecar + the batch's files — never a
    * read or rewrite of existing data (a merge per epoch pays a
    * discovery scan even merge-on-read; copy-on-write pays file
    * rewrites). Replayed batches are recognized by their
    * `batch-<id>` tag and skipped entirely. Readers see whole
    * versions with the keys anti-joined out; [[graft.operators
    * .TableLog.compact]]/optimize folds the deletes into rewritten
    * bytes at maintenance time. Requires one row per key per batch
    * (dedupe upstream — e.g. `dropDuplicates` within the batch).
    */
  def tableLogUpsertSink(
      rows: DataFrame, path: String, keyCols: Seq[String]): DataStreamWriter[Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        graft.operators.TableLog.upsertBatch(
          batch.sparkSession, path, batch.toDF(), keyCols, s"batch-$batchId")
        ()
    }

  /** Streaming filter-funnel — q174's gate accounting over a live
    * ingest. Gate flags and the first-fail/fail-count derivations are
    * row-local projections, so the whole report is ONE streaming
    * aggregation whose state is the 4·#gates counters (no watermark —
    * the state is the fixed-size summary, never row history; run in
    * complete output mode). Counted sums are commutative, so after
    * any stream prefix the report is IDENTICAL to
    * [[graft.operators.Funnel.report]] over that prefix — the
    * corpusStats mergeability argument, pinned in StreamingOpsSpec.
    * The projection/aggregation chain is streaming-compatible as
    * written, so this IS the batch operator applied to a streaming
    * frame; the alias exists to document and pin that contract.
    */
  def funnelIngest(
      rows: DataFrame,
      gates: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    graft.operators.Funnel.report(rows, gates)
}
