package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import graft.sources.{SegmentedStore, StoreSwap}

/** Structured Streaming operators (SURVEY §2.G): the streaming
  * re-expression of the batch `window_tumbling` and `sessionize`
  * analytics. Verified by ScalaTest specs over MemoryStream (no DuckDB
  * oracle — the gate's oracle is batch-only).
  *
  * Scale posture: both are single-shuffle stateful aggregations keyed
  * on (window, type) / user — state is bounded by the watermark, so a
  * 1000-executor cluster holds only the open windows/sessions, not
  * history.
  */
object Stream {

  case class Ev(user_id: Long, ts: Timestamp, event_type: String)
  case class Session(user_id: Long, n_events: Long, start_us: Long, end_us: Long)
  case class SessState(n: Long, startUs: Long, endUs: Long)

  /** Streaming exact dedup — the streaming twin of
    * `Dedup.dedupExact`: drop documents whose md5(text) was already
    * seen within the watermark. State is the set of hashes inside the
    * watermark horizon only, so a 100 TB/day firehose holds hours of
    * fingerprints (16 bytes each), not history.
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** [[sessionize]] plus watermark-driven closing: an idle session
    * also emits once the event-time watermark passes its gap deadline
    * (EventTimeTimeout), not only when a later event for the same user
    * happens to arrive — the production behavior for users who simply
    * leave. State per user is one open session; the watermark bounds
    * how long it can live.
    */
  def sessionizeWithTimeout(events: Dataset[Ev], gapMinutes: Long = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def tsUs(t: Timestamp): Long = t.getTime * 1000L

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.n, s.startUs, s.endUs))
          } else {
            val sorted = evs.toSeq.sortBy(e => tsUs(e.ts))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = tsUs(e.ts)
              cur match {
                // within gap of the open interval on EITHER side: an
                // out-of-order (but in-watermark) event may precede the
                // session start, so the start is lowered too
                case Some(s) if t >= s.startUs - gapUs && t - s.endUs <= gapUs =>
                  cur = Some(SessState(s.n + 1, math.min(s.startUs, t), math.max(s.endUs, t)))
                case Some(s) =>
                  closed += Session(userId, s.n, s.startUs, s.endUs)
                  cur = Some(SessState(1L, t, t))
                case None =>
                  cur = Some(SessState(1L, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000L + gapMinutes * 60000L)
            }
            closed.result().iterator
          }
      }
  }

  case class VecIn(vec_id: Long, embedding: Array[Double])
  case class KcSnap(n_seen: Long, n_centers: Long, radius: Double,
      centers: Seq[Long])
  case class KcState(centers: List[(Long, Array[Double])], radius: Double,
      seen: Long)

  /** Streaming k-center coreset maintenance — the online companion of
    * `Similarity.kcenterSelect` via the incremental DOUBLING algorithm
    * (Charikar-Chekuri-Feder-Motwani STOC'97): keep ≤ k centers and a
    * working radius r; a new point farther than 2r (cosine distance)
    * from every center becomes a center, and on overflow r doubles
    * (seeded at the centers' min pairwise distance) and centers within
    * 2r of an earlier-id center merge away. State is O(k·dim) however
    * long the stream runs — the bounded-state shape that makes a
    * coreset maintainable over an unbounded embedding firehose; each
    * batch appends one (n_seen, n_centers, radius, centers) snapshot.
    * Points apply in vec_id order within a batch so replays are
    * deterministic. Single global key by the same contract as
    * [[skylineStream]]: the state is a global O(k) summary, and at
    * scale a per-partition pre-filter against a broadcast of the
    * current centers drops already-covered points before this key.
    */
  def kcenterStream(vecs: Dataset[VecIn], k: Int = 8): Dataset[KcSnap] = {
    import vecs.sparkSession.implicits._

    def dist(a: Array[Double], b: Array[Double]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }

    def minDist(p: Array[Double], cs: List[(Long, Array[Double])]): Double =
      cs.map(c => dist(p, c._2)).min

    // drop centers within 2r of an earlier-id kept center
    def merge(cs: List[(Long, Array[Double])], r: Double): List[(Long, Array[Double])] =
      cs.sortBy(_._1).foldLeft(List.empty[(Long, Array[Double])]) { (kept, c) =>
        if (kept.isEmpty || kept.map(kc => dist(c._2, kc._2)).min > 2 * r) kept :+ c
        else kept
      }

    vecs
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[KcState, KcSnap](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (_, points: Iterator[VecIn], state: GroupState[KcState]) =>
          var s = state.getOption.getOrElse(KcState(Nil, 0.0, 0L))
          points.toSeq.sortBy(_.vec_id).foreach { p =>
            s = s.copy(seen = s.seen + 1)
            if (s.centers.size < k) {
              // the first k distinct points seed the center set
              if (s.centers.isEmpty || minDist(p.embedding, s.centers) > 0)
                s = s.copy(centers = s.centers :+ (p.vec_id -> p.embedding))
            } else if (minDist(p.embedding, s.centers) > 2 * s.radius) {
              var cs = s.centers :+ (p.vec_id -> p.embedding)
              var r = s.radius
              while (cs.size > k) {
                r = if (r == 0.0)
                  cs.combinations(2).map(x => dist(x(0)._2, x(1)._2)).min
                else 2 * r
                cs = merge(cs, r)
              }
              s = s.copy(centers = cs, radius = r)
            }
          }
          state.update(s)
          Iterator(KcSnap(s.seen, s.centers.size.toLong, s.radius,
            s.centers.map(_._1)))
      }
  }

  case class EvA(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class AttrSession(user_id: Long, touch_type: String, n_events: Long,
      sess_value: Double, start_us: Long)
  case class AttrState(firstUs: Long, firstType: String, n: Long,
      value: Double, startUs: Long, endUs: Long)

  /** Streaming first-touch attribution — the streaming twin of
    * `Analytics.attributionFirstTouch`: each closed session (same
    * 30-minute gap + EventTimeTimeout discipline as
    * [[sessionizeWithTimeout]]) emits its total value mass credited to
    * its FIRST event_type. An out-of-order (but in-watermark) event
    * that precedes the open session's start RE-CREDITS the session
    * (the first touch is whatever the earliest event turns out to be,
    * ties at the same instant broken by event_type — the stream has no
    * event_id, so the tie-break is the lexicographic type). State per
    * user is one open credited session; the watermark bounds its
    * lifetime, so a 100 TB/day firehose holds open sessions only.
    * Downstream the per-touch rollup is an ordinary streaming agg on
    * this append output.
    */
  def attributionStream(events: Dataset[EvA], gapMinutes: Long = 30): Dataset[AttrSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def tsUs(t: Timestamp): Long = t.getTime * 1000L

    def close(userId: Long, s: AttrState): AttrSession =
      AttrSession(userId, s.firstType, s.n, s.value, s.startUs)

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[EvA], state: GroupState[AttrState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(close(userId, s))
          } else {
            // (ts, type) order so replays apply a micro-batch identically
            val sorted = evs.toSeq.sortBy(e => (tsUs(e.ts), e.event_type))
            var cur = state.getOption
            val closed = Seq.newBuilder[AttrSession]
            sorted.foreach { e =>
              val t = tsUs(e.ts)
              cur match {
                case Some(s) if t >= s.startUs - gapUs && t - s.endUs <= gapUs =>
                  val (fu, ft) =
                    if (t < s.firstUs || (t == s.firstUs && e.event_type < s.firstType))
                      (t, e.event_type)
                    else (s.firstUs, s.firstType)
                  cur = Some(AttrState(fu, ft, s.n + 1, s.value + e.value,
                    math.min(s.startUs, t), math.max(s.endUs, t)))
                case Some(s) =>
                  closed += close(userId, s)
                  cur = Some(AttrState(t, e.event_type, 1L, e.value, t, t))
                case None =>
                  cur = Some(AttrState(t, e.event_type, 1L, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000L + gapMinutes * 60000L)
            }
            closed.result().iterator
          }
      }
  }

  case class Throttled(user_id: Long, event_type: String, ts_us: Long)

  case class SkyIn(id: Long, price_cents: Long, ts: Timestamp)
  case class SkyOut(id: Long, price_cents: Long, ts_us: Long)

  /** Online skyline: emit every point that is Pareto-optimal on
    * (min price, max recency) AGAINST EVERYTHING SEEN BEFORE IT — the
    * streaming sibling of [[graft.operators.Analytics.skylineOrders]]
    * with arrival-time semantics (a later point never retracts an
    * earlier emission, so the output is Append-clean; the batch
    * operator gives the retrospective frontier). State is the current
    * frontier only — O(ln n) points in expectation for random arrivals
    * — under one global key, which is inherent to a GLOBAL frontier
    * and cheap because only frontier comparisons reach it; at scale a
    * local per-partition frontier pass pre-filters candidates before
    * this key (same two-phase discipline as the batch operator's
    * buckets). Within a micro-batch, points apply in id order so
    * replays are deterministic.
    */
  def skylineStream(points: Dataset[SkyIn]): Dataset[SkyOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_ => 0)
      .flatMapGroupsWithState[List[(Long, Long, Long)], SkyOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (_, pts, state) =>
          var frontier = state.getOption.getOrElse(Nil) // (id, price, dateUs)
          val out = List.newBuilder[SkyOut]
          pts.toSeq.sortBy(_.id).foreach { p =>
            val d = p.ts.getTime * 1000L
            val dominated = frontier.exists { case (_, fp, fd) =>
              fp <= p.price_cents && fd >= d && (fp < p.price_cents || fd > d)
            }
            if (!dominated) {
              frontier = (p.id, p.price_cents, d) ::
                frontier.filterNot { case (_, fp, fd) =>
                  p.price_cents <= fp && d >= fd && (p.price_cents < fp || d > fd)
                }
              out += SkyOut(p.id, p.price_cents, d)
            }
          }
          state.update(frontier)
          out.result().iterator
      }
  }

  /** Streaming event throttle — GREEDY debounce: per (user, type),
    * emit an event only when ≥ `windowMinutes` passed since the last
    * EMITTED event of that key (the notification/alerting rule: first
    * event fires immediately, the storm after it is suppressed).
    * Batch sibling: `Analytics.windowThrottle` keeps the
    * lag-expressible gap rule (distance to predecessor); the two
    * differ exactly when suppressed events chain — greedy measures
    * from the last kept, so a steady sub-window drip stays suppressed
    * forever here but re-fires under the gap rule.
    *
    * State per key is ONE long (the last emitted microsecond), evicted
    * by EventTimeTimeout once the watermark passes last + window: any
    * later in-watermark event is ≥ window away and emits regardless,
    * so eviction can't change results — bounded state with no
    * correctness loss.
    */
  def throttle(events: Dataset[Ev], windowMinutes: Long = 10,
      watermark: String = "1 hour"): Dataset[Throttled] = {
    import events.sparkSession.implicits._
    val wUs = windowMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Throttled](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        case ((uid, etype), evs, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var last = state.getOption
            val out = Seq.newBuilder[Throttled]
            sorted.foreach { e =>
              val t = e.ts.getTime * 1000L
              if (last.forall(l => t - l >= wUs)) {
                out += Throttled(uid, etype, t)
                last = Some(t)
              }
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(l / 1000L + windowMinutes * 60000L)
            }
            out.result().iterator
          }
      }
  }

  /** Continuous index maintenance: a document stream keeps a saved
    * [[graft.sources.IndexStore]] index fresh — each micro-batch
    * builds the positional postings of its documents
    * ([[graft.operators.Index.invertedIndexOf]]) and lands them as
    * ONE SEGMENT ([[graft.sources.IndexStore.saveSegment]]; the
    * landing, last-writer-wins and fold protocol is
    * [[graft.sources.SegmentedStore]]'s): the per-batch write is
    * DELTA-SIZED however large the store grows, a re-crawled doc's old
    * postings disappear at read time, a batch with no postings lands
    * nothing, and [[graft.sources.IndexStore.compactSegments]] folds
    * the store whenever the segment count reaches `compactEvery`. This
    * is the streaming completion of the reference's batch-only
    * indexer: the same index artifact, kept current instead of rebuilt.
    *
    * foreachBatch is the right tool (vs a streaming agg sink): the
    * landing is an arbitrary batch job — a bucketed index build — not
    * an incremental aggregation. Exactly-once = IDEMPOTENT BY CONTENT
    * (unlike the batch-keyed pack store): segments take monotonically
    * increasing ids, so a replayed batch lands a DUPLICATE segment —
    * harmless, because doc-granular last-writer-wins resolves it to
    * the identical postings, and the next fold sweeps it.
    */
  def indexMaintenance(docs: DataFrame, indexPath: String,
                       nBuckets: Int = 8, compactEvery: Int = CompactEvery): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, indexPath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val delta = graft.operators.Index.invertedIndexOf(batch)
      val l = SegmentedStore.listing(spark, indexPath)
      if (graft.sources.IndexStore.saveSegment(delta, indexPath, l.nextSeg, nBuckets) &&
          l.segs.size + 1 >= compactEvery)
        graft.sources.IndexStore.compactSegments(spark, indexPath)
    }

  /** Continuous takedown processing — the DELETION twin of
    * [[indexMaintenance]] (r13): a doc_id stream (the GDPR /
    * DMCA / redaction queue every serving deployment carries) keeps a
    * saved index's tombstones current. Per micro-batch:
    *
    *   - the batch's ids land as ONE batch-keyed tombstone dir
    *     ([[graft.sources.IndexStore.deleteBatch]] —
    *     `_tombstones/src_batch=<id>`, an O(|batch|) write however
    *     large the index); a REPLAYED batch overwrites its own
    *     landing, so the write is exactly-once at batch granularity
    *     and the file count never grows on replay;
    *   - readers need nothing: [[graft.sources.IndexStore.load]]
    *     anti-joins the accumulated set, so the takedown is visible
    *     to term/phrase/ranked serving at the NEXT query with no
    *     index rewrite;
    *   - when the landing count reaches `compactEvery`, the loop
    *     folds tombstones into the index FOR REAL
    *     ([[graft.sources.IndexStore.compactSegments]], which r13
    *     generalized to fold a plain or one-segment store too) —
    *     deleted postings leave disk, the anti-join list resets to
    *     empty, and the serving-stats side table refreshes inside the
    *     same fold ([[graft.sources.SegmentedStore.fold]]).
    *
    * Deletion state lives in the store (not the checkpoint), and the
    * store family's fresh-checkpoint contract applies: a restart from
    * a FRESH checkpoint restarts batch ids at 0, and a landing below
    * the tombstone set's applied horizon FAILS LOUDLY
    * ([[graft.sources.IndexStore.deleteBatch]]'s horizon guard) —
    * silently overwriting `src_batch=0` would un-delete that batch's
    * earlier takedowns. Restart from the original checkpoint, or fold
    * the store first: after a fold the landings (and the horizon) are
    * gone because every takedown left disk for real, so a fresh
    * checkpoint over a just-folded store is legitimate.
    * Single-writer discipline is the store family's usual contract:
    * run the takedown loop in the same driver as (sequenced with) the
    * index-maintenance loop, not concurrently against one store.
    *
    * CROSS-STORE takedown (r14 — the r13 verdict's gap #3: tombstones
    * purged only the index, while the document's content also lives
    * in the corpus store and the embedding store): `corpusPath` /
    * `embedPath` extend the SAME batch-keyed discipline
    * ([[graft.sources.Tombstones]]) to those stores — per batch the
    * ids land in each store's own `_tombstones` (each with its own
    * horizon guard), every reader ([[graft.sources.CorpusStore.load]]/
    * `loadLang`, [[loadEmbedStore]] and therefore [[knnServe]] and
    * [[hybridServe]]'s dense leg) anti-joins them live, and each
    * store folds independently at its own `compactEvery` trigger so
    * the content leaves disk for real. The embed store keys by
    * `vec_id` under the deployment convention vec_id == doc_id (a
    * document's embedding row carries its doc id); a deployment with
    * a doc→vec mapping expands ids upstream of this sink. PACK /
    * interleave stores are NOT tombstone-covered by design: a pack
    * concatenates many documents into one training row, so in-place
    * excision would rewrite every straddling pack — the documented
    * contract is REBUILD-ON-TAKEDOWN (re-run packing from the
    * already-purged corpus store; `pack_tokens`/`media_interleave`
    * are one-pass rebuilds), and the r15 TRIPWIRE makes staleness
    * loud: stores stamped with the corpus takedown epoch
    * ([[stampCorpusEpoch]]) refuse to load once the corpus processed
    * a takedown past the stamp ([[requirePackFresh]]).
    */
  def takedownMaintenance(ids: DataFrame, indexPath: String,
                          compactEvery: Int = CompactEvery,
                          corpusPath: Option[String] = None,
                          embedPath: Option[String] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(ids, indexPath +: (corpusPath.toSeq ++ embedPath): _*) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.sources.IndexStore.deleteBatch(batch, indexPath, batchId)
      if (graft.sources.IndexStore.tombstoneBatchCount(spark, indexPath) >= compactEvery)
        graft.sources.IndexStore.compactSegments(spark, indexPath)
      corpusPath.foreach { cp =>
        graft.sources.CorpusStore.deleteBatch(batch, cp, batchId)
        if (graft.sources.CorpusStore.tombstoneBatchCount(spark, cp) >= compactEvery)
          graft.sources.CorpusStore.foldTombstones(spark, cp)
      }
      embedPath.foreach { ep =>
        graft.sources.Tombstones.landBatch(
          batch.select(col("doc_id").as("vec_id")), ep, batchId, key = "vec_id")
        if (graft.sources.Tombstones.batchCount(spark, ep) >= compactEvery)
          compactEmbedStore(spark, ep)
      }
    }

  /** Continuous ANN-index maintenance — the embedding twin of
    * [[indexMaintenance]]: an embedding stream keeps a saved
    * bucket-partitioned IVF assignment store fresh. Per micro-batch:
    * norm the batch, assign each vector to its nearest centroid from
    * a SAVED centroid table ([[graft.operators.Similarity
    * .saveCentroids]] — the coarse quantizer is trained once and
    * fixed, so bucket ids stay stable across batches), then land the
    * assignments as one bucket-partitioned segment
    * ([[graft.sources.SegmentedStore]]), so query-time bucket reads
    * prune directories exactly like the term-bucketed IndexStore.
    * Vectors resolve last-writer-wins at read ([[loadEmbedStore]]: a
    * re-embedded vec_id's old assignment disappears — the
    * re-crawled-document rule applied to vectors). Exactly-once by
    * content, like [[indexMaintenance]].
    */
  def embedIndexMaintenance(vecs: DataFrame, centroidPath: String,
                            storePath: String, compactEvery: Int = CompactEvery): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(vecs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val cent = spark.read.parquet(centroidPath)
      val assigned = graft.operators.Similarity
        .ivfAssignTo(graft.operators.Similarity.withNormOf(batch), cent)
        .select(col("vec_id"), col("embedding"), col("nm"), col("bucket"))
      // delta-sized landing (r10 VERDICT item 3): each batch's
      // assignments land as one segment partitioned by bucket (bucket
      // partitioning INSIDE the segment keeps serve-side pruning);
      // vector granularity is resolved last-writer-wins at read
      // ([[loadEmbedStore]]) — a re-embedded vec_id's newest segment
      // wins even when its bucket changed. Ids are monotonic, so a
      // replayed batch lands a duplicate segment that resolves
      // identically (content-idempotent, like [[indexMaintenance]]).
      landThenFold(assigned, storePath, None, Some("bucket"), compactEvery)(
        loadEmbedStore(spark, storePath))
    }

  /** Read an [[embedIndexMaintenance]] store with vector-granular
    * last-writer-wins resolution ([[SegmentedStore.Snapshot]], keyed
    * `vec_id`): a vec_id's rows from any segment older than its newest,
    * and every row of a taken-down vec_id, anti-join out. The versions
    * are one column-pruned `(vec_id, seg)` projection of the store —
    * ids are ~100× narrower than the embedding payload — and a store
    * with at most one segment resolves takedowns only. Bucket
    * predicates still prune each segment's `bucket=` dirs and push
    * through the anti-join's streamed side. The read is PINNED to one
    * root listing: a segment landed after it is in no side of this
    * read.
    */
  def loadEmbedStore(spark: SparkSession, storePath: String): DataFrame =
    SegmentedStore.snapshot(spark, storePath, "vec_id").live()

  /** Fold every segment of the embed store into one, bucket-partitioned
    * ([[SegmentedStore.fold]]) — tombstoned vectors leave disk (the
    * rewrite reads through [[loadEmbedStore]]). No-op below two
    * segments unless tombstones are pending.
    */
  def compactEmbedStore(spark: SparkSession, storePath: String): Unit =
    foldTo(spark, storePath, Some("bucket"))(loadEmbedStore(spark, storePath))

  /** Streaming ANN serving — the query side of [[embedIndexMaintenance]]:
    * each micro-batch of query vectors is assigned to its IVF bucket
    * against the saved centroid table, joined against ONLY that bucket
    * of the saved assignment store (the `bucket` equality prunes the
    * partitioned store's directories at planning time, exactly like a
    * term lookup on the IndexStore), exact-cosine top-k re-ranked, and
    * landed per batch (idempotent replay, like [[qualityGate]]).
    *
    * Each batch is [[knnServeOn]] over a fresh one-query handle, so it
    * reads the latest store. What a batch reads of the store: the
    * |buckets hit| / |buckets| it probes, plus, to resolve versions,
    * the tombstone files on a store with tombstones and one scan of
    * every bucket's `vec_id` on a store with two or more segments (a
    * re-embedded vector can move buckets). A held handle
    * ([[openEmbedStore]]) pays that resolution once, at its first
    * query; later queries read only the buckets they hit.
    *
    * Concurrent serve + maintain: a segment LANDING is one atomic
    * rename (no window at all); only [[compactEmbedStore]]'s
    * two-rename swap has an instant (base→backup, merged→base) where
    * the base path briefly does not exist, so a serve micro-batch
    * planned in that instant fails — transiently and replayably (the
    * next trigger re-plans against the swapped store; no partial
    * state is ever visible because each rename is atomic on a real
    * filesystem). Deployments pairing both loops accept that retry
    * or point serving at a snapshot the maintainer publishes by
    * versioned directory + pointer file; single-writer single-reader
    * sequential use (the spec's shape) never observes the gap.
    */
  def knnServe(queries: DataFrame, centroidPath: String, storePath: String,
               outPath: String, k: Int = 5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(queries) { (batch, batchId) =>
      knnServeOn(embedHandle(batch.sparkSession, storePath, centroidPath, hold = false), batch, k)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    }

  /** The ANN retrieval kernel [[knnServe]] lands per micro-batch and
    * [[knnServeOn]] serves per request: IVF-assign the query vectors
    * against `cent`, join ONLY their buckets of `store` (the bucket
    * equality prunes the partitioned store's directories at planning
    * time), exact-cosine re-rank, top-`k` per query.
    */
  def knnBatchOf(batch: DataFrame, cent: DataFrame, store: DataFrame,
                 k: Int): DataFrame = {
    // the assignment frame is consumed TWICE — [[prunedToBuckets]]
    // collects its probed buckets, then the probe join broadcasts it —
    // so materialize it once (r15): uncached, the centroid read +
    // per-vector assignment executed twice per micro-batch/request
    val q = graft.operators.Similarity
      .ivfAssignTo(graft.operators.Similarity.withNormOf(batch), cent)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nm").as("qnm"), col("bucket"))
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    prunedToBuckets(store, q).join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.VectorFns.dot(col("qe"), col("embedding")) /
        (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Restrict `store` to the bucket set its probes (`assigned` — an
    * already-IVF-assigned frame with a `bucket` column) actually hit,
    * as a LITERAL planning-time partition filter. The broadcast
    * bucket equi-join alone leaves directory pruning to runtime
    * dynamic partition pruning, whose cost heuristics may ELIDE it
    * (observed: `dynamicpruningexpression(true)` on the store scan) —
    * a full store scan per probe at 100 TB. The probed bucket list is
    * one bounded collect (≤ |batch| ids, ≤ the centroid count
    * distinct — the collect a serving loop legitimately makes, like
    * the hybrid path's term list), and the literal IN prunes like a
    * term lookup. Literals are cast to the store column's own type so
    * partition-dir inference (int dirs vs the assignment's long cid)
    * never blocks static pruning behind a cast.
    */
  private def prunedToBuckets(store: DataFrame, assigned: DataFrame): DataFrame = {
    val bids = assigned.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val bt = store.schema("bucket").dataType
    val pred =
      if (bids.isEmpty) lit(false)
      else bids.map(b => col("bucket") === lit(b).cast(bt)).reduce(_ || _)
    store.filter(pred)
  }

  /** A pinned DENSE serving session — the embed-store analogue of
    * [[graft.sources.IndexStore.OpenIndex]], on the same
    * [[SegmentedStore.Snapshot]] (keyed `vec_id`, its row versions the
    * store's own `(vec_id, seg)` pairs): one listing, the resolved
    * store read ([[store]]) and one centroid read. A held handle
    * ([[openEmbedStore]]) runs the dead-key set at its first query and
    * holds it, so each later query pays only its own bucket-pruned
    * probe instead of re-listing the store, re-reading centroids and
    * re-resolving versions over every bucket. [[release]] drops the
    * held rows. Snapshot semantics are the handle family's: takedowns
    * or segments landed after [[openEmbedStore]] need a re-open; the
    * streaming [[knnServe]] and [[hybridServe]] loops open a one-query
    * handle per batch and stay read-latest.
    */
  final case class OpenEmbedStore private[graft] (private[graft] snapshot: SegmentedStore.Snapshot,
                                                  cent: DataFrame,
                                                  sq8: Option[(DataFrame, DataFrame)] = None) {
    /** The store as readers see it ([[SegmentedStore.Snapshot.live]]). */
    lazy val store: DataFrame = snapshot.live()

    /** Drop the rows this handle holds. */
    def release(): Unit = snapshot.release()
  }

  /** A held [[OpenEmbedStore]]. */
  def openEmbedStore(spark: SparkSession, storePath: String,
                     centroidPath: String): OpenEmbedStore =
    embedHandle(spark, storePath, centroidPath, hold = true)

  /** An [[OpenEmbedStore]] that holds its dead-key set (`hold`, a
    * serving handle) or plans everything inline (a one-query handle,
    * as each [[knnServe]]/[[hybridServe]] batch opens).
    */
  private[graft] def embedHandle(spark: SparkSession, storePath: String, centroidPath: String,
                                 hold: Boolean): OpenEmbedStore =
    OpenEmbedStore(SegmentedStore.snapshot(spark, storePath, "vec_id", hold),
      spark.read.parquet(centroidPath))

  /** Per-request ANN top-`k` against a pinned [[OpenEmbedStore]] —
    * identical rows to a [[knnServe]] micro-batch over the same store
    * state (spec-asserted), as a DataFrame the caller materializes.
    */
  def knnServeOn(oes: OpenEmbedStore, queries: DataFrame,
                 k: Int = 5): DataFrame =
    knnBatchOf(queries, oes.cent, oes.store, k)

  // ---- SQ8 quantized dense serving layout (r15 — VERDICT item 3) ----
  //
  // The embed store serves raw fp32 vectors, and at 100 TB of vectors
  // the store IS the memory/IO wall. The engine already owns the
  // quantization ladder as OPERATORS (`knn_sq8`, `knn_pq_rerank`,
  // `ann_memory_report` prices 4–16×); this persists the FAISS-shaped
  // serving form of it: byte codes (+ per-dimension levels) land as a
  // `_sq8` side layout inside the store (underscore-prefixed, rides
  // the swaps), and serving runs ADC-style — a bucket-pruned
  // shortlist over the 4×-smaller codes, then an EXACT rerank that
  // touches raw vectors only for the ≤ k·mult shortlist ids. The
  // first-pass read drops ~4× (1 byte/dim vs 4), and the result is
  // row-identical to raw serving whenever the true top-k survives the
  // shortlist (spec-asserted recall floor; the decode is bit-equal to
  // `sq8Embeddings`' dequant, so `ann_recall_sq8` prices exactly this
  // layout's first pass).

  private val Sq8Dir = "_sq8"

  /** Build (or refresh) the `_sq8` quantized serving layout from the
    * store's resolved content: per-dimension (mn, mx) levels (one
    * tiny agg) and a bucket-partitioned codes table (vec_id, nm of
    * the DEQUANTIZED vector, 1-byte-per-dim code). One store pass at
    * deploy time for dense serving. Landed crash-safe
    * ([[StoreSwap.publish]]) and stamped with the store's data stamp
    * ([[SegmentedStore.dataStamp]]), so a later segment landing/fold
    * makes [[openEmbedStoreQuantized]] fail loudly instead of silently
    * missing the new vectors.
    */
  def quantizeEmbedStore(spark: SparkSession, storePath: String): Unit = {
    val stamp = SegmentedStore.dataStamp(spark, storePath)
    val resolved = loadEmbedStore(spark, storePath)
    val dest = new org.apache.hadoop.fs.Path(storePath, Sq8Dir)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreSwap.publish(fs, dest) { dir =>
      val stats = resolved.select(posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      stats.agg(
          transform(sort_array(collect_list(struct(col("i"), col("mn")))),
            s => s("mn")).as("mns"),
          transform(sort_array(collect_list(struct(col("i"), col("mx")))),
            s => s("mx")).as("mxs"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/levels")
      val lv = spark.read.parquet(s"$dir/levels")
      resolved.crossJoin(broadcast(lv))
        .select(col("vec_id"), col("bucket"),
          graft.functions.VectorFns.sq8Encode(
            col("embedding"), col("mns"), col("mxs")).as("code"),
          sqrt(graft.functions.VectorFns.norm2(
            graft.functions.VectorFns.sq8Dequant(
              col("embedding"), col("mns"), col("mxs")))).as("nm"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dir/codes")
      SegmentedStore.stampSide(spark, dir, stamp)
    }
  }

  /** Whether the `_sq8` layout exists AND still matches the store
    * data it was built from. Jobless (one listing + one file read).
    */
  def embedQuantFresh(spark: SparkSession, storePath: String): Boolean =
    SegmentedStore.sideCurrent(spark, storePath, Sq8Dir)

  /** [[openEmbedStore]] plus the pinned `_sq8` frames for
    * [[knnServeQuantized]]. Fails loudly when the quantized layout is
    * absent or STALE (segments landed/folded after the quantize) —
    * serving a code table that silently misses vectors is the failure
    * mode the provenance stamp exists to prevent. Takedowns do not
    * stale the layout: codes anti-join the handle snapshot's tombstone
    * keys, exactly like the raw reader.
    */
  def openEmbedStoreQuantized(spark: SparkSession, storePath: String,
                              centroidPath: String): OpenEmbedStore = {
    require(embedQuantFresh(spark, storePath),
      s"embed store at $storePath has no current $Sq8Dir layout — run " +
        "Stream.quantizeEmbedStore(spark, storePath) after the last " +
        "segment landing/fold (takedowns alone need no requantize)")
    val oes = openEmbedStore(spark, storePath, centroidPath)
    val sq8 = s"$storePath/$Sq8Dir"
    oes.copy(sq8 = Some((
      SegmentedStore.live(spark.read.parquet(s"$sq8/codes"), oes.snapshot.tombstones, "vec_id"),
      spark.read.parquet(s"$sq8/levels"))))
  }

  /** ADC-style quantized top-`k`: bucket-pruned shortlist of
    * `k·shortlistMult` per query over the byte codes (approx cosine
    * in the dequantized space — `knn_sq8`'s exact ranking), then an
    * EXACT rerank reading raw vectors ONLY for the shortlist ids.
    * Output schema and cosine values match [[knnServeOn]]; rows match
    * whenever the true top-k survives the shortlist (the spec
    * measures that recall floor; `ann_recall_sq8` prices the
    * first-pass ranking corpus-wide).
    */
  def knnServeQuantized(oes: OpenEmbedStore, queries: DataFrame,
                        k: Int = 5, shortlistMult: Int = 4): DataFrame = {
    require(oes.sq8.nonEmpty,
      "knnServeQuantized needs a handle from openEmbedStoreQuantized")
    val (codes, lv) = oes.sq8.get
    val q = graft.operators.Similarity
      .ivfAssignTo(graft.operators.Similarity.withNormOf(queries), oes.cent)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nm").as("qnm"), col("bucket"))
      .localCheckpoint() // consumed by two pruned scans + two joins
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("acos").desc, col("vec_id"))
    val short = prunedToBuckets(codes, q).join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .crossJoin(broadcast(lv))
      .withColumn("acos",
        graft.functions.VectorFns.dot(col("qe"),
          graft.functions.VectorFns.sq8Decode(
            col("code"), col("mns"), col("mxs"))) /
          (col("qnm") * col("nm")))
      .withColumn("srk", row_number().over(wS))
      .filter(col("srk") <= k * shortlistMult)
      .select(col("query_id"), col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    prunedToBuckets(oes.store, q).join(broadcast(q), "bucket")
      .join(broadcast(short), Seq("query_id", "vec_id"), "left_semi")
      .withColumn("cos",
        graft.functions.VectorFns.dot(col("qe"), col("embedding")) /
          (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"))
  }

  // ---- rebuild-on-takedown tripwire (r15 — VERDICT r14 missing #4) ----
  //
  // Pack/interleave stores are NOT tombstone-covered by design (a
  // pack concatenates many documents into one training row; in-place
  // excision would rewrite every straddling pack) — the contract is
  // REBUILD-ON-TAKEDOWN. But nothing recorded WHICH corpus takedown
  // state a pack store was built at, so a pipeline could keep serving
  // packs containing taken-down text with no loud signal. The
  // tripwire: each landing stamps the corpus store's monotonic
  // takedown EPOCH ([[graft.sources.Tombstones.epoch]] — landings
  // bump it, folds carry it, so it never resets) into the pack store;
  // loaders compare the stamp against the corpus's CURRENT epoch and
  // fail loudly on mismatch, naming the rebuild.

  /** Stamp the corpus store's current takedown epoch into a
    * rebuild-on-takedown store. The maintenance sinks call this per
    * landing (pass `corpusPath` to [[packMaintenance]]/
    * [[interleaveMaintenance]]); a batch rebuild calls it once after
    * writing the store from the purged corpus.
    */
  def stampCorpusEpoch(spark: SparkSession, storePath: String,
                       corpusPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storePath, SegmentedStore.CorpusEpochFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(graft.sources.Tombstones.epoch(spark, corpusPath)
      .toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Whether the store's stamped corpus epoch matches the corpus's
    * current one. A store with NO stamp is fresh only while the
    * corpus never processed a takedown (epoch 0) — conservative: an
    * unstamped store against a takedown-bearing corpus is
    * indistinguishable from a stale one.
    */
  def packFresh(spark: SparkSession, storePath: String,
                corpusPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(storePath, SegmentedStore.CorpusEpochFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamped =
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong
        finally in.close()
      }
    stamped == graft.sources.Tombstones.epoch(spark, corpusPath)
  }

  /** Loud form of [[packFresh]] — the check the pack-store loaders
    * run when handed a `corpusPath`.
    */
  def requirePackFresh(spark: SparkSession, storePath: String,
                       corpusPath: String): Unit =
    require(packFresh(spark, storePath, corpusPath),
      s"pack store at $storePath was built before the corpus at " +
        s"$corpusPath processed a takedown (stamped corpus epoch != " +
        "current) — its packs may contain taken-down text. Rebuild the " +
        "store from the purged corpus (re-run packing, then " +
        "stampCorpusEpoch) before serving it")

  /** Streaming sequence packing — [[graft.operators.Pipeline
    * .packChunksOf]] kept current over a document stream: each
    * micro-batch's token counts extend the global token line from the
    * stored offset (state-in-store: the pack table itself carries the
    * running total as Σ n_tokens), and new pack contributions land as
    * one segment ([[graft.sources.SegmentedStore]]) that merges with
    * the stored ones at PACK granularity at read time
    * ([[loadChunkStore]]: a boundary-straddling pack's partial rows
    * sum, first/last docs min/max) — so a training run can consume
    * packs while the corpus is still arriving. The token line is laid
    * out in ARRIVAL order (batch by batch, doc_id within a batch):
    * when documents arrive in doc_id order the result equals the batch
    * [[graft.operators.Pipeline.packChunksOf]] exactly (spec-asserted);
    * out-of-order arrival packs in stream order — the only order a
    * stream can honor. Within a batch the prefix sum is the distributed
    * two-phase [[graft.operators.GraftOps.runningTotal]] — no global
    * window.
    *
    * Unlike the doc-granular index merges, summing partial pack rows
    * is NOT naturally replay-idempotent — so each landing stamps the
    * store's APPLIED HORIZON inside the new segment, one atomic rename
    * with the data ([[graft.sources.SegmentedStore]]), and a batch the
    * horizon already covers no-ops. A batch BELOW the horizon fails
    * loudly: that is a fresh checkpoint restarted over an existing
    * store, which would double-count every replayed pack.
    */
  def packMaintenance(docs: DataFrame, storePath: String,
                      budget: Long = 256L,
                      corpusPath: Option[String] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val upto = SegmentedStore.requireInHorizon(spark, storePath, batchId)
      if (batchId > upto) { // == upto: replayed batch, already landed → no-op
        val counts = batch
          .select(col("doc_id"),
            size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
          .filter(col("n") > 0L)
        // Σ n_tokens is additive across the partial pack rows, so the
        // offset needs one column-pruned scan of the segments
        val l = SegmentedStore.listing(spark, storePath)
        val offset: Long =
          if (l.hasData)
            SegmentedStore.read(spark, storePath, l)
              .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
          else 0L
        val cum = graft.operators.GraftOps.runningTotal(counts,
            order = col("doc_id"), value = col("n"), bucket = expr("doc_id div 64"))
          .withColumn("cb", col("running") - col("n") + lit(offset))
        val delta = cum
          .select(col("doc_id"), col("n"), col("cb"),
            explode(sequence(expr(s"cb div $budget"),
              expr(s"(cb + n - 1) div $budget"))).as("pack_id"))
          .groupBy("pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(least(col("cb") + col("n"), (col("pack_id") + 1L) * budget) -
              greatest(col("cb"), col("pack_id") * budget)).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
        // delta-sized segment landing (r11); the pack-granular sums
        // fold at read time ([[loadChunkStore]]) and compaction
        // bounds the merge width — the old path rewrote the whole
        // pack table every batch
        landThenFold(delta, storePath, Some(batchId))(loadChunkStore(spark, storePath))
        // takedown tripwire: record which corpus takedown state
        // this landing reflects ([[stampCorpusEpoch]]) — after the
        // landing, so a crash in between leaves the store loud
        corpusPath.foreach(cp => stampCorpusEpoch(spark, storePath, cp))
      }
    }

  /** Read a [[packMaintenance]] chunk-pack store with its
    * pack-granular merge applied (counts/tokens sum, first/last docs
    * min/max across segments); a plain or compacted store passes
    * through. Column order matches the pack_chunks batch schema.
    */
  def loadChunkStore(spark: SparkSession, storePath: String,
                     corpusPath: Option[String] = None): DataFrame = {
    // takedown tripwire: refuse a store whose stamped corpus epoch
    // lags the corpus's current one ([[requirePackFresh]])
    corpusPath.foreach(cp => requirePackFresh(spark, storePath, cp))
    val raw = SegmentedStore.read(spark, storePath)
    if (!raw.columns.contains("seg")) raw
    else raw.groupBy("pack_id")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))
      .select("pack_id", "n_docs", "n_tokens", "first_doc", "last_doc")
  }

  /** Fold every segment of a chunk-pack store into one
    * ([[graft.sources.SegmentedStore.fold]]). No-op below two segments.
    */
  def compactChunkStore(spark: SparkSession, storePath: String): Unit =
    foldTo(spark, storePath, None)(loadChunkStore(spark, storePath))

  /** Streaming MMC4-style sequence assembly — `media_interleave`'s
    * streaming twin, completing the multimodal family's §G rung: each
    * micro-batch expands its documents through the SHARED
    * [[graft.operators.Multimodal.interleaveSegmentsOf]] stage
    * (atomic 32-token text chunks + the fixed-slot media anchor), lays
    * the segments on the global token line from the stored offset
    * (state-in-store: Σ n_tokens of the pack table, ONE column-pruned
    * scan), and lands its pack delta as one segment of the SEGMENTED
    * pack store ([[graft.sources.SegmentedStore]]) — a delta-sized write however large the
    * store grows (r10 VERDICT item 3; the old path re-merged and
    * rewrote the whole pack table every batch). Pack-granular merge
    * happens at READ time ([[loadPackStore]]): counts sum, first/last
    * docs min/max, and a boundary-straddling pack's media-ref
    * manifests CONCATENATE in segment order, which is position order
    * because the token line only ever extends (append-only stream ⇒
    * every new segment's offset exceeds every stored one) —
    * [[compactPackStore]] folds segments when the count reaches
    * `compactEvery`. Segment ids are monotonic and the applied
    * horizon rides inside each landing's atomic rename
    * ([[landThenFold]]): replay no-ops, and a fresh checkpoint
    * restarted over an existing store fails loudly instead of landing
    * lower-ordered segments that would silently invert the media_refs
    * concatenation. When documents arrive in doc_id order the
    * resolved store equals the batch operator exactly (spec-asserted,
    * restart drill included).
    */
  def interleaveMaintenance(docs: DataFrame, storePath: String,
                            compactEvery: Int = CompactEvery,
                            corpusPath: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val upto = SegmentedStore.requireInHorizon(spark, storePath, batchId)
      if (batchId > upto) { // == upto: replayed batch, already landed → no-op
        val segs = graft.operators.Multimodal.interleaveSegmentsOf(
          batch.select(col("doc_id"), col("text")))
        // the offset needs only Σ n_tokens across segments (sums are
        // additive across the partial pack rows) — a column-pruned
        // scan, never a full-store materialization
        val l = SegmentedStore.listing(spark, storePath)
        val offset: Long =
          if (l.hasData)
            SegmentedStore.read(spark, storePath, l)
              .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
          else 0L
        val cum = graft.operators.GraftOps.runningTotal(segs,
            order = struct(col("doc_id"), col("ord")),
            value = col("cost"), bucket = expr("doc_id div 64"))
          .withColumn("cb", col("running") - col("cost") + lit(offset))
        val delta = graft.operators.Multimodal.interleavePackRollup(cum)
        landThenFold(delta, storePath, Some(batchId), compactEvery = compactEvery)(
          loadPackStore(spark, storePath))
        // takedown tripwire stamp, like [[packMaintenance]]'s
        corpusPath.foreach(cp => stampCorpusEpoch(spark, storePath, cp))
      }
    }

  /** A segmented store folds once it holds this many segments — every
    * maintenance sink's fold trigger (and `compactEvery` default).
    */
  private[graft] val CompactEvery = 16

  /** The one `foreachBatch` sink: an Append-mode writer that, per
    * micro-batch, first repairs each store in `stores` from a swap that
    * died between its two renames ([[StoreSwap.recover]] — a fold, a
    * side-table landing or a reservoir replacement), then runs `body`.
    */
  private def batchSink(in: DataFrame, stores: String*)(body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    in.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        stores.foreach { s =>
          val p = new org.apache.hadoop.fs.Path(s)
          StoreSwap.recover(p.getFileSystem(conf), p)
        }
        body(batch, batchId)
      }

  /** Land `rows` as batch `batchId`'s segment of the batch-keyed ledger
    * at `storePath` ([[landThenFold]]: a no-op when the applied horizon
    * covers the batch). Ledger rows are per-batch facts that no later
    * row supersedes, so the fold's resolved content is every stored row.
    */
  private def landBatch(rows: DataFrame, storePath: String, batchId: Long,
                        partitionCol: Option[String] = None): Unit = {
    val spark = rows.sparkSession
    landThenFold(rows, storePath, Some(batchId), partitionCol)(
      SegmentedStore.read(spark, storePath).drop("seg"))
  }

  /** Land `delta` as the next segment of the store at `storePath`
    * ([[SegmentedStore.land]] — a `batchId` makes it a batch-keyed
    * landing: stamped with the applied horizon, a no-op when the
    * horizon already covers it), then fold the store through
    * `resolved` once it holds `compactEvery` segments.
    */
  private def landThenFold(delta: DataFrame, storePath: String, batchId: Option[Long],
                           partitionCol: Option[String] = None,
                           compactEvery: Int = CompactEvery)
                          (resolved: => DataFrame): Unit = {
    val spark = delta.sparkSession
    SegmentedStore.land(spark, storePath, SegmentedStore.listing(spark, storePath).nextSeg,
      partitionCol.isDefined, batchId)(writeParquet(delta, partitionCol))
    if (SegmentedStore.listing(spark, storePath).segs.size >= compactEvery)
      foldTo(spark, storePath, partitionCol)(resolved)
  }

  /** [[SegmentedStore.fold]] of a store whose resolved content is
    * `resolved`, written as parquet (partitioned by `partitionCol`).
    */
  private def foldTo(spark: SparkSession, storePath: String,
                     partitionCol: Option[String])(resolved: => DataFrame): Unit =
    SegmentedStore.fold(spark, storePath)(writeParquet(resolved, partitionCol)(_))

  private def writeParquet(df: DataFrame, partitionCol: Option[String])(dir: String): Unit =
    partitionCol match {
      case Some(c) => df.repartition(col(c)).write.mode("overwrite").partitionBy(c).parquet(dir)
      case None => df.write.mode("overwrite").parquet(dir)
    }

  /** Read a [[interleaveMaintenance]] pack store with its pack-granular
    * merge applied: rows of the same pack_id across segments fold —
    * counts sum, first/last docs min/max, media-ref manifests join in
    * SEGMENT order (= token-line order; see the sink's scaladoc). A
    * plain (already-compacted or single-layout) store passes through.
    * Column order matches `media_interleave`'s batch schema exactly.
    */
  def loadPackStore(spark: SparkSession, storePath: String,
                    corpusPath: Option[String] = None): DataFrame = {
    // takedown tripwire ([[requirePackFresh]], like [[loadChunkStore]])
    corpusPath.foreach(cp => requirePackFresh(spark, storePath, cp))
    val raw = SegmentedStore.read(spark, storePath)
    if (!raw.columns.contains("seg")) raw
    else raw
      .groupBy("pack_id")
      .agg(sum(col("n_segs")).as("n_segs"),
        sum(col("n_text_segs")).as("n_text_segs"),
        sum(col("n_media_segs")).as("n_media_segs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"),
        array_join(filter(transform(
          sort_array(collect_list(struct(col("seg").as("s"),
            col("media_refs").as("r")))),
          x => x.getField("r")), s => length(s) > 0), ",").as("media_refs"))
      .select("pack_id", "n_segs", "n_text_segs", "n_media_segs",
        "n_tokens", "first_doc", "last_doc", "media_refs")
  }

  /** Fold every segment of a pack store into one
    * ([[graft.sources.SegmentedStore.fold]]) — bounds the per-read
    * merge width the same way [[graft.sources.IndexStore.compactSegments]]
    * does for the index. No-op below two segments.
    */
  def compactPackStore(spark: SparkSession, storePath: String): Unit =
    foldTo(spark, storePath, None)(loadPackStore(spark, storePath))

  /** Streaming uniform k-sample per source — `sample_k`'s streaming
    * twin: each micro-batch salts doc keys with the same md5 as the
    * batch operator and the store keeps the k SMALLEST hashes per
    * source, so at every instant the store is an exact uniform
    * without-replacement sample of EVERYTHING ingested so far
    * (bottom-k by a fixed hash is a mergeable sketch:
    * bottomk(A ∪ B) = bottomk(bottomk(A) ∪ B), so per-batch folding
    * loses nothing). Replay-idempotent with NO batch markers — the
    * merge dedups on the doc key before re-ranking, so re-folding a
    * replayed batch rewrites the identical store. Store size is
    * ≤ k·|sources| rows regardless of ingest volume; the rank window
    * partitions by source over that bounded frame, and the crash-safe
    * swap is the shared store protocol.
    */
  def reservoirMaintenance(docs: DataFrame, storePath: String,
                           k: Int = 100): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val basePath = new org.apache.hadoop.fs.Path(storePath)
      val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val delta = batch.select(col("source"), col("doc_id"),
        md5(concat(lit("sample:"), col("doc_id").cast("string"))).as("h"))
      val all =
        if (fs.exists(basePath))
          SegmentedStore.read(spark, storePath).unionByName(delta)
        else delta
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("h"), col("doc_id"))
      val merged = all.dropDuplicates("source", "doc_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .drop("rk")
      val tmp = s"$storePath.merged-$batchId"
      merged.write.mode("overwrite").parquet(tmp)
      StoreSwap.swap(fs, basePath, tmp)
    }

  /** Streaming exact dedup with an UNBOUNDED horizon — the
    * state-in-store twin of [[dedupStream]]: that operator's state is
    * executor memory bounded by the watermark (hours of fingerprints),
    * this one screens each micro-batch against a SAVED md5 fingerprint
    * store, so a document seen last month (or before a restart) still
    * dedups. Per batch: in-batch dedup (first doc_id per fingerprint),
    * one anti-join against the store, survivors land in their own
    * `batch=<id>` dir, and their fingerprints land as one batch-keyed
    * segment of the store ([[graft.sources.SegmentedStore]]).
    * Replay-idempotent: the store keys every fingerprint by its source
    * batch and screening ignores the current batch's own rows, so a
    * replayed batch recomputes the identical survivor set, and its
    * landing no-ops under the applied horizon.
    */
  def dedupGate(docs: DataFrame, storePath: String,
                outPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("text_md5").orderBy("doc_id")
      val batchCanon = batch.withColumn("text_md5", md5(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "text_md5 STRING, src_batch BIGINT")
      val fresh = batchCanon
        .join(prior.select("text_md5"), Seq("text_md5"), "left_anti")
      fresh.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // the md5 set grows with the corpus: land the batch's NEW
      // fingerprints as a delta-sized segment (r11), never a
      // full-store rewrite; compaction bounds the read width
      landBatch(fresh.select(col("text_md5"), lit(batchId).as("src_batch")), storePath, batchId)
    }

  /** Streaming NEAR-dup gate with an UNBOUNDED horizon — [[dedupGate]]
    * upgraded from exact md5 equality to SimHash Hamming ≤
    * `maxHamming`: a document near-duplicating anything accepted in
    * ANY earlier batch — including before a restart — is dropped. No
    * executor state; the store holds one (doc_id, simhash, src_batch)
    * row per accepted document. Per batch: in-batch near-dedup keeps
    * the smaller doc_id of every banded pair
    * ([[graft.operators.Dedup.simhashPairsOf]]), survivors are
    * screened against the saved fingerprints by the same lossless
    * pigeonhole band equi-join ([[graft.operators.Dedup.simhashBandsOf]]
    * — the shuffle carries (band, value) keys, never all pairs, so
    * the screen scales with matches, not store × batch), and
    * surviving fingerprints land as one batch-keyed segment.
    * Replay-idempotent like [[dedupGate]].
    */
  def neardupGate(docs: DataFrame, storePath: String, outPath: String,
                  maxHamming: Int = 6): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val Dedup = graft.operators.Dedup
      // in-batch near-dedup: doc_b of every pair has the larger id
      val inDups = Dedup.simhashPairsOf(batch, maxHamming)
        .select(col("doc_b").as("doc_id")).distinct()
      val survivorsFp = Dedup.simhashDf(batch)
        .join(inDups, Seq("doc_id"), "left_anti")
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "doc_id BIGINT, simhash BIGINT, src_batch BIGINT")
      val matched = Dedup.simhashBandsOf(survivorsFp, "doc_id", maxHamming)
        .join(Dedup.simhashBandsOf(prior, "doc_id", maxHamming)
            .select(col("band"), col("v"), col("simhash").as("ps")),
          Seq("band", "v"))
        .filter(expr("bit_count(simhash ^ ps)") <= maxHamming)
        .select("doc_id").distinct()
      val freshFp = survivorsFp.join(matched, Seq("doc_id"), "left_anti")
      batch.join(freshFp.select("doc_id"), Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // fingerprint set grows with the corpus: delta-sized segment
      // landing + compaction (r11), never a full-store rewrite
      landBatch(freshFp.select(col("doc_id"), col("simhash"), lit(batchId).as("src_batch")),
        storePath, batchId)
    }

  /** Streaming SEMANTIC dedup gate — the embedding member of the gate
    * family ([[dedupGate]] = exact md5, [[neardupGate]] = SimHash,
    * this = cosine): each micro-batch of vectors is IVF-assigned
    * against the SAVED centroid table (bucket ids stable across
    * batches — the [[embedIndexMaintenance]] invariant), in-batch
    * semantic dups dropped greedily (smaller vec_id wins), survivors
    * screened against ONLY their bucket of the saved vector store by
    * exact cosine ≥ `threshold` (the [[knnServe]] read shape:
    * bucket-keyed join, other buckets' payloads never read), and
    * surviving vectors land as one bucket-partitioned, batch-keyed
    * segment. A semantic duplicate of a vector accepted before a
    * restart is still dropped. Replay-idempotent like its two
    * siblings.
    */
  def semdedupGate(vecs: DataFrame, centroidPath: String, storePath: String,
                   outPath: String, threshold: Double = 0.95)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(vecs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val Sim = graft.operators.Similarity
      val cent = spark.read.parquet(centroidPath)
      val a = Sim.ivfAssignTo(Sim.withNormOf(batch), cent)
        .select(col("vec_id"), col("embedding"), col("nm"), col("bucket"))
      val inDups = a.as("x").join(a.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id") &&
            graft.functions.VectorFns.dot(col("x.embedding"), col("y.embedding")) /
              (col("x.nm") * col("y.nm")) >= threshold)
        .select(col("y.vec_id").as("vec_id")).distinct()
      val surv = a.join(inDups, Seq("vec_id"), "left_anti")
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "vec_id BIGINT, embedding ARRAY<FLOAT>, nm DOUBLE, bucket BIGINT, src_batch BIGINT")
      val matched = surv.join(prior.select(col("bucket").cast("long").as("bucket"),
            col("embedding").as("pe"), col("nm").as("pnm")),
          Seq("bucket"))
        .filter(graft.functions.VectorFns.dot(col("embedding"), col("pe")) /
          (col("nm") * col("pnm")) >= threshold)
        .select("vec_id").distinct()
      val fresh = surv.join(matched, Seq("vec_id"), "left_anti")
      batch.join(fresh.select("vec_id"), Seq("vec_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // the semantic fingerprint set grows with the corpus: land the
      // batch's fresh vectors as a bucket-partitioned delta segment
      // (r11), never a full-store rewrite
      landBatch(fresh.withColumn("src_batch", lit(batchId)), storePath, batchId, Some("bucket"))
    }

  /** Streaming vocabulary drift monitor — the online twin of the
    * batch `vocab_growth`/`vocab_coverage_curve` pair: every
    * micro-batch is tokenized and compared against a SAVED vocabulary
    * store, emitting one drift report row per batch (batch terms,
    * terms never seen in ANY earlier batch — including before a
    * restart — and the token share those new terms carry). A rising
    * new-term share is the first signal a crawl started pulling a new
    * language/domain, before quality metrics move. The store holds one
    * (term, src_batch) row per first sighting; the screen is one
    * left_anti join on term (shuffle keyed by term, bounded by the
    * batch vocabulary, never the corpus). Replay-idempotent like
    * [[dedupGate]]: screening ignores the current batch's own stored
    * rows, the landing no-ops under the applied horizon, and the
    * report lands in its own `batch=<id>` dir.
    */
  def vocabDriftGate(docs: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val bt = batch
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "term STRING, src_batch BIGINT")
      val novel = bt.join(prior.select("term"), Seq("term"), "left_anti")
      val report = bt.agg(
          count(lit(1)).as("n_batch_terms"),
          sum(col("freq")).as("n_batch_tokens"))
        .crossJoin(novel.agg(
          count(lit(1)).as("n_new_terms"),
          coalesce(sum(col("freq")), lit(0L)).as("new_term_tokens")))
        .select(lit(batchId).as("batch_id"),
          col("n_batch_terms"), col("n_new_terms"),
          col("n_batch_tokens"), col("new_term_tokens"),
          round(col("new_term_tokens").cast("double") /
            col("n_batch_tokens").cast("double"), 6).as("new_token_share"))
      report.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // the vocabulary set grows with the corpus (heavy-tail): land
      // only the batch's NOVEL terms as a delta segment (r11)
      landBatch(novel.select(col("term"), lit(batchId).as("src_batch")), storePath, batchId)
    }

  /** Streaming source-mix monitor — the online twin of the batch
    * `sampling_weights`/`token_budget_allocation` pair: every
    * micro-batch's per-source token counts land in a SAVED
    * (source, n_tokens, src_batch) ledger as one batch-keyed segment,
    * and the batch's report row set carries each source's batch
    * tokens, cumulative tokens, and cumulative mix share — the
    * dashboard a continuously-ingesting pipeline watches to catch one
    * crawl starving the others. The ledger is |sources| × |batches|
    * rows (tiny); the only corpus-sized stage is the per-batch token
    * rollup. Replay-idempotent like the other segmented gates:
    * cumulative sums ignore the current batch's own ledger rows, and a
    * replayed batch's landing no-ops under the applied horizon.
    */
  def sourceMixMonitor(docs: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val bt = batch
        .select(col("source"),
          size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("t"))
        .groupBy("source").agg(sum(col("t")).as("n_tokens"))
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "source STRING, n_tokens BIGINT, src_batch BIGINT")
      val cum = prior.select(col("source"), col("n_tokens"))
        .unionByName(bt)
        .groupBy("source").agg(sum(col("n_tokens")).as("cum_tokens"))
      val tot = cum.agg(sum(col("cum_tokens")).as("total"))
      val report = cum
        .join(bt.select(col("source"), col("n_tokens").as("batch_tokens")),
          Seq("source"), "left")
        .crossJoin(broadcast(tot))
        .select(lit(batchId).as("batch_id"), col("source"),
          coalesce(col("batch_tokens"), lit(0L)).as("batch_tokens"),
          col("cum_tokens"),
          round(col("cum_tokens").cast("double") /
            col("total").cast("double"), 6).as("cum_share"))
      report.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      landBatch(bt.withColumn("src_batch", lit(batchId)), storePath, batchId)
    }

  /** Streaming Naive Bayes language router — the batch
    * [[graft.operators.TextAnalysis.nbLangid]] trained CONTINUOUSLY:
    * every micro-batch is scored against the model accumulated from
    * all PRIOR batches (prequential test-then-train evaluation — each
    * doc is scored by a model that has never seen it), then the
    * batch's own (term, lang) token counts and per-lang doc counts
    * merge into the saved counts ledger. The first batch, with no
    * model yet, routes unscored (null prediction) rather than
    * guessing. Scoring reuses
    * [[graft.operators.TextAnalysis.nbScoreAgainst]] verbatim, so the
    * online router and the oracle-gated batch classifier share one
    * arithmetic definition. The ledger is vocab × langs + |langs|
    * rows (tiny, model-sized — never corpus-sized); the only
    * corpus-scaled stage is the batch's own token rollup.
    * Replay-idempotent like the other segmented gates: a replayed
    * batch's ledger rows are dropped before scoring, so it is
    * re-scored by the same prior-model state, and its landing no-ops
    * under the applied horizon.
    */
  def nbRouterGate(docs: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "kind STRING, term STRING, lang STRING, c BIGINT, src_batch BIGINT")
      val ctl = prior.filter(col("kind") === "tl")
        .groupBy("term", "lang").agg(sum(col("c")).as("c"))
      val priorDocs = prior.filter(col("kind") === "dl")
        .groupBy("lang").agg(sum(col("c")).as("nd"))
      val preds =
        if (priorDocs.isEmpty)
          batch.select(col("doc_id"), col("lang"),
            lit(null).cast("string").as("pred_lang"),
            lit(null).cast("long").as("correct"))
        else
          graft.operators.TextAnalysis.nbScoreAgainst(batch, ctl, priorDocs)
      preds.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      val btl = batch
        .select(col("lang"), explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        .groupBy("term", "lang").agg(count(lit(1)).as("c"))
        .select(lit("tl").as("kind"), col("term"), col("lang"), col("c"))
      val bdl = batch.groupBy("lang").agg(count(lit(1)).as("c"))
        .select(lit("dl").as("kind"), lit(null).cast("string").as("term"),
          col("lang"), col("c"))
      // the model ledger is an append-only set of per-batch count
      // rows (consumers re-aggregate): land the batch's rows as a
      // delta segment (r11) — the model is vocab-sized and the old
      // path rewrote all of it every batch
      landBatch(btl.unionByName(bdl).withColumn("src_batch", lit(batchId)), storePath, batchId)
    }

  /** Streaming boilerplate scrub against an UNBOUNDED sentence-df
    * ledger — the batch `boilerplate_scrub` as a continuous gate:
    * each micro-batch's documents are split into trimmed sentences
    * ([[graft.operators.TextAnalysis.sentencesOf]] — the same frame
    * as the batch twin), a sentence whose cross-document reach
    * (saved ledger + this batch) is ≥ `minDocs` distinct docs is
    * boilerplate, and the batch lands with those sentences removed
    * in original order. Chrome that only becomes detectable over
    * time ("accept all cookies" seen once per batch for a week) is
    * caught the moment its cumulative reach crosses the threshold —
    * including across restarts, because the ledger lives in the
    * store, not executor state. The ledger holds DISTINCT
    * (sent_md5, doc_id) pairs attributed to their first-seen batch —
    * sentences shuffle as 32-char digests, never full text — so reach
    * is a TRUE distinct-doc count: a doc replayed by the source or
    * split across micro-batches can never inflate a sentence's reach
    * (the r7 ledger summed per-batch countDistincts and relied on a
    * documented no-recurrence assumption). Replay-idempotent like the
    * other segmented gates: a replayed batch's own rows are dropped
    * before the anti-join, so pairs keep their original attribution.
    */
  def boilerplateGate(docs: DataFrame, storePath: String, outPath: String,
                      minDocs: Long = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val sents = graft.operators.TextAnalysis.sentencesOf(batch)
        .withColumn("sh", md5(col("sent")))
      val pairs = sents.select(col("sh"), col("doc_id")).distinct()
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "sh STRING, doc_id BIGINT, src_batch BIGINT")
      // the ledger format changed from per-batch (sh, n_docs, src_batch)
      // counts to distinct (sh, doc_id, src_batch) pairs; legacy counts
      // can't be migrated to pairs (the doc identities are gone), so
      // fail loud with the remedy instead of an AnalysisException
      // mid-plan on first batch
      require(prior.columns.contains("doc_id"),
        s"boilerplate ledger at $storePath is in the legacy " +
          "(sh, n_docs, src_batch) format, which cannot express " +
          "distinct-doc reach; delete the store and replay the " +
          "stream from a fresh checkpoint to rebuild it")
      // pairs not yet in the ledger: the union below is then a
      // distinct pair relation, so the per-sentence count is an
      // exact distinct-doc reach even under source replay
      val fresh = pairs.join(prior, Seq("sh", "doc_id"), "left_anti")
      val bp = prior.select(col("sh"), col("doc_id")).unionByName(fresh)
        .groupBy("sh").agg(count(lit(1)).as("cnd"))
        .filter(col("cnd") >= minDocs)
        .select(col("sh"), lit(true).as("is_bp"))
      // same ordered re-assembly as the batch twin — shared code, so
      // the two scrubs can never drift; the left join from the batch
      // keeps sentence-less docs (row parity, like the batch twin)
      val assembled = graft.operators.TextAnalysis.scrubAssembly(
        sents.join(bp, Seq("sh"), "left")
          .withColumn("keep", col("is_bp").isNull))
      val scrubbed = batch.select(col("doc_id")).join(assembled, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sents"), lit(0L)).as("n_sents"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          coalesce(col("kept_text"), lit("")).as("kept_text"))
      scrubbed.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // the sentence-pair ledger grows with the corpus: land only
      // the batch's FRESH pairs as a delta segment (r11)
      landBatch(fresh.withColumn("src_batch", lit(batchId)), storePath, batchId)
    }

  /** The COMPOSED streaming cleaning funnel — the batch
    * `pipeline_clean` as a continuous gate: every micro-batch runs
    * quality rules → exact-dup screen → near-dup screen, each stage
    * the SAME code as its standalone gate ([[qualityGate]]'s rules via
    * [[graft.operators.TextAnalysis.qualityFlagsOf]], [[dedupGate]]'s
    * saved md5 store, [[neardupGate]]'s saved fingerprint store and
    * banded screen), so the funnel and its parts can never disagree.
    * Survivors land under `clean/batch=<id>`; a one-row per-stage
    * count report (the funnel chart) lands under `report/batch=<id>`.
    * BOTH stores update batch-granularly, so replay is idempotent
    * end-to-end. Store semantics: md5 fingerprints are recorded for
    * every exact-stage survivor (a later copy of a doc that the
    * NEAR-dup stage then dropped is still a copy of something seen —
    * it dies at the exact stage), near-dup fingerprints only for
    * landed docs. At 100 TB/day each screen shuffles only
    * (hash/band)-keyed matches — never store × batch — and the
    * quality stage is a scan-speed row map.
    */
  def pipelineGate(docs: DataFrame, md5StorePath: String, fpStorePath: String,
      outPath: String, maxHamming: Int = 6)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, md5StorePath, fpStorePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val md5Prior = SegmentedStore.priorBatches(spark, md5StorePath, batchId,
        "text_md5 STRING, src_batch BIGINT")
      val fpPrior = SegmentedStore.priorBatches(spark, fpStorePath, batchId,
        "doc_id BIGINT, simhash BIGINT, src_batch BIGINT")
      val Dedup = graft.operators.Dedup
      val nIn = batch.count()
      // stage 1: quality rules (shared code with qualityGate)
      val q = graft.operators.TextAnalysis.qualityFlagsOf(batch)
        .filter(col("keep") === 1L)
        .select(batch.columns.map(col): _*).persist()
      val nQuality = q.count()
      // stage 2: in-batch exact canon + saved md5 screen
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("text_md5").orderBy("doc_id")
      val canon = q.withColumn("text_md5", md5(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val exactFresh = canon
        .join(md5Prior.select("text_md5"), Seq("text_md5"), "left_anti").persist()
      val nExact = exactFresh.count()
      // stage 3: in-batch near-dedup + saved fingerprint screen
      val inDups = Dedup.simhashPairsOf(exactFresh, maxHamming)
        .select(col("doc_b").as("doc_id")).distinct()
      val survivorsFp = Dedup.simhashDf(exactFresh)
        .join(inDups, Seq("doc_id"), "left_anti")
      val matched = Dedup.simhashBandsOf(survivorsFp, "doc_id", maxHamming)
        .join(Dedup.simhashBandsOf(fpPrior, "doc_id", maxHamming)
            .select(col("band"), col("v"), col("simhash").as("ps")),
          Seq("band", "v"))
        .filter(expr("bit_count(simhash ^ ps)") <= maxHamming)
        .select("doc_id").distinct()
      val freshFp = survivorsFp.join(matched, Seq("doc_id"), "left_anti").persist()
      val clean = exactFresh
        .join(freshFp.select("doc_id"), Seq("doc_id"), "left_semi")
        .drop("text_md5")
      clean.write.mode("overwrite").parquet(s"$outPath/clean/batch=$batchId")
      val nClean = freshFp.count()
      spark.range(1)
        .select(lit(batchId).as("batch_id"), lit(nIn).as("n_in"),
          lit(nQuality).as("n_quality"), lit(nExact).as("n_exact"),
          lit(nClean).as("n_clean"))
        .write.mode("overwrite").parquet(s"$outPath/report/batch=$batchId")
      // store updates: md5 for every exact-stage survivor, simhash
      // fingerprints only for landed docs. Both stores are
      // append-only SETS, so each batch lands as a delta-sized
      // monotonic segment (r10 VERDICT item 3 — the old path unioned
      // and rewrote the WHOLE store every batch); the src_batch
      // column still keys replay exclusion in the prior reads (a
      // crash between the two landings replays with one store
      // already holding this batch's rows), and periodic compaction
      // bounds the file count (each store on its OWN count)
      landBatch(exactFresh.select(col("text_md5"), lit(batchId).as("src_batch")),
        md5StorePath, batchId)
      landBatch(freshFp.select(col("doc_id"), col("simhash"), lit(batchId).as("src_batch")),
        fpStorePath, batchId)
      q.unpersist()
      exactFresh.unpersist()
      freshFp.unpersist()
    }

  /** Streaming heavy hitters over a PERSISTED Count-Min sketch — the
    * streaming twin of the batch `heavy_hitters_cms`, and the reason
    * the CMS exists at all: each batch lands its touched d = 4 ×
    * w = 64 cells as one batch-keyed ledger segment (a replayed
    * batch's landing no-ops under the applied horizon), so cumulative
    * term-frequency estimates survive restarts in 256 cells NO MATTER how many
    * distinct terms the stream has carried — the exact running
    * wordcount (`stream_topk`) holds one state row per term and
    * cannot bound that at 100 TB/day. Each batch's report ranks the
    * batch's OWN terms by their cumulative estimate (the "trending
    * now" view); estimates of unseen terms remain queryable offline
    * from the same saved sketch. Hashing is shared code with the
    * batch operator ([[graft.operators.TextAnalysis.cmsHashedOf]]),
    * so stream and batch can never drift.
    */
  def heavyHittersMonitor(docs: DataFrame, storePath: String, outPath: String,
      topK: Int = 10)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val cnt = batch
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .withColumn("rh", graft.functions.HashFns.rollingHash(col("term")))
      val hashed = graft.operators.TextAnalysis.cmsHashedOf(cnt, 64L)
      val bt = hashed.groupBy("row", "bucket").agg(sum(col("tf")).as("n"))
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "row INT, bucket BIGINT, n BIGINT, src_batch BIGINT")
      val cum = prior.select(col("row"), col("bucket"), col("n"))
        .unionByName(bt)
        .groupBy("row", "bucket").agg(sum(col("n")).as("c"))
      val report = hashed.join(broadcast(cum), Seq("row", "bucket"))
        .groupBy("term")
        .agg(max(col("tf")).as("batch_tf"), min(col("c")).as("cms_est"))
        .orderBy(col("cms_est").desc, col("term"))
        .limit(topK)
        .select(lit(batchId).as("batch_id"), col("term"),
          col("batch_tf"), col("cms_est"))
      report.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      landBatch(bt.withColumn("src_batch", lit(batchId)), storePath, batchId)
    }

  /** Hybrid (sparse + dense) retrieval SERVING from the two saved
    * stores — the streaming composition of
    * [[graft.operators.Similarity.hybridSearch]]: each query batch
    * carries (query_id, term, embedding); the term side reads ONLY
    * its terms' buckets from the saved doc_id-keyed
    * [[graft.sources.IndexStore]] index (planning-time pruning, tf
    * ranking), the vector side reads only the assigned IVF buckets of
    * the saved embedding store (the [[knnServe]] path), and the two
    * candidate-bounded rankings RRF-fuse per query into
    * `outPath/batch=<id>` (idempotent replay). The one driver-side
    * collect is the batch's distinct term list — bounded by the query
    * batch, the collect a serving loop legitimately makes. Both
    * stores stay partition-pruned however large the corpus is; the
    * fusion frames are ≤ 4k rows per query. Each batch with terms is
    * [[hybridServeOn]] over a one-query index handle
    * ([[graft.sources.IndexStore.openOnce]]) and a one-query embed
    * handle, so every batch reads the latest stores.
    */
  def hybridServe(queries: DataFrame, indexPath: String, centroidPath: String,
      storePath: String, outPath: String, k: Int = 5,
      nBuckets: Int = graft.sources.IndexStore.DefaultBuckets)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(queries) { (batch, batchId) =>
      val spark = batch.sparkSession
      val terms = termsOf(batch)
      // a batch with no term rows has nothing to serve (and no handle
      // to open)
      if (terms.nonEmpty) {
        hybridTermsOn(graft.sources.IndexStore.openOnce(spark, indexPath, nBuckets),
            embedHandle(spark, storePath, centroidPath, hold = false), batch, terms, k)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
    }

  /** The hybrid retrieval kernel [[hybridServe]] lands per micro-batch
    * and [[hybridServeOn]] serves per request: tf-ranked sparse
    * candidates from the batch's term postings (`post` — already
    * bucket-pruned by the caller's fetch), bucket-pruned exact-cosine
    * dense candidates from `store`, RRF-fused top-`k` per query.
    * Both candidate lists are bounded at `k * 4` before the fusion
    * join, so the fusion frames stay small however large the corpus.
    */
  def hybridBatchOf(batch: DataFrame, post: DataFrame, cent: DataFrame,
                    store: DataFrame, k: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ws = W.partitionBy("query_id").orderBy(col("tf").desc, col("doc_id"))
    val sparse = post
      .join(broadcast(batch.select(col("query_id"), col("term"))), "term")
      // a multi-term query yields one posting row per matched term:
      // collapse to one candidate per (query, doc) — summed tf, the
      // same accumulation the batch twin's BM25 leg does — so a
      // two-term match occupies one rank slot, not two.
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"))
      .withColumn("rank_sparse", row_number().over(ws).cast("long"))
      .filter(col("rank_sparse") <= k * 4)
      .select(col("query_id"), col("doc_id"), col("rank_sparse"))
    // one (query_id, term) row per term ⇒ the embedding repeats per
    // term row; dedupe before assignment or each query probes (and
    // ranks) once per term.
    val qv = graft.operators.Similarity.ivfAssignTo(
        graft.operators.Similarity.withNormOf(
          batch.select(col("query_id").as("vec_id"), col("embedding"))
            .dropDuplicates("vec_id")), cent)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nm").as("qnm"), col("bucket"))
      // consumed twice (bucket collect + probe join) — see knnBatchOf
      .localCheckpoint()
    val wd = W.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val dense = prunedToBuckets(store, qv).join(broadcast(qv), "bucket")
      .withColumn("cos",
        graft.functions.VectorFns.dot(col("qe"), col("embedding")) /
          (col("qnm") * col("nm")))
      .withColumn("rank_dense", row_number().over(wd).cast("long"))
      .filter(col("rank_dense") <= k * 4)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rank_dense"))
    val wf = W.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("rank_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rank_dense")), lit(0.0)), 6))
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"),
        coalesce(col("rank_sparse"), lit(0L)).as("rank_sparse"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"), col("rrf"))
  }

  /** Per-request hybrid top-`k` against a pinned sparse session
    * ([[graft.sources.IndexStore.OpenIndex]]) and a pinned dense
    * session ([[OpenEmbedStore]]) — identical rows to a
    * [[hybridServe]] micro-batch over the same store states
    * (spec-asserted). The one driver-side collect is the request's
    * distinct term list, the collect a serving loop legitimately
    * makes. Snapshot semantics are both handles': takedowns or
    * segments landed after either open need a re-open of that handle.
    */
  def hybridServeOn(oi: graft.sources.IndexStore.OpenIndex,
                    oes: OpenEmbedStore, queries: DataFrame,
                    k: Int = 5): DataFrame = {
    val terms = termsOf(queries)
    require(terms.nonEmpty, "hybridServeOn needs at least one query term")
    hybridTermsOn(oi, oes, queries, terms, k)
  }

  /** The distinct query terms of a hybrid query frame (one collect). */
  private def termsOf(queries: DataFrame): Seq[String] =
    queries.select("term").distinct().collect().map(_.getString(0)).toSeq

  /** [[hybridServeOn]] over the already-collected `terms` of `queries`. */
  private def hybridTermsOn(oi: graft.sources.IndexStore.OpenIndex, oes: OpenEmbedStore,
                            queries: DataFrame, terms: Seq[String], k: Int): DataFrame =
    hybridBatchOf(queries, graft.sources.IndexStore.lookupTermsOn(oi, terms),
      oes.cent, oes.store, k)

  /** Continuous weighted reservoir: a document stream keeps the
    * global top-k Efraimidis–Spirakis sample fresh — each micro-batch
    * scores its docs with the SAME salted-hash E-S key as the batch
    * operator ([[graft.operators.Pipeline.esKeysOf]], so batch and
    * streaming draws agree on any prefix of the corpus), unions the
    * saved reservoir, and keeps the global top-k. A weighted sample
    * is exactly mergeable this way (each doc's key is independent of
    * every other doc), so the store IS the correct sample of
    * everything ever streamed. src_batch tagging + the prior filter
    * make replay idempotent; the store swap is crash-recovered like
    * every other persisted artifact here. State = k rows, total.
    */
  def weightedReservoir(docs: DataFrame, storePath: String, k: Int = 100)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val basePath = new org.apache.hadoop.fs.Path(storePath)
      val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val scored = graft.operators.Pipeline.esKeysOf(batch)
        .withColumn("src_batch", lit(batchId))
      val all =
        if (fs.exists(basePath))
          SegmentedStore.read(spark, storePath).filter(col("src_batch") =!= batchId)
            .unionByName(scored)
        else scored
      val merged = all
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(k)
      val tmp = s"$storePath.merged-$batchId"
      merged.write.mode("overwrite").parquet(tmp)
      StoreSwap.swap(fs, basePath, tmp)
    }

  /** Shared scaffold of the day-ledger monitors ([[anomalyMonitor]],
    * [[forecastMonitor]], [[hwForecastMonitor]], [[stlAnomalyMonitor]],
    * [[changepointMonitor]]): read the (day, n_events, src_batch) rows
    * earlier batches landed, hand `report` the cumulative (day, c)
    * history plus the batch rollup, land the report, then land the
    * batch's rows as one batch-keyed ledger segment ([[landBatch]]).
    * The replay-idempotency discipline (src_batch filter + the
    * applied-horizon no-op) lives HERE once, so a fix to the landing
    * or replay path can never leave a sibling monitor stale.
    */
  private def dayLedgerMonitor(events: DataFrame, storePath: String,
      outPath: String)(report: (DataFrame, DataFrame, Long) => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(events, storePath) { (batch, batchId) =>
      val spark = batch.sparkSession
      val bt = batch
        .select(expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_events"))
      val prior = SegmentedStore.priorBatches(spark, storePath, batchId,
        "day BIGINT, n_events BIGINT, src_batch BIGINT")
      val cum = prior.select(col("day"), col("n_events"))
        .unionByName(bt)
        .groupBy("day").agg(sum(col("n_events")).as("c"))
      report(cum, bt, batchId)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      landBatch(bt.withColumn("src_batch", lit(batchId)), storePath, batchId)
    }

  /** Streaming ingestion-anomaly monitor — the streaming twin of the
    * batch `events_anomaly`: each micro-batch's daily event counts
    * land in a saved (day, n_events, src_batch) ledger as one
    * batch-keyed segment ([[dayLedgerMonitor]]), and the batch's
    * report scores the days it touched against the FULL ledger's
    * exact integer moments (n, Σx, Σx²) — the alert baseline tightens
    * as history accrues, and a restart loses nothing because the
    * ledger, not executor state, carries the history. The anomaly
    * rule matches the batch operator: |z| ≥ 2 on the sample-variance
    * z-score; with fewer than 2 days of history, or zero variance,
    * z is defined as 0 — no alerting before a baseline exists. At
    * 100 TB/day a batch adds one ledger row per day it touched: the
    * landing is a few KB regardless of stream volume, and the per-day
    * batch rollup is the only work that scales with input.
    */
  def anomalyMonitor(events: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dayLedgerMonitor(events, storePath, outPath) { (cum, bt, batchId) =>
      val m = cum.agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sxx"))
      val scored = cum.crossJoin(broadcast(m))
        .withColumn("mean", col("sx").cast("double") / col("n"))
        // null below 2 days: the sample variance divides by n - 1
        .withColumn("sd", when(col("n") > 1L, sqrt(
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n").cast("double") * (col("n") - 1L).cast("double")))))
        .withColumn("z", when(col("sd") > 0.0,
          round((col("c") - col("mean")) / col("sd"), 4)).otherwise(0.0))
      bt.select(col("day"), col("n_events").as("batch_events"))
        .join(scored, Seq("day"))
        .select(lit(batchId).as("batch_id"), col("day"), col("batch_events"),
          col("c").as("cum_events"), round(col("mean"), 4).as("mean"),
          col("z"),
          when(abs(col("z")) >= 2.0, 1L).otherwise(0L).as("is_anomaly"))
    }

  /** Continuous Holt forecast over a saved per-day ledger — the batch
    * [[graft.operators.Analytics.eventsHolt]] as a monitor: each
    * micro-batch lands its per-day counts in the ledger
    * (day, n_events, src_batch) and REPLAYS the exact Holt fold
    * ([[graft.operators.Analytics.holtOf]] — shared code) over the
    * complete day-ordered history, publishing the latest level /
    * trend / next-day forecast. Replaying the ledger instead of
    * carrying (l, b) in executor state is what makes late and
    * out-of-order days EXACT: a late event revises history and every
    * smoothed value downstream of it, which no forward-only state
    * could do — and the ledger is |days|-bounded (calendar), so the
    * replay is a rounding error next to the batch's own rollup at any
    * corpus size. Restart-safe and replay-idempotent by the shared
    * day-ledger landing ([[dayLedgerMonitor]]).
    */
  def forecastMonitor(events: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dayLedgerMonitor(events, storePath, outPath) { (cum, _, batchId) =>
      // n_days from the LEDGER, not from h: counting through holtOf
      // would replay the whole fold a second time per batch
      graft.operators.Analytics.holtOf(cum)
        .orderBy(col("day").desc).limit(1)
        .select(lit(batchId).as("batch_id"), col("day").as("latest_day"),
          col("level"), col("trend"), col("forecast"))
        .crossJoin(broadcast(cum.agg(count(lit(1)).as("n_days"))))
    }

  /** Continuous Holt-Winters forecast — [[forecastMonitor]] with the
    * period-7 seasonal register: each batch lands its day counts and
    * replays [[graft.operators.Analytics.holtWintersOf]] (shared
    * fold — the monitor and the oracle-gated batch key can never
    * drift) over the complete ledger, publishing the latest state and
    * the NEXT-day projection level + trend + s_{t−6} (the register
    * entry that comes due tomorrow, read off the published seasonal
    * column 7 rows back). Emits nothing until the ledger holds the
    * 8 days the seed week needs; late/replayed days are exact by the
    * ledger replay, same as the Holt monitor.
    */
  def hwForecastMonitor(events: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dayLedgerMonitor(events, storePath, outPath) { (cum, _, batchId) =>
      val hw = graft.operators.Analytics.holtWintersOf(cum)
      val last = hw.orderBy(col("day").desc).limit(1)
      val sNext = hw.orderBy(col("day").desc).limit(7)
        .orderBy(col("day").asc).limit(1)
        .select(col("seasonal").as("s_next"))
      last.crossJoin(broadcast(sNext))
        .select(lit(batchId).as("batch_id"), col("day").as("latest_day"),
          col("level"), col("trend"), col("seasonal"),
          round(col("level") + col("trend") + col("s_next"), 6)
            .as("next_forecast"))
        .crossJoin(broadcast(cum.agg(count(lit(1)).as("n_days"))))
    }

  /** Continuous seasonality-aware anomaly monitor — the batch
    * [[graft.operators.Analytics.eventsStlAnomaly]] replayed over the
    * day ledger (shared `eventsStlAnomalyOf` — decomposition and
    * medians can never drift from the oracle-gated batch key): each
    * batch publishes the LATEST decomposable day's residual, the
    * robust 3×MAD verdict, and the flagged-day count over the whole
    * history. Because trend is a CENTERED 7-day MA, the newest 3 days
    * are never decomposable yet — the published day trails the ledger
    * head by 3, the price of a symmetric window (the Holt-Winters
    * monitor is the zero-lag alternative). Late days revise the whole
    * decomposition exactly, same ledger discipline as the others.
    */
  def stlAnomalyMonitor(events: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dayLedgerMonitor(events, storePath, outPath) { (cum, _, batchId) =>
      val a = graft.operators.Analytics.eventsStlAnomalyOf(cum)
      a.orderBy(col("day").desc).limit(1)
        .select(lit(batchId).as("batch_id"), col("day").as("latest_scored_day"),
          col("n_events"), col("resid"), col("med"), col("mad"),
          col("is_anomaly"))
        .crossJoin(broadcast(
          a.agg(sum(col("is_anomaly")).as("n_flagged"),
            count(lit(1)).as("n_scored_days"))))
    }

  /** Continuous change-point monitor — [[forecastMonitor]]'s sibling
    * over the same ledger discipline: each micro-batch lands its
    * per-day counts and replays the EXACT integer binary-segmentation
    * argmin ([[graft.operators.Analytics.changepointOf]], shared
    * code) over the complete history, publishing the split day and
    * its gain. The all-integer argmin means the published split can
    * never flap from float noise — it moves only when the data moves
    * — and the ledger replay makes late days exact, same as the
    * forecast monitor. Needs ≥2 observed days (emits nothing before).
    */
  def changepointMonitor(events: DataFrame, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dayLedgerMonitor(events, storePath, outPath) { (cum, _, batchId) =>
      graft.operators.Analytics.changepointOf(cum)
        .select(lit(batchId).as("batch_id"), col("n_days"), col("split_day"),
          col("cost_micro"), col("baseline_micro"), col("gain_micro"))
    }

  /** Streaming corpus triage: every micro-batch is scored by the
    * batch quality rules ([[graft.operators.TextAnalysis.qualityFlagsOf]]
    * — the SAME rule code, so batch and stream can never drift) and
    * routed to a clean or quarantine corpus, one directory per batch
    * id. Exactly-once by idempotent replay: a restarted batch
    * overwrites its own `batch=<id>` directory, so duplicate landing
    * is impossible without a transactional sink. The flags frame is
    * computed once per batch (persist) and both routes stream from
    * it; rejected docs keep their rule flags for quarantine triage.
    */
  def qualityGate(docs: DataFrame, cleanPath: String, quarantinePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs) { (batch, batchId) =>
      val flagged = graft.operators.TextAnalysis.qualityFlagsOf(batch).persist()
      try {
        flagged.filter(col("keep") === 1L)
          .drop("n_tokens", "r_len", "r_wordlen", "r_stop", "r_ttr", "keep")
          .write.mode("overwrite").parquet(s"$cleanPath/batch=$batchId")
        flagged.filter(col("keep") === 0L)
          .write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
      } finally flagged.unpersist()
    }

  /** Streaming DSIR importance gate: every micro-batch's documents
    * are scored against a SAVED 64-row bucket-LLR table
    * ([[graft.operators.Pipeline.saveDsirLm]] — the batch-side
    * target-vs-raw LM fit), and routed to a keep corpus
    * (target-like, logweight > 0) or a drop corpus per batch — the
    * streaming half of [[graft.operators.Pipeline.dsirWeights]], with
    * the model in the store instead of executor state (the
    * contaminationGate pattern). Batch-keyed output directories make
    * replay idempotent; the LLR table is 64 rows, so the scoring join
    * broadcasts and the only shuffle is the per-doc bucket rollup.
    * Zero-token documents have no feature mass and land in neither
    * corpus (same contract as the batch operator's output).
    */
  def importanceGate(docs: DataFrame, lmPath: String, keepPath: String,
                     dropPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs) { (batch, batchId) =>
      val spark = batch.sparkSession
      val llr = spark.read.parquet(lmPath)
      val scored = graft.operators.Pipeline.dsirScoreOf(batch, llr)
      val routed = batch.join(scored, "doc_id").persist()
      try {
        routed.filter(col("keep") === 1L).drop("keep")
          .write.mode("overwrite").parquet(s"$keepPath/batch=$batchId")
        routed.filter(col("keep") === 0L).drop("keep")
          .write.mode("overwrite").parquet(s"$dropPath/batch=$batchId")
      } finally routed.unpersist()
    }

  /** Streaming benchmark-contamination screen: every micro-batch's
    * documents are shingled (the same kernel the batch
    * `contamination_check` uses) and joined against a SAVED train-
    * shingle set ([[graft.operators.Pipeline.saveShingleSet]]);
    * documents sharing any shingle land in a quarantine directory per
    * batch (idempotent replay, like [[qualityGate]]) with their
    * overlap count. State lives in the store, not executor memory —
    * the indexMaintenance pattern — so the screen handles any train
    * corpus size; a production deployment swaps the join for a bloom
    * filter broadcast when the shingle set fits one.
    */
  def contaminationGate(docs: DataFrame, trainShinglePath: String,
                        quarantinePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batchSink(docs) { (batch, batchId) =>
      val spark = batch.sparkSession
      val train = spark.read.parquet(trainShinglePath)
      val hits = graft.operators.Dedup.shingleHashes(batch)
        .select(col("doc_id"), explode(array_distinct(col("hs"))).as("hh"))
        .join(train, "hh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_shingles"))
      batch.join(hits, "doc_id")
        .write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
    }

  /** Watermarked tumbling 1-hour counts per event type — streaming
    * twin of `Analytics.windowTumbling`.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))

  /** Live OHLC bars — the streaming twin of the batch `events_ohlc`:
    * hourly open/high/low/close per event type. open/close ride
    * `min_by`/`max_by` on event time (declarative aggregates, so the
    * whole thing stays a PURE streaming aggregation — the batch
    * operator's row_number windows would need unbounded sort state).
    * Watermark bounds state to the open bars; high/low/count merge
    * partially like any agg.
    */
  def ohlcBars(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("open"), col("high"), col("low"), col("close"))

  /** Running global term frequencies over a document stream in Update
    * mode — the streaming twin of the batch `wordcount` (and the live
    * "trending terms" surface a search deployment watches). A pure
    * streaming aggregation: partial counts merge into state per
    * micro-batch, and Update mode emits only the changed rows — the
    * consumer (a top-k dashboard) keeps its own bounded view, so
    * nothing unbounded leaves the query. State is one row per
    * distinct term.
    */
  def runningWordcount(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term")
      .agg(count(lit(1)).as("freq"))

  /** Stream–stream interval join: each event enriched with orders of
    * the same user placed within the hour BEFORE the event. Both sides
    * carry watermarks and the join condition bounds event time on both
    * ends, so state eviction is watermark-driven — the 100 TB/day
    * requirement for an unbounded join to hold only an hour of each
    * side.
    */
  def enrichWithOrders(events: DataFrame, orders: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .join(orders.withWatermark("ots", "1 hour"),
        expr("""user_id = o_custkey AND
                ots BETWEEN ts - INTERVAL 1 HOUR AND ts"""))
      .select(col("user_id"), col("ts"), col("o_orderkey"))

}
