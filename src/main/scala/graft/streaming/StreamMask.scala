package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupStateTimeout,
  ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

import graft.blueprint.{Blueprint, ColumnRule, MaskCompiler, Rule}

/** Custom per-key streaming state for [[StreamMask.runningUserTotals]]. */
final case class UserTotals(n: Long, sum: Double)

/** One (doc, band) row entering the streaming near-dedup state: the band's
  * slice of the MinHash signature is the grouping key, the distinct
  * shingle hashes ride along for exact Jaccard verification.
  */
final case class BandedDoc(id: Long, tsMs: Long, band: Int,
    sig: Array[Long], hashes: Array[Long])

/** One retained member of a near-dup bucket — the element type of
  * [[NearDupBucketProcessor]]'s `ListState`: (id, event-time ms,
  * distinct shingle hashes), kept flat so the state encoder handles it
  * natively.
  */
final case class BucketMember(id: Long, tsMs: Long, hashes: Array[Long])

/** A verified near-duplicate pair (id_a < id_b); `eventTime` is the
  * pair's event time (the later member's timestamp) — declared as the
  * operator's output event-time column so the exactly-once dedup stage
  * can chain downstream of the bucket state.
  */
final case class NearDupHit(id_a: Long, id_b: Long, n_inter: Long,
    jaccard: Double, eventTime: java.sql.Timestamp)

/** The per-(band, band-signature) bucket state behind
  * [[StreamMask.nearDupPairsStream]], as a Spark 4 `StatefulProcessor`
  * (`transformWithState`) rather than `flatMapGroupsWithState`: the
  * newer operator can DECLARE its output event-time column, which is
  * what lets the exactly-once `dropDuplicatesWithinWatermark` stage
  * chain after it — the old operator is opaque to the watermark
  * machinery, so Spark's global-watermark correctness check rejects any
  * stateful consumer of its output.
  *
  * State per key: the retained members' (id, event-time ms, distinct
  * shingle hashes), trimmed against the watermark on every visit; one
  * event-time timer per bucket evicts the whole bucket `delayMs` past
  * its newest member if no batch touches it first.
  *
  * Every emitted pair's `eventTime` is ≥ the current watermark (members
  * are trimmed to `ts ≥ watermark` first, and the incoming doc survived
  * the upstream watermark filter), so the declared output event time
  * never violates the chained operators' late-row bound.
  */
final class NearDupBucketProcessor(threshold: Double, delayMs: Long)
    extends StatefulProcessor[String, BandedDoc, NearDupHit] {

  @transient private var bucket: ListState[BucketMember] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    bucket = getHandle.getListState[BucketMember]("bucket",
      Encoders.product[BucketMember], TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[BandedDoc],
      timerValues: TimerValues): Iterator[NearDupHit] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    var members = bucket.get().toList.filter(_.tsMs >= wm)
    // id order pins which same-batch doc is "already present" when the
    // other arrives — deterministic output
    val out = List.newBuilder[NearDupHit]
    rows.toSeq.sortBy(_.id).foreach { d =>
      // an at-least-once source can redeliver a document: a doc already
      // in the bucket must neither re-emit its pairs nor grow the
      // member list (state stays ∝ distinct docs)
      if (!members.exists(_.id == d.id)) {
        val hs = d.hashes.toSet
        members.foreach { m =>
          if (m.id != d.id) {
            val inter = m.hashes.count(hs.contains)
            val union = hs.size + m.hashes.size - inter
            val j = inter.toDouble / union
            if (j >= threshold)
              out += NearDupHit(math.min(m.id, d.id), math.max(m.id, d.id),
                inter.toLong,
                j, new java.sql.Timestamp(math.max(m.tsMs, d.tsMs)))
          }
        }
        members = BucketMember(d.id, d.tsMs, d.hashes) :: members
      }
    }
    bucket.put(members.toArray)
    // one live timer per bucket: the bucket dies `delayMs` past its
    // newest member unless revisited first. (.toSeq at every
    // listTimers site: deleting while iterating the state-store-backed
    // iterator is undefined on some backends.)
    getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
    getHandle.registerTimer(members.map(_.tsMs).max + delayMs)
    out.result().iterator
  }

  override def handleExpiredTimer(key: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[NearDupHit] = {
    // the timer only fires `delayMs` past the newest member at the time
    // it was registered; members added since re-registered a later timer
    val kept = bucket.get().toList
      .filter(_.tsMs >= timerValues.getCurrentWatermarkInMs())
    if (kept.isEmpty) bucket.clear()
    else {
      // can only happen if a visit raced the expiry: keep the survivors
      // and arm a fresh eviction timer for them
      bucket.put(kept.toArray)
      getHandle.registerTimer(kept.map(_.tsMs).max + delayMs)
    }
    Iterator.empty
  }
}

/** A document with its streaming packing assignment — the output row of
  * [[StreamMask.packStream]].
  */
final case class PackedDoc(shard: String, id: Long, tokens: Long,
    offset: Long, bin: Long)

/** Per-shard running token offset behind [[StreamMask.packStream]]:
  * the streaming form of [[graft.pipeline.Packing.packByOffset]]'s
  * window cumulative sum — one `ValueState[Long]` per shard carries the
  * token count packed so far, each incoming document takes its offset
  * from it and advances it. `TimeMode.None`: the counter must NEVER
  * expire (a shard's bins number forward for the lifetime of the
  * ingest), so state is O(#shards) — a handful of longs.
  *
  * Ordering contract: offsets follow ARRIVAL order (documents within
  * one micro-batch are sub-ordered by id for determinism) — the
  * streaming analog of the batch operator's pinned `orderCol` order.
  * When files arrive in id order the two paths assign identical bins
  * (spec-pinned).
  */
final class ShardOffsetProcessor(budget: Int)
    extends StatefulProcessor[String, (String, Long, Long), PackedDoc] {

  @transient private var cum: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong,
      TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long)],
      timerValues: TimerValues): Iterator[PackedDoc] = {
    var c = if (cum.exists()) cum.get() else 0L
    val out = rows.toSeq.sortBy(_._2).map { case (shard, id, toks) =>
      val off = c
      c += toks
      PackedDoc(shard, id, toks, off, off / budget)
    }
    cum.update(c)
    out.iterator
  }
}

/** One buffered document awaiting its watermark release in
  * [[OrderedShardOffsetProcessor]].
  */
final case class PendingDoc(id: Long, toks: Long, tsMs: Long)

/** A document entering the ordered streaming packer — carries both the
  * millisecond event time (for the buffer) and the raw timestamp (the
  * plan's watermark column).
  */
final case class ShardDoc(shard: String, id: Long, toks: Long,
    tsMs: Long, ts: java.sql.Timestamp)

/** Event-time ORDERED streaming packing (behind
  * [[StreamMask.packStreamOrdered]]): where [[ShardOffsetProcessor]]
  * assigns offsets in ARRIVAL order (batch-equivalent only when files
  * arrive in `orderCol` order), this processor buffers each document in
  * a per-shard `ListState` until the watermark passes its event time,
  * then releases in (event time, id) order, taking offsets from the
  * same per-shard running counter. Any arrival permutation within the
  * watermark window therefore produces the IDENTICAL assignment — the
  * batch equivalence is unconditional for in-watermark data. A row
  * arriving after the watermark passed its timestamp (if the upstream
  * late-row filter let it through) releases immediately at the current
  * counter — the defined degradation back to arrival order.
  *
  * State per shard: the unflushed ≤ watermark-window of (id, toks, ts)
  * plus one running long; one live event-time timer at the OLDEST
  * unflushed timestamp, re-armed after every release — O(1) timers per
  * shard no matter the buffer depth.
  */
final class OrderedShardOffsetProcessor(budget: Int)
    extends StatefulProcessor[String, ShardDoc, PackedDoc] {

  @transient private var buf: ListState[PendingDoc] = _
  @transient private var cum: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[PendingDoc]("buf",
      Encoders.product[PendingDoc], TTLConfig.NONE)
    cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong,
      TTLConfig.NONE)
  }

  /** Emit every buffered doc the watermark has STRICTLY passed, in
    * (ts, id) order; keep the rest and re-arm the timer for the oldest
    * survivor. Strict `<`, not `<=`: Spark's late filter only drops
    * rows with event time strictly below the watermark, so a row at
    * exactly the watermark can still arrive — releasing its equal-ts
    * siblings early would break the (ts, id) batch equivalence at the
    * boundary. The timer is armed at ts + 1 for the same reason (fire
    * once the watermark is strictly past).
    */
  private def release(shard: String, wmMs: Long): Iterator[PackedDoc] = {
    val (ripe, wait) = buf.get().toList.partition(_.tsMs < wmMs)
    getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
    if (wait.nonEmpty) getHandle.registerTimer(wait.map(_.tsMs).min + 1)
    if (ripe.isEmpty) Iterator.empty
    else {
      if (wait.isEmpty) buf.clear() else buf.put(wait.toArray)
      var c = if (cum.exists()) cum.get() else 0L
      val out = ripe.sortBy(p => (p.tsMs, p.id)).map { p =>
        val off = c
        c += p.toks
        PackedDoc(shard, p.id, p.toks, off, off / budget)
      }
      cum.update(c)
      out.iterator
    }
  }

  override def handleInputRows(key: String, rows: Iterator[ShardDoc],
      timerValues: TimerValues): Iterator[PackedDoc] = {
    rows.foreach(d => buf.appendValue(PendingDoc(d.id, d.toks, d.tsMs)))
    release(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[PackedDoc] =
    release(key, timerValues.getCurrentWatermarkInMs())
}

/** A document entering the streaming bin assembler: its token-id array
  * IS its token count (the assembler slices it across bin boundaries).
  */
final case class AssembleDoc(shard: String, id: Long, ids: Array[Int])

/** One COMPLETED training bin emitted by [[BinAssemblerProcessor]] —
  * schema-compatible with [[graft.pipeline.Packing.assembleBins]]' rows
  * (every emitted bin holds exactly `budget` tokens; the open partial
  * bin stays in state, as an unbounded stream has no "last" bin).
  */
final case class AssembledBin(shard: String, bin: Long, n_pieces: Long,
    bin_tokens: Long, first_piece: Long, last_piece: Long,
    token_ids: Array[Int])

/** The open-bin state of one shard in [[BinAssemblerProcessor]]: the
  * total tokens packed so far (`cum` — the next doc's offset) and the
  * open bin's accumulated pieces/ids. Bounded by the CONTEXT LENGTH:
  * the buffer never exceeds `budget` ids regardless of corpus size.
  */
final case class OpenBin(cum: Long, nPieces: Long, firstPiece: Long,
    lastPiece: Long, ids: Array[Int])

/** The open-bin fold shared by the arrival-order and event-time bin
  * assemblers: slice each document's id array across bin boundaries
  * into the running [[OpenBin]], emitting every bin the moment it
  * reaches exactly `budget` tokens. ONE definition, so the two
  * processors cannot drift on the cut rule. The open bin accumulates in
  * an ArrayBuffer (amortised O(1) appends) and materialises an array
  * only at emission and once for the state update — an immutable
  * `ids ++ slice` per piece would copy the whole accumulated bin per
  * document, quadratic per bin when many short documents fill it.
  */
private[streaming] object BinAssembly {

  val emptyOpen: OpenBin = OpenBin(0L, 0L, -1L, -1L, Array.empty)

  /** Fold `docs` (already in pack order) into the open bin; returns the
    * new open-bin state.
    */
  def foldDocs(shard: String, st0: OpenBin,
      docs: Seq[(Long, Array[Int])], budget: Int,
      out: scala.collection.mutable.Builder[AssembledBin, _]): OpenBin = {
    var cum = st0.cum
    var nPieces = st0.nPieces
    var first = st0.firstPiece
    var last = st0.lastPiece
    val buf = new scala.collection.mutable.ArrayBuffer[Int](budget)
    buf ++= st0.ids
    docs.foreach { case (id, ids) =>
      var from = 0
      while (from < ids.length) {
        val space = budget - (cum % budget).toInt
        val take = math.min(space, ids.length - from)
        var i = from
        while (i < from + take) { buf += ids(i); i += 1 }
        if (nPieces == 0L) first = id
        last = id
        nPieces += 1
        cum += take
        from += take
        if (cum % budget == 0) {
          out += AssembledBin(shard, cum / budget - 1, nPieces,
            budget.toLong, first, last, buf.toArray)
          buf.clear()
          nPieces = 0L; first = -1L; last = -1L
        }
      }
    }
    OpenBin(cum, nPieces, first, last, buf.toArray)
  }
}

/** Per-shard streaming bin assembly (behind
  * [[StreamMask.packBinsStream]]): the streaming form of
  * [[graft.pipeline.Packing.assembleBins]], fused with the offset
  * assignment — each document's id array is sliced across bin
  * boundaries into the open bin, and every bin is EMITTED the moment it
  * reaches exactly `budget` tokens, so training bins leave the ingest
  * continuously instead of in a nightly assembly pass. Arrival order
  * (id-sub-ordered within a micro-batch) is the pack order, matching
  * [[ShardOffsetProcessor]]'s contract; under ordered arrival the
  * emitted bins equal the batch pipeline's full bins (spec-pinned).
  */
final class BinAssemblerProcessor(budget: Int)
    extends StatefulProcessor[String, AssembleDoc, AssembledBin] {

  @transient private var open: ValueState[OpenBin] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenBin]("open",
      Encoders.product[OpenBin], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[AssembleDoc],
      timerValues: TimerValues): Iterator[AssembledBin] = {
    val st = if (open.exists()) open.get() else BinAssembly.emptyOpen
    val out = List.newBuilder[AssembledBin]
    open.update(BinAssembly.foldDocs(key, st,
      rows.toSeq.sortBy(_.id).map(d => (d.id, d.ids)), budget, out))
    out.result().iterator
  }
}

/** A document entering the EVENT-TIME bin assembler, buffered until the
  * watermark passes its timestamp.
  */
final case class OrderedAssembleDoc(shard: String, id: Long,
    ids: Array[Int], tsMs: Long, ts: java.sql.Timestamp)

/** One buffered document in [[OrderedBinAssemblerProcessor]]. */
final case class PendingAssembleDoc(id: Long, tsMs: Long, ids: Array[Int])

/** Event-time ORDERED streaming bin assembly (behind
  * [[StreamMask.packBinsStreamOrdered]]): [[BinAssemblerProcessor]]'s
  * continuous bin emission with [[OrderedShardOffsetProcessor]]'s
  * buffering discipline — documents wait in a per-shard `ListState`
  * until the watermark passes their event time, then feed the SAME
  * open-bin fold in (event time, id) order. Any arrival permutation
  * within the watermark window therefore emits the identical bin
  * sequence the batch pipeline assembles over the time-ordered corpus.
  * State per shard: the in-watermark buffer + one ≤ budget open bin;
  * one re-armed timer at the oldest pending timestamp.
  */
final class OrderedBinAssemblerProcessor(budget: Int)
    extends StatefulProcessor[String, OrderedAssembleDoc, AssembledBin] {

  @transient private var buf: ListState[PendingAssembleDoc] = _
  @transient private var open: ValueState[OpenBin] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[PendingAssembleDoc]("buf",
      Encoders.product[PendingAssembleDoc], TTLConfig.NONE)
    open = getHandle.getValueState[OpenBin]("open",
      Encoders.product[OpenBin], TTLConfig.NONE)
  }

  // strict `<` + ts+1 timer, like OrderedShardOffsetProcessor.release:
  // Spark admits rows AT the watermark, so equal-ts siblings of a
  // buffered row can still arrive until the watermark strictly passes
  private def release(shard: String, wmMs: Long): Iterator[AssembledBin] = {
    val (ripe, wait) = buf.get().toList.partition(_.tsMs < wmMs)
    getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
    if (wait.nonEmpty) getHandle.registerTimer(wait.map(_.tsMs).min + 1)
    if (ripe.isEmpty) Iterator.empty
    else {
      if (wait.isEmpty) buf.clear() else buf.put(wait.toArray)
      val st = if (open.exists()) open.get() else BinAssembly.emptyOpen
      val out = List.newBuilder[AssembledBin]
      open.update(BinAssembly.foldDocs(shard, st,
        ripe.sortBy(p => (p.tsMs, p.id)).map(p => (p.id, p.ids)),
        budget, out))
      out.result().iterator
    }
  }

  override def handleInputRows(key: String,
      rows: Iterator[OrderedAssembleDoc],
      timerValues: TimerValues): Iterator[AssembledBin] = {
    rows.foreach(d =>
      buf.appendValue(PendingAssembleDoc(d.id, d.tsMs, d.ids)))
    release(key, timerValues.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[AssembledBin] =
    release(key, timerValues.getCurrentWatermarkInMs())
}

/** Structured-Streaming surface (SURVEY.md §2.10; the reference is strictly
  * batch — src/Anonymizer.php:152–195 — so this is north-star extension
  * territory: masking event streams on the way into a lake).
  *
  * Masking is stateless and narrow (one projection per dependency layer),
  * so the same [[MaskCompiler]] plan applies verbatim to a streaming DataFrame —
  * with one carve-out: `#row#` templates need a global row counter, which
  * has no meaning on an unbounded stream. [[maskStream]] rejects those up
  * front instead of failing deep inside an executor.
  *
  * The windowed operators wear watermarks so state is bounded: at 100 TB/day
  * the window store only ever holds `watermark + window` worth of keys.
  */
object StreamMask {

  private def usesRowTemplate(bp: Blueprint): Boolean =
    bp.columns.exists {
      case ColumnRule(_, _, Rule.Template(v)) => v.contains("#row#")
      case _ => false
    }

  /** Apply a masking blueprint to a streaming DataFrame. Identical
    * semantics to the batch path (same compiler); stateless, so any output
    * mode/trigger works.
    */
  def maskStream(stream: DataFrame, bp: Blueprint): DataFrame = {
    require(!usesRowTemplate(bp),
      "#row# templates are undefined on unbounded streams; use a " +
        "generator/expression rule keyed on the primary key instead")
    MaskCompiler(stream, bp)
  }

  /** Watermarked tumbling-window aggregate: event counts + value sum per
    * (window, event type). Late rows beyond `watermark` are dropped and
    * window state is evicted — bounded state at any scale.
    */
  def windowedStats(events: DataFrame, tsCol: String, watermark: String,
      windowLength: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermark-bounded stream dedup on an id column — the streaming analog
    * of [[graft.pipeline.Dedup.dropExactDuplicates]].
    */
  def dedupedStream(events: DataFrame, idCol: String, tsCol: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Custom keyed state via `mapGroupsWithState`: cumulative per-user
    * event count and value total, re-emitted on every micro-batch that
    * touches the user (output mode `update`). The hand-rolled analog of a
    * streaming aggregate for when the state transition isn't expressible
    * as a SQL aggregate — the extension point for bespoke sessionization,
    * anomaly scoring, rate limiting, etc. State lives per key only; at
    * 10⁹ users it shards across the cluster like any keyed state store.
    */
  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value")
      // a null user_id/value would poison the primitive tuple encoder and
      // kill the whole query; malformed events are dropped instead
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotals, (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) { case (uid, rows, state) =>
        var s = state.getOption.getOrElse(UserTotals(0L, 0.0))
        rows.foreach { case (_, v) => s = UserTotals(s.n + 1, s.sum + v) }
        state.update(s)
        (uid, s.n, s.sum)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Stream-static enrichment: join each incoming event against a static
    * dimension table (re-read per micro-batch; stateless, so any output
    * mode works). The static side should be broadcastable — at 100 TB/day
    * stream volume the dimension is the small side by construction, and
    * AQE/threshold broadcasting keeps the join shuffle-free per batch.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      joinKeys: Seq[String]): DataFrame =
    stream.join(dim, joinKeys, "left")

  /** Streaming corpus curation: the stateless text-pipeline operators
    * (quality score, language ID, PII scrub — all pure Column expressions,
    * see [[graft.pipeline.TextOps]]) applied to a document stream on its
    * way into the lake. Narrow and stateless, so any trigger/output mode
    * works and throughput scales with input partitions; batch-equivalent
    * by construction (same expressions, verified in the spec).
    */
  def curateStream(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    curateProjection(docs, idCol, textCol, Nil)

  /** [[curateStream]] with the CCNet-style LM score attached
    * ([[graft.pipeline.TextOps.lmScoreUdf]] over the normalized
    * ORIGINAL text — the same model and normalization the batch band
    * filter sees in [[graft.pipeline.Curation.curate]]'s `lmBand`):
    * still narrow and stateless (the model rides as a broadcast), so
    * batch equivalence and trigger freedom carry over; thresholding
    * `lm_score` downstream is the streaming twin of the batch
    * middle-band keep.
    */
  def curateStream(docs: DataFrame, idCol: String, textCol: String,
      lm: graft.pipeline.TextOps.CharLm): DataFrame = {
    import graft.pipeline.TextOps
    val u = TextOps.lmScoreUdf(docs.sparkSession, lm)
    curateProjection(docs, idCol, textCol,
      Seq(u(TextOps.normalize(col(textCol))).as("lm_score")))
  }

  /** [[curateStream]] with a trained classifier's routing label
    * attached ([[graft.pipeline.Classify.classifyUdf]] over the same
    * whitespace tokens training saw): `nb_label` rides next to
    * `quality` — the streaming half of classifier-routed curation
    * (filter or route on the predicted label downstream, the CCNet /
    * GPT-3 quality-classifier slot). Narrow and stateless (the model
    * rides as a broadcast closure), so batch equivalence and trigger
    * freedom carry over.
    */
  def curateStream(docs: DataFrame, idCol: String, textCol: String,
      nb: graft.pipeline.Classify.NbModel): DataFrame = {
    import graft.pipeline.{Classify, TextOps}
    curateProjection(docs, idCol, textCol,
      Seq(Classify.classifyUdf(nb)(TextOps.tokens(col(textCol)))
        .as("nb_label")))
  }

  /** Streaming MIX ENFORCEMENT — the online half of domain mixing
    * ([[graft.pipeline.Sampling.sampleToMix]] /
    * [[graft.pipeline.Sampling.sampleToTemperatureMix]]): a document
    * stream filtered by a FROZEN per-domain rate plan calibrated
    * offline (`domainMixPlan` / `temperatureMixPlan` output — rates
    * need a global corpus view, so on a stream the published practice
    * is offline calibration + online enforcement, the DSIR-threshold
    * posture). `plan` is the batch plan frame (`domainCol`, `rate`);
    * it rides as a stream-static broadcast join (|domains| rows), and
    * each row keeps iff its 48-bit key bucket clears its domain's
    * rate — the SAME IEEE-exact decision as the batch keep set, so
    * stream == batch on the same rows (spec-pinned), deterministic
    * under replays, and domains absent from the plan drop (rate 0).
    * Narrow and stateless: any trigger/output mode works.
    */
  def mixServeStream(docs: DataFrame, key: Column,
      domainCol: String, plan: DataFrame): DataFrame = {
    import graft.pipeline.Sampling
    val rates = broadcast(
      plan.select(col(domainCol), col("rate").as("__rate")))
    val joined = docs.join(rates, Seq(domainCol), "left")
      .withColumn("__rate", coalesce(col("__rate"), lit(0.0)))
    Sampling.weightedHashSample(joined, key, col("__rate"), 1.0)
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** [[curateStream]] with the DSIR log importance weight attached
    * ([[graft.pipeline.Dsir.scoreUdf]] over the same hashed
    * unigram+bigram feature stream the fit counted): `log_w` rides
    * next to `quality` — the streaming half of targeted data selection
    * (threshold or route on the weight downstream; the batch top-k /
    * resampling cut needs a global view, so on a stream the published
    * practice is a fixed weight threshold calibrated offline). Narrow
    * and stateless (the model is `buckets` doubles in a broadcast
    * closure), so batch equivalence and trigger freedom carry over.
    */
  def curateStream(docs: DataFrame, idCol: String, textCol: String,
      dsir: graft.pipeline.Dsir.DsirModel): DataFrame = {
    import graft.pipeline.Dsir
    curateProjection(docs, idCol, textCol,
      Seq(Dsir.scoreUdf(dsir)(
        Dsir.featureBuckets(col(textCol), dsir.buckets)).as("log_w")))
  }

  /** The ONE curation projection every [[curateStream]] overload
    * renders (`scoreCols` slots extra score columns after `quality`) —
    * a base-projection edit cannot desynchronize the plain, LM-scored
    * and classifier-routed paths, which are documented batch/stream
    * equivalents.
    */
  private def curateProjection(docs: DataFrame, idCol: String,
      textCol: String, scoreCols: Seq[Column]): DataFrame = {
    import graft.pipeline.TextOps
    docs.select((col(idCol) +:
      TextOps.qualityScore(col(textCol)).as("quality") +:
      scoreCols) ++ (
      TextOps.langId(col(textCol)).as("lang_pred") +:
      TextOps.redactPii(col(textCol)).as("redacted") +:
      TextOps.piiCounts(col(textCol))): _*)
  }

  /** Streaming span decontamination + Gopher quality gate — the two
    * zero-shuffle curation operators attached to a document stream on
    * its way into the lake: every benchmark-verbatim span is cut from
    * the text ([[graft.pipeline.Dedup.removeBenchmarkSpansNarrow]] —
    * the benchmark side is a BATCH frame collected once into a
    * broadcast-sized gram set; each streamed row then marks, merges,
    * and cuts its own spans in one narrow map), and the full
    * seven-rule Gopher keep verdict
    * ([[graft.pipeline.TextOps.gopherKeep]], pure Column) is judged on
    * the CLEANED text, so a doc that is mostly benchmark quote fails
    * quality as the published pipelines intend. Stateless and narrow
    * end to end: any trigger/output mode works, state stores stay
    * untouched, and batch equivalence is by construction (same
    * expressions — verified in the spec). Output: (`idCol`,
    * `clean_text`, `n_removed_chars`, `gopher_keep`).
    *
    * Long-lived drivers restarting many such queries should drain
    * [[graft.pipeline.Materialize.release]] between benchmark
    * refreshes (a STOPPED query's gram broadcast is otherwise held
    * until GC).
    */
  def decontaminateStream(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, gramLen: Int,
      gopherCfg: graft.pipeline.TextOps.GopherConfig =
        graft.pipeline.TextOps.GopherConfig()): DataFrame =
    graft.pipeline.Dedup
      .removeBenchmarkSpansNarrow(docs, bench, idCol, textCol, gramLen)
      .withColumn("gopher_keep",
        graft.pipeline.TextOps.gopherKeep(col("clean_text"), gopherCfg))

  /** Streaming tokenizer-encode attach — the batch curation pipeline's
    * tokenize step on a document stream: every arriving doc is
    * pre-tokenized (the shared GPT-2-style regex over NFC-normalized
    * text, [[graft.functions.Bpe.preTokenize]] — the EXACT pieces the
    * batch gate rows `q_bpe_ids`/`q_wordpiece_ids` encode) and encoded
    * straight to its vocabulary-id array on ingest. `encodeIds` is any
    * pieces-array→id-array Column function; the three overloads below
    * wire the three trained families' broadcast-vocab encoders. Narrow
    * and stateless like [[curateStream]] (the vocabulary is
    * batch-trained state riding in as a broadcast, never a state-store
    * row), so any trigger/output mode works, throughput scales with
    * input partitions, and batch equivalence is by construction — the
    * spec proves stream output == the same encoder run as a batch
    * query. APPENDS `ids` (array<int>) and `n_tokens` (long) to the
    * input columns rather than projecting them away, so the stage
    * composes: [[decontaminateStream]] → tokenize the `clean_text` →
    * [[packBinsStream]] on the emitted `ids` is one streaming query
    * (spec-pinned end to end).
    */
  def tokenizeStream(docs: DataFrame, textCol: String,
      encodeIds: Column => Column): DataFrame = {
    import graft.functions.Bpe
    import graft.pipeline.TextOps
    // a NULL text row tokenizes as empty — without the coalesce it
    // would ride through as ids = null / n_tokens = -1 (size-of-null)
    // and feed the downstream stateful bin packer a null id array
    val pieces = Bpe.preTokenize(
      TextOps.normalize(coalesce(col(textCol), lit(""))))
    docs.withColumn("ids",
        coalesce(encodeIds(pieces), array().cast("array<int>")))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
  }

  /** [[tokenizeStream]] under a trained BPE vocabulary
    * ([[graft.functions.BpeTrainer]] output packaged as a
    * [[graft.functions.BpeVocab]]): ids are the alphabet-then-rank
    * numbering `q_bpe_ids` oracles.
    */
  def tokenizeStream(docs: DataFrame, textCol: String,
      vocab: graft.functions.BpeVocab): DataFrame =
    tokenizeStream(docs, textCol,
      graft.functions.Bpe.tokenIds(vocab)(_))

  /** [[tokenizeStream]] under a trained WordPiece vocabulary: ids are
    * the canonical codepoint-sorted rank `q_wordpiece_ids` oracles
    * (`[UNK]` as the trailing id).
    */
  def tokenizeStream(docs: DataFrame, textCol: String,
      vocab: graft.functions.WordPieceTrainer.Vocab): DataFrame = {
    val u = graft.functions.WordPieceTrainer
      .encodeIdsUdf(docs.sparkSession, vocab)
    tokenizeStream(docs, textCol, (c: Column) => u(c))
  }

  /** [[tokenizeStream]] under a trained unigram-LM vocabulary
    * ([[graft.functions.UnigramTrainer]] output): ids are the stored
    * vocab ranks; unknown-codepoint fallback pieces encode as −1.
    */
  def tokenizeStream(docs: DataFrame, textCol: String,
      vocab: Seq[graft.functions.UnigramTrainer.VocabEntry],
      maxPieceLen: Int): DataFrame = {
    val u = graft.functions.UnigramTrainer
      .encodeIdsUdf(docs.sparkSession, vocab, maxPieceLen)
    tokenizeStream(docs, textCol, (c: Column) => u(c))
  }

  /** Streaming corpus heavy hitters: the Misra-Gries sketch
    * ([[graft.functions.TopFreq]]) as STREAMING aggregation state — the
    * running "which tokens dominate the ingest so far" monitor. The
    * sketch buffer (≤ k counters) IS the state-store row, so state
    * stays O(k) for the lifetime of the query regardless of volume or
    * vocabulary; use `OutputMode.Complete` (one tiny result row). The
    * n/(k+1) undercount bound and guaranteed-presence hold across
    * micro-batch merges (mergeable summaries) — the spec pins them
    * against exact counts of everything streamed; the reported item SET
    * near the error floor may differ from a batch run's, which is
    * inherent to any mergeable sketch, not a streaming defect.
    */
  def heavyHitterStream(docs: DataFrame, textCol: String,
      k: Int = 20): DataFrame =
    graft.pipeline.TextOps.heavyHitterAgg(docs, textCol, k)

  /** Streaming ANN serving — the online twin of the batch IVF probe:
    * a query-VECTOR stream is probed per micro-batch against a
    * persisted [[graft.pipeline.Similarity.writeIvfIndex]] layout
    * through the SAME batch operator
    * ([[graft.pipeline.Similarity.queryIvfBatch]] — one definition of
    * probe selection, scoring and tie rules, so serving cannot drift
    * from the audited batch path), and results land exactly-once via
    * [[ExactlyOnceSink.writeBatch]] (idempotent on batchId under
    * replays; results gain its `__batch_id` column). The index is
    * loaded ONCE at query start — centroids on the driver, the
    * cell-partitioned corpus as a lazy static frame whose partition
    * pruning fires per micro-batch, so each trigger reads only the
    * cells its queries probe, regardless of corpus size. Each batch's
    * materialised query frame is freed once the batch lands, through a
    * PER-BATCH [[graft.pipeline.Materialize.scope]] — scoped, so a
    * second serving stream or a concurrent batch probe in the same JVM
    * keeps its own frames — so long-running serving never accumulates
    * materialised query frames. All three persisted layouts serve
    * through their own batch operator, detected from the corpus schema
    * exactly like `appendToIvfIndex` does — float
    * ([[graft.pipeline.Similarity.queryIvfBatch]]), int8
    * dequantize-on-read (`queryIvfInt8Batch`), and IVF×PQ ADC + exact
    * rerank (`queryIvfPqBatch`, `rerank` applies only there). Spec pins
    * landed stream results == the batch probe over the same query set,
    * across micro-batches, for every layout.
    *
    * Malformed queries (null vector, or a dimension that disagrees
    * with the index) are DROPPED per micro-batch by default
    * (`dropMalformed = true`): the batch operators fail loudly on them
    * — the right posture for a batch job — but inside `foreachBatch`
    * that throw fails the stream, and a restart replays the same
    * micro-batch from the checkpoint and throws again, forever; one
    * poisoned row must not wedge serving (the posture
    * `semDeDupStream`'s null tolerance already takes). Set it false to
    * keep the fail-fast batch contract — every query served or the
    * stream stops.
    */
  def ivfServeStream(queries: DataFrame, indexPath: String,
      qIdCol: String, qVecCol: String, k: Int, outPath: String,
      checkpoint: String, nProbe: Int = 2, rerank: Int = 100,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      dropMalformed: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.pipeline.Similarity
    import graft.pipeline.Similarity.IvfLayout
    val spark = queries.sparkSession
    // ONE corpus footer read: the layout sniff and the index load share
    // the same frame (the detectIvfLayout(fields) overload exists for
    // exactly this — an object-store index pays real latency per read)
    val corpus = spark.read.parquet(s"$indexPath/corpus")
    val (probe, dim): (DataFrame => DataFrame, Int) =
      Similarity.detectIvfLayout(corpus.schema.fieldNames.toSeq) match {
        case IvfLayout.Pq =>
          val (idx, cb) =
            Similarity.loadIvfPqIndex(spark, indexPath, corpus)
          ((b: DataFrame) => Similarity.queryIvfPqBatch(idx, cb, b,
            qIdCol, qVecCol, k, nProbe, rerank),
            idx.centroids.head.length)
        case IvfLayout.Int8 =>
          val idx = Similarity.loadIvfIndex(spark, indexPath, corpus)
          ((b: DataFrame) => Similarity.queryIvfInt8Batch(idx, b, qIdCol,
            qVecCol, k, nProbe), idx.centroids.head.length)
        case IvfLayout.Float =>
          val idx = Similarity.loadIvfIndex(spark, indexPath, corpus)
          ((b: DataFrame) => Similarity.queryIvfBatch(idx, b, qIdCol,
            qVecCol, k, nProbe), idx.centroids.head.length)
      }
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // null elements INSIDE the vector are as poisonous as a null
        // vector: the probe UDF takes Seq[Float], and the converter
        // throws on a null element of a primitive-typed array
        val b = if (dropMalformed)
          batch.filter(col(qVecCol).isNotNull
            .and(size(col(qVecCol)) === dim)
            .and(!exists(col(qVecCol), e => e.isNull)))
        else batch
        graft.pipeline.Materialize.scope {
          ExactlyOnceSink.writeBatch(outPath)(probe(b), batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Streaming BM25 serving — [[ivfServeStream]]'s analog for the
    * LEXICAL retrieval tier: a stream of text queries (`qIdCol`,
    * `qTextCol`) is scored per micro-batch against a STATIC corpus
    * through the SAME [[graft.pipeline.Bm25.queryTopKBatch]] operator
    * the batch gate audits (one definition of tf/df/avgdl, the pinned
    * term-ordered fold and the per-query cut — serving cannot drift
    * from the audited batch path), landed exactly-once via
    * [[ExactlyOnceSink.writeBatch]]. Per trigger the corpus scan is
    * filtered to the BATCH'S query terms before any aggregate, so
    * per-trigger work is proportional to the batch's candidate rows,
    * not the corpus; the only driver state is the batch's term set.
    *
    * Malformed queries (null or all-whitespace text — zero terms) are
    * DROPPED per micro-batch by default (`dropMalformed = true`): the
    * batch operator fails loudly on a termless batch, but inside
    * `foreachBatch` that throw checkpoint-replay-wedges the stream
    * (the [[ivfServeStream]] posture). `dropMalformed = false`
    * restores the batch fail-fast contract. A batch left EMPTY by the
    * drop still lands its (empty) result, so the batch id is recorded
    * and a restart never re-serves it.
    */
  def bm25ServeStream(queries: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, qIdCol: String, qTextCol: String,
      k: Int, outPath: String, checkpoint: String,
      k1: Double = 1.2, b: Double = 0.75,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      dropMalformed: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.pipeline.Bm25
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // "malformed" must mean what the tokenizer means: trim() strips
        // only ASCII spaces, so an all-tabs/newlines query would pass a
        // trim-based filter yet tokenize to zero terms and throw inside
        // foreachBatch — the exact wedge this drop exists to prevent
        val bdf = if (dropMalformed)
          batch.filter(col(qTextCol).isNotNull.and(
            size(filter(graft.pipeline.TextOps.tokens(col(qTextCol)),
              t => length(t) > 0)) > 0))
        else batch
        val result =
          if (bdf.isEmpty)
            // schema-correct zero-row frame: the batch id must still
            // land, or a restart would re-serve this batch
            bdf.select(col(qIdCol))
              .crossJoin(corpus.limit(0).select(col(idCol)))
              .withColumn("score", lit(0.0))
              .withColumn("rank", lit(0).cast("int"))
          else Bm25.queryTopKBatch(corpus, idCol, textCol, bdf,
            qIdCol, qTextCol, k, k1, b)
        ExactlyOnceSink.writeBatch(outPath)(result, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Streaming PCA projection — the serving twin of
    * [[graft.pipeline.Embed.project]]: each arriving embedding is
    * centered and projected (optionally whitened) under a FROZEN
    * [[graft.pipeline.Embed.PcaModel]] fitted offline from the exact
    * integer Gram stats — the same frozen-model-rides-the-stream
    * contract as `mixServeStream`'s rate plan and `curateStream`'s LM.
    * Purely narrow and stateless (the model is a closure over driver
    * arrays — a model-sized literal expression would de-JIT the fused
    * stage), so any trigger/output mode works and stream == batch by
    * construction (one definition; spec-pinned).
    *
    * Malformed vectors — null or wrong-dimension — are DROPPED by
    * default (`dropMalformed = true`): the batch operator fails loudly
    * on a dim mismatch (the right call for a batch job), but in a
    * checkpointed stream that throw replays the same poison forever
    * (the [[ivfServeStream]] posture). `dropMalformed = false`
    * restores fail-fast.
    */
  def pcaStream(vectors: DataFrame, vecCol: String,
      model: graft.pipeline.Embed.PcaModel, outCol: String = "pca",
      whiten: Boolean = false, dropMalformed: Boolean = true)
      : DataFrame = {
    val in =
      if (dropMalformed)
        vectors.filter(col(vecCol).isNotNull &&
          size(col(vecCol)) === model.d)
      else vectors
    graft.pipeline.Embed.project(in, vecCol, model, outCol, whiten)
  }

  /** Streaming embedding-statistics maintenance — the ingest twin of
    * [[graft.pipeline.Embed.gramStats]]: each micro-batch's exact
    * integer Gram statistics land exactly-once (gaining the sink's
    * `__batch_id`), and because the statistics are pure integer sums,
    * [[graft.pipeline.Embed.foldGramStats]] over the landed frame
    * equals the full-corpus statistics bit-for-bit (spec-pinned) —
    * PCA refits from a fold of tiny per-batch matrices instead of a
    * corpus rescan, the append-don't-rebuild contract again. Stateless
    * per micro-batch; per-trigger output is one d(d+1)/2-row matrix.
    *
    * Malformed vectors — null, non-finite or out-of-range elements
    * (gramStats' |x| ≤ MaxAbs contract), and, when `expectDim` is
    * given, the wrong dimension — are DROPPED per micro-batch by
    * default (`dropMalformed = true`): the batch operator fails loudly
    * on them, but inside `foreachBatch` that throw checkpoint-replay-
    * wedges the stream (the [[ivfServeStream]] posture), and a wedged
    * ingest cannot be repaired from inside. Pass `expectDim` in
    * production — without it a RAGGED batch still fail-fasts, since a
    * mixed-dimension fold would silently corrupt the landed statistics.
    * `dropMalformed = false` restores fail-fast throughout. An
    * all-dropped batch still lands its (empty) stats so the batch id
    * is recorded and never re-served.
    */
  def gramStatsStream(vectors: DataFrame, vecCol: String,
      outPath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      dropMalformed: Boolean = true, expectDim: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val in =
          if (dropMalformed)
            batch.filter(col(vecCol).isNotNull &&
              expectDim.map(d => size(col(vecCol)) === d)
                .getOrElse(lit(true)) &&
              !exists(col(vecCol), x => isnan(x) ||
                abs(x) > lit(graft.pipeline.Embed.MaxAbs)))
          else batch
        // an all-dropped batch yields empty stats (gramStats is
        // empty-safe) — they still land, so the batch id is recorded
        ExactlyOnceSink.writeBatch(outPath)(
          graft.pipeline.Embed.gramStats(in, vecCol), batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming corpus-snapshot maintenance for the drift monitor — the
    * ingest twin of [[graft.pipeline.TextOps.tokenTypeCounts]]: each
    * micro-batch's token-type counts land exactly-once (gaining the
    * sink's `__batch_id`), and because counts are pure integer sums,
    * [[graft.pipeline.TextOps.foldTokenCounts]] over the landed frame
    * equals the full-corpus table bit-for-bit (spec-pinned) — so
    * [[graft.pipeline.TextOps.vocabDivergenceFromCounts]] compares a
    * LIVE ingest against a frozen reference snapshot without ever
    * rescanning either corpus. Null text tokenizes to nothing
    * (explode drops it), so no malformed posture is needed — nothing
    * here can throw per-row.
    */
  def vocabCountsStream(docs: DataFrame, textCol: String,
      outPath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ExactlyOnceSink.writeBatch(outPath)(
          graft.pipeline.TextOps.tokenTypeCounts(batch, textCol),
          batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming fuzzy-key lookup — the serving twin of
    * [[graft.pipeline.Linkage.linkQueries]]: a stream of (`qIdCol`,
    * `qCol`) dirty keys is matched per micro-batch against a STATIC
    * reference within Levenshtein `maxDist`, through the SAME
    * deletion-neighborhood blocking + `levenshtein` verify the batch
    * gate audits (one definition — serving cannot drift), landed
    * exactly-once via [[ExactlyOnceSink.writeBatch]]. The reference is
    * blocked ONCE at stream start
    * ([[graft.pipeline.Linkage.blockReference]]) and cached — each
    * trigger pays only its batch's bounded variant explode, the hash
    * join against the cached blocked frame, and the thin codegen'd
    * verify.
    *
    * Stateless per micro-batch (the match is against the static
    * reference, never across stream batches), so any trigger works and
    * no state store is involved. Malformed queries — null or
    * over-`maxLen` values — match nothing by the operator's own
    * contract; nothing here can throw per-row, so there is no
    * replay-wedge posture to choose.
    */
  def linkServeStream(queries: DataFrame, qIdCol: String, qCol: String,
      reference: DataFrame, refCol: String, maxDist: Int,
      outPath: String, checkpoint: String, maxLen: Int = -1,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.pipeline.Linkage
    val blockedRef = Linkage
      .blockReference(reference, refCol, maxDist, maxLen)
      .persist()
    val query = queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ExactlyOnceSink.writeBatch(outPath)(
          Linkage.linkQueriesAgainst(batch, qIdCol, qCol, blockedRef,
            maxDist, maxLen), batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
    unpersistOnTermination(query, blockedRef)
  }

  /** Streaming media-fingerprint near-dup serving — the streaming twin
    * of [[graft.pipeline.Dedup.hammingPairsAgainstIndex]] over a landed
    * thin (id, hash) fingerprint index, for ANY media modality: each
    * micro-batch's binary payloads are fingerprinted ONCE per row —
    * `modality = "audio"` through
    * [[graft.pipeline.Multimodal.audioFingerprint]] (real `javax.sound`
    * decode to integer energy windows, aHashed), `"video"` through
    * [[graft.pipeline.Multimodal.videoFingerprint]] (ISO-BMFF `stsz`
    * bitrate envelope — decode-free), `"image"` through
    * [[graft.pipeline.Multimodal.averageHash]] (real `javax.imageio`
    * decode to a √windows×√windows luminance grid); every path's
    * non-decodable payloads take the shared deterministic histogram
    * fallback — and probed through the SAME Manku banding as the batch
    * form, matched (id_index, id_probe, hamming) rows landed
    * exactly-once ([[ExactlyOnceSink]] — replays overwrite their own
    * batch directory). The index is read and cached once for the
    * stream's lifetime (8 bytes of hash per landed item) and
    * unpersisted on termination; per-trigger work scales with the
    * batch and its matched buckets, never with the landed corpus.
    */
  def fingerprintServeStream(clips: DataFrame, idCol: String,
      payloadCol: String, indexPath: String, outPath: String,
      checkpoint: String, k: Int = 4, blocks: Int = 6,
      windows: Int = 64, hashCol: String = "afp",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      modality: String = "audio")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.pipeline.Multimodal
    // resolve the per-modality fingerprint ONCE, loudly: an unknown
    // modality (or an image windows count that is not a square grid)
    // must fail at stream construction, not per micro-batch
    val fingerprint: DataFrame => DataFrame = modality match {
      case "audio" => b => Multimodal.audioFingerprint(b, payloadCol,
        windows).select(col(idCol), col("afp").as(hashCol))
      case "video" => b => Multimodal.videoFingerprint(b, payloadCol,
        windows).select(col(idCol), col("vfp").as(hashCol))
      case "image" =>
        val g = math.sqrt(windows.toDouble).toInt
        require(g * g == windows && windows >= 1 && windows <= 64,
          s"image modality needs a square windows count in 1..64 " +
            s"(got $windows)")
        b => Multimodal.averageHash(b, payloadCol, g)
          .select(col(idCol), col("ahash").as(hashCol))
      case "mixed" =>
        // the interleaved-lake form (the q_media_dedup_mixed posture):
        // per-row container sniff routes each payload to its
        // modality's envelope; hashes are only comparable within a
        // modality, so the caller's landed index should carry
        // single-modality items or tolerate cross-modality misses —
        // chance band collisions are rejected by the Hamming verify
        // like any far pair. The square-grid constraint is validated
        // HERE (mirroring the image arm) so a bad windows count fails
        // at stream construction, not on the first trigger inside
        // foreachBatch
        val g = math.sqrt(windows.toDouble).toInt
        require(g * g == windows && windows >= 1 && windows <= 64,
          s"mixed modality routes images through the g×g grid and " +
            s"needs a square windows count in 1..64 (got $windows)")
        b => Multimodal.mediaFingerprint(b, payloadCol, windows)
          .select(col(idCol), col("mfp").as(hashCol))
      case other => throw new IllegalArgumentException(
        s"unknown media modality '$other' (audio, video, image, mixed)")
    }
    val session = clips.sparkSession
    val index = session.read.parquet(indexPath).persist()
    val query = clips.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ExactlyOnceSink.writeBatch(outPath)(
          graft.pipeline.Dedup.hammingPairsAgainstIndex(index,
            fingerprint(batch), idCol, hashCol, k = k, blocks = blocks),
          batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
    unpersistOnTermination(query, index)
  }

  /** Release a stream-lifetime cache when its query terminates: the
    * blocked-reference (and any other serve-stream) cache is
    * intentional across triggers, but nothing would unpersist it after
    * the query ends — under `Trigger.AvailableNow` the query finishes
    * in seconds and the cached blocks would otherwise leak for the JVM
    * lifetime. A terminated-event race (AvailableNow can finish before
    * the listener registers; bus delivery to later-added listeners is
    * not guaranteed) is closed by the post-registration `isActive`
    * check; `unpersist` is idempotent, so both paths firing is
    * harmless.
    */
  private def unpersistOnTermination(
      query: org.apache.spark.sql.streaming.StreamingQuery,
      cached: DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = cached.sparkSession
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: org.apache.spark.sql.streaming
        .StreamingQueryListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id && done.compareAndSet(false, true)) {
            cached.unpersist(blocking = false)
            spark.streams.removeListener(listener)
          }
      }
    spark.streams.addListener(listener)
    if (!query.isActive && done.compareAndSet(false, true)) {
      cached.unpersist(blocking = false)
      spark.streams.removeListener(listener)
    }
    query
  }

  /** Streaming randomized response — the LOCAL-DP release twin of
    * [[graft.pipeline.Privacy.randomizedResponse]]: each micro-batch's
    * categorical column is released truthfully with p = pNum/pDen or
    * replaced by a deterministic uniform domain draw, per the SAME
    * 48-bit md5 coin as the batch mechanism, landed exactly-once via
    * [[ExactlyOnceSink.writeBatch]]. The value domain comes from the
    * STATIC `domain` frame (first column; collected once to the
    * driver and rebuilt as a LocalRelation per trigger — no executor
    * cache to leak past termination): a stream cannot take the
    * corpus-wide
    * distinct, and a per-trigger domain would decohere replacement
    * draws across batches. With the domain fixed, the release is a
    * pure per-row hash function — stream == batch BIT-FOR-BIT
    * regardless of how rows split into micro-batches (spec-pinned),
    * and retries/replays cannot flip a coin.
    *
    * Stateless per micro-batch (the local-DP coin never looks across
    * rows, let alone batches), so any trigger works and no state store
    * is involved. Nothing here can throw per-row — null values release
    * as null under the keep branch or draw from the domain under
    * replace, null KEYS coalesce to the batch mechanism's U+0001
    * sentinel — so there is no replay-wedge posture to choose. The
    * CENTRAL-DP complement ([[graft.pipeline.Privacy
    * .geometricNoisyCounts]]) and the k/l suppression enforcers are
    * batch-only BY DESIGN (global aggregates; see their docs) — this
    * per-row mechanism is the one privacy release that streams.
    */
  def rrReleaseStream(stream: DataFrame, colName: String,
      keyCol: String, pNum: Long, pDen: Long, seed: String,
      domain: DataFrame, outPath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.pipeline.Privacy
    // materialize the bounded domain ONCE, to the driver: the domain
    // is a distinct-categorical list (small by the mechanism's
    // contract), and a per-batch LocalRelation rebuilt from it costs
    // nothing — unlike `.persist()`, which would outlive the stream
    // (nothing unpersists after AvailableNow terminates) and leak the
    // cached blocks for the JVM lifetime
    val domSchema = domain.select(col(domain.columns.head)).schema
    val domRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    domain.select(col(domain.columns.head)).collect()
      .foreach(domRows.add)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dom = batch.sparkSession.createDataFrame(domRows, domSchema)
        ExactlyOnceSink.writeBatch(outPath)(
          Privacy.randomizedResponseWithDomain(batch, colName, keyCol,
            pNum, pDen, seed, dom), batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Streaming incremental semantic dedup — the ingest twin of
    * [[graft.pipeline.Dedup.semDeDupFilterBatch]]: each micro-batch of
    * arriving vectors is scored against a persisted FLOAT
    * [[graft.pipeline.Similarity.writeIvfIndex]] layout under its
    * frozen centroids, semantic duplicates of the landed corpus are
    * dropped (keep-the-corpus policy — the landed copy always wins),
    * and the survivors land exactly-once via
    * [[ExactlyOnceSink.writeBatch]] (gaining its `__batch_id` column),
    * ready to [[graft.pipeline.Similarity.appendToIvfIndex]] in the
    * same maintenance window. The index loads ONCE at query start;
    * each trigger's probe partition-prunes to the cells its batch
    * touches, so per-trigger reads stay proportional to the BATCH, not
    * the corpus. The probe's materialised batch frames are freed per
    * trigger through [[graft.pipeline.Materialize.scope]], as
    * [[ivfServeStream]] does.
    *
    * Stateless per micro-batch — the decision is against the STATIC
    * landed corpus, never across stream batches (duplicates WITHIN the
    * arriving stream are [[graft.pipeline.Dedup.semDeDup]]'s job after
    * landing), so any trigger works and no state store is involved.
    * Int8/PQ layouts are rejected loudly: dedup scores exact cosines
    * against the landed floats, and a quantized layout would silently
    * change which documents survive.
    *
    * A probed cell over `maxCell` follows `onHotCell`
    * ([[graft.pipeline.Dedup.HotCellPolicy]]) — default SKIP here,
    * inverting the batch operator's Fail default for the same reason
    * [[ivfServeStream]] defaults `dropMalformed = true`: the guard's
    * throw inside `foreachBatch` would replay the same micro-batch
    * from the checkpoint and throw again, forever, and the remedy
    * (re-cluster the index) cannot run from inside a wedged stream.
    * Under Skip, rows probing a hot cell land UNCHECKED (the cells and
    * their populations are logged loudly each affected batch); set
    * `HotCellPolicy.Fail` to keep the batch contract — every landed
    * row dedup-checked or the stream stops. Spec-pinned both ways.
    */
  def semDeDupStream(vectors: DataFrame, indexPath: String,
      idCol: String, vecCol: String, threshold: Double, outPath: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxCell: Option[Int] = None,
      onHotCell: graft.pipeline.Dedup.HotCellPolicy =
        graft.pipeline.Dedup.HotCellPolicy.Skip)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.pipeline.{Dedup, Similarity}
    val spark = vectors.sparkSession
    // one corpus footer read for sniff + load, as ivfServeStream
    val corpus = spark.read.parquet(s"$indexPath/corpus")
    val layout =
      Similarity.detectIvfLayout(corpus.schema.fieldNames.toSeq)
    require(layout == Similarity.IvfLayout.Float,
      s"semDeDupStream scores exact cosines against landed float " +
        s"vectors; the index at $indexPath is the $layout layout — " +
        "build the dedup index with writeIvfIndex (float)")
    val idx = Similarity.loadIvfIndex(spark, indexPath, corpus)
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.pipeline.Materialize.scope {
          ExactlyOnceSink.writeBatch(outPath)(
            Dedup.semDeDupFilterBatch(idx, batch, idCol, vecCol,
              threshold, maxCell, onHotCell), batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Watermarked stream-stream interval join — the impression↔click
    * correlation shape: each left event pairs with right events of the
    * same key whose timestamp lands in `[leftTs, leftTs + maxDelay]`.
    * The time bound plus both watermarks let Spark EVICT buffered rows
    * (a left row once the right watermark passes `leftTs + maxDelay`,
    * a right row once it can no longer land in any live left interval) —
    * without the interval condition a stream-stream join must buffer
    * both streams forever, which no watermark can save at 100 TB/day.
    * Output columns are prefixed `l_`/`r_` so self-joins stay
    * unambiguous.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, watermark: String,
      maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
      .select(left.columns.map(c => col(c).as(s"l_$c")).toSeq: _*)
    val r = right.withWatermark(rightTs, watermark)
      .select(right.columns.map(c => col(c).as(s"r_$c")).toSeq: _*)
    l.join(r, col(s"l_$keyCol") === col(s"r_$keyCol") &&
      col(s"r_$rightTs") >= col(s"l_$leftTs") &&
      col(s"r_$rightTs") <= col(s"l_$leftTs") + expr(s"INTERVAL $maxDelay"))
  }

  /** Streaming MinHash near-duplicate detection — the streaming ingest
    * analog of [[graft.pipeline.Dedup.nearDuplicatePairs64]]: every
    * incoming document is checked against the recently-ingested corpus
    * and each verified near-duplicate pair is emitted as
    * (id_a, id_b, n_inter, jaccard).
    *
    * Shape: the MinHash signature is computed NARROWLY per row
    * (`array_min` over the shingle-hash array — no aggregation), the
    * signature is banded exactly like
    * [[graft.pipeline.Dedup.lshCandidates]], and each (band, band-sig)
    * bucket is a [[NearDupBucketProcessor]] (`transformWithState`) key
    * holding its retained members' (id, ts, distinct shingle hashes). A
    * new document emits a pair for every retained bucket member whose
    * exact hashed-shingle Jaccard clears `threshold`, then joins the
    * bucket.
    *
    * State is bounded two ways: members older than the current watermark
    * are dropped on every bucket visit, and an event-time timeout
    * removes buckets no batch touches — so a document only ever pairs
    * against the trailing `watermark` of ingest, the deliberate
    * streaming semantics (a FULL-corpus check is the batch operator on
    * the landed lake).
    *
    * Delivery: EXACTLY-once per verified pair. Band buckets can't see
    * each other, so a pair agreeing on several bands is emitted once per
    * agreeing band by the state stage; a watermarked
    * `dropDuplicatesWithinWatermark` on (id_a, id_b) — keyed state ∝
    * distinct pairs inside the watermark, evicted as it advances — then
    * collapses those to one row. The pair's event time (the later
    * member's timestamp) drives that watermark, and a redelivered pair
    * can only recur within the bucket-state watermark, so the two
    * horizons coincide: any duplicate the state stage can produce is
    * still inside the dedup window. Chaining a stateful operator after
    * keyed state is exactly what `transformWithState`'s declared output
    * event-time column exists for (the pair's `eventTime` — Spark
    * re-derives the downstream watermark from it); the old
    * `flatMapGroupsWithState` operator is opaque to the watermark
    * machinery and Spark rejects stateful consumers of its output.
    * Jaccard is computed on xxhash64 shingle hashes, equal to the batch
    * string-shingle Jaccard barring 64-bit collisions.
    *
    * Requires the RocksDB state store
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`):
    * `transformWithState` needs a store with column families, which the
    * default HDFS-backed store lacks — at 100 TB/day ingest RocksDB is
    * the store you'd run anyway (state spills to local SST files
    * instead of living on the executor heap).
    */
  def nearDupPairsStream(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermark: String, threshold: Double = 0.8,
      numHashes: Int = 8, rowsPerBand: Int = 2,
      shingleK: Int = 3): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val nBands = numHashes / rowsPerBand
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.pipeline.TextOps
    val sh = col("__sh")
    val sig = array((0 until numHashes).map(i =>
      array_min(transform(sh, s => xxhash64(lit(i), s)))): _*)
    val bandSlices = array((0 until nBands).map(b =>
      slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand)): _*)
    val banded = docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol).cast("long").as("id"),
        unix_millis(col(tsCol)).as("tsMs"), col(tsCol).as("__ts"),
        TextOps.wordShingles(col(textCol), shingleK).as("__sh"))
      // docs shorter than the shingle width have no signature in the
      // batch pipeline either (they produce no shingle rows)
      .filter(size(sh) > 0)
      .select(col("id"), col("tsMs"), col("__ts"), sig.as("__sig"),
        array_distinct(transform(sh, s => xxhash64(s))).as("hashes"))
      .select(col("id"), col("tsMs"), col("__ts"), col("hashes"),
        posexplode(bandSlices).as(Seq("band", "sig")))
      .select(col("id"), col("tsMs"), col("band"), col("sig"),
        col("hashes"), col("__ts"))
      .as[BandedDoc]
    // the watermark delay in ms, parsed exactly as withWatermark parses
    // its threshold — the timer eviction horizon must match the
    // member-trim horizon
    val delayMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .getDuration(
        org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
          org.apache.spark.unsafe.types.UTF8String.fromString(watermark)),
        java.util.concurrent.TimeUnit.MILLISECONDS)
    banded
      // the bucket key is the scalar "band:sig" rendering, not the
      // (band, sig array) pair: the timer state's key encoder cannot
      // carry an array field, and a scalar key keeps the state-store
      // row key flat anyway. The rendering is injective (fixed-width
      // band, '|'-joined longs), so buckets are EXACTLY the batch
      // path's (band, signature) buckets.
      .groupByKey(d => s"${d.band}:${d.sig.mkString("|")}")
      .transformWithState(new NearDupBucketProcessor(threshold, delayMs),
        "eventTime", OutputMode.Append)
      .toDF()
      // exactly-once stage: per-band duplicate emissions carry identical
      // values, so a watermarked keyed dedup collapses them; the key
      // state lives only `watermark` past the pair's declared event time
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
      .drop("eventTime")
  }

  /** Streaming sequence packing — the streaming form of
    * [[graft.pipeline.Packing.packByOffset]]: every incoming document
    * is assigned its token offset and training-bin id from a per-shard
    * running counter ([[ShardOffsetProcessor]]), so bins fill
    * CONTINUOUSLY as the ingest runs instead of in a nightly batch
    * pass. Offsets follow arrival order (id-sub-ordered within a
    * micro-batch); a downstream consumer closes bin `b` once a doc of
    * bin > `b` appears in its shard. State is one long per shard,
    * never expired. Requires the RocksDB state store, like every
    * `transformWithState` operator.
    *
    * The packing family does NOT dedup redeliveries (per-shard seen-id
    * state would grow with the corpus, unlike the near-dup bucket's
    * watermark-bounded members): an at-least-once source that re-sends
    * a document would double-pack it. Feed exactly-once sources, or
    * chain `dropDuplicatesWithinWatermark(idCol)` upstream.
    */
  def packStream(docs: DataFrame, shardCol: String, idCol: String,
      tokens: Column, budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(shardCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"), tokens.cast("long").as("toks"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new ShardOffsetProcessor(budget),
        TimeMode.None(), OutputMode.Append)
      .toDF()
  }

  /** [[packStream]] with the ordered-arrival precondition REMOVED:
    * documents buffer per shard until the watermark passes their event
    * time (`tsCol`/`watermark`), then take offsets in (event time, id)
    * order — so ANY arrival permutation within the watermark window
    * yields the batch assignment of [[graft.pipeline.Packing
    * .packByOffset]] ordered by `tsCol` (ties by `idCol`). The price is
    * the standard watermark trade: output lags arrival by up to the
    * watermark delay, and per-shard state holds the unflushed window
    * (bounded by watermark × ingest rate, not the corpus). Rows later
    * than the watermark degrade to arrival order — the documented
    * streaming late-data contract, not silent corruption.
    */
  def packStreamOrdered(docs: DataFrame, shardCol: String, idCol: String,
      tokens: Column, budget: Int, tsCol: String,
      watermark: String): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark(tsCol, watermark)
      .select(col(shardCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"), tokens.cast("long").as("toks"),
        unix_millis(col(tsCol)).as("tsMs"), col(tsCol).as("ts"))
      .as[ShardDoc]
      .groupByKey(_.shard)
      .transformWithState(new OrderedShardOffsetProcessor(budget),
        TimeMode.EventTime(), OutputMode.Append)
      .toDF()
  }

  /** The streaming END of the training-batch flow
    * ([[BinAssemblerProcessor]]): tokenized documents in, COMPLETED
    * training bins out — each bin exactly `budget` token ids, emitted
    * the moment it fills, schema-compatible with the batch
    * [[graft.pipeline.Packing.assembleBins]] rows. The open partial bin
    * per shard stays in state (an unbounded stream has no last bin);
    * state is ≤ `budget` ids + three longs per shard, bounded by the
    * context length, never the corpus. `ids` is each document's full
    * token-id array (e.g. [[graft.functions.Bpe.tokenIds]]); its length
    * is the document's token count, so offsets/bins agree with
    * [[packStream]] fed `size(ids)`. Pack order is arrival order
    * (id-sub-ordered per micro-batch), like [[packStream]]; under
    * ordered arrival the emitted bins equal the batch pipeline's full
    * bins (spec-pinned).
    */
  def packBinsStream(docs: DataFrame, shardCol: String, idCol: String,
      ids: Column, budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(shardCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"),
        coalesce(ids.cast("array<int>"), array().cast("array<int>"))
          .as("ids"))
      .as[AssembleDoc]
      .groupByKey(_.shard)
      .transformWithState(new BinAssemblerProcessor(budget),
        TimeMode.None(), OutputMode.Append)
      .toDF()
  }

  /** [[packBinsStream]] with the ordered-arrival precondition REMOVED —
    * the production composition for out-of-order ingest: documents
    * buffer per shard until the watermark passes their event time
    * (`tsCol`/`watermark`), then feed the open bin in (event time, id)
    * order, so ANY in-watermark arrival permutation emits the exact bin
    * sequence the batch pipeline assembles over the time-ordered
    * corpus. Bins still leave the moment they fill — delayed by at most
    * the watermark. Late rows degrade to arrival order, the standard
    * watermark contract shared with [[packStreamOrdered]].
    */
  def packBinsStreamOrdered(docs: DataFrame, shardCol: String,
      idCol: String, ids: Column, budget: Int, tsCol: String,
      watermark: String): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark(tsCol, watermark)
      .select(col(shardCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"),
        coalesce(ids.cast("array<int>"), array().cast("array<int>"))
          .as("ids"),
        unix_millis(col(tsCol)).as("tsMs"), col(tsCol).as("ts"))
      .as[OrderedAssembleDoc]
      .groupByKey(_.shard)
      .transformWithState(new OrderedBinAssemblerProcessor(budget),
        TimeMode.EventTime(), OutputMode.Append)
      .toDF()
  }

  /** Session windows per user: a session closes after `gap` of silence
    * (batch analog: the gaps-and-islands `q_sessionize` query). State per
    * key is bounded by the watermark.
    */
  def sessionStats(events: DataFrame, tsCol: String, watermark: String,
      gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))
}
