package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.api.{KStream, KTable, Rec}

/** Streaming KTable⋈KTable changelog join — the reference's symmetric
  * update-driven join (`kstream/internals/KTableKTableInnerJoin.java:78-106`
  * with mirrored processors + `KTableKTableJoinMerger`): an update on
  * EITHER side looks up the other side's current value and emits the new
  * joined result; a tombstone removes the side and (for inner) retracts
  * the key.
  *
  * Spark mapping (SURVEY.md §7.4 risk #1): union both changelogs tagged by
  * side, keep (latest-left, latest-right) per key in
  * `flatMapGroupsWithState`, emit the joined value once per micro-batch
  * per updated key (the reference's cache-flush cadence). Null values are
  * tombstones. Emitted `None` joined values mean "key left the join view"
  * — downstream sinks upsert/delete by key.
  */
/** Per-key processor behind [[StreamingTableJoin.streamTableJoinVersioned]]:
  * table rows populate the [[VersionedStore]] in timestamp position;
  * stream rows emit joined against the as-of version. Null table values
  * put a tombstone version (as-of reads after it see None via the
  * None-valued slot), mirroring the reference's versioned-store deletes. */
private[streaming] final class VersionedJoinProcessor[K, V, VT, VR](
    joiner: (V, Option[VT]) => VR, inner: Boolean, retentionMs: Long,
    vtEnc: Encoder[VT])
    extends ProcessorApi.Processor[K, (Boolean, Option[V], Option[VT]), (K, VR, Timestamp)] {
  import org.apache.spark.sql.streaming.{StatefulProcessorHandle, TimerValues, TTLConfig}

  @transient private var store: VersionedStore[Option[VT]] = _

  override def init(handle: StatefulProcessorHandle): Unit =
    // RECORDED DECISION (SCALE.md): TTLConfig.NONE here is correct — the
    // VersionedStore bounds its HISTORY by retentionMs (KIP-914) while
    // the latest version per key lives forever, exactly like the
    // reference's versioned stores over a compacted changelog.
    store = new VersionedStore[Option[VT]](
      handle.getListState[(Long, Option[VT])]("versions",
        Encoders.tuple(Encoders.scalaLong, Rec.optionEnc(vtEnc)), TTLConfig.NONE),
      // store keys are micros; saturate so retentionMs=Long.MaxValue
      // means "unbounded" instead of overflowing the horizon
      if (retentionMs > Long.MaxValue / 1000L) Long.MaxValue
      else retentionMs * 1000L)

  /** Full-precision version key: ms-truncated getTime would collapse
    * distinct micro-grained versions onto one key. */
  private def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  override def process(key: K,
      rows: Iterator[((Boolean, Option[V], Option[VT]), Timestamp)],
      handle: StatefulProcessorHandle,
      timers: TimerValues): Iterator[(K, VR, Timestamp)] = {
    val out = Seq.newBuilder[(K, VR, Timestamp)]
    // event-time order; table versions land before stream lookups at ties
    rows.toSeq.sortBy { case (tagged, ts) => (ts.getTime, ts.getNanos, tagged._1) }
      .foreach { case ((isStream, sv, tv), ts) =>
        if (!isStream) store.put(micros(ts), tv)
        else sv.foreach { v =>
          val asOf = store.get(micros(ts)).flatMap(_._2)
          if (!inner || asOf.isDefined) out += ((key, joiner(v, asOf), ts))
        }
      }
    out.result().iterator
  }
}

/** Stage 2 of [[StreamingTableJoin.fkJoin]] — the KIP-213 subscription
  * store. State is ONE store entry PER SUBSCRIBER: a `MapState` keyed by
  * the left key (Spark persists each map entry under a composite
  * (fk, leftKey) store key — the reference's subscription-store prefix
  * scan, `SubscriptionStoreReceiveProcessorSupplier` lineage), plus a
  * `ValueState` holding the right side's current value. A subscription
  * change touches only its own entry; a right-side update streams the
  * map iterator (the prefix scan) instead of deserializing a monolithic
  * subscriber Seq — no single state value grows with fk popularity. */
private[streaming] final class FkSubscriptionProcessor[K, V, KO, VO, OUT](
    respond: (V, Option[VO]) => Option[OUT],
    kEnc: Encoder[K], vEnc: Encoder[V], voEnc: Encoder[VO])
    extends ProcessorApi.Processor[KO, (Option[((K, V), Boolean)], Option[VO]),
      (K, Option[OUT], KO, Timestamp)] {
  import org.apache.spark.sql.streaming.{MapState, StatefulProcessorHandle, TimerValues, TTLConfig, ValueState}

  @transient private var subs: MapState[K, V] = _
  @transient private var right: ValueState[Option[VO]] = _

  override def init(handle: StatefulProcessorHandle): Unit = {
    // RECORDED DECISION (SCALE.md "join stores keep TTLConfig.NONE"):
    // latest-value-per-key IS the KTable contract — expiring a
    // subscription or right value would silently turn a valid join row
    // into a miss. Bound = key cardinality, the same bound the
    // reference's COMPACTED (not retained) changelog topics carry.
    subs = handle.getMapState[K, V]("subs", kEnc, vEnc, TTLConfig.NONE)
    right = handle.getValueState[Option[VO]]("right", Rec.optionEnc(voEnc), TTLConfig.NONE)
  }

  override def process(fkey: KO,
      rows: Iterator[((Option[((K, V), Boolean)], Option[VO]), Timestamp)],
      handle: StatefulProcessorHandle,
      timers: TimerValues): Iterator[(K, Option[OUT], KO, Timestamp)] = {
    var cur: Option[VO] = if (right.exists()) right.get() else None
    val out = Seq.newBuilder[(K, Option[OUT], KO, Timestamp)]
    // right updates before subscription changes at equal ts; among
    // subscriptions, REMOVES before ADDS — a left value update with an
    // unchanged fk arrives as an unsubscribe+subscribe pair at ONE
    // timestamp (deltaStream's -old/+new), and the shuffle loses their
    // relative order: applying the add first would let the remove erase
    // the fresh subscription (the reference relies on subscription-topic
    // offset order here; remove-first is the only pair shape possible at
    // equal (ts, key), so the tiebreak is exact)
    rows.toSeq.sortBy { case ((sub, _), ts) =>
      (ts.getTime, ts.getNanos, sub.isDefined, sub.exists(_._2))
    }
      .foreach { case ((sub, rv), ts) =>
        sub match {
          case None => // right-side update: re-join every subscriber
            cur = rv
            subs.iterator().foreach { case (k, v) =>
              out += ((k, respond(v, cur), fkey, ts))
            }
          case Some(((k, v), isAdd)) =>
            if (isAdd) {
              subs.updateValue(k, v)
              out += ((k, respond(v, cur), fkey, ts))
            } else {
              subs.removeKey(k)
              out += ((k, None, fkey, ts)) // unsubscribe/delete response
            }
        }
      }
    right.update(cur)
    out.result().iterator
  }
}

object StreamingTableJoin {

  /** Update stream of the joined table: one record per (batch, updated
    * key) carrying the current joined value — `Some(out)` when the join
    * produces a row, `None` when the key dropped out (tombstone). */
  def innerJoin[K: Encoder, VL: Encoder, VR: Encoder, OUT: Encoder](
      left: KStream[K, VL], right: KStream[K, VR])(
      joiner: (VL, VR) => OUT): Dataset[(K, Option[OUT])] =
    fullJoin(left, right) { (l, r) =>
      for (lv <- l; rv <- r) yield joiner(lv, rv)
    }

  /** Left variant: emits whenever the left side exists. */
  def leftJoin[K: Encoder, VL: Encoder, VR: Encoder, OUT: Encoder](
      left: KStream[K, VL], right: KStream[K, VR])(
      joiner: (VL, Option[VR]) => OUT): Dataset[(K, Option[OUT])] =
    fullJoin(left, right) { (l, r) => l.map(lv => joiner(lv, r)) }

  /** Streaming KStream⋈KTable enrichment join against a LIVE changelog
    * table (`kstream/internals/KStreamKTableJoinProcessor.java:55-76`):
    * each stream record is emitted once, joined with the table's current
    * value for its key; table updates only mutate the join state — they
    * produce NO output (unlike the symmetric table-table join above).
    * Tombstones (null table values) clear the key's state.
    *
    * Spark mapping: union of the two sides tagged by origin, grouped by
    * key, `flatMapGroupsWithState` in Append mode holding the table's
    * latest value per key. Within a micro-batch rows apply in event-time
    * order with table updates ordered before stream lookups at equal ts —
    * a deterministic stand-in for the reference's offset order. Stream
    * records with null values are dropped (`KStreamKTableJoinProcessor`'s
    * null-skip + skipped-records metric). Append mode keeps downstream
    * streaming aggregations legal.
    *
    * `inner=false` gives the left variant: misses emit `joiner(v, None)`.
    */
  def streamTableJoin[K: Encoder, V: Encoder, VT: Encoder, VR: Encoder](
      stream: KStream[K, V], table: KTable[K, VT], inner: Boolean)(
      joiner: (V, Option[VT]) => VR): Dataset[(K, VR, Timestamp)] = {
    implicit val ov: Encoder[Option[V]] = Rec.optionEnc[V]
    implicit val ovt: Encoder[Option[VT]] = Rec.optionEnc[VT]
    implicit val tagged: Encoder[(K, Boolean, Option[V], Option[VT], Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaBoolean, ov, ovt,
        Encoders.TIMESTAMP)
    implicit val stateEnc: Encoder[(Option[VT], Timestamp)] =
      Encoders.tuple(ovt, Encoders.TIMESTAMP)
    implicit val outEnc: Encoder[(K, VR, Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[VR]], Encoders.TIMESTAMP)

    val s = stream.toDataset.map(r => (r._1, true, Option(r._2), Option.empty[VT], r._3))
    val t = new KStream[K, VT](table.df).toDataset
      .map(r => (r._1, false, Option.empty[V], Option(r._2), r._3))
    val joinFn = joiner
    val innerFlag = inner

    s.union(t)
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Option[VT], Timestamp), (K, VR, Timestamp)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var cur = state.getOption.map(_._1).getOrElse(Option.empty[VT])
        var curTs = state.getOption.map(_._2).getOrElse(new Timestamp(0L))
        var tableChanged = false
        val out = Seq.newBuilder[(K, VR, Timestamp)]
        // event-time order; table updates before stream lookups at equal ts
        rows.toSeq.sortBy(r => (r._5.getTime, r._5.getNanos, r._2)).foreach { r =>
          if (!r._2) { cur = r._4; curTs = r._5; tableChanged = true }
          else if (r._3.isDefined && (!innerFlag || cur.isDefined))
            out += ((r._1, joinFn(r._3.get, cur), r._5))
        }
        // stream-only keys only read the table: writing the unchanged
        // value back would cost a state-store put per lookup
        if (tableChanged) state.update((cur, curTs))
        out.result().iterator
      }
  }

  /** LIVE foreign-key table-table join — the streaming twin of
    * `KTable.fkJoin` (KIP-213, Kafka 2.4 `KTable.join(other,
    * foreignKeyExtractor, joiner)`). Faithful three-stage shape of the
    * reference-lineage implementation, each topic hop replaced by an
    * append-mode stateful stage:
    *
    *   1. subscriptions — [[StreamingChangelog.deltaStream]] re-keys the
    *      left changelog by `fk(value)` into ±membership deltas (the
    *      subscription topic; unsubscribes fire when a row's fk changes
    *      or the row is tombstoned);
    *   2. responses — grouped by fk, state = (subscribers, right's
    *      current value): a subscription delta joins against the current
    *      right value; a RIGHT update re-emits for EVERY subscriber (the
    *      response fan-out); right-side updates apply before
    *      subscription changes at equal ts;
    *   3. resolution — grouped by the LEFT key, state = the key's
    *      current fk: a response is emitted only if it came via the fk
    *      the key currently points at (the reference's
    *      SubscriptionResolverJoinProcessorSupplier hash check), which
    *      kills stale responses racing an fk re-point.
    *
    * Emits `(K, Some(out), ts)` for live joined rows and `(K, None, ts)`
    * when the key leaves the view (left tombstone; or, for inner joins,
    * a right miss/tombstone) — downstream sinks upsert/delete by key.
    */
  def fkJoin[K: Encoder, V: Encoder, KO: Encoder, VO: Encoder, OUT: Encoder](
      left: KStream[K, V], right: KStream[KO, VO], inner: Boolean)(
      fk: V => KO)(joiner: (V, Option[VO]) => OUT): Dataset[(K, Option[OUT], Timestamp)] = {
    implicit val kvEnc: Encoder[(K, V)] =
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[V]])
    implicit val subEnc: Encoder[Option[((K, V), Boolean)]] =
      Rec.optionEnc(Encoders.tuple(kvEnc, Encoders.scalaBoolean))
    implicit val ovo: Encoder[Option[VO]] = Rec.optionEnc[VO]
    implicit val oout: Encoder[Option[OUT]] = Rec.optionEnc[OUT]
    implicit val s2val: Encoder[(Option[((K, V), Boolean)], Option[VO])] =
      Encoders.tuple(subEnc, ovo)
    implicit val s2in: Encoder[(KO, (Option[((K, V), Boolean)], Option[VO]), Timestamp)] =
      Encoders.tuple(implicitly[Encoder[KO]], s2val, Encoders.TIMESTAMP)
    implicit val respEnc: Encoder[(K, Option[OUT], KO, Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], oout, implicitly[Encoder[KO]],
        Encoders.TIMESTAMP)
    implicit val s3in: Encoder[(K, Boolean, Option[V], Option[(Option[OUT], KO)], Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaBoolean, Rec.optionEnc[V],
        Rec.optionEnc(Encoders.tuple(oout, implicitly[Encoder[KO]])), Encoders.TIMESTAMP)
    implicit val s3state: Encoder[Option[KO]] = Rec.optionEnc[KO]
    implicit val outEnc: Encoder[(K, Option[OUT], Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], oout, Encoders.TIMESTAMP)

    val joinFn = joiner
    val fkFn = fk
    val innerFlag = inner
    def respond(v: V, cur: Option[VO]): Option[OUT] =
      if (innerFlag) cur.map(c => joinFn(v, Some(c))) // inner: right miss = no row
      else Some(joinFn(v, cur))

    // stage 1: ±subscription deltas keyed by fk
    val subs = StreamingChangelog.deltaStream(left)((k, v) => (fkFn(v), (k, v)))
      .map(d => (d._1, (Option((d._2._1, d._2._2)), Option.empty[VO]), d._3))
    val rightTagged = right.toDataset
      .map(r => (r._1, (Option.empty[((K, V), Boolean)], Option(r._2)), r._3))

    // stage 2: the subscription store — one MapState entry per (fk, leftKey)
    // subscriber; right updates fan out by scanning the map (KIP-213's
    // prefix scan), never by rewriting a per-fk subscriber blob
    val responses = ProcessorApi.process(
      new KStream[KO, (Option[((K, V), Boolean)], Option[VO])](
        subs.union(rightTagged).toDF(Rec.KeyCol, Rec.ValueCol, Rec.TsCol)),
      new FkSubscriptionProcessor[K, V, KO, VO, OUT](respond,
        implicitly[Encoder[K]], implicitly[Encoder[V]], implicitly[Encoder[VO]]),
      org.apache.spark.sql.streaming.TimeMode.None(),
      OutputMode.Append)

    // stage 3: drop responses that arrived via a superseded fk
    val leftTagged = left.toDataset
      .map(r => (r._1, true, Option(r._2),
        Option.empty[(Option[OUT], KO)], r._3))
    val respTagged = responses
      .map(r => (r._1, false, Option.empty[V], Option((r._2, r._3)), r._4))
    leftTagged.union(respTagged)
      .groupByKey(_._1)
      .flatMapGroupsWithState[Option[KO], (K, Option[OUT], Timestamp)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var curFk: Option[KO] = state.getOption.flatten
        val out = Seq.newBuilder[(K, Option[OUT], Timestamp)]
        // left re-points before their same-ts responses resolve
        rows.toSeq.sortBy(r => (r._5.getTime, r._5.getNanos, !r._2)).foreach { r =>
          if (r._2) curFk = r._3.map(fkFn)
          else {
            val (res, via) = r._4.get
            val live = curFk.contains(via) // response matches current fk
            val deleted = curFk.isEmpty && res.isEmpty // left-tombstone retraction
            if (live || deleted) out += ((key, res, r._5))
          }
        }
        state.update(curFk)
        out.result().iterator
      }
  }

  /** VERSIONED stream-table join — Kafka 3.5's temporal join against a
    * versioned table (KIP-914, the follow-on to [[streamTableJoin]]'s
    * 2.2-era semantics): each stream record joins the table version
    * valid AS OF the record's event time, so an out-of-order stream
    * record arriving in a LATER micro-batch still joins the historical
    * value instead of the table's current one. Table updates (including
    * out-of-order ones) land in timestamp position in a per-key
    * [[VersionedStore]]; history retention bounds state.
    *
    * Runs on the Processor API (transformWithState) — requires the
    * RocksDB state store provider like every ProcessorApi topology. */
  def streamTableJoinVersioned[K: Encoder, V: Encoder, VT: Encoder, VR: Encoder](
      stream: KStream[K, V], table: KTable[K, VT], historyRetentionMs: Long,
      inner: Boolean)(joiner: (V, Option[VT]) => VR): Dataset[(K, VR, Timestamp)] = {
    implicit val ov: Encoder[Option[V]] = Rec.optionEnc[V]
    implicit val ovt: Encoder[Option[VT]] = Rec.optionEnc[VT]
    implicit val taggedEnc: Encoder[(Boolean, Option[V], Option[VT])] =
      Encoders.tuple(Encoders.scalaBoolean, ov, ovt)
    implicit val t3: Encoder[(K, (Boolean, Option[V], Option[VT]), Timestamp)] =
      Rec.tupleEnc[K, (Boolean, Option[V], Option[VT])]
    implicit val outEnc: Encoder[(K, VR, Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[VR]], Encoders.TIMESTAMP)

    val s = stream.toDataset.map(r => (r._1, (true, Option(r._2), Option.empty[VT]), r._3))
    val t = new KStream[K, VT](table.df).toDataset
      .map(r => (r._1, (false, Option.empty[V], Option(r._2)), r._3))
    val tagged = new KStream[K, (Boolean, Option[V], Option[VT])](
      s.union(t).toDF(Rec.KeyCol, Rec.ValueCol, Rec.TsCol))
    ProcessorApi.process(tagged,
      new VersionedJoinProcessor[K, V, VT, VR](joiner, inner, historyRetentionMs,
        implicitly[Encoder[VT]]),
      org.apache.spark.sql.streaming.TimeMode.None(),
      org.apache.spark.sql.streaming.OutputMode.Append)
  }

  /** General form: `view` maps the two current side values to the joined
    * value (None = no row for this key). */
  def fullJoin[K: Encoder, VL: Encoder, VR: Encoder, OUT: Encoder](
      left: KStream[K, VL], right: KStream[K, VR])(
      view: (Option[VL], Option[VR]) => Option[OUT]): Dataset[(K, Option[OUT])] = {
    implicit val ovl: Encoder[Option[VL]] = Rec.optionEnc[VL]
    implicit val ovr: Encoder[Option[VR]] = Rec.optionEnc[VR]
    implicit val oout: Encoder[Option[OUT]] = Rec.optionEnc[OUT]
    implicit val tagged: Encoder[(K, Boolean, Option[VL], Option[VR], Timestamp)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaBoolean, ovl, ovr,
        Encoders.TIMESTAMP)
    implicit val stateEnc: Encoder[(Option[VL], Option[VR])] = Encoders.tuple(ovl, ovr)
    implicit val outEnc: Encoder[(K, Option[OUT])] =
      Encoders.tuple(implicitly[Encoder[K]], oout)

    val l = left.toDataset.map(r => (r._1, true, Option(r._2), Option.empty[VR], r._3))
    val r = right.toDataset.map(r => (r._1, false, Option.empty[VL], Option(r._2), r._3))
    val viewFn = view

    l.union(r)
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Option[VL], Option[VR]), (K, Option[OUT])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var (curL, curR) = state.getOption.getOrElse((Option.empty[VL], Option.empty[VR]))
        // apply this batch's updates in event-time order (changelog order)
        // (millis, nanos) keeps sub-millisecond event times ordered
        rows.toSeq.sortBy(row => (row._5.getTime, row._5.getNanos)).foreach { row =>
          if (row._2) curL = row._3 else curR = row._4
        }
        state.update((curL, curR))
        Iterator.single((key, viewFn(curL, curR)))
      }
  }
}
