package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming idioms for the reference's incremental patterns
  * (SURVEY.md §2.11). The reference has no streaming runtime — its
  * *differential catch-up ingest* advances a per-domain high-water-mark and
  * fetches only the missing window (docs/mcp-tools-reference.md:645-655).
  * The Spark-native upgrade is a checkpointed file-source stream with
  * `Trigger.AvailableNow`: the checkpoint IS the high-water-mark, exactly
  *-once per file, and each invocation drains whatever arrived since the
  * last run then stops — the same incremental-batch contract, minus the
  * hand-rolled cursor table.
  */
object Streams {

  /** Incremental catch-up over a growing directory of parquet activity
    * batches: processes only files unseen by the checkpoint, applies the
    * transform, appends to the silver path, and returns when caught up.
    */
  def catchUp(spark: SparkSession, sourceDir: String, checkpointDir: String,
      outDir: String, schema: org.apache.spark.sql.types.StructType,
      transform: DataFrame => DataFrame = identity): Unit = {
    val stream = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
    transform(stream).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** Streaming analog of the batch gap-sessionization (form_events.py:63-80
    * collapses flagged seconds with gaps <= 2 s). Boundary convention:
    * session_window merges events with diff < gap, the batch op with
    * diff <= tolerance — so gap = tolerance + 1 second gives identical
    * grouping on integer-second data. Watermark bounds the session state.
    */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
      gap: String = "3 seconds", watermark: String = "30 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Exactly-once event dedup on (key, event-time) with bounded state —
    * the streaming guard for at-least-once sources feeding the append-only
    * versioned tables (duckdb_schema_mapping.md:852; the batch-side
    * latest-version-wins read stays the row_number()=1 window in
    * operators.Windows). Including the event-time column in the dedup key
    * lets the watermark expire state.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Watermarked tumbling-window aggregation — the streaming analog of the
    * batch daily-load/time-bucket aggregates (q_daily_load,
    * q_time_range_stats): per (key, window) count/sum/avg with late data
    * folded in until the watermark closes the window. State is bounded by
    * watermark ÷ window windows per key; with update output mode each
    * micro-batch emits only the windows it touched. (Calendar buckets —
    * weeks/months — deliberately stay batch date arithmetic: `window()`
    * is fixed-duration only.)
    */
  def windowedLoadStream(events: DataFrame, keyCol: String, tsCol: String,
      valCol: String, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol)).as("total"),
        avg(col(valCol)).as("mean"))
      .select(col(keyCol),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("total"), col("mean"))

  /** Hopping (sliding) twin of [[windowedLoadStream]]: every event lands
    * in window/slide overlapping windows — the streaming form of
    * q_hopping_load. Same watermark discipline; the hop factor
    * multiplies state rows per key, so keep window/slide small (the
    * batch query's comment carries the same warning for the shuffle).
    */
  def hoppingLoadStream(events: DataFrame, keyCol: String, tsCol: String,
      valCol: String, window: String = "30 minutes",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol),
        org.apache.spark.sql.functions.window(col(tsCol), window, slide))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol)).as("total"),
        avg(col(valCol)).as("mean"))
      .select(col(keyCol),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("total"), col("mean"))

  /** Stream → silver upsert sink: each micro-batch lands through the SAME
    * idempotent partition-overwrite path batch ingest uses
    * (SilverWriter.upsertByPartition), so a replayed micro-batch (restart
    * between write and commit) rewrites exactly its activities'
    * partitions instead of appending duplicates — end-to-end
    * effectively-once on top of an at-least-once source, with no
    * sink-side dedup state.
    */
  def upsertSink(df: DataFrame, path: String, checkpointDir: String,
      partitionCol: String = "activity_id"): Unit =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ingest.SilverWriter.upsertByPartition(batch, path, partitionCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Watermarked stream-stream interval join: match each left event to
    * right events on the same key within [0, `withinSeconds`] AFTER it —
    * the streaming form of the batch interval-containment join
    * (q_interval_join). Both sides carry watermarks and the join
    * condition bounds event-time distance, so each side's buffered state
    * expires once the other side's watermark passes the interval.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, withinSeconds: Int,
      watermark: String = "1 minute"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinSeconds SECONDS"))
      .drop(r(keyCol))
  }

  /** Streaming incremental dedup: new documents arrive as a stream and are
    * dropped when their dedup key (sha2 of text, or a banded-MinHash key
    * exploded upstream) already exists in the STATIC seen-corpus index —
    * the streaming analog of operators.Dedup's q_dedup_incremental.
    *
    * Spark's stream-static join supports inner/left-outer with the stream
    * on the left; anti semantics = left-outer + keep-null-right, which
    * stays stateless (the static side is broadcast or re-scanned per
    * micro-batch, no streaming state at all). Intra-batch duplicates are
    * NOT collapsed here (same contract as the batch operator); chain
    * [[dedupStream]] for that.
    */
  def antiDedupStream(newDocs: DataFrame, seenKeys: DataFrame,
      keyCol: String): DataFrame = {
    val marker = seenKeys.select(col(keyCol), lit(1).as("__seen"))
    newDocs
      .join(marker, Seq(keyCol), "left_outer")
      .where(col("__seen").isNull)
      .drop("__seen")
  }

  /** Stateless streaming quality filter — the hashed-classifier serving
    * path applied at ingest: score each arriving document MAP-SIDE (the
    * weight array is a literal, the broadcast-the-model form; no state,
    * no shuffle, no watermark needed) and keep positives, so rejected
    * documents never reach the sink. Batch twin: q_text_clf_score's
    * `keep` column — same weights, same hash, same threshold, and the
    * StreamsSpec parity test pins the kept set against it.
    */
  def clfFilterStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextHash._
    val wArr = graft.operators.TextOps.clfWeights.mkString("array(", "L, ", "L)")
    val keep = docs.columns.map(col)
    docs
      .withColumn("__toks", expr(tokensSpark("text")))
      .where(size(col("__toks")) > 0)
      .withColumn("w_sum",
        expr(s"aggregate(transform(${hashArraySpark("__toks")}, " +
          s"x -> element_at($wArr, cast(x % 64 AS int) + 1)), " +
          "0L, (a, x) -> a + x)"))
      .where(col("w_sum") > 0)
      .select(keep :+ col("w_sum"): _*)
  }

  /** Stateless streaming benchmark screen — q_decontaminate_bloom's
    * in-flight form: tag each arriving document with its best benchmark
    * overlap BEFORE it reaches the training sink. Both stages are
    * MAP-SIDE (no state, no shuffle, no watermark): the bloom prescreen
    * rejects clean documents at the cost of one probe per shingle
    * (`exists` short-circuits on the first hit), and only survivors pay
    * the exact verify against the literal benchmark postings — sound
    * because a bloom false negative is impossible, so a prescreen reject
    * PROVES zero shared shingles. Benchmark suites are fixed-size, which
    * is what licenses shipping their postings as a literal (the
    * broadcast-the-model form, same as [[clfFilterStream]]'s weights).
    * Tie-break matches the batch query: max shared count, then lowest
    * bench id (encoded as max of struct(n, -id)).
    *
    * `bench` is (bench_id, distinct shingle hashes). An empty `bench`
    * tags every document clean; `bloom = None` with a NON-empty bench
    * fails closed (no prescreen — every document pays the exact verify).
    * Batch twin parity is pinned in StreamsSpec against
    * q_decontaminate_bloom.
    */
  def decontaminateStream(docs: DataFrame, bench: Seq[(Long, Seq[Long])],
      bloom: Option[Array[Byte]], minShared: Long = 3L): DataFrame = {
    import graft.functions.TextHash._
    val keep = docs.columns.map(col)
    if (bench.isEmpty) // empty benchmark: everything tags clean
      return docs.select(keep ++ Seq(
        lit(null).cast("long").as("bench_id"),
        lit(0L).as("n_shared"), lit(false).as("contaminated")): _*)
    // structural literal: Spark 4.1's literal column node re-validates
    // the already-converted catalyst value as if it were the Scala value
    // and rejects any composite (typedLit of seq-of-tuples, bridged
    // Literal.create — both fail with "GenericArrayData found"), so the
    // benchmark table is built from the primitive-array form lit()
    // does handle — ConstantFolding collapses it to one constant
    val benchLit = array(bench.map { case (id, hs) =>
      struct(lit(id).as("_1"), lit(hs.toArray).as("_2"))
    }: _*)
    val pass = bloom match {
      case Some(bf) =>
        exists(col("__hs"), x => graft.functions.Bloom.mightContain(bf, x))
      // No sketch supplied for a NON-empty benchmark: fail CLOSED — skip
      // the prescreen and exact-verify every document. lit(false) here
      // would tag everything clean (fail open), the worst outcome for a
      // contamination screen; lit(true) preserves correctness at
      // worst-case cost.
      case None => lit(true)
    }
    val best = array_max(transform(benchLit, b =>
      struct(
        size(array_intersect(col("__hs"), b.getField("_2"))).as("n"),
        negate(b.getField("_1")).as("nid"))))
    val nShared = coalesce(col("__best").getField("n").cast("long"), lit(0L))
    docs
      .withColumn("__toks", expr(tokensSpark("text")))
      .withColumn("__th", expr(hashArraySpark("__toks")))
      .withColumn("__hs", expr(shingleHashesSpark("__th")))
      .withColumn("__best", when(pass, best))
      .select(keep ++ Seq(
        when(col("__best").getField("n") > 0,
          negate(col("__best").getField("nid"))).as("bench_id"),
        nShared.as("n_shared"),
        (nShared >= minShared).as("contaminated")): _*)
  }

  /** Input/output rows for [[personalRecordStream]]. `event_id` is part of
    * the contract, not decoration: the batch twin (q_record_events) breaks
    * same-timestamp ties on (ts, event_id), and without the id the stream
    * could not reproduce that order (ADVICE r4 — a value-ordered tie-break
    * emitted records the batch suppresses).
    */
  final case class RecordEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  final case class RecordBroken(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double, prev_best: Option[Double])

  /** Personal-record detection with custom keyed state
    * (`flatMapGroupsWithState`): emit an event only when it beats the
    * user's ALL-TIME best — the streaming analog of the reference's
    * best-efforts extraction (pkg/analysis/best_efforts.py; batch side is
    * `domain/BestEfforts`). This is the one streaming shape the built-in
    * operators genuinely cannot express: the comparison is against
    * unbounded history, so no window bounds it, and dropDuplicates has no
    * ordering semantics — but the SUFFICIENT STATE is one double per key
    * (the current best), which is exactly what GroupState holds.
    *
    * Scale: state size = 8 bytes x |users| regardless of event volume;
    * each micro-batch shuffles only its own rows to their key's state
    * partition. Events inside a micro-batch are processed in (ts,
    * event_id) order — the iterator order Spark hands the function is
    * otherwise unspecified, and this is the SAME total order the batch
    * twin's window uses, so batch and stream emit the same record set on
    * any input, equal timestamps included.
    */
  def personalRecordStream(
      events: org.apache.spark.sql.Dataset[RecordEvent])
      : org.apache.spark.sql.Dataset[RecordBroken] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[RecordEvent], state: GroupState[Double]) =>
          var best = state.getOption
          val out = Seq.newBuilder[RecordBroken]
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (best.forall(e.value > _)) {
              out += RecordBroken(user, e.event_id, e.ts, e.value, best)
              best = Some(e.value)
            }
          }
          best.foreach(state.update)
          out.result().iterator
      }
  }

  /** Input/output rows and keyed state for [[funnelStream]]. */
  final case class FunnelEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)
  final case class FunnelAdvance(user_id: Long, stage: Int,
      event_type: String, event_id: Long, ts: java.sql.Timestamp)
  final case class FunnelState(stage: Int, lastMicros: Long)

  /** Streaming ordered funnel — the incremental twin of
    * q_event_funnel's view → click → purchase sequence match: per user,
    * advance one stage when the NEXT stage's event type arrives strictly
    * after the previous advance, and emit the advance row. Custom keyed
    * state again (like the record stream): the comparison spans unbounded
    * history, but the sufficient state is (stage index, last-advance
    * micros) — two scalars per user regardless of volume. Micro-batch
    * events are processed in (ts, event_id) order, the batch twin's total
    * order; the strictly-after comparison runs on epoch micros, matching
    * the batch operator's integer-micros discipline. A finished funnel
    * stays finished (no re-entry), so each user emits ≤ |stages| rows
    * ever.
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelEvent],
      stages: Seq[String] = Seq("view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          // full microsecond precision: getTime is millis, the sub-ms
          // digits live in getNanos — matching the batch side's
          // unix_micros ordering and comparisons exactly
          def us(t: java.sql.Timestamp): Long =
            math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = Seq.newBuilder[FunnelAdvance]
          it.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            val micros = us(e.ts)
            if (st.stage < stages.length && e.event_type == stages(st.stage) &&
                (st.stage == 0 || micros > st.lastMicros)) {
              out += FunnelAdvance(user, st.stage + 1, e.event_type,
                e.event_id, e.ts)
              st = FunnelState(st.stage + 1, micros)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class TransEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)
  final case class Transition(user_id: Long, from_type: String,
      to_type: String, event_id: Long)
  final case class TransState(lastType: String, lastMicros: Long,
      lastId: Long)

  /** Streaming first-order transition emitter — the incremental twin of
    * q_event_transitions' lead() pairs: per user, each arriving event
    * emits (previous type → this type) and becomes the new previous. The
    * sufficient state is ONE (type, micros, event_id) triple per user —
    * the same constant-state discipline as the funnel — and micro-batch
    * events are processed in (ts, event_id) order, the batch twin's
    * total order. Contract: per-user arrival must be ts-monotone ACROSS
    * batches (the replayable-log assumption every keyed-state stream
    * here makes); within a batch any arrival order is fine. Aggregating
    * the emitted pairs reproduces the batch transition counts exactly —
    * pinned by StreamsSpec on the real event table.
    */
  def transitionStream(events: org.apache.spark.sql.Dataset[TransEvent])
      : org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TransEvent], state: GroupState[TransState]) =>
          def us(t: java.sql.Timestamp): Long =
            math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          var st = state.getOption.orNull
          val out = Seq.newBuilder[Transition]
          it.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            if (st != null)
              out += Transition(user, st.lastType, e.event_type, e.event_id)
            st = TransState(e.event_type, us(e.ts), e.event_id)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  final case class AttrEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)
  final case class Attribution(user_id: Long, purchase_id: Long,
      click_id: Long, gap_s: Long)
  final case class ClickState(clickId: Long, micros: Long)

  /** Streaming last-touch attribution — the incremental twin of
    * q_attribution: per user, the latest click is ONE (id, micros) pair
    * of state; a purchase arriving within `windowSeconds` of it emits
    * the attribution row immediately (no batch-end join). Events are
    * processed in (ts, is-purchase, event_id) order inside each
    * micro-batch: clicks at the same micros overwrite in event-id order,
    * reproducing the batch side's max-click-id tiebreak, and a click
    * sharing a purchase's micros sorts BEFORE it (batch matches
    * `c_us <= p_us`, so a same-instant click IS attributable — event-id
    * order alone would miss it whenever the click's id is higher). Same cross-batch contract as
    * the transition stream: per-user arrival is ts-monotone across
    * batches (replayable log). Non-click/purchase event types flow
    * through as no-ops, so the raw stream needs no pre-filter.
    */
  def attributionStream(events: org.apache.spark.sql.Dataset[AttrEvent],
      windowSeconds: Long = 3600L)
      : org.apache.spark.sql.Dataset[Attribution] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AttrEvent], state: GroupState[ClickState]) =>
          def us(t: java.sql.Timestamp): Long =
            math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          var st = state.getOption.orNull
          val out = Seq.newBuilder[Attribution]
          it.toSeq.sortBy(e =>
              (us(e.ts), if (e.event_type == "purchase") 1 else 0, e.event_id))
            .foreach { e =>
            e.event_type match {
              case "click" =>
                st = ClickState(e.event_id, us(e.ts))
              case "purchase" =>
                val p = us(e.ts)
                if (st != null && st.micros <= p &&
                    p - st.micros <= windowSeconds * 1000000L)
                  out += Attribution(user, e.event_id, st.clickId,
                    (p - st.micros) / 1000000L)
              case _ => ()
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** A band-key arrival and its per-band verdict for [[lshDedupStream]]. */
  final case class BandArrival(doc_id: Long, micros: Long, g: Int, k: String)
  final case class BandVerdict(doc_id: Long, g: Int, k: String,
      dup: Boolean, first_doc: Long)

  /** Coarse-cell argmin over the broadcast-shape trained centroids as a
    * column over `qv`: `min(struct(dist, cid))` becomes `array_min` over
    * literal-candidate structs with identical (dist, cid) tie-breaks, so
    * a streamed vector lands in exactly the cell the batch assignment
    * (kmAssignPass) gives it.
    */
  private def cellCol(centroids: Seq[(Long, Seq[Double])])
      : org.apache.spark.sql.Column = {
    import graft.functions.ArrayOps
    val cands = centroids.sortBy(_._1).map { case (cid, cv) =>
      struct(
        ArrayOps.sqDistDouble(
          expr("transform(qv, x -> cast(x AS double))"), typedLit(cv))
          .as("dist"),
        lit(cid).as("cid"))
    }
    array_min(array(cands: _*)).getField("cid")
  }

  /** Streaming IVF-PQ index MAINTENANCE: new vectors stream through the
    * TRAINED serve path — coarse-cell assignment (argmin over the K
    * trained centroids) and PQ encoding (per-subspace argmin over the
    * m×K codebook) — producing append-ready index rows
    * `(vec_id, cid, codes BIGINT[8])` without retraining or touching the
    * existing index. Both model artifacts arrive as driver-side values
    * (K- and m·K-bounded — the broadcast-model discipline) and are
    * compiled INTO the expressions, so the whole operator is stateless
    * map-side work: no shuffle, no state store, append mode, and the
    * arithmetic is the SAME ArrayOps folds the batch encoder runs —
    * `min(struct(dist, id))` becomes `array_min` over literal-candidate
    * structs with identical (dist, id) tie-breaks, so a streamed vector
    * gets bit-identically the row a full batch rebuild would give it
    * (the parity invariant IvfPqStreamSpec pins).
    */
  def ivfPqEncodeStream(vecs: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      codebook: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    import graft.functions.ArrayOps
    require(centroids.nonEmpty && codebook.nonEmpty,
      "ivfPqEncodeStream: empty model — train the quantizer/codebook first")
    val q = graft.operators.Similarity.quantizeInt8(vecs)
    val cell = cellCol(centroids)
    val codeCols = (0 until 8).map { j =>
      val sv = expr(
        s"transform(sequence(1, 8), i -> element_at(qv, ${8 * j} + i))")
      val cands = codebook.filter(_._1 == j).sortBy(_._2).map {
        case (_, c, cw) =>
          struct(ArrayOps.sqDistLong(sv, typedLit(cw)).as("dist"),
            lit(c).as("c"))
      }
      array_min(array(cands: _*)).getField("c")
    }
    q.select(col("vec_id"), cell.as("cid"), array(codeCols: _*).as("codes"))
  }

  final case class SemArrival(vec_id: Long, cid: Long, qv: Seq[Long])
  final case class SemVerdict(vec_id: Long, cid: Long, status: String)
  /** Per-cell delegate store: one entry per DISTINCT quantized vector
    * seen, capped — mids/qns are parallel with the ROWS of qvsFlat, the
    * delegate vectors packed row-major into ONE primitive long array
    * (row i = qvsFlat[i*dim, (i+1)*dim), dim = qvsFlat.length / mids
    * .size). Flat-primitive beats the earlier Seq[Seq[Long]] twice over:
    * the encoder writes one UnsafeArrayData instead of re-boxing ~cap*dim
    * longs through a nested traversal on EVERY state commit (r15 profile:
    * ~500 ms/batch at 500 delegates), and the per-arrival scan runs on
    * primitive rows. maxSeen tracks the highest vec_id the cell has
    * processed across batches, making the parity precondition (globally
    * ascending arrival) observable at runtime instead of only assumed.
    */
  final case class SemCellState(mids: Seq[Long], qvsFlat: Array[Long],
      qns: Seq[Double], maxSeen: Long = Long.MinValue)

  /** Arrivals whose vec_id regressed below their cell's max-seen — the
    * runtime signal that semDedupStream's batch-parity assumption was
    * violated (verdicts become first-arrival-wins, not batch min-id).
    * Registered per [[semDedupStream]] call; the latest lives here so
    * operators/specs can read it without a return-type change, and it
    * also surfaces as a named accumulator in the Spark UI.
    */
  @volatile var semDedupOutOfOrder: Option[org.apache.spark.util.LongAccumulator] = None

  /** Streaming SEMANTIC DEDUP — the incremental twin of q_semdedup.
    * Arrivals quantize and coarse-assign statelessly (same trained-model
    * expressions as [[ivfPqEncodeStream]]); then one
    * `flatMapGroupsWithState` per CELL keeps the bounded delegate store
    * the batch collapse proved sufficient: one entry per distinct
    * quantized vector, capped at `cap`. An arrival is dropped iff it
    * exactly matches a stored delegate (its group minimum arrived
    * earlier — cosine 1.0) or sits at cosine ≥ `threshold` from any
    * stored delegate; otherwise kept, and stored while the cell is
    * under cap (dropped delegates store too — in the batch rule a
    * dropped representative still drops later arrivals). State is
    * ≤ cap · dims longs per OCCUPIED cell — the same bound the batch
    * representative cap enforces, so the store cannot grow with
    * duplicate multiplicity, only with distinct-vector count, and never
    * past the cap.
    *
    * Parity (SemDedupStreamSpec): fed in ascending vec_id order, the
    * verdicts equal batch semDedupStatus exactly — first-arrival
    * survivor ≡ min-id survivor, across any micro-batch split, because
    * the delegate store IS the batch delegate frame restricted to the
    * cap lowest mids. Documented divergence beyond cap: an exact
    * duplicate of an UNSTORED delegate (distinct rank > cap) is judged
    * against the stored representatives like its group minimum was,
    * where strict batch semantics would drop it as a non-minimal group
    * member; at the published-recipe operating point (cap provisioned
    * above the distinct cell population) the case is unreachable.
    *
    * The ascending-arrival precondition is ENFORCED OBSERVABLE: each
    * cell tracks its max-seen vec_id across batches, and any regression
    * increments [[semDedupOutOfOrder]] (a named accumulator, visible in
    * the UI) plus a stderr warning — production divergence from batch
    * semantics is signaled, not silent.
    */
  def semDedupStream(vecs: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      threshold: Double = 0.4,
      cap: Int = graft.operators.Similarity.SemDedupCellCap)
      : org.apache.spark.sql.Dataset[SemVerdict] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(centroids.nonEmpty,
      "semDedupStream: empty model — train the coarse quantizer first")
    val oooAcc = vecs.sparkSession.sparkContext
      .longAccumulator("graft.semDedupStream.outOfOrderArrivals")
    semDedupOutOfOrder = Some(oooAcc)
    graft.operators.Similarity.quantizeInt8(vecs)
      .select(col("vec_id"), cellCol(centroids).as("cid"), col("qv"))
      .as[SemArrival]
      .groupByKey(_.cid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cid: Long, it: Iterator[SemArrival], state: GroupState[SemCellState]) =>
          val st = state.getOption
            .getOrElse(SemCellState(Nil, Array.emptyLongArray, Nil))
          val arrivals = it.toSeq.sortBy(_.vec_id)
          val mids = st.mids.toBuffer
          val qns = st.qns.toBuffer
          // quantized dim is constant per model; recover it from the flat
          // state (or the first arrival when the cell is fresh)
          val dim = if (mids.nonEmpty) st.qvsFlat.length / mids.size
                    else arrivals.headOption.map(_.qv.length).getOrElse(0)
          // unpack once per BATCH into primitive rows: the hot scan below
          // is O(delegates * dim) per arrival, and boxed Seq[Seq[Long]]
          // rows cost ~2-3 ms/arrival at 500 delegates (r15 profile)
          val rows = scala.collection.mutable.ArrayBuffer.tabulate(
            mids.size) { i =>
            java.util.Arrays.copyOfRange(st.qvsFlat, i * dim, (i + 1) * dim)
          }
          def dot(a: Array[Long], b: Array[Long]): Long = {
            var s = 0L; var i = 0
            while (i < a.length) { s += a(i) * b(i); i += 1 }; s
          }
          val out = Seq.newBuilder[SemVerdict]
          var maxSeen = st.maxSeen
          var cellOoo = 0L
          // ascending vec_id within the batch: arrival order IS group-min
          // order, the invariant the batch parity rests on. Cross-batch
          // regressions (this batch's ids dipping below a prior batch's
          // max) break that invariant — count + warn, don't silently
          // produce first-arrival-wins verdicts.
          arrivals.foreach { a =>
            if (a.vec_id < maxSeen) cellOoo += 1 else maxSeen = a.vec_id
            val qv = a.qv.toArray
            // dim is constant per trained model, so a mismatched arrival is
            // unreachable today — but the flat repack below would corrupt
            // state silently (shorter row: AIOOBE mid-copy; longer row:
            // truncated delegate) instead of failing here with a cause
            // (r15 ADVICE). Reject at the door.
            require(dim == 0 || qv.length == dim,
              s"semDedupStream cell $cid: arrival ${a.vec_id} has qv dim " +
                s"${qv.length}, cell established dim $dim — mixed-model " +
                "arrivals cannot share a cell's delegate state")
            val qn = math.sqrt(dot(qv, qv).toDouble)
            val exact = rows.indexWhere(java.util.Arrays.equals(_, qv))
            val dropped =
              if (exact >= 0) true // its group minimum is stored: cosine 1.0
              else rows.indices.exists { i =>
                // same arithmetic as the batch pairs frame: exact integer
                // dot, double division (zero norms never occur post-quant,
                // but mirror try_divide: a 0-denominator never drops)
                val den = qns(i) * qn
                den != 0.0 && dot(rows(i), qv).toDouble / den >= threshold
              }
            out += SemVerdict(a.vec_id, cid,
              if (dropped) "dropped" else "kept")
            if (exact < 0 && mids.size < cap) {
              mids += a.vec_id; rows += qv; qns += qn
            }
          }
          if (cellOoo > 0) {
            oooAcc.add(cellOoo)
            System.err.println(s"[semDedupStream] cell $cid: $cellOoo " +
              "arrival(s) below the cell's max-seen vec_id — batch-parity " +
              "precondition violated; verdicts are first-arrival-wins here")
          }
          val flat = new Array[Long](rows.length * dim)
          var ri = 0
          rows.foreach { r => System.arraycopy(r, 0, flat, ri, dim); ri += dim }
          state.update(SemCellState(mids.toSeq, flat, qns.toSeq, maxSeen))
          out.result().iterator
      }
  }

  /** STREAMING LSH NEAR-DUP DETECTION — dedup-at-ingest against all
    * history: each arriving document runs the batch MinHash chain
    * map-side (tokenize → shingle → 16 permutations → 4 band keys;
    * operators.Dedup.bandKeysFor — the exact q_dedup_minhash_pairs
    * banding), then each (band, key) BUCKET keeps one scalar of state:
    * the doc that first claimed it. A later arrival into an occupied
    * bucket is a near-dup candidate (same candidate semantics as the
    * batch LSH pair join — band collision, before any exact verify).
    *
    * Shape: the feature chain is stateless per micro-batch; the only
    * shuffle is groupByKey on the band key, and the sufficient state is
    * ONE doc id per occupied bucket — the streaming form of the batch
    * side's banded inverted index, which is exactly what "have I seen
    * something like this before" costs at 100 TB (the batch twin
    * q_dedup_incremental probes the same index as a static frame).
    * Arrivals inside a micro-batch are processed in (micros, doc_id)
    * order — the batch referee's total order — so stream and batch agree
    * on who claimed each bucket, ties included; across micro-batches
    * arrival order is authoritative, as in every twin above.
    * Emits one verdict per (doc, band); a doc is a near-dup iff ANY of
    * its bands verdicts dup (the consumer's 1-line rollup — kept
    * per-band here so the collision evidence stays inspectable).
    */
  def lshDedupStream(docs: DataFrame)
      : org.apache.spark.sql.Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    graft.operators.Dedup.bandKeysFor(docs, carry = Seq("micros"))
      .as[BandArrival]
      .groupByKey(b => (b.g, b.k))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), it: Iterator[BandArrival],
            state: GroupState[Long]) =>
          var first = state.getOption
          val out = Seq.newBuilder[BandVerdict]
          it.toSeq.sortBy(b => (b.micros, b.doc_id)).foreach { b =>
            first match {
              case None =>
                first = Some(b.doc_id)
                out += BandVerdict(b.doc_id, key._1, key._2,
                  dup = false, first_doc = b.doc_id)
              case Some(f) =>
                out += BandVerdict(b.doc_id, key._1, key._2,
                  dup = true, first_doc = f)
            }
          }
          first.foreach(state.update)
          out.result().iterator
      }
  }
}
