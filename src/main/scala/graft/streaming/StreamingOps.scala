package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.VectorOps
import graft.operators.KMeans.Centroid
import graft.operators.TextAnalysis

/** Structured-Streaming twins of the batch operators.
  *
  * The reference is purely batch-iterative (SURVEY.md §2.9) — these are the
  * beyond-reference streaming surface: continuous assignment of arriving
  * points to fixed centroids (the natural streaming use of a trained model),
  * watermarked windowed aggregation, and stateful sessionization via
  * `flatMapGroupsWithState`.
  */
object StreamingOps {

  /** Continuous nearest-centroid assignment. Stateless map — the centroid
    * set rides as literals exactly like the batch path, so each micro-batch
    * is a shuffle-free narrow stage.
    */
  def assignStream(points: DataFrame, cs: Seq[Centroid]): DataFrame =
    points.withColumn("j",
      graft.plans.native.nearestIdNative(col("Y"), cs.map(_.j), cs.map(_.c)))

  /** Streaming exact dedup (twin of `Dedup.exact`/`TextAnalysis.fingerprint`):
    * arriving docs are fingerprinted with the rolling content hash and
    * re-deliveries of an already-seen fingerprint are dropped while its
    * watermark window is open. `dropDuplicatesWithinWatermark` keys state by
    * fingerprint only — state is bounded by (docs per watermark window), not
    * by stream history, which is what makes continuous dedup viable on an
    * unbounded crawl feed.
    */
  def dedupStream(docs: DataFrame, tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", aggregate(graft.plans.native.token_ids(col("text")),
        lit(0L), (h, x) => (h * 131 + x) % 1000000007L))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming benchmark decontamination (twin of `Dedup.decontaminate`):
    * arriving docs carry their benchmark-overlap count + contamination flag
    * downstream. STATELESS by construction — no aggregation, no
    * stream-stream join: the (small, static) benchmark's distinct shingle
    * ids ride as ONE broadcast array row and each doc probes it per-row via
    * `array_intersect`, so every micro-batch is a narrow stage and the
    * operator composes with the dedup/quality stream stages. Same counts as
    * the batch operator (both sides are distinct id sets). The benchmark
    * set is fixed at query start — eval sets version slowly; restart to
    * rotate.
    */
  def decontaminateStream(docs: DataFrame, benchDocs: DataFrame, n: Int = 3,
      thrNum: Int = 1, thrDen: Int = 10): DataFrame = {
    val ids = graft.plans.native.shingle_ids(col("text"), n)
    val benchArr = benchDocs.select(explode(ids).as("id")).distinct()
      .agg(collect_list(col("id")).as("bench_ids"))
    docs.withColumn("ids", ids)
      .crossJoin(broadcast(benchArr))
      .withColumn("n_shingles", size(col("ids")).cast("long"))
      .withColumn("n_shared",
        size(array_intersect(col("ids"), col("bench_ids"))).cast("long"))
      .withColumn("contaminated",
        (col("n_shared") * thrDen >= col("n_shingles") * thrNum).cast("long"))
      .drop("ids", "bench_ids")
  }

  /** Streaming DSIR scoring (twin of `TextAnalysis.dsirScore`'s scoring
    * half) — the offline-fit / online-apply split of importance-based data
    * selection: the `(token, cnt, cnt_t)` vocabulary is FITTED once over a
    * static corpus (`TextAnalysis.dsirVocab`) and arriving docs score
    * against it. Tokens exploded per doc (ts carried), a stream-STATIC
    * left join on token (stateless — Spark re-reads only matching vocab
    * partitions per micro-batch, no join state), then one watermark-bounded
    * windowed aggregation folds token weights back to a row per doc.
    * Tokens unseen at fit time smooth to weight 0 (`bitlen(1) − bitlen(1)`,
    * the add-one rule), so drift degrades scores gracefully instead of
    * erroring. Same integers as the batch scorer for in-corpus docs —
    * pinned in StreamingSpec.
    */
  def dsirStream(docs: DataFrame, vocab: DataFrame,
      watermark: String = "10 minutes", windowLen: String = "1 hour"): DataFrame = {
    val tok = docs.withWatermark("ts", watermark)
      .select(col("ts"), col("doc_id"),
        explode(graft.operators.Dedup.tokens(col("text"))).as("token"))
    tok.join(vocab, Seq("token"), "left_outer")
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(TextAnalysis.dsirWeight).cast("long").as("dsir_bits"))
      .withColumn("avg_bits_e6",
        round(lit(1e6) * col("dsir_bits") / col("n_tokens")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("dsir_bits"), col("avg_bits_e6"))
  }

  /** Streaming incremental dedup (twin of `Dedup.incrementalDedup`'s
    * corpus-probe half): each arriving doc computes its banded MinHash
    * signatures per-row and LEFT equi-joins the STATIC persisted corpus
    * index — the stream-static join shape, stateless on the stream side;
    * Spark re-reads only matching index buckets per micro-batch and no
    * join state accumulates. Verified partners (≥ thrNum/thrDen matching
    * signatures) fold back to one row per doc via a watermark-bounded
    * windowed aggregation: `dup_of` = min verified corpus partner (null ⇒
    * new), `n_dups` = verified-partner count. Band construction mirrors
    * [[graft.operators.Dedup.bandedSignatures]] exactly (same key format,
    * pinned in StreamingSpec against the same fixture as the batch spec).
    * Delta-vs-delta pairs are the batch operator's job at compaction time —
    * the streaming probe answers "is this a corpus dup?" at ingest.
    */
  def incrementalDedupStream(docs: DataFrame, index: DataFrame, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4, thrNum: Int = 1, thrDen: Int = 2,
      watermark: String = "10 minutes"): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rows = numHashes / bands
    val withSig = docs.withColumn("sig", graft.plans.native.minhash_sigs(
      graft.plans.native.shingle_ids(col("text"), n), numHashes))
    val bandEntries = array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(",", (bnd * rows until (bnd + 1) * rows).map(i =>
          element_at(col("sig"), i + 1)): _*).as("key"))
    }: _*)
    val banded = withSig
      .select(col("doc_id"), col("ts"), col("sig"), explode(bandEntries).as("b"))
      .select(col("doc_id"), col("ts"), col("sig"),
        col("b.band").as("band"), col("b.key").as("key"))
    val idx = index.select(col("doc_id").as("p_id"), col("band").as("p_band"),
      col("key").as("p_key"), col("sig").as("p_sig"))
    val matches = aggregate(zip_with(col("sig"), col("p_sig"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    banded.join(idx,
        col("band") === col("p_band") && col("key") === col("p_key"),
        "left_outer")
      .withColumn("vp", when(col("p_sig").isNotNull &&
        matches * thrDen >= lit(numHashes) * thrNum, col("p_id")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), watermark), col("doc_id"))
      .agg(min(col("vp")).as("dup_of"),
        size(array_distinct(collect_list(col("vp")))).cast("long").as("n_dups"))
      .select(col("doc_id"), col("dup_of"), col("n_dups"))
  }

  /** Streaming ANN probe (twin of `Similarity.ivfTopKIndexed` — the
    * real-time retrieval half of the vector store): each arriving QUERY
    * vector picks its nProbe nearest cells ROW-LOCALLY (the sorted-struct
    * slice — value-identical to the batch window rank, no streaming
    * window needed), stream-static equi-joins the persisted index's
    * matching cell buckets (stateless on the stream side, no join state),
    * and the per-query top-k folds through one watermark-bounded
    * aggregation: collect the (−cos, n_id) structs, array_sort, slice k —
    * the exact (cos DESC, n_id ASC) order of the batch ranking, double
    * negation is bit-exact. Output (q_id, n_id, rnk, cos_e6) matches the
    * batch search row for row (StreamingSpec pins set equality on the
    * same fixture). The ingest half of the same store is
    * `Similarity.ivfTopKDelta`; together: new vectors searchable at
    * landing, new queries answered at arrival, one amortized index.
    */
  def annProbeStream(queries: DataFrame, index: DataFrame,
      centroids: Seq[Centroid], nProbe: Int = 2, k: Int = 10,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.plans.native
    val ids = centroids.map(_.j)
    val cs = centroids.map(_.c)
    val cellArr = slice(
      array_sort(zip_with(typedlit(cs), typedlit(ids),
        (c, j) => struct(VectorOps.sqDist(c, col("qv")).as("d"), j.as("cid")))),
      1, nProbe)
    val probes = queries
      .select(col("ts"), col("q_id"), col("qv"), explode(cellArr).as("x"))
      .select(col("ts"), col("q_id"), col("qv"), col("x.cid").as("cell"))
    val idx = index.select(col("cell").as("i_cell"), col("vec_id"), col("v"))
    val cand = probes.join(idx, col("cell") === col("i_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("ts"), col("q_id"), col("vec_id").as("n_id"),
        (native.dot(col("qv"), col("v")) /
          (sqrt(native.dot(col("qv"), col("qv"))) *
            sqrt(native.dot(col("v"), col("v"))))).as("c"))
    cand.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), watermark), col("q_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("c")).as("negc"), col("n_id")))), 1, k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        round((-col("col.negc")) * 1e6).cast("long").as("cos_e6"))
  }

  /** Watermarked tumbling-window counts per event type (streaming twin of
    * `Events.windowAgg`). Late data beyond 10 minutes is dropped; state is
    * bounded by watermark × type cardinality.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming BM25 ingest scorer — the fit/apply split of lexical
    * retrieval at ingest: the query terms and corpus scalars are FITTED
    * offline (`TextAnalysis.bm25Fit` over the persisted TF index) and every
    * arriving doc scores PER ROW against them — tf of each query term via
    * an array filter over the doc's own tokens, the exact Okapi term
    * arithmetic of the batch scorer (same operation order, so scores are
    * bit-identical for in-corpus docs — pinned in StreamingSpec). ZERO
    * state, zero shuffle: the scorer pipelines with ingest at any rate;
    * ranking/top-k is a downstream rollup when someone needs it.
    */
  def bm25ScoreStream(docs: DataFrame, terms: Seq[(String, Long)],
      nDocs: Long, totalLen: Long, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = graft.operators.Dedup.tokens(col("text"))
    val dl = size(toks).cast("long")
    def tfOf(term: String): Column =
      size(filter(toks, t => t === term)).cast("long")
    val scores = terms.map { case (t, df) =>
      TextAnalysis.bm25TermE6(tfOf(t), lit(df), dl,
        lit(nDocs), lit(totalLen), k1, b) }
    val hits = terms.map { case (t, _) =>
      when(tfOf(t) > 0L, 1L).otherwise(0L) }
    // foldLeft, not reduce: an empty fitted term list legally yields an
    // all-zero scorer instead of empty.reduce throwing at plan build
    docs.select(col("doc_id"), dl.as("dl"),
      hits.foldLeft(lit(0L))(_ + _).as("n_hit"),
      scores.foldLeft(lit(0L))(_ + _).as("score_e6"))
  }

  /** Streaming Gopher gate (twin of `TextAnalysis.gopherGate`): arriving
    * docs evaluate the SAME six per-row rule-prefix conjunctions
    * (`TextAnalysis.gopherPrefixes` — shared code, not a re-derivation),
    * one watermark-bounded windowed aggregation folds them to the prefix
    * counts, and the same funnel unpivot emits six
    * (rule, entered/dropped/survived) rows per closed window — the live
    * ingest-quality dashboard next to the batch corpus census. Per-row
    * flags are stateless; the only state is one 7-long row per open
    * window. Pinned ≡ the batch funnel in StreamingSpec.
    */
  def gopherGateStream(docs: DataFrame, watermark: String = "10 minutes",
      windowLen: String = "1 hour",
      minTokens: Int = TextAnalysis.GopherDefaults.MinTokens,
      maxTokens: Int = TextAnalysis.GopherDefaults.MaxTokens,
      minMeanLen: Int = TextAnalysis.GopherDefaults.MinMeanLen,
      maxMeanLen: Int = TextAnalysis.GopherDefaults.MaxMeanLen,
      minStops: Int = TextAnalysis.GopherDefaults.MinStops,
      minDistinctPpm: Long = TextAnalysis.GopherDefaults.MinDistinctPpm,
      maxTopPpm: Long = TextAnalysis.GopherDefaults.MaxTopPpm,
      maxRep2Ppm: Long = TextAnalysis.GopherDefaults.MaxRep2Ppm): DataFrame = {
    val prefixes = TextAnalysis.gopherPrefixes(minTokens, maxTokens,
      minMeanLen, maxMeanLen, minStops, minDistinctPpm, maxTopPpm,
      maxRep2Ppm)
      .zipWithIndex.map { case (c, i) => sum(c.cast("long")).as(s"p${i + 1}") }
    val agged = docs.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("p0"), prefixes: _*)
      .withColumn("win_us", unix_micros(col("window.start")))
    TextAnalysis.gopherFunnelRows(agged, carry = Seq("win_us"))
  }

  /** Streaming DAU/WAU census — the exact-distinct twin of
    * `Events.activeUsers`: watermark-bounded dedup on (window, user) drops
    * every repeat visit inside the hour bucket, then a windowed count is a
    * plain count of the survivors. Two chained stateful operators (dedup →
    * windowed agg), both expiring with the same watermark, so state is
    * O(distinct users per open window) — the streaming-exact form; swap
    * `approx_count_distinct` in one aggregate when even that state is too
    * much. Emits closed windows (append mode); values pinned ≡ the batch
    * census in StreamingSpec.
    */
  def activeUsersStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(unix_micros(col("w.start")).as("win_us"), col("n_users"))

  /** Streaming mini-batch k-means state (MacQueen-style cumulative update,
    * batch granularity): the driver holds the EXACT sufficient statistic per
    * cluster — cumulative fixed-point coordinate sums `S_j` (longs: exact in
    * any merge order) and counts `N_j` — and the current centroid is always
    * `S_j / (N_j·fxScale)`, falling back to the seed centroid while a
    * cluster is empty. Each micro-batch does ONE assignment pass (literal
    * centroids, shuffle-free) + ONE `vector_sum_long` aggregation — the same
    * per-iteration shapes as the batch fit loop, so the cost per arriving
    * batch is O(batch) work + k·dim driver state regardless of stream
    * history.
    *
    * Feeding the entire dataset as a single first batch reproduces one batch
    * Lloyd step bit-for-bit (pinned in StreamingSpec) — the update rule
    * `c_j = (N_j·c_j + batchSum_j) / (N_j + n_j)` degenerates to the plain
    * batch mean when N_j = 0.
    */
  final class MiniBatchKMeans(initial: Seq[Centroid], dim: Int,
      fxScale: Double = 1e6) extends Serializable {
    private val init = initial.map(c => c.j -> c.c).toMap
    private val sums = scala.collection.mutable.Map.empty[Long, Array[Long]]
    private val counts = scala.collection.mutable.Map.empty[Long, Long]

    def centroids: Seq[Centroid] = initial.map(_.j).sorted.map { j =>
      counts.get(j).filter(_ > 0).map { n =>
        Centroid(j, sums(j).map(_.toDouble / fxScale / n).toSeq)
      }.getOrElse(Centroid(j, init(j)))
    }

    def totalCount: Long = counts.values.sum

    /** Fold one micro-batch of (i, Y) points into the model. */
    def update(batch: DataFrame): Unit = {
      val fx = transform(col("Y"), v => round(v * fxScale).cast("long"))
      val rows = graft.operators.KMeans.assign(batch, centroids)
        .groupBy("j")
        .agg(count(lit(1)).as("n"),
          graft.plans.native.vector_sum_long(fx, dim).as("s"))
        .collect()
      rows.foreach { r =>
        val j = r.getLong(0)
        val s = r.getSeq[Long](2)
        val acc = sums.getOrElseUpdate(j, Array.fill(dim)(0L))
        var d = 0
        while (d < dim) { acc(d) += s(d); d += 1 }
        counts(j) = counts.getOrElse(j, 0L) + r.getLong(1)
      }
    }
  }

  /** Continuous mini-batch fit: every arriving micro-batch refines the
    * model via [[MiniBatchKMeans.update]] through a `foreachBatch` sink.
    * Returns the started query plus the live model (read `model.centroids`
    * any time; k·dim driver state).
    */
  def miniBatchFit(points: DataFrame, initial: Seq[Centroid], dim: Int,
      fxScale: Double = 1e6): (org.apache.spark.sql.streaming.StreamingQuery,
      MiniBatchKMeans) = {
    val model = new MiniBatchKMeans(initial, dim, fxScale)
    val q = points.writeStream
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        model.update(batch.toDF()))
      .start()
    (q, model)
  }

  final case class Ev(user_id: Long, event_id: Long, us: Long)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, dur_us: Long, n_events: Long)

  /** Stateful streaming sessionization (streaming twin of
    * `Events.sessionize`): per-user state tracks the open session; a
    * processing-time timeout closes idle sessions and emits them. State is
    * O(active users).
    *
    * `timeoutMs <= 0` disables the idle-timeout (sessions then only close
    * when a later event exceeds the gap) — used by deterministic tests,
    * since processing-time timeouts keep the micro-batch engine scheduling
    * timer batches and `processAllAvailable` never settles.
    */
  def sessionizeStream(events: Dataset[Ev], gapMinutes: Int = 30,
      timeoutMs: Long = 1000): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(user, s.startUs, s.lastUs - s.startUs, s.n)).toSeq
            state.remove()
            out.iterator
          } else {
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
              cur match {
                case Some(s) if e.us - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = e.us, n = s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.startUs, s.lastUs - s.startUs, s.n)
                  cur = Some(SessionState(e.us, e.us, 1))
                case None =>
                  cur = Some(SessionState(e.us, e.us, 1))
              }
            }
            cur.foreach(state.update)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            closed.reverse.iterator
          }
      }
  }

  final case class EvV(user_id: Long, event_id: Long, us: Long, cents: Long)
  final case class AnomalyOut(event_id: Long, user_id: Long, us: Long,
      n: Long, z_e6: Long)
  final case class AnomalyState(recent: Vector[Long])

  /** Streaming twin of `Events.anomalies`: per-user rolling z-score flags
    * over the previous `lookback` events, evaluated continuously. State is
    * a BOUNDED fixed-point buffer (≤ `lookback` integer cents per user —
    * the design point: O(users · lookback) longs, never stream history).
    *
    * Exactness: the buffer holds the same integer cents the batch frame
    * sums, the scalar mean/variance/z sequence is written in the batch
    * operator's exact IEEE order, and rounding goes through BigDecimal
    * HALF_UP — the same rule as Spark SQL `round` — so stream output ≡
    * batch output row-for-row on in-order delivery (StreamingSpec pins it
    * across micro-batch splits).
    */
  def anomalyStream(events: Dataset[EvV], lookback: Int = 50,
      minHistory: Int = 10, thrE6: Long = 3000000L): Dataset[AnomalyOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[EvV], state: GroupState[AnomalyState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(Vector.empty)
          val out = List.newBuilder[AnomalyOut]
          evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            val n = recent.size
            if (n >= minHistory) {
              var s = 0L; var s2 = 0L
              recent.foreach { c => s += c; s2 += c * c }
              val mean = s.toDouble / 100.0 / n
              val m2 = s2.toDouble / 10000.0 / n
              val sd = math.sqrt(math.max(m2 - mean * mean, 0.0))
              if (sd > 0) {
                val z = (e.cents.toDouble / 100.0 - mean) / sd
                // Spark SQL round()'s exact rule (proven in PlansSpec)
                val zE6 = graft.plans.PairDistStats.roundHalfUp(z * 1e6)
                if (math.abs(zE6) >= thrE6)
                  out += AnomalyOut(e.event_id, user, e.us, n.toLong, zE6)
              }
            }
            recent = (recent :+ e.cents).takeRight(lookback)
          }
          state.update(AnomalyState(recent))
          out.result().iterator
      }
  }

  /** Streaming per-(user, hour) OHLC (twin of `Events.ohlc`): the identical
    * struct-min/max + extremes aggregates under a watermark — state per open
    * (window, user) group is two structs and four scalars regardless of
    * bucket size, expiring with the watermark. Bars emit once closed
    * (append mode); values pinned ≡ the batch compaction in StreamingSpec.
    */
  def ohlcStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val key = struct(unix_micros(col("ts")).as("k"),
      col("event_id").as("e"), col("value").as("v"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(
        min(key).getField("v").as("open"),
        max(key).getField("v").as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("win_us"), col("user_id"),
        round(col("open") * 100).cast("long").as("open_cents"),
        round(col("close") * 100).cast("long").as("close_cents"),
        round(col("high") * 100).cast("long").as("high_cents"),
        round(col("low") * 100).cast("long").as("low_cents"),
        col("n"))
  }

  final case class BotState(n: Long, firstUs: Long, lastUs: Long,
      nFast: Long, minGap: Long)
  final case class BotOut(user_id: Long, n_events: Long, span_us: Long,
      n_fast: Long, min_gap_us: Long, per_hour_x100: Long,
      fast_share_ppm: Long, is_bot: Long)

  /** Streaming twin of `Events.botDetect`: the per-user machine-traffic
    * census maintained continuously. State is FIVE longs per user
    * (count, first/last timestamp, fast-gap count, min gap) — O(1)
    * regardless of stream length; the batch boundary is seamless because
    * the carried `lastUs` chains the inter-event gap exactly like the
    * batch lag window. Each micro-batch re-emits the updated census for
    * the users it touched (latest row per user = current verdict); all
    * divisions are the batch operator's integer fixed-point rules, so the
    * final emission ≡ the batch row (StreamingSpec pins it across splits).
    */
  def botDetectStream(events: Dataset[Ev], minEvents: Int = 20,
      fastGapUs: Long = 1000000L,
      maxPerHourX100: Long = 120000L): Dataset[BotOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[BotState, BotOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[BotState]) =>
          var st = state.getOption
            .getOrElse(BotState(0L, 0L, 0L, 0L, Long.MaxValue))
          evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (st.n > 0) {
              val gap = e.us - st.lastUs
              st = st.copy(
                nFast = st.nFast + (if (gap < fastGapUs) 1L else 0L),
                minGap = math.min(st.minGap, gap))
            }
            st = st.copy(n = st.n + 1,
              firstUs = if (st.n == 0) e.us else st.firstUs,
              lastUs = e.us)
          }
          state.update(st)
          val span = st.lastUs - st.firstUs
          val perHr = if (span > 0) st.n * 360000000000L / span else 0L
          val fastShare =
            if (st.n > 1) st.nFast * 1000000L / (st.n - 1) else 0L
          val isBot = if (st.n >= minEvents &&
            (perHr > maxPerHourX100 || fastShare > 500000L)) 1L else 0L
          Iterator.single(BotOut(user, st.n, span, st.nFast,
            if (st.minGap == Long.MaxValue) -1L else st.minGap,
            perHr, fastShare, isBot))
      }
  }

  final case class LagOut(user_id: Long, event_id: Long, ts_us: Long,
      v_cents: Long, lag1_cents: Option[Long], delta_cents: Option[Long],
      gap_us: Option[Long], roll_sum_cents: Long, n_roll: Long)
  final case class LagState(recent: Vector[(Long, Long)])

  /** Streaming twin of `Events.lagFeatures`: per-user lag/delta/gap and the
    * trailing 3-event rolling sum, evaluated continuously. State is a
    * BOUNDED ring of the previous TWO (ts_us, v_cents) pairs per user —
    * exactly the frame the batch `rowsBetween(-2, 0)` window needs, so
    * state is O(users · 2) longs, never stream history. All-integer
    * arithmetic (cents / µs), so stream output ≡ batch output row-for-row
    * on in-order delivery (StreamingSpec pins it across micro-batch
    * splits); same (ts_us, event_id) tie order as the batch window sort.
    */
  def lagFeaturesStream(events: Dataset[EvV]): Dataset[LagOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LagState, LagOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[EvV], state: GroupState[LagState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(Vector.empty)
          val out = List.newBuilder[LagOut]
          evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            val lag1 = recent.lastOption
            val roll = e.cents + recent.map(_._2).sum
            out += LagOut(user, e.event_id, e.us, e.cents,
              lag1.map(_._2), lag1.map(p => e.cents - p._2),
              lag1.map(p => e.us - p._1),
              roll, recent.size + 1L)
            recent = (recent :+ ((e.us, e.cents))).takeRight(2)
          }
          state.update(LagState(recent))
          out.result().iterator
      }
  }

  final case class TransIn(user_id: Long, event_id: Long, us: Long,
    event_type: String)
  final case class TransOut(user_id: Long, from_type: String, to_type: String,
    us: Long)
  final case class TransState(lastUs: Long, lastType: String)

  /** Streaming twin of `Events.transitions`' pair stage: emits every
    * within-session consecutive `(from_type, to_type)` pair as it happens.
    * State is ONE (ts, type) tuple per user — the only thing the next
    * transition needs — with the same >gap session split as the batch
    * sessionizer, so pairs never bridge sessions. The normalized matrix is
    * a downstream rollup of this pair stream (complete-mode agg or the
    * batch query over the sink); StreamingSpec pins pair counts ≡ the
    * batch matrix across micro-batch splits.
    */
  def transitionsStream(events: Dataset[TransIn],
      gapMinutes: Int = 30): Dataset[TransOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[TransIn], state: GroupState[TransState]) =>
          var last = state.getOption
          val out = List.newBuilder[TransOut]
          evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            last match {
              case Some(s) if e.us - s.lastUs <= gapUs =>
                out += TransOut(user, s.lastType, e.event_type, e.us)
              case _ => () // session break (or first event): no pair
            }
            last = Some(TransState(e.us, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming gap sessions via the built-in `session_window` — the
    * watermarked one-liner twin of [[sessionizeStream]]'s explicit
    * flatMapGroupsWithState form (and of the batch
    * `Events.sessionWindowAgg`). Sessions emit in append mode once the
    * watermark passes their end, so state is bounded by open sessions per
    * watermark window; values match the batch twin row-for-row
    * (StreamingSpec pins it).
    */
  def sessionWindowStream(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"))

  /** Watermarked stream-stream interval join — the attribution join every
    * event pipeline runs continuously (a click pairs with the same user's
    * impressions from the preceding `windowMinutes`). Both sides carry
    * watermarks and the join condition time-bounds BOTH directions, which is
    * exactly what lets Spark expire join state: an impression falls out of
    * state once the click watermark passes its window, so state is O(events
    * per window), never stream history. The join itself is a keyed equi-join
    * on user — the same hash-partitioned shape as the batch twin, applied
    * per micro-batch.
    */
  def intervalJoinStream(impressions: DataFrame, clicks: DataFrame,
      windowMinutes: Int = 10, watermark: String = "20 minutes"): DataFrame = {
    val imp = impressions
      .select(col("user_id").as("i_user"), col("ts").as("i_ts"),
        col("event_id").as("imp_id"))
      .withWatermark("i_ts", watermark)
    val clk = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    imp.join(clk,
        col("i_user") === col("c_user") &&
          col("c_ts") >= col("i_ts") &&
          col("c_ts") <= col("i_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("i_user").as("user_id"), col("imp_id"), col("click_id"),
        col("i_ts"), col("c_ts"))
  }

  final case class Up(doc_id: Long, gen: Long, lang: String)

  /** Streaming latest-wins upsert (twin of `q_upsert`): keyed state holds
    * the winning row per doc; a strictly-better arrival emits an update, a
    * stale or duplicate re-delivery emits nothing. "Better" is the full
    * (gen, lang) order — comparing against the STORED ROW (not just its
    * gen) makes the final winner independent of how deliveries land in
    * micro-batches: equal-gen conflicts converge on the same row whether
    * they arrive together or split. State is O(keys); in production the key
    * state would carry a TTL watermark exactly like [[dedupStream]]'s.
    */
  def upsertLatestStream(updates: Dataset[Up]): Dataset[Up] = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Up, Up](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Up], state: GroupState[Up]) =>
          val best = rows.maxBy(r => (r.gen, r.lang))
          val better = state.getOption.forall(cur =>
            Ordering.Tuple2[Long, String].gt(
              (best.gen, best.lang), (cur.gen, cur.lang)))
          if (better) {
            state.update(best)
            Iterator.single(best)
          } else Iterator.empty
      }
  }

  /** Streaming Bloom ingest gate: probe each arriving document's shingle
    * ids against a STATIC filter (built offline from a blocklist /
    * benchmark corpus — `native.bloom_sketch` collected to k words) and
    * count hits. Stateless per-row projection — the codegen'd
    * [[graft.plans.BloomMightContain]] rides inside a `filter` HOF over
    * the shingles, so the gate costs no state, no watermark, and no join:
    * the O(1)-memory decontamination-at-ingest shape (flags are a
    * SUPERSET of true overlaps — no false negatives, FPs at the filter's
    * design rate; route flagged docs to the exact n-gram check,
    * `dedup_decontaminate`, downstream).
    */
  def bloomGateStream(docs: DataFrame, bloom: Seq[Long],
      mBits: Int = 1024, k: Int = 3, n: Int = 3, minHits: Int = 1): DataFrame = {
    import graft.plans.native
    val ids = native.shingle_ids(col("text"), n)
    val hits = size(filter(ids,
      id => native.bloom_might_contain(typedlit(bloom), id, mBits, k)))
    docs.select(col("doc_id"), hits.cast("long").as("n_hits"))
      .withColumn("flagged", col("n_hits") >= minHits)
  }

  final case class KmvIn(source: String, id: Long)
  final case class KmvState(ids: Vector[Long])
  final case class KmvOut(source: String, n_sketch: Long, kth_min: Long,
      distinct_est: Long)

  /** Streaming KMV (bottom-k) distinct sketch per source — the third
    * streaming sketch next to [[hllStream]] and [[bloomGateStream]]: state
    * is the k smallest distinct ids seen so far (≤ k longs per source,
    * bounded forever), merged per micro-batch by sorted-distinct-take-k —
    * order- and duplicate-insensitive, so the converged state is exactly
    * the batch bottom-k over the same rows regardless of delivery order
    * (pinned in StreamingSpec). Emits the running distinct estimate
    * `(k−1)·P / v_k` (exact below saturation), and the sketch itself stays
    * overlap-composable with every batch KMV
    * ([[graft.operators.Sketches.kmvSourceOverlap]]).
    */
  def kmvStream(rows: Dataset[KmvIn], k: Int = 128): Dataset[KmvOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.source)
      .mapGroupsWithState[KmvState, KmvOut](GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[KmvIn], state: GroupState[KmvState]) =>
          val prev = state.getOption.map(_.ids).getOrElse(Vector.empty)
          val merged = (prev ++ it.map(_.id)).distinct.sorted.take(k)
          state.update(KmvState(merged))
          val n = merged.size.toLong
          val vk = if (merged.nonEmpty) merged.last else 0L
          val est =
            if (n < k || vk <= 0) n // unsaturated sketch saw everything
            else (k - 1).toLong * 1000003L / vk
          KmvOut(source, n, vk, est)
      }
  }

  final case class HllIn(scope: String, id: Long)
  final case class HllState(regs: Array[Byte], seen: Long)
  final case class HllOut(scope: String, n_seen: Long, hll_est: Long,
      v_zero: Long, denom_x2p33: Long)

  /** Streaming HyperLogLog census (twin of q_hll's batch sketch): per-scope
    * register state updated in place each micro-batch, emitting the current
    * estimate. THE streaming-sketch property: state is m = 2^p BYTES per
    * scope — constant, watermark-free, never grows with the stream — and
    * because registers are an order- and duplicate-insensitive max, the
    * final state is bit-identical to the batch [[graft.plans.HllSketch]]
    * aggregate over the same rows regardless of micro-batch splits
    * (pinned in StreamingSpec). Estimate arithmetic mirrors
    * `native.hll_estimate` exactly (same constants, same one-division
    * form).
    */
  def hllStream(rows: Dataset[HllIn], p: Int = 8): Dataset[HllOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val m = 1 << p
    rows.groupByKey(_.scope)
      .mapGroupsWithState[HllState, HllOut](GroupStateTimeout.NoTimeout) {
        (scope: String, it: Iterator[HllIn], state: GroupState[HllState]) =>
          val prev = state.getOption
          val regs = prev.map(_.regs.clone()).getOrElse(new Array[Byte](m))
          var seen = prev.map(_.seen).getOrElse(0L)
          it.foreach { r =>
            val h = graft.plans.HllSketch.hash32(r.id)
            val b = (h & (m - 1)).toInt
            val rho = graft.plans.HllSketch.rho(h >>> p, 32 - p)
            if (rho > regs(b)) regs(b) = rho.toByte
            seen += 1
          }
          state.update(HllState(regs, seen))
          var denom = 0L; var zeros = 0L
          var i = 0
          while (i < m) {
            denom += 1L << (33 - regs(i)); if (regs(i) == 0) zeros += 1
            i += 1
          }
          val alpha =
            if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
            else if (m == 64) 0.709
            else if (m == 32) 0.697
            else 0.673
          val est = math.floor(alpha * m * m * 8589934592.0 / denom + 0.5).toLong
          HllOut(scope, seen, est, zeros, denom)
      }
  }

  final case class FpIn(bucket: Long, canon: String)
  final case class FpState(n: Long, sumH: Long)
  final case class FpOut(bucket: Long, n_rows: Long, sum_h: Long)

  /** Streaming rolling table fingerprint — the streaming twin of
    * `q_fingerprint_ivm`'s delta maintenance: per bucket, state is TWO
    * longs (row count + sum of per-row content hashes `poly_hash_base(
    * canon, 131, 1e9+7)` — the same [[graft.plans.PolyHash.hashBase]]
    * kernel the batch query runs), updated in place each micro-batch.
    * Because the per-bucket hash is a commutative SUM of per-row hashes,
    * the converged state is exactly the batch (cnt, sum_h) aggregate over
    * the same rows regardless of arrival order or micro-batch splits
    * (pinned in StreamingSpec) — the ingest-side table-diff monitor: two
    * replicas match iff every bucket's (n_rows, sum_h) matches.
    */
  def fingerprintStream(rows: Dataset[FpIn]): Dataset[FpOut] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.bucket)
      .mapGroupsWithState[FpState, FpOut](GroupStateTimeout.NoTimeout) {
        (bucket: Long, it: Iterator[FpIn], state: GroupState[FpState]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          var sumH = state.getOption.map(_.sumH).getOrElse(0L)
          it.foreach { r =>
            n += 1
            sumH += graft.plans.PolyHash.hashBase(r.canon, 131L, 1000000007L)
          }
          state.update(FpState(n, sumH))
          FpOut(bucket, n, sumH)
      }
  }

  final case class ClipIn(media_id: Long, payload: Array[Byte])
  final case class FpCensus(fp: Long, n_clips: Long, min_id: Long)

  /** Streaming audio-fingerprint census — the streaming twin of
    * `mm_audio_fingerprint` and the mm family's ingest seam: clips land as
    * binary payloads, the per-clip decode + fingerprint is a STATELESS
    * per-row map (the shared [[graft.operators.Multimodal.audioFp]]
    * kernel — both planes fingerprint identically by construction), and
    * the census keeps two longs of state per distinct fingerprint (count +
    * min id). Both folds are commutative, so the converged state equals
    * the batch census over the same clips regardless of arrival order or
    * micro-batch splits (pinned in StreamingSpec). This is the ingest-side
    * duplicate monitor: an arriving clip is a suspected near-dup iff its
    * fingerprint's census row was already populated. State is
    * O(distinct fingerprints) — bounded by tone shapes, not clips.
    */
  def audioFpStream(clips: Dataset[ClipIn], win: Int = 16): Dataset[FpCensus] = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips.map(c => (graft.operators.Multimodal.audioFp(c.payload, win), c.media_id))
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), FpCensus](GroupStateTimeout.NoTimeout) {
        (fp: Long, it: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          var (n, mn) = state.getOption.getOrElse((0L, Long.MaxValue))
          it.foreach { case (_, id) => n += 1; if (id < mn) mn = id }
          state.update((n, mn))
          FpCensus(fp, n, mn)
      }
  }

  final case class BootIn(event_id: Long, event_type: String, value: Double)
  final case class BootRep(rep: Int, swc: Long, sw: Long)

  /** Streaming twin of [[graft.operators.Events.bootstrapCi]]'s replicate
    * accumulation: the Poisson bootstrap is COMMUTATIVE state by
    * construction — each row's replicate weight is a pure function of
    * `(event_id, rep)` through the SAME shared LCG thresholds the batch
    * form and the oracle read — so the streaming form is a
    * mapGroupsWithState over replicate ids holding exactly `b` state
    * rows (two Longs each) at ANY stream length. Every arrival folds
    * its `w·cents / w` into the running sums and the group emits its
    * updated sums; the CI tail (sorted replicate means, order-statistic
    * band) stays a driver fold over the `b` final emissions, and
    * StreamingSpec pins the final state to the batch query's replicate
    * sums on the same rows.
    */
  def bootstrapStream(events: Dataset[BootIn], conv: String = "purchase",
      b: Int = 32): Dataset[BootRep] = {
    val spark = events.sparkSession
    import spark.implicits._
    import graft.operators.Events._
    events.filter(_.event_type == conv)
      .flatMap { e =>
        val eid = e.event_id % BootLcgM
        val cents = math.round(e.value * 100) // values nonneg: == HALF_UP
        (0 until b).map { rep =>
          val u = (eid * BootLcgA + BootLcgC0 + rep * BootLcgCStep) % BootLcgM
          val w = BootPoissonThresholds.count(_ <= u).toLong
          (rep, w * cents, w)
        }
      }
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), BootRep](GroupStateTimeout.NoTimeout) {
        (rep: Int, it: Iterator[(Int, Long, Long)], state: GroupState[(Long, Long)]) =>
          var (swc, sw) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, dwc, dw) => swc += dwc; sw += dw }
          state.update((swc, sw))
          BootRep(rep, swc, sw)
      }
  }

  final case class Cdc(doc_id: Long, gen: Long, op: String, lang: String)

  /** Streaming CDC apply — the streaming twin of `q_changefeed`'s inverse
    * direction: consume an I/U/D change feed and maintain the live snapshot
    * per key. State is the latest applied op (one row per key); an arrival
    * applies iff its `gen` beats the stored one (ties broken by the full
    * (gen, op, lang) order so re-deliveries and equal-gen conflicts converge
    * on one winner regardless of micro-batch splits, like
    * [[upsertLatestStream]]). Every applied op emits the key's new state —
    * a `D` emits the tombstone, so downstream consumers see deletions; the
    * final snapshot is each key's last emission minus tombstones, which
    * equals applying the same feed in batch (pinned in StreamingSpec
    * against `Joins.mergeInto`). State is O(live keys + tombstones); a
    * production feed would expire tombstones with a timeout watermark.
    */
  def cdcApplyStream(feed: Dataset[Cdc]): Dataset[Cdc] = {
    val spark = feed.sparkSession
    import spark.implicits._
    val ord = Ordering.Tuple3[Long, String, String]
    feed.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Cdc, Cdc](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Cdc], state: GroupState[Cdc]) =>
          val best = rows.maxBy(r => (r.gen, r.op, r.lang))(ord)
          val better = state.getOption.forall(cur =>
            ord.gt((best.gen, best.op, best.lang), (cur.gen, cur.op, cur.lang)))
          if (better) {
            state.update(best)
            Iterator.single(best)
          } else Iterator.empty
      }
  }
}
