package graft.queries

import graft.Tables
import graft.operators.Multimodal
import graft.operators.Checkpoints.CutOps
import GateOps.{flag, refereed}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream and multimodal batteries: batch sessionization (window
  * functions, oracle-verified), Structured Streaming twins (windowed agg
  * + streaming dedup, oracle-verified against their batch equivalents on
  * bounded input; stateful sessions rows-only), and the multimodal
  * binary-column pipeline.
  */
object EventQueries {
  import RelationalQueries.Q

  /** The q158 ingest-volume anomaly monitor, shared with its q311
    * sensitivity gate: per-type daily counts (the only corpus-scale
    * work, one map-side-combinable aggregate), then a trailing-7-day
    * moving z-score over the calendar-bounded day grain. ROWS frame
    * excluding the current day (an anomalous today must not inflate
    * its own baseline); warm-up rows (< 7 trailing days) drop;
    * zero-variance weeks yield z NULL / is_anomaly false.
    */
  private[graft] def volumeAnomaly(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("dt")
      .rowsBetween(-7, -1)
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .withColumn("n_hist", count(col("n")).over(w))
      .filter(col("n_hist") >= 7)
      .withColumn("z",
        when(col("sd") > 0, round((col("n") - col("mu")) / col("sd"), 6)))
      .select(col("event_type"), col("dt"), col("n"),
        round(col("mu"), 6).as("mu"), round(col("sd"), 6).as("sd"),
        col("z"), coalesce(abs(col("z")) > 3, lit(false)).as("is_anomaly"))
      .orderBy("event_type", "dt")
  }

  /** CUSUM changepoint localization over the daily-volume census (Page
    * 1954) — the sequential-detection complement to q158's rolling
    * z-score: a z-score flags single anomalous DAYS, CUSUM accumulates
    * small persistent drift and localizes WHEN a level shift began.
    * The recursion S_t = max(0, S_{t−1} + y_t) is rewritten window-form
    * as S_t = CS_t − min(0, min_{j≤t} CS_j) (both engines replay it
    * with plain windows over the ~30-row/type census — no recursion,
    * no UDF). y is exact milli integers: y_t = 1000·n_t − μ0 − μ0/10
    * with μ0 the first-14-day baseline mean and μ0/10 the slack;
    * threshold h = 2·μ0. A +50% level shift is PLANTED on 'click' from
    * Jan 21 (census-side column op, restated by the oracle); the
    * MonitorSpec law: click must fire by month end, no bystander type
    * ever fires. Corpus-scale work = one map-side daily census.
    */
  private[graft] def cusumChangepoint(events: DataFrame): DataFrame =
    cusumFromCensus(events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("n0")))

  /** The CUSUM tail over a drained (event_type, dt, n0) census — shared
    * by batch q352 and the streaming census twin q356. The census is
    * the only corpus-scale stage; everything below runs over ~30
    * rows/type (plant, baseline, prefix windows).
    */
  private[graft] def cusumFromCensus(census0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = census0
      .withColumn("n",
        when(col("event_type") === "click"
            && col("dt") >= lit("2024-01-21").cast("date"),
          col("n0") + expr("n0 div 2")).otherwise(col("n0")))
    val base = census
      .filter(col("dt") < lit("2024-01-15").cast("date"))
      .groupBy("event_type")
      .agg(expr("(1000 * sum(n)) div count(1)").as("mu0_milli"))
    val wOrd = Window.partitionBy("event_type").orderBy("dt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census.join(broadcast(base), Seq("event_type"))
      .withColumn("y_milli",
        col("n") * 1000L - col("mu0_milli") - expr("mu0_milli div 10"))
      .withColumn("cs", sum("y_milli").over(wOrd))
      .withColumn("s_milli",
        col("cs") - least(min("cs").over(wOrd), lit(0L)))
      .withColumn("fired", col("s_milli") > col("mu0_milli") * 2)
      .select(col("event_type"), col("dt"), col("n"), col("s_milli"),
        col("fired"))
      .orderBy("event_type", "dt")
  }

  val queries: Map[String, Q] = Map(
    // CUSUM drift localization — see `cusumChangepoint`. FULL hash: the
    // whole S-path of every type, every day.
    "q352_cusum_changepoint" -> ((s, dir) =>
      cusumChangepoint(Tables.load(s, dir, "events"))),

    // Streaming twin of q352 — the drift monitor live at the door: the
    // (type, day) census is Complete-mode state (types × days rows,
    // calendar-bounded), the CUSUM tail runs on the drained snapshot
    // (the q281/q330 rollup-on-the-drain shape). Shares q352's oracle.
    "q356_stream_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val census = graft.streaming.EventStreams.readEventsStream(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(count(lit(1)).as("n0"))
      // the drained memory relation self-joins inside the CUSUM tail
      // (census ⋈ baseline); cut its lineage so the two sides carry
      // fresh attribute ids (the in-memory twin of the batch scan)
      cusumFromCensus(graft.streaming.EventStreams
        .runToMemory(census, OutputMode.Complete())
        .cutLineage)
    }),

    // KAPLAN–MEIER survival with right-censoring (the duration
    // statistic a naive mean gets WRONG when the observation window
    // cuts sessions off): spans = per-(user, day) first-to-last-event
    // millis; spans on the final calendar day are right-CENSORED (the
    // window ended, not the session). KM at each span census row:
    // n_risk = spans with t' ≥ t, S(t) = Π_{observed t' ≤ t}
    // (1 − d/n) — computed as exp of an ORDERED cumulative ln-sum over
    // the census (the q79 ln discipline; ROUND(6) absorbs the last
    // ulp), with a −1e18 sentinel when d = n_risk so S hits exactly
    // 0.0 in both engines instead of ln(0). Corpus-scale work = one
    // map-side span aggregate; everything after is census-sized.
    "q362_kaplan_meier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = Tables.load(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("dt"))
        .agg((unix_millis(max("ts")) - unix_millis(min("ts")))
          .as("t_ms"))
      val md = sess.agg(max("dt").as("mdt"))
      val census = sess.crossJoin(broadcast(md))
        .withColumn("obs", when(col("dt") < col("mdt"), 1L)
          .otherwise(0L))
        .groupBy("t_ms")
        .agg(sum("obs").as("d"), sum(lit(1L) - col("obs")).as("c"))
      val total = census.agg(sum(col("d") + col("c")).as("total"))
      val wCum = Window.orderBy("t_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      census.crossJoin(broadcast(total))
        .withColumn("n_risk",
          col("total") - sum(col("d") + col("c")).over(wCum)
            + col("d") + col("c"))
        .withColumn("__ln",
          when(col("d") > 0 && col("d") < col("n_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .when(col("d") > 0, lit(-1e18))
            .otherwise(lit(0.0)))
        .withColumn("surv", round(exp(sum("__ln").over(wCum)), 6))
        .select("t_ms", "d", "c", "n_risk", "surv")
        .orderBy("t_ms")
    }),

    // DIFFERENTIALLY-PRIVATE count release + ε ledger (the governance
    // tail of the k-anon/l-div family): per-cohort event counts plus
    // SEEDED truncated-discrete-Laplace noise (ε = 0.5, sensitivity 1)
    // — reproducible-release practice: the noise is the cohort key's
    // q202-discipline integer hash pushed through a literal ppm CDF
    // ladder both engines share, so the release is bit-deterministic.
    // The ledger admits the release against a 2.0 budget (0.9 spent)
    // and must REFUSE the same request against a 1.3 budget — a
    // refused release emits ZERO rows (REFUSE_BROKEN if any leak,
    // ADMIT_BROKEN if the legal release starved). FULL hash of the
    // released histogram; true counts are never emitted.
    "q357_dp_release" -> ((s, dir) => {
      import graft.operators.Profile
      import s.implicits._
      val cohorts = Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(pmod(col("user_id"), lit(50L)).as("cohort"))
      val priors = Seq(200L, 300L, 400L).toDF("eps_milli")
      def gate(budget: Long) = broadcast(
        Profile.epsilonLedger(priors, 500L, budget)
          .filter(col("admitted")).select(lit(1L).as("__g")))
      val released = Profile.dpCountRelease(cohorts, "cohort", 500L)
      val admitted = released.crossJoin(gate(2000L)).drop("__g")
      val refused = released.crossJoin(gate(1300L)).drop("__g")
      refereed(admitted, "cohort")(
          flag("-2", refused),
          flag("-1", admitted.limit(1).isEmpty))
        .orderBy("cohort")
    }),

    // Poisson-bootstrap confidence intervals in ONE pass (Chamandy et
    // al., "Estimating Uncertainty for Massive Data Streams" — the
    // standard trick when classical resampling would need B corpus
    // passes): every row carries B=32 Poisson(1) weights derived from
    // a positional hash, each replica's count is the weighted sum, and
    // the spread across replicas IS the bootstrap standard error of
    // the per-type event count. Everything before the final sqrt is
    // INTEGER (the Poisson inverse-CDF thresholds are pre-scaled to
    // the h6 hash's 1e6 grid, truncated at 4 — P(>4) ≈ 0.4%), so the
    // replica sums are exact and engine-identical; the fan-out is a
    // map-side sequence explode (×32 narrow rows into a
    // map-side-combinable aggregate — no extra corpus scan, no
    // shuffle beyond the (type, replica) agg).
    "q202_bootstrap_count_se" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), col("event_id"))
      val h6 = pmod(pmod(col("event_id") * lit(1000003L) + col("b") + lit(1L),
        lit(3000000000L)) * lit(2654435761L), lit(1000000L))
      val w = when(h6 < 367879L, 0L).when(h6 < 735758L, 1L)
        .when(h6 < 919698L, 2L).when(h6 < 981011L, 3L).otherwise(4L)
      val reps = ev.withColumn("b", explode(sequence(lit(0L), lit(31L))))
        .withColumn("w", w)
        .groupBy(col("event_type"), col("b"))
        .agg(sum("w").as("nb"))
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      reps.groupBy("event_type")
        .agg(sum("nb").as("sx"), sum(col("nb") * col("nb")).as("sxx"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n"),
          round(col("sx").cast("double") / 32.0, 6).as("boot_mean"),
          round(sqrt((col("sxx").cast("double") -
            col("sx").cast("double") * col("sx") / 32.0) / 31.0), 6)
            .as("boot_se"))
        .orderBy("event_type")
    }),
    // Trailing-24h per-user activity via a time-RANGE window frame
    // (the feature-engineering shape behind rate limits / burst
    // detection). One keyed exchange; the frame's buffered state is
    // bounded by each user's 24h event density, never the history —
    // and because the frame is range-based, peer rows at the same
    // timestamp get identical frames, so the result is deterministic
    // without an ORDER BY tiebreak inside the window. The streaming
    // twin of this query is the watermarked sliding window (q40).
    // Event-type transition matrix (the Markov/Sankey view of user
    // behavior): consecutive events per user in (ts, event_id) order,
    // P(next | current) = pair count / out count. One user-keyed window
    // (bounded by each user's history, never the feed) + a 25-cell
    // aggregate; the probability divides two exact counts, so the 6dp
    // round is digit-stable cross-engine.
    "q142_transition_matrix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      val pairs = steps.groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n_ab"))
      val outs = pairs.groupBy("event_type").agg(sum("n_ab").as("n_a"))
      pairs.join(broadcast(outs), Seq("event_type"))
        .select(col("event_type"), col("next_type"), col("n_ab"), col("n_a"),
          round(col("n_ab") / col("n_a").cast("double"), 6).as("p"))
        .orderBy("event_type", "next_type")
    }),

    // Multimodal near-dup candidates WITHOUT decoding: 256-bin byte
    // histograms (the `ByteHistogram` codegen kernel — one pass over
    // the payload, no media codec) cosine-compared across a bounded
    // sample; byte distributions survive container-level differences a
    // whole-file hash (q35's sha256) cannot. Histogram counts are exact
    // longs, so every dot/norm is integer-exact in double and the gate
    // is digit-for-digit across engines — the oracle rebuilds the
    // histograms from the payload's hex expansion. At corpus scale the
    // histogram pass stays map-side and pairs come from the banded
    // `Multimodal.histogramNearDupPairs` path, whose recall on planted
    // duplicates is gated by q152; this fixture-sized O(n²) exists for
    // the digit-exact DuckDB comparison banding cannot give.
    "q138_media_histogram_pairs" -> ((s, dir) => {
      import graft.expressions.ArrayOps
      val media = Multimodal.toMedia(Tables.load(s, dir, "documents")).toDF()
        .filter(col("doc_id") < 40)
      val h = media.select(col("doc_id"),
        transform(ArrayOps.byteHistogram(col("payload")),
          x => x.cast("double")).as("hv"))
      val a = h.select(col("doc_id").as("id_a"), col("hv").as("ha"))
      val b = h.select(col("doc_id").as("id_b"), col("hv").as("hb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("sim", round(ArrayOps.cosineSim(col("ha"), col("hb")), 6))
        .filter(col("sim") >= 0.99)
        .select(col("id_a"), col("id_b"), col("sim"))
        .orderBy("id_a", "id_b")
    }),

    // BANDED multimodal near-dup recall gate (the q141 composition
    // pattern): plant an exact duplicate of every fixture payload under
    // a shifted id, run the decode-free banded path
    // (`Multimodal.histogramNearDupPairs` = ByteHistogram →
    // hot-band-salted RHP-LSH → exact cosine verify), and emit every
    // planted pair the banding MISSED. Identical payloads give
    // identical histograms, which agree on every sign bit and collide
    // in every band — so the oracle is the EMPTY relation, and any
    // banding/salting/verify bug surfaces as rows in the driver's
    // gate. NULL/empty payloads are excluded: a zero histogram has no
    // cosine direction, so "duplicate of nothing" is not a pair the
    // contract promises (same bound as the oracle, which is empty
    // either way).
    "q152_media_banded_gate" -> ((s, dir) => {
      val shift = 1L << 20
      // Fixture capped at 150 docs: byte histograms of same-language
      // text are all near-aligned, so the 0.99-banded candidate space
      // grows ~quadratically with the cap — and the planted-recall law
      // (identical payloads collide in every band) is equally binding
      // at any non-vacuous size (the q154 referee-fixture rationale).
      val media = Multimodal.toMedia(
          Tables.load(s, dir, "documents")
            .filter(col("text").isNotNull && length(col("text")) > 0 &&
              col("doc_id") < 150))
        .toDF()
      val planted = media.unionAll(
        media.withColumn("doc_id", col("doc_id") + lit(shift)))
      val expected = media.select(col("doc_id").as("id_a"),
        (col("doc_id") + lit(shift)).as("id_b"))
      val found = Multimodal.histogramNearDupPairs(planted, threshold = 0.99)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      expected.join(found, Seq("id_a", "id_b"), "left")
        .filter(col("hit").isNull)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Ordered conversion funnel (view → click → purchase, each stage
    // strictly AFTER the previous stage's first occurrence for that
    // user — the product-analytics query class). Three user-keyed
    // aggregations chained by keyed joins: t_click only counts clicks
    // after the user's first view, t_purchase only purchases after that
    // click. Everything is keyed by user_id — at 100 TB the three
    // aggregations share one hash partitioning (AQE reuses the
    // exchange), and the final summary is a 3-row rollup.
    "q136_funnel" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      // v feeds both the click stage and its own count, c feeds the
      // purchase stage and its count — checkpoint each once (the q72
      // persist-vs-recompute call: the per-user stage tables are
      // strictly smaller than the event scans that build them).
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
        .cutLineage
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
        .cutLineage
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      val counts = v.agg(count(lit(1)).as("nv"))
        .crossJoin(c.agg(count(lit(1)).as("nc")))
        .crossJoin(p.agg(count(lit(1)).as("np")))
      counts.select(explode(array(
          struct(lit(1L).as("stage_no"), lit("view").as("stage"),
            col("nv").as("n_users"), lit(1.0).as("conv_from_prev")),
          struct(lit(2L).as("stage_no"), lit("click_after_view").as("stage"),
            col("nc").as("n_users"),
            round(col("nc") / col("nv").cast("double"), 6).as("conv_from_prev")),
          struct(lit(3L).as("stage_no"), lit("purchase_after_click").as("stage"),
            col("np").as("n_users"),
            round(col("np") / col("nc").cast("double"), 6).as("conv_from_prev"))))
          .as("r"))
        .select(col("r.stage_no").as("stage_no"), col("r.stage").as("stage"),
          col("r.n_users").as("n_users"),
          col("r.conv_from_prev").as("conv_from_prev"))
        .orderBy("stage_no")
    }),

    // Weekly retention cohorts (the growth-analytics matrix): cohort =
    // ISO week of a user's first event; for each (cohort, activity
    // week), distinct active users and the retention fraction of the
    // cohort. Two user-keyed aggregations and one broadcast-sized
    // cohort dim — the fact table never moves twice.
    "q137_retention_cohorts" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val sizes = cohort.groupBy("cohort_wk").agg(count(lit(1)).as("cohort_n"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), Seq("cohort_wk"))
        .select(col("cohort_wk"), col("wk"), col("n_active"), col("cohort_n"),
          round(col("n_active").cast("double") / col("cohort_n"), 6)
            .as("retention"))
        .orderBy("cohort_wk", "wk")
    }),

    "q80_rolling_24h" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0L)
      Tables.load(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_24h"),
          round(sum(col("value")).over(w), 6).as("sum_24h"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // Ingest-volume anomaly detection (the pipeline-health QC every
    // continuously-fed corpus needs: a collapsed crawler or a
    // double-delivered feed shows up as a daily-volume spike/crater
    // long before any content-level signal). Per-type daily counts —
    // ONE map-side-combinable aggregate over the raw feed; that is the
    // only corpus-scale work — then a trailing-7-day moving z-score
    // over the (types × days)-sized day-grain relation, which is
    // BOUNDED by the calendar, not the data, so the per-type window
    // costs nothing at any corpus scale. ROWS (not RANGE) frame
    // excluding the current day: an anomalous today must not inflate
    // its own baseline, and day gaps compress rather than shrink the
    // baseline sample. Warm-up rows (< 7 trailing days) are dropped —
    // their z would be noise — and a zero-variance week yields z NULL
    // with is_anomaly=false (a constant baseline cannot certify a
    // spike size; the threshold is |z| > 3).
    "q158_volume_anomaly" -> ((s, dir) =>
      volumeAnomaly(Tables.load(s, dir, "events"))),

    // Sensitivity gate for the q158 monitor (the q305
    // monitor-of-monitors discipline: a detector that never fires is
    // indistinguishable from a working one on clean data, so PLANT the
    // pathology and require exactly the planted alarm): the latest
    // calendar day's events replicate ×10 — a double-delivered feed —
    // and the monitor re-runs on base and planted. Violations emitted:
    // `spike_missed` for any victim (type, day) the baseline could
    // score (sd > 0 over a full 7-day trailing window) that the
    // planted run does NOT flag, and `bystander_changed` for any
    // non-victim row whose (z, is_anomaly) moved at all — the victim
    // day is the LAST day precisely so the plant cannot leak into any
    // later baseline window. Oracle: the empty relation.
    "q311_volume_sensitivity" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val maxDt = broadcast(ev.agg(max(to_date(col("ts"))).as("victim_dt")))
      val planted = ev.crossJoin(maxDt)
        .withColumn("copies",
          when(to_date(col("ts")) === col("victim_dt"), 10L).otherwise(1L))
        .select(ev.columns.map(col) :+
          explode(sequence(lit(1L), col("copies"))).as("__c"): _*)
        .drop("__c")
      val before = volumeAnomaly(ev)
      val after = volumeAnomaly(planted)
      val j = before.select(col("event_type"), col("dt"),
          col("sd").as("sd_b"), col("z").as("z_b"),
          col("is_anomaly").as("an_b"))
        .join(after.select(col("event_type"), col("dt"),
          col("z").as("z_a"), col("is_anomaly").as("an_a")),
          Seq("event_type", "dt"))
        .crossJoin(maxDt)
      j.filter(col("dt") === col("victim_dt") && col("sd_b") > 0
          && !col("an_a"))
        .select(lit("spike_missed").as("violation"), col("event_type"),
          col("dt"))
        .unionByName(j.filter(col("dt") =!= col("victim_dt") &&
            (!(col("z_a") <=> col("z_b")) || col("an_a") =!= col("an_b")))
          .select(lit("bystander_changed").as("violation"),
            col("event_type"), col("dt")))
        // non-vacuity: if NO victim row was scoreable the gate proved
        // nothing — fail loudly instead of passing silently
        .unionByName(j
          .filter(col("dt") === col("victim_dt") && col("sd_b") > 0)
          .agg(count(lit(1)).as("nv")).filter(col("nv") === 0)
          .select(lit("vacuous").as("violation"),
            lit(null).cast("string").as("event_type"),
            lit(null).cast("date").as("dt")))
        .orderBy("violation", "event_type", "dt")
    }),

    // Gaps-and-islands sessionization (lag + running sum + two aggs).
    "q34_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = Tables.load(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_no", sum("new_sess").over(wSum))
      flagged.groupBy(col("user_id"), col("sess_no"))
        .agg(count(lit(1)).as("n_ev"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_ev").as("n_events"),
          max("n_ev").as("max_session_events"))
        .orderBy("user_id")
    }),

    // CHAT-TRANSCRIPT assembly (multi-turn SFT data from an event log):
    // q34's 30-minute sessions become conversations, each event a turn
    // ("role: type#id", role from the event type), serialized in exact
    // (ts, event_id) order and md5'd — the hash gate certifies the
    // BYTES of every assembled transcript, not just counts — plus an
    // alternation audit (adjacent same-role turns, the thing an SFT
    // formatter must repair). Scale shape: two windows sharing one
    // keyed (user) exchange, then collect_list bounded by session
    // length; no global sort.
    "q332_chat_assembly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables.load(s, dir, "events")
        .withColumn("role",
          when(col("event_type").isin("click", "view"), lit("user"))
            .otherwise(lit("assistant")))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts")))
              > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_no", sum("new_sess").over(wSum))
        .withColumn("turn", concat(col("role"), lit(": "),
          col("event_type"), lit("#"), col("event_id")))
      val wSess = Window.partitionBy(col("user_id"), col("sess_no"))
        .orderBy(col("ts"), col("event_id"))
      e.withColumn("same_role",
          when(lag(col("role"), 1).over(wSess) === col("role"), 1L)
            .otherwise(0L))
        .groupBy(col("user_id"), col("sess_no").as("session_n"))
        .agg(count(lit(1)).as("n_turns"),
          md5(concat_ws("\n",
            transform(array_sort(collect_list(struct(col("ts"),
              col("event_id"), col("turn")))), t => t("turn"))))
            .as("transcript_md5"),
          sum("same_role").as("n_breaks"))
        .orderBy("user_id", "session_n")
    }),

    // LOSS-SPAN annotation over the q332 transcripts (the SFT masking
    // pass: train on assistant turns only): each assistant turn's
    // [start, end) char offsets inside its serialized transcript,
    // derived from an exact cumulative sum of prior turn lengths plus
    // separators. The per-session span list is md5'd in order — the
    // hash gate certifies every offset byte — alongside the masked
    // char budget (what the trainer's loss actually sees).
    "q333_loss_spans" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables.load(s, dir, "events")
        .withColumn("role",
          when(col("event_type").isin("click", "view"), lit("user"))
            .otherwise(lit("assistant")))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts")))
              > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_no", sum("new_sess").over(wSum))
        .withColumn("turn_len", length(concat(col("role"), lit(": "),
          col("event_type"), lit("#"), col("event_id"))).cast("bigint"))
      val wSess = Window.partitionBy(col("user_id"), col("sess_no"))
        .orderBy(col("ts"), col("event_id"))
      // start = prior turn lengths + one '\n' separator per prior turn
      val withOff = e
        .withColumn("turn_idx",
          row_number().over(wSess).cast("bigint"))
        .withColumn("start_c",
          coalesce(sum("turn_len").over(wSess
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            + (col("turn_idx") - 1))
        .withColumn("end_c", col("start_c") + col("turn_len"))
      withOff.filter(col("role") === "assistant")
        .groupBy(col("user_id"), col("sess_no").as("session_n"))
        .agg(count(lit(1)).as("n_asst_turns"),
          sum(col("turn_len")).as("asst_chars"),
          md5(concat_ws(",",
            transform(array_sort(collect_list(struct(col("turn_idx"),
                col("start_c"), col("end_c")))),
              t => concat(t("start_c"), lit("-"), t("end_c")))))
            .as("spans_md5"))
        .orderBy("user_id", "session_n")
    }),

    // Multimodal: binary payload + codegen column-expression features
    // (octet_length / sha2 / fused ByteMean). The batched mapPartitions
    // decoder boundary (`extractFeatures`) computes the same features and
    // is pinned equal in MultimodalSpec — it exists for real codecs, not
    // for stub features that have expression forms.
    "q35_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.toMedia(Tables.load(s, dir, "documents")).toDF()
      Multimodal.featureColumns(media)
        .select(col("doc_id"), col("n_bytes"), col("sha256_hex"),
          round(col("brightness"), 6).as("brightness"))
        .orderBy("doc_id")
    }),

    // Structured Streaming: tumbling event-time window (complete mode).
    "q36_stream_hourly" -> ((s, dir) => EventStreams.hourlyWindowCounts(s, dir)),

    // Structured Streaming: stateful dedup then count.
    "q37_stream_dedup" -> ((s, dir) => EventStreams.streamingDedupCounts(s, dir)),

    // Structured Streaming: flatMapGroupsWithState sessionization
    // (rows-only; batch twin q34 is the oracle-verified equivalent).
    "q38_stream_sessions" -> ((s, dir) => EventStreams.statefulSessionCounts(s, dir)),

    // Structured Streaming: sliding event-time window (each event in 2
    // windows) — oracle is the shifted-buckets batch equivalent.
    "q40_stream_sliding" -> ((s, dir) => EventStreams.slidingWindowCounts(s, dir)),

    // Structured Streaming: stream-static broadcast join (stateless
    // per-micro-batch dim enrichment) + windowed agg — oracle is the
    // batch join+agg.
    "q87_stream_static_join" -> ((s, dir) =>
      EventStreams.streamStaticSegmentCounts(s, dir)),

    // Structured Streaming: incremental dedup against a static history
    // (stateless stream-static ANTI join + in-stream first-occurrence
    // dedup) — the streaming-ingestion twin of q96's batch operator.
    "q99_stream_new_pairs" -> ((s, dir) =>
      EventStreams.streamingNewAgainstHistory(s, dir)),

    // Structured Streaming: per-window distinct-user ESTIMATES from the
    // mergeable HLL sketch (bounded state where exact streaming
    // COUNT(DISTINCT) holds every id), refereed in-query against the
    // batch exact counts — violations emit, the oracle is the empty
    // relation (the q47/q77 referee pattern, streaming edition).
    "q131_stream_distinct_monitor" -> ((s, dir) =>
      EventStreams.streamingDistinctMonitor(s, dir)),

    // Structured Streaming: per-window Misra–Gries heavy-user summaries
    // (m counters of mergeable state per open window where exact
    // streaming top contributors holds every key), refereed in-query
    // against the batch exact counts on the deterministic MG contract —
    // violations emit, the oracle is the empty relation (q131's referee
    // pattern; the batch twin of the summary itself is q154).
    "q155_stream_heavy_hitters" -> ((s, dir) =>
      EventStreams.streamingHeavyHittersMonitor(s, dir)),

    // Streaming PSI drift monitor — q159's streaming twin: per-day PSI
    // of the value distribution vs the static whole-corpus baseline.
    // The stream computes only the watermarked (day, bucket) census;
    // PSI arithmetic is batch-side on the drained model-sized relation.
    // Complete mode ≡ batch on the bounded drain, so the oracle
    // restates the whole computation from the batch table.
    "q161_stream_psi_drift" -> ((s, dir) =>
      EventStreams.streamingPsiDrift(s, dir)),

    // Join-key skew profile — the diagnostic BEFORE choosing a remedy
    // (salt fan-out sizing, AQE skew thresholds, broadcast side):
    // which keys are hot, how much of the table they carry, and the
    // straggler multiplier a shuffle partition holding each would
    // suffer. One key census + bounded top-k + two broadcast scalars
    // (`Profile.keySkewProfile`); the rank window covers only the 5
    // survivors.
    "q171_key_skew_profile" -> ((s, dir) =>
      graft.operators.Profile.keySkewProfile(
        Tables.load(s, dir, "events"), "user_id", 5)),

    // Streaming ingest-volume anomaly (q158's streaming twin): the
    // stream holds only the per-(day, type) census; the trailing
    // z-score runs batch-side on the drained day-grain relation.
    // Shares q158's oracle verbatim (the q153 pattern).
    "q167_stream_volume_anomaly" -> ((s, dir) =>
      EventStreams.streamingVolumeAnomaly(s, dir)),

    // Gap-based session_window aggregation (batch form of the same plan
    // the streaming engine runs; the streaming stateful twin is q38).
    "q41_session_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_ev"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_ev"))
        .orderBy("user_id", "session_start")
    }),

    // Structured Streaming: dedup with watermark-bounded state.
    "q42_stream_dedup_watermark" -> ((s, dir) =>
      EventStreams.dedupWithinWatermarkCounts(s, dir)),

    // Structured Streaming: watermarked stream-stream interval join
    // (clicks × same-user purchases within the preceding hour).
    "q61_stream_interval_join" -> ((s, dir) =>
      EventStreams.streamIntervalJoinPairs(s, dir)),

    // Robust per-type outlier rows: Tukey fences [q1−1.5·IQR,
    // q3+1.5·IQR] from EXACT type-7 quantiles computed on the VALUE
    // CENSUS (`Profile.censusQuantiles`) — where `percentile()` /
    // quantile_cont buffers every value of every group through one
    // reducer, the census pass is a map-side-combinable groupBy sized
    // by DISTINCT values, and the fence table broadcasts back so the
    // fact table is scanned once and never shuffles. The robust
    // complement of q88's z-score flags (fences don't move when the
    // outliers themselves inflate the moments). Fences are 6dp-rounded
    // for presentation only; the filter compares unrounded doubles,
    // mirrored exactly by the oracle.
    "q156_iqr_outliers" -> ((s, dir) => {
      graft.operators.Profile.iqrOutliers(
          Tables.load(s, dir, "events")
            .select("event_type", "event_id", "value"),
          "event_type", "value")
        .select(col("event_type"), col("event_id"), col("value"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
        .orderBy("event_type", "event_id")
    }),

    // Z-score anomaly flags: per-type mean/stddev in ONE map-side-
    // combined aggregation over a handful of groups, broadcast back to
    // the fact — the fact table itself never shuffles. Threshold is
    // applied to the 6-dp-rounded score so both engines compare the
    // same value.
    "q88_zscore_outliers" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val stats = ev.groupBy("event_type").agg(
        avg("value").as("mu"), stddev_samp("value").as("sigma"))
      ev.join(broadcast(stats), "event_type")
        .filter(col("sigma") > 0)
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 2).as("value"), col("z"))
        .orderBy("event_id")
    }),

    // Multimodal frame sampling: chunk binary payloads into fixed-size
    // frames, keep every 2nd (UDTF-shaped explode, fully oracle-checked
    // on frame content via md5).
    "q48_frame_sample" -> ((s, dir) => {
      val media = Multimodal.toMedia(Tables.load(s, dir, "documents")).toDF()
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
        .select(col("doc_id"), col("frame_no"),
          octet_length(col("frame")).cast("bigint").as("n_bytes"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_no")
    }),

    // Sketch-based distinct counting, ERROR-GATED (q77 referee pattern):
    // HLL sketches built per (event_type, month) then merged —
    // demonstrating the mergeability that makes sketches the 100 TB path
    // (pre-aggregate per partition/day, union later; exact countDistinct
    // re-shuffles raw keys every time). The exact distinct plays referee
    // IN the query: any event_type whose merged-sketch estimate misses
    // the exact count by more than 5% relative error is emitted, and the
    // oracle is the EMPTY relation — a sketch-accuracy regression
    // becomes a driver-gate row mismatch (the HLL is hash-deterministic
    // given the data, so the gate is stable). SketchSpec keeps the same
    // contract pinned unit-side.
    "q47_hll_distinct" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val monthly = ev.groupBy(col("event_type"), month(col("ts")).as("m"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val approx = monthly.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      approx.join(exact, Seq("event_type"))
        .withColumn("rel_err", round(
          abs(col("approx_users") - col("exact_users"))
            / col("exact_users"), 6))
        .filter(col("rel_err") > 0.05)
        .select(col("event_type"), col("exact_users"),
          col("approx_users"), col("rel_err"))
        .orderBy("event_type")
    }),

    // Dynamic partition pruning: the fact side is the date-partitioned
    // events layout; the dim side (busier-than-average days) only
    // exists at RUNTIME — no static predicate can reach the fact scan,
    // so Catalyst injects a dynamicpruning subquery filter that reuses
    // the dim broadcast to skip whole day directories. At 100 TB this
    // is the biggest scan lever there is: the plan reads the matching
    // partitions only, verified by PlanSpec on the scan's partition
    // metrics. (A filter the optimizer CAN derive statically — e.g.
    // dt IN (...) — would be constraint-propagated instead and prove
    // nothing.)
    "q65_dpp_busy_days" -> ((s, dir) => {
      val fact = s.read.parquet(Tables.eventsDayLayout(s, dir))
      val daily = Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(count(lit(1)).as("n_day"))
      // Threshold via a window over an empty partitionBy: the dim funnels
      // through ONE WindowExec partition, which is fine at |days| rows
      // and — unlike the scalar-cross-join formulation — keeps the
      // selective filter inside a join-free dim subtree, the shape
      // Catalyst's DPP rule requires before it will inject the pruning
      // subquery (a Filter above a cross join is not recognized as a
      // partition-pruning filter; verified empirically).
      import org.apache.spark.sql.expressions.Window
      val busy = daily
        .withColumn("avg_n", avg("n_day").over(Window.partitionBy()))
        .filter(col("n_day") > col("avg_n"))
        .select("dt")
      fact.join(broadcast(busy), "dt")
        .groupBy("dt")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("dt")
    }),

    // Skew-safe two-phase (salted) aggregation — semantics equal a plain
    // GROUP BY, which is exactly what the oracle checks.
    "q39_salted_agg" -> ((s, dir) => {
      val salted = Tables.load(s, dir, "events")
        .withColumn("salt", pmod(col("event_id"), lit(8)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum("value").as("ps"))
      salted.groupBy(col("event_type"))
        .agg(sum("pn").as("n"), round(sum("ps"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // k-anonymity release (k = 5) — the privacy gate on an event log
    // before it leaves the trust boundary: the quasi-identifier
    // (event_type, hour-of-day) is released only for groups with ≥ k
    // members; smaller groups generalize the hour to '*', and if even
    // the generalized rollup stays under k it suppresses into the
    // global ('*','*') cell, so no released row ever describes fewer
    // than k events. Cost is ONE map-side-combinable aggregation over
    // the corpus; the generalize/suppress passes run on the already
    // |QI|-sized frame (≤ types×24 rows), so row-level data shuffles
    // exactly once at any scale.
    "q246_k_anonymity" -> ((s, dir) => {
      val census = Tables.load(s, dir, "events")
        .select(col("event_type"), hour(col("ts")).cast("bigint").as("hour_key"))
        .groupBy("event_type", "hour_key").agg(count(lit(1)).as("n"))
      graft.operators.Profile
        .kAnonymityRelease(census, "event_type", "hour_key", k = 5L)
        .orderBy("anon_level", "event_type", "hour_key")
    }),

    // l-diversity audit over the q246 release — the second privacy bar:
    // k-anonymity bounds re-identification, but a released cell whose
    // members all share one SENSITIVE value (user_id mod 8 here stands
    // in for the sensitive attribute) still leaks it; distinct-l
    // diversity demands ≥ l sensitive values per released cell. The
    // audit reproduces q246's release plan at row granularity by
    // classifying the (QI, sens)-extended census — every pass after
    // the ONE corpus aggregation is census-sized (≤ types×24×8 rows),
    // and a generalized/suppressed cell's diversity counts distinct
    // sens across everything merged into it, exactly as an attacker
    // would see the published table.
    "q291_l_diversity" -> ((s, dir) => {
      val ext = Tables.load(s, dir, "events")
        .select(col("event_type"),
          hour(col("ts")).cast("bigint").as("hour_key"),
          (col("user_id") % 8).as("sens"))
        .groupBy("event_type", "hour_key", "sens")
        .agg(count(lit(1)).as("n"))
      graft.operators.Profile.lDiversityAudit(ext, "event_type",
        "hour_key", "sens", k = 5L, l = 3L)
    }),

    // Late-data / watermark audit — the question every Structured
    // Streaming deployment must answer BEFORE picking a watermark:
    // how many events would a delay of d drop? An event is late-by-d
    // when the running event-time high-water mark over all PRIOR
    // arrivals (arrival order = event_id) exceeds its own timestamp by
    // more than d. The running max is the house two-phase prefix
    // shape, NOT a whole-corpus window: 64 arrival bins → per-bin max
    // (map-side) → exclusive prefix over the 64-row census → row-level
    // combine with a within-bin window (partitions are bins, 1/64th of
    // the corpus each — the q125 exactRank geometry). Everything is
    // integer microseconds (unix_micros ↔ epoch_us).
    "q296_late_data_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
      val mx = broadcast(ev.agg(max("event_id").as("mid")))
      val binned = ev.crossJoin(mx)
        .withColumn("bin", expr("event_id div (mid div 64 + 1)"))
      val binCensus = binned.groupBy("bin").agg(max("tus").as("bmax"))
      val wPref = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val pref = binCensus
        .withColumn("pmax", max("bmax").over(wPref))
        .select("bin", "pmax")
      val wIn = Window.partitionBy("bin").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val hr = 3600L * 1000000L
      binned.join(broadcast(pref), Seq("bin"))
        .withColumn("wmax", max("tus").over(wIn))
        .withColumn("run_prior",
          greatest(coalesce(col("pmax"), lit(Long.MinValue)),
            coalesce(col("wmax"), lit(Long.MinValue))))
        .withColumn("disorder_us",
          greatest(lit(0L), when(col("run_prior") === Long.MinValue, 0L)
            .otherwise(col("run_prior") - col("tus"))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("disorder_us") > hr, 1L).otherwise(0L))
            .as("n_late_1h"),
          sum(when(col("disorder_us") > 6 * hr, 1L).otherwise(0L))
            .as("n_late_6h"),
          sum(when(col("disorder_us") > 24 * hr, 1L).otherwise(0L))
            .as("n_late_24h"),
          max("disorder_us").as("__mdu"))
        .withColumn("max_disorder_sec", expr("__mdu div 1000000"))
        .drop("__mdu")
        .orderBy("event_type")
    }),

    // Streaming twin of q291: the (QI, sens)-extended census maintains
    // in Complete mode (the q251 discipline — census-sized state), the
    // release-plan replay and diversity rollup run on the drained
    // snapshot via the SHARED Profile.lDiversityAudit. Bounded drain ≡
    // batch; shares q291's oracle.
    "q293_stream_l_diversity" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val census = graft.streaming.EventStreams.readEventsStream(s, dir)
        .select(col("event_type"),
          hour(col("ts")).cast("bigint").as("hour_key"),
          (col("user_id") % 8).as("sens"))
        .groupBy("event_type", "hour_key", "sens")
        .agg(count(lit(1)).as("n"))
      val drained = graft.streaming.EventStreams.runToMemory(census,
        OutputMode.Complete())
      graft.operators.Profile.lDiversityAudit(drained, "event_type",
        "hour_key", "sens", k = 5L, l = 3L)
    }),

    // Streaming twin of q246: the corpus-scale census maintains as a
    // streaming aggregation (Complete mode — the same QI-sized state a
    // deployed monitor holds), and the generalize/suppress release
    // plan applies to each drained census snapshot, exactly how a
    // privacy dashboard republishes per micro-batch via foreachBatch.
    // Bounded drain ≡ batch; shares q246's oracle.
    "q251_stream_k_anonymity" -> ((s, dir) =>
      EventStreams.streamingKAnonymity(s, dir)
        .orderBy("anon_level", "event_type", "hour_key"))
  )

  /** Shared oracle CTE: per-user 30-min-gap sessions with per-session
    * event counts (consumed by both q34 and its streaming twin q38).
    */
  private val sessionCte =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | numbered AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      |  FROM flagged),
      | sess AS (
      |  SELECT user_id, sess_no, COUNT(*) AS n_ev FROM numbered GROUP BY 1,2)""".stripMargin

  /** The full per-user sessionization contract — one query, two keys:
    * q34 (batch) and q38 (streaming twin on the bounded drain) must
    * satisfy the SAME oracle, so they share the literal SQL.
    */
  private val sessionSql = sessionCte +
    """
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
      |  CAST(MAX(n_ev) AS BIGINT) AS max_session_events
      |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q158 (batch) and q167 (streaming drain ≡ batch): the
    * trailing-7-day moving z-score over per-type daily counts.
    */
  private val volumeAnomalyOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS dt, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      | st AS (
      |  SELECT event_type, dt, n,
      |    AVG(n) OVER w AS mu,
      |    STDDEV_SAMP(n) OVER w AS sd,
      |    COUNT(n) OVER w AS n_hist
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY dt
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, dt, n, ROUND(mu, 6) AS mu, ROUND(sd, 6) AS sd,
      |  CASE WHEN sd > 0 THEN ROUND((n - mu) / sd, 6) END AS z,
      |  COALESCE(abs(CASE WHEN sd > 0 THEN ROUND((n - mu) / sd, 6) END) > 3,
      |    FALSE) AS is_anomaly
      |FROM st WHERE n_hist >= 7
      |ORDER BY event_type, dt""".stripMargin

  /** Shared by q352 (batch) and q356 (streaming census twin):
    * the window-form CUSUM restated over the same planted census —
    * the max-recursion identity S = CS − min(0, prefix-min CS)
    * holds in both engines with plain windows.
    */
  private lazy val cusumOracle =
    """WITH c0 AS (SELECT event_type, CAST(ts AS DATE) AS dt,
        |     CAST(COUNT(*) AS BIGINT) AS n0 FROM events GROUP BY 1, 2),
        | c AS (SELECT event_type, dt,
        |     CASE WHEN event_type = 'click' AND dt >= DATE '2024-01-21'
        |       THEN n0 + n0 // 2 ELSE n0 END AS n FROM c0),
        | b AS (SELECT event_type,
        |     CAST((1000 * SUM(n)) // COUNT(*) AS BIGINT) AS mu0
        |   FROM c WHERE dt < DATE '2024-01-15' GROUP BY 1),
        | j AS (SELECT c.event_type, c.dt, c.n, b.mu0,
        |     1000 * c.n - b.mu0 - b.mu0 // 10 AS y
        |   FROM c JOIN b USING (event_type)),
        | w AS (SELECT *, SUM(y) OVER (PARTITION BY event_type
        |     ORDER BY dt) AS cs FROM j),
        | s AS (SELECT *, cs - LEAST(MIN(cs) OVER (PARTITION BY event_type
        |     ORDER BY dt), 0) AS s_milli FROM w)
        |SELECT event_type, dt, n, CAST(s_milli AS BIGINT) AS s_milli,
        |  s_milli > 2 * mu0 AS fired
        |FROM s ORDER BY event_type, dt""".stripMargin

  /** The released histogram restated with the SAME literal noise
    * ladder the engine baked into its plan — no ADMIT/REFUSE rows.
    */
  private lazy val dpReleaseOracle = {
    val cases = graft.operators.Profile.dpNoiseLadderPpm(500L)
      .map { case (thr, k) => s"WHEN u < $thr THEN ($k)" }
      .mkString(" ")
    s"""WITH c AS (SELECT user_id % 50 AS cohort,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       | h AS (SELECT cohort, n,
       |    ((cohort * 1000003 + 7) % 3000000000) * 2654435761 % 1000000
       |      AS u FROM c)
       |SELECT CAST(cohort AS BIGINT) AS cohort,
       |  CAST(GREATEST(0, n + CASE $cases END) AS BIGINT) AS released
       |FROM h ORDER BY cohort""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q357_dp_release" -> dpReleaseOracle,
    // The same census KM: ordered cumulative ln-sum, −1e18 sentinel at
    // d = n_risk (exp underflows to exactly 0.0 in both engines).
    "q362_kaplan_meier" ->
      """WITH sess AS (SELECT user_id, CAST(ts AS DATE) AS dt,
        |    epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS t_ms
        |  FROM events GROUP BY 1, 2),
        | m AS (SELECT MAX(dt) AS mdt FROM sess),
        | mk AS (SELECT t_ms,
        |    CASE WHEN dt < m.mdt THEN 1 ELSE 0 END AS obs FROM sess, m),
        | c AS (SELECT t_ms, CAST(SUM(obs) AS BIGINT) AS d,
        |    CAST(SUM(1 - obs) AS BIGINT) AS c FROM mk GROUP BY 1),
        | t AS (SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM c),
        | w AS (SELECT c.*, t.total,
        |    SUM(d + c) OVER (ORDER BY t_ms) AS cum FROM c, t),
        | r AS (SELECT *, total - cum + d + c AS n_risk FROM w),
        | s AS (SELECT *, ROUND(EXP(SUM(
        |    CASE WHEN d > 0 AND d < n_risk
        |      THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
        |    WHEN d > 0 THEN -1e18 ELSE 0 END)
        |    OVER (ORDER BY t_ms)), 6) AS surv FROM r)
        |SELECT CAST(t_ms AS BIGINT) AS t_ms, d, c,
        |  CAST(n_risk AS BIGINT) AS n_risk, surv
        |FROM s ORDER BY t_ms""".stripMargin,
    // Integer replica sums (pre-scaled inverse-CDF thresholds on the
    // 1e6 hash grid), exact in both engines; one sqrt at the end.
    "q202_bootstrap_count_se" ->
      """WITH r AS (SELECT event_type, event_id,
        |    unnest(range(0, 32)) AS b FROM events),
        | w AS (SELECT event_type, b,
        |    (((event_id * 1000003 + b + 1) % 3000000000) * 2654435761)
        |      % 1000000 AS h6 FROM r),
        | wt AS (SELECT event_type, b,
        |    CASE WHEN h6 < 367879 THEN 0 WHEN h6 < 735758 THEN 1
        |         WHEN h6 < 919698 THEN 2 WHEN h6 < 981011 THEN 3
        |         ELSE 4 END AS w FROM w),
        | nb AS (SELECT event_type, b, CAST(SUM(w) AS BIGINT) AS nb
        |   FROM wt GROUP BY 1, 2),
        | st AS (SELECT event_type, CAST(SUM(nb) AS BIGINT) AS sx,
        |    CAST(SUM(nb * nb) AS BIGINT) AS sxx FROM nb GROUP BY 1),
        | ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |   FROM events GROUP BY 1)
        |SELECT st.event_type, ex.n,
        |  ROUND(CAST(sx AS DOUBLE) / 32.0, 6) AS boot_mean,
        |  ROUND(SQRT((CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * sx / 32.0) / 31.0), 6) AS boot_se
        |FROM st JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,
    "q142_transition_matrix" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        | p AS (SELECT event_type, next_type,
        |         CAST(COUNT(*) AS BIGINT) AS n_ab
        |       FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
        | o AS (SELECT event_type, CAST(SUM(n_ab) AS BIGINT) AS n_a
        |       FROM p GROUP BY 1)
        |SELECT p.event_type, p.next_type, p.n_ab, o.n_a,
        |  ROUND(p.n_ab / CAST(o.n_a AS DOUBLE), 6) AS p
        |FROM p JOIN o USING (event_type)
        |ORDER BY event_type, next_type""".stripMargin,
    // Rebuilds the 256-bin histograms from the payload's hex expansion
    // (encode(text) is exactly the kernel's input bytes); all cosine
    // arithmetic is integer-exact, so the 6dp round is formality.
    "q138_media_histogram_pairs" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 40),
        | b AS (SELECT doc_id, unnest(list_transform(range(0, n),
        |    i -> 16 * (strpos('0123456789ABCDEF',
        |           substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
        |       + (strpos('0123456789ABCDEF',
        |           substr(hx, CAST(2*i+2 AS INT), 1)) - 1))) AS byte
        |  FROM m),
        | hist AS (SELECT doc_id, byte, CAST(COUNT(*) AS DOUBLE) AS c
        |          FROM b GROUP BY 1, 2),
        | nrm AS (SELECT doc_id, sqrt(SUM(c * c)) AS nn FROM hist GROUP BY 1),
        | p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |         SUM(a.c * b2.c) AS dot
        |       FROM hist a JOIN hist b2
        |         ON a.byte = b2.byte AND a.doc_id < b2.doc_id
        |       GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(dot / (na.nn * nb.nn), 6) AS sim
        |FROM p JOIN nrm na ON p.id_a = na.doc_id
        |  JOIN nrm nb ON p.id_b = nb.doc_id
        |WHERE ROUND(dot / (na.nn * nb.nn), 6) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,
    // q152: planted-duplicate recall through the banded path is exact
    // (identical histograms collide in every band), so the
    // expected-minus-found diff is the empty relation.
    "q152_media_banded_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
        |WHERE FALSE""".stripMargin,
    "q136_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        | c AS (SELECT e.user_id, MIN(e.ts) AS t_click
        |       FROM events e JOIN v ON e.user_id = v.user_id
        |       WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        | p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
        |       FROM events e JOIN c ON e.user_id = c.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |       GROUP BY 1),
        | n AS (SELECT (SELECT COUNT(*) FROM v) AS nv,
        |              (SELECT COUNT(*) FROM c) AS nc,
        |              (SELECT COUNT(*) FROM p) AS np)
        |SELECT stage_no, stage, n_users, conv_from_prev FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_no, 'view' AS stage,
        |    CAST(nv AS BIGINT) AS n_users, 1.0 AS conv_from_prev FROM n
        |  UNION ALL
        |  SELECT 2, 'click_after_view', CAST(nc AS BIGINT),
        |    ROUND(nc / CAST(nv AS DOUBLE), 6) FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase_after_click', CAST(np AS BIGINT),
        |    ROUND(np / CAST(nc AS DOUBLE), 6) FROM n)
        |ORDER BY stage_no""".stripMargin,
    "q137_retention_cohorts" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        | cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1),
        | sizes AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_n
        |           FROM cohort GROUP BY 1),
        | act AS (SELECT c.cohort_wk, ev.wk,
        |           CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active
        |         FROM ev JOIN cohort c ON ev.user_id = c.user_id
        |         GROUP BY 1, 2)
        |SELECT act.cohort_wk, act.wk, act.n_active, sizes.cohort_n,
        |  ROUND(act.n_active / CAST(sizes.cohort_n AS DOUBLE), 6) AS retention
        |FROM act JOIN sizes USING (cohort_wk)
        |ORDER BY cohort_wk, wk""".stripMargin,
    "q131_stream_distinct_monitor" ->
      """SELECT CAST(NULL AS TIMESTAMP) AS window_start,
        |  CAST(NULL AS VARCHAR) AS event_type,
        |  CAST(NULL AS BIGINT) AS est_users,
        |  CAST(NULL AS BIGINT) AS exact_users,
        |  CAST(NULL AS DOUBLE) AS rel_err
        |WHERE FALSE""".stripMargin,
    // quantile_cont and Spark's percentile/censusQuantiles share the
    // type-7 (n−1)·p interpolation, so the unrounded fences agree
    // bit-for-bit and the boundary filter selects the same rows.
    "q156_iqr_outliers" ->
      """WITH q AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.value,
        |  ROUND(q1 - 1.5*(q3-q1), 6) AS lo,
        |  ROUND(q3 + 1.5*(q3-q1), 6) AS hi
        |FROM events d JOIN q USING (event_type)
        |WHERE d.value < q1 - 1.5*(q3-q1) OR d.value > q3 + 1.5*(q3-q1)
        |ORDER BY event_type, event_id""".stripMargin,
    "q155_stream_heavy_hitters" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind,
        |  CAST(NULL AS TIMESTAMP) AS window_start,
        |  CAST(NULL AS VARCHAR) AS user_key,
        |  CAST(NULL AS BIGINT) AS exact_cnt,
        |  CAST(NULL AS BIGINT) AS est_cnt,
        |  CAST(NULL AS BIGINT) AS err
        |WHERE FALSE""".stripMargin,
    "q161_stream_psi_drift" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS dt,
        |    CAST(floor(value / 10.0) AS BIGINT) AS bucket FROM events),
        | bs AS (SELECT bucket, COUNT(*) AS nb FROM e GROUP BY 1),
        | nb AS (SELECT COUNT(*) AS n_base FROM e),
        | cs AS (SELECT dt, bucket, COUNT(*) AS nc FROM e GROUP BY 1, 2),
        | nd AS (SELECT dt, COUNT(*) AS n_day FROM e GROUP BY 1),
        | grid AS (SELECT d.dt, b.bucket
        |   FROM (SELECT DISTINCT dt FROM e) d
        |   CROSS JOIN (SELECT DISTINCT bucket FROM e) b),
        | sh AS (SELECT g.dt,
        |    GREATEST(CAST(COALESCE(bs.nb, 0) AS DOUBLE) / nb.n_base,
        |      1e-6) AS p,
        |    GREATEST(CAST(COALESCE(cs.nc, 0) AS DOUBLE) / nd.n_day,
        |      1e-6) AS q
        |  FROM grid g CROSS JOIN nb
        |  LEFT JOIN bs USING (bucket)
        |  JOIN nd ON g.dt = nd.dt
        |  LEFT JOIN cs ON cs.dt = g.dt AND cs.bucket = g.bucket),
        | t AS (SELECT dt, ROUND(SUM((q - p) * ln(q / p)), 6) AS psi
        |  FROM sh GROUP BY 1)
        |SELECT dt, psi,
        |  CASE WHEN psi < 0.1 THEN 'stable'
        |       WHEN psi < 0.25 THEN 'moderate' ELSE 'action' END AS band
        |FROM t ORDER BY dt""".stripMargin,
    "q47_hll_distinct" ->
      """SELECT CAST(NULL AS VARCHAR) AS event_type,
        |  CAST(NULL AS BIGINT) AS exact_users,
        |  CAST(NULL AS BIGINT) AS approx_users,
        |  CAST(NULL AS DOUBLE) AS rel_err
        |WHERE FALSE""".stripMargin,
    // RANGE INTERVAL PRECEDING is inclusive at the boundary in both
    // engines (Spark rangeBetween(-24h_µs, 0) ≡ ts >= cur - 24h).
    "q80_rolling_24h" ->
      """SELECT user_id, event_id, ts,
        |  COUNT(*) OVER w AS n_24h,
        |  ROUND(SUM(value) OVER w, 6) AS sum_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q158_volume_anomaly" -> volumeAnomalyOracle,
    // The window-form CUSUM restated over the same planted census —
    // the max-recursion identity S = CS − min(0, prefix-min CS) holds
    // in both engines with plain windows.
    "q356_stream_cusum" -> cusumOracle,
    "q352_cusum_changepoint" -> cusumOracle,
    "q167_stream_volume_anomaly" -> volumeAnomalyOracle,
    // Sensitivity gate: a planted ×10 last-day spike must be flagged
    // and nothing else may move — empty.
    "q311_volume_sensitivity" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS DATE) AS dt
        |WHERE FALSE""".stripMargin,
    "q171_key_skew_profile" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n_rows FROM events
        |  GROUP BY 1),
        | t AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM c),
        | top AS (SELECT user_id, n_rows FROM c
        |  ORDER BY n_rows DESC, user_id LIMIT 5)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id)
        |    AS BIGINT) AS rank,
        |  user_id, n_rows,
        |  CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(n_rows * n_keys * 1000000 // total AS BIGINT)
        |    AS vs_mean_ppm
        |FROM top CROSS JOIN t ORDER BY rank""".stripMargin,
    "q34_sessionize" -> sessionSql,
    // q34's session rule + exact-order string_agg; md5 certifies the
    // transcript bytes.
    "q332_chat_assembly" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'user'
        |      ELSE 'assistant' END AS role
        |  FROM events),
        | g AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS sess FROM g),
        | a AS (SELECT *, CASE WHEN LAG(role) OVER (PARTITION BY user_id,
        |      sess ORDER BY ts, event_id) = role THEN 1 ELSE 0 END
        |    AS samerole FROM s)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_n,
        |  CAST(COUNT(*) AS BIGINT) AS n_turns,
        |  md5(string_agg(role || ': ' || event_type || '#'
        |    || CAST(event_id AS VARCHAR), chr(10)
        |    ORDER BY ts, event_id)) AS transcript_md5,
        |  CAST(SUM(samerole) AS BIGINT) AS n_breaks
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The same session/turn arithmetic; spans as start-end strings,
    // aggregated in turn order.
    "q333_loss_spans" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('click', 'view') THEN 'user'
        |      ELSE 'assistant' END AS role,
        |    CAST(length((CASE WHEN event_type IN ('click', 'view')
        |        THEN 'user' ELSE 'assistant' END) || ': ' || event_type
        |      || '#' || CAST(event_id AS VARCHAR)) AS BIGINT) AS turn_len
        |  FROM events),
        | g AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS sess FROM g),
        | o AS (SELECT *,
        |    ROW_NUMBER() OVER ws AS turn_idx,
        |    COALESCE(SUM(turn_len) OVER (PARTITION BY user_id, sess
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + ROW_NUMBER() OVER ws - 1 AS start_c
        |  FROM s WINDOW ws AS (PARTITION BY user_id, sess
        |    ORDER BY ts, event_id))
        |SELECT user_id, CAST(sess AS BIGINT) AS session_n,
        |  CAST(COUNT(*) AS BIGINT) AS n_asst_turns,
        |  CAST(SUM(turn_len) AS BIGINT) AS asst_chars,
        |  md5(string_agg(CAST(start_c AS VARCHAR) || '-'
        |    || CAST(start_c + turn_len AS VARCHAR), ','
        |    ORDER BY turn_idx)) AS spans_md5
        |FROM o WHERE role = 'assistant'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q35_multimodal_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256_hex,
        |  ROUND(CAST((SELECT SUM(x) FROM UNNEST(list_transform(range(1, length(text) + 1),
        |      i -> ascii(substr(text, i, 1)))) AS t(x)) AS DOUBLE) / octet_length(encode(text)), 6)
        |    AS brightness
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q36_stream_hourly" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q37_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Batch equivalent of the bounded drain: pairs first seen after the
    // cutoff, never seen before it.
    "q99_stream_new_pairs" ->
      """WITH hist AS (SELECT DISTINCT user_id, event_type FROM events
        |              WHERE ts < TIMESTAMP '2024-01-03'),
        | fresh AS (SELECT DISTINCT user_id, event_type FROM events
        |           WHERE ts >= TIMESTAMP '2024-01-03'),
        | nw AS (SELECT f.user_id, f.event_type FROM fresh f
        |        ANTI JOIN hist h USING (user_id, event_type))
        |SELECT event_type, COUNT(*) AS n_new_pairs
        |FROM nw GROUP BY 1 ORDER BY 1""".stripMargin,
    // q38: the bounded drain is a single batch (one source file), so the
    // changelog holds exactly one row per key with exact in-order session
    // counts — the full q34 sessionization contract, max_session_events
    // included.
    "q38_stream_sessions" -> sessionSql,
    "q40_stream_sliding" ->
      """WITH x AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS b, event_type, value FROM events),
        | w AS (
        |  SELECT b AS ws, event_type, value FROM x
        |  UNION ALL
        |  SELECT b - INTERVAL '1 hour' AS ws, event_type, value FROM x)
        |SELECT ws AS window_start, event_type, COUNT(*) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM w GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q88_zscore_outliers" ->
      """WITH s AS (
        |  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, ROUND(e.value, 2) AS value,
        |  ROUND((e.value - s.mu) / s.sigma, 6) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE s.sigma > 0
        |  AND ABS(ROUND((e.value - s.mu) / s.sigma, 6)) > 3
        |ORDER BY e.event_id""".stripMargin,
    "q87_stream_static_join" ->
      """SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
        |  c.c_mktsegment AS segment, e.event_type,
        |  COUNT(*) AS n, ROUND(SUM(e.value), 2) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    "q41_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        | numbered AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_ev
        |FROM numbered GROUP BY user_id, sess_no
        |ORDER BY user_id, session_start""".stripMargin,
    "q42_stream_dedup_watermark" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_frame_sample" ->
      // DuckDB has no BLOB slicing; the corpus is ASCII so VARCHAR
      // chunks are byte-identical and md5 hashes the same UTF-8 bytes.
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER) AS nf
        |  FROM documents),
        | f AS (
        |  SELECT doc_id, CAST(x AS BIGINT) AS frame_no,
        |    substring(text, CAST(x AS INTEGER) * 64 + 1, 64) AS frame
        |  FROM m, UNNEST(range(GREATEST(nf, 1))) AS t(x)
        |  WHERE x % 2 = 0)
        |SELECT doc_id, frame_no,
        |  CAST(octet_length(encode(frame)) AS BIGINT) AS n_bytes,
        |  md5(frame) AS frame_md5
        |FROM f ORDER BY 1,2""".stripMargin,
    "q39_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q65_dpp_busy_days" ->
      """WITH m AS (
        |  SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS n_day
        |  FROM events GROUP BY 1)
        |SELECT e.dt, COUNT(*) AS n, ROUND(SUM(e.value), 2) AS sum_value
        |FROM (SELECT CAST(ts AS DATE) AS dt, value FROM events) e
        |JOIN (SELECT dt FROM m WHERE n_day > (SELECT AVG(n_day) FROM m)) b
        |  USING (dt)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q61_stream_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts - INTERVAL '1 hour'
        | AND p.ts <= c.ts
        |ORDER BY 1, 2""".stripMargin,
    // The k-anonymity contract restated: exact cells at n ≥ 5, the
    // under-k remainder rolled to (type, '*') when that reaches 5,
    // else into the global ('*','*') cell. SUM widenings cast back.
    // The streaming twin q251 drains to the identical relation.
    "q246_k_anonymity" -> kAnonymityOracle,
    "q251_stream_k_anonymity" -> kAnonymityOracle,

    // The release plan replayed over the (QI, sens)-extended census;
    // diversity counted across whatever merges into each released cell.
    // The streaming twin q293 drains the same census (shared audit).
    "q291_l_diversity" -> lDiversityOracle,
    "q293_stream_l_diversity" -> lDiversityOracle,

    // The running high-water mark restated as one arrival-ordered
    // window (the oracle may be single-partition; the ENGINE's
    // two-phase shape is what the scale discipline binds).
    "q296_late_data_audit" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tus
        |  FROM events),
        | r AS (SELECT event_type, tus,
        |    MAX(tus) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS run_prior
        |  FROM e),
        | d AS (SELECT event_type,
        |    CASE WHEN run_prior IS NULL OR run_prior < tus THEN 0
        |      ELSE run_prior - tus END AS disorder_us
        |  FROM r)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN disorder_us > 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_1h,
        |  CAST(SUM(CASE WHEN disorder_us > 21600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_6h,
        |  CAST(SUM(CASE WHEN disorder_us > 86400000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_24h,
        |  CAST(MAX(disorder_us) // 1000000 AS BIGINT) AS max_disorder_sec
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin
  )

  private lazy val lDiversityOracle =
      """WITH ext AS (SELECT event_type,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_key,
        |    user_id % 8 AS sens, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        | cell AS (SELECT event_type, hour_key, CAST(SUM(n) AS BIGINT)
        |     AS cn FROM ext GROUP BY 1, 2),
        | gen AS (SELECT event_type, CAST(SUM(cn) AS BIGINT) AS gn
        |   FROM cell WHERE cn < 5 GROUP BY 1),
        | cls AS (SELECT cell.event_type, cell.hour_key,
        |     CASE WHEN cell.cn >= 5 THEN 'exact'
        |       WHEN COALESCE(gen.gn, 0) >= 5 THEN 'generalized'
        |       ELSE 'suppressed' END AS level
        |   FROM cell LEFT JOIN gen ON gen.event_type = cell.event_type),
        | st AS (SELECT CAST(COALESCE(SUM(cell.cn), 0) AS BIGINT) AS st
        |   FROM cls JOIN cell ON cls.event_type = cell.event_type
        |     AND cls.hour_key = cell.hour_key
        |   WHERE cls.level = 'suppressed'),
        | rel AS (SELECT cls.level AS anon_level,
        |     CASE WHEN cls.level = 'suppressed' THEN '*'
        |       ELSE ext.event_type END AS event_type,
        |     CASE WHEN cls.level = 'exact' THEN CAST(ext.hour_key
        |       AS VARCHAR) ELSE '*' END AS hour_key,
        |     ext.sens, ext.n
        |   FROM ext JOIN cls ON cls.event_type = ext.event_type
        |     AND cls.hour_key = ext.hour_key
        |   CROSS JOIN st
        |   WHERE cls.level <> 'suppressed' OR st.st >= 5)
        |SELECT anon_level, event_type, hour_key,
        |  CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT sens) AS BIGINT) AS n_sens,
        |  COUNT(DISTINCT sens) >= 3 AS l_ok
        |FROM rel GROUP BY 1, 2, 3
        |ORDER BY anon_level, event_type, hour_key""".stripMargin

  private lazy val kAnonymityOracle =
    """WITH g AS (SELECT event_type,
      |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hh,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      | sm AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n
      |   FROM g WHERE n < 5 GROUP BY 1),
      | ex AS (SELECT 'exact' AS anon_level, event_type,
      |    CAST(hh AS VARCHAR) AS hour_key, n FROM g WHERE n >= 5),
      | gn AS (SELECT 'generalized' AS anon_level, event_type,
      |    '*' AS hour_key, n FROM sm WHERE n >= 5),
      | sp AS (SELECT 'suppressed' AS anon_level, '*' AS event_type,
      |    '*' AS hour_key, CAST(SUM(n) AS BIGINT) AS n
      |   FROM sm WHERE n < 5 HAVING SUM(n) >= 5)
      |SELECT * FROM ex UNION ALL SELECT * FROM gn UNION ALL
      |SELECT * FROM sp
      |ORDER BY anon_level, event_type, hour_key""".stripMargin
}
