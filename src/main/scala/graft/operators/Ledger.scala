package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ack/status ledger, error retry, blocked-key chains, heartbeats,
  * retention cleanup, queue depth — the operational state machinery of
  * the sync, as aggregations over the changelog.
  *
  * Reference semantics: `dbopt/PgOperation.scala:104-113` (batchAck
  * upsert of OK/ERR + retry counter), `sync/ErrorResolver.scala:47-88`
  * (bounded retry), `sync/QueueManager.scala:32-55` +
  * `sync/BlockedHandler.scala` (later changes of a key blocked behind an
  * unresolved earlier failure), `sync/StateManger.scala` /
  * `sync/ComponentManager.scala` (heartbeats), `job/CleanWorker.scala`
  * (dataKeepHours retention), `monitor/Endpoints.scala` SyncState
  * (pending/blocked/error/success counts).
  */
object Ledger {
  /** Mirrors sysConfig.maxRetry. */
  val MaxRetry = 3

  /** Retention window, mirrors sysConfig.dataKeepHours. */
  val KeepHours = 72L

  /** Heartbeat staleness threshold (seconds). */
  val StaleAfterS = 21600L

  /** Deterministic ack status per change: deletes fail (ERR), every
    * 10th key's updates block (BLK), the rest succeed (OK). Stand-in for
    * the runtime-outcome column the reference writes to
    * sync_data_status. */
  val statusCol: Column =
    when(col("op") === "D", lit("ERR"))
      .when(col("op") === "U" && pmod(col("user_id"), lit(10L)) === 0, lit("BLK"))
      .otherwise(lit("OK"))

  /** Retry counter per change (ERR rows retry 0..4 times). */
  val retryCol: Column =
    when(statusCol === "ERR", pmod(col("event_id"), lit(5L))).otherwise(lit(0L))

  /** Source-db assignment for multi-db state reporting. */
  val dbCol: Column =
    concat(lit("db"), pmod(col("user_id"), lit(3L)).cast("string"))

  /** Ack-ledger rollup: per (part, status) counts + retry stats. */
  def batchAck(changelog: DataFrame): DataFrame =
    changelog
      .withColumn("status", statusCol)
      .withColumn("retry", retryCol)
      .groupBy("part", "status")
      .agg(
        count(lit(1)).as("n"),
        sum("retry").as("sum_retry"),
        max("retry").as("max_retry"))

  /** SyncState per source db: pending (unpolled) + per-status counts of
    * polled changes. Mirrors `monitor/Endpoints.scala` SyncState. */
  def syncState(changelog: DataFrame): DataFrame = {
    val polled = ChangeLog.polledCol
    changelog
      .withColumn("status", statusCol)
      .groupBy(dbCol.as("db"))
      .agg(
        count(when(!polled, 1)).as("pending"),
        count(when(polled && col("status") === "BLK", 1)).as("blocked"),
        count(when(polled && col("status") === "ERR", 1)).as("error"),
        count(when(polled && col("status") === "OK", 1)).as("success"),
        lit(0L).as("others"))
  }

  /** Alert rule evaluation over syncState — mirrors
    * `monitor/SelfMonitor.scala` threshold checks. */
  def monitorAlerts(changelog: DataFrame): DataFrame = {
    val alert =
      when(col("error") > 10, lit("ERR_HIGH"))
        .when(col("pending") > 400, lit("PENDING_HIGH"))
        .when(col("blocked") > 10, lit("BLOCKED_HIGH"))
        .otherwise(lit("HEALTHY"))
    // action routing mirrors the reference's ActionHandler registry
    // (monitor/{Restart,Email,Webhook}ActionHandler.scala)
    val action =
      when(alert === "ERR_HIGH", lit("restart"))
        .when(alert === "PENDING_HIGH", lit("webhook"))
        .when(alert === "BLOCKED_HIGH", lit("email"))
        .otherwise(lit("none"))
    syncState(changelog).select(
      col("db"), alert.as("alert"), action.as("action"),
      col("pending"), col("blocked"), col("error"), col("success"))
  }

  /** Bounded-retry schedule per partition: eligible (retry < MaxRetry)
    * vs exhausted errors, and the next id each partition worker would
    * retry. */
  def errorRetry(changelog: DataFrame): DataFrame =
    changelog
      .where(statusCol === "ERR")
      .withColumn("retry", retryCol)
      .groupBy("part")
      .agg(
        count(lit(1)).as("n_err"),
        count(when(col("retry") < MaxRetry, 1)).as("n_eligible"),
        count(when(col("retry") >= MaxRetry, 1)).as("n_exhausted"),
        min(when(col("retry") < MaxRetry, col("event_id"))).as("next_retry_id"))

  /** Blocked-key chains: every change of a key that comes strictly after
    * the key's FIRST failed change is blocked until that error resolves.
    * Single window over the key — one hash shuffle, ordered by change
    * order (ems, event_id), exactly the reference's per-key queueing.
    * first_err_eid = min event_id among preceding errors, which IS the
    * first-in-change-order error under the changelog contract that
    * event_id is the change sequence number (monotone in ems; see
    * CdcMerge.lastPerKey). */
  def blockedChain(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ems"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    changelog
      .withColumn("first_err_eid",
        min(when(col("op") === "D", col("event_id"))).over(w))
      .where(col("first_err_eid").isNotNull)
      .groupBy("user_id")
      .agg(
        min("first_err_eid").as("first_err_eid"),
        count(lit(1)).as("n_blocked"))
  }

  /** Blocked→unblocked replay schedule — the `ErrorResolver.resolvedError`
    * → `BlockedHandler` re-enqueue transition
    * (`/root/reference/.../sync/ErrorResolver.scala`,
    * `sync/BlockedHandler.scala`): once a key's FIRST error is resolved
    * (deterministic stand-in: its retry counter `event_id % 5` is under
    * MaxRetry, i.e. the bounded retry eventually succeeded), every
    * change queued behind it replays in original change order. Same
    * single key-shuffle as blockedChain; the replay sequence is a
    * row_number over the already-partitioned, already-sorted rows (no
    * second shuffle). */
  def blockedReplay(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ems"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val seqW = Window.partitionBy("user_id").orderBy(col("ems"), col("event_id"))
    changelog
      .withColumn("first_err_eid",
        min(when(col("op") === "D", col("event_id"))).over(w))
      .where(col("first_err_eid").isNotNull &&
        pmod(col("first_err_eid"), lit(5L)) < MaxRetry)
      .withColumn("replay_seq", row_number().over(seqW).cast("long"))
      .select(col("user_id"), col("event_id"), col("first_err_eid"),
        col("replay_seq"))
  }

  /** Adaptive poll backoff — `sync/DataPoller.scala:60-74`: after each
    * poll the worker sleeps `(batch - polled) / batch · maxPollWait`
    * (full batch ⇒ poll again immediately; empty poll ⇒ full backoff).
    * Modeled per (db, hour) poll cycle over the changelog; integer
    * arithmetic in both engines. The same policy drives the streaming
    * job's trigger interval (streaming.StreamRun). */
  def pollBackoff(changelog: DataFrame, batch: Long = 500L,
                  maxPollWaitMs: Long = 10000L): DataFrame =
    changelog
      .withColumn("hour_s", expr("(ems - ems % 3600000) div 1000"))
      .groupBy(dbCol.as("db"), col("hour_s"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("db"), col("hour_s"), col("n_events"),
        least(col("n_events"), lit(batch)).as("n_polled"),
        expr(s"(($batch - least(n_events, $batch)) * $maxPollWaitMs) div $batch")
          .as("wait_ms"))

  /** Heartbeat staleness per (db, component): GREEN if the component
    * heartbeat is within StaleAfterS of the global clock (max ts).
    * The global max is a 1-row aggregate broadcast back — the scalable
    * form of "now" for a deterministic dataset. */
  def heartbeatState(changelog: DataFrame): DataFrame = {
    val comp = concat(lit("worker-"), col("part").cast("string"))
    val lastPer = changelog
      .groupBy(dbCol.as("db"), comp.as("component"))
      .agg(max("epoch_s").as("last_hb_s"))
    val clock = changelog.agg(max("epoch_s").as("now_s"))
    lastPer
      .join(broadcast(clock))
      .select(
        col("db"), col("component"), col("last_hb_s"),
        when(col("now_s") - col("last_hb_s") <= StaleAfterS, lit("GREEN"))
          .otherwise(lit("RED")).as("hb_status"))
  }

  /** Monitor-tick heartbeat interval (seconds) for
    * [[componentLifecycle]] — the unit `ComponentManager.heartbeatLost`
    * divides by. */
  val HeartbeatIntervalS = 7200L

  /** Supervisor give-up bound for [[componentLifecycle]]. The
    * reference relaunches UNBOUNDEDLY (`DbSyncLauncher.scala:30-40`
    * loops while restartFlag); an operator running this at scale wants
    * a cap, so components restarted more than this are parked. */
  val MaxComponentRestarts = 3L

  /** Base restart backoff (seconds), doubled per restart (capped at
    * 2^6×). */
  val RestartBackoffS = 60L

  /** Restart-action lifecycle per component — the deterministic replay
    * of `monitor/SelfMonitor.scala:46-68` (rule match → ActionHandler)
    * + `monitor/RestartActionHandler.scala` (restart flag) +
    * `sync/ComponentManager.scala:58-66` (status = lost-interval
    * multiples: GREEN < 2, YELLOW < 5, RED ≥ 5) over event time:
    *
    * A component's heartbeats are its changes' epoch_s. Every gap
    * between consecutive heartbeats is scored lost = gap div
    * HeartbeatIntervalS; a RED gap (lost ≥ 5) is one fired restart
    * (the monitor crosses the rule threshold once per outage, then the
    * relaunch resets the component). n_restarts past
    * MaxComponentRestarts parks the component (state GIVEN_UP — the
    * bound the reference's infinite relaunch loop lacks); otherwise
    * the state is the CURRENT staleness vs the corpus clock, scored
    * with the same thresholds. backoff_s doubles per restart
    * (exponential supervisor backoff, capped at 2^6×).
    *
    * One key-shuffle on (db, component): the lag window and the
    * aggregate share the partitioning; the clock is a broadcast 1-row
    * aggregate. */
  def componentLifecycle(changelog: DataFrame): DataFrame = {
    val comp = concat(lit("worker-"), col("part").cast("string"))
    val w = Window.partitionBy("db", "component")
      .orderBy(col("epoch_s"), col("event_id"))
    val lost = changelog
      .select(dbCol.as("db"), comp.as("component"),
        col("epoch_s"), col("event_id"))
      .withColumn("gap_s", col("epoch_s") - lag("epoch_s", 1).over(w))
      .withColumn("lost", expr(s"gap_s div $HeartbeatIntervalS"))
    val clock = changelog.agg(max("epoch_s").as("now_s"))
    lost
      .groupBy("db", "component")
      .agg(
        count(lit(1)).as("n_heartbeats"),
        count(when(col("lost") >= 2 && col("lost") < 5, 1))
          .as("n_yellow_gaps"),
        count(when(col("lost") >= 5, 1)).as("n_restarts"),
        max("epoch_s").as("last_hb_s"))
      .join(broadcast(clock))
      .select(col("db"), col("component"), col("n_heartbeats"),
        col("n_yellow_gaps"), col("n_restarts"), col("last_hb_s"),
        expr(s"(now_s - last_hb_s) div $HeartbeatIntervalS").as("now_lost"),
        when(col("n_restarts") > MaxComponentRestarts, lit("GIVEN_UP"))
          .when(expr(s"(now_s - last_hb_s) div $HeartbeatIntervalS") < 2,
            lit("GREEN"))
          .when(expr(s"(now_s - last_hb_s) div $HeartbeatIntervalS") < 5,
            lit("YELLOW"))
          .otherwise(lit("RED")).as("state"),
        expr(s"$RestartBackoffS * shiftleft(1L, " +
          s"cast(least(n_restarts, 6) as int))").as("backoff_s"))
  }

  /** Retention cleanup accounting: rows older than (max ts - KeepHours)
    * are cleaned, the rest kept — per (part, op). Mirrors cleanSysTable.
    * The watermark is a broadcast 1-row aggregate; the "delete" is an
    * anti-filter, i.e. an incremental rewrite at scale. */
  def cleanRetention(changelog: DataFrame): DataFrame = {
    val wm = changelog.agg(max("epoch_s").as("max_s"))
    changelog
      .join(broadcast(wm))
      .withColumn("kept", col("epoch_s") >= col("max_s") - KeepHours * 3600L)
      .groupBy("part", "op")
      .agg(
        count(when(col("kept"), 1)).as("n_kept"),
        count(when(!col("kept"), 1)).as("n_cleaned"))
  }

  /** Candidate retention windows swept by [[retentionSweep]] (hours). */
  val RetentionSweepH: Seq[Long] = Seq(24L, 48L, 72L, 168L)

  /** Retention-policy sweep — the question asked BEFORE
    * [[KeepHours]] is trusted (the session_gap_sweep discipline
    * applied to cleanup): for every candidate dataKeepHours, the rows
    * a cleanup pass would keep vs purge and the monetary mass
    * retained, all in ONE pass — each row's age is computed once and
    * classified against every candidate in the same projection, so
    * the sweep costs one cleanRetention, not |candidates| of them.
    * The production constant rides the grid so its row is directly
    * comparable. */
  def retentionSweep(changelog: DataFrame): DataFrame = {
    val wm = changelog.agg(max("epoch_s").as("max_s"))
    val cands = (RetentionSweepH :+ KeepHours).distinct.sorted
    changelog
      .join(broadcast(wm))
      .select(col("value_cents"),
        (col("max_s") - col("epoch_s")).as("age_s"),
        explode(array(cands.map(lit): _*)).as("keep_h"))
      .groupBy("keep_h")
      .agg(
        count(when(col("age_s") <= col("keep_h") * 3600L, 1))
          .as("n_kept"),
        count(when(col("age_s") > col("keep_h") * 3600L, 1))
          .as("n_purged"),
        coalesce(sum(when(col("age_s") <= col("keep_h") * 3600L,
          col("value_cents"))), lit(0L)).as("kept_mass_cents"))
      .withColumn("is_production",
        (col("keep_h") === KeepHours).cast("string"))
  }

  /** Global monitor rollup — mirrors `monitor/SelfMonitor.scala:46-68`:
    * sync-state totals reduced across dbs plus the worst component
    * status (any RED heartbeat ⇒ RED overall). One row. */
  def statusRollup(changelog: DataFrame): DataFrame = {
    val totals = syncState(changelog).agg(
      sum("pending").as("pending"),
      sum("blocked").as("blocked"),
      sum("error").as("error"),
      sum("success").as("success"))
    val worst = heartbeatState(changelog).agg(
      max(when(col("hb_status") === "RED", 1L).otherwise(0L)).as("any_red"))
    totals.join(broadcast(worst)).select(
      lit("N/A").as("name"),
      col("pending"), col("blocked"), col("error"), col("success"),
      when(col("any_red") === 1L, lit("RED")).otherwise(lit("GREEN"))
        .as("overall"))
  }

  /** Route pausing — mirrors the PauseSetting control surface
    * (`monitor/Endpoints.scala:108`): changes bound for a paused
    * (targetDb) route are held, the rest flow. The default pause set
    * (tdb2) is the oracle-pinned static model; the live HTTP control
    * surface (graft.monitor.StatusServer's POST /control/pause) feeds
    * its accumulated PauseSettings through the same parameter. */
  def pauseFilter(changelog: DataFrame,
                  paused: Set[String] = Set("tdb2")): DataFrame = {
    val routed = ChangeLog.routeFanout(changelog)
    routed.select(
      col("target_db"), col("part"), col("n"),
      when(col("target_db").isInCollection(paused), lit("PAUSED"))
        .otherwise(lit("FLOWING")).as("route_state"))
  }

  /** Changelog compaction (compacted-topic semantics, the storage form
    * of `job/CleanWorker.scala` + the merge): keep every key's LATEST
    * change unconditionally, plus all changes inside the retention
    * window. One key-shuffle for the latest set (semi-join on change
    * id), broadcast 1-row watermark for the recency filter. */
  def logCompact(changelog: DataFrame): DataFrame = {
    val latestIds = CdcMerge.lastPerKey(changelog).select("event_id")
    val wm = changelog.agg(max("epoch_s").as("max_s"))
    changelog
      .join(broadcast(wm))
      .withColumn("recent",
        col("epoch_s") >= col("max_s") - KeepHours * 3600L)
      .join(latestIds.withColumn("is_last", lit(true)), Seq("event_id"), "left")
      .where(col("recent") || col("is_last").isNotNull)
      .select(col("event_id"), col("user_id"), col("op"),
        when(col("recent") && col("is_last").isNotNull, lit("BOTH"))
          .when(col("is_last").isNotNull, lit("LATEST"))
          .otherwise(lit("RECENT")).as("kept_reason"))
  }

  /** Exact distributed order statistic (no sketch): the lower median of
    * value cents per event op class — the deterministic form
    * percentile_approx can't give.
    *
    * Scale shape: the raw changelog is first collapsed to
    * (op, value_cents) COUNTS — a map-side-combined aggregate, so the
    * shuffle carries at most |ops|·|distinct values| rows, not the raw
    * log. Only that (small) distinct-value relation flows into the
    * per-op cumulative-sum window; the median is the first value whose
    * running count reaches rank (n+1)/2. A window over raw rows with
    * only 3 partitions would sort the whole 100 TB log on 3 reducers —
    * the round-2 plan bug this replaces (PlanSpec pins the aggregate-
    * below-window shape). */
  def valueMedian(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy("op").orderBy("value_cents")
    val cw = Window.partitionBy("op")
    changelog
      .groupBy("op", "value_cents")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(w))
      .withColumn("cnt", sum("c").over(cw))
      .where(col("cum") - col("c") < expr("(cnt + 1) div 2") &&
        expr("(cnt + 1) div 2") <= col("cum"))
      .select(col("op"),
        col("value_cents").as("median_low_cents"),
        col("cnt").as("n"))
  }

  /** Quantile points (percent) reported by [[valueQuantiles]]. */
  val QuantilePcts: Seq[Long] = Seq(25L, 50L, 75L, 90L)

  /** Exact multi-point order statistics per op class — [[valueMedian]]
    * generalized to a quantile vector (the latency/value dashboard
    * form). Same aggregate-below-window scale shape: the raw log
    * collapses to (op, value_cents) counts BEFORE any window; the
    * quantile targets explode against that small distinct-value
    * relation only. Lower quantile at 1-based rank ⌈n·p/100⌉ (p=50
    * reproduces the lower median). */
  def valueQuantiles(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy("op").orderBy("value_cents")
    val cw = Window.partitionBy("op")
    changelog
      .groupBy("op", "value_cents")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(w))
      .withColumn("cnt", sum("c").over(cw))
      .select(col("op"), col("value_cents"), col("cum"), col("cnt"),
        explode(array(QuantilePcts.map(lit): _*)).as("pct"))
      .where(col("cum") >= expr("(cnt * pct + 99) div 100"))
      .groupBy("op", "pct")
      .agg(min("value_cents").as("q_cents"), max("cnt").as("n"))
  }

  /** Top-user percent brackets for [[valueConcentration]]. */
  val ConcentrationPcts: Seq[Long] = Seq(1L, 5L, 20L)

  /** Value-concentration (Pareto) report per op class — how much of
    * the op's total value the top 1/5/20% of users hold; the
    * skew-awareness twin of key_skew_report (hot keys by COUNT) for
    * VALUE mass, and the number that says whether a per-user quota
    * would even matter. Exact and tie-stable: users aggregate to
    * per-user totals (one user-key shuffle), totals collapse to the
    * (op, total) VALUE GRID, and the cut is the smallest
    * cumulative-user count covering ⌈n·pct/100⌉ (cross-multiplied —
    * no quota division), ties at the cut value included wholesale —
    * so the reported n_top_users may exceed the quota, exactly like a
    * real "top 1%" list with equal totals. Windows run per op on the
    * value grid (the valueQuantiles convention), never on raw rows. */
  def valueConcentration(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy("op")
      .orderBy(col("user_total").desc)
    val cw = Window.partitionBy("op")
    changelog
      .groupBy("op", "user_id")
      .agg(sum("value_cents").as("user_total"))
      .groupBy("op", "user_total")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum_users", sum("c").over(w))
      .withColumn("cum_mass", sum(col("user_total") * col("c")).over(w))
      .withColumn("n_users", sum("c").over(cw))
      .withColumn("total_mass",
        sum(col("user_total") * col("c")).over(cw))
      .select(col("op"), col("cum_users"), col("cum_mass"),
        col("n_users"), col("total_mass"),
        explode(array(ConcentrationPcts.map(lit): _*)).as("pct"))
      .where(col("cum_users") * 100 >= col("n_users") * col("pct"))
      .groupBy("op", "pct")
      .agg(min(struct(col("cum_users"), col("cum_mass"))).as("cut"),
        max("n_users").as("n_users"), max("total_mass").as("total_mass"))
      .select(col("op"), col("pct"),
        col("cut.cum_users").as("n_top_users"), col("n_users"),
        expr("cut.cum_mass * 1000000 div total_mass")
          .as("value_share_ppm"))
  }

  /** GK-sketch accuracy knob for [[quantileSketchError]] (rank error
    * ≤ n/accuracy — 50× inside the 2% verdict band below). */
  val SketchAccuracy = 10000

  /** Sketch-quantile accuracy gate per op class — the scale path for
    * [[valueQuantiles]]: at 100 TB the exact pass's per-op sort is
    * reserved for the oracle scale, and the catalog runs
    * `percentile_approx` (mergeable GK sketch, one pass, no sort).
    * This gate prices that swap the [[approxDistinct]] way: the exact
    * quantile vector rides along, and the sketch value collapses to an
    * integer rank-band VERDICT the DuckDB oracle pins to 'true'.
    * Tie-robust: the sketch value occupies the rank interval
    * (count <, count ≤]; the verdict holds iff that interval meets
    * [target − n/50, target + n/50] — cross-multiplied, so a massively
    * tied distribution can't fail a perfect sketch. Shapes: one
    * sketch aggregate over the raw log; the rank counts ride the
    * (op, value) DISTINCT-value relation against the broadcast ≤
    * op×pct sketch grid; never a raw-row window. */
  def quantileSketchError(changelog: DataFrame): DataFrame = {
    val fracs = array(QuantilePcts.map(p => lit(p / 100.0)): _*)
    val pctOf = array(QuantilePcts.map(lit): _*)
    val sketch = changelog
      .groupBy("op")
      .agg(percentile_approx(col("value_cents"), fracs,
        lit(SketchAccuracy)).as("aq"))
      .select(col("op"), posexplode(col("aq")).as(Seq("i", "approx_q")))
      .select(col("op"), element_at(pctOf, col("i") + 1).as("pct"),
        col("approx_q"))
    val ranks = changelog
      .groupBy("op", "value_cents").agg(count(lit(1)).as("c"))
      .join(broadcast(sketch), Seq("op"))
      .groupBy("op", "pct")
      .agg(
        sum(when(col("value_cents") < col("approx_q"), col("c"))
          .otherwise(0L)).as("rk_lt"),
        sum(when(col("value_cents") <= col("approx_q"), col("c"))
          .otherwise(0L)).as("rk_le"))
    valueQuantiles(changelog)
      .join(ranks, Seq("op", "pct"))
      .select(col("op"), col("pct"), col("q_cents").as("q_exact_cents"),
        col("n"),
        (expr("rk_lt * 50 < ((n * pct + 99) div 100) * 50 + n") &&
          expr("rk_le * 50 >= ((n * pct + 99) div 100) * 50 - n"))
          .cast("string").as("approx_within_2pct"))
  }

  /** Per-source-db replication lag — the dashboard number a sync
    * operator actually watches (reference: the SyncState/monitor
    * endpoints expose counts; the lag VIEW derives from the same
    * ledger): time since the latest applied (polled, OK) change, age
    * of the oldest unapplied change, and the unapplied backlog, all
    * against the changelog's own high watermark (1-row broadcast, the
    * status_rollup shape — never a single-partition window). */
  def syncLag(changelog: DataFrame): DataFrame = {
    val applied = ChangeLog.polledCol && statusCol === "OK"
    val perDb = changelog
      .groupBy(dbCol.as("db"))
      .agg(
        max(when(applied, col("ems"))).as("applied_ems"),
        min(when(!applied, col("ems"))).as("oldest_pending_ems"),
        min("ems").as("first_ems"),
        count(when(!applied, 1)).as("n_unapplied"))
    val now = changelog.agg(max("ems").as("now_ems"))
    perDb
      .crossJoin(broadcast(now))
      // a db that never applied anything lags since its FIRST change,
      // not since the epoch (a 55-year sentinel is a useless dashboard
      // number)
      .select(col("db"),
        expr("(now_ems - coalesce(applied_ems, first_ems)) div 1000")
          .as("apply_lag_s"),
        expr("(now_ems - coalesce(oldest_pending_ems, now_ems)) div 1000")
          .as("oldest_pending_age_s"),
        col("n_unapplied"))
  }

  /** Composed per-db operations dashboard — the one relation an
    * on-call actually opens: syncState's status counts joined to
    * syncLag's freshness numbers with a single worst-signal health
    * grade (ERROR: failed applies outnumber successes — the sync is
    * losing; WARN: applies > 1 h stale; else OK — thresholds sit
    * where the corpus's natural 20% ERR mix grades healthy and real
    * lag differences show through). Pure
    * composition of the two audited operators — the join adds one
    * 3-row broadcast; every underlying shape was already
    * plan-audited. The reference serves these as separate /status
    * endpoints (monitor/Endpoints.scala:28-75); operators read them
    * side by side — this is that view. */
  def opsDashboard(changelog: DataFrame): DataFrame =
    syncState(changelog)
      .join(syncLag(changelog), "db")
      .select(col("db"), col("pending"), col("blocked"), col("error"),
        col("success"), col("apply_lag_s"), col("n_unapplied"),
        when(col("error") > col("success"), "ERROR")
          .when(col("apply_lag_s") > 3600L, "WARN")
          .otherwise("OK").as("health"))

  /** Rows reported by [[keySkewReport]]. */
  val SkewTopK = 20

  /** Hot-key diagnosis — the operational query run BEFORE choosing a
    * skew strategy (salting, AQE skew-join thresholds): the top sync
    * keys by change count and their corpus share in ppm. Map-side-
    * combined count, 1-row broadcast total, TakeOrdered top-k — the
    * report itself never materializes the full key distribution on one
    * node. */
  def keySkewReport(changelog: DataFrame): DataFrame = {
    val counts = changelog.groupBy("user_id")
      .agg(count(lit(1)).as("n_changes"))
    val tot = counts.agg(sum("n_changes").cast("long").as("total"))
    counts
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("n_changes"),
        expr("(n_changes * 1000000) div total").as("share_ppm"))
      .orderBy(col("n_changes").desc, col("user_id"))
      .limit(SkewTopK)
  }

  /** Sketch-based cardinality per db: HLL++ (approx_count_distinct,
    * Spark's built-in sketch — preference order (a): compose built-ins
    * before writing a custom TypedImperativeAggregate) alongside the
    * exact count. At 100 TB the approx column is the one you can
    * afford; rsd=0.02 keeps the merge buffers tiny and the result is
    * deterministic for a fixed input (HLL merge is order-independent).
    *
    * Oracle form: the sketch value itself has no cross-engine twin, so
    * the query emits the exact count plus an integer-arithmetic
    * error-band VERDICT (|approx−exact|·20 ≤ exact ⟺ within 5%, well
    * outside rsd=0.02's range) — the DuckDB oracle recomputes the
    * exact count and pins the verdict to 'true', so a sketch drifting
    * out of band fails the hash gate. */
  def approxDistinct(changelog: DataFrame): DataFrame =
    changelog
      .groupBy(dbCol.as("db"))
      .agg(
        approx_count_distinct("user_id", rsd = 0.02).as("approx"),
        countDistinct("user_id").as("n_users_exact"))
      .select(col("db"), col("n_users_exact"),
        (abs(col("approx") - col("n_users_exact")) * 20L <=
          col("n_users_exact")).cast("string").as("approx_within_5pct"))

  /** Running-balance overdraft audit — the ledger-consistency check a
    * sync target's accounting layer runs after landing: per user, the
    * signed running balance (credits = I inserts, debits = U updates,
    * error rows carry no money) in event order; per db, how many users
    * ever dip negative, the deepest dip, the number of distinct
    * negative entries, and the closing balance mass. One user-keyed
    * window (ROWS-framed so ties can't blur the frame; (ems, event_id)
    * is a total order) and a two-level aggregate — the previous
    * balance is recovered as bal − delta instead of a second window
    * function. Integer cents throughout. */
  def balanceAudit(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ems"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val delta = when(col("op") === "I", col("value_cents"))
      .when(col("op") === "U", -col("value_cents")).otherwise(0L)
    val perUser = changelog
      .withColumn("delta", delta)
      .withColumn("bal", sum("delta").over(w))
      .withColumn("prev_bal", col("bal") - col("delta"))
      .groupBy(dbCol.as("db"), col("user_id"))
      .agg(min("bal").as("min_bal"),
        sum(when(col("bal") < 0L && col("prev_bal") >= 0L, 1L)
          .otherwise(0L)).as("dips"),
        sum("delta").as("end_bal"))
    perUser.groupBy("db")
      .agg(count(lit(1)).as("n_users"),
        sum((col("min_bal") < 0L).cast("long")).as("n_overdrawn"),
        min("min_bal").as("min_balance_cents"),
        sum("dips").as("n_dips"),
        sum("end_bal").as("end_balance_sum_cents"))
  }

  /** SLA bounds for [[rpoAudit]] (seconds): tolerated data-at-risk age
    * and tolerated backlog-drain time. */
  val RpoSlaS = 43200L
  val RtoSlaS = 21600L

  /** Disaster-recovery objectives per source db — the two numbers an
    * operator quotes about a sync deployment: RPO (how old is the
    * oldest change not yet applied — the data at risk if the target is
    * promoted now) and RTO (how long to drain the backlog at the
    * observed apply rate: backlog · window div applied). Composes the
    * same applied/pending split as [[syncLag]] into objective form
    * with an SLA verdict. Shapes: one map-side-combined per-db
    * aggregate + the 1-row broadcast clock — the status_rollup
    * pattern, no windows, no joins on data-sized relations. All
    * arithmetic integer seconds. */
  def rpoAudit(changelog: DataFrame): DataFrame = {
    val applied = ChangeLog.polledCol && statusCol === "OK"
    val perDb = changelog
      .groupBy(dbCol.as("db"))
      .agg(
        count(when(applied, 1)).as("n_applied"),
        count(when(!applied, 1)).as("n_unapplied"),
        max(when(applied, col("ems"))).as("last_applied_ems"),
        min(when(applied, col("ems"))).as("first_applied_ems"),
        min(when(!applied, col("ems"))).as("oldest_pending_ems"))
    val now = changelog.agg(max("ems").as("now_ems"))
    perDb.crossJoin(broadcast(now))
      .select(col("db"), col("n_applied"), col("n_unapplied"),
        expr("(now_ems - coalesce(oldest_pending_ems, now_ems)) div 1000")
          .as("rpo_s"),
        expr("""greatest((coalesce(last_applied_ems, 0L)
               |  - coalesce(first_applied_ems, 0L)) div 1000, 1L)"""
          .stripMargin).as("window_s"))
      .withColumn("rto_s",
        expr("n_unapplied * window_s div greatest(n_applied, 1L)"))
      .select(col("db"), col("n_applied"), col("n_unapplied"),
        col("rpo_s"), col("window_s"), col("rto_s"),
        (col("rpo_s") <= RpoSlaS && col("rto_s") <= RtoSlaS)
          .cast("string").as("meets_sla"))
  }

  /** Queue depth per (partition, hour): tumbling-window inflow counts —
    * the observable analog of the reference's bounded in-memory queues. */
  def queueDepth(changelog: DataFrame): DataFrame =
    changelog
      .withColumn("hour_s", expr("(ems - ems % 3600000) div 1000"))
      .groupBy(col("part"), col("hour_s"))
      .agg(count(lit(1)).as("depth"))

  /** Error budget for [[sloBurn]]: the SLO says ≤ this fraction (ppm)
    * of applies may fail TERMINALLY (ERR with the retry budget
    * exhausted — [[statusCol]] ∧ max [[retryCol]], the reference's
    * give-up row in sync_data_status). Set at the corpus's natural
    * terminal-failure rate (~4%) so a healthy hour burns ≈ 1×
    * (1000 milli) and a total outage burns 25× — comfortably past the
    * 14.4× page line, which a budget set at the RAW ERR rate (20%)
    * could never reach (max burn would be 5×). */
  val SloBudgetPpm = 40000L

  /** The [[sloBurn]] SLI: terminal failure. */
  private val terminalErr: Column =
    statusCol === "ERR" && retryCol === 4L

  /** Minimum 24h request volume before [[sloBurn]] verdicts fire —
    * the standard low-traffic mute (one failure among five requests
    * is 5× "over budget" and statistically meaningless; burn alerts
    * assume volume). At production rates this never engages; it mutes
    * the thin calendar tail of small corpora. */
  val SloMinSample = 100L

  /** Multi-window error-budget burn rate — the SRE-workbook alert
    * discipline (Beyer et al. 2018, ch. 5) over the apply ledger,
    * completing the monitor family: monitor_alerts evaluates the
    * reference's threshold rules, arrival_anomaly tracks volume,
    * rate_changepoint hunts sustained shifts — THIS one converts the
    * terminal-failure share into budget-burn multiples at three trailing windows
    * (1h/6h/24h) and applies the standard page/ticket policy (PAGE:
    * 1h > 14.4× AND 6h > 6× — fast burn confirmed by the longer
    * window; TICKET: 6h > 6× or 24h > 3× — slow leak; first day
    * WARMUP). Burn is exact integer milli via a scale-safe div chain
    * (the budget side collapses first, so no product ever exceeds
    * err·1000). Dense hour grid (an outage hour is err=0/tot=0 — it
    * must still be a row); the trailing windows run on the |hours|
    * grid, never raw changes, keyed by the bounded-series constant
    * like arrival_anomaly. At the corpus's stationary rates every
    * verdict is OK/WARMUP/LOW_TRAFFIC — no false alarms; detection is
    * spec-pinned by an injected error storm. */
  def sloBurn(changelog: DataFrame): DataFrame = {
    val counts = changelog
      .select(expr("ems div 3600000").as("h"),
        terminalErr.cast("long").as("e"))
      .groupBy("h")
      .agg(count(lit(1)).as("tot"), sum("e").as("err"))
    val grid = counts.agg(min("h").as("lo"), max("h").as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("h"))
    val dense = grid.join(counts, Seq("h"), "left")
      .na.fill(0L, Seq("tot", "err"))
    def w(n: Int) = Window.partitionBy(pmod(col("h"), lit(1)))
      .orderBy("h").rowsBetween(-(n - 1), 0)
    dense
      .withColumn("err_1h", col("err"))
      .withColumn("tot_1h", col("tot"))
      .withColumn("err_6h", sum("err").over(w(6)))
      .withColumn("tot_6h", sum("tot").over(w(6)))
      .withColumn("err_24h", sum("err").over(w(24)))
      .withColumn("tot_24h", sum("tot").over(w(24)))
      .withColumn("age", count(lit(1)).over(
        Window.partitionBy(pmod(col("h"), lit(1))).orderBy("h")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("burn_1h_milli",
        expr(s"err_1h * 1000 div greatest(1, tot_1h * $SloBudgetPpm div 1000000)"))
      .withColumn("burn_6h_milli",
        expr(s"err_6h * 1000 div greatest(1, tot_6h * $SloBudgetPpm div 1000000)"))
      .withColumn("burn_24h_milli",
        expr(s"err_24h * 1000 div greatest(1, tot_24h * $SloBudgetPpm div 1000000)"))
      .select(col("h"), col("tot_1h"), col("err_1h"),
        col("burn_1h_milli"), col("burn_6h_milli"), col("burn_24h_milli"),
        when(col("age") < 24, "WARMUP")
          .when(col("tot_24h") < SloMinSample, "LOW_TRAFFIC")
          .when(col("burn_1h_milli") > 14400 &&
            col("burn_6h_milli") > 6000, "PAGE")
          .when(col("burn_6h_milli") > 6000 ||
            col("burn_24h_milli") > 3000, "TICKET")
          .otherwise("OK").as("verdict"))
  }

  /** Id-space bucket width for [[sequenceGapAudit]]. */
  val SeqBucket = 1024L

  /** Buckets per super-bucket for [[sequenceGapAudit]]'s boundary
    * stitch: the cross-bucket lag partitions by `bucket div 2^20`, so
    * no reducer sorts more than 2^20 grid rows and the super-bucket
    * boundary relation is id-space ÷ 2^30 — ~1k rows even at a 10^12-id
    * changelog. */
  val SeqSuperBucket = 1048576L

  /** Change-id continuity audit — the lost-change detector a sync
    * validator runs over a landed changelog's PRIMARY id space (the
    * complement of checksum_compare's value check: checksums prove
    * what arrived matches, this proves nothing silently vanished).
    * Per [[SeqBucket]]-wide id bucket: population, observed id bounds,
    * ids missing INSIDE the bucket's own span, and the gap to the
    * previous non-empty bucket's last id — so a dropped poll batch
    * shows up as either an intra-bucket hole or a cross-bucket jump,
    * localized to one bucket instead of one global number. Shape: one
    * map-side-combined aggregate on the bucket key, then the
    * FULLY-PARTITIONED classification of [[gapClassifyFrom]] — no
    * global sort anywhere. On a contiguous feed every row is
    * CONTIGUOUS (no false positives); detection is spec-pinned by an
    * injected hole, the bot_detection convention. */
  def sequenceGapAudit(changelog: DataFrame): DataFrame =
    gapClassifyFrom(changelog
      .select(expr(s"event_id div $SeqBucket").as("bucket"),
        col("event_id"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("id_lo"), max("event_id").as("id_hi")))

  /** The continuity classification over an already-built per-bucket
    * (bucket, n_events, id_lo, id_hi) grid — shared with the streaming
    * parity lane, which builds the grid as per-bucket state. The
    * cross-bucket lag is DECOMPOSED so no single reducer ever sorts
    * more than [[SeqSuperBucket]] rows: the lag window partitions by
    * super-bucket (`bucket div 2^20`), and each super-bucket's first
    * bucket recovers its predecessor's last id from a broadcast
    * boundary relation — the max `id_hi` over all EARLIER non-empty
    * super-buckets (ids grow with bucket, so that max IS the previous
    * non-empty bucket's last id), built by a broadcast triangular
    * self-join over the super-bucket grid (id-space ÷ 2^30 rows; ~1k
    * at 10^12 ids, so the triangle is ~10^6 broadcast-local pairs).
    * Bit-identical to a global `lag` over the bucket grid: within a
    * super-bucket the partitioned lag IS the global lag, and across
    * the boundary the stitched max coincides with it. The grid is
    * lazily localCheckpointed so its one aggregate feeds both the
    * boundary branch and the main walk without recomputation. */
  private[graft] def gapClassifyFrom(grid0: DataFrame): DataFrame = {
    val grid = grid0
      .withColumn("sb", expr(s"bucket div $SeqSuperBucket"))
      .localCheckpoint(false)
    val wIn = Window.partitionBy("sb").orderBy("bucket")
    val sbAgg = grid.groupBy("sb").agg(max("id_hi").as("sb_hi"))
    val prevSb = sbAgg
      .join(broadcast(sbAgg.select(col("sb").as("psb"),
        col("sb_hi").as("phi"))), col("psb") < col("sb"), "left")
      .groupBy("sb").agg(max("phi").as("prev_sb_hi"))
    grid
      .withColumn("missing_inside",
        col("id_hi") - col("id_lo") + 1L - col("n_events"))
      .withColumn("prev_in_sb", lag(col("id_hi"), 1).over(wIn))
      .join(broadcast(prevSb), Seq("sb"))
      .withColumn("gap_before",
        coalesce(col("id_lo")
          - coalesce(col("prev_in_sb"), col("prev_sb_hi")) - 1L,
          lit(0L)))
      .withColumn("verdict",
        when(col("missing_inside") === 0L && col("gap_before") === 0L,
          "CONTIGUOUS").otherwise("GAPPED"))
      .drop("sb", "prev_in_sb", "prev_sb_hi")
  }

  /** Micro-batch window width (ms) and compaction target (rows per
    * output file) for [[compactionPlan]]. */
  val CompactWinMs = 600000L
  val CompactTargetRows = 4096L

  /** Small-file compaction plan — the maintenance pass every
    * micro-batch sink needs: each (db, 10-minute ingest window) is one
    * landed file; adjacent files are packed into contiguous-in-TIME
    * bins of ~[[CompactTargetRows]] rows (cumulative row count div
    * target — the pack_sequences discipline, not first-fit-decreasing,
    * because FFD is inherently sequential-greedy AND destroys the time
    * locality that partition pruning depends on; contiguous binning
    * keeps every compacted file a clean time range). Per (db, bin):
    * file count, rows, the window span it covers, fill vs target in
    * ppm, and PASSTHROUGH when a single file alone already meets the
    * target (rewriting it would be wasted IO — the rewrite-minimizing
    * rule the PartitionedSink applies to untouched partitions).
    *
    * Shape: corpus-sized work is ONE map-side-combined (db, window)
    * pre-aggregate; the running sum is a window over the FILE GRID
    * (dbs × calendar windows — calendar-sized, never event-sized),
    * partitioned by db so no single reducer sees more than one db's
    * grid. */
  def compactionPlan(changelog: DataFrame): DataFrame =
    compactionBinsFrom(changelog
      .groupBy(dbCol.as("db"), expr(s"ems div $CompactWinMs").as("win"))
      .agg(count(lit(1)).as("n_rows")))

  /** The binning stages of [[compactionPlan]] over an already-built
    * (db, win, n_rows) file inventory — shared with the streaming
    * parity lane, which builds the inventory as per-window state. */
  private[graft] def compactionBinsFrom(files: DataFrame): DataFrame = {
    val w = Window.partitionBy("db").orderBy("win")
    files
      .withColumn("cum", sum("n_rows").over(w))
      .withColumn("bin", expr(s"(cum - 1) div $CompactTargetRows"))
      .groupBy("db", "bin")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("bin_rows"),
        min("win").as("first_win"), max("win").as("last_win"))
      .withColumn("fill_ppm",
        expr(s"bin_rows * 1000000 div $CompactTargetRows"))
      .withColumn("verdict",
        when(col("n_files") === 1L && col("fill_ppm") >= 1000000L,
          "PASSTHROUGH").otherwise("COMPACT"))
  }
}
