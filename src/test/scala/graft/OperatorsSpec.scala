package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SyncConfigs
import graft.operators._

/** Ledger/snapshot/config operator correctness on sf0.001. */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf)).cache()
  private def query(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  test("the flagship entry returns rows (the driver's smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query has a DuckDB oracle (the 100% oracle " +
    "rate is a contract, not a coincidence)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noOracle.isEmpty, s"queries without an oracle: $noOracle")
    assert(orphaned.isEmpty, s"oracles without a query: $orphaned")
  }

  test("sync_state counts partition the polled/unpolled universe") {
    val st = Ledger.syncState(cl).collect()
    val total = st.map(r => r.getAs[Long]("pending") + r.getAs[Long]("blocked")
      + r.getAs[Long]("error") + r.getAs[Long]("success")).sum
    assert(total === cl.count())
  }

  test("clean_retention keeps+cleans every row exactly once") {
    val cr = Ledger.cleanRetention(cl)
    val total = cr.agg(sum(col("n_kept") + col("n_cleaned"))).collect().head.getLong(0)
    assert(total === cl.count())
    // watermark math: nothing newer than max is cleaned
    val maxS = cl.agg(max("epoch_s")).collect().head.getLong(0)
    val kept = cl.where(col("epoch_s") >= maxS - Ledger.KeepHours * 3600L).count()
    assert(cr.agg(sum("n_kept")).collect().head.getLong(0) === kept)
  }

  test("error_retry: eligible + exhausted = all errors") {
    val er = Ledger.errorRetry(cl)
    val nErr = er.agg(sum("n_err")).collect().head.getLong(0)
    assert(nErr === cl.where(col("op") === "D").count())
    val parts = er.collect()
    parts.foreach { r =>
      assert(r.getAs[Long]("n_eligible") + r.getAs[Long]("n_exhausted")
        === r.getAs[Long]("n_err"))
    }
  }

  test("heartbeat_state marks recent components GREEN") {
    val hb = Ledger.heartbeatState(cl).collect()
    assert(hb.nonEmpty)
    val maxHb = hb.map(_.getAs[Long]("last_hb_s")).max
    hb.foreach { r =>
      val expected = if (maxHb - r.getAs[Long]("last_hb_s") <= Ledger.StaleAfterS)
        "GREEN" else "RED"
      assert(r.getAs[String]("hb_status") === expected)
    }
  }

  test("component_lifecycle: a planted outage pattern yields the exact " +
    "restart counts, give-up state and doubled backoff") {
    import spark.implicits._
    // one component per user_id%3 × part; user 1/part 1: 5 RED gaps
    // (> MaxComponentRestarts → GIVEN_UP); user 2/part 2: one yellow
    // gap + one red, recent heartbeat → GREEN with backoff 2×
    val hi = Ledger.HeartbeatIntervalS
    val base = 1000000L
    val u1 = (0 to 5).map(i => (1L, 100L + i, base + i * 6 * hi))
    val u2 = (Seq(base, base + 3 * hi, base + 9 * hi) ++
      (10 to 30).map(base + _ * hi))
      .zipWithIndex.map { case (s, i) => (2L, 200L + i, s) }
    val df = (u1 ++ u2).toDF("user_id", "event_id", "epoch_s")
      .withColumn("part", col("user_id"))
      .withColumn("ems", col("epoch_s") * 1000)
    val got = Ledger.componentLifecycle(df).collect()
      .map(r => r.getAs[String]("component") -> r).toMap
    val w1 = got("worker-1")
    assert(w1.getAs[Long]("n_restarts") === 5L)
    assert(w1.getAs[String]("state") === "GIVEN_UP")
    assert(w1.getAs[Long]("backoff_s") ===
      Ledger.RestartBackoffS * 32L)
    val w2 = got("worker-2")
    assert(w2.getAs[Long]("n_yellow_gaps") === 1L)
    assert(w2.getAs[Long]("n_restarts") === 1L)
    assert(w2.getAs[String]("state") === "GREEN")
    assert(w2.getAs[Long]("backoff_s") === Ledger.RestartBackoffS * 2L)
  }

  test("endpoint_status: the REST surfaces render valid JSON whose " +
    "numbers are the underlying aggregates") {
    val rows = Endpoints.statusJson(spark, cl).collect()
    val byEp = rows.groupBy(_.getAs[String]("endpoint"))
    assert(byEp.keySet === Set("/status/sys", "/status/sync",
      "/status/component", "/status/datasource", "/config"))
    assert(byEp("/status/sys").length === 1)
    assert(byEp("/config").length === 1)
    assert(byEp("/status/sync").length ===
      Ledger.syncState(cl).count())
    assert(byEp("/status/component").length ===
      Ledger.componentLifecycle(cl).count())
    assert(byEp("/status/datasource").length ===
      SyncConfigs.datasourceStatusRows().length)
    // every body is parseable JSON (jackson, same as the reference's
    // serializer) and /status/sync bodies carry the SyncState fields
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    rows.foreach(r => om.readTree(r.getAs[String]("body")))
    val pending = byEp("/status/sync")
      .map(r => om.readTree(r.getAs[String]("body")).get("pending").asLong)
      .sum
    val expected = Ledger.syncState(cl)
      .agg(sum("pending")).collect().head.getLong(0)
    assert(pending === expected)
  }

  test("route_fanout conserves and amplifies rows per routing table") {
    val n = ChangeLog.routeFanout(cl).agg(sum("n")).collect().head.getLong(0)
    val expected = cl.select(
      when(pmod(col("user_id"), lit(3L)) === 1, 1L).otherwise(2L).as("f"))
      .agg(sum("f")).collect().head.getLong(0)
    assert(n === expected)
  }

  test("delta_detect classifies the simulated drift exactly") {
    val customer = Tables.customer(spark, TestSpark.Sf)
    val d = Snapshot.deltaDetect(customer).cache()
    val keys = customer.select("c_custkey").collect().map(_.getLong(0))
    val inserts = keys.count(k => k % 13 == 0)
    val updates = keys.count(k => k % 13 != 0 && k % 10 == 0)
    val deletes = keys.count(k => k % 17 == 0)
    val got = d.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.getOrElse("INSERT", 0L) === inserts)
    assert(got.getOrElse("UPDATE", 0L) === updates)
    assert(got.getOrElse("DELETE", 0L) === deletes)
  }

  test("scale gate: a 30x hot key does not blow up the LWW merge " +
    "(map-side combine absorbs the skew; wall-time ratio bounded)") {
    import spark.implicits._
    // uniform: 200k rows over 2000 keys; skewed: same volume but one
    // key holds 30% of all rows. The merge is max-of-struct with
    // partial aggregation, so the hot key's rows combine map-side and
    // one reducer never sees them all — the wall-time ratio must stay
    // near 1, where a sort- or collect-based merge would scale with
    // the hot key's row count.
    val n = 200000
    def mk(key: Int => Long) = (1 to n).map { i =>
      (key(i), i.toLong, 1000000L + i, if (i % 7 == 0) "D" else "U",
        i.toLong)
    }.toDF("user_id", "event_id", "ems", "op", "value_cents")
      .withColumn("epoch_s", expr("ems div 1000"))
      .withColumn("k", lit(0L))
      .withColumn("part", pmod(col("user_id"), lit(16L)))
      .repartition(8).localCheckpoint() // materialize: time the merge only
    val uniform = mk(i => (i % 2000).toLong)
    val skewed = mk(i => if (i % 10 < 3) 0L else (i % 2000).toLong)
    def time(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      CdcMerge.merge(df).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    time(uniform); time(skewed) // warm codegen
    val tu = math.min(time(uniform), time(uniform))
    val ts = math.min(time(skewed), time(skewed))
    val ratio = ts / tu
    info(f"uniform=$tu%.2fs skewed=$ts%.2fs ratio=$ratio%.2f")
    assert(ratio < 3.0, f"hot-key merge ratio $ratio%.2f (tu=$tu%.2fs ts=$ts%.2fs)")
    // and the results agree on the shared key space row count
    assert(CdcMerge.merge(skewed).count() > 0)
  }

  test("source_partition_plan covers [lo, hi] with disjoint ranges") {
    val customer = Tables.customer(spark, TestSpark.Sf)
    val plan = Snapshot.sourcePartitionPlan(customer).orderBy("pid").collect()
    assert(plan.length === Snapshot.ReadPartitions)
    val lo = customer.agg(min("c_custkey")).collect().head.getLong(0)
    val hi = customer.agg(max("c_custkey")).collect().head.getLong(0)
    assert(plan.head.getAs[Long]("range_lo") === lo)
    assert(plan.last.getAs[Long]("range_hi") === hi + 1)
    plan.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("range_hi") === b.getAs[Long]("range_lo"))
    }
  }

  test("config parsing round-trips the demo YAML") {
    val cfg = SyncConfigs.parse(SyncConfigs.DemoYaml)
    assert(cfg.sys.partition === 16)
    assert(cfg.dbs.map(_.name) === List("db0", "db1", "db2"))
    assert(cfg.sync.length === 4)
    assert(SyncConfigs.configMatrix(spark).count() === 5)
    assert(SyncConfigs.triggerSpecs(spark).count() === 12)
  }

  test("approx_distinct sketch stays within 5% of the exact cardinality") {
    val rows = query("approx_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users_exact") > 0L)
      assert(r.getAs[String]("approx_within_5pct") === "true",
        s"db ${r.getString(0)}")
    }
  }

  test("queue_depth counts every change exactly once") {
    val qd = Ledger.queueDepth(cl)
    assert(qd.agg(sum("depth")).collect().head.getLong(0) === cl.count())
  }

  test("portable hash: the Column form equals the JVM twin, permutations " +
    "stay in [0, P)") {
    import graft.functions.PortableHash
    import spark.implicits._
    val samples = Seq("", "a", "hello world", "ünïcode ☃", "x" * 500)
    val viaColumn = samples.toDF("s")
      .select(PortableHash.phash(col("s"))).collect().map(_.getLong(0))
    assert(viaColumn.toSeq === samples.map(PortableHash.md5Long))
    // the native Md5Long expression == the built-in hex/conv chain
    // (the formula the DuckDB oracle uses), interpreted path included
    val viaBuiltins = samples.toDF("s")
      .select(conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long")).collect().map(_.getLong(0))
    assert(viaBuiltins.toSeq === viaColumn.toSeq)
    val interpreted = samples.map(s =>
      graft.functions.Md5Long(
        org.apache.spark.sql.catalyst.expressions.Literal(s)).eval(null))
    assert(interpreted === samples.map(PortableHash.md5Long))
    val perms = samples.toDF("s")
      .select(PortableHash.permute(PortableHash.phash(col("s")), 63))
      .collect().map(_.getLong(0))
    assert(perms.forall(p => p >= 0 && p < PortableHash.P))
  }

  test("poll backoff follows the DataPoller wait curve") {
    import graft.streaming.CdcStream.backoffMs
    assert(backoffMs(500, 500, 10000) === 0)     // full batch: poll again now
    assert(backoffMs(0, 500, 10000) === 10000)   // empty poll: full backoff
    assert(backoffMs(250, 500, 10000) === 5000)  // half full: half wait
    assert(backoffMs(9999, 500, 10000) === 0)    // overfull clamps at batch
    val pb = Ledger.pollBackoff(cl, 500L, 10000L).collect()
    pb.foreach { r =>
      assert(r.getAs[Long]("wait_ms") ===
        backoffMs(r.getAs[Long]("n_events"), 500L, 10000L))
    }
  }

  test("blocked_replay replays only resolved-error chains, in change order") {
    val chains = Ledger.blockedChain(cl).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("first_err_eid")).toMap
    val replay = Ledger.blockedReplay(cl).collect()
    // every replayed key's first error must be resolved (retry < MaxRetry)
    replay.foreach { r =>
      val firstErr = r.getAs[Long]("first_err_eid")
      assert(firstErr % 5 < Ledger.MaxRetry)
      assert(chains(r.getLong(0)) === firstErr)
    }
    // replay sequences are dense 1..n per key
    replay.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("replay_seq")).sorted.toSeq ===
        (1L to rs.length.toLong))
    }
    // unresolved chains are withheld
    val replayedKeys = replay.map(_.getLong(0)).toSet
    val withheld = chains.filter { case (_, e) => e % 5 >= Ledger.MaxRetry }
    assert(withheld.keySet.intersect(replayedKeys).isEmpty)
  }

  test("trigger specs speak the source db's dialect") {
    val rows = SyncConfigs.triggerSpecRows()
    assert(rows.length === 12)
    val byDialect = rows.groupBy(_._2)
    // Every emitted statement — any dialect, plus the sys bootstrap —
    // is complete executable DDL: no `--` / `/* */` elision markers.
    val allDdl = rows.map(_._8) ++
      SyncConfigs.sysTableDdl("dbsync", "greenplum") ++
      SyncConfigs.sysTableDdl("dbsync", "mysql")
    allDdl.foreach { d =>
      assert(!d.contains("--") && !d.contains("/*"), d)
    }
    // db0 (postgresql) entries carry a full trigger FUNCTION body:
    // create+drop pair, plpgsql signature, row_to_json payload, one
    // unrolled INSERT per fan-out target, trigger wired to the function
    byDialect("postgresql").foreach { r =>
      assert(r._7.nonEmpty)
      assert(r._8.contains(
        s"CREATE OR REPLACE FUNCTION ${r._3}.${r._7}() RETURNS trigger " +
          "LANGUAGE plpgsql"), r._8)
      assert(r._8.contains(s"DROP FUNCTION IF EXISTS ${r._3}.${r._7}() CASCADE"))
      assert(r._8.contains("EXECUTE PROCEDURE " + r._3 + "." + r._7 + "()"))
      val payload = if (r._5 == "D") "OLD" else "NEW"
      assert(r._8.contains(s"row_to_json($payload)"), r._8)
      // the function BODY (between the dollar-quote tags) is non-empty
      // and carries the capture-condition guard + the fan-out inserts
      val body = r._8.split("""\$fn\$""")(1)
      assert(body.trim.nonEmpty && body.contains("IF ") &&
        body.contains("INSERT INTO dbsync.sync_data"), r._8)
    }
    // db1 (mysql) entries: no function, DROP-first, inline JSON_OBJECT
    byDialect("mysql").foreach { r =>
      assert(r._7.isEmpty)
      assert(r._8.startsWith("DROP TRIGGER IF EXISTS"))
      assert(r._8.contains("JSON_OBJECT"))
      val payload = if (r._5 == "D") "OLD" else "NEW"
      SyncConfigs.TableColumns(r._4).foreach(c =>
        assert(r._8.contains(s"'$c', $payload.$c"), s"missing $c in ${r._8}"))
    }
    // per-op capture conditions from the config land in the IF guard of
    // exactly their (table, op) row; every other row keeps the
    // always-true default
    val orderUpd = rows.find(r =>
      r._1 == "db0" && r._4 == "orders" && r._5 == "U").get
    assert(orderUpd._8.contains(
      "IF NEW.o_orderstatus <> OLD.o_orderstatus THEN"), orderUpd._8)
    val liIns = rows.find(r =>
      r._1 == "db1" && r._4 == "lineitem" && r._5 == "I").get
    assert(liIns._8.contains("IF NEW.l_quantity > 0 THEN"), liIns._8)
    assert(rows.count(_._8.contains("IF 1=1 THEN")) === 10)
  }

  test("sync_reconcile emits every action class and nothing for matched " +
    "current objects") {
    val actions = SyncConfigs.syncReconcile(spark).collect()
      .map(r => (r.getString(2), r.getString(3), r.getString(5)))
    val byAction = actions.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byAction.keySet === Set("CREATE", "MATCHED", "REBUILD", "DROP", "KEEP"))
    // first table (customer) current; second (orders) trigger drift;
    // third (lineitem) absent; retired_table: trigger dropped, index kept
    assert(actions.filter(_._1 == "customer").forall(_._3 == "MATCHED"))
    assert(actions.filter(a => a._1 == "orders" && a._2 == "trigger")
      .forall(_._3 == "REBUILD"))
    assert(actions.filter(_._1 == "lineitem").forall(_._3 == "CREATE"))
    assert(actions.contains(("retired_table", "trigger", "DROP")))
    assert(actions.contains(("retired_table", "index", "KEEP")))
  }

  test("jdbc identifier validation rejects hostile config values") {
    import graft.sources.JdbcSync
    assert(JdbcSync.ident("valid_name_1") === "valid_name_1")
    for (bad <- Seq("a;drop table x", "a b", "1abc", "", "x--", "a.b"))
      intercept[IllegalArgumentException](JdbcSync.ident(bad))
  }

  test("apply_batch_plan covers the polled batch in bounded ordered slices") {
    val plan = ChangeLog.applyBatchPlan(cl).collect()
    val polled = ChangeLog.pollBatch(cl).count()
    assert(plan.map(_.getAs[Long]("n_rows")).sum === polled)
    plan.foreach { r =>
      assert(r.getAs[Long]("n_rows") <= ChangeLog.ApplyBatchRows)
      assert(r.getAs[Long]("first_event_id") <= r.getAs[Long]("last_event_id"))
    }
    // within a partition, batch id spans never interleave (ordered apply):
    // a later batch's first id ordering key comes after the previous one's
    plan.groupBy(_.getAs[Long]("part")).foreach { case (_, rows) =>
      val byIdx = rows.sortBy(_.getAs[Long]("batch_idx"))
      assert(byIdx.map(_.getAs[Long]("batch_idx")).toSeq ===
        byIdx.indices.map(_.toLong))
    }
  }

  test("props_census sees every payload pair exactly once") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val census = ChangeLog.propsCensus(ev).collect()
    assert(census.map(_.getAs[Long]("n")).sum === ev.count()) // 1 pair/row
    census.foreach { r =>
      assert(r.getAs[Long]("n_numeric") <= r.getAs[Long]("n"))
      assert(r.getAs[Long]("min_num") <= r.getAs[Long]("max_num"))
    }
  }

  test("conversion_lag counts exactly the strict-funnel purchase users") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val lag = Analytics.conversionLag(ev).collect()
    lag.foreach { r =>
      assert(r.getAs[Long]("min_lag_s") <= r.getAs[Long]("max_lag_s"))
      assert(r.getAs[Long]("min_lag_s") >= 0L)
    }
    // user universe: strict signup→purchase users (purchase after the
    // first signup — the same conditional-min rule, independently)
    val expected = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts_ns"))).as("s"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("p"))
      .where(col("p") > col("s")).count()
    assert(lag.map(_.getAs[Long]("n_users")).sum === expected)
  }

  test("funnel stages are monotonically non-increasing") {
    val f = Analytics.funnelConversion(Tables.events(spark, TestSpark.Sf))
      .collect().head
    assert(f.getAs[Long]("n_signup") >= f.getAs[Long]("n_signup_click"))
    assert(f.getAs[Long]("n_signup_click") >= f.getAs[Long]("n_full_funnel"))
    assert(f.getAs[Long]("n_signup") > 0)
  }

  test("retention cohorts conserve the distinct user-week universe and " +
    "age 0 holds every cohort member") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val rc = Analytics.retentionCohorts(ev).collect()
    val userWeeks = ev.select(col("user_id"),
      expr(s"ts_ns div ${Analytics.WeekNs}L")).distinct().count()
    assert(rc.map(_.getAs[Long]("n_users")).sum === userWeeks)
    // age-0 cell of each cohort = cohort size = all its users are active
    // in their own first week by definition
    val users = ev.select("user_id").distinct().count()
    assert(rc.filter(_.getAs[Long]("age_weeks") == 0L)
      .map(_.getAs[Long]("n_users")).sum === users)
    rc.foreach(r => assert(r.getAs[Long]("age_weeks") >= 0L))
  }

  test("checksum_compare flags exactly the buckets deltaDetect changes") {
    val cust = Tables.customer(spark, TestSpark.Sf)
    val cc = Snapshot.checksumCompare(cust).collect()
    val diverged = cc.filter(_.getAs[String]("verdict") == "DIVERGED")
      .map(_.getAs[Long]("bucket")).toSet
    // every bucket containing a row-level delta must be DIVERGED, and
    // every DIVERGED bucket must contain at least one delta
    val deltaBuckets = Snapshot.deltaDetect(cust)
      .select(pmod(col("key"), lit(Snapshot.ChecksumBuckets)).as("b"))
      .distinct().collect().map(_.getAs[Long]("b")).toSet
    assert(diverged === deltaBuckets)
  }

  test("fk_integrity: the generated star schema has no orphans") {
    val fk = query("fk_integrity").collect()
    assert(fk.length === 3)
    fk.foreach { r =>
      assert(r.getAs[Long]("n_orphan_rows") === 0L)
      assert(r.getAs[Long]("n_child_rows") > 0L)
      assert(r.getAs[Long]("n_childless_parents") <= r.getAs[Long]("n_parents"))
    }
  }

  test("olap_order_priority: late orders are a subset of all orders") {
    val op = Analytics.orderPriority(Corpus(spark, TestSpark.Sf).orders,
      Corpus(spark, TestSpark.Sf).lineitem).collect()
    assert(op.length === 5)
    op.foreach(r =>
      assert(r.getAs[Long]("n_late") <= r.getAs[Long]("n_orders")))
    assert(op.map(_.getAs[Long]("n_late")).sum > 0L)
  }

  test("table_manifest covers every star-schema table with live counts") {
    val m = Snapshot.tableManifest(
      Corpus(spark, TestSpark.Sf).region, Corpus(spark, TestSpark.Sf).nation,
      Tables.customer(spark, TestSpark.Sf),
      Corpus(spark, TestSpark.Sf).supplier, Corpus(spark, TestSpark.Sf).part,
      Corpus(spark, TestSpark.Sf).orders, Corpus(spark, TestSpark.Sf).lineitem)
      .collect().map(r => r.getAs[String]("table_name") -> r).toMap
    assert(m.keySet === Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem"))
    assert(m("customer").getAs[Long]("n_rows")
      === Tables.customer(spark, TestSpark.Sf).count())
    // a checksum of a nonempty table is nonzero with overwhelming
    // probability (60-bit hash xor) — catches a dropped hash column
    m.values.foreach(r => assert(r.getAs[Long]("key_xor") !== 0L))
  }

  test("olap_promo_revenue: promo share bounded, totals match lineitem") {
    val pr = Analytics.promoRevenue(Corpus(spark, TestSpark.Sf).part,
      Corpus(spark, TestSpark.Sf).lineitem).collect()
    pr.foreach { r =>
      assert(r.getAs[Long]("promo_rev_c") <= r.getAs[Long]("total_rev_c"))
      assert(r.getAs[Long]("promo_ppm") <= 1000000L)
      assert(r.getAs[Long]("ship_month") >= 199501L)
    }
  }

  test("load_profile conserves events over the 7x24 grid") {
    val lp = Analytics.loadProfile(cl).collect()
    assert(lp.map(_.getAs[Long]("n")).sum === cl.count())
    lp.foreach { r =>
      assert(r.getAs[Long]("dow") >= 0L && r.getAs[Long]("dow") <= 6L)
      assert(r.getAs[Long]("hour") >= 0L && r.getAs[Long]("hour") <= 23L)
    }
  }

  test("modal_align: the driver corpus is fully aligned (and the audit " +
    "sees orphans when planted)") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val embs = Tables.embeddings(spark, TestSpark.Sf)
    val aligned = Multimodal.modalAlign(docs, embs).collect()
    assert(aligned.map(_.getAs[String]("status")).toSet === Set("MATCHED"))
    // plant orphans on both sides
    val planted = Multimodal.modalAlign(
      docs.where(col("doc_id") < 400), embs.where(col("vec_id") >= 200))
      .collect().groupBy(_.getAs[String]("status"))
    assert(planted("DOC_ONLY").map(_.getAs[Long]("n")).sum === 200L)
    assert(planted("EMB_ONLY").map(_.getAs[Long]("n")).sum === 100L)
    assert(planted("MATCHED").map(_.getAs[Long]("n")).sum === 200L)
  }

  test("repair_plan covers exactly the diverged buckets with bounded " +
    "chunks") {
    val cust = Tables.customer(spark, TestSpark.Sf)
    val plan = Snapshot.repairPlan(cust).collect()
    val diverged = Snapshot.checksumCompare(cust)
      .where(col("verdict") === "DIVERGED")
      .select("bucket").collect().map(_.getAs[Long]("bucket")).toSet
    assert(plan.map(_.getAs[Long]("bucket")).toSet === diverged)
    plan.foreach { r =>
      val expected = (r.getAs[Long]("n_rows") + Snapshot.BackfillBatch - 1) /
        Snapshot.BackfillBatch
      assert(r.getAs[Long]("n_batches") === expected)
    }
  }

  test("forget_audit: cascade counts match direct filters") {
    val cust = Tables.customer(spark, TestSpark.Sf)
    val ord = Corpus(spark, TestSpark.Sf).orders
    val li = Corpus(spark, TestSpark.Sf).lineitem
    val got = Snapshot.forgetAudit(cl, cust, ord, li).collect()
      .map(r => r.getAs[String]("relation")
        -> r.getAs[Long]("n_rows_to_purge")).toMap
    val inCohort = pmod(col("c_custkey"), lit(Snapshot.ForgetMod)) === 0
    val cohortKeys = cust.where(inCohort)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got("customer") === cohortKeys.size.toLong)
    assert(got("events") ===
      cl.collect().count(r => cohortKeys(r.getAs[Long]("user_id"))))
    val cohortOrderKeys = ord.collect()
      .filter(r => cohortKeys(r.getAs[Long]("o_custkey")))
      .map(_.getAs[Long]("o_orderkey")).toSet
    assert(got("orders") === cohortOrderKeys.size.toLong)
    assert(got("lineitem") ===
      li.select("l_orderkey").collect()
        .count(r => cohortOrderKeys(r.getLong(0))).toLong)
  }

  test("bloom_prune: no false negatives, conserves the changelog") {
    val bp = Sketches.bloomPrune(cl).collect()
    assert(bp.map(_.getAs[Long]("n")).sum === cl.count())
    // the one-sided guarantee: an actually-polled key can NEVER be
    // DEFINITELY_NEW — that would silently re-poll applied changes
    assert(!bp.exists(r => r.getAs[String]("verdict") == "DEFINITELY_NEW"
      && r.getAs[String]("actually_polled") == "true"))
    // and pruning must actually prune: most unpolled rows skip the join
    val newRows = bp.filter(r =>
      r.getAs[String]("verdict") == "DEFINITELY_NEW")
      .map(_.getAs[Long]("n")).sum
    assert(newRows > cl.count() / 2)
  }

  test("cms_error: one-sided overcounts, exact counts match token_topk") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val ce = Sketches.cmsError(docs).collect()
    assert(ce.length === 20)
    ce.foreach(r => assert(r.getAs[Long]("overcount") >= 0L,
      s"CMS undercounted ${r.getAs[String]("t")}"))
    val exactTop = query("token_topk").collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("n")).toMap
    ce.foreach { r =>
      exactTop.get(r.getAs[String]("t"))
        .foreach(n => assert(r.getAs[Long]("exact_n") === n))
    }
  }

  test("olap_rollup: rollup grains reconcile (leaves sum to flag rows " +
    "sum to the grand total)") {
    val li = Corpus(spark, TestSpark.Sf).lineitem
    val r = Analytics.pricingRollup(li).collect()
    val byGid = r.groupBy(_.getAs[Long]("gid"))
    val leaves = byGid(0L).map(_.getAs[Long]("rev_c")).sum
    val flags = byGid(1L).map(_.getAs[Long]("rev_c")).sum
    val total = byGid(3L).map(_.getAs[Long]("rev_c")).sum
    assert(leaves === flags)
    assert(flags === total)
    assert(byGid(3L).length === 1)
  }

  test("olap_moving_revenue: the 7-day window sums exactly") {
    val mv = Analytics.movingRevenue(Corpus(spark, TestSpark.Sf).lineitem)
      .collect().map(r => r.getAs[Long]("ship_day") ->
        (r.getAs[Long]("rev_c"), r.getAs[Long]("mov7_rev_c"))).toMap
    mv.foreach { case (d, (_, mov)) =>
      val expected = (d - 6 to d).flatMap(mv.get).map(_._1).sum
      assert(mov === expected, s"day $d")
    }
  }

  test("op_mix_pivot: wide counts match the long-format groupBy") {
    val p = Analytics.opMixPivot(cl).collect()
    val long = cl.groupBy("part", "op").count().collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[String]("op"))
        -> r.getAs[Long]("count")).toMap
    p.foreach { r =>
      val part = r.getAs[Long]("part")
      assert(r.getAs[Long]("n_insert") === long.getOrElse((part, "I"), 0L))
      assert(r.getAs[Long]("n_update") === long.getOrElse((part, "U"), 0L))
      assert(r.getAs[Long]("n_delete") === long.getOrElse((part, "D"), 0L))
    }
  }

  test("value_histogram buckets are exact bit lengths and conserve mass") {
    val vh = Analytics.valueHistogram(cl).collect()
    assert(vh.map(_.getAs[Long]("n")).sum === cl.count())
    vh.foreach { r =>
      val b = r.getAs[Long]("bucket")
      if (b > 0) {
        // all values in bucket b lie in [2^(b-1), 2^b)
        val lo = 1L << (b - 1)
        assert(r.getAs[Long]("sum_cents") >= lo * r.getAs[Long]("n"))
        assert(r.getAs[Long]("sum_cents") < 2 * lo * r.getAs[Long]("n"))
      }
    }
  }

  test("attribution_last_touch: credits every purchase exactly once; a " +
    "first-event purchase lands in 'none'") {
    import spark.implicits._
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.attributionLastTouch(ev).collect()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum ===
      ev.where(col("event_type") === "purchase").count())
    assert(!rows.map(_.getAs[String]("touch_type")).contains("purchase"))
    // constructed: user 1 purchase-first -> none; second purchase after
    // a click -> click; user 2 view then purchase -> view
    val tiny = Seq(
      (1L, 1L, "purchase", 10.0, "2024-01-01 00:00:01"),
      (2L, 1L, "click", 0.0, "2024-01-01 00:00:02"),
      (3L, 1L, "purchase", 20.0, "2024-01-01 00:00:03"),
      (4L, 2L, "view", 0.0, "2024-01-01 00:00:04"),
      (5L, 2L, "purchase", 30.0, "2024-01-01 00:00:05")
    ).toDF("event_id", "user_id", "event_type", "value", "tss")
      .withColumn("ts", col("tss").cast("timestamp"))
      .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    val m = Analytics.attributionLastTouch(tiny).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m === Map("none" -> (1L, 1000L), "click" -> (1L, 2000L),
      "view" -> (1L, 3000L)))
  }

  test("handoff_audit: consistent on the corpus AND on the tombstone " +
    "edge (delete before the cut, with and without later changes)") {
    import spark.implicits._
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
    val real = graft.operators.Snapshot.handoffAudit(cl).collect()(0)
    assert(real.getAs[String]("verdict") === "CONSISTENT")
    assert(real.getAs[Long]("n_keys") > 0L)
    // ems range 0..100 -> cut at 50; user 1: deleted pre-cut, updated
    // post-cut (must resurrect); user 2: deleted pre-cut, silent after
    // (must stay absent); user 3: only post-cut (insert during catch-up)
    val tiny = Seq(
      (1L, 1L, "I", 10L, 0L, 100L, 5L, 0L),
      (2L, 1L, "D", 20L, 0L, 0L, 5L, 1L),
      (3L, 2L, "D", 30L, 0L, 0L, 5L, 2L),
      (4L, 1L, "U", 60L, 0L, 200L, 5L, 1L),
      (5L, 3L, "I", 100L, 0L, 300L, 5L, 0L)
    ).toDF("event_id", "user_id", "op", "ems", "epoch_s", "value_cents",
      "k", "part")
    val r = graft.operators.Snapshot.handoffAudit(tiny).collect()(0)
    assert(r.getAs[String]("verdict") === "CONSISTENT")
    assert(r.getAs[Long]("cut_ems") === 55L)
    assert(r.getAs[Long]("n_keys") === 2L) // users 1 and 3; 2 stays gone
    assert(r.getAs[Long]("n_match") === 2L)
  }

  test("catalog_stats: one row per column, NDV bounded by rows, a key " +
    "column has NDV == rows") {
    val rows = query("catalog_stats").collect()
    // one row per audited column
    assert(rows.length === Snapshot.CatalogColumns.map(_._2.length).sum)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("n_null") >= 0L)
    }
    val ck = rows.find(_.getAs[String]("column_name") == "c_custkey").get
    assert(ck.getAs[Long]("n_distinct") === ck.getAs[Long]("n_rows"))
  }

  test("catalog_stats_sketch: the scale-default HLL pass lands within 5% " +
    "of the exact NDV on every audited column, single pass per table") {
    val t = Staged.catalogGrid(Corpus(spark, TestSpark.Sf))
    val exact = query("catalog_stats").collect()
      .map(r => (r.getAs[String]("table_name"),
        r.getAs[String]("column_name")) -> r.getAs[Long]("n_distinct"))
      .toMap
    val approx = graft.operators.Snapshot.catalogStatsSketch(t).collect()
    assert(approx.length === exact.size)
    approx.foreach { r =>
      val e = exact((r.getAs[String]("table_name"),
        r.getAs[String]("column_name")))
      val a = r.getAs[Long]("n_distinct_approx")
      assert(math.abs(a - e) * 20L <= e,
        s"${r.getAs[String]("column_name")}: approx $a vs exact $e")
    }
    // the production pass must stay Expand-free (no k-way row-multiplied
    // shuffle of the fact table) — that is its whole reason to exist
    val plan = graft.operators.Snapshot.catalogStatsSketch(t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("schema_drift: one row per live column, canonical types, ADD rows " +
    "carry well-formed DDL and OK rows none") {
    val grid = graft.operators.Snapshot.CatalogColumns
    val t = grid.map { case (n, _) => n -> Tables.table(spark, TestSpark.Sf, n) }
    val rows = graft.operators.Snapshot.schemaDrift(t).collect()
    assert(rows.length === grid.map(_._2.size).sum)
    val byTable = rows.groupBy(_.getAs[String]("table_name"))
    grid.foreach { case (n, cols) =>
      assert(byTable(n).map(_.getAs[String]("column_name")).toSet ===
        cols.toSet, s"table $n column census")
    }
    val types = Set("int32", "int64", "float32", "float64", "string",
      "timestamp", "date")
    rows.foreach { r =>
      assert(types.contains(r.getAs[String]("col_type")), r.toString)
      r.getAs[String]("action") match {
        case "OK" => assert(r.getAs[String]("ddl") === "")
        case "ADD" =>
          val ddl = r.getAs[String]("ddl")
          assert(ddl.startsWith(s"ALTER TABLE ${r.getAs[String]("table_name")}" +
            s" ADD COLUMN ${r.getAs[String]("column_name")} "), ddl)
          assert(ddl.split(' ').length >= 7, ddl) // a type token is present
        case other => fail(s"unexpected action $other")
      }
    }
    // the simulated 1-in-DriftMod target gap actually fires
    assert(rows.count(_.getAs[String]("action") == "ADD") > 0)
    assert(rows.count(_.getAs[String]("action") == "OK") > 0)
  }

  test("olap_market_share: ppm share bounded, nation rev <= total rev") {
    val ms = Analytics.marketShare(Corpus(spark, TestSpark.Sf).part,
      Corpus(spark, TestSpark.Sf).supplier,
      Tables.customer(spark, TestSpark.Sf), Corpus(spark, TestSpark.Sf).nation,
      Corpus(spark, TestSpark.Sf).region, Corpus(spark, TestSpark.Sf).orders,
      Corpus(spark, TestSpark.Sf).lineitem).collect()
    assert(ms.nonEmpty)
    ms.foreach { r =>
      assert(r.getAs[Long]("nation_rev_c") <= r.getAs[Long]("total_rev_c"))
      assert(r.getAs[Long]("share_ppm") >= 0L)
      assert(r.getAs[Long]("share_ppm") <= 1000000L)
    }
  }

  test("olap_order_dist: distribution masses sum back to the customer and " +
    "order tables") {
    val cust = Tables.customer(spark, TestSpark.Sf)
    val ord = Corpus(spark, TestSpark.Sf).orders
    val d = Analytics.orderCountDist(cust, ord).collect()
    assert(d.map(_.getAs[Long]("custdist")).sum === cust.count())
    assert(d.map(r => r.getAs[Long]("c_count") * r.getAs[Long]("custdist"))
      .sum === ord.count())
  }

  test("olap_small_qty: the below-a-fifth-of-average filter keeps a strict " +
    "subset of the brand's lineitems") {
    val part = Corpus(spark, TestSpark.Sf).part
    val li = Corpus(spark, TestSpark.Sf).lineitem
    val all = li.join(
      part.where(col("p_brand") === Analytics.SmallQtyBrand)
        .select("p_partkey"),
      col("l_partkey") === col("p_partkey")).count()
    val r = Analytics.smallQtyRevenue(part, li).collect()(0)
    assert(r.getAs[Long]("n_items") > 0L)
    assert(r.getAs[Long]("n_items") < all)
    assert(r.getAs[Long]("small_qty_rev_c") > 0L)
  }

  test("olap_sales_opportunity: every counted customer is above the mean " +
    "positive balance and dormant past the cutoff") {
    val cust = Tables.customer(spark, TestSpark.Sf)
    val ord = Corpus(spark, TestSpark.Sf).orders
    val so = Analytics.salesOpportunity(cust, ord).collect()
    assert(so.nonEmpty)
    // per-segment counts are bounded by the above-mean cohort size
    val balC = round(col("c_acctbal") * 100).cast("long")
    val pos = cust.select(balC.as("b")).where(col("b") > 0L)
      .agg(sum("b"), count(lit(1))).collect()(0)
    val aboveMean = cust.select(balC.as("b"))
      .where(col("b") * pos.getLong(1) > pos.getLong(0)).count()
    assert(so.map(_.getAs[Long]("n_custs")).sum <= aboveMean)
    so.foreach(r => assert(r.getAs[Long]("total_bal_c") > 0L))
  }

  test("olap_parts_suppliers: supplier counts are positive and the " +
    "excluded brand/type never appear") {
    val ps = Analytics.partsSuppliers(Corpus(spark, TestSpark.Sf).part,
      Corpus(spark, TestSpark.Sf).lineitem).collect()
    assert(ps.nonEmpty)
    ps.foreach { r =>
      assert(r.getAs[Long]("supplier_cnt") > 0L)
      assert(r.getAs[String]("p_brand") !== Analytics.PartsSupplierExclBrand)
      assert(!r.getAs[String]("p_type").startsWith("PROMO"))
      assert(Analytics.PartsSupplierSizes.map(_.toLong)
        .contains(r.getAs[Long]("p_size")))
    }
  }

  test("event_transitions: pair mass = one row per event, outgoing ppm " +
    "sums to ~1e6 per from_type") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.eventTransitions(ev).collect()
    assert(rows.map(_.getAs[Long]("n")).sum === ev.count())
    // every user's stream ends exactly once
    assert(rows.filter(_.getAs[String]("to_type") == "end")
      .map(_.getAs[Long]("n")).sum ===
      ev.select("user_id").distinct().count())
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (_, g) =>
      val mass = g.map(_.getAs[Long]("p_ppm")).sum
      assert(mass > 1000000L - g.length && mass <= 1000000L)
    }
  }

  test("rfm_segments: users conserved, scores in 1..4, monetary mass " +
    "matches the event stream") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.rfmSegments(ev).collect()
    assert(rows.map(_.getAs[Long]("n_users")).sum ===
      ev.select("user_id").distinct().count())
    val totalCents = ev.select(round(col("value") * 100).cast("long")
      .as("c")).agg(sum("c")).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("total_cents")).sum === totalCents)
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        assert(r.getAs[Long](c) >= 1L && r.getAs[Long](c) <= 4L)
      }
    }
    // quartiles must actually split the population: at least 2 levels
    // per dimension appear across segments
    Seq("r_score", "f_score", "m_score").foreach { c =>
      assert(rows.map(_.getAs[Long](c)).distinct.length >= 2, c)
    }
  }

  test("ring_rebalance: keys conserved, moves only land on the new node, " +
    "movement stays near 1/(N+1)") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val rows = TextAnalysis.ringRebalance(docs).collect()
    val total = docs.count()
    assert(rows.map(_.getAs[Long]("n_before")).sum === total)
    assert(rows.map(_.getAs[Long]("n_after")).sum === total)
    val newNode = TextAnalysis.RingNodes.toLong
    val moved = rows.filter(_.getAs[Long]("node") != newNode)
      .map(_.getAs[Long]("moved_out")).sum
    rows.foreach { r =>
      if (r.getAs[Long]("node") == newNode) {
        assert(r.getAs[Long]("n_before") === 0L)
        assert(r.getAs[Long]("n_after") === moved)
      } else
        // the consistent-hashing contract: old nodes only shed keys,
        // and only to the new node
        assert(r.getAs[Long]("n_before") - r.getAs[Long]("moved_out")
          === r.getAs[Long]("n_after"))
    }
    // far below hash-mod resharding's N/(N+1) mass; generous 3x
    // headroom over the ideal 1/(N+1)
    assert(moved * (newNode + 1) < 3L * total)
  }

  test("quantile_sketch_error: every verdict true, exact vector matches " +
    "value_quantiles") {
    val rows = Ledger.quantileSketchError(cl).collect()
    assert(rows.length ===
      graft.operators.Ledger.QuantilePcts.length * 3)
    rows.foreach(r =>
      assert(r.getAs[String]("approx_within_2pct") === "true"))
    val exact = Ledger.valueQuantiles(cl).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Long]("pct")) ->
        r.getAs[Long]("q_cents")).toMap
    rows.foreach(r => assert(r.getAs[Long]("q_exact_cents") ===
      exact((r.getAs[String]("op"), r.getAs[Long]("pct")))))
  }

  test("olap_ship_delay: item mass conserved, shares sum to ~1e6 per " +
    "priority, buckets aligned") {
    val li = Corpus(spark, TestSpark.Sf).lineitem
    val rows = Analytics.shipDelayProfile(
      Corpus(spark, TestSpark.Sf).orders, li).collect()
    assert(rows.map(_.getAs[Long]("n_items")).sum === li.count())
    rows.foreach(r => assert(
      r.getAs[Long]("delay_lo_days") % Analytics.DelayBucketDays === 0L))
    rows.groupBy(_.getAs[String]("o_orderpriority")).foreach {
      case (_, g) =>
        val mass = g.map(_.getAs[Long]("share_ppm")).sum
        assert(mass > 1000000L - g.length && mass <= 1000000L)
    }
  }

  test("olap_late_suppliers: every held order is finished, multi-supplier, " +
    "uniquely-latest") {
    val li = Corpus(spark, TestSpark.Sf).lineitem
    val ord = Corpus(spark, TestSpark.Sf).orders
    val rows = Analytics.lateSuppliers(
      Corpus(spark, TestSpark.Sf).supplier, ord, li).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_held_orders") >= 1L))
    // held-order mass is bounded by finished orders with >= 2 suppliers
    val eligible = li.groupBy("l_orderkey")
      .agg(countDistinct("l_suppkey").as("ns"))
      .where(col("ns") >= 2)
      .join(ord.where(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .count()
    assert(rows.map(_.getAs[Long]("n_held_orders")).sum <= eligible)
  }

  test("olap_min_cost_supplier: one winner per part, winners are EUROPE " +
    "suppliers, unit price is the true minimum") {
    val sf = TestSpark.Sf
    val rows = Analytics.minCostSupplier(Corpus(spark, sf).part,
      Corpus(spark, sf).supplier, Corpus(spark, sf).nation,
      Corpus(spark, sf).region, Corpus(spark, sf).lineitem).collect()
    assert(rows.nonEmpty)
    val parts = rows.map(_.getAs[Long]("p_partkey"))
    assert(parts.distinct.length === parts.length) // one winner per part
    val euro = Corpus(spark, sf).supplier
      .join(Corpus(spark, sf).nation,
        col("s_nationkey") === col("n_nationkey"))
      .join(Corpus(spark, sf).region
        .where(col("r_name") === Analytics.MinCostRegion),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(euro.contains(r.getAs[Long]("s_suppkey")))
      assert(r.getAs[Long]("best_unit_u") > 0L)
    }
  }

  test("olap_important_stock: every kept part beats 2x the nation average " +
    "and value mass never exceeds the nation total") {
    val sf = TestSpark.Sf
    val rows = Analytics.importantStock(Corpus(spark, sf).supplier,
      Corpus(spark, sf).nation, Corpus(spark, sf).lineitem).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("n_name")).foreach { case (_, g) =>
      // kept shares are each > ~2x average => far fewer than all parts,
      // and their ppm mass is a strict sub-share of the nation
      assert(g.map(_.getAs[Long]("share_ppm")).sum <= 1000000L)
      g.foreach(r => assert(r.getAs[Long]("share_ppm") > 0L))
    }
  }

  test("olap_dominant_shippers: a part has at most ONE >50% shipper, " +
    "so dominated-part counts sum to at most the cohort size") {
    val sf = TestSpark.Sf
    val rows = Analytics.dominantShippers(Corpus(spark, sf).part,
      Corpus(spark, sf).supplier, Corpus(spark, sf).lineitem).collect()
    assert(rows.nonEmpty)
    val cohort = Corpus(spark, sf).part
      .where(col("p_name").startsWith(Analytics.DominantNamePrefix))
      .count()
    assert(rows.map(_.getAs[Long]("n_dominated_parts")).sum <= cohort)
    rows.foreach(r => assert(r.getAs[Long]("qty_moved_c") > 0L))
  }

  test("market_basket: pair supports match a driver-side basket replay, " +
    "confidence and lift are the declared integer formulas") {
    val sf = TestSpark.Sf
    val rows = query("market_basket").collect()
    assert(rows.nonEmpty)
    // driver-side reference baskets: order -> distinct brand set
    val baskets = Corpus(spark, sf).lineitem
      .join(Corpus(spark, sf).part,
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct().collect()
      .groupBy(_.getAs[Long]("l_orderkey"))
      .view.mapValues(_.map(_.getAs[String]("p_brand")).toSet).toMap
    val nOrders = baskets.size.toLong
    val cnt = baskets.values.toSeq.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val support = baskets.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.length === support.size)
    rows.foreach { r =>
      val a = r.getAs[String]("brand_a"); val b = r.getAs[String]("brand_b")
      assert(a < b)
      val sup = r.getAs[Long]("support")
      assert(sup === support((a, b)))
      assert(r.getAs[Long]("cnt_a") === cnt(a))
      assert(r.getAs[Long]("cnt_b") === cnt(b))
      assert(r.getAs[Long]("conf_ab_ppm") === sup * 1000000L / cnt(a))
      assert(r.getAs[Long]("lift_ppm") ===
        sup * 1000000L / cnt(a) * nOrders / cnt(b))
    }
  }

  test("join_size_estimate: exact sizes equal true join cardinalities " +
    "and estimates follow the declared uniform-key formula") {
    import graft.operators.Snapshot
    val sf = TestSpark.Sf
    val tabs = (Snapshot.JoinEdges.map(_._1) ++ Snapshot.JoinEdges.map(_._3))
      .distinct.map(t => t -> Tables.table(spark, sf, t)).toMap
    val got = query("join_size_estimate").collect()
    assert(got.length === Snapshot.JoinEdges.length)
    Snapshot.JoinEdges.foreach { case (lt, lk, rt, rk) =>
      val r = got.find(_.getAs[String]("edge") == s"$lt.$lk=$rt.$rk").get
      val truth = tabs(lt).join(tabs(rt), col(lk) === col(rk)).count()
      assert(r.getAs[Long]("exact_rows") === truth, s"$lt x $rt")
      val est = r.getAs[Long]("n_left") * r.getAs[Long]("n_right") /
        math.max(r.getAs[Long]("ndv_left"), r.getAs[Long]("ndv_right"))
      assert(r.getAs[Long]("est_rows") === est)
      assert(r.getAs[Long]("est_ppm_of_exact") ===
        est * 1000000L / math.max(truth, 1L))
    }
  }

  test("session_gap_sweep: one row per candidate gap, monotone session " +
    "counts, and the 30-minute row agrees with sessionize") {
    import graft.operators.Temporal
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val got = Temporal.sessionGapSweep(chl).collect()
      .map(r => r.getAs[Long]("gap_s") ->
        (r.getAs[Long]("n_sessions"),
          r.getAs[Long]("events_per_session_milli"),
          r.getAs[Long]("mean_duration_s"))).toMap
    assert(got.keySet === Temporal.GapSweepS.toSet)
    // a larger gap can only merge sessions
    Temporal.GapSweepS.sliding(2).foreach { case Seq(a, b) =>
      assert(got(a)._1 >= got(b)._1, s"gap $a vs $b")
    }
    val sess = Temporal.sessionize(chl).collect()
    val n1800 = sess.length.toLong
    assert(got(1800L)._1 === n1800)
    assert(got(1800L)._2 === chl.count() * 1000L / n1800)
    assert(got(1800L)._3 ===
      sess.map(_.getAs[Long]("duration_ms")).sum / n1800 / 1000L)
  }

  test("balance_audit: per-db rollup matches a driver-side running-" +
    "balance replay") {
    import graft.operators.Ledger
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val got = Ledger.balanceAudit(chl).collect()
      .map(r => r.getAs[String]("db") -> r).toMap
    assert(got.size === 3)
    val rows = chl.select("user_id", "op", "ems", "event_id", "value_cents")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("op"),
        r.getAs[Long]("ems"), r.getAs[Long]("event_id"),
        r.getAs[Long]("value_cents")))
    val perUser = rows.groupBy(_._1).map { case (u, es) =>
      val deltas = es.sortBy(e => (e._3, e._4)).map {
        case (_, "I", _, _, v) => v
        case (_, "U", _, _, v) => -v
        case _                 => 0L
      }
      val bals = deltas.scanLeft(0L)(_ + _).drop(1)
      val dips = bals.zip(0L +: bals.dropRight(1))
        .count { case (b, p) => b < 0L && p >= 0L }.toLong
      (u, bals.min, dips, deltas.sum)
    }
    val ref = perUser.groupBy { case (u, _, _, _) => s"db${u % 3}" }
      .map { case (db, us) =>
        db -> (us.size.toLong, us.count(_._2 < 0L).toLong,
          us.map(_._2).min, us.map(_._3).sum, us.map(_._4).sum)
      }
    ref.foreach { case (db, (n, over, mn, dips, end)) =>
      val r = got(db)
      assert(r.getAs[Long]("n_users") === n, db)
      assert(r.getAs[Long]("n_overdrawn") === over, db)
      assert(r.getAs[Long]("min_balance_cents") === mn, db)
      assert(r.getAs[Long]("n_dips") === dips, db)
      assert(r.getAs[Long]("end_balance_sum_cents") === end, db)
    }
  }

  test("join_advisor: per-edge strategy and salt verdicts follow the " +
    "declared thresholds, sides agree with join_size_estimate") {
    import graft.operators.Snapshot
    val got = query("join_advisor").collect()
    assert(got.length === Snapshot.JoinEdges.length)
    val est = query("join_size_estimate").collect()
      .map(r => r.getAs[String]("edge") ->
        (r.getAs[Long]("n_left"), r.getAs[Long]("n_right"))).toMap
    got.foreach { r =>
      val edge = r.getAs[String]("edge")
      assert((r.getAs[Long]("n_left"), r.getAs[Long]("n_right")) ===
        est(edge), edge)
      assert(r.getAs[String]("strategy") ===
        (if (r.getAs[Long]("n_right") <= Snapshot.BroadcastRowLimit)
          "BROADCAST" else "SORT_MERGE"))
      assert(r.getAs[String]("salt_left") ===
        (r.getAs[Long]("max_key_share_ppm") >
          Snapshot.SkewSharePpm).toString)
      assert(r.getAs[Long]("max_key_share_ppm") <= 1000000L)
    }
  }

  test("acf_profile: one row per lag, acf matches a driver-side dense-" +
    "series Pearson replay") {
    import graft.operators.Temporal
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val got = Temporal.acfProfile(chl).collect()
      .map(r => r.getAs[Long]("lag_m") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("acf_e6"))).toMap
    assert(got.keySet === Temporal.AcfLags.map(_.toLong).toSet)
    val counts = chl.select((col("ems") / Temporal.AcfBucketMs)
        .cast("long").as("b")).groupBy("b").count().collect()
      .map(r => r.getAs[Long]("b") -> r.getAs[Long]("count")).toMap
    val lo = counts.keys.min
    val hi = counts.keys.max
    val xs = (lo to hi).map(b => counts.getOrElse(b, 0L)).toArray
    for (l <- Temporal.AcfLags) {
      val pairs = xs.dropRight(l).zip(xs.drop(l))
      val n = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
      val want =
        if (vx > 0 && vy > 0)
          math.round((n * sxy - sx * sy).toDouble /
            (math.sqrt(vx.toDouble) * math.sqrt(vy.toDouble)) * 1e6)
        else 0L
      assert(got(l.toLong) === ((n, want)), s"lag $l")
    }
  }

  test("fano_burstiness: fano matches a driver-side windowed-count " +
    "replay, verdict bands respected, a metronome scores sub-Poisson") {
    import graft.operators.Temporal
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val got = Temporal.fanoBurstiness(chl).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val ev = chl.select("user_id", "ems").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("ems") / Temporal.FanoWindowMs))
    ev.groupBy(_._1).foreach { case (u, es) =>
      val byW = es.groupBy(_._2).view.mapValues(_.length.toLong)
      val n = es.length.toLong
      val w = byW.keys.max - byW.keys.min + 1L
      val scc = byW.values.map(c => c * c).sum
      val fano = (w * scc - n * n) * 1000000L / (w * n)
      val r = got(u)
      assert(r.getAs[Long]("n_events") === n, s"user $u")
      assert(r.getAs[Long]("n_windows") === w, s"user $u")
      assert(r.getAs[Long]("fano_e6") === fano, s"user $u")
      val want =
        if (fano > 1000000L + Temporal.FanoBandE6) "BURSTY"
        else if (fano < 1000000L - Temporal.FanoBandE6) "REGULAR"
        else "POISSON_LIKE"
      assert(r.getAs[String]("cadence") === want, s"user $u")
    }
    // an injected metronome (one event per window, zero variance) must
    // land REGULAR with fano exactly 0
    import spark.implicits._
    val metro = (0L until 40L).map(i =>
        (9999999L, i, i * Temporal.FanoWindowMs + 5L))
      .toDF("user_id", "event_id", "ems")
    val m = Temporal.fanoBurstiness(metro).collect().head
    assert(m.getAs[Long]("fano_e6") === 0L)
    assert(m.getAs[String]("cadence") === "REGULAR")
  }

  test("brand_triangles: degree/triangles/clustering match a driver-" +
    "side replay over the thresholded co-purchase graph") {
    import graft.operators.Analytics
    val sf = TestSpark.Sf
    val part = Corpus(spark, sf).part
    val li = Corpus(spark, sf).lineitem
    val got = query("brand_triangles").collect()
      .map(r => r.getAs[String]("brand") -> r).toMap
    // replay: baskets -> support -> thresholded undirected edges
    val baskets = li.select("l_orderkey", "l_partkey")
      .join(part.select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "p_brand").distinct().collect()
      .map(r => r.getAs[Long]("l_orderkey") -> r.getAs[String]("p_brand"))
    val byOrder = baskets.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted).toMap
    val nOrders = byOrder.size.toLong
    val support = byOrder.values.flatMap(bs =>
      for (i <- bs.indices; j <- i + 1 until bs.length)
        yield (bs(i), bs(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // NB: Map.collect returning tuples would rebuild a Map and
    // collapse edges sharing a source brand — filter + keySet instead
    val edges = support.filter { case (_, s) =>
      s * 1000000L >= nOrders * Analytics.TriSupportPpm
    }.keySet
    val nbrs = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triCount = nbrs.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2)
        .count { case Seq(x, y) =>
          edges(if (x < y) (x, y) else (y, x))
        }.toLong
    }
    assert(got.keySet === nbrs.keySet)
    nbrs.foreach { case (v, ns) =>
      val r = got(v)
      val d = ns.size.toLong
      assert(r.getAs[Long]("degree") === d, v)
      assert(r.getAs[Long]("n_triangles") === triCount(v), v)
      val cc = if (d >= 2) triCount(v) * 2000000L / (d * (d - 1)) else 0L
      assert(r.getAs[Long]("clustering_ppm") === cc, v)
    }
    // the threshold must actually bind (graph neither empty nor complete)
    val nNodes = nbrs.size.toLong
    assert(edges.nonEmpty)
    assert(edges.size.toLong < nNodes * (nNodes - 1) / 2,
      "support threshold did not bind; graph is complete")
  }

  test("watermark_sweep: one row per candidate, drops monotone in the " +
    "bound, and the production arm agrees with lateDataAudit") {
    import graft.operators.Temporal
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val got = Temporal.watermarkSweep(chl).collect()
      .map(r => r.getAs[Long]("allowed_ms") ->
        (r.getAs[Long]("n_dropped"), r.getAs[Long]("drop_ppm"),
          r.getAs[Long]("max_overshoot_ms"))).toMap
    assert(got.keySet === Temporal.WmSweepMs.toSet)
    Temporal.WmSweepMs.sorted.sliding(2).foreach { case Seq(a, b) =>
      assert(got(a)._1 >= got(b)._1, s"drops not monotone at $a vs $b")
      assert(got(a)._3 >= got(b)._3, s"overshoot not monotone at $a")
    }
    val audit = Temporal.lateDataAudit(chl).collect()
    assert(got(Temporal.AllowedLatenessMs)._1 ===
      audit.map(_.getAs[Long]("n_dropped")).sum)
    // zero-tolerance arm = every late event; cross-check n_late
    assert(got(0L)._1 === audit.map(_.getAs[Long]("n_late")).sum)
    val n = chl.count()
    got.foreach { case (d, (nd, ppm, _)) =>
      assert(ppm === nd * 1000000L / n, s"arm $d ppm")
    }
  }

  test("sequence_gap_audit: contiguous feed is all-CONTIGUOUS; an " +
    "injected hole is localized to its bucket and the next gap_before") {
    import graft.operators.Ledger
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val rows = Ledger.sequenceGapAudit(chl).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum === chl.count())
    rows.foreach { r =>
      assert(r.getAs[String]("verdict") === "CONTIGUOUS",
        s"bucket ${r.getAs[Long]("bucket")}")
      assert(r.getAs[Long]("missing_inside") === 0L)
      assert(r.getAs[Long]("gap_before") === 0L)
    }
    // synthetic 5-bucket id space: an intra-bucket hole ([1500,1600)
    // inside bucket 1) and two whole missing buckets (2-3)
    import spark.implicits._
    val ids = ((0L until 1500L) ++ (1600L until 2048L) ++
      (4096L until 5120L)).toDF("event_id")
    val g = Ledger.sequenceGapAudit(ids).collect()
      .map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(g.keySet === Set(0L, 1L, 4L))
    assert(g(0L).getAs[String]("verdict") === "CONTIGUOUS")
    assert(g(1L).getAs[Long]("missing_inside") === 100L)
    assert(g(1L).getAs[String]("verdict") === "GAPPED")
    assert(g(4L).getAs[Long]("gap_before") === 2048L)
    assert(g(4L).getAs[String]("verdict") === "GAPPED")
  }

  test("rpo_audit: RPO agrees with syncLag's pending age, RTO follows " +
    "the declared drain formula, verdict consistent") {
    import graft.operators.Ledger
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    val got = Ledger.rpoAudit(chl).collect()
    assert(got.length === 3)
    val lag = Ledger.syncLag(chl).collect()
      .map(r => r.getAs[String]("db") ->
        (r.getAs[Long]("oldest_pending_age_s"),
          r.getAs[Long]("n_unapplied"))).toMap
    got.foreach { r =>
      val db = r.getAs[String]("db")
      assert(r.getAs[Long]("rpo_s") === lag(db)._1, db)
      assert(r.getAs[Long]("n_unapplied") === lag(db)._2, db)
      assert(r.getAs[Long]("window_s") >= 1L)
      assert(r.getAs[Long]("rto_s") ===
        r.getAs[Long]("n_unapplied") * r.getAs[Long]("window_s") /
          math.max(r.getAs[Long]("n_applied"), 1L))
      assert(r.getAs[String]("meets_sla") ===
        (r.getAs[Long]("rpo_s") <= Ledger.RpoSlaS &&
          r.getAs[Long]("rto_s") <= Ledger.RtoSlaS).toString)
    }
  }

  test("brand_pagerank: dense rank permutation, teleport floor holds, " +
    "and an independent integer replay reproduces every score") {
    import graft.operators.Analytics
    val got = query("brand_pagerank").collect()
    assert(got.nonEmpty)
    assert(got.map(_.getAs[Long]("rank")).sorted.toSeq ===
      (1L to got.length.toLong))
    got.foreach { r =>
      assert(r.getAs[Long]("pagerank_ppm") >= Analytics.PrDampPpm)
      assert(r.getAs[Long]("out_weight") > 0L)
    }
    // replay the damped rounds from the market-basket edges
    val edges = query("market_basket")
      .select("brand_a", "brand_b", "support").collect()
      .flatMap { r =>
        val (a, b, s) = (r.getString(0), r.getString(1), r.getLong(2))
        Seq((a, b, s), (b, a, s))
      }
    val ow = edges.groupBy(_._1).map { case (b, es) => b -> es.map(_._3).sum }
    var pr = ow.keys.map(_ -> 1000000L).toMap
    (1 to Analytics.PrIters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (b, es) =>
        b -> es.map { case (a, _, s) => pr(a) * s / ow(a) }.sum
      }
      pr = pr.keys.map(b => b -> (Analytics.PrDampPpm +
        (1000000L - Analytics.PrDampPpm) * in.getOrElse(b, 0L) / 1000000L))
        .toMap
    }
    assert(got.length === pr.size)
    got.foreach { r =>
      val b = r.getAs[String]("brand")
      assert(r.getAs[Long]("pagerank_ppm") === pr(b), b)
      assert(r.getAs[Long]("out_weight") === ow(b), b)
    }
  }

  test("event_paths: exactly top-K rows, counts descending, triple mass " +
    "bounded by events") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.eventPaths(ev).collect()
    assert(rows.length === Analytics.PathTopK)
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // every user contributes max(0, |events|-2) triples
    assert(ns.sum <= ev.count())
    rows.foreach(r => assert(r.getAs[Long]("share_ppm") > 0L))
  }

  test("rate_changepoint: clean stationary data never alarms at 8-mean, " +
    "an injected 2x shift fires RISE, grid is dense") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val clean = Temporal.rateChangepoint(ev).collect()
    assert(clean.nonEmpty)
    assert(clean.forall(_.getAs[String]("status") == "OK"))
    // dense calendar: every type covers the same day span
    val spans = clean.groupBy(_.getAs[String]("event_type"))
      .view.mapValues(_.length).values.toSet
    assert(spans.size === 1)
    // CUSUM never negative (the max(0, .) recursion's closed form)
    clean.foreach { r =>
      assert(r.getAs[Long]("cusum_hi_milli") >= 0L)
      assert(r.getAs[Long]("cusum_lo_milli") >= 0L)
    }
    // inject a sustained 2x rate shift over the last ~half of the
    // calendar: duplicate those rows (new event ids keep rows distinct)
    val mid = ev.agg((min(expr("ts_ns div 86400000000000")) +
      max(expr("ts_ns div 86400000000000"))).as("m2"))
      .collect()(0).getAs[Long]("m2")
    val shifted = ev.union(
      ev.where(expr(s"ts_ns div 86400000000000 * 2 > $mid"))
        .withColumn("event_id", col("event_id") + 1000000000L))
    val fired = Temporal.rateChangepoint(shifted).collect()
    assert(fired.exists(_.getAs[String]("status") == "RISE"))
  }

  test("cluster_cohesion: one row per centroid, members conserved, " +
    "nearest is never self, separation positive") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val rows = Similarity.clusterCohesion(emb).collect()
    assert(rows.length === 16)
    assert(rows.map(_.getAs[Long]("n_members")).sum ===
      emb.where(col("vec_id") >= 8).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("nearest_cid") !== r.getAs[Long]("centroid_id"))
      assert(r.getAs[Long]("inter_u") > 0L)
      assert(r.getAs[Long]("intra_u") >= 0L)
    }
  }

  test("migration_plan: the declared drift and nothing else — one ADD, " +
    "one DROP, the declared CASTs, every other column OK") {
    val sf = TestSpark.Sf
    val live = Snapshot.DesiredSchema.map(_._1).distinct.map(t =>
      t -> Tables.table(spark, sf, t))
    val rows = Snapshot.migrationPlan(spark, live).collect()
    val byAction = rows.groupBy(_.getAs[String]("action"))
      .view.mapValues(_.map(r => (r.getAs[String]("table_name"),
        r.getAs[String]("column_name"))).toSet).toMap
    assert(byAction("ADD") === Set(("documents", "quality_score")))
    assert(byAction("DROP") === Set(("orders", "o_orderpriority")))
    assert(byAction("CAST") === Set(("customer", "c_acctbal"),
      ("lineitem", "l_quantity")))
    // OK rows carry no DDL; every non-OK row carries an ALTER
    rows.foreach { r =>
      val isOk = r.getAs[String]("action") == "OK"
      assert(isOk === (r.getAs[String]("ddl") == "-"))
      if (!isOk) assert(r.getAs[String]("ddl").startsWith("ALTER TABLE "))
    }
  }

  test("slo_burn: stationary data never pages, an injected error storm " +
    "fires PAGE then recovers, burns are non-negative") {
    val clean = Ledger.sloBurn(cl).collect()
    assert(clean.nonEmpty)
    assert(clean.forall(r =>
      Set("OK", "WARMUP", "LOW_TRAFFIC")
        .contains(r.getAs[String]("verdict"))))
    clean.foreach(r => assert(r.getAs[Long]("burn_1h_milli") >= 0L))
    // error storm: 20 consecutive hours of pure terminal failures
    // (op = 'D' with the retry budget exhausted: event_id % 5 == 4)
    val hi = cl.agg(max(expr("ems div 3600000"))).collect()(0).getLong(0)
    import spark.implicits._
    val storm = (1 to 2000).map { i =>
      (9000000000L + i * 5L + 4L, 1L, "D", (hi + 1 + i % 20) * 3600000L,
        0L, 100L, 0L, 1L)
    }.toDF("event_id", "user_id", "op", "ems", "epoch_s",
      "value_cents", "k", "part")
    val fired = Ledger.sloBurn(cl.select("event_id", "user_id", "op",
      "ems", "epoch_s", "value_cents", "k", "part").union(storm))
      .collect()
    assert(fired.exists(_.getAs[String]("verdict") == "PAGE"))
  }

  test("value_concentration: top-p% holds at least p% of mass, shares " +
    "and cut sizes monotone in pct") {
    val rows = Ledger.valueConcentration(cl).collect()
    assert(rows.length === 3 * Ledger.ConcentrationPcts.length)
    rows.groupBy(_.getAs[String]("op")).foreach { case (_, g) =>
      val byPct = g.sortBy(_.getAs[Long]("pct"))
      byPct.foreach { r =>
        val pct = r.getAs[Long]("pct")
        val n = r.getAs[Long]("n_users")
        // the cut covers the ceil quota (ties only ever widen it)
        assert(r.getAs[Long]("n_top_users") * 100L >= n * pct)
        // top users hold at least their population share of the mass
        assert(r.getAs[Long]("value_share_ppm") >= pct * 10000L)
      }
      val shares = byPct.map(_.getAs[Long]("value_share_ppm"))
      assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    }
  }

  test("ann_tombstones: no dead vector is ever returned, waste tracks " +
    "the 1-in-8 cohort, recall bounded by k") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val rows = Similarity.annTombstones(emb).collect()
    assert(rows.length === Similarity.QueryCount)
    rows.foreach { r =>
      val scanned = r.getAs[Long]("n_scanned")
      val dead = r.getAs[Long]("n_dead_scanned")
      assert(dead >= 0L && dead < scanned)
      // the deleted cohort is ~1/8; probed lists can skew it but not 3x
      assert(r.getAs[Long]("waste_ppm") < 375000L)
      assert(r.getAs[Long]("n_hits") <= Similarity.TopK.toLong)
      assert(r.getAs[Long]("recall_milli") <= 1000L)
    }
  }

  test("dedup_editdist: verified near-identical pairs score high edit " +
    "similarity; pair mass equals the verified relation") {
    val sf = TestSpark.Sf
    val docs = Tables.documents(spark, sf)
    val verified = Dedup.ngramJaccard(docs)
    val rows = Dedup.dedupEditDistFrom(docs, verified).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === verified.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_ratio_ppm") <=
        r.getAs[Long]("max_ratio_ppm"))
      assert(r.getAs[Long]("max_ratio_ppm") <= 1000000L)
      // the bucket bounds its members
      assert(r.getAs[Long]("min_ratio_ppm") >=
        r.getAs[Long]("edit_bucket_ppm"))
    }
    // the corpus's verified dups are near-copies: the top edit band
    // must hold pairs (the two witnesses agree where it matters)
    assert(rows.exists(r => r.getAs[Long]("edit_bucket_ppm") >= 900000L
      && r.getAs[Long]("n_pairs") > 0L))
  }

  test("seasonal_anomaly: grid dense, slot baselines positive, a silent " +
    "slot-hour fires QUIET only when its slot is loud") {
    val rows = Temporal.seasonalAnomaly(cl).collect()
    assert(rows.nonEmpty)
    val hs = rows.map(_.getAs[Long]("h")).sorted
    assert(hs.last - hs.head + 1 === hs.length) // dense calendar
    rows.foreach { r =>
      assert(r.getAs[Long]("slot") === r.getAs[Long]("h") % 168)
      val n = r.getAs[Long]("n")
      val base = r.getAs[Long]("baseline_milli")
      r.getAs[String]("status") match {
        case "SPIKE" => assert(n * 1000 > base * 2)
        case "QUIET" => assert(n * 2000 <= base)
        case _ => ()
      }
    }
  }

  test("kmeans_stability: one report row, rand index in (0, 1000], " +
    "vectors conserved") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val rows = Similarity.kmeansStability(emb).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_vecs") ===
      emb.where(col("vec_id") >= Similarity.QueryCount).count())
    val rand = r.getAs[Long]("rand_milli")
    assert(rand > 0L && rand <= 1000L)
    assert(r.getAs[Long]("n_cells") <= 256L)
  }

  test("stream_funnel_parity: the streaming replay reproduces the batch " +
    "strict-funnel counts exactly") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val batch = Analytics.funnelConversion(ev).collect()(0)
    val stream = graft.streaming.CdcStream.funnelParity(spark, ev)
      .collect()(0)
    Seq("n_signup", "n_signup_click", "n_full_funnel").foreach { c =>
      assert(stream.getAs[Long](c) === batch.getAs[Long](c), c)
    }
  }

  test("queue_wait_audit: sparse arrivals never wait, an injected " +
    "same-ms burst queues Lindley-style behind the service times") {
    val clean = Temporal.queueWaitAudit(cl).collect()
    assert(clean.nonEmpty)
    clean.foreach { r =>
      assert(r.getAs[Long]("max_wait_ms") >= 0L)
      assert(r.getAs[Long]("utilization_ppm") < 1000000L)
    }
    // 50 updates land on one partition in the same millisecond: the
    // i-th must wait behind i-1 services (5 ms each)
    import spark.implicits._
    val burst = (1 to 50).map { i =>
      (8000000000L + i, 3L, "U", 1500000000000L, 1500000000L,
        100L, 0L, 3L)
    }.toDF("event_id", "user_id", "op", "ems", "epoch_s",
      "value_cents", "k", "part")
    val bursty = Temporal.queueWaitAudit(
      cl.select("event_id", "user_id", "op", "ems", "epoch_s",
        "value_cents", "k", "part").union(burst)).collect()
    val p3 = bursty.find(_.getAs[Long]("part") == 3L).get
    assert(p3.getAs[Long]("max_wait_ms") >=
      49L * Temporal.ServiceMsU)
  }

  test("bot_detection: the Poisson corpus is all HUMAN; an injected " +
    "metronome flags REGULAR and a scraper flags RATE") {
    val clean = Temporal.botDetection(cl).collect()
    assert(clean.map(_.getAs[String]("verdict")).toSet === Set("HUMAN"))
    import spark.implicits._
    // metronome: exactly 60 s gaps (CV = 0 -> REGULAR); scraper:
    // alternating 1 s / 3 s gaps (CV = 0.5 -> not regular) at ~30/min
    // (-> RATE)
    def synth(uid: Long, ids: Range)(off: Int => Long) = ids.map { i =>
      (8100000000L + uid * 1000 + i, uid, "U",
        (1500000000L + off(i)) * 1000L, 1500000000L + off(i),
        100L, 0L, 1L)
    }
    val bots = (synth(900001L, 1 to 30)(i => i * 60L) ++
      synth(900002L, 1 to 30)(i => i * 2L + (i % 2)))
      .toDF("event_id", "user_id", "op", "ems", "epoch_s",
        "value_cents", "k", "part")
    val flagged = Temporal.botDetection(
      cl.select("event_id", "user_id", "op", "ems", "epoch_s",
        "value_cents", "k", "part").union(bots)).collect()
    val verdicts = flagged.map(_.getAs[String]("verdict")).toSet
    assert(verdicts.contains("REGULAR"))
    assert(verdicts.contains("RATE"))
  }

  test("view_refresh_plan: every order's view row counted once, the " +
    "delta amplifies churn, affected bounded by view rows") {
    val sf = TestSpark.Sf
    val orders = Corpus(spark, sf).orders
    val rows = CdcMerge.viewRefreshPlan(orders,
      Corpus(spark, sf).lineitem).collect()
    assert(rows.map(_.getAs[Long]("n_view_rows")).sum === orders.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_affected") <= r.getAs[Long]("n_view_rows"))
      assert(r.getAs[Long]("n_touched_items") >=
        r.getAs[Long]("n_affected"))
      // join-view amplification: ~5% item churn touches >5% of keys
      assert(r.getAs[Long]("refresh_ppm") > 50000L)
    }
  }

  test("ops_dashboard: one row per db, counts consistent with syncState, " +
    "lag thresholds produce varied health grades") {
    val rows = Ledger.opsDashboard(cl).collect()
    assert(rows.length === 3)
    val states = Ledger.syncState(cl).collect()
      .map(r => r.getAs[String]("db") -> r.getAs[Long]("error")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("error") === states(r.getAs[String]("db")))
      assert(Set("OK", "WARN", "ERROR")
        .contains(r.getAs[String]("health")))
      // natural corpus: errors never outnumber successes
      assert(r.getAs[Long]("error") <= r.getAs[Long]("success"))
    }
  }

  test("data_skipping_audit: matched rows identical across layouts, the " +
    "date-ranged layout prunes most, hash layout prunes nothing") {
    val rows = Snapshot.dataSkippingAudit(
      Corpus(spark, TestSpark.Sf).lineitem).collect()
    assert(rows.length === 3)
    val byLayout = rows.map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.map(_.getAs[Long]("n_matched")).toSet.size === 1)
    assert(rows.map(_.getAs[Long]("n_rows")).toSet.size === 1)
    assert(byLayout("date_ranged").getAs[Long]("skip_ppm") > 800000L)
    assert(byLayout("hash_scattered").getAs[Long]("skip_ppm") === 0L)
    rows.foreach(r => assert(r.getAs[Long]("n_pruned_chunks") <=
      r.getAs[Long]("n_chunks")))
  }

  test("stream_queue_parity: the online Lindley recursion reproduces " +
    "the batch closed-form audit exactly") {
    val batch = Temporal.queueWaitAudit(cl).collect()
      .map(r => r.getAs[Long]("part") -> r.toSeq).toMap
    val stream = graft.streaming.CdcStream.queueParity(spark, cl)
      .collect()
    assert(stream.length === batch.size)
    stream.foreach { r =>
      assert(r.toSeq === batch(r.getAs[Long]("part")),
        s"part ${r.getAs[Long]("part")}")
    }
  }

  test("sync_conflicts: one-sided edits propagate, conflicts resolve LWW " +
    "with source precedence on ties") {
    val cust = Tables.customer(spark, TestSpark.Sf)
    val rows = Snapshot.syncConflicts(cust).collect()
    val expected = cust.where(
      pmod(col("c_custkey"), lit(7L)) === 0 ||
        pmod(col("c_custkey"), lit(10L)) === 0).count()
    assert(rows.length.toLong === expected)
    var conflicts = 0
    rows.foreach { r =>
      val (k, base) = (r.getAs[Long]("key"), r.getAs[Long]("base_cents"))
      val (src, tgt) = (r.getAs[Long]("src_cents"), r.getAs[Long]("tgt_cents"))
      r.getAs[String]("action") match {
        case "APPLY_TO_TARGET" =>
          assert((k % 7 === 0) && (k % 10 !== 0))
          assert(src === base + 50 && tgt === base)
          assert(r.getAs[Long]("resolved_cents") === src)
        case "APPLY_TO_SOURCE" =>
          assert((k % 10 === 0) && (k % 7 !== 0))
          assert(tgt === base + 100 && src === base)
          assert(r.getAs[Long]("resolved_cents") === tgt)
        case "CONFLICT_TGT_WINS" =>
          conflicts += 1
          assert(k % 70 === 0)
          assert(r.getAs[Long]("tgt_ts") > r.getAs[Long]("src_ts"))
          assert(r.getAs[Long]("resolved_cents") === tgt)
        case "CONFLICT_SRC_WINS" =>
          conflicts += 1
          assert(k % 70 === 0)
          assert(r.getAs[Long]("tgt_ts") <= r.getAs[Long]("src_ts"))
          assert(r.getAs[Long]("resolved_cents") === src)
        case other => fail(s"unexpected action $other")
      }
    }
    assert(conflicts > 0, "no conflicting key exercised the LWW arm")
  }

  test("the alphabetically FIRST oracle carries the session-wide DuckDB " +
    "resource bounds (a new earlier-sorting query must adopt them)") {
    // the driver's checker runs oracles in name order in ONE session;
    // the first statement executed must cap memory/threads and set a
    // spill dir, or a co-resident Spark JVM can kill the whole
    // artifact with an allocation failure (observed under contention)
    val first = SparkEntry.oracleSql.keys.min
    val sql = SparkEntry.oracleSql(first)
    for (s <- Seq("SET temp_directory", "SET memory_limit", "SET threads"))
      assert(sql.startsWith("SET temp_directory") && sql.contains(s),
        s"first oracle '$first' does not carry the bounds prefix ($s)")
    // the spill dir must be set EXACTLY once session-wide (DuckDB
    // refuses later SETs after a spill), and only on the first oracle —
    // holds for ANY future alphabetical insertion because the prefix is
    // attached to keys.min structurally at map construction
    val offenders = SparkEntry.oracleSql.collect {
      case (k, s) if k != first && s.contains("SET temp_directory") => k
    }
    assert(offenders.isEmpty,
      s"temp_directory set outside the first oracle: $offenders")
  }

  test("compaction_plan: bins account for every row, are contiguous " +
    "in time per db, and match a driver-side cumulative replay") {
    val rows = Ledger.compactionPlan(cl).collect()
    assert(rows.map(_.getAs[Long]("bin_rows")).sum === cl.count())
    // driver-side replay: per (db, window) counts → running sum → bin
    val files = cl.select(
        concat(lit("db"), pmod(col("user_id"), lit(3L)).cast("string"))
          .as("db"),
        expr(s"ems div ${Ledger.CompactWinMs}").as("win"))
      .groupBy("db", "win").count().collect()
      .map(r => (r.getAs[String]("db"), r.getAs[Long]("win"),
        r.getAs[Long]("count")))
    val binned = files.groupBy(_._1).toSeq.flatMap { case (db, fs) =>
      var cum = 0L
      fs.sortBy(_._2).map { case (_, win, n) =>
        cum += n
        ((db, (cum - 1) / Ledger.CompactTargetRows), (win, n))
      }
    }
    val want = binned.groupBy(_._1).map { case (k, xs) =>
      k -> ((xs.size.toLong, xs.map(_._2._2).sum,
        xs.map(_._2._1).min, xs.map(_._2._1).max))
    }
    assert(rows.length === want.size)
    rows.foreach { r =>
      val k = (r.getAs[String]("db"), r.getAs[Long]("bin"))
      val (nf, nr, lo, hi) = want(k)
      assert(r.getAs[Long]("n_files") === nf, s"$k")
      assert(r.getAs[Long]("bin_rows") === nr, s"$k")
      assert(r.getAs[Long]("first_win") === lo, s"$k")
      assert(r.getAs[Long]("last_win") === hi, s"$k")
      assert(r.getAs[Long]("fill_ppm") ===
        nr * 1000000L / Ledger.CompactTargetRows)
      val want_v =
        if (nf == 1L && nr >= Ledger.CompactTargetRows) "PASSTHROUGH"
        else "COMPACT"
      assert(r.getAs[String]("verdict") === want_v, s"$k")
    }
    // bins are disjoint, time-contiguous ranges per db
    rows.groupBy(_.getAs[String]("db")).foreach { case (db, bs) =>
      bs.sortBy(_.getAs[Long]("bin")).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_win") <= b.getAs[Long]("first_win"),
            s"$db bins overlap in time")
        case _ => ()
      }
    }
  }

  test("benford_audit: digit histogram matches a driver-side replay, " +
    "expectations sum to exactly 1e6, tvd and verdict are consistent") {
    val orders = Corpus(spark, TestSpark.Sf).orders
    val rows = Snapshot.benfordAudit(orders).collect()
    assert(Snapshot.BenfordPpm.map(_._2).sum === 1000000L)
    val cents = orders.select(
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).filter(_ > 0)
    val want = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_.getAs[Long]("n")).sum === cents.length.toLong)
    val tot = cents.length.toLong
    val exp = Snapshot.BenfordPpm.map { case (d, p) => d.toLong -> p }.toMap
    val tvd = rows.map(_.getAs[Long]("dev_ppm")).sum / 2L
    // densified: ALL 9 digits appear, absent ones with n = 0 so their
    // full exp_ppm mass counts toward the TVD
    assert(rows.map(_.getAs[Long]("digit")).sorted === (1L to 9L))
    rows.foreach { r =>
      val d = r.getAs[Long]("digit")
      assert(r.getAs[Long]("n") === want.getOrElse(d, 0L), s"digit $d")
      assert(r.getAs[Long]("obs_ppm") ===
        want.getOrElse(d, 0L) * 1000000L / tot)
      assert(r.getAs[Long]("exp_ppm") === exp(d))
      assert(r.getAs[Long]("dev_ppm") ===
        math.abs(r.getAs[Long]("obs_ppm") - exp(d)))
      assert(r.getAs[Long]("tvd_ppm") === tvd)
      assert(r.getAs[String]("verdict") ===
        (if (tvd <= Snapshot.BenfordTolPpm) "BENFORD" else "SKEWED"))
    }
    // a genuinely Benford-ish input (powers growing geometrically)
    // must read BENFORD: 2^k leading digits follow the law closely
    import spark.implicits._
    val geo = (0 until 180).map(k =>
        (k.toLong, BigInt(2).pow(k).toString.take(6).toDouble / 100.0))
      .toDF("o_orderkey", "o_totalprice")
    val g = Snapshot.benfordAudit(geo).collect()
    assert(g.head.getAs[String]("verdict") === "BENFORD")
    // maximal skew (every value shares one leading digit) must carry
    // the FULL distance 1e6 − exp(9), not just digit 9's own share —
    // exactly what densifying the 0-count digits buys
    val onedig = (1 to 50).map(k => (k.toLong, 9.99))
      .toDF("o_orderkey", "o_totalprice")
    val od = Snapshot.benfordAudit(onedig).collect()
    assert(od.length === 9)
    assert(od.count(_.getAs[Long]("n") === 0L) === 8)
    assert(od.head.getAs[Long]("tvd_ppm") === 1000000L - exp(9L))
    assert(od.head.getAs[String]("verdict") === "SKEWED")
  }

  test("mad_outliers: median/MAD/outlier counts match a driver-side " +
    "replay; a constant segment (MAD 0) flags every strictly-greater " +
    "value") {
    import spark.implicits._
    val got = Snapshot.madOutliers(Corpus(spark, TestSpark.Sf).orders,
        Tables.customer(spark, TestSpark.Sf)).collect()
      .map(r => r.getAs[String]("segment") -> r).toMap
    val oc = Corpus(spark, TestSpark.Sf).orders
      .join(Tables.customer(spark, TestSpark.Sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def lowMed(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
    val bySeg = oc.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(got.keySet === bySeg.keySet)
    bySeg.foreach { case (seg, xs) =>
      val med = lowMed(xs)
      val mad = lowMed(xs.map(x => math.abs(x - med)))
      val out = xs.count(_ > med + Snapshot.MadK * mad)
      val r = got(seg)
      assert(r.getAs[Long]("n_orders") === xs.size.toLong, seg)
      assert(r.getAs[Long]("median_cents") === med, seg)
      assert(r.getAs[Long]("mad_cents") === mad, seg)
      assert(r.getAs[Long]("n_outliers") === out.toLong, seg)
      assert(r.getAs[Long]("outlier_ppm") ===
        out.toLong * 1000000L / xs.size, seg)
    }
    // constructed MAD-0 edge: one segment all-equal but for one high
    // value — median = the constant, MAD = 0, the single spike flags
    val o = ((1 to 9).map(i => (i.toLong, i.toLong, 50.0)) :+
        ((10L, 10L, 99.0)))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val c = (1 to 10).map(i => (i.toLong, "SEG"))
      .toDF("c_custkey", "c_mktsegment")
    val e = Snapshot.madOutliers(o, c).collect()
    assert(e.length === 1)
    assert(e.head.getAs[Long]("median_cents") === 5000L)
    assert(e.head.getAs[Long]("mad_cents") === 0L)
    assert(e.head.getAs[Long]("n_outliers") === 1L)
  }

  test("partition_advisor: byte estimates match a driver-side width " +
    "replay, the partition recommendation follows the ceiling formula") {
    val tables = Snapshot.AdvisorGrid.map { case (t, _) =>
      t -> spark.read.parquet(s"${TestSpark.Sf}/$t.parquet")
    }
    val rows = Snapshot.partitionAdvisor(tables).collect()
      .map(r => r.getAs[String]("table_name") -> r).toMap
    assert(rows.keySet === Snapshot.AdvisorGrid.map(_._1).toSet)
    Snapshot.AdvisorGrid.foreach { case (t, cols) =>
      val df = tables.toMap.apply(t)
      val n = df.count()
      val fixedW = cols.collect {
        case (_, "f8") => 8L
        case (_, "f4") => 4L
      }.sum
      val strBytes = cols.collect { case (c, "str") =>
        df.agg(sum(expr(s"octet_length($c)").cast("long"))).collect()
          .head.getLong(0)
      }.sum
      val est = n * fixedW + strBytes
      val r = rows(t)
      assert(r.getAs[Long]("n_rows") === n, t)
      assert(r.getAs[Long]("est_bytes") === est, t)
      assert(r.getAs[Long]("bytes_per_row") === est / math.max(n, 1L), t)
      val rec = math.max(
        (est + Snapshot.TargetPartitionBytes - 1) /
          Snapshot.TargetPartitionBytes, 1L)
      assert(r.getAs[Long]("rec_partitions") === rec, t)
      assert(r.getAs[String]("verdict") ===
        (if (rec == 1L) "SINGLE" else "SPLIT"), t)
    }
  }

  test("idempotence_gate: re-applying the same merged batch drifts by " +
    "exactly zero rows and the counts reconcile with the applied state") {
    val customer = Tables.customer(spark, TestSpark.Sf)
    val r = CdcMerge.idempotenceGate(cl, customer).collect().head
    val once = CdcMerge.upsertApply(cl, customer).count()
    assert(r.getAs[Long]("n_once") === once)
    assert(r.getAs[Long]("n_twice") === once)
    assert(r.getAs[Long]("n_key_drift") === 0L)
    assert(r.getAs[Long]("n_value_drift") === 0L)
    assert(r.getAs[String]("verdict") === "IDEMPOTENT")
  }

  test("order_reconcile: bucket census matches a driver-side replay " +
    "and every order lands in exactly one bucket") {
    val orders = Corpus(spark, TestSpark.Sf).orders
    val lineitem = Corpus(spark, TestSpark.Sf).lineitem
    val rows = Snapshot.orderReconcile(orders, lineitem).collect()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === orders.count())
    val lines = lineitem.select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 100).cast("long").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val diffs = orders.select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("h"))
      .collect()
      .map(r => (r.getLong(1),
        math.abs(r.getLong(1) - lines.getOrElse(r.getLong(0), 0L))))
    val want = diffs.groupBy { case (_, d) =>
      if (d == 0L) -1L else java.lang.Long.toBinaryString(d).length.toLong
    }
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val ds = want(b)
      assert(r.getAs[Long]("n_orders") === ds.length.toLong, s"bucket $b")
      assert(r.getAs[Long]("min_diff_cents") === ds.map(_._2).min)
      assert(r.getAs[Long]("max_diff_cents") === ds.map(_._2).max)
      assert(r.getAs[Long]("header_mass_cents") === ds.map(_._1).sum)
      if (b > 0L) {
        assert(ds.map(_._2).min >= (1L << (b - 1).toInt))
        assert(ds.map(_._2).max < (1L << b.toInt))
      }
    }
  }

  test("cohort_ltv: cohort cells match a driver-side replay and the " +
    "running LTV is a per-cohort prefix sum") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.cohortLtv(ev).collect()
    val es = ev.select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000000000 div 604800").as("w"),
        round(col("value") * 100).cast("long").as("c")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val cohort = es.filter(_._2 == "signup").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val cells = es.filter(_._2 == "purchase")
      .flatMap { case (u, _, w, c) =>
        cohort.get(u).map(cw => ((cw, math.max(w - cw, 0L)), (u, c)))
      }
      .groupBy(_._1).view.mapValues { xs =>
        (xs.map(_._2._1).distinct.length.toLong, xs.map(_._2._2).sum)
      }.toMap
    assert(rows.length === cells.size)
    rows.foreach { r =>
      val k = (r.getAs[Long]("cohort_week"), r.getAs[Long]("age_weeks"))
      assert((r.getAs[Long]("n_buyers"), r.getAs[Long]("revenue_cents"))
        === cells(k), s"$k")
    }
    rows.groupBy(_.getAs[Long]("cohort_week")).foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("age_weeks"))
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getAs[Long]("revenue_cents")
        assert(r.getAs[Long]("ltv_cents") === cum, s"cohort $cw")
      }
    }
  }

  test("config_lint: the demo config is clean, and each injected " +
    "misconfiguration is flagged by its own check") {
    val clean = SyncConfigs.configLint(spark).collect()
      .map(r => r.getAs[String]("check") -> r).toMap
    assert(clean.size === 5)
    clean.values.foreach { r =>
      assert(r.getAs[Long]("n_violations") === 0L)
      assert(r.getAs[String]("verdict") === "OK")
      assert(r.getAs[String]("offenders") === "-")
    }
    val broken =
      """sys: {partition: 4, batch: 100, maxRetry: 3, dataKeepHours: 24, maxPollWait: 1000}
        |dbs:
        |  - {name: db0, type: postgresql, sysSchema: s}
        |  - {name: db1, type: mysql, sysSchema: s}
        |sync:
        |  - {sourceDb: db0, targetDb: dbX, sourceSchema: p, sourceTable: t1, sourceKeys: k}
        |  - {sourceDb: db0, targetDb: db0, sourceSchema: p, sourceTable: t2, sourceKeys: k}
        |  - {sourceDb: db0, targetDb: db1, sourceSchema: p, sourceTable: t3, sourceKeys: k}
        |  - {sourceDb: db0, targetDb: db1, sourceSchema: p, sourceTable: t3, sourceKeys: k}
        |  - {sourceDb: db0, targetDb: db1, sourceSchema: p, sourceTable: t4, sourceKeys: ""}
        |  - {sourceDb: db0, targetDb: db1, sourceSchema: p, sourceTable: t5, sourceKeys: k}
        |  - {sourceDb: db1, targetDb: db0, sourceSchema: p, sourceTable: t5, sourceKeys: k}
        |""".stripMargin
    val lint = SyncConfigs.configLint(spark, broken).collect()
      .map(r => r.getAs[String]("check") ->
        (r.getAs[Long]("n_violations"), r.getAs[String]("offenders"),
          r.getAs[String]("verdict"))).toMap
    assert(lint("UNKNOWN_DB") === ((1L, "dbX", "FAIL")))
    assert(lint("SELF_ROUTE") === ((1L, "db0>db0:p.t2", "FAIL")))
    assert(lint("DUP_ROUTE") === ((1L, "db0>db1:p.t3", "FAIL")))
    assert(lint("EMPTY_KEYS") === ((1L, "db0:p.t4", "FAIL")))
    assert(lint("CASCADE_CYCLE") === ((1L, "p.t5", "FAIL")))
  }

  test("access_export: one bundle per cohort member, counts reconcile " +
    "with direct per-user counts, the body is the rendered JSON") {
    val customer = Tables.customer(spark, TestSpark.Sf)
    val orders = Corpus(spark, TestSpark.Sf).orders
    val rows = Snapshot.accessExport(cl, customer, orders).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val cohort = customer
      .where(pmod(col("c_custkey"), lit(Snapshot.AccessMod)) === 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(rows.keySet === cohort)
    val ordCounts = orders.where(col("o_custkey").isin(cohort.toSeq: _*))
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evCounts = cl.where(col("user_id").isin(cohort.toSeq: _*))
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (u, r) =>
      assert(r.getAs[Long]("n_orders") === ordCounts.getOrElse(u, 0L))
      assert(r.getAs[Long]("n_events") === evCounts.getOrElse(u, 0L))
      val body = r.getAs[String]("body")
      assert(body.startsWith(s"""{"userId":$u,"name":""""))
      assert(body.contains(s""""orders":${ordCounts.getOrElse(u, 0L)}"""))
      assert(body.contains(s""""events":${evCounts.getOrElse(u, 0L)}"""))
      assert(body.endsWith("}"))
    }
  }

  test("alert_payloads: one delivery per (db, matched rule threshold), " +
    "bodies carry the reference's exact templates, counts reconcile " +
    "with sync_state") {
    import graft.operators.Endpoints
    val st = Ledger.syncState(cl).collect()
      .map(r => r.getAs[String]("db") ->
        Map("pending" -> r.getAs[Long]("pending"),
          "blocked" -> r.getAs[Long]("blocked"),
          "error" -> r.getAs[Long]("error"))).toMap
    val rows = Endpoints.alertPayloads(cl).collect()
    val wantCount = st.values.map { m =>
      Endpoints.AlertRules.map { case (_, p, b, e, _) =>
        Seq("pending" -> p, "blocked" -> b, "error" -> e)
          .count { case (k, t) => t >= 0L && m(k) > t }
      }.sum
    }.sum
    assert(rows.length === wantCount)
    rows.foreach { r =>
      val body = r.getAs[String]("body")
      val rule = r.getAs[String]("rule")
      if (r.getAs[String]("channel") === "email") {
        assert(r.getAs[String]("target") === Endpoints.AlertEmailTo)
        assert(r.getAs[String]("mode") === Endpoints.AlertEmailSubject)
        assert(body.startsWith(s"matched rule: $rule\nreason: "))
        assert(body.contains("\nsync status:\n  name: " +
          r.getAs[String]("db")))
      } else {
        assert(r.getAs[String]("target") === Endpoints.AlertWebhookUrl)
        assert(r.getAs[String]("mode") === "POST")
        assert(body.startsWith(s"""{"matchedRule":"$rule","reason":""""))
        assert(body.endsWith(""","others":0}}"""))
      }
      // the reason names the threshold that fired, with its live value
      val Array(kind, rest) = r.getAs[String]("reason").split("=", 2)
      val v = rest.split(" ").head.toLong
      assert(st(r.getAs[String]("db"))(kind) === v)
    }
  }

  test("attribution_linear: credit mass reconciles with a driver-side " +
    "journey replay and touchless purchases credit 'none' in full") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.attributionLinear(ev).collect()
      .map(r => r.getAs[String]("touch_type") -> r).toMap
    // driver-side replay
    val es = ev.select(col("user_id"), col("event_id"), col("ts_ns"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("vc")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    case class Acc(journeys: Long = 0L, touches: Long = 0L,
                   credit: Long = 0L)
    val acc = scala.collection.mutable.Map.empty[String, Acc]
    es.groupBy(_._1).foreach { case (_, us) =>
      val sorted = us.sortBy(e => (e._3, e._2))
      var journey = scala.collection.mutable.ListBuffer.empty[String]
      sorted.foreach { case (_, _, _, typ, vc) =>
        if (typ == "purchase") {
          if (journey.isEmpty) {
            val a = acc.getOrElse("none", Acc())
            acc("none") = Acc(a.journeys + 1, a.touches + 1,
              a.credit + vc * 1000L)
          } else {
            val per = vc * 1000L / journey.size
            journey.groupBy(identity).foreach { case (t, ts) =>
              val a = acc.getOrElse(t, Acc())
              acc(t) = Acc(a.journeys + 1, a.touches + ts.size,
                a.credit + per * ts.size)
            }
          }
          journey = scala.collection.mutable.ListBuffer.empty[String]
        } else journey += typ
      }
    }
    assert(rows.keySet === acc.keySet)
    acc.foreach { case (t, a) =>
      assert(rows(t).getAs[Long]("n_journeys") === a.journeys, t)
      assert(rows(t).getAs[Long]("n_touches") === a.touches, t)
      assert(rows(t).getAs[Long]("credit_milli_cents") === a.credit, t)
    }
    // credited milli-mass never exceeds purchase mass and loses less
    // than 1 milli-cent per (journey, touch-type) truncation
    val purchaseMass = es.filter(_._4 == "purchase").map(_._5 * 1000L).sum
    val credited = rows.values
      .map(_.getAs[Long]("credit_milli_cents")).sum
    assert(credited <= purchaseMass)
    val slots = acc.values.map(_.journeys).sum
    assert(purchaseMass - credited < slots *
      es.groupBy(_._1).map(_._2.length).max)
  }

  test("attribution_position: constructed journeys hit every role with " +
    "the exact U-shape truncating credits; corpus roles stay sane") {
    import spark.implicits._
    // user 1: click,view,click -> purchase 10.00 (first/mid/last);
    // user 2: view -> purchase 5.00 (solo);
    // user 3: click,view -> purchase 3.00 (two-touch halves);
    // user 4: purchase 7.00 with no touches (none)
    val tiny = Seq(
      (1L, 1L, "click", 0.0), (2L, 1L, "view", 0.0),
      (3L, 1L, "click", 0.0), (4L, 1L, "purchase", 10.0),
      (5L, 2L, "view", 0.0), (6L, 2L, "purchase", 5.0),
      (7L, 3L, "click", 0.0), (8L, 3L, "view", 0.0),
      (9L, 3L, "purchase", 3.0),
      (10L, 4L, "purchase", 7.0)
    ).toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts_ns", col("event_id") * 1000000000L)
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val m = Analytics.attributionPosition(tiny).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("credit_milli_cents")))
      .toMap
    assert(m === Map(
      ("click", "first") -> (2L, 400000L + 150000L),
      ("view", "mid")    -> (1L, 200000L),
      ("click", "last")  -> (1L, 400000L),
      ("view", "last")   -> (1L, 150000L),
      ("view", "solo")   -> (1L, 500000L),
      ("none", "none")   -> (1L, 700000L)))
    // corpus: no purchase touch_type, only the five roles, credit mass
    // bounded by purchase mass
    val ev = Tables.events(spark, TestSpark.Sf)
    val rows = Analytics.attributionPosition(ev).collect()
    val roles = rows.map(_.getString(1)).toSet
    assert(roles.subsetOf(Set("solo", "first", "last", "mid", "none")))
    assert(!rows.map(_.getString(0)).contains("purchase"))
    val purchaseMass = ev.where(col("event_type") === "purchase")
      .select(sum(round(col("value") * 100).cast("long") * 1000L))
      .collect()(0).getLong(0)
    val credited = rows.map(_.getAs[Long]("credit_milli_cents")).sum
    assert(credited <= purchaseMass && credited > 0L)
  }

  test("semantic_contamination: a planted train-lane duplicate of a " +
    "heldout vector flips its label to LEAKED; counts nest") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val lane = pmod(graft.functions.PortableHash.phash(
      concat(lit("split:"), col("vec_id").cast("string"))), lit(100L))
    // counts nest on the raw corpus
    val base = Similarity.semanticContamination(emb).collect()
    base.foreach { r =>
      assert(r.getAs[Long]("n_matched") <= r.getAs[Long]("n_heldout"))
      assert(r.getAs[Long]("n_leaked") <= r.getAs[Long]("n_matched"))
      assert((r.getAs[Long]("n_leaked") > 0L) ===
        (r.getAs[String]("verdict") === "LEAKED"))
    }
    assert(base.map(_.getAs[Long]("n_heldout")).sum ===
      emb.where(lane >= 98L).count())
    // plant: copy one heldout vector into the train lane under a fresh
    // vec_id whose hash lands < 98 (searched here with the same hash)
    val held = emb.where(lane >= 98L).limit(1).collect()(0)
    val maxId = emb.agg(max("vec_id")).collect()(0).getLong(0)
    // md5Long is phash's JVM twin — pick the id on the driver, zero
    // Spark jobs regardless of how many consecutive ids hash >= 98
    val freshId = Iterator.iterate(maxId + 1L)(_ + 1L).find { id =>
      math.floorMod(
        graft.functions.PortableHash.md5Long(s"split:$id"), 100L) < 98L
    }.get
    val dup = emb
      .where(col("vec_id") === held.getAs[Long]("vec_id"))
      .select(lit(freshId).as("vec_id"), col("embedding"), col("label"))
    val planted = Similarity
      .semanticContamination(emb.select("vec_id", "embedding", "label")
        .unionByName(dup))
      .collect().map(r => r.getAs[Long]("label") -> r).toMap
    val r = planted(held.getAs[Number]("label").longValue())
    assert(r.getAs[String]("verdict") === "LEAKED")
    assert(r.getAs[Long]("max_sim_e6") === 1000000L)
  }

  test("mix_temperature: weights are exact floor roots (including " +
    "perfect-square boundaries) and lower rungs flatten the mix") {
    import spark.implicits._
    // group sizes straddle the 16 boundary: isqrt 15/16/17 = 3/4/4
    val docs = (Seq.fill(15)("a") ++ Seq.fill(16)("b") ++
      Seq.fill(17)("c") ++ Seq.fill(1)("d")).zipWithIndex
      .map { case (s, i) => (i.toLong, "x", s, "t") }
      .toDF("doc_id", "lang", "source", "text")
    val m = TextAnalysis.mixTemperature(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(m("a").getAs[Long]("w50") === 3L)
    assert(m("b").getAs[Long]("w50") === 4L)
    assert(m("c").getAs[Long]("w50") === 4L)
    assert(m("a").getAs[Long]("w25") === 1L) // isqrt(3)
    assert(m("b").getAs[Long]("w25") === 2L) // isqrt(4)
    // flattening: the dominant group's share shrinks down the ladder,
    // the smallest group's share grows
    assert(m("c").getAs[Long]("share_a50_ppm") <
      m("c").getAs[Long]("share_a100_ppm"))
    assert(m("d").getAs[Long]("share_a25_ppm") >
      m("d").getAs[Long]("share_a50_ppm"))
    // corpus: every isqrt is the true floor root; ladder shares each
    // sum to 1e6 up to one truncation per group
    val rows = TextAnalysis
      .mixTemperature(Tables.documents(spark, TestSpark.Sf)).collect()
    rows.foreach { r =>
      val (n, w50, w25) = (r.getAs[Long]("n_docs"), r.getAs[Long]("w50"),
        r.getAs[Long]("w25"))
      assert(w50 * w50 <= n && (w50 + 1) * (w50 + 1) > n)
      assert(w25 * w25 <= w50 && (w25 + 1) * (w25 + 1) > w50)
    }
    for (c <- Seq("share_a100_ppm", "share_a50_ppm", "share_a25_ppm")) {
      val s = rows.map(_.getAs[Long](c)).sum
      assert(s <= 1000000L && s > 1000000L - rows.length)
    }
  }

  test("soft_dedup_weights: constructed clusters yield the exact ppm " +
    "masses; corpus effective mass is bounded by the raw mass") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, "s")).toDF("doc_id", "source")
    val clusters = Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 3L))
      .toDF("doc_id", "cluster_id", "n_members")
    val r = Dedup.softDedupWeightsFrom(docs, clusters).collect()(0)
    assert(r.getAs[Long]("n_docs") === 5L)
    assert(r.getAs[Long]("n_dup_members") === 3L)
    // 500000 + 500000 + 333333 + 1e6 + 1e6
    assert(r.getAs[Long]("effective_docs_ppm") === 3333333L)
    assert(r.getAs[Long]("dedup_ratio_ppm") === 666666L)
    val corpus = query("soft_dedup_weights").collect()
    corpus.foreach { c =>
      assert(c.getAs[Long]("effective_docs_ppm") <=
        c.getAs[Long]("n_docs") * 1000000L)
      assert(c.getAs[Long]("dedup_ratio_ppm") <= 1000000L)
    }
    assert(corpus.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, TestSpark.Sf).count())
  }

  test("blocklist_filter: constructed docs land in the right bands; " +
    "corpus docs partition across verdicts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the fast table", "s"),        // 0 hits -> KEEP
      (2L, "slow join", "s"),             // 1 hit  -> FLAG
      (3L, "dup dup slow scan", "s")      // 3 hits -> DROP
    ).toDF("doc_id", "text", "source")
    val m = TextAnalysis.blocklistFilter(docs).collect()
      .map(r => r.getAs[String]("verdict") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_hits"))).toMap
    assert(m === Map("KEEP" -> (1L, 0L), "FLAG" -> (1L, 1L),
      "DROP" -> (1L, 3L)))
    val corpus = TextAnalysis
      .blocklistFilter(Tables.documents(spark, TestSpark.Sf)).collect()
    assert(corpus.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, TestSpark.Sf).count())
    corpus.foreach { r =>
      if (r.getAs[String]("verdict") === "KEEP")
        assert(r.getAs[Long]("n_hits") === 0L)
    }
  }

  test("isqrtCol is the exact floor root across perfect-square " +
    "boundaries up to 2^49 (the float-ulp cases the +/-1 adjustment " +
    "exists for)") {
    import spark.implicits._
    val ks = Seq(1L, 2L, 3L, 10L, 1000L, 1000000L, 22360679L) ++
      (1 to 40).map(i => (1L << 24) + i * 12345L)
    val ns = (ks.flatMap(k => Seq(k * k - 1L, k * k, k * k + 1L)) ++
      Seq(0L, 1L, 2L, (1L << 49))).distinct
    ns.toDF("n")
      .select(col("n"), TextAnalysis.isqrtCol(col("n")).as("r"))
      .collect().foreach { row =>
        val (n, s) = (row.getLong(0), row.getLong(1))
        assert(s * s <= n && (s + 1) * (s + 1) > n, s"n=$n r=$s")
      }
  }

  test("negative_sampling: weights are the exact damped floor roots, " +
    "the cumulative ppm walk is monotone and ends at ~1e6") {
    def isq(x: Long): Long = {
      var s = math.sqrt(x.toDouble).toLong
      while ((s + 1) * (s + 1) <= x) s += 1
      while (s * s > x) s -= 1
      s
    }
    val rows = query("negative_sampling").collect()
    rows.foreach { r =>
      val tf = r.getAs[Long]("tf")
      assert(r.getAs[Long]("w75") === isq(tf) * isq(isq(tf)))
    }
    val cums = rows
      .sortBy(r => (-r.getAs[Long]("tf"), r.getAs[String]("token")))
      .map(_.getAs[Long]("cum_ppm"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last <= 1000000L && cums.last > 1000000L - rows.length)
  }

  test("curriculum_order: positions are contiguous per (phase, shard), " +
    "the corpus is preserved, and phase 0 is the cleanest band") {
    val out = query("curriculum_order").collect()
    assert(out.length ===
      Tables.documents(spark, TestSpark.Sf).count().toInt)
    out.groupBy(r => (r.getAs[Long]("phase"), r.getAs[Long]("shard")))
      .foreach { case ((p, s), rows) =>
        val pos = rows.map(_.getAs[Long]("pos")).sorted
        assert(pos.head === 1L && pos.last === rows.length.toLong,
          s"phase=$p shard=$s")
        assert(p >= 0L && p < 4L)
      }
    out.foreach { r =>
      val q = math.min(r.getAs[Long]("quality_milli"), 999L)
      assert(r.getAs[Long]("phase") ===
        (999L - q) / TextAnalysis.CurriculumBand)
    }
  }
}
