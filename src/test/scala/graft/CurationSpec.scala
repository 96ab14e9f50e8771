package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeLog, Curation, Temporal, TextAnalysis}

/** Semantic invariants of the web-curation / data-selection family —
  * the properties the DuckDB oracle's value-hash can't state directly
  * (cap arithmetic, bucket partitioning, DSIR's target preference,
  * watermark monotonicity). */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.Sf).cache()
  private lazy val cl =
    ChangeLog.normalize(Tables.events(spark, TestSpark.Sf)).cache()
  private def query(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  test("domain_caps: kept <= cap per source, kept+dropped = docs, " +
    "checksum matches an independent recount") {
    val caps = Curation.domainCaps(docs).collect()
    assert(caps.nonEmpty)
    caps.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= Curation.DomainCap)
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ===
        r.getAs[Long]("n_docs"))
    }
    // recount one source's kept set by brute force on the same hash
    val src = caps.head.getAs[String]("source")
    val ids = docs.where(col("source") === src).select("doc_id")
      .collect().map(_.getLong(0))
    val kept = ids
      .sortBy(id => (graft.functions.PortableHash.md5Long(s"cap:$id"), id))
      .take(Curation.DomainCap.toInt)
    assert(caps.find(_.getAs[String]("source") == src).get
      .getAs[Long]("kept_id_sum") === kept.sum)
  }

  test("ccnet_buckets: buckets partition each language's scored docs " +
    "and score ranges are ordered tail < middle <= head") {
    val b = query("ccnet_buckets").collect()
    val scored = query("ngram_lm_score").count()
    assert(b.map(_.getAs[Long]("n_docs")).sum === scored)
    b.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val m = rows.map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("min_p_ppm"), r.getAs[Long]("max_p_ppm"))).toMap
      for (t <- m.get("tail"); mid <- m.get("middle"))
        assert(t._2 < mid._1 || t._2 <= mid._2)
      for (mid <- m.get("middle"); h <- m.get("head"))
        assert(mid._2 <= h._2)
      // a language never loses docs to an unnamed bucket
      assert(rows.map(_.getAs[String]("bucket")).toSet
        .subsetOf(Set("head", "middle", "tail")))
    }
  }

  test("dsir_weights: the target source scores higher than the rest " +
    "(importance weights point at the target domain)") {
    val w = query("dsir_weights")
      .join(docs.select("doc_id", "source"), "doc_id")
      .select(col("source") === TextAnalysis.EvalSource as "is_target",
        col("net_ppm"))
      .groupBy("is_target")
      .agg(avg("net_ppm").as("mean_net"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(w(true) > w(false),
      s"target mean ${w(true)} should exceed non-target ${w(false)}")
  }

  test("token_fertility: ttr <= 1000 milli and token arithmetic is " +
    "consistent with the corpus") {
    val f = query("token_fertility").collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.getAs[Long]("ttr_milli") <= 1000L)
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("chars_per_token_milli") >= 1000L) // spaces ride along
    }
    val total = f.map(_.getAs[Long]("n_tokens")).sum
    val expected = docs.select(sum(size(TextAnalysis.tokensCol)))
      .collect().head.getLong(0)
    assert(total === expected)
  }

  test("late_data_audit: dropped <= late <= events, and a replayed " +
    "watermark reproduces the late count") {
    val a = Temporal.lateDataAudit(cl).collect()
    assert(a.map(_.getAs[Long]("n_events")).sum === cl.count())
    a.foreach { r =>
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_late"))
      assert(r.getAs[Long]("n_late") <= r.getAs[Long]("n_events"))
    }
    // brute-force replay of one partition's arrival order
    val part = a.head.getAs[Long]("part")
    val rows = cl.where(col("part") === part)
      .select("event_id", "ems").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var wm = Long.MinValue
    var late = 0L
    rows.foreach { case (_, ems) =>
      if (wm != Long.MinValue && ems < wm) late += 1
      wm = math.max(wm, ems)
    }
    assert(a.find(_.getAs[Long]("part") == part).get
      .getAs[Long]("n_late") === late)
  }

  test("curation_pipeline: per-source funnel is monotone, cap binds, " +
    "quality stage equals the standalone ensemble verdicts") {
    val st = Staged.tokens(spark, TestSpark.Sf)
    val signals = TextAnalysis.qualitySignalsFrom(st.gopher,
      TextAnalysis.qualityClassifyFrom(st.tokens),
      TextAnalysis.ngramLmScoreFrom(st.skipgrams),
      TextAnalysis.docRarityFrom(st.tokens, st.freq))
    val rows = query("curation_pipeline").collect()
    assert(rows.map(_.getAs[Long]("n_input")).sum === docs.count())
    rows.foreach { r =>
      val (i, q, d, f) = (r.getAs[Long]("n_input"),
        r.getAs[Long]("n_quality"), r.getAs[Long]("n_dedup"),
        r.getAs[Long]("n_final"))
      assert(i >= q && q >= d && d >= f, r.toString)
      assert(f <= Curation.PipelineCap)
    }
    // quality stage must equal the standalone majority-vote count
    val wantQ = signals
      .withColumn("keep_q", TextAnalysis.ensembleVotes >= 3)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(sum(col("keep_q").cast("long")).as("q")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_quality") ===
        wantQ(r.getAs[String]("source")))
    }
  }

  test("repeat_plan: budget conserved up to per-source integer floors, " +
    "repetition value decays, waste only past the epoch cap") {
    val plan = query("repeat_plan").collect()
    assert(plan.nonEmpty)
    val totalMass = plan.map(_.getAs[Long]("n_tokens")).sum
    val totalAlloc = plan.map(_.getAs[Long]("alloc_tokens")).sum
    // allocation fills the RepeatBudgetX x corpus budget, short only by
    // the per-source floors: one ppm-share floor (<= budget/1e6 each)
    // plus one token floor per source
    val budget = Curation.RepeatBudgetX * totalMass
    val n = plan.length.toLong
    assert(totalAlloc <= budget)
    assert(budget - totalAlloc <= 2L * n + budget * n / 1000000L,
      s"allocation lost more than the per-source floors: " +
        s"$totalAlloc vs $budget")
    plan.foreach { r =>
      val mass = r.getAs[Long]("n_tokens")
      val alloc = r.getAs[Long]("alloc_tokens")
      val sched = r.getAs[Long]("epochs_sched")
      val eff = r.getAs[Long]("effective_tokens")
      val waste = r.getAs[Long]("wasted_tokens")
      // effective value never exceeds the scheduled (non-wasted) tokens
      assert(eff <= alloc - waste)
      // the FIRST epoch is always full value, so a source scheduled at
      // least one full epoch realizes at least its own mass
      if (sched >= 1L) assert(eff >= mass)
      // waste appears only when the cap binds
      if (waste > 0L) assert(sched === Curation.MaxRepeatEpochs.toLong)
      if (r.getAs[Long]("keep_milli") > 0L)
        assert(sched >= 1L,
          s"${r.getAs[String]("source")}: budget " +
            s"${Curation.RepeatBudgetX}x should schedule every " +
            "nonzero-quality source at least one epoch")
    }
    // quality preference: the highest keep-rate source gets at least
    // the epochs of the lowest (weights scale allocation by quality)
    val byKeep = plan.sortBy(_.getAs[Long]("keep_milli"))
    assert(byKeep.last.getAs[Long]("epochs_sched") >=
      byKeep.head.getAs[Long]("epochs_sched"))
  }

  test("unimax_alloc: both waterfill arms bind, capped langs take " +
    "exactly their cap, uncapped langs share one level, budget " +
    "conserved up to integer floors") {
    val rows = Curation.unimaxAlloc(docs).collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val budget = Curation.UnimaxBudgetX * total
    rows.foreach { r =>
      assert(r.getAs[Long]("cap") ===
        Curation.UnimaxEpochCap * r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap"))
      assert(r.getAs[Long]("epochs_milli") <=
        Curation.UnimaxEpochCap * 1000L)
      if (r.getAs[String]("capped") == "true")
        assert(r.getAs[Long]("alloc_tokens") === r.getAs[Long]("cap"))
    }
    val (capped, uncapped) =
      rows.partition(_.getAs[String]("capped") == "true")
    assert(capped.nonEmpty, "no language hit the epoch cap — the cap " +
      "arm never fires at this budget/corpus")
    assert(uncapped.nonEmpty, "every language capped — the waterfill " +
      "arm never fires")
    // one shared water level across the uncapped languages
    assert(uncapped.map(_.getAs[Long]("alloc_tokens")).toSet.size === 1)
    // never over budget; under-allocation only by the division floors
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(alloc <= budget)
    assert(budget - alloc <= rows.length.toLong * rows.length,
      s"leftover ${budget - alloc} exceeds floor slack")
    // UniMax's point: the dominant language is NOT over-repeated —
    // its epoch count is the minimum
    val byTokens = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(byTokens.last.getAs[Long]("epochs_milli") ===
      rows.map(_.getAs[Long]("epochs_milli")).min)
  }
}
