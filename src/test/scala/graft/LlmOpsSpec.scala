package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators._

/** LLM-pipeline operators: dedup family, similarity search, text
  * analysis, multimodal plumbing.
  */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, TestSpark.Sf).cache()
  private lazy val embs = Tables.embeddings(spark, TestSpark.Sf).cache()

  /** Registry query `name` as shipped, over the sf0.001 corpus. */
  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  /** Registry query `name` as shipped, over an in-memory corpus. */
  private def query(name: String, c: Corpus): DataFrame =
    SparkEntry.builds(name)(c)

  // --- similarity ---

  test("cosine expression matches a plain-Scala computation (codegen + interpreted)") {
    val rows = embs.limit(20).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val a = embs.select(col("vec_id").as("ida"), col("embedding").as("va")).limit(20)
    val b = embs.select(col("vec_id").as("idb"), col("embedding").as("vb")).limit(20)
    val got = a.crossJoin(b)
      .select(col("ida"), col("idb"),
        VectorFunctions.cosineSim(col("va"), col("vb")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val m = rows.toMap
    for (((ia, ib), sim) <- got) {
      assert(math.abs(sim - cos(m(ia), m(ib))) < 1e-12, s"pair ($ia,$ib)")
    }
    // self-similarity is 1
    rows.foreach { case (id, _) => assert(math.abs(got((id, id)) - 1.0) < 1e-12) }
  }

  test("bruteTopK ranks by exact cosine, k per query") {
    val topk = Similarity.bruteTopK(embs, k = 5).collect()
    val byQ = topk.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet === (0L until Similarity.QueryCount).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 5L))
    }
  }

  test("lshTopK returns a subset of candidates that share the query bucket") {
    val lsh = Similarity.lshTopK(embs).collect()
    assert(lsh.nonEmpty)
    // every returned candidate must NOT be a query id
    assert(lsh.forall(_.getAs[Long]("cand_id") >= Similarity.QueryCount))
  }

  test("lsh_multiprobe: candidate counts match a driver-side hamming-≤1 " +
    "bucket replay, single ⊆ multiprobe, recall fields consistent") {
    val rows = Similarity.lshMultiprobe(embs).collect()
      .map(r => r.getAs[String]("variant") -> r).toMap
    assert(rows.keySet === Set("single", "multiprobe"))
    val single = rows("single"); val multi = rows("multiprobe")
    // driver-side replay of the probe geometry: a candidate is probed
    // iff its bucket is within hamming distance <= 1 of the query's
    val bucketed = embs
      .select(col("vec_id"), Similarity.bucketCol(col("embedding"))
        .as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val qs = bucketed.filter(_._1 < Similarity.QueryCount)
    val cs = bucketed.filter(_._1 >= Similarity.QueryCount)
    val wantSingle = (for (q <- qs; c <- cs if q._2 == c._2) yield 1).size
    val wantMulti = (for (q <- qs; c <- cs
      if java.lang.Long.bitCount(q._2 ^ c._2) <= 1) yield 1).size
    assert(single.getAs[Long]("n_candidates") === wantSingle.toLong)
    assert(multi.getAs[Long]("n_candidates") === wantMulti.toLong)
    assert(wantSingle < wantMulti, "multiprobe probed nothing extra")
    for (v <- Seq(single, multi)) {
      assert(v.getAs[Long]("n_truth") ===
        Similarity.bruteTopK(embs).count())
      assert(v.getAs[Long]("recall_milli") ===
        v.getAs[Long]("n_hit") * 1000L / v.getAs[Long]("n_truth"))
    }
    assert(multi.getAs[Long]("n_hit") >= single.getAs[Long]("n_hit"),
      "extra probes lost recall")
  }

  test("vocab_coverage_curve: every (lang, K) row matches a driver-side " +
    "rank replay; the production-K rows equal vocab_coverage") {
    val got = query("vocab_coverage_curve").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("k_vocab")) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("oov_ppm"))).toMap
    val toks = docs.select(col("lang"), explode(split(col("text"), " "))
        .as("t")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rank = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }.map(_._1).zipWithIndex.toMap
    val langs = toks.map(_._1).distinct
    assert(got.keySet ===
      (for (l <- langs; k <- TextAnalysis.VocabLadder)
        yield (l, k.toLong)).toSet)
    for (l <- langs; k <- TextAnalysis.VocabLadder) {
      val mine = toks.filter(_._1 == l)
      val oov = mine.count(t => rank(t._2) >= k)
      val (n, o, ppm) = got((l, k.toLong))
      assert(n === mine.size.toLong, s"($l, $k)")
      assert(o === oov.toLong, s"($l, $k)")
      assert(ppm === oov.toLong * 1000000L / mine.size, s"($l, $k)")
    }
    // the K = VocabK rows ARE vocab_coverage's rows
    val prod = query("vocab_coverage").collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))).toMap
    prod.foreach { case (l, (n, o)) =>
      val (cn, co, _) = got((l, TextAnalysis.VocabK.toLong))
      assert((cn, co) === ((n, o)), l)
    }
  }

  test("embed_covariance: full upper-triangle grid, variances " +
    "non-negative, every entry equal to a driver-side two-pass " +
    "integer reference") {
    val dim = Similarity.Dim
    val got = Similarity.embedCovariance(embs).collect()
      .map(r => (r.getAs[Long]("dim_a"), r.getAs[Long]("dim_b")) ->
        r.getAs[Long]("cov_e12")).toMap
    assert(got.size === dim * (dim + 1) / 2)
    (0 until dim).foreach(d => assert(got((d.toLong, d.toLong)) >= 0L))
    // driver-side reference: e6 HALF_UP rounding, truncating integer
    // means, truncating integer covariance — the operator's contract
    val vecs = embs.select("embedding").collect().map(
      _.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => BigDecimal(x.toDouble * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
    val n = vecs.length
    val mean = Array.tabulate(dim)(d => vecs.map(_(d)).sum / n)
    for (a <- 0 until dim; b <- a until dim) {
      val sp = vecs.map(v => (v(a) - mean(a)) * (v(b) - mean(b))).sum
      assert(got((a.toLong, b.toLong)) === sp / n, s"pair ($a,$b)")
    }
  }

  test("anisotropy_audit: eigenvalue bounds hold, ratio is the declared " +
    "formula, and an independent integer replay reproduces every field") {
    val dim = Similarity.Dim
    val r = Similarity.anisotropyAudit(embs).collect() match {
      case Array(only) => only
    }
    val lambda = r.getAs[Long]("lambda1_e6")
    val trace = r.getAs[Long]("trace_e6")
    val ratio = r.getAs[Long]("anisotropy_ppm")
    assert(trace > 0L)
    // the Rayleigh quotient lower-bounds λ1 ≤ trace; after 8 rounds it
    // also clears the uniform bound λ1 ≥ trace/Dim (integer slack)
    assert(lambda > 0L && lambda <= trace)
    assert(ratio >= 1000000L / dim - 2000L)
    assert(ratio === lambda * 1000000L / math.max(trace, 1L))
    assert(r.getAs[Long]("v_l1") > 0L)
    val td = r.getAs[Long]("top_dim")
    assert(td >= 0L && td < dim)
    // independent replay of the documented recursion from the
    // covariance relation with plain Long arithmetic
    val m = Array.ofDim[Long](dim, dim)
    Similarity.embedCovariance(embs).collect().foreach { row =>
      val a = row.getLong(0).toInt; val b = row.getLong(1).toInt
      val c6 = row.getLong(2) / 1000000L
      m(a)(b) = c6; m(b)(a) = c6
    }
    def mul(v: Array[Long]) =
      Array.tabulate(dim)(a => (0 until dim).map(b => m(a)(b) * v(b)).sum)
    var v = Array.fill(dim)(1000000L)
    (1 to Similarity.PowerIters).foreach { _ =>
      val w = mul(v)
      val s = math.max(w.map(math.abs).max / 1000000L, 1L)
      v = w.map(_ / s)
    }
    val w = mul(v)
    val num = (0 until dim).map(a => v(a) * (w(a) / 1000000L)).sum
    val den = v.map(x => x * x).sum
    assert(lambda === num / math.max(den / 1000000L, 1L))
    assert(trace === (0 until dim).map(a => m(a)(a)).sum)
    assert(td === (0 until dim).minBy(a => (-math.abs(v(a)), a)).toLong)
    assert(r.getAs[Long]("v_l1") === v.map(math.abs).sum)
  }

  test("mmr_diversify: k distinct shortlist picks per query, the first " +
    "pick is the relevance argmax") {
    val got = Similarity.mmrDiversify(embs).collect()
    assert(got.length === Similarity.QueryCount * Similarity.MmrK)
    val brute = Similarity.bruteTopK(embs, k = Similarity.MmrShort + 2)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet).toMap
    (0L until Similarity.QueryCount).foreach { q =>
      val picks = got.filter(_.getAs[Long]("q_id") == q)
        .sortBy(_.getAs[Long]("rank"))
      assert(picks.map(_.getAs[Long]("rank")).toSeq ===
        (1L to Similarity.MmrK.toLong))
      val ids = picks.map(_.getAs[Long]("cand_id"))
      assert(ids.distinct.length === ids.length)
      // membership: every pick sits inside the exact shortlist (+2
      // buffer for e6-rounding ties at the cut)
      ids.foreach(id => assert(brute(q).contains(id), s"q=$q pick $id"))
      // pick 1 maximizes relevance: no later pick has higher sim_e6
      val s1 = picks.head.getAs[Long]("sim_e6")
      picks.tail.foreach(p => assert(p.getAs[Long]("sim_e6") <= s1))
    }
  }

  test("pq_subspace_balance: one row per subspace, shares sum to ~1e6, " +
    "variance mass matches the covariance diagonal") {
    val got = Similarity.pqSubspaceBalance(embs).collect()
      .map(r => r.getAs[Long]("subspace") ->
        (r.getAs[Long]("var_e12"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("balance_ppm"))).toMap
    assert(got.size === Similarity.PqM)
    val diag = Similarity.embedCovariance(embs).collect()
      .filter(r => r.getLong(0) == r.getLong(1))
      .groupBy(r => r.getLong(0) / Similarity.PqSubDim)
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val tot = diag.values.sum
    (0L until Similarity.PqM.toLong).foreach { s =>
      val (v, share, bal) = got(s)
      assert(v === diag(s), s"subspace $s")
      assert(share === v * 1000000L / math.max(tot, 1L))
      assert(bal === v * Similarity.PqM * 1000000L / math.max(tot, 1L))
    }
    val shareSum = got.values.map(_._2).sum
    assert(shareSum <= 1000000L &&
      shareSum >= 1000000L - Similarity.PqM)
  }

  test("pq_opq_balance: the snake permutation is a driver-replayable " +
    "bijection that contracts the subspace variance spread") {
    val got = Similarity.opqSubspaceBalance(embs).collect()
      .map(r => r.getAs[Long]("subspace") ->
        (r.getAs[Long]("plain_var_e12"), r.getAs[Long]("opq_var_e12"),
          r.getAs[Long]("plain_balance_ppm"),
          r.getAs[Long]("opq_balance_ppm"))).toMap
    assert(got.size === Similarity.PqM)
    val diag = Similarity.embedCovariance(embs).collect()
      .filter(r => r.getLong(0) == r.getLong(1))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // plain arm = the covariance diagonal grouped by olddim div SubDim
    (0L until Similarity.PqM.toLong).foreach { s =>
      val expected = diag.collect {
        case (d, v) if d / Similarity.PqSubDim == s => v
      }.sum
      assert(got(s)._1 === expected, s"plain subspace $s")
    }
    // snake replay: rank dims by (var desc, dim), deal serpentine
    val ranked = diag.toSeq.sortBy { case (d, v) => (-v, d) }.map(_._1)
    val opqVar = ranked.zipWithIndex
      .groupBy { case (_, r0) =>
        val round = r0 / Similarity.PqM
        val pos = r0 % Similarity.PqM
        if (round % 2 == 0) pos.toLong
        else Similarity.PqM - 1L - pos
      }
      .view.mapValues(_.map { case (d, _) => diag(d) }.sum).toMap
    (0L until Similarity.PqM.toLong).foreach { s =>
      assert(got(s)._2 === opqVar(s), s"opq subspace $s")
    }
    // the payoff: the OPQ profile deviates less from flat (1e6)
    val plainDev = got.values.map(v => math.abs(v._3 - 1000000L)).max
    val opqDev = got.values.map(v => math.abs(v._4 - 1000000L)).max
    assert(opqDev < plainDev,
      s"snake did not contract the spread: plain ±$plainDev opq ±$opqDev")
  }

  test("pq_recall_opq: one row per query, recall in range, consistent " +
    "with its hit counts") {
    val got = query("pq_recall_opq").collect()
    assert(got.length === Similarity.QueryCount)
    got.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= Similarity.TopK)
      assert(r.getAs[Long]("recall_milli") ===
        hits * 1000L / Similarity.TopK)
    }
  }

  test("knn_recall_probe: where the probe set covers the corpus the " +
    "ivf_blocked row equals the full gate's, and the LSH bridge never " +
    "loses hits") {
    val assign = Similarity.ivfAssign(embs).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("variant") ->
        (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hit"),
          r.getAs[Long]("recall_milli"))).toMap
    val full = rows(Similarity.knnRecallFrom(assign, embs))
    val probe = rows(Similarity.knnRecallProbeFrom(assign, embs))
    // sf0.01's candidate ids all sit below KnnProbeHi, so the probe
    // truth IS the full N² truth and the blocked arm is the same
    // construction. Coverage is an ID bound, not a count bound: with a
    // sparse id space a small corpus could still hold ids >= KnnProbeHi
    // that the probe set misses, making the equality below vacuous.
    assert(embs.agg(max("vec_id")).collect()(0).getLong(0)
      < Similarity.KnnProbeHi)
    assert(probe("ivf_blocked") === full("ivf_blocked"))
    // a superset candidate pool re-ranked by the same strict total
    // order can only keep or add true edges
    assert(probe("ivf_plus_lsh")._2 >= probe("ivf_blocked")._2)
  }

  test("probe-form kNN gates (graph/components/nn-descent/hubness) " +
    "equal the full gates where the probe set covers the corpus") {
    // same coverage precondition as the recall-probe pin: every
    // candidate id below KnnProbeHi means src-capping is a no-op, so
    // each probe form must reproduce its full gate VERBATIM — the
    // construction-identity that lets the probe rows carry the
    // family's amplified-tier evidence
    assert(embs.agg(max("vec_id")).collect()(0).getLong(0)
      < Similarity.KnnProbeHi)
    val assign = Similarity.ivfAssign(embs).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Similarity.knnGraphProbeFrom(assign, embs)) ===
      rows(Similarity.knnGraphFrom(assign, embs)))
    assert(rows(Similarity.knnComponentsProbeFrom(assign, embs)) ===
      rows(Similarity.knnComponentsFrom(assign, embs)))
    assert(rows(Similarity.nnDescentProbeFrom(assign, embs)) ===
      rows(Similarity.nnDescentFrom(assign, embs)))
    assert(rows(Similarity.hubnessAuditProbeFrom(assign, embs)) ===
      rows(Similarity.hubnessAuditFrom(assign, embs)))
  }

  test("OPQ lift on an anisotropic corpus: the snake's recall beats " +
    "plain trained PQ where the variance profile has a head") {
    // the generated test embeddings are near-isotropic i.i.d., so the
    // committed pq_recall_opq row is an honest NEGATIVE (rotation ≈
    // seed noise); this fixture — geometric per-dim variance decay,
    // ~80% of the distance mass in plain subspace 0 — is the corpus
    // the rotation exists for, and the lift must be real there
    val emb = AmplifyCorpus.anisotropicEmbeddings(spark, 512)
      .localCheckpoint()
    def sumHits(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("n_hits")).collect()(0).getLong(0)
    val c = Corpus("embeddings" -> emb)
    val plain = sumHits(query("pq_recall_trained", c))
    val opq = sumHits(query("pq_recall_opq", c))
    info(s"anisotropic corpus: plain trained-PQ hits=$plain, OPQ hits=$opq" +
      s" (of ${Similarity.QueryCount * Similarity.TopK})")
    assert(opq > plain,
      s"OPQ shows no lift on the anisotropic fixture: plain=$plain opq=$opq")
  }

  test("char_diversity: per-language rollup matches a driver-side " +
    "sliding-bigram replay") {
    val got = TextAnalysis.charDiversity(docs).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("min_div_ppm"),
          r.getAs[Long]("max_div_ppm"), r.getAs[Long]("mean_div_ppm")))
      .toMap
    val ref = docs.select("lang", "text").collect()
      .map(r => r.getString(0) -> {
        val t = r.getString(1)
        val bgs = if (t.length <= 2) Seq(t.take(2))
                  else t.sliding(2).toSeq
        bgs.distinct.size.toLong * 1000000L / bgs.size
      })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.keySet === ref.keySet)
    ref.foreach { case (lang, ds) =>
      val (n, mn, mx, mean) = got(lang)
      assert(n === ds.size.toLong)
      assert(mn === ds.min)
      assert(mx === ds.max)
      assert(mean === ds.sum / ds.size)
      assert(mn > 0L && mx <= 1000000L)
    }
  }

  test("rrf_fusion: fused scores equal the recomputed reciprocal-rank " +
    "sum over the three rankings, top-k per query complete") {
    def ranks(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Long]("rank")).toMap
    val systems = Seq(Similarity.bruteTopK(embs), Similarity.lshTopK(embs),
      Similarity.ivfTopK(embs)).map(ranks)
    def score(q: Long, c: Long): (Long, Long) = {
      val hits = systems.flatMap(_.get((q, c)))
      (hits.map(r => 1000000L / (Similarity.RrfK0 + r)).sum,
        hits.size.toLong)
    }
    val got = Similarity.rrfFusion(embs).collect()
    assert(got.length === Similarity.QueryCount * Similarity.TopK)
    got.foreach { r =>
      val (s, n) = score(r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))
      assert(r.getAs[Long]("rrf_e6") === s)
      assert(r.getAs[Long]("n_systems") === n)
    }
    // completeness: per query the fused set IS the top-k of the
    // recomputed score over every candidate any system returned
    (0L until Similarity.QueryCount).foreach { q =>
      val all = systems.flatMap(_.keys).filter(_._1 == q).map(_._2).distinct
      val want = all.map(c => (c, score(q, c)._1))
        .sortBy { case (c, s) => (-s, c) }
        .take(Similarity.TopK).map(_._1).toSet
      val have = got.filter(_.getAs[Long]("q_id") == q)
        .map(_.getAs[Long]("cand_id")).toSet
      assert(have === want, s"query $q")
    }
  }

  test("weighted_sample: exactly n rows, the cut is a true global " +
    "top-n, and token-heavy docs are over-represented") {
    val got = TextAnalysis.weightedSample(docs).collect()
    assert(got.length === TextAnalysis.WeightedSampleN)
    assert(got.map(_.getAs[Long]("doc_id")).distinct.length === got.length)
    // recompute every doc's priority with the operator's own
    // expressions minus the limit: the sample must be the global top-n
    val all = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("weight"),
        pmod(graft.functions.PortableHash.phash(
            concat(lit("wsample:"), col("doc_id").cast("string"))),
          lit(TextAnalysis.PriorityUnitMod)).as("u"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("weight"), r.getAs[Long]("u"))).toMap
    val want = all.toSeq
      .map { case (id, (w, u)) => (id, w * 1000000000000L / (u + 1L)) }
      .sortBy { case (id, p) => (-p, id) }
      .take(TextAnalysis.WeightedSampleN).map(_._1).toSet
    assert(got.map(_.getAs[Long]("doc_id")).toSet === want)
    got.foreach { r =>
      val (w, u) = all(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("weight") === w)
      assert(r.getAs[Long]("priority") === w * 1000000000000L / (u + 1L))
    }
    // weighted inclusion: the sampled mean token weight clears the
    // corpus mean (priority ∝ weight)
    val corpusMean = all.values.map(_._1).sum / all.size
    val sampleMean = got.map(_.getAs[Long]("weight")).sum / got.length
    assert(sampleMean > corpusMean)
  }

  test("hardNegatives: top-k other-label candidates, verified against a " +
    "driver-side exhaustive ranking") {
    val got = Similarity.hardNegatives(embs, k = 5).collect()
    val labels = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("q_label") === labels(r.getAs[Long]("q_id")))
      assert(r.getAs[Long]("c_label") === labels(r.getAs[Long]("cand_id")))
      assert(r.getAs[Long]("q_label") !== r.getAs[Long]("c_label"))
    }
    // exhaustive check for query 0: the chosen negatives ARE the
    // most-similar other-label candidates in exact cosine order
    val brute = Similarity.bruteTopK(embs, k = 1000).collect()
      .filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[Long]("cand_id"))
      .filter(c => labels(c) != labels(0L))
      .take(5)
    val q0 = got.filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cand_id"))
    assert(q0.toSeq === brute.toSeq)
  }

  test("ivfAssign: exactly one centroid list per candidate vector") {
    val assign = Similarity.ivfAssign(embs)
    assert(assign.count() ===
      embs.where(col("vec_id") >= Similarity.CentroidLo).count())
    assert(assign.select("vec_id").distinct().count() === assign.count())
    val cids = assign.select("centroid_id").distinct().collect().map(_.getLong(0))
    assert(cids.forall(c => c >= 0 && c < Similarity.NumCentroids))
  }

  test("ann_ivf overlaps brute-force top-k (probed recall is nontrivial)") {
    val brute = Similarity.bruteTopK(embs).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopK(embs).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    // every query returns k results and recall against the exact top-10
    // is well above chance (4/16 lists probed ⇒ ~25% baseline)
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(ivf.size === brute.size)
    assert(recall > 0.2, s"IVF recall vs brute top-10 = $recall")
  }

  test("embeddingNearDup finds planted near-duplicates and nothing on random data") {
    import spark.implicits._
    // random embeddings: no pairs at tau=0.95
    assert(Similarity.embeddingNearDup(embs).count() === 0)
    // planted: v and v+tiny-noise must pair up
    val base = Array.tabulate(Similarity.Dim)(i => math.sin(i).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f
    val far = Array.tabulate(Similarity.Dim)(i => math.cos(i * 3 + 1).toFloat)
    val planted = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val pairs = Similarity.embeddingNearDup(planted).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  // --- dedup ---

  /** Brute-force token-3-shingle Jaccard over all doc pairs. */
  private lazy val bruteJaccard: Map[(Long, Long), Double] = {
    val sh = docs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).split(" ")
      val shingles =
        if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
        else Set(r.getString(1))
      r.getLong(0) -> shingles
    }
    (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      inter = sa.intersect(sb).size
      if inter > 0
    } yield (ia, ib) -> inter.toDouble / (sa.size + sb.size - inter)).toMap
  }

  test("minhash LSH candidates have high recall on true near-dups (J >= 0.8)") {
    val trueDups = bruteJaccard.filter(_._2 >= 0.8).keySet
    val cands = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val missed = trueDups.diff(cands)
    assert(missed.isEmpty,
      s"LSH missed ${missed.size}/${trueDups.size} true near-dup pairs: $missed")
  }

  test("ngramJaccard computes exact Jaccard (milli) on candidate pairs") {
    val got = Dedup.ngramJaccard(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("j_milli")).toMap
    got.foreach { case (pair, jm) =>
      val expect = (bruteJaccard(pair) * 1000).toLong
      assert(jm === expect, s"pair $pair")
    }
  }

  test("mass-duplicate cluster: star pairs (linear), dedup keeps one copy") {
    import spark.implicits._
    val cluster = (1L to 100L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val other = Seq((200L,
      "completely different content with no overlap whatsoever here now"))
    val docs = (cluster ++ other).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs)
    // 100 identical docs > MaxQuadraticBucket ⇒ star: exactly 99 pairs
    assert(pairs.count() === 99)
    assert(pairs.where(col("doc_a") =!= 1L).count() === 0)
    val kept = query("dedup_apply", Corpus("documents" ->
      docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 200L))
  }

  test("minhashDedup keeps the smaller doc_id as canonical") {
    val d = Dedup.minhashDedup(docs).collect()
    assert(d.forall(r => r.getAs[Long]("keeper_doc_id") < r.getAs[Long]("dup_doc_id")))
    assert(d.forall(r => r.getAs[Long]("j_milli") >= Dedup.JaccardMilli))
  }

  test("incrementalDedup flags batch docs against the corpus only") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq(
      (10L, base),                       // batch (doc_id % 10 == 0), dup of 3
      (20L, "totally different text with nothing shared at all here now " +
        "one two three four five six seven eight nine ten"), // batch, novel
      (3L, base + " phi"),               // corpus near-dup of 10
      (7L, "unrelated corpus content entirely distinct from everything " +
        "eleven twelve thirteen fourteen fifteen sixteen seventeen")
    ).toDF("doc_id", "text")
    val out = query("dedup_incremental", Corpus("documents" -> df)).collect()
    // batch doc 10 matches corpus doc 3; nothing pairs batch 20,
    // and no corpus×corpus or batch×batch rows exist
    assert(out.forall(r => r.getAs[Long]("batch_doc_id") % 10 == 0))
    assert(out.forall(r => r.getAs[Long]("corpus_doc_id") % 10 != 0))
    val dup = out.filter(_.getAs[String]("is_dup") == "true")
    assert(dup.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((10L, 3L)))
  }

  test("incrementalDedup prunes mass-duplicate corpus buckets to one witness") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = (1L to 100L).filterNot(_ % 10 == 0).map(i => (i, text))
    val batch = Seq((10L, text))
    val df = (corpus ++ batch).toDF("doc_id", "text")
    val out = query("dedup_incremental", Corpus("documents" -> df)).collect()
    // 90 identical corpus docs exceed MaxQuadraticBucket: the batch doc
    // pairs with exactly the smallest corpus witness, not all 90
    assert(out.length === 1)
    assert(out.head.getLong(0) === 10L && out.head.getLong(1) === 1L)
    assert(out.head.getAs[String]("is_dup") === "true")
  }

  test("ivfTrainStep: exact integer means, consistent membership counts") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val out = Similarity.ivfTrainStep(emb).collect()
    val dims = out.map(_.getAs[Long]("dim")).distinct.length
    // every populated centroid has one row per dimension with the SAME
    // member count across dimensions
    out.groupBy(_.getAs[Long]("centroid_id")).foreach { case (_, rs) =>
      assert(rs.length === dims)
      assert(rs.map(_.getAs[Long]("n_members")).distinct.length === 1)
    }
    // total membership equals the assignment relation, per dimension
    val assigned = Similarity.ivfAssign(emb).count()
    assert(out.map(_.getAs[Long]("n_members")).sum === assigned * dims)
    // means stay inside the e6-scaled coordinate range
    assert(out.forall(r => math.abs(r.getAs[Long]("mean_e6")) <= 2000000L))
  }

  test("simhash of identical texts is identical; near-dup texts are close") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, t), (2L, t), (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDedup(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  // --- text analysis ---

  test("textStats aggregates reconcile with direct counts") {
    val st = TextAnalysis.textStats(docs)
    assert(st.agg(sum("n_docs")).collect().head.getLong(0) === docs.count())
    val sumChars = st.agg(sum("sum_chars")).collect().head.getLong(0)
    val direct = docs.agg(sum(length(col("text")))).collect().head.getLong(0)
    assert(sumChars === direct)
  }

  test("docFingerprint: same normalized content ⇒ same fp") {
    import spark.implicits._
    val df = Seq((1L, "Hello,  World!"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.docFingerprint(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("winnowing: docs sharing a long run share a fingerprint; disjoint docs don't") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, s"one two three four five $shared"),
      (2L, s"$shared six seven eight nine ten"),
      (3L, "completely unrelated words without any common run at all yes")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprintsFrom(
      Staged.tokens(Corpus("documents" -> df)).winnow).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // shared run of 10 tokens >= w+k-1 = 8 ⇒ guaranteed common fingerprint
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(1L).intersect(fps(3L)).isEmpty)
    // winnowing matches a naive reference implementation
    def naive(text: String): Set[Long] = {
      val toks = text.split(" ")
      val hashes = toks.sliding(TextAnalysis.WinnowK)
        .map(g => graft.functions.PortableHash.md5Long(g.mkString(" ")))
        .toArray
      hashes.sliding(TextAnalysis.WinnowW).map(_.min).toSet
    }
    assert(fps(1L) === naive(s"one two three four five $shared"))
  }

  test("contamination check flags docs sharing a long run with the eval shard") {
    import spark.implicits._
    val run = "one two three four five six seven eight nine ten"
    val df = Seq(
      (1L, s"$run eleven twelve thirteen", "src0"), // eval-set doc
      (2L, s"prefix words $run suffix words", "src1"), // contaminated: shared 10-token run ≥ w+k−1
      (3L, "totally different content with no common run at all here now", "src2")
    ).toDF("doc_id", "text", "source")
    val out = query("contamination_check", Corpus("documents" -> df)).collect()
    assert(out.map(_.getLong(0)).toSet === Set(2L))
    assert(out.head.getAs[Long]("n_eval_docs") === 1L)
    assert(out.head.getAs[Long]("n_shared_fps") >= 1L)
  }

  test("piiScrub detects and redacts synthetic PII") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at alice.smith@example.com or 555-123-4567 thanks"),
      (2L, "ssn is 123-45-6789 email bob@test.org"),
      (3L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(df).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
          r.getAs[Long]("n_ssns"))).toMap
    assert(out(1L) === ((1L, 1L, 0L)))
    assert(out(2L) === ((1L, 0L, 1L)))
    assert(out(3L) === ((0L, 0L, 0L)))
  }

  test("tokenTopK returns k most frequent tokens in order") {
    val top = TextAnalysis.tokenTopKFrom(
      Staged.tokens(spark, TestSpark.Sf).freq, k = 5).collect()
    assert(top.length === 5)
    val counts = top.map(_.getAs[Long]("n"))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("stratified sample honors per-language rates and is deterministic") {
    val s1 = TextAnalysis.stratifiedSample(docs).collect()
    val s2 = TextAnalysis.stratifiedSample(docs).collect()
    assert(s1.map(r => (r.getLong(0), r.getString(4))).toMap ===
      s2.map(r => (r.getLong(0), r.getString(4))).toMap) // reproducible
    s1.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val rate = TextAnalysis.SampleRateMilli
        .getOrElse(lang, TextAnalysis.DefaultRateMilli).toDouble / 1000
      val kept = rs.count(_.getString(4) == "true").toDouble / rs.length
      assert(math.abs(kept - rate) < 0.15,
        s"$lang: kept $kept expected ~$rate over ${rs.length} docs")
    }
  }

  test("split assignment partitions every doc into exactly one split") {
    val sa = TextAnalysis.splitAssign(docs).collect()
    assert(sa.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val bySplit = sa.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    // 98/1/1 — train dominates, val/test exist but stay small
    assert(bySplit("train") > bySplit.getOrElse("val", 0L) * 20)
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
  }

  test("dedupExact groups every doc exactly once") {
    val d = TextAnalysis.dedupExact(docs)
    assert(d.agg(sum("n_copies")).collect().head.getLong(0) === docs.count())
  }

  // --- multimodal ---

  test("multimodal decode plumbing: per-partition batch decode parses " +
    "the real PPM payloads") {
    val images = Multimodal.imageTable(docs)
    val feats = Multimodal.decodeFeatures(spark, images)
    assert(feats.count() === docs.count())
    val byteLens = feats.toDF().select("doc_id", "byte_len").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = images
      .select(col("doc_id"), octet_length(col("payload")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byteLens === expected)
    // partitioning is preserved (no repartition to 1 / driver collect)
    assert(feats.rdd.getNumPartitions === images.rdd.getNumPartitions)
  }

  test("frameSample fans out to every-Nth fixed-size chunk, capped") {
    val media = Multimodal.mediaTable(docs)
    val frames = Multimodal.frameSample(spark, media,
      frameBytes = 100, everyN = 3, maxFrames = 8).collect()
    val lenById = docs.select(col("doc_id"), length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = frames.groupBy(_.doc_id)
    byDoc.foreach { case (id, fs) =>
      val nChunks = (lenById(id) + 99) / 100
      val expected = math.min((nChunks + 2) / 3, 8L)
      assert(fs.length.toLong === expected, s"doc $id")
      assert(fs.forall(_.frame_idx % 3 == 0))
      assert(fs.forall(_.frame_bytes.length <= 100))
    }
  }

  test("resizeMeta preserves aspect ratio cap") {
    val resized = Multimodal.resizeMeta(Multimodal.mediaTable(docs)).collect()
    resized.foreach { r =>
      val (w, h) = (r.getAs[Long]("width"), r.getAs[Long]("height"))
      val (ow, oh) = (r.getAs[Long]("out_width"), r.getAs[Long]("out_height"))
      if (math.max(w, h) <= 224) assert(ow === w && oh === h)
      else {
        assert(math.max(ow, oh) <= 224)
        assert(ow === w * 224 / math.max(w, h))
      }
    }
  }

  test("dupClusters merges a transitive chain A~B~C into one cluster") {
    import spark.implicits._
    // sliding 20-token windows over w1..w26: A~B and B~C have 3-shingle
    // Jaccard ~0.71 (dup), A~C ~0.50 (below threshold) — only
    // transitivity puts all three in one cluster
    def text(from: Int) = (from until from + 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, text(1)), (2L, text(4)), (3L, text(7)),
      (50L, text(100)), (51L, text(103)),   // a second, separate cluster
      (99L, text(400))                      // matches nothing
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(df).collect()
      .map(r => (r.getAs[Long]("keeper_doc_id"), r.getAs[Long]("dup_doc_id"))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L), (50L, 51L)), s"pairs were $pairs")
    val got = query("dup_cluster", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"))).toMap
    assert(got === Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      50L -> (50L, 2L), 51L -> (50L, 2L)))
  }

  test("connectedComponents converges on a 200-long chain (diameter far " +
    "past any fixed small round count) and on disjoint components") {
    import spark.implicits._
    // a path graph 0-1-2-…-200: plain min-label propagation moves the
    // min ONE hop per round, so a fixed 10-round fold would leave most
    // of the chain mislabeled; pointer jumping + the convergence gate
    // must label every node 0 within the round cap
    val chain = (0L until 200L).map(i => (i, i + 1))
    val extra = Seq((1000L, 2000L), (2000L, 3000L)) // separate component
    val labels = Dedup
      .connectedComponents((chain ++ extra).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 204)
    (0L to 200L).foreach(i => assert(labels(i) === 0L, s"node $i"))
    Seq(1000L, 2000L, 3000L).foreach(i => assert(labels(i) === 1000L))
  }

  test("connectedComponents stops early on a near-clique graph (the " +
    "early-stop gate, not the 16-round cap, bounds real dup graphs)") {
    import spark.implicits._
    // a 40-member mass-dup star + a clique-ish triangle: plain
    // propagation converges in 1-2 rounds; the gate must stop within
    // 3 (propagate, confirm, at most one jump round) — the old fixed
    // form always paid 10
    val star = (2L to 40L).map(i => (1L, i))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val (labDf, rounds) = Dedup
      .connectedComponentsWithRounds((star ++ tri).toDF("a", "b"))
    val labels = labDf
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 43)
    assert((1L to 40L).forall(labels(_) == 1L))
    assert(Seq(100L, 101L, 102L).forall(labels(_) == 100L))
    assert(rounds <= 3,
      s"gate ran $rounds rounds on a near-clique graph")
  }

  test("connectedComponents matches a driver-side union-find on seeded " +
    "random graphs (differential check of the gated loop)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xC0FFEE)
    (1 to 4).foreach { trial =>
      val nodes = 20 + rnd.nextInt(20)
      val edges = (1 to (nodes + rnd.nextInt(nodes)))
        .map(_ => (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
      // union-find ground truth
      val parent = Array.tabulate(nodes)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = inGraph.map(n => n ->
        inGraph.filter(m => find(m.toInt) == find(n.toInt)).min).toMap
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial $trial: nodes=$nodes edges=$edges")
    }
  }

  test("gopherQuality flags repetition and keeps diverse in-band docs") {
    import spark.implicits._
    val diverse = (1 to 30).map(i => f"w$i%02d").mkString(" ") // 30 × len-3
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, diverse)).toDF("doc_id", "text")
    val rows = query("quality_gopher", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val rep = rows(1L)
    assert(rep.getAs[Long]("n_tokens") === 6L)
    assert(rep.getAs[Long]("distinct_milli") === 166L)
    assert(rep.getAs[Long]("top2gram_milli") === 1000L) // all grams "spam spam"
    assert(rep.getAs[String]("keep") === "false")
    val div = rows(2L)
    assert(div.getAs[Long]("distinct_milli") === 1000L)
    assert(div.getAs[Long]("mean_len_milli") === 3000L)
    assert(div.getAs[Long]("top2gram_milli") === 1000L / 29)
    assert(div.getAs[String]("keep") === "true")
  }

  test("docRarity: boilerplate scores common, outliers score rare") {
    import spark.implicits._
    val df = Seq((1L, "c c c"), (2L, "c r")).toDF("doc_id", "text")
    val got = query("doc_rarity", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("mean_tf_milli"), r.getAs[Long]("min_tf"))).toMap
    assert(got(1L) === (4000L, 4L)) // 'c' appears 4× corpus-wide
    assert(got(2L) === (2500L, 1L)) // (4+1)/2 tokens; rarest tf = 1
  }

  test("docChunks: overlap-strided windows cover every token") {
    import spark.implicits._
    val n = 150
    val df = Seq((1L, (1 to n).map(i => s"w$i").mkString(" ")),
      (2L, "tiny doc")).toDF("doc_id", "text")
    val chunks = TextAnalysis.docChunks(df).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // 150 tokens, C=64, stride=56 ⇒ 1 + ceil(86/56) = 3 chunks
    val big = chunks(1L).sortBy(_.getAs[Long]("chunk_idx"))
    assert(big.length === 3)
    assert(big.map(_.getAs[Long]("start_tok")).toSeq === Seq(0L, 56L, 112L))
    assert(big.map(_.getAs[Long]("chunk_len")).toSeq === Seq(64L, 64L, 38L))
    // coverage: last chunk reaches the last token
    assert(big.last.getAs[Long]("start_tok") +
      big.last.getAs[Long]("chunk_len") === n.toLong)
    // consecutive chunks overlap by ChunkOverlap
    assert(big(0).getAs[Long]("start_tok") + TextAnalysis.ChunkTokens -
      big(1).getAs[Long]("start_tok") === TextAnalysis.ChunkOverlap)
    assert(chunks(2L).length === 1)
    assert(chunks(2L).head.getAs[Long]("chunk_len") === 2L)
  }

  test("packSequences: per-shard offsets are contiguous and bin-consistent") {
    import spark.implicits._
    val df = (1 to 20).map(i =>
      (i.toLong, "en", "web", (1 to 100).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
    val packed = TextAnalysis.packSequences(df).collect()
      .sortBy(_.getAs[Long]("doc_id"))
    packed.zipWithIndex.foreach { case (r, i) =>
      val startOff = i * 100L
      assert(r.getAs[Long]("bin") === startOff / TextAnalysis.SeqLen)
      assert(r.getAs[Long]("bin_offset") === startOff % TextAnalysis.SeqLen)
    }
  }

  test("distDrift: planted eval-only token tops the drift ranking") {
    import spark.implicits._
    val common = "alpha beta gamma delta"
    val df = ((1 to 20).map(i => (i.toLong, "train", common)) :+
      (99L, TextAnalysis.EvalSource, "zeta zeta zeta zeta"))
      .map { case (id, src, text) => (id, text, src) }
      .toDF("doc_id", "text", "source")
    val top = query("dist_drift", Corpus("documents" -> df)).collect()
    assert(top.head.getAs[String]("token") === "zeta")
    assert(top.head.getAs[Long]("eval_ppm") === 1000000L)
    assert(top.head.getAs[Long]("train_ppm") === 0L)
  }

  test("sourceRollup reconciles with per-doc gopherQuality") {
    val roll = query("source_rollup").collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val perDoc = query("quality_gopher")
      .join(docs.select("doc_id", "source"), "doc_id")
      .collect().groupBy(_.getAs[String]("source"))
    assert(roll.keySet === perDoc.keySet)
    perDoc.foreach { case (src, rows) =>
      assert(roll(src).getAs[Long]("n_docs") === rows.length.toLong)
      assert(roll(src).getAs[Long]("n_keep") ===
        rows.count(_.getAs[String]("keep") == "true").toLong)
    }
  }

  test("spanDedup removes exactly the cross-doc repeated spans") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")   // one full span
    val uniq = (id: Int) => (1 to 10).map(i => s"u${id}_$i").mkString(" ")
    // docs 1..3 share the boilerplate span + a unique span; doc 4 is
    // all-unique
    val df = ((1 to 3).map(i => (i.toLong, s"$boiler ${uniq(i)}")) :+
      (4L, s"${uniq(40)} ${uniq(41)}"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.spanDedup(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    (1L to 3L).foreach { id =>
      assert(got(id).getAs[Long]("n_spans") === 2L)
      assert(got(id).getAs[Long]("n_removed") === 1L)
      assert(got(id).getAs[Long]("kept_tokens") === 10L)
    }
    assert(got(4L).getAs[Long]("n_removed") === 0L)
    assert(got(4L).getAs[Long]("kept_tokens") === 20L)
    // kept hash = hash of the doc minus the boilerplate span
    assert(got(1L).getAs[Long]("kept_hash") ===
      graft.functions.PortableHash.md5Long(uniq(1)))
  }

  test("bpeMergeStep counts vocabulary pairs weighted by token frequency") {
    import spark.implicits._
    // "ab" appears in 'abc' (20 docs) and 'ab' (1 doc) → 21
    val df = ((1 to 20).map(i => (i.toLong, "abc xy")) :+ (21L, "ab xy"))
      .toDF("doc_id", "text")
    val got = query("bpe_merge", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toMap
    assert(got("ab") === 21L)
    assert(got("bc") === 20L)
    assert(got("xy") === 21L)
  }

  test("tokenBudget: selection is quality-descending and budget-bounded") {
    val sel = query("token_budget").collect()
    val byLang = sel.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      val selected = rows.filter(_.getAs[String]("selected") == "true")
      val selTokens = selected.map(_.getAs[Long]("n_tokens")).sum
      assert(selTokens <= TextAnalysis.TokenBudget, s"$lang over budget")
      // no unselected doc strictly dominates a selected one
      val minSelQ = if (selected.isEmpty) Long.MaxValue
        else selected.map(_.getAs[Long]("quality_milli")).min
      rows.filter(_.getAs[String]("selected") == "false").foreach { r =>
        assert(r.getAs[Long]("quality_milli") <= minSelQ,
          s"$lang skipped a higher-quality doc")
      }
    }
  }

  test("epochShuffle: permutations differ across epochs, positions are dense") {
    val rows = TextAnalysis.epochShuffle(docs).collect()
    val nDocs = docs.count()
    assert(rows.length === nDocs * TextAnalysis.NumEpochs)
    val byEpochShard = rows.groupBy(r =>
      (r.getAs[Long]("epoch"), r.getAs[Long]("shard")))
    byEpochShard.foreach { case ((e, s), rs) =>
      val ps = rs.map(_.getAs[Long]("pos")).sorted
      assert(ps === (1L to rs.length.toLong).toArray, s"epoch $e shard $s")
    }
    // the shard assignment of a given doc varies across epochs
    val shardsOfDoc = rows.groupBy(_.getAs[Long]("doc_id"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("shard")).distinct.length }
    assert(shardsOfDoc.exists(_ > 1))
  }

  test("vocabCoverage: OOV tokens are exactly those outside the top-K") {
    import spark.implicits._
    // 26 distinct tokens; 'z9' is rarest → outside a 25-wide vocab
    val common = (1 to 25).map(i => s"w$i").mkString(" ")
    val df = ((1 to 5).map(i => (i.toLong, "en", common)) :+
      (9L, "de", s"$common z9")).toDF("doc_id", "lang", "text")
    val got = query("vocab_coverage", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(got("en").getAs[Long]("n_oov") === 0L)
    assert(got("de").getAs[Long]("n_oov") === 1L)
    assert(got("de").getAs[Long]("n_tokens") === 26L)
  }

  test("semanticDedup pairs stay within one centroid list and match cosine") {
    val pairs = query("semantic_dedup").collect()
    assert(pairs.nonEmpty)
    val assign = Similarity.ivfAssign(embs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("keep_vec_id"), r.getAs[Long]("dup_vec_id"))
      assert(a < b)
      assert(assign(a) === r.getAs[Long]("centroid_id"))
      assert(assign(b) === r.getAs[Long]("centroid_id"))
      assert(r.getAs[Long]("sim_e6") >= Similarity.SemTauE6)
    }
  }

  test("ngramLmScore: repeated transitions score 1e6, unique ones split mass") {
    import spark.implicits._
    // 'x y' appears in every doc → p(y|x)=1e6; doc 9's 'x z' makes
    // p(z|x) = 1/11 of the x-prefix mass
    val df = ((1 to 10).map(i => (i.toLong, "x y")) :+ (11L, "x z"))
      .toDF("doc_id", "text")
    val got = query("ngram_lm_score", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("mean_p_ppm") === 10000000L / 11)
    assert(got(11L).getAs[Long]("mean_p_ppm") === 1000000L / 11)
  }

  test("qualityClassify: score is bias + mean token weight") {
    import spark.implicits._
    val df = Seq((1L, "spark fast"), (2L, "dup dup dup"), (3L, "zzz zzz"))
      .toDF("doc_id", "text")
    val got = query("quality_classify", Corpus("documents" -> df)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("score_milli") ===
      TextAnalysis.ClassifierBias + (300L + 250L) / 2)
    assert(got(1L).getAs[String]("keep") === "true")
    assert(got(2L).getAs[Long]("score_milli") ===
      TextAnalysis.ClassifierBias - 800L)
    assert(got(2L).getAs[String]("keep") === "false")
    // unknown tokens weigh 0
    assert(got(3L).getAs[Long]("score_milli") === TextAnalysis.ClassifierBias)
  }

  test("datasetCard: one-row manifest reconciles with the parts") {
    val card = TextAnalysis.datasetCard(docs).collect()
    assert(card.length === 1)
    val r = card.head
    assert(r.getAs[Long]("n_docs") === docs.count())
    assert(r.getAs[Long]("n_langs") ===
      docs.select("lang").distinct().count())
    val exactDups = docs.count() -
      docs.select(md5(col("text").cast("binary"))).distinct().count()
    assert(r.getAs[Long]("n_exact_dups") === exactDups)
  }

  test("substringDedup: a planted shared run is covered, the rest is not") {
    import spark.implicits._
    val l = Dedup.SubstrL
    val shared = (1 to l).map(i => s"s$i").mkString(" ")
    val uniq = (id: Int) => (1 to 5).map(i => s"u${id}_$i").mkString(" ")
    val df = Seq(
      (1L, s"${uniq(1)} $shared"),
      (2L, s"$shared ${uniq(2)}"),
      (3L, uniq(3) + " " + uniq(30) + " " + uniq(31))).toDF("doc_id", "text")
    val got = Dedup.substringDedup(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_covered") === l.toLong)
    assert(got(1L).getAs[Long]("n_tokens") === l + 5L)
    assert(got(2L).getAs[Long]("n_covered") === l.toLong)
    assert(got(3L).getAs[Long]("n_covered") === 0L)
  }

  test("pqEncode: codes are nearest codebook entries, error reconciles") {
    val rows = Similarity.pqEncode(embs).collect()
    val vecs = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(rows.length === vecs.size)
    rows.take(20).foreach { r =>
      val v = vecs(r.getAs[Long]("vec_id"))
      var errE9 = 0L
      for (m <- 0 until Similarity.PqM) {
        val dists = (0 until Similarity.PqK).map { k =>
          val d2 = (0 until Similarity.PqSubDim).map { d =>
            val x = v(m * Similarity.PqSubDim + d).toDouble -
              Similarity.pqCodebook(m)(k)(d)
            x * x
          }.sum
          math.round(d2 * 1e9) -> k.toLong
        }
        val (bd, bk) = dists.min
        assert(r.getAs[Long](s"c$m") === bk)
        errE9 += bd
      }
      assert(r.getAs[Long]("err_e6") === errE9 / 1000)
    }
  }

  test("pqSearch: ADC distances reconcile with LUT sums; ranks dense per query") {
    val res = Similarity.pqSearch(embs).collect()
    val byQ = res.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === Similarity.QueryCount)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted ===
        (1L to Similarity.TopK.toLong).toArray)
      // ranks follow ascending approximate distance
      assert(rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("dist_e9"))
        .sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("tfidfTopK: distinctive tokens outrank common ones") {
    import spark.implicits._
    // 'rare' appears only in doc 1; 'common' in all docs
    val df = ((1L, "rare common common") +:
      (2 to 10).map(i => (i.toLong, "common common filler")))
      .toDF("doc_id", "text")
    val top = query("tfidf_topk", Corpus("documents" -> df))
      .where(col("doc_id") === 1L).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(top.head.getAs[String]("token") === "rare")
    assert(top.head.getAs[Long]("df") === 1L)
    assert(top.head.getAs[Long]("tfidf_ppm") === 1000000L)
  }

  test("pqRecall: hits are the intersection of ADC and exact-L2 top-k") {
    val got = query("pq_recall").collect()
    assert(got.length === Similarity.QueryCount)
    got.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= Similarity.TopK.toLong)
      assert(r.getAs[Long]("recall_milli") ===
        h * 1000L / Similarity.TopK)
    }
  }

  test("ivfRecall beats pqRecall on this corpus (probing loses less than " +
    "an untrained codebook)") {
    val ivf = query("ivf_recall").collect()
      .map(_.getAs[Long]("n_hits")).sum
    val pq = query("pq_recall").collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(ivf >= pq)
    assert(ivf > 0L)
  }

  test("pqTrain: full codebook grid, members reconcile to the corpus, " +
    "training lifts recall materially over the untrained literals") {
    val rel = query("pq_train").collect()
    assert(rel.length ===
      Similarity.PqM * Similarity.PqK * Similarity.PqSubDim)
    // per (m, dim): every candidate vector sits in exactly one codeword
    val nCand = embs.where(col("vec_id") >= Similarity.QueryCount).count()
    rel.groupBy(r => (r.getAs[Long]("m"), r.getAs[Long]("dim")))
      .foreach { case (_, rows) =>
        assert(rows.map(_.getAs[Long]("n_members")).sum === nCand)
      }
    val untrained = query("pq_recall").collect()
      .map(_.getAs[Long]("recall_milli"))
    val trained = query("pq_recall_trained").collect()
      .map(_.getAs[Long]("recall_milli"))
    assert(trained.length === Similarity.QueryCount)
    // measured at sf0.001: 25 untrained vs 237 trained mean milli
    // (4 Lloyd rounds) — gate well inside that
    assert(trained.sum > untrained.sum,
      s"no lift: trained=${trained.toSeq} untrained=${untrained.toSeq}")
    assert(trained.sum / trained.length >= 150L,
      s"trained recall too low: ${trained.toSeq}")
  }

  test("pqRecallCurve: one row per codebook stage, final row equals the " +
    "trained gate, training lifts over the Forgy seed") {
    val curve = query("pq_recall_curve").collect()
      .sortBy(_.getAs[Long]("iters"))
    assert(curve.map(_.getAs[Long]("iters")).toSeq ===
      (0L to Similarity.PqTrainIters.toLong))
    val trained = query("pq_recall_trained").collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(curve.last.getAs[Long]("sum_hits") === trained,
      "curve's final stage disagrees with pq_recall_trained")
    // the trained end of the curve must beat the untrained seed
    assert(curve.last.getAs[Long]("mean_recall_milli") >
      curve.head.getAs[Long]("mean_recall_milli") ||
      curve.last.getAs[Long]("sum_hits") > curve.head.getAs[Long]("sum_hits"),
      curve.mkString(", "))
  }

  test("pqRerankCurve: R=TopK row equals the trained gate (re-ranking " +
    "the ADC top-k reorders, never changes, the set) and recall is " +
    "monotone in R") {
    val curve = query("pq_rerank_curve").collect()
      .sortBy(_.getAs[Long]("rerank_r"))
    assert(curve.map(_.getAs[Long]("rerank_r")).toSeq ===
      Similarity.RerankRs.map(_.toLong))
    val trained = query("pq_recall_trained").collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(curve.head.getAs[Long]("sum_hits") === trained,
      "R=TopK anchor disagrees with pq_recall_trained")
    val hits = curve.map(_.getAs[Long]("sum_hits")).toSeq
    assert(hits === hits.sorted, s"recall not monotone in R: $hits")
    // a genuinely widened shortlist must help on this corpus
    assert(hits.last > hits.head, s"no re-rank lift: $hits")
  }

  test("pqRecallResidual: per-query recall shape, hits bounded by k") {
    val got = query("pq_recall_residual").collect()
    assert(got.length === Similarity.QueryCount)
    got.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= Similarity.TopK.toLong)
      assert(r.getAs[Long]("recall_milli") === h * 1000L / Similarity.TopK)
    }
  }

  test("shardBalance: totals reconcile and deviations sum to ~0") {
    val rows = TextAnalysis.shardBalance(docs).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val dev = rows.map(_.getAs[Long]("dev_ppm")).sum
    // integer-div truncation leaves at most ~1 ppm per shard
    assert(math.abs(dev) <= TextAnalysis.OutShards * 2)
  }

  test("pmiPairs: a planted exclusive pair tops the lift ranking") {
    import spark.implicits._
    // 'aa bb' always co-occur (exclusively); 'xx yy zz' mix freely
    val df = ((1 to 10).map(i => (i.toLong, "aa bb xx yy")) ++
      (11 to 20).map(i => (i.toLong, "xx zz yy xx"))).toDF("doc_id", "text")
    val top = query("pmi_pairs", Corpus("documents" -> df)).collect()
    val head = top.head
    assert((head.getAs[String]("w1"), head.getAs[String]("w2")) ===
      ("aa", "bb"))
    // exclusive pair: c12=10, c1=10, c2=10, N=80 → lift 8e6
    assert(head.getAs[Long]("lift_ppm") === 8000000L)
  }

  test("bpeApplyStep: compression reconciles with the top pair's mass") {
    val r = query("bpe_apply").collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("tokens_affected") > 0L)
    // each replaced occurrence saves exactly one character
    assert(row.getAs[Long]("chars_after") < row.getAs[Long]("chars_before"))
    val saved = row.getAs[Long]("chars_before") - row.getAs[Long]("chars_after")
    // saved chars ≤ the pair's counted mass (overlaps reduce it)
    assert(saved <= row.getAs[Long]("pair_n"))
  }

  test("bpe_train_curve: 8 composing rounds — round 1 agrees with the " +
    "single-step trainer, compression is monotone, pair mass bounds " +
    "each round's saving") {
    val curve = query("bpe_train_curve").collect()
      .sortBy(_.getAs[Long]("iter"))
    assert(curve.map(_.getAs[Long]("iter")).toSeq ===
      (1L to TextAnalysis.BpeTrainRounds.toLong))
    // round 1 IS bpeApplyStep's pick
    val one = query("bpe_apply").collect().head
    assert(curve.head.getAs[String]("pair") === one.getAs[String]("pair"))
    assert(curve.head.getAs[Long]("pair_n") === one.getAs[Long]("pair_n"))
    assert(curve.head.getAs[Long]("chars_after") ===
      one.getAs[Long]("chars_after"))
    // each round strictly compresses, by at most its pair mass
    var prev = one.getAs[Long]("chars_before")
    curve.foreach { r =>
      val after = r.getAs[Long]("chars_after")
      assert(after < prev, s"round ${r.getAs[Long]("iter")} did not " +
        "compress")
      assert(prev - after <= r.getAs[Long]("pair_n"))
      prev = after
    }
    // composition actually happens: some later round's winning pair
    // contains an earlier round's merge symbol (true iterated BPE, not
    // eight independent merges) — private-use plane chars >= U+E000
    assert(curve.tail.exists(_.getAs[String]("pair")
      .exists(_ >= 0xE000.toChar)))
  }

  test("mass-duplicate bucket degrades to star pairs — O(B), never O(B²)") {
    import spark.implicits._
    // 500 identical docs land in ONE bucket per band: all-pairs would
    // be 500·499/2 ≈ 125k rows on one reducer; the star cap keeps the
    // candidate set linear (keeper ↔ member) and dedup still removes
    // every copy transitively through the keeper
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = (1 to 500).map(i => (i.toLong, text)).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(df).count() === 499L)
    val dups = Dedup.minhashDedup(df).collect()
    assert(dups.length === 499L)
    assert(dups.forall(_.getAs[Long]("keeper_doc_id") === 1L))
    assert(dups.forall(_.getAs[Long]("j_milli") === 1000L))
  }

  test("scale gate: a 10^5-copy bucket stays linear in rows and reducer " +
    "state (star candidates via the profile join, no bucket array)") {
    import spark.implicits._
    val b = 100000
    // <3 tokens → one whole-text shingle per doc: the signature build
    // is trivial, so the stress is purely the 10^5-member bucket every
    // band produces. The old single-pass shape would collect a
    // 10^5-element array per band on one reducer; the two-phase shape
    // joins (keeper, member) rows — nothing here scales past O(B) rows.
    val df = (1 to b).map(i => (i.toLong, "copy pasta"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(df).count() === (b - 1).toLong)
    val sim = Dedup.simhashDedup(df)
    assert(sim.count() === (b - 1).toLong)
  }

  test("mixWeights: capped-proportional shares sum to ~1e6") {
    import spark.implicits._
    val df = ((1 to 40).map(i => (i.toLong, "en", "web", "a b c")) ++
      (41 to 50).map(i => (i.toLong, "de", "book", "x y")))
      .toDF("doc_id", "lang", "source", "text")
    val got = TextAnalysis.mixWeights(df).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) -> r).toMap
    val en = got(("en", "web"))
    assert(en.getAs[Long]("n_docs") === 40L)
    assert(en.getAs[Long]("weight") === TextAnalysis.MixCap) // capped
    assert(en.getAs[Long]("n_tokens") === 120L)
    assert(en.getAs[Long]("share_ppm") === 750000L)          // 30 / 40
    val de = got(("de", "book"))
    assert(de.getAs[Long]("weight") === 10L)                 // uncapped
    assert(de.getAs[Long]("share_ppm") === 250000L)
    assert(got.values.map(_.getAs[Long]("share_ppm")).sum === 1000000L)
  }

  test("minhash_est_error: identical docs estimate 1000, disjoint docs 0") {
    import spark.implicits._
    val same = "a b c d e f g h i j"
    val other = "q r s t u v w x y z"
    val df = Seq((1L, same), (2L, same), (3L, other), (4L, other))
      .toDF("doc_id", "text")
    val rows = query("minhash_est_error", Corpus("documents" -> df)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // identical shingle sets agree on every permutation min — and the
      // exact Jaccard is 1000, so the estimator error is exactly 0
      assert(r.getAs[Long]("n_agree") === Dedup.NumHashes.toLong)
      assert(r.getAs[Long]("est_milli") === 1000L)
      assert(r.getAs[Long]("j_milli") === 1000L)
      assert(r.getAs[Long]("err_milli") === 0L)
    }
  }

  test("dedup_agreement: union = minhash + simhash - both") {
    val r = query("dedup_agreement").collect().head
    assert(r.getAs[Long]("n_union") ===
      r.getAs[Long]("n_minhash") + r.getAs[Long]("n_simhash")
        - r.getAs[Long]("n_both"))
    assert(r.getAs[Long]("n_both") <= r.getAs[Long]("n_minhash"))
    assert(r.getAs[Long]("n_both") <= r.getAs[Long]("n_simhash"))
  }

  test("doclen_histogram conserves docs and tokens") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val h = TextAnalysis.docLenHistogram(docs).collect()
    assert(h.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val totTok = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .collect().head.getLong(0)
    assert(h.map(_.getAs[Long]("sum_tokens")).sum === totTok)
  }

  test("ngram_novelty is 0 when held-out text duplicates train text") {
    import spark.implicits._
    // doc_ids chosen so the split hash puts clones on both sides: every
    // doc shares one text, so any held-out gram also exists in train
    val text = (1 to 12).map(i => s"t$i").mkString(" ")
    val df = (1L to 400L).map(i => (i, "en", text))
      .toDF("doc_id", "lang", "text")
    val rows = TextAnalysis.ngramNovelty(df).collect()
    // with 400 docs the 98/1/1 hash split leaves a nonempty held side
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel") === 0L)
      assert(r.getAs[Long]("novel_ppm") === 0L)
    }
  }

  test("kmeans_shift: members conserved across iterations, shift finite") {
    val e = Tables.embeddings(spark, TestSpark.Sf)
    val ks = Similarity.kmeansShift(e).collect()
    assert(ks.length === Similarity.NumCentroids)
    val nCand = e.where(col("vec_id") >= Similarity.CentroidLo).count()
    assert(ks.map(_.getAs[Long]("n_members_1")).sum === nCand)
    assert(ks.map(_.getAs[Long]("n_members_2")).sum === nCand)
    ks.foreach(r => assert(r.getAs[Long]("shift_e6") >= 0L))
  }

  test("cooccur_topk counts adjacent and distance-2 pairs per doc") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.cooccurTopKFrom(
      Staged.tokens(Corpus("documents" -> df)).skipgrams, k = 10).collect()
      .map(r => (r.getAs[String]("w_a"), r.getAs[String]("w_b"))
        -> r.getAs[Long]("n")).toMap
    // doc1 pairs: (a,b) (a,c) (b,c); doc2: (a,b)
    assert(got === Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
  }

  test("quality_calibration conserves docs and bounds keep_ppm") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val cal = query("quality_calibration").collect()
    assert(cal.map(_.getAs[Long]("n_docs")).sum === docs.count())
    cal.foreach { r =>
      assert(r.getAs[Long]("score_bucket") >= 0L)
      assert(r.getAs[Long]("n_gopher_keep") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("keep_ppm") <= 1000000L)
    }
  }

  test("cluster_size_hist: all clusters have >= 2 members and cover " +
    "every clustered doc") {
    val hist = query("cluster_size_hist").collect()
    hist.foreach(r => assert(r.getAs[Long]("n_members") >= 2L))
    val docsCovered = hist
      .map(r => r.getAs[Long]("n_members") * r.getAs[Long]("n_clusters")).sum
    assert(docsCovered === query("dup_cluster").count())
  }

  test("dedup_sweep is monotone decreasing in the threshold and agrees " +
    "with minhashDedup at the operating point") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val sweep = query("dedup_sweep").collect()
      .map(r => r.getAs[Long]("tau_milli") -> r.getAs[Long]("n_dup_pairs"))
      .sortBy(_._1)
    sweep.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(a >= b)
    }
    val atOp = sweep.toMap.apply(Dedup.JaccardMilli)
    assert(atOp === Dedup.minhashDedup(docs).count())
  }

  test("cross_source_overlap conserves the verified dup-pair count") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val overlap = query("cross_source_overlap").collect()
    assert(overlap.map(_.getAs[Long]("n_dup_pairs")).sum
      === Dedup.minhashDedup(docs).count())
    overlap.foreach(r => assert(
      r.getAs[String]("source_x") <= r.getAs[String]("source_y")))
  }

  test("lsh_band_sweep: more bands never loses candidates or captures") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val sweep = query("lsh_band_sweep").collect()
      .map(r => r.getAs[Long]("bands") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_dups_captured")))
      .sortBy(_._1)
    assert(sweep.map(_._1) === Seq(8L, 16L, 32L))
    sweep.foreach { case (_, (cand, dup)) => assert(dup <= cand) }
    // more, narrower bands admit no fewer candidate pairs on this
    // corpus (a band match under (b, r) implies one under (2b, r/2) —
    // equal on all r positions ⇒ equal on each half; the star-pair cap
    // could in principle swap pairs when a bucket's keeper changes,
    // which the driver corpus's bucket sizes don't trigger)
    sweep.sliding(2).foreach { case Array((_, (c1, d1)), (_, (c2, d2))) =>
      assert(c1 <= c2)
      assert(d1 <= d2)
    }
    // the production geometry captures what minhashDedup finds
    val prod = sweep.toMap.apply(Dedup.Bands.toLong)
    assert(prod._2 === Dedup.minhashDedup(docs).count())
  }

  test("cluster_representative: one rep per cluster, rep maximizes " +
    "quality, dropped checksum = cluster total minus rep") {
    val clusters = query("dup_cluster")
    val gopher = query("quality_gopher")
    val reps = query("cluster_representative")
    assert(reps.count() ===
      clusters.select("cluster_id").distinct().count())
    val byDoc = clusters.join(gopher.select("doc_id", "distinct_milli",
      "n_tokens"), "doc_id").collect()
      .groupBy(_.getAs[Long]("cluster_id"))
    reps.collect().foreach { r =>
      val members = byDoc(r.getAs[Long]("cluster_id"))
      val best = members.maxBy(m =>
        (m.getAs[Long]("distinct_milli"), -m.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("rep_doc_id") === best.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_members") === members.length)
      assert(r.getAs[Long]("dropped_id_sum") ===
        members.map(_.getAs[Long]("doc_id")).sum -
          best.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("dropped_tokens") ===
        members.map(_.getAs[Long]("n_tokens")).sum -
          best.getAs[Long]("n_tokens"))
    }
  }

  test("topic_clusters: populations cover the assignment, top counts " +
    "bounded by population") {
    val assign = query("ivf_assign")
    val tc = query("topic_clusters").collect()
    // every doc in the assignment that exists in documents is counted
    val assigned = assign.join(
      docs.select(col("doc_id").as("vec_id")), "vec_id").count()
    assert(tc.map(_.getAs[Long]("n_docs")).sum === assigned)
    tc.foreach { r =>
      assert(r.getAs[Long]("top_lang_n") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("top_lang_n") >= 1L)
      assert(r.getAs[Long]("n_langs") >= 1L)
      assert(r.getAs[Long]("top_token_n") >= 1L)
    }
  }

  test("quality_ensemble: 16-way matrix conserves docs, ensemble_keep " +
    "is the majority vote of the row's flags") {
    val rows = query("quality_ensemble").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    assert(rows.length <= 16)
    rows.foreach { r =>
      val votes = Seq("keep_gopher", "keep_clf", "keep_lm", "keep_rare")
        .count(c => r.getAs[String](c) == "true")
      assert(r.getAs[String]("ensemble_keep") === (votes >= 3).toString)
    }
    // the gates must actually split the corpus (non-degenerate matrix)
    assert(rows.length >= 4, s"only ${rows.length} combinations populated")
  }

  test("ivf_incremental: base+new covers every assigned vector, delta " +
    "is the hash-selected 1-in-8, growth consistent") {
    import graft.functions.PortableHash
    val rows = Similarity.ivfIncremental(embs).collect()
    val assigned = Similarity.ivfAssign(embs).count()
    assert(rows.map(r => r.getAs[Long]("n_base") + r.getAs[Long]("n_new"))
      .sum === assigned)
    val expectedDelta = Similarity.ivfAssign(embs)
      .where(pmod(PortableHash.phash(concat(lit("delta:"),
        col("vec_id").cast("string"))), lit(Similarity.DeltaMod)) === 0L)
      .count()
    assert(rows.map(_.getAs[Long]("n_new")).sum === expectedDelta)
    rows.foreach { r =>
      val (b, n) = (r.getAs[Long]("n_base"), r.getAs[Long]("n_new"))
      assert(r.getAs[Long]("growth_ppm") ===
        n * 1000000L / math.max(b, 1L))
      assert(Set("true", "false").contains(r.getAs[String]("rebalance")))
    }
  }

  test("knn_graph: contiguous ranks, sims non-increasing, neighbors " +
    "share the src's IVF list, and one node's row is exact") {
    val assign = Similarity.ivfAssign(embs)
    val g = Similarity.knnGraphFrom(assign, embs).collect()
    val byS = g.groupBy(_.getAs[Long]("src_id"))
    byS.foreach { case (s, es) =>
      val sorted = es.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ===
        (1L to es.length.toLong), s"src $s ranks")
      assert(es.length <= Similarity.KnnK)
      val sims = sorted.map(_.getAs[Long]("sim_e6"))
      assert(sims.zip(sims.drop(1)).forall { case (a, b) => a >= b },
        s"src $s sims not sorted")
    }
    val lists = assign.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
      .toMap
    g.foreach { r =>
      assert(lists(r.getAs[Long]("src_id")) ===
        lists(r.getAs[Long]("nbr_id")), "cross-list edge")
    }
    // exactness for one node: its top-K among ALL same-list mates
    val vecs = embs.where(col("vec_id") >= Similarity.QueryCount)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val src = byS.keys.min
    val want = lists.collect {
      case (v, c) if c == lists(src) && v != src =>
        v -> math.round(cos(vecs(src), vecs(v)) * 1e6)
    }.toSeq.sortBy { case (v, s) => (-s, v) }
      .take(Similarity.KnnK)
    val gotSrc = byS(src).sortBy(_.getAs[Long]("rank"))
      .map(r => r.getAs[Long]("nbr_id") -> r.getAs[Long]("sim_e6")).toSeq
    assert(gotSrc === want)
  }

  test("nn_descent: rank-wise never worse than the blocked graph, " +
    "is_new edges are exactly those absent from it") {
    val assign = Similarity.ivfAssign(embs)
    val base = Similarity.knnGraphFrom(assign, embs).collect()
    val ref = Similarity.nnDescentFrom(assign, embs).collect()
    val baseEdges = base.map(r =>
      (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"))).toSet
    ref.foreach { r =>
      val e = (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"))
      assert(r.getAs[String]("is_new") === (!baseEdges(e)).toString, e)
    }
    val baseAt = base.map(r => (r.getAs[Long]("src_id"),
      r.getAs[Long]("rank")) -> r.getAs[Long]("sim_e6")).toMap
    ref.foreach { r =>
      val k = (r.getAs[Long]("src_id"), r.getAs[Long]("rank"))
      baseAt.get(k).foreach { bs =>
        assert(r.getAs[Long]("sim_e6") >= bs, s"worse at $k")
      }
    }
    // the round must actually repair something on this corpus
    assert(ref.exists(_.getAs[String]("is_new") == "true"))
  }

  test("knn_recall: hits equal a driver-side truth intersection and " +
    "the NN-descent round never lowers recall") {
    val assign = Similarity.ivfAssign(embs)
    val got = Similarity.knnRecallFrom(assign, embs).collect()
      .map(r => r.getAs[String]("variant") -> r).toMap
    assert(got.keySet === Set("ivf_blocked", "nn_descent"))
    // driver truth: exact top-K over all candidate pairs
    val vecs = embs.where(col("vec_id") >= Similarity.QueryCount)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = vecs.keys.flatMap { s =>
      vecs.keys.filter(_ != s).toSeq
        .map(n => (n, math.round(cos(vecs(s), vecs(n)) * 1e6)))
        .sortBy { case (n, sim) => (-sim, n) }
        .take(Similarity.KnnK).map { case (n, _) => (s, n) }
    }.toSet
    assert(got("ivf_blocked").getAs[Long]("n_truth") ===
      truth.size.toLong)
    val baseEdges = Similarity.knnGraphFrom(assign, embs).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"))).toSet
    assert(got("ivf_blocked").getAs[Long]("n_hit") ===
      (baseEdges & truth).size.toLong)
    val b = got("ivf_blocked"); val d = got("nn_descent")
    assert(b.getAs[Long]("recall_milli") ===
      b.getAs[Long]("n_hit") * 1000L / b.getAs[Long]("n_truth"))
    assert(d.getAs[Long]("n_hit") >= b.getAs[Long]("n_hit"),
      "the repair round lowered recall")
  }

  test("k_anonymity: covers the corpus, flags exactly the sub-threshold " +
    "groups") {
    val rows = TextAnalysis.kAnonymity(docs).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    rows.foreach { r =>
      assert(r.getAs[String]("at_risk") ===
        (r.getAs[Long]("n_docs") < TextAnalysis.KAnonThreshold).toString)
    }
    assert(rows.exists(_.getAs[String]("at_risk") == "true"))
    assert(rows.exists(_.getAs[String]("at_risk") == "false"))
  }

  test("zipf_fit: slope/intercept/r match a driver-side log2 least-" +
    "squares replay and the corpus is Zipfian (negative slope)") {
    val got = TextAnalysis.zipfFitFrom(
      TextAnalysis.tokenFreqFrom(TextAnalysis.tokensRel(docs)))
      .collect().head
    val freqs = TextAnalysis.tokenFreqFrom(TextAnalysis.tokensRel(docs))
      .collect().map(_.getAs[Long]("tf")).sortBy(-_)
    def lg(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val pts = freqs.zipWithIndex.map { case (tf, i) =>
      (lg(i + 1L), lg(tf))
    }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val slope = (n * sxy - sx * sy) * 1000000L / (n * sxx - sx * sx)
    assert(got.getAs[Long]("n_types") === n)
    assert(got.getAs[Long]("slope_e6") === slope)
    assert(got.getAs[Long]("intercept_e6") ===
      (sy * 1000000L - slope * sx) / n)
    val r = math.round((n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)) * 1e6)
    assert(got.getAs[Long]("r_e6") === r)
    // the synthetic corpus is only weakly Zipfian at spec scale (most
    // types sit in 1-2 floor-log2 frequency buckets), so assert
    // direction, not magnitude — the replay above pins the exact values
    assert(slope < 0L, "rank-frequency slope should be negative")
    assert(r < 0L, "log-log correlation should be negative")
  }

  test("anon_generalize: ladder levels agree with per-level recounts, " +
    "chosen is the minimal satisfying level") {
    val rows = TextAnalysis.anonGeneralize(docs).collect()
      .map(r => r.getAs[Long]("level") -> r).toMap
    assert(rows.keySet === Set(0L, 1L, 2L, 3L))
    val cells = docs.selectExpr("lang", "source",
      "case when size(split(text, ' ')) > 0 then " +
        "cast(length(bin(size(split(text, ' ')))) as long) " +
        "else 0L end as lb")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def level(groups: Map[_, Int]): (Long, Long, Long, Long) = {
      val sizes = groups.values.map(_.toLong)
      (groups.size.toLong, sizes.min,
        sizes.count(_ < TextAnalysis.KAnonThreshold).toLong,
        sizes.filter(_ < TextAnalysis.KAnonThreshold).sum)
    }
    val want = Seq(
      level(cells.groupBy(identity).view.mapValues(_.length).toMap),
      level(cells.groupBy(c => (c._1, c._2)).view.mapValues(_.length)
        .toMap),
      level(cells.groupBy(_._1).view.mapValues(_.length).toMap),
      level(Map("all" -> cells.length)))
    val bestLevel = want.zipWithIndex
      .collectFirst { case ((_, _, 0L, _), i) => i.toLong }
    want.zipWithIndex.foreach { case ((ng, mg, ar, dar), i) =>
      val r = rows(i.toLong)
      assert(r.getAs[Long]("n_groups") === ng, s"level $i")
      assert(r.getAs[Long]("min_group") === mg, s"level $i")
      assert(r.getAs[Long]("n_at_risk") === ar, s"level $i")
      assert(r.getAs[Long]("docs_at_risk") === dar, s"level $i")
      assert(r.getAs[String]("satisfies_k") === (ar == 0L).toString)
      assert(r.getAs[String]("chosen") ===
        bestLevel.contains(i.toLong).toString)
    }
  }

  test("split_audit: shards cover the corpus, shares bounded, splits " +
    "named") {
    val rows = query("split_audit").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    assert(rows.map(_.getAs[String]("split")).toSet
      .subsetOf(Set("train", "val", "test")))
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_ppm") >= 0L &&
        r.getAs[Long]("keep_ppm") <= 1000000L)
      assert(r.getAs[Long]("top_lang_ppm") >= 0L &&
        r.getAs[Long]("top_lang_ppm") <= 1000000L)
    }
    // train must dominate under the 98/1/1 hash split
    val byName = rows.map(r => r.getAs[String]("split") ->
      r.getAs[Long]("n_docs")).toMap
    assert(byName("train") > byName.getOrElse("val", 0L) &&
      byName("train") > byName.getOrElse("test", 0L))
  }

  test("pack_efficiency: conserves tokens, bins/crossings monotone " +
    "nonincreasing in seq_len, padding bounded") {
    val rows = TextAnalysis.packEfficiency(docs).collect()
      .sortBy(_.getAs[Long]("seq_len"))
    assert(rows.map(_.getAs[Long]("seq_len")) ===
      TextAnalysis.PackLens.toArray)
    val total = rows.head.getAs[Long]("total_tokens")
    rows.foreach { r =>
      assert(r.getAs[Long]("total_tokens") === total) // L-independent
      assert(r.getAs[Long]("padding_ppm") >= 0L &&
        r.getAs[Long]("padding_ppm") < 1000000L)
      assert(r.getAs[Long]("n_bins") * r.getAs[Long]("seq_len") >= total)
    }
    // doubling the context can only merge bins and remove boundaries
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_bins") <= a.getAs[Long]("n_bins"))
      assert(b.getAs[Long]("n_crossings") <= a.getAs[Long]("n_crossings"))
    }
  }

  test("sq_recall: every query reports, recall bounded, int8 beats the " +
    "trained-PQ gate (finer codes, better recall)") {
    val r = query("sq_recall").collect()
    assert(r.length === 8)
    r.foreach { x =>
      assert(x.getAs[Long]("recall_milli") >= 0L &&
        x.getAs[Long]("recall_milli") <= 1000L)
      assert(x.getAs[Long]("n_hits") <= Similarity.TopK.toLong)
    }
    // 64 bytes/vec must not recall WORSE than 8 bytes/vec on average
    val sqMean = r.map(_.getAs[Long]("recall_milli")).sum / r.length
    assert(sqMean >= 500L, s"int8 mean recall $sqMean implausibly low")
  }

  test("mrl_recall: one row per prefix dim, bounded, and the full-dim " +
    "arm reproduces sq_recall exactly") {
    val rows = query("mrl_recall").collect()
      .sortBy(_.getAs[Long]("dims"))
    assert(rows.map(_.getAs[Long]("dims")) ===
      Similarity.MrlDims.map(_.toLong).toArray)
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_recall_milli") >= 0L &&
        r.getAs[Long]("mean_recall_milli") <= 1000L)
    }
    // dims = Dim is exactly the sq_recall ranking — the curve's top
    // end must agree with the standalone gate's aggregate
    val sqHits = query("sq_recall").collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(rows.last.getAs[Long]("sum_hits") === sqHits)
    // more prefix can't help LESS than the 8x-truncated floor here
    assert(rows.last.getAs[Long]("mean_recall_milli") >=
      rows.head.getAs[Long]("mean_recall_milli"))
  }

  test("bq_recall: both stages report, the int8 re-rank of the hamming " +
    "shortlist does not lose to the raw 1-bit ranking") {
    val rows = query("bq_recall").collect()
      .map(r => r.getAs[String]("variant") ->
        r.getAs[Long]("mean_recall_milli")).toMap
    assert(rows.keySet === Set("hamming", "rerank"))
    rows.values.foreach(v => assert(v >= 0L && v <= 1000L))
    assert(rows("rerank") >= rows("hamming"),
      s"re-rank ${rows("rerank")} below hamming ${rows("hamming")}")
  }

  test("l_diversity: covers the corpus on the k_anonymity grid, flags " +
    "exactly the single-class cells") {
    val rows = TextAnalysis.lDiversity(docs).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val kCells = TextAnalysis.kAnonymity(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("len_bucket")) -> r.getAs[Long]("n_docs")).toMap
    assert(rows.length === kCells.size)
    rows.foreach { r =>
      val cell = (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("len_bucket"))
      assert(r.getAs[Long]("n_docs") === kCells(cell))
      val l = r.getAs[Long]("l_distinct")
      assert(l >= 1L && l <= 4L) // at most ssn/email/phone/none
      assert(r.getAs[String]("at_risk") ===
        (l < TextAnalysis.LDivThreshold).toString)
      val top = r.getAs[Long]("top_class_ppm")
      assert(top > 0L && top <= 1000000L)
      // the dominant class can't have less than an equal share
      assert(top * l >= 1000000L - l)
    }
  }

  test("corpus_diversity: per-source gram accounting is exact, ratios " +
    "bounded") {
    val rows = TextAnalysis.corpusDiversity(docs).collect()
    val expUni = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long")
        .as("n")).groupBy("source").agg(sum("n").as("n")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    assert(rows.length === expUni.size)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_unigrams") === expUni(src))
      assert(r.getAs[Long]("d_unigrams") <= r.getAs[Long]("n_unigrams"))
      assert(r.getAs[Long]("d_bigrams") <= r.getAs[Long]("n_bigrams"))
      // every doc has >= 1 token, so bigrams = unigrams - n_docs(with >=2)
      assert(r.getAs[Long]("n_bigrams") < r.getAs[Long]("n_unigrams"))
      assert(r.getAs[Long]("distinct1_ppm") > 0L &&
        r.getAs[Long]("distinct1_ppm") <= 1000000L)
      assert(r.getAs[Long]("distinct2_ppm") <= 1000000L)
      // bigrams diversify at least as fast as unigrams (Heaps' law)
      assert(r.getAs[Long]("distinct2_ppm") >=
        r.getAs[Long]("distinct1_ppm"))
    }
  }

  test("incontext_order: positions are dense per cluster, similarity " +
    "non-increasing along each cluster's order, corpus covered") {
    val rows = query("incontext_order").collect()
    val nCand = embs.where(col("vec_id") >= Similarity.QueryCount).count()
    assert(rows.length.toLong === nCand)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === rows.length)
    rows.groupBy(_.getAs[Long]("centroid_id")).foreach { case (c, members) =>
      val ordered = members.sortBy(_.getAs[Long]("position"))
      assert(ordered.map(_.getAs[Long]("position")).toSeq ===
        (1L to members.length.toLong).toSeq, s"cluster $c not dense")
      // most-central first: sim never increases along the order
      ordered.map(_.getAs[Long]("sim_e6")).sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) >= w(1), s"cluster $c order broken")
      }
    }
  }

  test("embed_norm_stats: per-label bounds bracket the sums") {
    val e = Tables.embeddings(spark, TestSpark.Sf)
    val st = Similarity.embedNormStats(e).collect()
    assert(st.map(_.getAs[Long]("n_vecs")).sum === e.count())
    st.foreach { r =>
      val n = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("sum_sq_e6") >= n * r.getAs[Long]("min_sq_e6"))
      assert(r.getAs[Long]("sum_sq_e6") <= n * r.getAs[Long]("max_sq_e6"))
    }
  }

  test("contrastive_triplets: negative shares the anchor's bucket, " +
    "differs in label, is never a near-dup mate, and is the eligible " +
    "argmax (independent groupBy recompute)") {
    import org.apache.spark.sql.functions._
    val dups = graft.operators.Dedup.minhashDedup(docs)
    val got = query("contrastive_triplets").collect()
    assert(got.nonEmpty, "no triplets at test scale — vacuous")

    val buckets = embs
      .select(col("vec_id"), Similarity.bucketCol(col("embedding"))
        .as("bucket"), col("label").cast("long").as("label"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val pairRows = dups.collect()
      .map(r => (r.getAs[Long]("keeper_doc_id"),
        r.getAs[Long]("dup_doc_id")))
    val mates = (pairRows ++ pairRows.map(_.swap)).toSet

    got.foreach { r =>
      val a = r.getAs[Long]("anchor_id")
      val n = r.getAs[Long]("negative_id")
      assert(buckets(a)._1 === buckets(n)._1, s"$a/$n cross-bucket")
      assert(buckets(a)._2 !== buckets(n)._2, s"$a/$n same label")
      assert(buckets(n)._2 === r.getAs[Long]("neg_label"))
      assert(!mates.contains((a, n)), s"$a/$n are near-dup mates")
      assert(r.getAs[Long]("pos_j_milli") >=
        graft.operators.Dedup.JaccardMilli)
    }

    // independent argmax: rebuild the eligible candidate relation and
    // take the max by (sim_e6, -negative_id) via a groupBy aggregate
    // (different mechanism than the operator's window)
    val e = embs.select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"))
      .withColumn("bucket", Similarity.bucketCol(col("embedding")))
    val anchorIds = got.map(_.getAs[Long]("anchor_id")).distinct.toSeq
    val a = e.where(col("vec_id").isInCollection(anchorIds))
      .select(col("vec_id").as("a_id"), col("embedding").as("av"),
        col("label").as("al"), col("bucket"))
    val best = a.join(e, Seq("bucket"))
      .where(col("vec_id") =!= col("a_id") && col("label") =!= col("al"))
      .withColumn("s_e6", round(graft.functions.VectorFunctions.cosineSim(
        col("av"), col("embedding")) * 1000000).cast("long"))
      .collect()
      .filter(r => !mates.contains((r.getAs[Long]("a_id"),
        r.getAs[Long]("vec_id"))))
      .groupBy(_.getAs[Long]("a_id"))
      .map { case (aid, rs) =>
        aid -> rs.map(r => (r.getAs[Long]("s_e6"),
          -r.getAs[Long]("vec_id"))).max
      }
    got.foreach { r =>
      val (s, negNegId) = best(r.getAs[Long]("anchor_id"))
      assert(r.getAs[Long]("neg_sim_e6") === s)
      assert(r.getAs[Long]("negative_id") === -negNegId)
    }
  }

  test("span_corruption: masked/sentinel/span counts are mutually " +
    "consistent and the realized corpus rate lands near the recipe") {
    import graft.operators.TextAnalysis.{SpanEvery, SpanLen}
    val rows = TextAnalysis.spanCorruptionPlan(docs).collect()
    assert(rows.length === docs.count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val spans = r.getAs[Long]("n_spans")
      val sent = r.getAs[Long]("n_sentinels")
      val masked = r.getAs[Long]("n_masked")
      assert(masked <= n)
      assert(sent <= spans, "a sentinel run needs at least one start")
      assert(masked <= spans * SpanLen, "a span masks at most SpanLen")
      assert(masked >= sent, "each sentinel run has >= 1 masked token")
      assert((spans > 0) === (masked > 0))
      assert(r.getAs[Long]("masked_milli") === masked * 1000 / n)
    }
    // realized corpus rate ≈ (1/SpanEvery)·SpanLen minus overlap/clip
    // losses: inside a generous band around the 15% T5 recipe
    val rate = rows.map(_.getAs[Long]("n_masked")).sum * 1000 /
      rows.map(_.getAs[Long]("n_tokens")).sum
    assert(rate > 1000 / SpanEvery, s"rate $rate below the start rate")
    assert(rate <= 1000 * SpanLen / SpanEvery,
      s"rate $rate above the no-overlap bound")
  }

  test("ivf_sq_recall: the composed gate is bounded above by a full " +
    "int8 scan and reports one row per query") {
    val rows = query("ivf_sq_recall").collect()
    assert(rows.length === Similarity.QueryCount)
    val sq = query("sq_recall").collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_hits")).toMap
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= Similarity.TopK)
      assert(r.getAs[Long]("recall_milli") ===
        hits * 1000L / Similarity.TopK)
    }
    assert(rows.map(_.getAs[Long]("n_hits")).sum > 0L)
    assert(sq.values.sum > 0L) // the unpruned rung stays meaningful too
  }

  test("padding_plan: bucket geometry is sound and bucketed padding " +
    "beats naive global-max padding") {
    val rows = TextAnalysis.paddingPlan(docs).collect()
    assert(rows.nonEmpty)
    val naive = rows.head.getAs[Long]("naive_ppm")
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket_len") % TextAnalysis.PadMultiple === 0L)
      assert(r.getAs[Long]("total_tokens") <=
        r.getAs[Long]("n_docs") * r.getAs[Long]("bucket_len"))
      assert(r.getAs[Long]("padding_ppm") >= 0L)
      assert(r.getAs[Long]("padding_ppm") < 1000000L)
      assert(r.getAs[Long]("naive_ppm") === naive)
      // bucketing to the next 64-multiple never pads more than
      // padding everything to the global max
      assert(r.getAs[Long]("padding_ppm") <= naive)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      docs.where(size(split(col("text"), " ")) > 0).count())
  }

  test("rp_recall: one row per query, recall bounded, and the projected " +
    "ranking is a genuine subset selection (not the exact ranking)") {
    val rows = query("rp_recall").collect()
    assert(rows.length === Similarity.QueryCount)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= Similarity.TopK)
      assert(r.getAs[Long]("recall_milli") ===
        hits * 1000L / Similarity.TopK)
    }
    // the sign matrix is fixed, balanced-ish, and ±1 only
    assert(Similarity.rpSigns.length === Similarity.RpDims)
    Similarity.rpSigns.foreach { row =>
      assert(row.length === Similarity.Dim)
      assert(row.forall(v => v == 1L || v == -1L))
    }
  }

  test("ivf_balance: shares sum to ~1e6, loads average 1000, flags are " +
    "exactly the >2x-fair-share lists") {
    val rows = query("ivf_balance").collect()
    assert(rows.length === Similarity.NumCentroids)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total === Similarity.ivfAssign(embs).count())
    // truncating ppm/milli: sums land within one ulp per list
    val ppm = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(ppm > 1000000L - rows.length && ppm <= 1000000L)
    rows.foreach { r =>
      assert(r.getAs[Long]("load_milli") ===
        r.getAs[Long]("n_vecs") * rows.length * 1000L / total)
      assert(r.getAs[String]("overloaded") ===
        (r.getAs[Long]("load_milli") >
          Similarity.BalanceOverloadMilli).toString)
    }
  }

  test("embed_drift: cohorts partition the candidates per label and the " +
    "drift cosine is a valid e6 cosine") {
    val rows = Similarity.embedDrift(embs).collect()
    assert(rows.nonEmpty)
    val cands = embs.where(col("vec_id") >= Similarity.QueryCount)
    assert(rows.map(r => r.getAs[Long]("n_base") + r.getAs[Long]("n_delta"))
      .sum === cands.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("drift_cos_e6") >= -1000000L)
      assert(r.getAs[Long]("drift_cos_e6") <= 1000000L)
    }
    // the delta rule actually selects ~1/8 — drift must be measured
    // against a nonempty cohort somewhere
    assert(rows.map(_.getAs[Long]("n_delta")).sum > 0L)
  }

  test("t_closeness: cells cover the corpus, tvd bounded in [0, 1e6], " +
    "and the audit discriminates between cells") {
    val rows = TextAnalysis.tCloseness(docs).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    // the (source, len_bucket) grid is the lang-marginalized k-grid
    val cells = docs.select(col("source"),
      when(size(split(col("text"), " ")) > 0,
        length(bin(size(split(col("text"), " ")).cast("long"))))
        .otherwise(lit(0))).distinct().count()
    assert(rows.length.toLong === cells)
    rows.foreach { r =>
      val tvd = r.getAs[Long]("tvd_ppm")
      assert(tvd >= 0L && tvd <= 1000000L, r.toString)
      assert(r.getAs[String]("at_risk") ===
        (tvd > TextAnalysis.TCloseThresholdPpm).toString)
    }
    // the audit must discriminate: not every cell at the same distance
    assert(rows.map(_.getAs[Long]("tvd_ppm")).distinct.length > 1)
  }

  test("vocab_growth: cumulative masses reconcile with the token " +
    "relation and vocabulary growth is monotone") {
    val toks = TextAnalysis.tokensRel(docs)
    val rows = TextAnalysis.vocabGrowthFrom(toks).collect()
      .sortBy(_.getAs[Long]("bucket"))
    assert(rows.length === TextAnalysis.GrowthBuckets)
    assert(rows.last.getAs[Long]("tokens_cum") === toks.count())
    assert(rows.last.getAs[Long]("vocab_cum") ===
      toks.select("token").distinct().count())
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("tokens_cum") > a.getAs[Long]("tokens_cum"))
      assert(b.getAs[Long]("vocab_cum") >= a.getAs[Long]("vocab_cum"))
      // Heaps: the type-token ratio decays as the corpus grows
      assert(b.getAs[Long]("ttr_ppm") <= a.getAs[Long]("ttr_ppm"))
    }
  }

  test("split_kfold: fold ids match the JVM hash twin, shares account " +
    "for every doc, verdicts follow the tolerance") {
    val rows = TextAnalysis.splitKfold(docs).collect()
    val total = docs.count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    assert(rows.map(_.getAs[Long]("fold")).toSet
      .subsetOf((0L until TextAnalysis.NumFolds).toSet))
    // JVM twin of the fold assignment over the whole corpus
    val want = docs.select("doc_id").collect()
      .map(r => math.floorMod(
        graft.functions.PortableHash.md5Long(s"fold:${r.getLong(0)}"),
        TextAnalysis.NumFolds))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val f = r.getAs[Long]("fold")
      assert(r.getAs[Long]("n_docs") === want(f), s"fold $f")
      val share = r.getAs[Long]("n_docs") * 1000000L / total
      assert(r.getAs[Long]("share_ppm") === share)
      val dev = math.abs(share - 1000000L / TextAnalysis.NumFolds)
      assert(r.getAs[Long]("dev_ppm") === dev)
      assert(r.getAs[String]("verdict") ===
        (if (dev <= TextAnalysis.KfoldTolPpm) "BALANCED" else "SKEWED"))
    }
  }

  test("ngram_containment: containment bounds Jaccard from above, " +
    "NEAR_DUP agrees with the verified pairs, and a wrapped copy " +
    "reads CONTAINED where Jaccard alone would pass it") {
    val rows = query("ngram_containment").collect()
    rows.foreach { r =>
      val j = r.getAs[Long]("j_milli")
      val c = r.getAs[Long]("cont_milli")
      assert(c >= j, s"pair ${r.getAs[Long]("doc_a")}/${r.getAs[Long]("doc_b")}")
      val rel = r.getAs[String]("relation")
      if (j >= Dedup.JaccardMilli) assert(rel === "NEAR_DUP")
      else if (c >= Dedup.ContainMilli) assert(rel === "CONTAINED")
      else assert(rel === "DISTINCT")
    }
    // a small doc wrapped in a larger one: containment exactly 1000,
    // Jaccard 588 (< the 600 dup threshold). The pad vocabulary is
    // PINNED to a fixture verified (against the md5 permutation
    // constants, which never change) to share an LSH band — MinHash
    // banding of a contained pair is probabilistic in general, which
    // is exactly the recall caveat the operator's contract declares.
    import spark.implicits._
    val small = (1 to 12).map(i => s"tok$i").mkString(" ")
    val filler = (1 to 7).map(i => s"pad0_$i").mkString(" ")
    val wrapped = Seq((1L, small), (2L, s"$small $filler"))
      .toDF("doc_id", "text")
    val w = query("ngram_containment", Corpus("documents" -> wrapped)).collect()
      .find(r => r.getAs[Long]("doc_a") === 1L &&
        r.getAs[Long]("doc_b") === 2L)
    assert(w.isDefined, "the pinned fixture must share an LSH band")
    assert(w.get.getAs[Long]("cont_milli") === 1000L)
    assert(w.get.getAs[Long]("j_milli") === 588L)
    assert(w.get.getAs[String]("relation") === "CONTAINED")
  }

  test("hubness_audit: histogram mass equals the candidate count, " +
    "edge mass equals the graph size, verdict follows max k-occ") {
    val assign = Similarity.ivfAssign(embs)
    val rows = Similarity.hubnessAuditFrom(assign, embs).collect()
    val nCand = embs.where(col("vec_id") >= 8).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum === nCand)
    val edges = Similarity.knnGraphFrom(assign, embs)
    assert(rows.map(r =>
      r.getAs[Long]("k_occ") * r.getAs[Long]("n_vectors")).sum ===
      edges.count())
    // max_k_occ rides every row and equals the densest in-degree
    val maxK = edges.groupBy("nbr_id").count()
      .agg(max("count")).collect().head.getLong(0)
    val wantV =
      if (maxK >= Similarity.HubFactor * Similarity.KnnK) "HUBBY"
      else "OK"
    rows.foreach { r =>
      assert(r.getAs[Long]("max_k_occ") === maxK)
      assert(r.getAs[String]("verdict") === wantV)
      assert(r.getAs[Long]("share_ppm") ===
        r.getAs[Long]("n_vectors") * 1000000L / nCand)
      assert(r.getAs[Long]("n_vectors") > 0L)
    }
  }

  test("readability_score: the FK milli formula matches a hand-" +
    "computed fixture and the corpus rollup a driver-side replay") {
    import spark.implicits._
    // "the cat sat. go!" -> w=4, s=3 (two terminals + 1), syl: e,a,a,o
    val fix = Seq((1L, "the cat sat. go!", "en"))
      .toDF("doc_id", "text", "lang")
    val f = TextAnalysis.readabilityScore(fix).collect().head
    val want = 390L * 4 / 3 + 11800L * 4 / 4 - 15590L
    assert(f.getAs[Long]("mean_grade_milli") === want)
    // corpus rollup replay
    val per = docs.select(col("lang"), col("text")).collect().map { r =>
      val t = r.getString(1)
      val w = t.split(" ", -1).length.toLong
      val s = "[.!?]".r.findAllIn(t).length.toLong + 1L
      val syl = "[aeiouy]+".r.findAllIn(t.toLowerCase).length.toLong
      (r.getString(0), 390L * w / s + 11800L * syl / w - 15590L)
    }
    val rows = TextAnalysis.readabilityScore(docs).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    per.groupBy(_._1).foreach { case (lang, gs) =>
      val r = rows(lang)
      assert(r.getAs[Long]("n_docs") === gs.length.toLong, lang)
      assert(r.getAs[Long]("mean_grade_milli") ===
        gs.map(_._2).sum / gs.length, lang)
      assert(r.getAs[Long]("min_grade_milli") === gs.map(_._2).min, lang)
      assert(r.getAs[Long]("max_grade_milli") === gs.map(_._2).max, lang)
    }
  }

  test("cross_lang_pairs: grid cells reconcile with a driver-side " +
    "bucket-pair replay and this corpus honestly reports no bitext") {
    val rows = Similarity.crossLangPairs(embs, docs).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("lang_lo") < r.getAs[String]("lang_hi"))
      assert(r.getAs[Long]("n_bitext") <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("max_sim_e6") >= r.getAs[Long]("mean_sim_e6"))
      // the synthetic corpus has independent cross-language
      // embeddings — the honest negative this census must report
      assert(r.getAs[Long]("n_bitext") === 0L)
      assert(r.getAs[String]("verdict") === "NONE")
    }
    // candidate mass reconciles with the dedup buckets' cross-lang
    // pair count
    val langs = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val buckets = embs.select(col("vec_id"),
        Similarity.bucketCol(col("embedding")).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nCross: Long = buckets.groupBy(_._2).values.map { vs =>
      val ids = vs.map(_._1).toSeq
      ids.combinations(2).count {
        case Seq(a, b) => langs(a) != langs(b)
        case _         => false
      }.toLong
    }.sum
    assert(rows.map(_.getAs[Long]("n_candidates")).sum === nCross)
  }

  test("bbit_minhash: per-bucket errors match a driver-side 1-bit " +
    "replay and the 1-bit rung is never better than the full width " +
    "on aggregate mass") {
    val rows = query("bbit_minhash").collect()
    // driver-side replay from the per-pair relations
    val per = query("minhash_est_error").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("j_milli"), r.getAs[Long]("est_milli")))
    val sh = Dedup.shingleHashes(docs)
    val sigRows = Dedup.signaturesFromHashes(sh).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until Dedup.NumHashes).map(s => r.getAs[Long](s"m$s") % 2))
      .toMap
    val want = per.groupBy(_._3 / 100 * 100).map { case (b, ps) =>
      val errs1 = ps.map { case (a, bd, j, _) =>
        val agree = sigRows(a).zip(sigRows(bd)).count(p => p._1 == p._2)
        val est1 = math.max(agree.toLong * 2000 / Dedup.NumHashes - 1000, 0L)
        math.abs(est1 - j)
      }
      val errs64 = ps.map { case (_, _, j, e) => math.abs(e - j) }
      b -> ((ps.length.toLong, errs64.sum / ps.length,
        errs1.sum / ps.length, errs1.max))
    }
    assert(rows.length === want.size)
    rows.foreach { r =>
      val b = r.getAs[Long]("j_bucket_milli")
      val (n, m64, m1, mx1) = want(b)
      assert(r.getAs[Long]("n_pairs") === n, s"bucket $b")
      assert(r.getAs[Long]("mae64_milli") === m64, s"bucket $b")
      assert(r.getAs[Long]("mae1_milli") === m1, s"bucket $b")
      assert(r.getAs[Long]("max_err1_milli") === mx1, s"bucket $b")
    }
    // total 1-bit error mass ≥ full-width error mass (the storage
    // ladder's price is real, never negative)
    val w1 = rows.map(r =>
      r.getAs[Long]("mae1_milli") * r.getAs[Long]("n_pairs")).sum
    val w64 = rows.map(r =>
      r.getAs[Long]("mae64_milli") * r.getAs[Long]("n_pairs")).sum
    assert(w1 >= w64)
  }

  test("knn_components: label mass accounts for every candidate, " +
    "labels are component minima, and the rounds match a driver-side " +
    "fixed-round propagation replay") {
    val assign = Similarity.ivfAssign(embs)
    val rows = Similarity.knnComponentsFrom(assign, embs).collect()
      .map(r => r.getAs[Long]("component_label") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("id_sum"))).toMap
    val cands = embs.where(col("vec_id") >= 8)
      .select("vec_id").collect().map(_.getLong(0))
    assert(rows.values.map(_._1).sum === cands.length.toLong)
    // driver-side fixed-round replay
    val edges = Similarity.knnGraphFrom(assign, embs)
      .select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = cands.map(c => c -> c).toMap
    for (_ <- 0 until Similarity.ClpRounds) {
      labels = labels.map { case (id, l) =>
        val nbrMin = und.get(id).map(_.map(labels).min)
        id -> math.min(l, nbrMin.getOrElse(l))
      }
    }
    val want = labels.groupBy(_._2).map { case (l, m) =>
      l -> ((m.size.toLong, m.keys.sum))
    }
    assert(rows === want)
    // every label is its component's minimum member id
    labels.foreach { case (id, l) => assert(l <= id) }
  }

  test("sample_coverage: per-cluster counts reconcile with the corpus " +
    "sample decisions, shares are grid-exact, verdict bands hold") {
    val assign = Similarity.ivfAssign(embs)
    val rows = Similarity.sampleCoverageFrom(assign, docs).collect()
    // reconcile totals against the production sample decision
    val sampledDocs = TextAnalysis.stratifiedSample(docs)
      .where(col("sampled") === "true")
      .join(assign.select(col("vec_id").as("doc_id")), "doc_id")
      .count()
    assert(rows.map(_.getAs[Long]("n_sample")).sum === sampledDocs)
    val tc = rows.map(_.getAs[Long]("n_corpus")).sum
    val ts = rows.map(_.getAs[Long]("n_sample")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sample") <= r.getAs[Long]("n_corpus"))
      assert(r.getAs[Long]("corpus_ppm") ===
        r.getAs[Long]("n_corpus") * 1000000L / tc)
      assert(r.getAs[Long]("sample_ppm") ===
        (if (ts == 0) 0L else r.getAs[Long]("n_sample") * 1000000L / ts))
      val d = r.getAs[Long]("delta_ppm")
      val want =
        if (r.getAs[Long]("n_sample") == 0L) "MISSED"
        else if (d <= Similarity.CoverageTolPpm) "COVERED"
        else "SKEWED"
      assert(r.getAs[String]("verdict") === want)
    }
  }
}
