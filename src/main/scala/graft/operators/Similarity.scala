package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSim

/** Similarity search over the `embeddings` table (array<float> vectors).
  *
  * Two paths:
  *  - [[bruteTopK]]: exact top-k — broadcast the (tiny) query set and
  *    stream every candidate once through the codegen'd cosine
  *    expression. Exact, O(Q·N); the baseline and the oracle-checked
  *    variant.
  *  - [[lshTopK]]: random-hyperplane LSH — bucket vectors by sign
  *    pattern, search only same-bucket candidates. The 100 TB path:
  *    the bucket id is the shuffle key, no cross join anywhere.
  */
object Similarity {
  val TopK = 10

  /** Query set: the first QueryCount vec_ids; everything else is a
    * candidate. */
  val QueryCount = 8

  /** Number of hyperplanes → 2^Planes buckets. */
  val Planes = 8

  /** Vector dimensionality of the test embeddings. */
  val Dim = 64

  /** splitmix64 stream (public-domain constants) mapped to doubles in
    * [-1, 1) via the 53-bit mantissa — the ONE deterministic generator
    * behind both the LSH hyperplanes and the PQ codebook (a seed apart),
    * so the mapping can't drift between them. */
  private def splitmixDoubles(seed: Long): Iterator[Double] = {
    var state = seed
    Iterator.continually {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  /** Deterministic pseudo-random hyperplanes, values in [-1, 1). */
  lazy val hyperplanes: Array[Array[Double]] = {
    val s = splitmixDoubles(0x9E3779B97F4A7C15L)
    Array.fill(Planes)(Array.fill(Dim)(s.next()))
  }

  /** Sign-pattern LSH bucket id of an embedding column (codegen'd
    * single-pass expression — see functions.HyperplaneBucket). */
  def bucketCol(emb: Column): Column =
    graft.functions.VectorFunctions.hyperplaneBucket(emb, hyperplanes)

  private def queries(embeddings: DataFrame): DataFrame =
    embeddings.where(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").cast("long").as("q_label"))

  private def candidates(embeddings: DataFrame): DataFrame =
    embeddings.where(col("vec_id") >= QueryCount)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_vec"),
        col("label").cast("long").as("c_label"))

  /** Exact top-k: broadcast-nested-loop against the tiny query set,
    * rank per query. Output (q_id, cand_id, rank) — rank-only so the
    * oracle compare is float-robust. */
  def bruteTopK(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("cand_id"))
    candidates(embeddings)
      .join(broadcast(queries(embeddings)))
      .withColumn("sim", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "cand_id", "rank")
  }

  /** LSH-bucketed approximate top-k: candidates are only those sharing
    * the query's sign bucket — the shuffle key is the bucket id, so at
    * scale this is one hash join + small per-bucket rankings. */
  def lshTopK(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val q = queries(embeddings).withColumn("bucket", bucketCol(col("q_vec")))
    val c = candidates(embeddings).withColumn("bucket", bucketCol(col("c_vec")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("cand_id"))
    c.join(q, Seq("bucket"))
      .withColumn("sim", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("cand_id"), col("rank"),
        round(col("sim") * 1000000).cast("long").as("sim_e6"))
  }

  /** Multi-probe LSH recall gate — the standard table-count saver
    * (Lv et al., VLDB 2007): beside the query's own sign bucket, probe
    * every 1-bit-flip neighbor bucket (the [[Planes]] most-likely
    * misassignments of a sign LSH), so ONE hash table reaches the
    * recall that extra tables would otherwise buy — at 100 TB that is
    * Planes× less index storage for the same candidate quality. Per
    * variant ('single' = the ann_lsh bucket-only probe, 'multiprobe' =
    * bucket + all 1-bit flips): candidates scored (the cost side),
    * hits against the exact top-K truth, recall_milli. Scale shape:
    * the probe relation explodes to Planes+1 rows per QUERY (the tiny
    * broadcast side); candidates are joined bucket-keyed exactly like
    * [[lshTopK]] — never all-pairs; the truth is [[bruteTopK]], the
    * DECLARED gate-scale calibration. */
  def lshMultiprobe(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val truth = bruteTopK(embeddings, k)
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val q = queries(embeddings)
      .withColumn("bucket", bucketCol(col("q_vec")))
    val probes = q
      .select(col("q_id"), col("q_vec"),
        col("bucket"),
        explode(array((-1 until Planes).map(lit(_)): _*)).as("flip"))
      .withColumn("probe_bucket",
        when(col("flip") === -1, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1L, flip)")))
    val c = candidates(embeddings)
      .withColumn("c_bucket", bucketCol(col("c_vec")))
    // distinct probe buckets per query ⇒ each (q_id, cand_id) at most once
    val joined = probes.join(c, col("probe_bucket") === col("c_bucket"))
      .select(col("q_id"), col("cand_id"),
        (col("flip") === -1).as("is_single"),
        cosineSim(col("q_vec"), col("c_vec")).as("sim"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("cand_id"))
    def gate(cands: DataFrame, name: String): DataFrame = {
      val top = cands.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
      val nc = cands.agg(count(lit(1)).cast("long").as("n_candidates"))
      val nh = top.join(truth, Seq("q_id", "cand_id"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_hit"))
      nc.crossJoin(broadcast(nh)).crossJoin(broadcast(nTruth))
        .select(lit(name).as("variant"), col("n_candidates"),
          col("n_truth"), col("n_hit"),
          expr("n_hit * 1000 div n_truth").as("recall_milli"))
    }
    gate(joined.where(col("is_single")), "single")
      .unionAll(gate(joined, "multiprobe"))
  }

  /** Hard-negative mining for embedding-model training (the DPR/
    * Contriever negative-selection step of a training-data build): per
    * query, the top-k most-similar candidates whose LABEL differs from
    * the query's — similar enough to be confusable, labeled
    * differently, so they are the informative negatives a contrastive
    * batch wants. Same broadcast-query + codegen'd-cosine shape as
    * [[bruteTopK]]; the label inequality rides the same pass, no extra
    * join. At scale the exact pass is the calibration baseline — the
    * production path swaps in the IVF/LSH candidate generation
    * exactly as ann_topk → ann_lsh. */
  def hardNegatives(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("cand_id"))
    candidates(embeddings)
      .join(broadcast(queries(embeddings)))
      .where(col("c_label") =!= col("q_label"))
      .withColumn("sim", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("cand_id"), col("c_label"),
        col("rank"), round(col("sim") * 1000000).cast("long").as("sim_e6"))
  }

  /** Contrastive-triplet mining — the (anchor, positive, negative)
    * batch builder of an embedding-model training pipeline, composed
    * from two staged passes: POSITIVES are the verified near-dup pairs
    * (keeper = anchor, dup = positive — text-level paraphrase pairs
    * with an exact Jaccard witness), and the NEGATIVE per anchor is
    * the most-similar embedding in the ANCHOR's LSH bucket that is
    * (a) not the anchor, (b) not one of its verified near-dup mates,
    * and (c) differently labeled — confusably close, provably not a
    * duplicate: the hard negative a contrastive batch wants. Documents
    * align to embeddings by doc_id = vec_id (modal_align's contract);
    * anchors without an embedding, or whose bucket holds no eligible
    * candidate, yield no triplet.
    *
    * Shape at scale: the negative search shuffles on the LSH bucket id
    * (never all-pairs), the mate exclusion is an anti-join on the
    * bounded verified-pair set, and similarity is rounded to integer
    * e6 BEFORE the per-anchor argmax so the choice is associative and
    * cross-engine exact. */
  def contrastiveTriplets(dups: DataFrame,
                          embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"))
      .withColumn("bucket", bucketCol(col("embedding")))
    val pos = dups.select(col("keeper_doc_id").as("anchor_id"),
      col("dup_doc_id").as("positive_id"), col("j_milli").as("pos_j_milli"))
    val anchors = pos.select(col("anchor_id")).distinct()
      .join(e, col("anchor_id") === col("vec_id"))
      .select(col("anchor_id"), col("embedding").as("a_vec"),
        col("label").as("a_label"), col("bucket"))
    val mates = pos.select(col("anchor_id").as("m_a"),
        col("positive_id").as("m_b"))
      .union(pos.select(col("positive_id"), col("anchor_id")))
      .distinct()
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("neg_sim_e6").desc, col("negative_id"))
    val neg = anchors
      .join(e.select(col("vec_id").as("negative_id"),
        col("embedding").as("n_vec"), col("label").as("neg_label"),
        col("bucket")), Seq("bucket"))
      .where(col("negative_id") =!= col("anchor_id") &&
        col("neg_label") =!= col("a_label"))
      .join(mates, col("anchor_id") === col("m_a") &&
        col("negative_id") === col("m_b"), "left_anti")
      .withColumn("neg_sim_e6",
        round(cosineSim(col("a_vec"), col("n_vec")) * 1000000).cast("long"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("anchor_id"), col("negative_id"), col("neg_label"),
        col("neg_sim_e6"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("positive_id"), col("pos_j_milli"),
        col("negative_id"), col("neg_label"), col("neg_sim_e6"))
  }

  /** IVF index parameters: 16 fixed centroids (vec_ids 8..23, disjoint
    * from the query set), 4 probed lists per query. */
  val CentroidLo = 8L
  val NumCentroids = 16
  val NumProbes = 4

  /** The centroid table (tiny — always broadcast). A production build
    * would k-means these; fixed seeds keep the oracle deterministic. */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings
      .where(col("vec_id").between(CentroidLo, CentroidLo + NumCentroids - 1))
      .select((col("vec_id") - CentroidLo).as("centroid_id"),
        col("embedding").as("cv"))

  /** IVF list assignment: every candidate vector goes to its
    * most-similar centroid (ties → smaller id). Broadcast the 16
    * centroids, then a map-side-combined max_by per vector — the
    * shuffle carries one row per vector, not one per (vector,
    * centroid). */
  def ivfAssign(embeddings: DataFrame): DataFrame =
    candidates(embeddings)
      .join(broadcast(centroids(embeddings)))
      .withColumn("sim", cosineSim(col("c_vec"), col("cv")))
      .groupBy(col("cand_id").as("vec_id"))
      .agg(max_by(col("centroid_id"),
        struct(col("sim"), (-col("centroid_id")).as("nid"))).as("centroid_id"))

  /** IVF ANN search: rank the NumProbes nearest centroid lists per
    * query, then search only vectors assigned to those lists. At scale
    * the probe join shuffles on centroid_id (≤ NumCentroids keys ×
    * balanced lists) and candidate vectors stream through the codegen'd
    * cosine once. */
  def ivfTopK(embeddings: DataFrame, k: Int = TopK,
              numProbes: Int = NumProbes): DataFrame =
    ivfTopKFrom(ivfAssign(embeddings), embeddings, k, numProbes)

  /** [[ivfTopK]] over a pre-built (staged) list assignment — the
    * probe-count sweep evaluates 5 probe settings against ONE
    * assignment pass. */
  def ivfTopKFrom(assign: DataFrame, embeddings: DataFrame,
                  k: Int = TopK, numProbes: Int = NumProbes): DataFrame = {
    val cents = broadcast(centroids(embeddings))
    val q = queries(embeddings)
    val probes = q.join(cents)
      .withColumn("sim", cosineSim(col("q_vec"), col("cv")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("centroid_id"))))
      .where(col("rn") <= numProbes)
      .select("q_id", "centroid_id")
    val probed = probes
      .join(assign, Seq("centroid_id"))
      .select("q_id", "vec_id")
    probed
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"), "vec_id")
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("rank"))
  }

  /** One exact Lloyd (k-means) iteration over the IVF assignment — the
    * training step `centroids` stubs out, made deterministic and
    * hash-stable by doing the mean in INTEGER micro-units: each member
    * coordinate is rounded to e6 once, then summed and divided as
    * bigints (double summation is order-sensitive and would never
    * hash-match a serial SQL engine; integer sums are associative).
    * Shape at scale: assignment is the broadcast max_by (one row per
    * vector), the update is a narrow per-dimension explode followed by
    * ONE map-side-combined aggregate on (centroid, dim) — 1024 output
    * rows regardless of corpus size. */
  def ivfTrainStep(embeddings: DataFrame): DataFrame =
    ivfAssign(embeddings)
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"),
        "vec_id")
      .select(col("centroid_id"),
        posexplode(col("c_vec")).as(Seq("dim", "x")))
      .select(col("centroid_id"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000L).cast("long").as("x_e6"))
      .groupBy("centroid_id", "dim")
      .agg(sum("x_e6").as("sum_e6"), count(lit(1)).as("n_members"))
      .select(col("centroid_id"), col("dim"),
        expr("sum_e6 div n_members").as("mean_e6"),
        col("n_members"))

  /** 1-in-8 of candidate vectors model the post-build "arriving" delta
    * for [[ivfIncremental]]; lists growing more than 20% or whose new
    * members sit 0.01 cosine farther from the centroid than the base
    * members are flagged for rebalance. */
  val DeltaMod = 8L
  val RebalancePpm = 200000L
  val SimDriftE6 = 10000L

  /** The deterministic arriving-delta membership rule over `vec_id` —
    * shared by the batch [[ivfIncremental]] report and the streaming
    * ingest monitor (CdcStream.ivfIngestMonitor), so the streamed
    * arrival feed and the report's delta flag cannot drift apart. */
  def isDeltaCol: org.apache.spark.sql.Column =
    pmod(graft.functions.PortableHash.phash(
      concat(lit("delta:"), col("vec_id").cast("string"))),
      lit(DeltaMod)) === 0L

  /** Incremental IVF maintenance report — the ANN twin of
    * dedup_incremental: vectors arriving AFTER the index build are
    * assigned to the existing lists (no retrain — the production fast
    * path for streaming ingest), and the report gives the per-list
    * numbers that decide when the fast path stops being safe: base
    * vs new population, growth, and the centroid-staleness drift
    * (mean cosine of new members vs base members — new data farther
    * from the centroids than old data means the coarse quantizer no
    * longer represents the distribution). The delta set is a
    * deterministic 1-in-8 by portable hash, never rand().
    *
    * Shape: one assignment join (16-row centroid table broadcast),
    * one map-side-combined per-list aggregate — index-sized output. */
  def ivfIncremental(embeddings: DataFrame): DataFrame =
    ivfIncrementalFrom(ivfAssign(embeddings), embeddings)

  /** [[ivfIncremental]] over a staged list assignment. */
  def ivfIncrementalFrom(assign: DataFrame,
                         embeddings: DataFrame): DataFrame = {
    val isDelta = isDeltaCol
    assign
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"),
        "vec_id")
      .join(broadcast(centroids(embeddings)), "centroid_id")
      .withColumn("sim_e6",
        round(cosineSim(col("c_vec"), col("cv")) * 1000000).cast("long"))
      .withColumn("is_delta", isDelta)
      .groupBy("centroid_id")
      .agg(
        sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_new"),
        coalesce(sum(when(!col("is_delta"), col("sim_e6"))), lit(0L))
          .as("sb"),
        coalesce(sum(when(col("is_delta"), col("sim_e6"))), lit(0L))
          .as("sn"))
      .select(col("centroid_id"), col("n_base"), col("n_new"),
        expr("sb div greatest(n_base, 1L)").as("mean_sim_base_e6"),
        expr("sn div greatest(n_new, 1L)").as("mean_sim_new_e6"),
        expr("(n_new * 1000000L) div greatest(n_base, 1L)")
          .as("growth_ppm"))
      .withColumn("rebalance",
        (col("growth_ppm") > RebalancePpm ||
          col("mean_sim_new_e6") <
            col("mean_sim_base_e6") - SimDriftE6).cast("string"))
  }

  /** Neighbors kept per node by [[knnGraphFrom]]. */
  val KnnK = 5

  /** IVF-blocked exact kNN graph — the all-pairs neighbor structure
    * semantic clustering, graph-ANN (HNSW/NN-descent) seeding, and
    * SemDeDup-style curation start from. Brute force is N² and dies
    * first at scale; here candidate pairs exist ONLY within a coarse
    * IVF list (the dedup band-key discipline applied to vectors): the
    * self-join shuffles once on centroid_id, the quadratic is capped
    * at list-size² per list (at 100 TB you raise the centroid count so
    * lists stay ~√N-bounded), and each node keeps its [[KnnK]] best by
    * e6-ROUNDED similarity with id tie-break, so the RANKING itself is
    * integer-deterministic cross-engine — not just the output. Misses
    * cross-list true neighbors by construction; [[nnDescentFrom]] is
    * the repair round. */
  def knnGraphFrom(assign: DataFrame, embeddings: DataFrame): DataFrame =
    knnGraphImpl(assign, embeddings, srcCap = None)

  /** Probe-form [[knnGraphFrom]] — the SRC side restricted to the
    * fixed [[KnnProbeHi]] probe prefix while the neighbor pool stays
    * the FULL corpus: the output is verbatim the full graph's rows
    * for the probe nodes (spec-pinned where probes cover the corpus),
    * and the within-list pair volume drops from Σ list² to
    * Σ probes·list — linear in the corpus, affordable for the oracle
    * twin at every amplified tier. The knn_recall_probe convention
    * applied to the graph itself. */
  def knnGraphProbeFrom(assign: DataFrame,
                        embeddings: DataFrame): DataFrame =
    knnGraphImpl(assign, embeddings, srcCap = Some(KnnProbeHi))

  private def knnGraphImpl(assign: DataFrame, embeddings: DataFrame,
                           srcCap: Option[Long]): DataFrame = {
    val vecs = candidates(embeddings)
      .join(assign.withColumnRenamed("vec_id", "cand_id"), "cand_id")
    val leftAll = vecs.select(col("centroid_id"),
      col("cand_id").as("src_id"), col("c_vec").as("src_vec"))
    val left = srcCap.fold(leftAll)(c => leftAll.where(col("src_id") < c))
    val right = vecs.select(col("centroid_id"),
      col("cand_id").as("nbr_id"), col("c_vec").as("nbr_vec"))
    left.join(right, Seq("centroid_id"))
      .where(col("src_id") =!= col("nbr_id"))
      .withColumn("sim_e6",
        round(cosineSim(col("src_vec"), col("nbr_vec")) * 1000000)
          .cast("long"))
      .withColumn("rank", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("sim_e6").desc, col("nbr_id"))).cast("long"))
      .where(col("rank") <= KnnK)
      .select(col("src_id"), col("rank"), col("nbr_id"), col("sim_e6"))
  }

  /** One NN-descent refinement round over [[knnGraphFrom]] — the
    * repair for IVF blocking's cross-list blindness. Expanding
    * neighbors-of-neighbors INSIDE one blocking can never escape its
    * blocks (each block's exact graph is already a fixed point), so
    * the round is seeded with a SECOND, independent blocking — the
    * sign-pattern LSH buckets — whose K-best edges bridge lists; the
    * candidate set is then the undirected neighbor-of-neighbor
    * expansion of the merged graph (the NN-descent join proper),
    * every candidate is re-scored exactly, and each node keeps its
    * [[KnnK]] best. Rows flagged is_new are neighbors the IVF-blocked
    * graph could not see — the measured repair. Shape: two blocked
    * self-joins (centroid- and bucket-keyed — never quadratic in the
    * corpus), one edge-list self-join (nodes·(2K)² pairs, linear in
    * nodes), one exact re-score join, one per-node top-K window;
    * everything shuffles on node ids. */
  def nnDescentFrom(assign: DataFrame, embeddings: DataFrame): DataFrame =
    nnDescentImpl(assign, embeddings, srcCap = None)

  /** Probe-form [[nnDescentFrom]]: both seed blockings (IVF list and
    * LSH bucket) rooted at the fixed probe prefix, the
    * neighbor-of-neighbor expansion run on that probe-rooted edge set,
    * and the output restricted to probe sources. Equals the full round
    * verbatim where probes cover the corpus (spec-pinned); at scale
    * every stage is probes·list / probes·bucket bounded — linear. */
  def nnDescentProbeFrom(assign: DataFrame,
                         embeddings: DataFrame): DataFrame =
    nnDescentImpl(assign, embeddings, srcCap = Some(KnnProbeHi))

  private def nnDescentImpl(assign: DataFrame, embeddings: DataFrame,
                            srcCap: Option[Long]): DataFrame =
    nnDescentFromBase(
      knnGraphImpl(assign, embeddings, srcCap).localCheckpoint(false),
      embeddings, srcCap)

  /** [[nnDescentImpl]] over an already-built (and staged) blocked
    * graph: `base` is consumed twice (edge seeding and the final
    * is_new anti-probe), so callers that ALSO need the blocked graph
    * itself (knn_recall's ivf_blocked arm) stage it once and share —
    * one graph build instead of two identical ones. */
  private def nnDescentFromBase(base: DataFrame, embeddings: DataFrame,
                                srcCap: Option[Long]): DataFrame = {
    val v = candidates(embeddings)
    val b = v.withColumn("bucket", bucketCol(col("c_vec")))
    val lshLeftAll = b.select(col("bucket"),
      col("cand_id").as("src_id"), col("c_vec").as("src_vec"))
    val lshLeft = srcCap.fold(lshLeftAll)(c =>
      lshLeftAll.where(col("src_id") < c))
    val lshSeed = lshLeft
      .join(b.select(col("bucket"), col("cand_id").as("nbr_id"),
        col("c_vec").as("nbr_vec")), Seq("bucket"))
      .where(col("src_id") =!= col("nbr_id"))
      .withColumn("sim_e6",
        round(cosineSim(col("src_vec"), col("nbr_vec")) * 1000000)
          .cast("long"))
      .withColumn("rank", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("sim_e6").desc, col("nbr_id"))).cast("long"))
      .where(col("rank") <= KnnK)
      .select(col("src_id"), col("nbr_id"))
    // consumed by the symmetrization AND the expansion's union arm —
    // stage so the distinct runs once
    val edges = base.select(col("src_id"), col("nbr_id"))
      .union(lshSeed)
      .distinct()
      .localCheckpoint(false)
    // the undirected edge set self-joins (both sides of the
    // neighbor-of-neighbor expansion) — stage so it builds once
    val und = edges
      .union(edges.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id")))
      .distinct()
      .localCheckpoint(false)
    val expandedAll = und
      .join(und.select(col("src_id").as("nbr_id"),
        col("nbr_id").as("cand_id")), Seq("nbr_id"))
      .select(col("src_id"), col("cand_id"))
      .where(col("src_id") =!= col("cand_id"))
      .union(edges.select(col("src_id"), col("nbr_id").as("cand_id")))
      .distinct()
    // probe form: symmetrization roots expansion rows at non-probe
    // nodes too — keep only probe sources (full form: no-op)
    val expanded = srcCap.fold(expandedAll)(c =>
      expandedAll.where(col("src_id") < c))
    val refined = expanded
      .join(v.select(col("cand_id").as("src_id"),
        col("c_vec").as("src_vec")), "src_id")
      .join(v.select(col("cand_id"), col("c_vec").as("nbr_vec")),
        "cand_id")
      .withColumn("sim_e6",
        round(cosineSim(col("src_vec"), col("nbr_vec")) * 1000000)
          .cast("long"))
      .withColumn("rank", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("sim_e6").desc, col("cand_id"))).cast("long"))
      .where(col("rank") <= KnnK)
    refined
      .join(base.select(col("src_id"), col("nbr_id").as("cand_id"),
        lit(1L).as("in_base")), Seq("src_id", "cand_id"), "left")
      .select(col("src_id"), col("rank"), col("cand_id").as("nbr_id"),
        col("sim_e6"), col("in_base").isNull.cast("string").as("is_new"))
  }

  /** Recall gate for the blocked-graph family — the honest metric
    * behind [[knnGraphFrom]] and [[nnDescentFrom]]: against the
    * brute-force all-pairs top-[[KnnK]] ground truth, what fraction of
    * true neighbor edges does the IVF-blocked graph capture, and how
    * much does the NN-descent round repair? Two rows (variant, truth
    * mass, hits, recall per mille). The N² truth join is the DECLARED
    * calibration baseline (the ann_topk convention) — it runs at gate
    * scale to certify the blocked path, never in the serving plan;
    * both candidate graphs reuse the production operators verbatim so
    * the gate measures exactly what ships. */
  def knnRecallFrom(assign: DataFrame, embeddings: DataFrame): DataFrame = {
    val v = candidates(embeddings)
    // The N² pair volume is generated AFTER the src-side scan, which is
    // file-split-sized — a handful of tasks at gate scale — so without
    // an explicit fan-out the whole quadratic core (cosine + the
    // group-limit sort) inherits near-serial parallelism. Round-robin
    // the src side across the cluster's cores first: the heavy work is
    // downstream of the repartition, so the exchange moves only the
    // narrow (id, vec) rows. The truth is then staged — three
    // consumers (census + both gate joins) read the ~N·K result
    // instead of re-running the N² ranking.
    val p = embeddings.sparkSession.sparkContext.defaultParallelism
    val truth = v
      .select(col("cand_id").as("src_id"), col("c_vec").as("src_vec"))
      .repartition(p)
      .crossJoin(v.select(col("cand_id").as("nbr_id"),
        col("c_vec").as("nbr_vec")))
      .where(col("src_id") =!= col("nbr_id"))
      .withColumn("sim_e6",
        round(cosineSim(col("src_vec"), col("nbr_vec")) * 1000000)
          .cast("long"))
      .withColumn("rank", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("sim_e6").desc, col("nbr_id"))).cast("long"))
      .where(col("rank") <= KnnK)
      .select(col("src_id"), col("nbr_id"))
      .localCheckpoint(false)
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    def gate(variant: String, g: DataFrame): DataFrame =
      g.select(col("src_id"), col("nbr_id"))
        .join(truth, Seq("src_id", "nbr_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nTruth))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000L div n_truth").as("recall_milli"))
    // ONE blocked-graph build feeds both arms: the ivf_blocked gate
    // reads it directly, the nn_descent arm seeds from the same staged
    // copy (previously each arm rebuilt the graph from scratch).
    val base = knnGraphFrom(assign, embeddings).localCheckpoint(false)
    gate("ivf_blocked", base)
      .unionByName(gate("nn_descent",
        nnDescentFromBase(base, embeddings, srcCap = None)))
  }

  /** Probe set size for [[knnRecallProbeFrom]] — fixed, so the truth
    * side stays a broadcast-small relation at EVERY corpus scale. */
  val KnnProbes = 512L
  /** Probes are the first [[KnnProbes]] candidate ids (copy-0 vectors
    * under amplification — the fixed-query-prefix convention). */
  val KnnProbeHi: Long = QueryCount + KnnProbes

  /** Probe-sampled kNN-graph recall gate — the REDUCED-TRUTH form of
    * [[knnRecallFrom]] that runs at every amplified tier: the full
    * gate's N² truth (and the full-graph construction its oracle twin
    * must replay) is the declared gate-scale calibration baseline,
    * unaffordable at 100×, so this gate restricts EVERYTHING to a
    * fixed [[KnnProbes]]-node probe set. Per probe: the exact
    * top-[[KnnK]] truth over ALL candidates (probes × N — linear, the
    * ann_topk convention with a 512-row broadcast side), the probe's
    * IVF-blocked edges (probe vs its centroid list — what
    * [[knnGraphFrom]] gives that node, verbatim construction), and the
    * LSH-bridged arm (list ∪ sign-bucket candidates re-scored, the
    * [[nnDescentFrom]] seeding without the graph-global expansion).
    * Two rows (variant, truth mass, hits, recall per mille). Where the
    * probe set covers the whole corpus (base sf), the ivf_blocked row
    * EQUALS the full gate's ivf_blocked row — spec-pinned. */
  def knnRecallProbeFrom(assign: DataFrame,
                         embeddings: DataFrame): DataFrame = {
    val v = candidates(embeddings)
    def rankTopK(pairs: DataFrame): DataFrame = pairs
      .withColumn("sim_e6",
        round(cosineSim(col("src_vec"), col("nbr_vec")) * 1000000)
          .cast("long"))
      .withColumn("rank", row_number().over(Window.partitionBy("src_id")
        .orderBy(col("sim_e6").desc, col("nbr_id"))).cast("long"))
      .where(col("rank") <= KnnK)
      .select(col("src_id"), col("nbr_id"))
    // probes × corpus is generated after a file-split-sized scan — fan
    // the probe side out first so the linear-but-wide truth pass uses
    // the cluster (the knnRecallFrom discipline); stage the ~probes·K
    // result for its census + two gate-join consumers
    val p = embeddings.sparkSession.sparkContext.defaultParallelism
    val probes = v.where(col("cand_id") < KnnProbeHi)
      .select(col("cand_id").as("src_id"), col("c_vec").as("src_vec"))
      .repartition(p)
    val truth = rankTopK(probes
      .crossJoin(v.select(col("cand_id").as("nbr_id"),
        col("c_vec").as("nbr_vec")))
      .where(col("src_id") =!= col("nbr_id")))
      .localCheckpoint(false)
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val va = v.join(assign.withColumnRenamed("vec_id", "cand_id"),
      "cand_id")
    // consumed by both gate arms (directly and unioned with lshPairs)
    val listPairs = va.where(col("cand_id") < KnnProbeHi)
      .select(col("centroid_id"), col("cand_id").as("src_id"))
      .join(va.select(col("centroid_id"), col("cand_id").as("nbr_id")),
        Seq("centroid_id"))
      .where(col("src_id") =!= col("nbr_id"))
      .select("src_id", "nbr_id")
      .localCheckpoint(false)
    val b = v.withColumn("bucket", bucketCol(col("c_vec")))
    val lshPairs = b.where(col("cand_id") < KnnProbeHi)
      .select(col("bucket"), col("cand_id").as("src_id"))
      .join(b.select(col("bucket"), col("cand_id").as("nbr_id")),
        Seq("bucket"))
      .where(col("src_id") =!= col("nbr_id"))
      .select("src_id", "nbr_id")
    def rescored(pairs: DataFrame): DataFrame = rankTopK(pairs
      .join(v.select(col("cand_id").as("src_id"),
        col("c_vec").as("src_vec")), "src_id")
      .join(v.select(col("cand_id").as("nbr_id"),
        col("c_vec").as("nbr_vec")), "nbr_id"))
    def gate(variant: String, g: DataFrame): DataFrame =
      g.join(truth, Seq("src_id", "nbr_id"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nTruth))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000L div n_truth").as("recall_milli"))
    gate("ivf_blocked", rescored(listPairs))
      .unionByName(gate("ivf_plus_lsh",
        rescored(listPairs.unionByName(lshPairs).distinct())))
  }

  /** Index datasheet — the one-row manifest a deployed ANN index ships
    * with (dataset_card's twin for the vector side): corpus and query
    * populations, list-geometry stats of the coarse quantizer
    * (min/mean/max/skew — the numbers that predict probe cost and
    * stragglers), and the storage ladder (f32 → int8 → PQ codes) with
    * the PQ compression ratio. Two tiny aggregates + two 1-row
    * broadcast crosses — nothing corpus-sized leaves the executors. */
  def annIndexCardFrom(assign: DataFrame,
                       embeddings: DataFrame): DataFrame = {
    val dims = embeddings
      .agg(max(size(col("embedding"))).cast("long").as("dim"))
    val nq = embeddings.where(col("vec_id") < CentroidLo)
      .agg(count(lit(1)).as("n_queries"))
    assign.groupBy("centroid_id").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_lists"), min("sz").as("min_list"),
        max("sz").as("max_list"), sum("sz").as("n_vectors"))
      .crossJoin(broadcast(dims))
      .crossJoin(broadcast(nq))
      .select(
        col("n_vectors"), col("n_queries"), col("dim"), col("n_lists"),
        col("min_list"), col("max_list"),
        expr("n_vectors div n_lists").as("mean_list"),
        expr("(max_list * 1000000L) div greatest(n_vectors div n_lists, 1L)")
          .as("skew_ppm"),
        (col("dim") * 4).as("f32_bytes"),
        col("dim").as("int8_bytes"),
        lit(PqM.toLong).as("pq_bytes"),
        expr(s"(dim * 4000000L) div $PqM").as("pq_ratio_ppm"))
  }

  /** [[annIndexCardFrom]] built standalone. */
  def annIndexCard(embeddings: DataFrame): DataFrame =
    annIndexCardFrom(ivfAssign(embeddings), embeddings)

  /** Int8 quantization summary per vector: clip to [-1,1], scale by
    * 127, round — the storage-compression step (4× smaller than f32)
    * a 100 TB vector corpus ships with. Surfaced as hash-stable
    * per-vector stats (sum/min/max of the quantized codes + clip
    * count); the quantized array itself stays an internal column. */
  def quantizeStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(" +
          "greatest(least(cast(x as double), 1.0d), -1.0d) * 127) as bigint))")
          .as("q"),
        expr("size(filter(embedding, x -> cast(x as double) > 1.0d or " +
          "cast(x as double) < -1.0d))").cast("long").as("n_clipped"))
      .select(col("vec_id"),
        expr("aggregate(q, cast(0 as bigint), (a, v) -> a + v)").as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        col("n_clipped"))

  /** e6-quantized coordinate vectors (vec_id, v6: array<bigint>) — the
    * exact-integer representation [[kmeansShift]] clusters in. */
  private def vecsE6(embeddings: DataFrame): DataFrame =
    candidates(embeddings).select(col("cand_id").as("vec_id"),
      expr("transform(c_vec, x -> cast(round(cast(x as double) * 1000000d) " +
        "as bigint))").as("v6"))

  /** Nearest centroid by exact integer squared-L2 over e6 coordinates
    * (ties → smaller centroid id). Broadcast centroid arrays; the
    * shuffle carries one row per vector. The distance is the codegen'd
    * IntL2 expression — the interpreted zip_with/aggregate lambda pair
    * it replaced ran once per (vector × centroid) in the hot loop. */
  private def assignE6(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents))
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("v6"), col("c6")))
      .groupBy("vec_id")
      .agg(min_by(col("centroid_id"),
        struct(col("d12"), col("centroid_id"))).as("centroid_id"))

  /** Per-(centroid, dim) truncated integer mean of the assigned
    * vectors' e6 coordinates — exactly one map-side-combined aggregate
    * (≤ NumCentroids·Dim output rows at any corpus size). */
  private def meansE6(assigned: DataFrame, vecs: DataFrame): DataFrame =
    assigned.join(vecs, "vec_id")
      .select(col("centroid_id"), posexplode(col("v6")).as(Seq("dim", "x_e6")))
      .groupBy(col("centroid_id"), col("dim").cast("long").as("dim"))
      .agg(sum("x_e6").as("s"), count(lit(1)).as("n_members"))
      .select(col("centroid_id"), col("dim"),
        expr("s div n_members").as("m_e6"), col("n_members"))

  /** (centroid_id, dim, m_e6) relation → broadcastable centroid arrays. */
  private def centArrE6(means: DataFrame): DataFrame =
    means.groupBy("centroid_id")
      .agg(sort_array(collect_list(struct(col("dim"), col("m_e6")))).as("ms"))
      .select(col("centroid_id"), expr("transform(ms, p -> p.m_e6)").as("c6"))

  /** Two exact Lloyd iterations + the convergence report (per centroid:
    * member counts after each iteration and the L1 centroid shift in
    * e6) — the monitor that tells an IVF/k-means training loop when to
    * stop. EVERYTHING here is integer arithmetic: coordinates quantize
    * to e6 once, assignment is integer squared-L2 argmin, means are
    * truncated integer division — so the full two-pass computation is
    * associative, order-independent, and bit-identical in the SQL
    * oracle (a double-valued Lloyd step could never hash-match).
    * Scale shape per iteration: one broadcast of ≤NumCentroids arrays,
    * one row per vector through the argmin, one (centroid, dim)
    * aggregate. */
  def kmeansShift(embeddings: DataFrame): DataFrame = {
    val vecs = vecsE6(embeddings)
    val seed = centroids(embeddings).select(col("centroid_id"),
      expr("transform(cv, x -> cast(round(cast(x as double) * 1000000d) " +
        "as bigint))").as("c6"))
    val m1 = meansE6(assignE6(vecs, seed), vecs)
    val m2 = meansE6(assignE6(vecs, centArrE6(m1)), vecs)
    m1.select(col("centroid_id"), col("dim"), col("m_e6").as("m1_e6"),
      col("n_members").as("n1"))
      .join(m2.select(col("centroid_id"), col("dim"), col("m_e6").as("m2_e6"),
        col("n_members").as("n2")), Seq("centroid_id", "dim"), "full_outer")
      .groupBy("centroid_id")
      .agg(max("n1").as("n_members_1"), max("n2").as("n_members_2"),
        sum(abs(coalesce(col("m2_e6"), lit(0L))
          - coalesce(col("m1_e6"), lit(0L)))).as("shift_e6"))
      .na.fill(0L, Seq("n_members_1", "n_members_2"))
  }

  /** Cluster cohesion/separation gate per IVF list — the Dunn-style
    * quantizer-health check beside ivf_balance (population skew) and
    * kmeans_shift (convergence): a list whose members sit FARTHER
    * from their own centroid than that centroid sits from its nearest
    * neighbour is an overlapping cluster the probe-count math can't
    * trust. Per list: member count, mean intra squared-L2 to own
    * centroid, nearest other centroid + its squared-L2, and the
    * overlap flag (4·intra > inter — ratio test cross-multiplied).
    * EVERYTHING is exact integers: e6 coordinates, the codegen'd
    * IntL2 distance, each row's distance truncated to e0 units
    * (÷1e6) BEFORE summing so per-list sums stay far inside int64 at
    * any corpus size, truncating integer means. Shapes: one broadcast
    * of ≤NumCentroids arrays onto the vector scan, one per-list
    * aggregate; the centroid×centroid pass is a ≤16² broadcast cross.
    */
  def clusterCohesion(embeddings: DataFrame): DataFrame = {
    val vecs = vecsE6(embeddings)
    val seed = centroids(embeddings).select(col("centroid_id"),
      expr("transform(cv, x -> cast(round(cast(x as double) * 1000000d) " +
        "as bigint))").as("c6"))
    val intra = vecs.join(broadcast(seed))
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("v6"), col("c6")))
      .groupBy("vec_id")
      .agg(min(struct(col("d12"), col("centroid_id"))).as("w"))
      .select(col("w.centroid_id").as("centroid_id"),
        expr("w.d12 div 1000000").as("d_u"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"), sum("d_u").as("s"))
      .select(col("centroid_id"), col("n_members"),
        expr("s div n_members").as("intra_u"))
    val inter = seed.select(col("centroid_id"), col("c6").as("ca"))
      .join(broadcast(seed.select(col("centroid_id").as("cid_b"),
        col("c6").as("cb"))), col("centroid_id") =!= col("cid_b"))
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("ca"), col("cb")))
      .groupBy("centroid_id")
      .agg(min(struct(col("d12"), col("cid_b"))).as("w"))
      .select(col("centroid_id"),
        expr("w.d12 div 1000000").as("inter_u"),
        col("w.cid_b").as("nearest_cid"))
    inter.join(intra, Seq("centroid_id"), "left")
      .na.fill(0L, Seq("n_members", "intra_u"))
      .select(col("centroid_id"), col("n_members"), col("intra_u"),
        col("nearest_cid"), col("inter_u"),
        (col("intra_u") * 4 > col("inter_u")).cast("string")
          .as("overlap_flag"))
  }

  /** Second (disjoint) seed block for [[kmeansStability]]: candidates
    * 24..39 (the standard seed uses 8..23). */
  val AltSeedBase = 24

  /** k-means seed-sensitivity gate — the clustering-QA question the
    * convergence monitor (kmeans_shift) doesn't answer: how much of
    * the partition is SEED, not STRUCTURE? Two disjoint deterministic
    * seed blocks each assign the full corpus (exact integer e6
    * squared-L2 argmin), and the report is the pair-counting Rand
    * index of the two partitions, computed entirely from the ≤16×16
    * contingency grid: agree = C(N,2) − (ΣC(aᵢ,2) + ΣC(bⱼ,2) −
    * 2ΣC(nᵢⱼ,2)). All exact integers (the ·1000 product stays inside
    * int64 to N ≈ 6·10⁷ vectors; past that the milli scaling, not the
    * index, needs re-forming). A Rand near 500 (coin-flip pair
    * agreement) says the 16-way cut is seed noise; near 1000 says the
    * corpus has real cluster structure. Shapes: two broadcast-centroid
    * argmin passes over the vector scan, one (ca, cb) grid aggregate,
    * then grid-sized arithmetic. */
  def kmeansStability(embeddings: DataFrame): DataFrame = {
    val vecs = vecsE6(embeddings)
    def seedAt(base: Int): DataFrame = embeddings
      .where(col("vec_id") >= base && col("vec_id") < base + NumCentroids)
      .select((col("vec_id") - base).as("centroid_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) " +
          "* 1000000d) as bigint))").as("c6"))
    val aA = assignE6(vecs, seedAt(QueryCount))
      .select(col("vec_id"), col("centroid_id").as("ca"))
    val aB = assignE6(vecs, seedAt(AltSeedBase))
      .select(col("vec_id"), col("centroid_id").as("cb"))
    val cells = aA.join(aB, "vec_id")
      .groupBy("ca", "cb").agg(count(lit(1)).as("n"))
    cells.agg(
        sum("n").as("n_vecs"),
        count(lit(1)).as("n_cells"),
        sum(expr("n * (n - 1) div 2")).as("s_cells"))
      .crossJoin(broadcast(cells.groupBy("ca")
        .agg(sum("n").as("na"))
        .agg(sum(expr("na * (na - 1) div 2")).as("s_a"))))
      .crossJoin(broadcast(cells.groupBy("cb")
        .agg(sum("n").as("nb"))
        .agg(sum(expr("nb * (nb - 1) div 2")).as("s_b"))))
      .select(col("n_vecs"), col("n_cells"),
        expr("(n_vecs * (n_vecs - 1) div 2 - s_a - s_b + 2 * s_cells)" +
          " * 1000 div (n_vecs * (n_vecs - 1) div 2)")
          .as("rand_milli"))
  }

  /** Embedding-norm QA per label class: squared L2 norm with each
    * element's square rounded to integer e6 FIRST (so the 64-term sum
    * is associative integer arithmetic — order-independent across
    * partitions and engines, where a double sum is neither), then
    * count/min/max/sum per label. The drift/outlier screen an
    * embedding pipeline runs before trusting ANN distances: a label
    * whose norm band shifts signals a bad encoder batch. Shuffle-free
    * until the final ≤|labels|-key aggregate. */
  def embedNormStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label").cast("long").as("label"),
        expr("aggregate(transform(embedding, " +
          "x -> cast(round(cast(x as double) * cast(x as double) * 1000000d) " +
          "as bigint)), cast(0 as bigint), (a, v) -> a + v)").as("sq_e6"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("sq_e6").as("min_sq_e6"),
        max("sq_e6").as("max_sq_e6"),
        sum("sq_e6").as("sum_sq_e6"))

  /** Integer-exact covariance audit over every (dim_a ≤ dim_b) pair —
    * the anisotropy measurement behind the vector-index design calls
    * this repo already commits to (the residual-PQ negative holds
    * exactly while the corpus is isotropic; a dominant off-diagonal
    * band is the signal to whiten/rotate before PQ, à la OPQ).
    *
    * Two passes, both associative integer arithmetic so the result is
    * partition-order-free and oracle-hashable: (1) per-dim integer
    * mean of the e6-rounded coordinates (a [[Dim]]-row aggregate whose
    * result — 64 longs — is collected and inlined as a literal array:
    * the scalable form of broadcasting a tiny statistics relation);
    * (2) one explode of each vector's centered coords against its own
    * tail slice, partially aggregated map-side into the fixed
    * Dim·(Dim+1)/2-group space (2080 groups at 64 dims), so the only
    * shuffle carries ≤2080 rows per map partition regardless of corpus
    * size. cov_e12 = Σ(ca·cb) div n with e6-centered factors: |ca| ≤
    * 2e6 ⇒ the 63-bit sum holds to ~2M vectors per job at full |x|≈1
    * coordinate range — shard-and-merge (sums are associative) beyond. */
  def embedCovariance(embeddings: DataFrame): DataFrame = {
    val x6 = embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000L).cast("long")).as("v6"))
    val means = x6
      .select(posexplode(col("v6")).as(Seq("dim", "x6")))
      .groupBy("dim")
      .agg(sum("x6").as("s"), count(lit(1)).as("n"))
      .select(col("dim"), expr("s div n").as("mean6"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val meanLit = array((0 until Dim).map(d => lit(means(d))): _*)
    x6
      .select(col("vec_id"),
        zip_with(col("v6"), meanLit, (x, m) => x - m).as("c6"))
      .select(col("c6"), posexplode(col("c6")).as(Seq("da", "ca")))
      .select(col("da"), col("ca"),
        posexplode(slice(col("c6"), col("da") + 1, lit(Dim) - col("da")))
          .as(Seq("j", "cb")))
      .groupBy(col("da").cast("long").as("dim_a"),
        (col("da") + col("j")).cast("long").as("dim_b"))
      .agg(sum(col("ca") * col("cb")).as("sp"), count(lit(1)).as("n"))
      .select(col("dim_a"), col("dim_b"),
        expr("sp div n").as("cov_e12"))
  }

  /** Power-iteration rounds of [[anisotropyAudit]]. */
  val PowerIters = 8

  /** Dominant-eigenvalue audit of the [[embedCovariance]] matrix — the
    * number that actually decides the whiten/rotate-before-PQ call the
    * covariance audit exists for: an isotropic corpus has
    * λ1 ≈ trace/Dim (≈15625 ppm at 64 dims); a dominant principal
    * direction pushes the ratio far above that and is the OPQ/whitening
    * trigger.
    *
    * Scale split: the corpus-sized work is [[embedCovariance]]
    * (distributed, shuffle bounded by the Dim·(Dim+1)/2 group space at
    * any corpus size); the eigen-iteration then runs on a Dim×Dim
    * matrix — 4096 longs, a driver-side object by construction, same
    * convention as the collected k-means centroids. All arithmetic is
    * integer (e6 fixed point, truncating division, per-round
    * max-abs renormalization bounding |v| ≤ 2e6) so the DuckDB oracle
    * replays the identical [[PowerIters]] rounds from staged TEMP
    * TABLEs and every output digit hash-matches. Output (one row):
    * lambda1_e6 and trace_e6 in the same cov-e6 units, their ratio in
    * ppm, the top-loading dimension, and the eigenvector L1 checksum
    * pinning the converged direction. */
  def anisotropyAudit(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    val m = Array.ofDim[Long](Dim, Dim)
    embedCovariance(embeddings).collect().foreach { r =>
      val a = r.getLong(0).toInt; val b = r.getLong(1).toInt
      val c6 = r.getLong(2) / 1000000L
      m(a)(b) = c6; m(b)(a) = c6
    }
    def mul(v: Array[Long]): Array[Long] =
      Array.tabulate(Dim)(a => (0 until Dim).map(b => m(a)(b) * v(b)).sum)
    var v = Array.fill(Dim)(1000000L)
    (1 to PowerIters).foreach { _ =>
      val w = mul(v)
      val scale = math.max(w.map(math.abs).max / 1000000L, 1L)
      v = w.map(_ / scale)
    }
    val w = mul(v)
    val num = (0 until Dim).map(a => v(a) * (w(a) / 1000000L)).sum
    val den = v.map(x => x * x).sum
    val trace = (0 until Dim).map(a => m(a)(a)).sum
    val lambda1 = num / math.max(den / 1000000L, 1L)
    val ratio = lambda1 * 1000000L / math.max(trace, 1L)
    val topDim = (0 until Dim).minBy(a => (-math.abs(v(a)), a)).toLong
    val l1 = v.map(math.abs).sum
    import spark.implicits._
    Seq((lambda1, trace, ratio, topDim, l1))
      .toDF("lambda1_e6", "trace_e6", "anisotropy_ppm", "top_dim", "v_l1")
  }

  /** MMR re-rank: shortlist size, picks per query, relevance weight. */
  val MmrShort = 12
  val MmrK = 5
  val MmrLambdaPpm = 700000L

  /** Maximal-marginal-relevance diversified retrieval — the serving-
    * side re-rank between ANN shortlist and final context (RAG dedups
    * its retrieved passages exactly this way): greedily pick
    * [[MmrK]] of the [[MmrShort]]-candidate shortlist, each step
    * maximizing λ·sim(q,c) − (1−λ)·max sim(c, picked), everything in
    * e6-rounded integers so both engines make bit-identical greedy
    * decisions (ties → smaller cand_id).
    *
    * Scale shape: the corpus-sized pass is shortlist construction (the
    * broadcast-query exact scan here — production swaps in the
    * LSH/IVF candidate generation exactly as ann_topk → ann_lsh); the
    * pairwise matrix is shortlist²-bounded per query, grouped ONCE
    * into a per-query row (arrays + a pair-sim map), and the greedy
    * runs inside ONE higher-order aggregate expression per row — no
    * per-step shuffle, no driver loop, data-parallel across a million
    * queries exactly like any other per-row expression. */
  def mmrDiversify(embeddings: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim_e6").desc, col("cand_id"))
    val shortlist = candidates(embeddings)
      .join(broadcast(queries(embeddings)))
      .withColumn("sim_e6",
        round(cosineSim(col("q_vec"), col("c_vec")) * 1000000).cast("long"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= MmrShort)
      .select(col("q_id"), col("cand_id"), col("c_vec"), col("sim_e6"))
    val pairs = shortlist.as("a")
      .join(shortlist.as("b"),
        col("a.q_id") === col("b.q_id") &&
          col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.q_id").as("q_id"), col("a.cand_id").as("id_a"),
        col("b.cand_id").as("id_b"),
        round(cosineSim(col("a.c_vec"), col("b.c_vec")) * 1000000)
          .cast("long").as("ps"))
    val perQuery = shortlist
      .groupBy("q_id")
      .agg(sort_array(collect_list(struct(
        (-col("sim_e6")).as("nsq"), col("cand_id").as("id"),
        col("sim_e6").as("sq")))).as("cands"))
      .join(pairs.groupBy("q_id")
          .agg(map_from_entries(collect_list(struct(
            concat_ws(":", col("id_a"), col("id_b")).as("k"),
            col("ps").as("v")))).as("pm")),
        Seq("q_id"))
    val lam = MmrLambdaPpm
    perQuery.select(col("q_id"), expr(
      s"""aggregate(
         |  sequence(1, $MmrK),
         |  cast(array() as array<bigint>),
         |  (sel, step) -> array_append(sel,
         |    -array_max(transform(
         |      filter(cands, c -> NOT array_contains(sel, c.id)),
         |      c -> struct(
         |        $lam * c.sq - ${1000000L - lam} *
         |          coalesce(array_max(transform(sel, s ->
         |            element_at(pm, concat(s, ':', c.id)))), 0L)
         |          AS score,
         |        -c.id AS negid))).negid))""".stripMargin).as("picks"))
      .select(col("q_id"),
        posexplode(col("picks")).as(Seq("p", "cand_id")))
      .select(col("q_id"), (col("p") + 1).cast("long").as("rank"),
        col("cand_id"))
      .join(shortlist.select(col("q_id"), col("cand_id"), col("sim_e6")),
        Seq("q_id", "cand_id"))
      .select(col("q_id"), col("rank"), col("cand_id"), col("sim_e6"))
  }

  /** PQ subspace variance-allocation audit — the OPQ question after
    * [[anisotropyAudit]] answers the whitening one: does each of the
    * [[PqM]] subspaces carry a fair share of the corpus variance?
    * Plain PQ assigns dims to subspaces blindly; a subspace hoarding
    * variance dominates quantization error, and OPQ's dimension
    * permutation exists exactly to flatten this profile. Per
    * subspace: its diagonal-variance mass (from [[embedCovariance]],
    * integer e12), share of total in ppm, and the ratio to the
    * uniform 1/M share (1e6 = perfectly balanced). Everything after
    * the covariance pass is Dim-row arithmetic. */
  def pqSubspaceBalance(embeddings: DataFrame): DataFrame = {
    val per = embedCovariance(embeddings)
      .where(col("dim_a") === col("dim_b"))
      .select(expr(s"dim_a div $PqSubDim").as("subspace"), col("cov_e12"))
      .groupBy("subspace")
      .agg(sum("cov_e12").as("var_e12"))
    val tot = per.agg(sum("var_e12").as("tot_e12"))
    per.crossJoin(broadcast(tot))
      .select(col("subspace"), col("var_e12"),
        expr("var_e12 * 1000000L div greatest(tot_e12, 1L)")
          .as("share_ppm"),
        expr(s"var_e12 * $PqM * 1000000L div greatest(tot_e12, 1L)")
          .as("balance_ppm"))
  }

  /** RRF rank constant (the standard k=60 of Cormack et al.). */
  val RrfK0 = 60L

  /** Reciprocal-rank fusion of the three ANN rankings — the
    * multi-index serving pattern (fuse a cheap recall-oriented index
    * with a precise one instead of tuning either): per (query,
    * candidate), score = Σ 1e6 div (60 + rank) over every system that
    * returned it (exact brute, LSH-bucketed, IVF-probed), fused top-k
    * by integer score. RRF needs only ranks — no score calibration
    * across systems — which is why it is the default fusion everywhere
    * from TREC to vector-DB hybrid search.
    *
    * Scale shape: the three inputs are the already-audited ranking
    * operators (each shuffle-bounded by its own contract); fusion
    * itself is a union + one (q_id, cand_id) aggregate whose group
    * space is ≤ 3k per query, then a per-query window over ≤ 3k rows.
    * Integer scores make the fused order (score desc, cand_id)
    * bit-identical cross-engine. */
  def rrfFusion(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val cols = Seq("q_id", "cand_id", "rank").map(col)
    val u = bruteTopK(embeddings, k).select(cols: _*)
      .unionByName(lshTopK(embeddings, k).select(cols: _*))
      .unionByName(ivfTopK(embeddings, k).select(cols: _*))
    u.groupBy("q_id", "cand_id")
      .agg(sum(expr(s"1000000L div ($RrfK0 + rank)")).as("rrf_e6"),
        count(lit(1)).as("n_systems"))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("rrf_e6").desc, col("cand_id"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("cand_id"),
        col("rrf_e6"), col("n_systems"))
  }

  // --- product quantization ------------------------------------------------

  /** PQ geometry: M subspaces × SubDim dims, K centroids per subspace
    * (8-bit-per-subspace codes → a 64-dim float vector compresses
    * 32×, which is what makes a 100 TB vector corpus scannable). */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16

  /** Deterministic PQ codebook [m][k][subdim], same splitmix LCG as
    * the hyperplanes but seeded differently (π fraction — a public
    * nothing-up-my-sleeve constant). A production build would k-means
    * per subspace; fixed literals keep the oracle deterministic, and
    * the plan shape is identical either way. */
  lazy val pqCodebook: Array[Array[Array[Double]]] = {
    val s = splitmixDoubles(0x243F6A8885A308D3L)
    Array.fill(PqM, PqK, PqSubDim)(s.next())
  }

  /** PQ encoding: each vector's M subvectors map to their nearest
    * codebook centroid (distances rounded to integer e9 BEFORE the
    * argmin, ties → smaller code) via the single codegen'd
    * [[graft.functions.PqCodes]] loop — no join at all: the codebook
    * lives in the instruction stream, the scan is shuffle-free and
    * embarrassingly parallel. err_e6 is the total quantization error,
    * summed as integers. (An unrolled Column-tree form of this paid
    * ~3s of Janino compilation per fresh plan — see PqCodes.) */
  def pqEncode(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.functions.VectorFunctions.pqCodes(col("embedding"), pqCodebook)
          .as("pq"))
      .select(
        col("vec_id") +:
          (0 until PqM).map(m => col("pq").getItem(m).as(s"c$m")) :+
          col("pq").getItem(PqM).as("err_e9"): _*)
      .withColumn("err_e6", expr("err_e9 div 1000"))
      .drop("err_e9")

  /** PQ asymmetric-distance search (ADC): queries stay full-precision,
    * candidates are their 8-code rows, and each query precomputes a
    * 128-entry lookup table of subspace distances — scoring a
    * candidate is then 8 integer table lookups + adds. This is the
    * payoff of PQ at 100 TB: the scan touches only the code columns
    * (32× smaller than the vectors) and a broadcast LUT; exact
    * re-ranking of the short list would read full vectors for top-k
    * ids only. */
  def pqSearch(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val q = queries(embeddings).select(col("q_id"),
      graft.functions.VectorFunctions.pqLut(col("q_vec"), pqCodebook)
        .as("lut"))
    val codes = pqEncode(embeddings)
      .where(col("vec_id") >= QueryCount)
    val distE9 = (0 until PqM).map(m =>
      element_at(col("lut"), (col(s"c$m") + lit(m * PqK + 1)).cast("int")))
      .reduce(_ + _)
    codes
      .join(broadcast(q))
      .withColumn("dist_e9", distE9)
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dist_e9"), col("vec_id"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("rank"),
        col("dist_e9"))
  }

  /** Exact squared L2 distance (e9-rounded, same contract as the PQ
    * distances) between the broadcast query vector and a candidate —
    * index-order left fold, bit-identical to the oracle's
    * left-associated sum. */
  private def l2DistE9(a: Column, b: Column): Column = {
    val d2 = aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    round(d2 * 1e9).cast("long")
  }

  /** ANN recall evaluation: PQ-ADC results measured against the EXACT
    * L2 top-k ground truth (the metric PQ approximates — a cosine
    * truth would conflate metric mismatch with codebook loss) — the
    * index-quality gate run before trusting an approximate index at
    * scale, recall@k in milli. The truth side is the (tiny) query
    * set's top-k only, so the final join is k·|Q| against k·|Q| rows.
    *
    * On THIS corpus the measured recall is honestly low: the vectors
    * are i.i.d. random (distances concentrate, so the true top-k is
    * barely separated from rank 100) and the codebook is untrained —
    * which is precisely what a recall gate exists to catch. A
    * production index k-means-trains the codebook per subspace; the
    * plan shape here is identical either way. */
  def pqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    pqRecallFrom(l2Truth(embeddings, k), embeddings, k)

  /** [[pqRecall]] over a staged exact-L2 truth. */
  def pqRecallFrom(truth: DataFrame, embeddings: DataFrame,
                   k: Int = TopK): DataFrame =
    recallAtK(truth,
      pqSearch(embeddings, k).select(col("q_id"), col("cand_id")), k)

  /** Exact L2 top-k ground truth per query — shared by [[pqRecall]]
    * and [[pqRecallTrained]] so both gates measure against the same
    * metric. */
  private def l2Truth(embeddings: DataFrame, k: Int): DataFrame =
    candidates(embeddings)
      .join(broadcast(queries(embeddings)))
      .withColumn("d2_e9", l2DistE9(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("d2_e9"), col("cand_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("cand_id"))

  /** recall@k of an approximate result against a ground-truth top-k:
    * the k·|Q| truth rows semi-join the approximate rows, and every
    * query reports its hit count even at zero — the shared scaffold
    * of [[ivfRecall]] and [[pqRecall]]. */
  private def recallAtK(truth: DataFrame, approx: DataFrame,
                        k: Int): DataFrame = {
    val hits = truth
      .join(approx, Seq("q_id", "cand_id"), "left_semi")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_hits"))
    truth.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("q_id"), col("n_hits"),
        expr(s"(n_hits * 1000) div $k").as("recall_milli"))
  }

  /** Int8 quantization column (the [[quantizeStats]] codec): clip to
    * [-1, 1], scale by 127, round — per coordinate. */
  private def int8Expr(c: String): String =
    s"transform($c, x -> cast(round(" +
      "greatest(least(cast(x as double), 1.0d), -1.0d) * 127) as bigint))"

  /** Recall of symmetric int8 scalar-quantized search against the
    * exact cosine truth — the MIDDLE rung of the storage ladder
    * [[annIndexCardFrom]] prices (f32 = 1000 milli by definition, int8
    * here, PQ in the pq_recall gates): both sides quantize with the
    * [[quantizeStats]] codec and rank by the int8×int8 dot product,
    * which is INTEGER arithmetic end-to-end — unlike the float cosine,
    * this ranking is bit-identical across engines by construction.
    * Same shape as ann_topk: 8-query broadcast, per-query top-k, then
    * the shared recall scaffold. */
  def sqRecallFrom(cosTruth: DataFrame, embeddings: DataFrame,
                   k: Int = TopK): DataFrame = {
    val q = queries(embeddings)
      .select(col("q_id"), expr(int8Expr("q_vec")).as("qq"))
    val approx = candidates(embeddings)
      .select(col("cand_id"), expr(int8Expr("c_vec")).as("qc"))
      .join(broadcast(q))
      .withColumn("dot", expr("aggregate(zip_with(qq, qc, (a, b) -> a * b)" +
        ", cast(0 as bigint), (s, v) -> s + v)"))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("cand_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("cand_id"))
    recallAtK(cosTruth, approx, k)
  }

  /** [[sqRecallFrom]] built standalone. */
  def sqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    sqRecallFrom(bruteTopK(embeddings, k), embeddings, k)

  /** Output dimensionality of the [[rpRecallFrom]] projection. */
  val RpDims = 16

  /** The fixed ±1 Johnson–Lindenstrauss sign matrix (RpDims × Dim),
    * phash-derived so both engines embed the SAME literal — never
    * rand(). */
  lazy val rpSigns: IndexedSeq[IndexedSeq[Long]] =
    (0 until RpDims).map(j => (0 until Dim).map(i =>
      if (graft.functions.PortableHash.md5Long(s"rp:$i:$j") % 2 == 0) 1L
      else -1L))

  private lazy val rpSignsLit: String =
    rpSigns.map(_.map(v => s"${v}L").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  /** e6-integer signed-random-projection of a float vector column. */
  private def rpProjExpr(c: String): String =
    s"transform($rpSignsLit, row -> aggregate(zip_with(row, " +
      s"transform($c, x -> cast(round(cast(x as double) * 1000000) " +
      "as bigint)), (s, v) -> s * v), cast(0 as bigint), (a, b) -> a + b))"

  /** Johnson–Lindenstrauss signed-random-projection recall gate — the
    * data-INDEPENDENT rung of the storage ladder, between int8
    * ([[sqRecallFrom]], same width, learned nothing) and the learned
    * reductions (MRL prefixes, PQ codebooks): every e6-integer vector
    * is projected through the fixed ±1 sign matrix [[rpSigns]] from
    * [[Dim]]=64 down to [[RpDims]]=16 coordinates, candidates are
    * ranked by the exact integer dot in the projected space, and the
    * gate reports recall@k against the exact cosine truth. What a 4×
    * coordinate cut costs with NO training, no codebook, and no
    * assumption about the corpus — the floor every learned method must
    * beat to justify its training pass.
    *
    * Shape: identical to sq_recall — the projection is one codegen'd
    * higher-order expression on the streaming candidate scan, the
    * 8-query projected set broadcasts, ranking is a per-query window.
    * Integer end-to-end → bit-identical cross-engine. */
  def rpRecallFrom(cosTruth: DataFrame, embeddings: DataFrame,
                   k: Int = TopK): DataFrame = {
    val q = queries(embeddings)
      .select(col("q_id"), expr(rpProjExpr("q_vec")).as("yq"))
    val approx = candidates(embeddings)
      .select(col("cand_id"), expr(rpProjExpr("c_vec")).as("yc"))
      .join(broadcast(q))
      .withColumn("dot", expr("aggregate(zip_with(yq, yc, (a, b) -> a * b)" +
        ", cast(0 as bigint), (s, v) -> s + v)"))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("cand_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("cand_id"))
    recallAtK(cosTruth, approx, k)
  }

  /** [[rpRecallFrom]] built standalone. */
  def rpRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    rpRecallFrom(bruteTopK(embeddings, k), embeddings, k)

  /** Prefix dimensionalities evaluated by [[mrlRecallCurve]]. The top
    * entry is the full [[Dim]], so the curve's top end must reproduce
    * [[sqRecall]]'s aggregate exactly — a built-in sanity check. */
  val MrlDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka truncation recall curve — recall@k of int8
    * symmetric-dot search over only the FIRST d coordinates, for every
    * d in [[MrlDims]], against the exact full-dim cosine truth. This
    * is the adaptive-retrieval dial of Matryoshka Representation
    * Learning (Kusupati et al. 2022): an MRL-trained embedding packs
    * coarse semantics into the prefix, so serving can shrink vectors
    * 8× and re-rank with the full dim only on a shortlist; the curve
    * measures what each truncation actually costs on THIS corpus
    * (i.i.d. test vectors spread information uniformly, so the
    * measured decay here is the worst case — an honest floor, the
    * same posture as [[pqRecall]]'s untrained-codebook note).
    *
    * Shape: ONE pass over the candidate set computes the coordinate
    * products per (query, candidate) and every prefix dot as a slice
    * aggregate of that product array — then a single explode to
    * (dims, dot) rows, one window ranking partitioned by (dims,
    * q_id), and one join against the truth set grouped by dims. A
    * 100 TB candidate stream is scanned once, not |MrlDims| times.
    * Integer arithmetic end-to-end → bit-identical cross-engine. */
  def mrlRecallCurveFrom(cosTruth: DataFrame, embeddings: DataFrame,
                         k: Int = TopK): DataFrame = {
    val truth = cosTruth.select(col("q_id"), col("cand_id"))
    val nq = truth.select("q_id").distinct().agg(count(lit(1)).as("n_q"))
    val q8 = queries(embeddings)
      .select(col("q_id"), expr(int8Expr("q_vec")).as("qq"))
    val c8 = candidates(embeddings)
      .select(col("cand_id"), expr(int8Expr("c_vec")).as("qc"))
    val dimArms = MrlDims.map(d =>
      s"struct(cast($d as bigint) as dims, " +
        s"aggregate(slice(prods, 1, $d), cast(0 as bigint), " +
        "(s, v) -> s + v) as dot)").mkString(", ")
    val ranked = c8.join(broadcast(q8))
      .withColumn("prods", expr("zip_with(qq, qc, (a, b) -> a * b)"))
      .select(col("q_id"), col("cand_id"),
        explode(expr(s"array($dimArms)")).as("a"))
      .select(col("q_id"), col("cand_id"), col("a.dims").as("dims"),
        col("a.dot").as("dot"))
      .withColumn("rn", row_number().over(Window.partitionBy("dims", "q_id")
        .orderBy(col("dot").desc, col("cand_id"))))
      .where(col("rn") <= k)
      .select("dims", "q_id", "cand_id")
    val hits = ranked
      .join(truth, Seq("q_id", "cand_id"), "left_semi")
      .groupBy("dims")
      .agg(count(lit(1)).as("hits"))
    nq // 1 row → the 4-row dims grid, so zero-hit arms still report
      .select(explode(expr(
        s"array(${MrlDims.map(d => s"cast($d as bigint)").mkString(", ")})"))
        .as("dims"), col("n_q"))
      .join(hits, Seq("dims"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("dims"), col("hits").as("sum_hits"),
        expr(s"(hits * 1000) div (n_q * ${k}L)").as("mean_recall_milli"))
  }

  /** [[mrlRecallCurveFrom]] built standalone. */
  def mrlRecallCurve(embeddings: DataFrame, k: Int = TopK): DataFrame =
    mrlRecallCurveFrom(bruteTopK(embeddings, k), embeddings, k)

  /** Binary-quantization shortlist size: hamming ranks R candidates,
    * the int8 re-rank keeps k. */
  val BqShortlist: Int = 4 * TopK

  /** Sign-bit packing of a [[Dim]]-dim float vector into two 32-bit
    * words (`lo` = coords 0-31, `hi` = 32-63): bit i set iff the
    * coordinate is > 0. Two half-words instead of one 64-bit word so
    * neither engine ever shifts into the sign bit. */
  private def signWordExpr(c: String, off: Int): String =
    s"aggregate(zip_with(slice($c, ${off + 1}, 32), sequence(0, 31), " +
      "(x, i) -> if(cast(x as double) > 0.0d, " +
      "shiftleft(cast(1 as bigint), cast(i as int)), cast(0 as bigint))), " +
      "cast(0 as bigint), (s, t) -> s + t)"

  /** Recall gate for 1-bit binary quantization — the BOTTOM rung of
    * the storage ladder (f32 → int8 [[sqRecall]] → PQ → 1 bit/dim,
    * 32× smaller than f32): vectors collapse to their sign pattern,
    * candidates rank by Hamming distance (popcount of XOR — the
    * cheapest distance a vector store can compute), and an int8
    * re-rank of the top-[[BqShortlist]] recovers what the 1-bit
    * ranking loses. Emits BOTH stages — `hamming` (raw 1-bit recall)
    * and `rerank` (shortlist + int8 re-rank) — so the datasheet prices
    * the re-rank's contribution, mirroring [[pqRerankCurve]]'s
    * shortlist-then-exact pattern at the coarsest quantization.
    *
    * Shape: one pass computes both sign words and the int8 array per
    * candidate; the 8-query side broadcasts; Hamming is two XOR+
    * popcounts on longs (codegen'd, no array work in the hot loop);
    * only [[BqShortlist]]·|Q| rows reach the re-rank. Integer
    * end-to-end → bit-identical cross-engine. */
  def bqRecallFrom(cosTruth: DataFrame, embeddings: DataFrame,
                   k: Int = TopK): DataFrame = {
    val truth = cosTruth.select(col("q_id"), col("cand_id"))
    val nq = truth.select("q_id").distinct().agg(count(lit(1)).as("n_q"))
    val q = queries(embeddings).select(col("q_id"),
      expr(signWordExpr("q_vec", 0)).as("q_lo"),
      expr(signWordExpr("q_vec", 32)).as("q_hi"),
      expr(int8Expr("q_vec")).as("qq"))
    val c = candidates(embeddings).select(col("cand_id"),
      expr(signWordExpr("c_vec", 0)).as("c_lo"),
      expr(signWordExpr("c_vec", 32)).as("c_hi"),
      expr(int8Expr("c_vec")).as("qc"))
    val ranked = c.join(broadcast(q))
      .withColumn("hamming", expr(
        "bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi)").cast("long"))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("hamming"), col("cand_id"))))
      .where(col("rn") <= BqShortlist)
    val hammingTop = ranked.where(col("rn") <= k)
      .select("q_id", "cand_id")
    val reranked = ranked
      .withColumn("dot", expr("aggregate(zip_with(qq, qc, (a, b) -> a * b)" +
        ", cast(0 as bigint), (s, v) -> s + v)"))
      .withColumn("rr", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("cand_id"))))
      .where(col("rr") <= k)
      .select("q_id", "cand_id")
    Seq(("hamming", hammingTop), ("rerank", reranked)).map { case (v, a) =>
      recallAtK(truth, a, k)
        .agg(sum("n_hits").cast("long").as("sum_hits"))
        .select(lit(v).as("variant"), col("sum_hits"))
    }.reduce(_.unionByName(_))
      .join(broadcast(nq))
      .select(col("variant"), col("sum_hits"),
        expr(s"(sum_hits * 1000) div (n_q * ${k}L)").as("mean_recall_milli"))
  }

  /** [[bqRecallFrom]] built standalone. */
  def bqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    bqRecallFrom(bruteTopK(embeddings, k), embeddings, k)

  /** Recall gate for the IVF index: ann_ivf's probed top-k measured
    * against the exact cosine brute-force truth (both rank by cosine,
    * so this isolates the cost of probing NumProbes of NumCentroids
    * lists — the recall/fan-out dial a production index tunes). */
  def ivfRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    ivfRecallFrom(bruteTopK(embeddings, k), ivfAssign(embeddings),
      embeddings, k)

  /** Tombstone cohort for [[annTombstones]]: every 8th candidate id
    * is deleted (the ivf_incremental 1-in-8 convention). */
  val TombstoneMod = 8L

  /** Recall-under-deletion gate — the index-maintenance question the
    * recall family hasn't priced: vectors get DELETED (user removal,
    * dedup, right-to-be-forgotten) but an IVF index keeps them as
    * tombstones until compaction, so every probe SCANS dead vectors
    * it must then filter. Per query: candidates scanned, dead
    * candidates scanned (the wasted work — waste_ppm ≈ the deleted
    * fraction is the compaction trigger), live top-k hits against the
    * exact survivor truth, and recall in milli. Deletion must cost
    * probe FAN-OUT only, never correctness: the filter runs after
    * candidate generation (exactly where a FAISS IDSelector sits), so
    * dead vectors can push live ones out of a probed list's top-k
    * only by not being there — recall vs survivor truth isolates
    * that. Shapes: same 16-row centroid broadcast + probed-list
    * shuffle as ann_ivf; the survivor truth is the 8-query broadcast
    * calibration pass; all ratios exact integer. */
  def annTombstones(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val live = embeddings.where(col("vec_id") < QueryCount ||
      pmod(col("vec_id"), lit(TombstoneMod)) =!= 0)
    val truth = bruteTopK(live, k)
    val cents = broadcast(centroids(embeddings))
    val q = queries(embeddings)
    val probes = q.join(cents)
      .withColumn("sim", cosineSim(col("q_vec"), col("cv")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("centroid_id"))))
      .where(col("rn") <= NumProbes)
      .select("q_id", "centroid_id")
    val scanned = probes
      .join(ivfAssign(embeddings), Seq("centroid_id"))
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"),
        "vec_id")
      .join(broadcast(q.select("q_id", "q_vec")), Seq("q_id"))
      .withColumn("is_dead",
        pmod(col("vec_id"), lit(TombstoneMod)) === 0)
      .withColumn("sim", cosineSim(col("q_vec"), col("c_vec")))
    val waste = scanned.groupBy("q_id")
      .agg(count(lit(1)).as("n_scanned"),
        sum(col("is_dead").cast("long")).as("n_dead_scanned"))
    val results = scanned.where(!col("is_dead"))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"))
    val hits = truth.select("q_id", "cand_id")
      .join(results, Seq("q_id", "cand_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    waste.join(hits, Seq("q_id"), "left").na.fill(0L, Seq("n_hits"))
      .select(col("q_id"), col("n_scanned"), col("n_dead_scanned"),
        expr("n_dead_scanned * 1000000 div n_scanned").as("waste_ppm"),
        col("n_hits"),
        expr(s"n_hits * 1000 div ${k}L").as("recall_milli"))
  }

  /** [[ivfRecall]] over a staged cosine truth + staged list
    * assignment. */
  def ivfRecallFrom(cosTruth: DataFrame, assign: DataFrame,
                    embeddings: DataFrame, k: Int = TopK): DataFrame =
    recallAtK(
      cosTruth.select(col("q_id"), col("cand_id")),
      ivfTopKFrom(assign, embeddings, k)
        .select(col("q_id"), col("cand_id")), k)

  /** Combined IVF + int8 recall gate — the rung the production config
    * actually ships: the coarse quantizer prunes to [[NumProbes]]
    * probed lists (ivf_recall's fan-out) AND the in-list ranking runs
    * on int8 scalar-quantized vectors (sq_recall's storage), so the
    * gate prices the two approximations TOGETHER against the exact
    * cosine truth. Composing the two published gates multiplies their
    * error only if the errors are independent — this measures whether
    * they are on this corpus. Shape: probe selection is the 16-row
    * centroid broadcast; in-list candidates stream through the
    * codegen'd int8 dot once; integer ranking end-to-end. */
  def ivfSqRecallFrom(cosTruth: DataFrame, assign: DataFrame,
                      embeddings: DataFrame, k: Int = TopK,
                      numProbes: Int = NumProbes): DataFrame = {
    val cents = broadcast(centroids(embeddings))
    val q = queries(embeddings)
    val probes = q.join(cents)
      .withColumn("sim", cosineSim(col("q_vec"), col("cv")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("centroid_id"))))
      .where(col("rn") <= numProbes)
      .select("q_id", "centroid_id")
    val qq = queries(embeddings)
      .select(col("q_id"), expr(int8Expr("q_vec")).as("qq"))
    val approx = probes
      .join(assign, Seq("centroid_id"))
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id")
        .select(col("vec_id"), expr(int8Expr("c_vec")).as("qc")), "vec_id")
      .join(broadcast(qq), Seq("q_id"))
      .withColumn("dot", expr("aggregate(zip_with(qq, qc, (a, b) -> a * b)" +
        ", cast(0 as bigint), (s, v) -> s + v)"))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("vec_id"))))
      .where(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"))
    recallAtK(cosTruth.select(col("q_id"), col("cand_id")), approx, k)
  }

  /** [[ivfSqRecallFrom]] built standalone. */
  def ivfSqRecall(embeddings: DataFrame, k: Int = TopK): DataFrame =
    ivfSqRecallFrom(bruteTopK(embeddings, k), ivfAssign(embeddings),
      embeddings, k)

  /** Probe counts evaluated by [[ivfRecallCurve]]. */
  val IvfProbeCounts: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** Recall-vs-probe-count curve for the IVF index — [[ivfRecall]]
    * evaluated at every probe setting in [[IvfProbeCounts]], so the
    * recall/fan-out dial has measured positions instead of a 10-60%
    * anecdote. The exact truth and the list assignment are staged once
    * (localCheckpoint); each probe setting re-ranks only the probed
    * candidates. probes=NumCentroids would be exhaustive cosine search
    * — recall 1000 by construction — so the curve's top end sanity-
    * checks itself. */
  def ivfRecallCurve(embeddings: DataFrame, k: Int = TopK): DataFrame =
    ivfRecallCurveFrom(
      bruteTopK(embeddings, k).localCheckpoint(false),
      ivfAssign(embeddings).localCheckpoint(false), embeddings, k)

  /** [[ivfRecallCurve]] over a staged cosine truth + staged list
    * assignment. */
  def ivfRecallCurveFrom(cosTruth: DataFrame, assign: DataFrame,
                         embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val spark = cosTruth.sparkSession
    import spark.implicits._
    val truth = cosTruth.select(col("q_id"), col("cand_id"))
    val nq = truth.select("q_id").distinct().agg(count(lit(1)).as("n_q"))
    // Probe lists NEST: setting p's probed lists are exactly the rn ≤ p
    // prefix of the widest setting's probe ranking, so ONE scored
    // candidate pass at max(IvfProbeCounts) — probe ranking kept as rn —
    // feeds every arm; each arm is a filter + top-k window over the
    // staged scored relation instead of its own probe/assign/candidate
    // join chain (guide §2.4 — was 5 chains, 146 Exchange mentions and
    // 45 AQE stage-jobs; per-arm results are bit-identical to
    // ivfTopKFrom(p) because the rn ≤ p subset IS that arm's candidate
    // set and the rank window orders the same (sim desc, vec_id)).
    val pmax = IvfProbeCounts.max
    val cents = broadcast(centroids(embeddings))
    val q = queries(embeddings)
    val probes = q.join(cents)
      .withColumn("sim", cosineSim(col("q_vec"), col("cv")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("centroid_id"))))
      .where(col("rn") <= pmax)
      .select("q_id", "centroid_id", "rn")
    val scored = probes
      .join(assign, Seq("centroid_id"))
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"),
        "vec_id")
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim", cosineSim(col("q_vec"), col("c_vec")))
      .select(col("q_id"), col("vec_id"), col("rn"), col("sim"))
    // ONE plan for every arm (the catalogHistogram trick): each scored
    // candidate explodes into the probe settings whose prefix it
    // belongs to (rn ≤ p), one window partitioned by (probes, q_id)
    // ranks all arms at once, and one join + one grid aggregate roll
    // up the hit counts — per-arm results bit-identical to
    // ivfTopKFrom(p) (same candidate subset, same (sim desc, vec_id)
    // order), but 5 chains → 1 (was 146 Exchange mentions / 45 AQE
    // stage-jobs; per-arm sum-of-per-query-hits ≡ inner-join count
    // because (q_id, cand_id) is unique on both sides).
    val armGrid = IvfProbeCounts.map(_.toLong)
      .toDF("probes").hint("broadcast")
    val armsExpr = s"filter(array(${IvfProbeCounts.map(_ + "L").mkString(", ")})," +
      " p -> rn <= p)"
    val hitsAll = scored
      .select(col("q_id"), col("vec_id"), col("sim"),
        explode(expr(armsExpr)).as("probes"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probes", "q_id")
          .orderBy(col("sim").desc, col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("probes"), col("q_id"), col("vec_id").as("cand_id"))
      .join(truth, Seq("q_id", "cand_id"))
      .groupBy("probes")
      .agg(count(lit(1)).cast("long").as("sum_hits"))
    armGrid
      .join(hitsAll, Seq("probes"), "left")
      .na.fill(0L, Seq("sum_hits"))
      .join(broadcast(nq))
      .select(col("probes"), col("sum_hits"),
        expr(s"(sum_hits * 1000) div (n_q * ${k}L)").as("mean_recall_milli"))
  }

  // --- trained product quantization ----------------------------------------

  /** Lloyd rounds for [[pqTrain]]. Fixed rounds (not
    * convergence-gated) so the DuckDB oracle can mirror the training
    * as straight-line CTEs — the cross-engine-verifiable form. Four
    * rounds: the recall curve ([[pqRecallCurve]]) shows the lift has
    * flattened by then at this corpus, so more straight-line rounds
    * would pad the oracle chain without measurable index quality. */
  val PqTrainIters = 4

  /** Split an (id, v6) e6-integer vector relation into per-subspace
    * rows (id, m, sv6[PqSubDim]). */
  private def subspaced(v6rel: DataFrame, idCol: String): DataFrame =
    v6rel
      .select(col(idCol), expr(
        s"explode(transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(cast(m as bigint) as m, " +
          s"slice(v6, m * $PqSubDim + 1, $PqSubDim) as sv6)))").as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.sv6").as("sv6"))

  /** Forgy seeding, same convention as the IVF [[centroids]]: subspace
    * m's seed k is vector (CentroidLo + k)'s m-th subvector — data
    * rows both engines can pick without any literal exchange. */
  private def pqSeedCb(sub: DataFrame): DataFrame =
    sub.where(col("vec_id").between(CentroidLo, CentroidLo + PqK - 1))
      .select(col("m"), (col("vec_id") - CentroidLo).as("k"),
        col("sv6").as("c6"))

  /** One exact integer Lloyd round per subspace: assign every (vector,
    * subspace) row to its nearest codeword by codegen'd integer
    * squared-L2 (ties → smaller k), then recompute each codeword as
    * the truncated integer mean of its members. Empty codewords keep
    * their previous position with n_members = 0. Output: (m, k, dim,
    * c6_e6, n_members) — ≤ PqM·PqK·PqSubDim = 1024 rows at any corpus
    * size; the aggregate is map-side combinable. */
  private def pqLloydStep(sub: DataFrame, cb: DataFrame): DataFrame = {
    val assigned = sub.join(broadcast(cb), "m")
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("sv6"), col("c6")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("k"), struct(col("d12"), col("k"))).as("k"))
    val means = assigned.join(sub, Seq("vec_id", "m"))
      .select(col("m"), col("k"), posexplode(col("sv6")).as(Seq("dim", "x6")))
      .groupBy(col("m"), col("k"), col("dim").cast("long").as("dim"))
      .agg(sum("x6").as("s"), count(lit(1)).as("n"))
      // truncated toward zero (Spark div); the oracle's (s - s%n) // n
      // form matches for negative sums
      .select(col("m"), col("k"), col("dim"),
        expr("s div n").as("mean6"), col("n"))
    cb.select(col("m"), col("k"), posexplode(col("c6")).as(Seq("dim", "old6")))
      .withColumn("dim", col("dim").cast("long"))
      .join(means, Seq("m", "k", "dim"), "left")
      .select(col("m"), col("k"), col("dim"),
        coalesce(col("mean6"), col("old6")).as("c6_e6"),
        coalesce(col("n"), lit(0L)).as("n_members"))
  }

  /** (m, k, dim, c6_e6, n_members) rows → (m, k, c6 array) codebook. */
  private def cbArrays(rel: DataFrame): DataFrame =
    rel.groupBy("m", "k")
      .agg(sort_array(collect_list(struct(col("dim"), col("c6_e6"))))
        .as("ps"))
      .select(col("m"), col("k"), expr("transform(ps, p -> p.c6_e6)").as("c6"))

  // --- staged-relation entry points ([[graft.Staged.ann]]) -----------------
  // The recall/training family shares three expensive corpus passes:
  // the subvector explode, the Lloyd training chain over it, and the
  // exact ground truths. These builders expose them so the staging
  // layer materializes each ONCE per (session, corpus) and the *From
  // query forms below ride the staged copies — at 100 TB that is one
  // trainer and one truth pass feeding the whole index-eval suite.

  /** The (vec_id, m, sv6) subvector relation every PQ trainer and ADC
    * pass reads. */
  def annSubvectors(embeddings: DataFrame): DataFrame =
    subspaced(vecsE6(embeddings), "vec_id")

  /** The full [[PqTrainIters]]-round Lloyd chain over a (staged)
    * subvector relation, Forgy-seeded — element i is the codebook
    * relation after i+1 rounds; `.last` is the trained codebook. */
  def annLloydChain(sub: DataFrame): Seq[DataFrame] =
    lloydChain(sub, pqSeedCb(sub))

  /** One Lloyd round over a (staged) subvector relation: from the
    * Forgy seed codebook when `prev` is None, else from the (staged)
    * previous round — [[graft.Staged]]'s chain entries stage each round
    * and feed it to the next; the last round is the trained codebook. */
  def annLloydRound(sub: DataFrame, prev: Option[DataFrame]): DataFrame =
    pqLloydStep(sub, prev.fold(pqSeedCb(sub))(cbArrays))

  /** Exact L2 top-[[TopK]] ground truth (q_id, cand_id). */
  def annL2Truth(embeddings: DataFrame): DataFrame =
    l2Truth(embeddings, TopK)

  /** Trained-codebook relation + the staged subvector relation it was
    * trained on. The subvector staging is localCheckpoint'd lazily
    * (each Lloyd round reads it twice; at 100 TB a production build
    * trains on a staged SAMPLE — the iteration shape is the same). */
  private def pqTrained(embeddings: DataFrame): (DataFrame, DataFrame) = {
    val (rels, sub) = pqTrainedStages(embeddings)
    (rels.last, sub)
  }

  /** Every Lloyd round's (m,k,dim,…) relation, in training order, plus
    * the staged subvector relation — the recall-curve entry point. */
  private def pqTrainedStages(embeddings: DataFrame): (Seq[DataFrame], DataFrame) = {
    val sub = subspaced(vecsE6(embeddings), "vec_id").localCheckpoint(false)
    (lloydChain(sub, pqSeedCb(sub)), sub)
  }

  /** [[PqTrainIters]] Lloyd rounds from `seed` over any (vec_id, m,
    * sv6) subvector relation — shared by the raw-vector trainer and the
    * residual trainer. */
  private def lloydChain(sub: DataFrame, seed: DataFrame): Seq[DataFrame] = {
    val rels = Seq.newBuilder[DataFrame]
    var cb = seed
    (1 to PqTrainIters).foreach { _ =>
      val rel = pqLloydStep(sub, cb).localCheckpoint(false)
      rels += rel
      cb = cbArrays(rel)
    }
    rels.result()
  }

  /** PQ codebook TRAINING — the step [[pqCodebook]]'s fixed literals
    * declare out of scope: PqTrainIters integer-exact per-subspace
    * Lloyd rounds over the candidate corpus, Forgy-seeded from the
    * same vec_id range as the IVF centroids. Everything is e6-integer
    * arithmetic (associative, order-independent), so the full trained
    * codebook hash-matches a serial SQL engine bit-for-bit — which is
    * also WHY the trained path is relational: a data-dependent
    * codebook can't be interpolated into static oracle SQL as double
    * literals, so cross-engine verification demands the integer
    * relation form. The codegen'd instruction-stream path (PqCodes/
    * PqLut) remains the 100 TB scan shape, demonstrated by
    * pq_encode/pq_search with the frozen codebook. */
  def pqTrain(embeddings: DataFrame): DataFrame = pqTrained(embeddings)._1

  /** [[pqTrain]] over a staged Lloyd chain: the trained codebook IS
    * the chain's last round. */
  def pqTrainFrom(chain: Seq[DataFrame]): DataFrame = chain.last

  /** Recall gate for TRAINED PQ — [[pqRecall]]'s twin with the
    * [[pqTrain]] codebook instead of the untrained literals, measured
    * against the same exact-L2 truth. Encoding assigns each (vector,
    * subspace) row under the FINAL codebook (broadcast, 128 rows);
    * ADC distances are exact integer sums over subspaces, so the
    * whole query — training included — is oracle-checkable. Run next
    * to pq_recall, this IS the codebook-training recall lift. */
  def pqRecallTrained(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val (rels, sub) = pqTrainedStages(embeddings)
    pqRecallTrainedFrom(rels, sub, l2Truth(embeddings, k), embeddings, k)
  }

  /** [[pqRecallTrained]] over staged chain/subvectors/truth. */
  def pqRecallTrainedFrom(chain: Seq[DataFrame], sub: DataFrame,
                          truth: DataFrame, embeddings: DataFrame,
                          k: Int = TopK): DataFrame =
    recallAtK(truth, pqAdcTopK(cbArrays(chain.last), sub, pqQSub(embeddings), k), k)

  /** ADC top-k under a given trained codebook: encode every (vector,
    * subspace) row to its nearest codeword, score queries through the
    * codebook (exact integer sums), rank. Shared by the final recall
    * gate and the per-iteration curve. */
  private def pqAdcTopK(cb: DataFrame, sub: DataFrame,
                        qsub: DataFrame, k: Int): DataFrame =
    pqAdcScored(cb, sub, qsub)
      .where(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"))

  /** The query-side (q_id, m, qv6) subvector relation ADC scoring
    * broadcasts — e6 query coordinates through the same [[subspaced]]
    * split as the candidates. */
  private def pqQSub(embeddings: DataFrame): DataFrame =
    subspaced(
      queries(embeddings).select(col("q_id"),
        expr("transform(q_vec, x -> cast(round(cast(x as double) * " +
          "1000000d) as bigint))").as("v6")), "q_id")
      .withColumnRenamed("sv6", "qv6")

  /** The full ADC ranking (q_id, vec_id, dist_e12, rank) under a
    * trained codebook — [[pqAdcTopK]] filtered at k, and the shortlist
    * source of the re-rank curve. `qsub` is the (q_id, m, qv6) query
    * subvector relation (permuted for the OPQ gate, plain otherwise). */
  private def pqAdcScored(cb: DataFrame, sub: DataFrame,
                          qsub: DataFrame): DataFrame = {
    val codes = sub.join(broadcast(cb), "m")
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("sv6"), col("c6")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("k"), struct(col("d12"), col("k"))).as("k"))
    codes
      .join(broadcast(cb), Seq("m", "k"))
      .join(broadcast(qsub), Seq("m"))
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("qv6"), col("c6")))
      .groupBy("q_id", "vec_id")
      .agg(sum("d12").as("dist_e12"))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dist_e12"), col("vec_id"))))
  }

  /** Recall-vs-training-iterations curve: the [[pqRecallTrained]] gate
    * evaluated under EVERY intermediate codebook — iters=0 is the raw
    * Forgy seed, iters=i the codebook after i Lloyd rounds — so the
    * marginal recall of each round is a committed, oracle-checked
    * number rather than a tuning anecdote. All-integer: mean recall is
    * (total hits · 1000) div (n_queries · k). Each iteration's ADC
    * pass reuses the one staged subvector relation; the curve costs
    * PqTrainIters+1 broadcast joins over it, no extra corpus scans. */
  def pqRecallCurve(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val (rels, sub) = pqTrainedStages(embeddings)
    pqRecallCurveFrom(rels, sub,
      l2Truth(embeddings, k).localCheckpoint(false), embeddings, k)
  }

  /** [[pqRecallCurve]] over staged chain/subvectors/truth. */
  def pqRecallCurveFrom(rels: Seq[DataFrame], sub: DataFrame,
                        truth: DataFrame, embeddings: DataFrame,
                        k: Int = TopK): DataFrame = {
    val spark = truth.sparkSession
    import spark.implicits._
    // ONE tagged plan for all PqTrainIters+1 arms (the catalogHistogram
    // trick): the per-round codebooks union with an `iters` tag, the
    // encode/ADC/rank chain runs once with `iters` added to every
    // grouping and window key, and one join + one grid aggregate roll
    // up the hits. Per-arm results are bit-identical to the previous
    // one-chain-per-codebook form (same min_by encode, same ADC sums,
    // same (dist_e12, vec_id) window order, per-arm
    // sum-of-per-query-hits ≡ inner-join count on unique keys) — but
    // the curve plans 1 chain instead of 5 (was 1942 plan lines / 132
    // Exchange mentions and ~45 AQE stage-jobs of scheduling).
    val cbs = (pqSeedCb(sub) +: rels.map(cbArrays)).zipWithIndex
      .map { case (cb, i) => cb.select(lit(i.toLong).as("iters"),
        col("m"), col("k"), col("c6")) }
      .reduce(_.unionByName(_))
    val qsub = pqQSub(embeddings)
    val nq = truth.select("q_id").distinct()
      .agg(count(lit(1)).as("n_q"))
    val codes = sub.join(broadcast(cbs), "m")
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("sv6"), col("c6")))
      .groupBy("iters", "vec_id", "m")
      .agg(min_by(col("k"), struct(col("d12"), col("k"))).as("k"))
    val hitsAll = codes
      .join(broadcast(cbs), Seq("iters", "m", "k"))
      .join(broadcast(qsub), Seq("m"))
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("qv6"), col("c6")))
      .groupBy("iters", "q_id", "vec_id")
      .agg(sum("d12").as("dist_e12"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("iters", "q_id")
          .orderBy(col("dist_e12"), col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("iters"), col("q_id"), col("vec_id").as("cand_id"))
      .join(truth, Seq("q_id", "cand_id"))
      .groupBy("iters")
      .agg(count(lit(1)).cast("long").as("sum_hits"))
    (0 to rels.size).map(_.toLong).toDF("iters").hint("broadcast")
      .join(hitsAll, Seq("iters"), "left")
      .na.fill(0L, Seq("sum_hits"))
      .join(broadcast(nq))
      .select(col("iters"), col("sum_hits"),
        expr(s"(sum_hits * 1000) div (n_q * ${k}L)").as("mean_recall_milli"))
  }

  // --- OPQ permutation rotation --------------------------------------------

  /** Per-dim variance diagonal (dim, var_e12) — [[embedCovariance]]'s
    * diagonal without the off-diagonal pair explode ([[Dim]] groups per
    * vector instead of Dim·(Dim+1)/2). Same integer contract: e6
    * coordinates, driver-inlined truncated means (the catalog-stats
    * convention for a Dim-long statistics literal), var = Σc² div n —
    * so the values equal [[pqSubspaceBalance]]'s diagonal exactly. */
  private def dimVariance(embeddings: DataFrame): DataFrame = {
    val x6 = embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000L).cast("long")).as("v6"))
    val means = x6
      .select(posexplode(col("v6")).as(Seq("dim", "x6")))
      .groupBy("dim")
      .agg(sum("x6").as("s"), count(lit(1)).as("n"))
      .select(col("dim"), expr("s div n").as("mean6"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val meanLit = array((0 until Dim).map(d => lit(means(d))): _*)
    x6
      .select(posexplode(zip_with(col("v6"), meanLit, (x, m) => x - m))
        .as(Seq("dim", "c6")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(sum(col("c6") * col("c6")).as("sp"), count(lit(1)).as("n"))
      .select(col("dim"), expr("sp div n").as("var_e12"))
  }

  /** OPQ-style dimension permutation (olddim, newpos) — Ge et al.'s
    * eigenvalue-allocation idea in its oracle-replayable integer form:
    * dims ranked by (variance desc, dim) are dealt SNAKE-wise across
    * the [[PqM]] subspaces (round r gives subspace positions 0..M-1 on
    * even rounds and M-1..0 on odd ones), so each subspace receives one
    * dim per round and the high-variance head spreads evenly instead of
    * stacking in subspace 0. A float SVD rotation would beat it on a
    * correlated corpus but cannot be replayed bit-exactly cross-engine;
    * the permutation is integer-exact end to end. Rank comes from a
    * broadcast triangular self-join over the [[Dim]]-row variance
    * relation — no window at all. */
  private def opqPermFrom(v: DataFrame): DataFrame = {
    val o = v.select(col("dim").as("o_dim"), col("var_e12").as("o_var"))
    v.join(broadcast(o),
        col("o_var") > col("var_e12") ||
          (col("o_var") === col("var_e12") && col("o_dim") < col("dim")),
        "left")
      .groupBy("dim")
      .agg(count(col("o_dim")).as("r0"))
      .select(col("dim").as("olddim"),
        ((when(expr(s"(r0 div $PqM) % 2") === 0L, expr(s"r0 % $PqM"))
          .otherwise(lit(PqM - 1L) - expr(s"r0 % $PqM"))) * PqSubDim
          + expr(s"r0 div $PqM")).as("newpos"))
  }

  /** The permutation as a broadcast 1-row array relation pv where
    * pv[newpos+1] = olddim — the relational form of an instruction-
    * stream literal (no driver-value exchange, so the oracle replays
    * the whole derivation). */
  private def opqPermArr(perm: DataFrame): DataFrame =
    perm.agg(expr("transform(array_sort(collect_list(" +
      "struct(newpos, olddim))), p -> p.olddim)").as("pv"))

  /** Apply the permutation to an (id, v6) e6 vector relation: new
    * coordinate j is old coordinate pv[j] — one broadcast 1-row cross
    * join, shuffle-free, so [[subspaced]]'s plain slices then read the
    * OPQ subspaces. */
  private def opqVecsE6(v6rel: DataFrame, permArr: DataFrame,
                        idCol: String): DataFrame =
    v6rel.crossJoin(broadcast(permArr))
      .select(col(idCol), expr(
        s"transform(sequence(0, ${Dim - 1}), j -> element_at(v6, " +
          "cast(element_at(pv, cast(j as int) + 1) + 1 as int)))")
        .as("v6"))

  /** Permuted query subvectors (q_id, m, qv6) for OPQ ADC scoring. */
  private def opqQSub(embeddings: DataFrame, permArr: DataFrame): DataFrame =
    subspaced(opqVecsE6(
      queries(embeddings).select(col("q_id"),
        expr("transform(q_vec, x -> cast(round(cast(x as double) * " +
          "1000000d) as bigint))").as("v6")), permArr, "q_id"), "q_id")
      .withColumnRenamed("sv6", "qv6")

  /** Per-subspace variance balance BEFORE vs AFTER the OPQ
    * permutation — [[pqSubspaceBalance]]'s audit with the repair
    * applied, in the same terms: plain subspace = olddim div SubDim,
    * OPQ subspace = newpos div SubDim, balance_ppm = subspace share ×
    * M (1e6 = perfectly flat). The OPQ column's spread contracting
    * toward 1e6 IS the measured payoff of the snake. Everything after
    * the variance diagonal is [[Dim]]-row arithmetic. */
  def opqSubspaceBalance(embeddings: DataFrame): DataFrame = {
    val v = dimVariance(embeddings).localCheckpoint(false)
    val withNew = v.join(broadcast(opqPermFrom(v)),
      col("dim") === col("olddim"))
    val per = withNew
      .groupBy(expr(s"olddim div $PqSubDim").as("subspace"))
      .agg(sum("var_e12").as("plain_var_e12"))
      .join(withNew
        .groupBy(expr(s"newpos div $PqSubDim").as("subspace"))
        .agg(sum("var_e12").as("opq_var_e12")), "subspace")
    val tot = v.agg(sum("var_e12").as("tot_e12"))
    // the ppm combination var_e12 * M * 1e6 can exceed int64 for
    // coordinate scales > ~1 — run it in decimal(38,0), exactly
    // DuckDB's HUGEINT promotion of the same expression (the
    // discount_qty_corr convention); `div` returns bigint either way
    per.crossJoin(broadcast(tot))
      .select(col("subspace"), col("plain_var_e12"), col("opq_var_e12"),
        expr(s"cast(plain_var_e12 as decimal(38,0)) * $PqM * 1000000L" +
          " div greatest(tot_e12, 1L)").as("plain_balance_ppm"),
        expr(s"cast(opq_var_e12 as decimal(38,0)) * $PqM * 1000000L" +
          " div greatest(tot_e12, 1L)").as("opq_balance_ppm"))
  }

  /** The OPQ permutation as a stageable 1-row array relation —
    * [[graft.Staged.ann]] materializes it once per (session, corpus)
    * so the recall gate and any future OPQ consumer share one
    * variance pass. NOTE: constructing this relation runs the
    * Dim-row means collect (the catalog-stats literal convention). */
  def opqPermArray(embeddings: DataFrame): DataFrame =
    opqPermArr(opqPermFrom(dimVariance(embeddings).localCheckpoint(false)))

  /** The permuted (vec_id, m, sv6) subvector relation over a (staged)
    * permutation array — the OPQ trainer's input. */
  def opqSubvectorsFrom(embeddings: DataFrame,
                        permArr: DataFrame): DataFrame =
    subspaced(opqVecsE6(vecsE6(embeddings), permArr, "vec_id"), "vec_id")

  /** Permuted query subvectors over a (staged) permutation array. */
  def opqQSubFrom(embeddings: DataFrame, permArr: DataFrame): DataFrame =
    opqQSub(embeddings, permArr)

  /** Recall gate for OPQ-permuted trained PQ — [[pqRecallTrained]]'s
    * twin with the variance-snake permutation applied before the
    * subspace split: permute every vector (and query), train the same
    * [[PqTrainIters]] integer Lloyd rounds on the permuted subvectors,
    * ADC-score against the SAME exact-L2 truth (L2 is permutation-
    * invariant, so the truth relation is shared unchanged). Run beside
    * pq_recall_trained, the delta IS the measured rotation price — the
    * closing number of the anisotropy arc (embed_covariance →
    * anisotropy_audit → pq_subspace_balance → here).
    *
    * On THIS corpus the honest reading is a NEGATIVE (the same verdict
    * as the committed residual-PQ gate): pq_opq_balance shows the
    * subspace variance profile contracting hard toward flat (max
    * |balance−1e6| ≈44k → ≈6k ppm at sf0.01), but the i.i.d. corpus was
    * already near-isotropic, so the permutation has no correlated head
    * to spread and the recall delta vs pq_recall_trained is seed noise.
    * That is precisely what the gate is FOR: it prices the rotation so
    * a deployment only pays for OPQ where the covariance audit shows
    * structure. */
  def pqRecallOpqFrom(chain: Seq[DataFrame], sub: DataFrame,
                      qsub: DataFrame, truth: DataFrame,
                      k: Int = TopK): DataFrame =
    recallAtK(truth, pqAdcTopK(cbArrays(chain.last), sub, qsub, k), k)

  /** [[pqRecallOpqFrom]] building its own permutation, Lloyd chain and
    * exact-L2 truth (the standalone form; the registry rides the
    * [[graft.Staged.ann]] copies). */
  def pqRecallOpq(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val pa = opqPermArray(embeddings).localCheckpoint(false)
    val sub = opqSubvectorsFrom(embeddings, pa).localCheckpoint(false)
    val chain = lloydChain(sub, pqSeedCb(sub))
    pqRecallOpqFrom(chain, sub, opqQSub(embeddings, pa),
      l2Truth(embeddings, k), k)
  }

  // --- residual IVF-PQ and ADC re-ranking ----------------------------------

  /** Forgy-seed range for the RESIDUAL codebook: the IVF seed vectors'
    * own residuals are (near-)zero — each seeds a list it then sits at
    * the center of — so seeding the residual trainer from vec_ids
    * [[CentroidLo]]..+15 would start 16 degenerate codewords. Residual
    * seeding starts right above the centroid range instead. */
  val ResidualSeedLo: Long = CentroidLo + NumCentroids

  /** Lloyd rounds for the coarse (IVF) quantizer inside the residual
    * path — matches [[kmeansShift]]'s two audited iterations. */
  val IvfTrainRounds = 2

  /** The seed centroids in e6-integer coordinates. */
  private def seedCentsE6(embeddings: DataFrame): DataFrame =
    centroids(embeddings).select(col("centroid_id"),
      expr("transform(cv, x -> cast(round(cast(x as double) * 1000000d) " +
        "as bigint))").as("c6"))

  /** [[IvfTrainRounds]] integer Lloyd rounds over the candidate corpus
    * — the trained coarse quantizer the residuals subtract. Empty lists
    * keep their previous position (same rule as [[pqLloydStep]], so the
    * chain is total even on tiny corpora). */
  private def ivfTrainedCentsE6(vecs: DataFrame,
                                embeddings: DataFrame): DataFrame = {
    var cents = seedCentsE6(embeddings)
    (1 to IvfTrainRounds).foreach { _ =>
      val means = meansE6(assignE6(vecs, cents), vecs)
      cents = cents
        .select(col("centroid_id"), posexplode(col("c6")).as(Seq("dim", "old6")))
        .withColumn("dim", col("dim").cast("long"))
        .join(means.select("centroid_id", "dim", "m_e6"),
          Seq("centroid_id", "dim"), "left")
        .groupBy("centroid_id")
        .agg(sort_array(collect_list(struct(col("dim"),
          coalesce(col("m_e6"), col("old6")).as("c6v")))).as("ps"))
        .select(col("centroid_id"), expr("transform(ps, p -> p.c6v)").as("c6"))
    }
    cents
  }

  /** Residual IVF-PQ recall gate — the textbook IVFADC composition
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", reference lib/index documentation): train the coarse
    * quantizer ([[IvfTrainRounds]] Lloyd rounds), assign every
    * candidate to its nearest list, PQ-train on the RESIDUALS
    * (vector − list centroid), and ADC-score each candidate in its own
    * list's residual frame — the query side subtracts the candidate's
    * centroid before the table lookup, so the approximation error is
    * only the PQ quantization of the residual. All integer-e6
    * arithmetic end to end; oracle-checkable like the plain trainer.
    *
    * Honest finding on THIS corpus: the committed recall is BELOW the
    * plain trained codebook's (see pq_recall_trained) — the test
    * embeddings are unit-norm and isotropic, so the nearest of 16
    * trained centroids has norm ≈ 0.33 and the residuals carry ≈ 95%
    * of the original variance PLUS the list-boundary discontinuity.
    * Residual encoding pays exactly when data is clustered (within-
    * list variance ≪ global variance); a gate that shows WHEN the
    * composition helps is the point of committing the measurement.
    * The recall lift that does transfer to isotropic corpora is the
    * ADC shortlist + exact re-rank — [[pqRerankCurve]].
    *
    * Scale shape: centroid training is one broadcast argmin + one
    * (centroid, dim) aggregate per round; assignment/encoding stream
    * one row per (vector[, subspace]) through broadcast joins; the
    * query-side residual LUT is |Q|·NumCentroids·PqM rows (tiny,
    * broadcast). No stage reads more than the candidate relation. */
  def pqRecallResidual(embeddings: DataFrame, k: Int = TopK): DataFrame =
    pqRecallResidualFrom(embeddings, l2Truth(embeddings, k), k)

  /** [[pqRecallResidual]] over a staged exact-L2 truth (the registry
    * rides [[graft.Staged.ann]]'s copy like every other recall gate —
    * the residual trainer itself is necessarily fresh, but the truth
    * side need not be re-ranked per gate). */
  def pqRecallResidualFrom(embeddings: DataFrame, truth: DataFrame,
                           k: Int = TopK): DataFrame = {
    val vecs = vecsE6(embeddings)
    val cents = ivfTrainedCentsE6(vecs, embeddings).localCheckpoint(false)
    val assigned = assignE6(vecs, cents).localCheckpoint(false)
    val rsub = subspaced(
      assigned.join(vecs, "vec_id")
        .join(broadcast(cents), "centroid_id")
        .select(col("vec_id"),
          zip_with(col("v6"), col("c6"), (x, y) => x - y).as("v6")),
      "vec_id").localCheckpoint(false)
    val seed = rsub
      .where(col("vec_id").between(ResidualSeedLo, ResidualSeedLo + PqK - 1))
      .select(col("m"), (col("vec_id") - ResidualSeedLo).as("k"),
        col("sv6").as("c6"))
    val cb = cbArrays(lloydChain(rsub, seed).last)
    val codes = rsub.join(broadcast(cb), "m")
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("sv6"), col("c6")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("k"), struct(col("d12"), col("k"))).as("k"))
    val qsub = subspaced(
      queries(embeddings).select(col("q_id"),
        expr("transform(q_vec, x -> cast(round(cast(x as double) * " +
          "1000000d) as bigint))").as("v6")), "q_id")
      .withColumnRenamed("sv6", "qv6")
    val csub = subspaced(cents.select(col("centroid_id"), col("c6").as("v6")),
      "centroid_id").withColumnRenamed("sv6", "csv6")
    // query residual per (query, list): |Q|·NumCentroids·PqM rows
    val qres = qsub.join(csub, "m")
      .select(col("q_id"), col("centroid_id"), col("m"),
        zip_with(col("qv6"), col("csv6"), (x, y) => x - y).as("qr6"))
    val approx = codes.join(assigned, "vec_id")
      .join(broadcast(cb), Seq("m", "k"))
      .join(broadcast(qres), Seq("centroid_id", "m"))
      .withColumn("d12",
        graft.functions.VectorFunctions.intL2(col("qr6"), col("c6")))
      .groupBy("q_id", "vec_id")
      .agg(sum("d12").as("dist_e12"))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("dist_e12"), col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"))
    recallAtK(truth, approx, k)
  }

  /** Shortlist sizes evaluated by [[pqRerankCurve]]. R = TopK re-ranks
    * the ADC top-k itself — same SET as pq_recall_trained, so the
    * curve's bottom anchor must equal that gate's mean recall. */
  val RerankRs: Seq[Int] = Seq(10, 20, 40, 80)

  /** Recall-vs-shortlist-size curve for ADC + exact re-ranking — the
    * production IVF-PQ accuracy knob: the compressed-domain ADC scan
    * ranks everything, the top R candidates per query are re-scored
    * with exact L2 over their FULL vectors, and the re-ranked top-k is
    * measured against the exact truth. This is the recall lift that
    * works regardless of corpus geometry (measured here: 325 → 612 →
    * 775 milli at R = 10 → 40 → 80), where residual encoding
    * ([[pqRecallResidual]]) pays only on clustered data.
    *
    * Scale shape: ONE ADC ranking pass (staged localCheckpoint) feeds
    * every R; the exact re-rank reads full vectors for only R·|Q| ids
    * per setting — at 100 TB that is the difference between scanning
    * 32×-compressed codes plus R full-vector lookups and scanning raw
    * vectors at all. */
  def pqRerankCurve(embeddings: DataFrame, k: Int = TopK): DataFrame = {
    val (rels, sub) = pqTrainedStages(embeddings)
    pqRerankCurveFrom(rels, sub,
      l2Truth(embeddings, k).localCheckpoint(false), embeddings, k)
  }

  /** [[pqRerankCurve]] over staged chain/subvectors/truth. */
  def pqRerankCurveFrom(rels: Seq[DataFrame], sub: DataFrame,
                        truth: DataFrame, embeddings: DataFrame,
                        k: Int = TopK): DataFrame = {
    val scored = pqAdcScored(cbArrays(rels.last), sub, pqQSub(embeddings))
      .localCheckpoint(false)
    val nq = truth.select("q_id").distinct().agg(count(lit(1)).as("n_q"))
    val cand = candidates(embeddings).withColumnRenamed("cand_id", "vec_id")
    val q = queries(embeddings)
    // Shortlists NEST: setting R's shortlist is the adc_rank ≤ R prefix
    // of the widest setting's, so the exact re-score (the full-vector
    // join + integer L2) runs ONCE at max(RerankRs), and ONE plan
    // computes every arm (the catalogHistogram trick): each re-scored
    // candidate explodes into the settings whose prefix it belongs to,
    // one window partitioned by (rerank_r, q_id) ranks all arms, one
    // join + one grid aggregate roll up the hits — per-arm results
    // bit-identical (same candidate subset, same (d2_e9, vec_id)
    // order; sum-of-per-query-hits ≡ inner-join count on unique
    // (q_id, cand_id)). Was 4 join/score chains, 36 AQE stage-jobs.
    val spark = truth.sparkSession
    import spark.implicits._
    val rescored = scored.where(col("rank") <= RerankRs.max)
      .select(col("q_id"), col("vec_id"), col("rank").as("adc_rank"))
      .join(cand, "vec_id")
      .join(broadcast(q), "q_id")
      .withColumn("d2_e9", l2DistE9(col("q_vec"), col("c_vec")))
      .select(col("q_id"), col("vec_id"), col("adc_rank"), col("d2_e9"))
    val armGrid = RerankRs.map(_.toLong).toDF("rerank_r").hint("broadcast")
    val armsExpr = s"filter(array(${RerankRs.map(_ + "L").mkString(", ")})," +
      " r -> adc_rank <= r)"
    val hitsAll = rescored
      .select(col("q_id"), col("vec_id"), col("d2_e9"),
        explode(expr(armsExpr)).as("rerank_r"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("rerank_r", "q_id")
          .orderBy(col("d2_e9"), col("vec_id"))))
      .where(col("rk") <= k)
      .select(col("rerank_r"), col("q_id"), col("vec_id").as("cand_id"))
      .join(truth, Seq("q_id", "cand_id"))
      .groupBy("rerank_r")
      .agg(count(lit(1)).cast("long").as("sum_hits"))
    armGrid
      .join(hitsAll, Seq("rerank_r"), "left")
      .na.fill(0L, Seq("sum_hits"))
      .join(broadcast(nq))
      .select(col("rerank_r"), col("sum_hits"),
        expr(s"(sum_hits * 1000) div (n_q * ${k}L)").as("mean_recall_milli"))
  }

  /** Cosine threshold (e6) for [[semanticDedup]] — calibrated to the
    * test corpus's cosine distribution (max pairwise ≈ 0.51): pairs
    * above it are the distribution's extreme tail. */
  val SemTauE6 = 350000L

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    * every vector to its IVF centroid list, then flag pairs WITHIN a
    * list whose cosine exceeds τ, keeping the smaller vec_id. The
    * centroid id is the shuffle key; no pair ever crosses lists. The
    * scale contract is the SemDeDup paper's own: the number of
    * centroids grows with the corpus (k ∝ √N or N/target_list_size),
    * so per-list populations — and the within-list quadratic term —
    * stay bounded; here k is the fixed test-index size that ann_ivf
    * already uses. */
  def semanticDedup(embeddings: DataFrame,
                    tauE6: Long = SemTauE6): DataFrame =
    semanticDedupFrom(ivfAssign(embeddings), embeddings, tauE6)

  /** [[semanticDedup]] over a staged list assignment. */
  def semanticDedupFrom(assign: DataFrame, embeddings: DataFrame,
                        tauE6: Long = SemTauE6): DataFrame = {
    val listed = assign
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"),
        "vec_id")
    val a = listed.select(col("centroid_id"), col("vec_id").as("keep_vec_id"),
      col("c_vec").as("va"))
    val b = listed.select(col("centroid_id"), col("vec_id").as("dup_vec_id"),
      col("c_vec").as("vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("keep_vec_id") < col("dup_vec_id"))
      .withColumn("sim_e6",
        round(cosineSim(col("va"), col("vb")) * 1000000).cast("long"))
      .where(col("sim_e6") >= tauE6)
      .select("centroid_id", "keep_vec_id", "dup_vec_id", "sim_e6")
  }

  /** Per-cluster topic summary — what each IVF list actually CONTAINS,
    * the report a curation team reads after clustering a corpus:
    * population, language spread, the dominant language and the
    * dominant token of every list (embedding vec_id doubles as doc_id,
    * the corpus linkage modal_align audits). Ties break by count DESC
    * then value DESC on both engines.
    *
    * Shape: the doc-level join is narrow (id, lang) × assignment; the
    * token pass pre-aggregates (centroid, token) counts map-side
    * before the argmax, and the argmax itself is a struct max — no
    * window, no per-cluster array, so a mega-cluster costs a combiner
    * max, not a sort. Cluster count is NumCentroids, so every
    * aggregate output here is index-sized, not corpus-sized. */
  def topicClustersFrom(assign: DataFrame, documents: DataFrame,
                        tokens: DataFrame): DataFrame = {
    val byDoc = assign.select(col("vec_id").as("doc_id"), col("centroid_id"))
    val d = byDoc.join(documents.select(col("doc_id"), col("lang")), "doc_id")
    val docAgg = d.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("doc_id").as("id_sum"))
    val langTop = d.groupBy("centroid_id", "lang")
      .agg(count(lit(1)).as("c"))
      .groupBy("centroid_id")
      .agg(max(struct(col("c"), col("lang"))).as("m"))
      .select(col("centroid_id"), col("m.lang").as("top_lang"),
        col("m.c").as("top_lang_n"))
    val tokTop = byDoc
      .join(tokens.select(col("doc_id"), col("token")), "doc_id")
      .groupBy("centroid_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("centroid_id")
      .agg(max(struct(col("c"), col("token"))).as("m"))
      .select(col("centroid_id"), col("m.token").as("top_token"),
        col("m.c").as("top_token_n"))
    docAgg.join(langTop, "centroid_id").join(tokTop, "centroid_id")
      .select("centroid_id", "n_docs", "n_langs", "top_lang", "top_lang_n",
        "top_token", "top_token_n", "id_sum")
  }

  /** [[topicClustersFrom]] built standalone (assignment + tokenization
    * computed inline). */
  def topicClusters(embeddings: DataFrame, documents: DataFrame): DataFrame =
    topicClustersFrom(ivfAssign(embeddings), documents,
      TextAnalysis.tokensRel(documents))

  /** In-context-pretraining document ordering (Shi et al. 2023):
    * pretraining on SEMANTICALLY ADJACENT documents in the same
    * context window beats random order, so the corpus is clustered
    * (the IVF assignment — vec_id doubles as doc_id, the modal_align
    * linkage) and each cluster's members are ordered by centroid
    * similarity, most-central first. This is the scalable stand-in
    * for the paper's greedy nearest-neighbor chaining: exact chaining
    * is inherently sequential (each pick depends on the last), while
    * centroid-proximity order preserves the locality signal and costs
    * one window per cluster. Position is cluster-local; a writer
    * interleaves clusters into shards downstream ([[TextAnalysis
    * .epochShuffle]] is the orthogonal between-epoch permutation).
    *
    * Shape: the assignment join carries one row per vector, the
    * 16-row centroid table broadcasts, similarity is the codegen'd
    * cosine, and the ranking window partitions on centroid_id — at
    * scale each cluster sorts independently, no global order
    * anywhere. Similarity surfaces rounded to e6 (the lshTopK
    * convention) so the output is hash-comparable. */
  def incontextOrderFrom(assign: DataFrame, embeddings: DataFrame): DataFrame =
    assign
      .join(candidates(embeddings).withColumnRenamed("cand_id", "vec_id"),
        "vec_id")
      .join(broadcast(centroids(embeddings)), "centroid_id")
      .withColumn("sim_e6",
        round(cosineSim(col("c_vec"), col("cv")) * 1000000).cast("long"))
      .withColumn("position", row_number().over(
        Window.partitionBy("centroid_id")
          .orderBy(col("sim_e6").desc, col("vec_id"))).cast("long"))
      .select(col("centroid_id"), col("position"),
        col("vec_id").as("doc_id"), col("sim_e6"))

  /** [[incontextOrderFrom]] built standalone. */
  def incontextOrder(embeddings: DataFrame): DataFrame =
    incontextOrderFrom(ivfAssign(embeddings), embeddings)

  /** Load (milli of the ideal even share) above which [[ivfBalanceFrom]]
    * flags a list — 2000 = twice its fair share, FAISS's usual
    * imbalance red line. */
  val BalanceOverloadMilli = 2000L

  /** IVF list-balance report — the quantizer-health gate an index
    * build checks before shipping: per-list population, corpus share
    * in ppm, load vs the ideal even split in milli (n·K/total), and
    * the overloaded flag (load above [[BalanceOverloadMilli]]). A
    * skewed list turns every probe of it into a partial brute-force
    * scan, so at 100 TB this report decides between shipping the
    * index and re-training the coarse quantizer. Shape: one
    * map-side-combined count per list over the staged assignment,
    * crossed with the broadcast 1-row total — index-sized IO
    * regardless of corpus size. */
  def ivfBalanceFrom(assign: DataFrame): DataFrame = {
    val counts = assign.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum("n_vecs").as("n_total"),
      count(lit(1)).as("n_lists"))
    counts.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_vecs"),
        expr("n_vecs * 1000000 div n_total").as("share_ppm"),
        expr("n_vecs * n_lists * 1000 div n_total").as("load_milli"))
      .withColumn("overloaded",
        (col("load_milli") > BalanceOverloadMilli).cast("string"))
  }

  /** [[ivfBalanceFrom]] over a freshly built assignment. */
  def ivfBalance(embeddings: DataFrame): DataFrame =
    ivfBalanceFrom(ivfAssign(embeddings))

  /** Embedding-distribution drift per label — the monitor that decides
    * when [[ivfIncremental]]'s fast path (assign new vectors to stale
    * centroids) stops being safe for a LABEL rather than a list:
    * cosine between the mean vector of the base corpus and the mean of
    * the arriving 1-in-8 delta cohort ([[isDeltaCol]] — the SAME
    * membership rule as ivf_incremental, so the two monitors describe
    * one ingest feed). A drift cosine well below 1e6 means the label's
    * new data points elsewhere than its history.
    *
    * Exactness: coordinates are e6-rounded once, per-dimension sums
    * and truncating means are bigint (associative, hash-stable); the
    * single double step (the final cosine of two ≤e6-integer mean
    * vectors) is written identically in the oracle so both engines
    * round the same value. Shape: one narrow posexplode, a
    * map-side-combined (label, dim) aggregate, then a ≤labels×dims
    * aggregate — label-grid output, no joins at all. */
  def embedDrift(embeddings: DataFrame): DataFrame =
    embeddings.where(col("vec_id") >= QueryCount)
      .select(col("label").cast("long").as("label"),
        isDeltaCol.as("is_delta"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("is_delta"),
        col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000L).cast("long").as("x_e6"))
      .groupBy("label", "dim")
      .agg(
        sum(when(!col("is_delta"), col("x_e6")).otherwise(lit(0L))).as("sb"),
        sum(when(col("is_delta"), col("x_e6")).otherwise(lit(0L))).as("sd"),
        sum(when(!col("is_delta"), lit(1L)).otherwise(lit(0L))).as("nb"),
        sum(when(col("is_delta"), lit(1L)).otherwise(lit(0L))).as("nd"))
      .select(col("label"),
        expr("sb div greatest(nb, 1)").as("mb"),
        expr("sd div greatest(nd, 1)").as("md"),
        col("nb"), col("nd"))
      .groupBy("label")
      .agg(sum(expr("mb * md")).as("dot"),
        sum(expr("mb * mb")).as("bb"),
        sum(expr("md * md")).as("dd"),
        max("nb").as("n_base"), max("nd").as("n_delta"))
      .select(col("label"), col("n_base"), col("n_delta"),
        when(col("bb") > 0L && col("dd") > 0L,
          round(col("dot") / (sqrt(col("bb").cast("double"))
            * sqrt(col("dd").cast("double"))) * 1000000L).cast("long"))
          .otherwise(lit(0L)).as("drift_cos_e6"))

  /** Embedding near-duplicate pairs: same LSH bucket AND cosine ≥ τ.
    * No all-pairs: the bucket id is the join key. */
  def embeddingNearDup(embeddings: DataFrame, tauE6: Long = 950000L): DataFrame = {
    val v = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", bucketCol(col("embedding")))
    val a = v.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("vec_a"))
    val b = v.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("vec_b"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim_e6",
        round(cosineSim(col("vec_a"), col("vec_b")) * 1000000).cast("long"))
      .where(col("sim_e6") >= tauE6)
      .select("id_a", "id_b", "sim_e6")
  }

  /** Bitext candidate threshold (cosine e6) for [[crossLangPairs]]. */
  val BitextTauE6 = 800000L

  /** Cross-lingual pair mining census — the bitext-mining pass a
    * multilingual training pipeline runs to find translation pairs
    * (same content, different language) for alignment data: candidate
    * pairs come from the SAME sign-LSH buckets the embedding dedup
    * uses (never all-pairs), restricted to mismatched languages, and
    * each (lang, lang) cell reports its candidate count, best and
    * mean similarity, the best pair's ids, and how many candidates
    * clear [[BitextTauE6]] — with a NONE verdict when the corpus
    * simply contains no bitext (the honest negative this synthetic
    * corpus produces: its cross-language embeddings are independent,
    * max cosine ~0.51). Language pairs are canonicalized (lo, hi) so
    * the grid is unordered-pair-sized. Shape: one bucket-keyed
    * self-join + two narrow (id, lang) joins + a lang-grid aggregate;
    * the argmax is a struct max, no window. */
  def crossLangPairs(embeddings: DataFrame,
                     documents: DataFrame): DataFrame = {
    val v = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", bucketCol(col("embedding")))
    val a = v.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val b = v.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    val langs = documents.select(col("doc_id"), col("lang"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim_e6",
        round(cosineSim(col("va"), col("vb")) * 1000000).cast("long"))
      .join(langs.select(col("doc_id").as("id_a"),
        col("lang").as("lang_a")), "id_a")
      .join(langs.select(col("doc_id").as("id_b"),
        col("lang").as("lang_b")), "id_b")
      .where(col("lang_a") =!= col("lang_b"))
      .select(least(col("lang_a"), col("lang_b")).as("lang_lo"),
        greatest(col("lang_a"), col("lang_b")).as("lang_hi"),
        col("sim_e6"), col("id_a"), col("id_b"))
      .groupBy("lang_lo", "lang_hi")
      .agg(count(lit(1)).as("n_candidates"),
        expr("sum(sim_e6) div count(1)").as("mean_sim_e6"),
        max(struct(col("sim_e6"), col("id_a"), col("id_b"))).as("m"),
        sum((col("sim_e6") >= BitextTauE6).cast("long"))
          .as("n_bitext"))
      .select(col("lang_lo"), col("lang_hi"), col("n_candidates"),
        col("mean_sim_e6"), col("m.sim_e6").as("max_sim_e6"),
        col("m.id_a").as("best_a"), col("m.id_b").as("best_b"),
        col("n_bitext"))
      .withColumn("verdict",
        when(col("n_bitext") > 0L, "BITEXT").otherwise("NONE"))
  }

  /** Leak threshold (cosine e6) for [[semanticContamination]]. */
  val ContamTauE6 = 950000L

  /** Semantic train/eval contamination audit — the embedding-level
    * twin of the n-gram contamination_check: the heldout slice (the
    * val+test 2% of the SAME stable hash-split split_assign uses, so
    * the audited split IS the trained split) is screened against the
    * train lane for near-identical vectors that would leak eval
    * answers into training. Candidates come from the sign-LSH buckets
    * embedding dedup uses (never eval×train all-pairs — the bucket
    * join is the scale path; a leaked NEAR-DUPLICATE collides by
    * construction, which is the same recall argument dedup_embedding
    * rides). Per label: heldout count, how many found any train
    * candidate, how many leak at [[ContamTauE6]], the worst offender's
    * similarity, and a LEAKED/CLEAN verdict.
    *
    * Shape: one bucket-keyed equi-join between the two hash lanes of
    * one scan, a per-heldout-vector max (struct max, no window), then
    * a ≤|labels| aggregate; heldout vectors with an empty bucket
    * survive via the left join (they are CLEAN evidence, not dropped
    * rows).
    *
    * Determinism: because the LEAKED verdict thresholds a similarity,
    * the sim must not carry a float-summation ulp that could flip a
    * boundary pair cross-engine — so it uses the embedDrift
    * convention: coordinates e6-quantized ONCE, dot product and both
    * squared norms as exact integer sums (associative), and a single
    * final double step written identically in the oracle, so both
    * engines round the identical value. */
  def semanticContamination(embeddings: DataFrame): DataFrame = {
    val lane = pmod(graft.functions.PortableHash.phash(
      concat(lit("split:"), col("vec_id").cast("string"))), lit(100L))
    val v = embeddings
      .select(col("vec_id"), col("embedding"),
        col("label").cast("long").as("label"),
        (lane >= 98L).as("heldout"))
      .withColumn("bucket", bucketCol(col("embedding")))
      .withColumn("v6", expr("transform(embedding, x -> " +
        "cast(round(cast(x as double) * 1000000d) as bigint))"))
      .withColumn("n2", expr("aggregate(transform(v6, x -> x * x), " +
        "cast(0 as bigint), (s, x) -> s + x)"))
    val eval = v.where(col("heldout"))
      .select(col("bucket"), col("vec_id").as("e_id"),
        col("v6").as("ev6"), col("n2").as("en2"), col("label"))
    val train = v.where(!col("heldout"))
      .select(col("bucket"), col("vec_id").as("t_id"),
        col("v6").as("tv6"), col("n2").as("tn2"))
    val best = eval.join(train, Seq("bucket"), "left")
      .withColumn("sim_e6",
        when(col("t_id").isNull, lit(null).cast("long"))
          .otherwise(round(
            expr("aggregate(zip_with(ev6, tv6, (a, b) -> a * b), " +
              "cast(0 as bigint), (s, x) -> s + x)").cast("double")
              / (sqrt(col("en2").cast("double"))
                * sqrt(col("tn2").cast("double"))) * 1000000d)
            .cast("long")))
      .groupBy("e_id", "label")
      .agg(max(col("sim_e6")).as("best_e6"),
        sum(when(col("t_id").isNull, 0L).otherwise(1L)).as("n_cands"))
    best
      .groupBy("label")
      .agg(count(lit(1)).as("n_heldout"),
        sum((col("n_cands") > 0L).cast("long")).as("n_matched"),
        sum(coalesce((col("best_e6") >= ContamTauE6).cast("long"),
          lit(0L))).as("n_leaked"),
        max(col("best_e6")).as("max_sim_e6"))
      .withColumn("verdict",
        when(col("n_leaked") > 0L, "LEAKED").otherwise("CLEAN"))
  }

  /** Label-propagation rounds run by [[knnComponentsFrom]]. */
  val ClpRounds = 4

  /** Semantic components of the kNN graph — min-label propagation,
    * the standard distributed connected-components algorithm (each
    * round every node adopts the minimum label in its closed
    * neighborhood; components converge in graph-diameter rounds,
    * O(log n) w.h.p. on small-world neighbor graphs): the cluster
    * formation step SemDeDup-style semantic dedup and topic bucketing
    * run after building the neighbor graph. Rounds are FIXED at
    * [[ClpRounds]] so the labeling is deterministic and
    * oracle-replayable whether or not the graph has fully converged
    * (the pq_train discipline for iterated algorithms); labels are
    * min vec_ids, so the output is integer-exact. Shape: per round
    * ONE edge-keyed aggregate + one node-keyed left join, each round
    * checkpointed to keep the plan linear; isolated nodes (alone in
    * their IVF list) keep their own label. Output component-sized. */
  def knnComponentsFrom(assign: DataFrame,
                        embeddings: DataFrame): DataFrame =
    knnComponentsImpl(assign, embeddings, srcCap = None)

  /** Probe-form [[knnComponentsFrom]]: the same fixed-round min-label
    * propagation over the PROBE-rooted edge set (every node still
    * starts with its own label, so non-participating nodes surface as
    * singletons exactly as in the full form). Equals the full gate
    * verbatim where probes cover the corpus (spec-pinned); at scale
    * the edge set is probes·K-bounded and each round is one linear
    * node join. */
  def knnComponentsProbeFrom(assign: DataFrame,
                             embeddings: DataFrame): DataFrame =
    knnComponentsImpl(assign, embeddings, srcCap = Some(KnnProbeHi))

  private def knnComponentsImpl(assign: DataFrame, embeddings: DataFrame,
                                srcCap: Option[Long]): DataFrame = {
    val edges = knnGraphImpl(assign, embeddings, srcCap)
      .select(col("src_id"), col("nbr_id"))
    val und = edges
      .union(edges.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id")))
      .distinct()
      .localCheckpoint(false)
    var labels = candidates(embeddings)
      .select(col("cand_id").as("id"), col("cand_id").as("label"))
    for (_ <- 0 until ClpRounds) {
      val nbrMin = und
        .join(labels.select(col("id").as("nbr_id"),
          col("label").as("nbr_label")), "nbr_id")
        .groupBy(col("src_id").as("id"))
        .agg(min("nbr_label").as("nbr_label"))
      labels = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
        .localCheckpoint(false)
    }
    labels.groupBy(col("label").as("component_label"))
      .agg(count(lit(1)).as("n_members"), sum("id").as("id_sum"))
  }

  /** Hub verdict threshold: a max k-occurrence of ≥ this multiple of
    * [[KnnK]] flags the index HUBBY. */
  val HubFactor = 4L

  /** Hubness audit over the kNN graph — the high-dimensional retrieval
    * pathology check (Radovanović et al. 2010): as dimensionality
    * grows, a few vectors ("hubs") appear in a disproportionate share
    * of OTHER points' k-NN lists while many ("antihubs") appear in
    * none, silently skewing kNN classification, dedup and
    * retrieval-augmented sampling. Reported as the k-occurrence
    * histogram of [[knnGraphFrom]]: per in-degree value, how many
    * vectors carry it (including the 0 bucket — vectors NO list
    * cites), each bucket's corpus share, the max k-occurrence, and a
    * HUBBY/OK verdict at [[HubFactor]]·K. Integer-exact end to end.
    * Shape: one edge aggregate (corpus·K rows) + one histogram
    * aggregate; totals and max arrive as a 1-row broadcast cross onto
    * the ≤max-degree-sized grid. */
  def hubnessAuditFrom(assign: DataFrame,
                       embeddings: DataFrame): DataFrame =
    hubnessAuditImpl(assign, embeddings, srcCap = None)

  /** Probe-form [[hubnessAuditFrom]]: k-occurrence histogram of the
    * probe-rooted graph (citations BY probe nodes), 0-bucket and
    * share_ppm still over the full candidate census. Equals the full
    * audit verbatim where probes cover the corpus (spec-pinned);
    * linear at scale. */
  def hubnessAuditProbeFrom(assign: DataFrame,
                            embeddings: DataFrame): DataFrame =
    hubnessAuditImpl(assign, embeddings, srcCap = Some(KnnProbeHi))

  private def hubnessAuditImpl(assign: DataFrame, embeddings: DataFrame,
                               srcCap: Option[Long]): DataFrame = {
    val indeg = knnGraphImpl(assign, embeddings, srcCap)
      .groupBy(col("nbr_id")).agg(count(lit(1)).as("k_occ"))
    val hist = indeg.groupBy("k_occ").agg(count(lit(1)).as("n_vectors"))
    val tot = candidates(embeddings).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(indeg.agg(count(lit(1)).as("n_cited"),
        max("k_occ").as("max_k_occ")))
    hist
      .unionByName(broadcast(tot).select(lit(0L).as("k_occ"),
        (col("n_vecs") - col("n_cited")).as("n_vectors")))
      .where(col("n_vectors") > 0L)
      .crossJoin(broadcast(tot.select(col("n_vecs"), col("max_k_occ"))))
      .select(col("k_occ"), col("n_vectors"),
        expr("n_vectors * 1000000 div n_vecs").as("share_ppm"),
        col("max_k_occ"))
      .withColumn("verdict",
        when(col("max_k_occ") >= HubFactor * KnnK, "HUBBY")
          .otherwise("OK"))
  }

  /** Per-cluster coverage tolerance (ppm) for [[sampleCoverageFrom]]. */
  val CoverageTolPpm = 60000L

  /** Semantic coverage gate for the stratified sample — the check that
    * corpus_sample's per-LANGUAGE rates didn't silently evict a
    * semantic region: language strata say nothing about topics, so a
    * hash sample can be perfectly language-balanced while starving a
    * cluster whose docs happen to be rare in the kept hash range. Per
    * IVF list (vec_id doubles as doc_id — the modal_align linkage):
    * corpus docs, sampled docs (the SAME sampledCol decision
    * corpus_sample publishes, so this gate audits the production
    * sample bit-for-bit), corpus vs sample composition in ppm, and a
    * verdict — COVERED within [[CoverageTolPpm]], SKEWED beyond it,
    * MISSED when a populated cluster kept zero docs (the failure mode
    * this gate exists to catch). Shape: one narrow (id, lang) join
    * onto the staged assignment, one NumCentroids-group aggregate;
    * totals arrive as a 1-row broadcast cross onto the index-sized
    * grid. */
  def sampleCoverageFrom(assign: DataFrame,
                         documents: DataFrame): DataFrame = {
    val byDoc = assign.select(col("vec_id").as("doc_id"),
      col("centroid_id"))
    val d = byDoc
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("sampled", TextAnalysis.sampledCol)
    val per = d.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_corpus"),
        count(when(col("sampled"), 1)).as("n_sample"))
    val tot = per.agg(sum("n_corpus").as("tc"), sum("n_sample").as("ts"))
    per.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_corpus"), col("n_sample"),
        expr("n_corpus * 1000000 div tc").as("corpus_ppm"),
        expr("case when ts = 0 then 0 " +
          "else n_sample * 1000000 div ts end").as("sample_ppm"))
      .withColumn("delta_ppm", abs(col("sample_ppm") - col("corpus_ppm")))
      .withColumn("verdict",
        when(col("n_sample") === 0L, "MISSED")
          .when(col("delta_ppm") <= CoverageTolPpm, "COVERED")
          .otherwise("SKEWED"))
  }
}
