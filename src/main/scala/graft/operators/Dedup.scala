package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash.{bandKey, permuteReduced, phash}

/** Near-duplicate detection over `documents` — MinHash+LSH, SimHash,
  * and n-gram Jaccard verification. All bucketed: the LSH band (or
  * simhash band) is the shuffle key; candidate pairs are generated only
  * within buckets — never an all-pairs cross join.
  *
  * Performance shape (the 100 TB contract): each document's shingles/
  * tokens are hashed ONCE into longs via a Generate (explode), and the
  * 64-wide signatures are built by 64 codegen'd min/sum aggregates with
  * map-side partial aggregation — not by higher-order-function lambdas,
  * which are interpreted and invite CollapseProject to duplicate the
  * shingle expression into every seed (measured 60×+ slowdown). Seed
  * mixing is the universal-hash permutation from
  * [[graft.functions.PortableHash]]: one md5 per shingle, then 64
  * integer ops — portable to the DuckDB oracle, so every query in this
  * family is hash-checked cross-engine (the round-2 gap). The
  * verification joins run against the per-shingle hash table (a narrow
  * explode, cheap to recompute), never against the 64-aggregate
  * signature build — that runs exactly once per query.
  */
object Dedup {
  /** MinHash signature length and banding (16 bands × 4 rows). */
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Jaccard duplicate threshold in milli-units (0.6). */
  val JaccardMilli = 600L

  /** SimHash width: 60 bits — everything [[graft.functions.PortableHash
    * .phash]] yields. 4 bands × 15 bits. */
  val SimBits = 60
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands

  /** SimHash near-dup hamming threshold. */
  val MaxHamming = 6

  /** One row per (doc_id, distinct token-3-shingle hash). The shingle
    * strings exist only inside this projection — downstream everything
    * is a long. Degenerate (<3 token) docs hash the whole text. */
  def shingleHashes(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val shingles = when(size(col("toks")) >= 3,
      expr("transform(sequence(0, size(toks)-3), " +
        "i -> concat_ws(' ', slice(toks, i+1, 3)))"))
      .otherwise(array(concat_ws(" ", col("toks"))))
    toks
      .select(col("doc_id"), explode(array_distinct(shingles)).as("sh"))
      .select(col("doc_id"), phash(col("sh")).as("h"))
  }

  /** LSH candidate pairs: band key = the portable Horner fold of the
    * band's 4 minhashes (codegen'd integer arithmetic, identical in
    * the DuckDB oracle). Docs sharing any (band, key) bucket pair up.
    * The bucket is the shuffle key — pairs are generated inside
    * buckets only, never across. */
  def minhashCandidates(documents: DataFrame): DataFrame =
    candidatesFromSignatures(signaturesFromHashes(shingleHashes(documents)))

  /** Above this bucket size, emit star pairs (keeper ↔ member) instead
    * of all pairs: a mass-duplicate cluster of B docs then costs O(B)
    * rows instead of O(B²) on one reducer, and dedup semantics are
    * preserved transitively through the keeper. */
  val MaxQuadraticBucket = 64

  /** Mass-duplication-safe within-bucket pair generation, shared by
    * the MinHash and SimHash banding so the pairing policy can't
    * drift. Input: one row per bucket member, with bucket-key columns
    * `keys` and a member struct `m` whose FIRST field is the (unique)
    * doc id, so `min(m)` is the keeper. Two phases:
    *
    *   1. a bucket profile `(count, min)` — map-side-combinable, its
    *      aggregation state is two scalars, never an array;
    *   2. buckets ≤ MaxQuadraticBucket take the sorted-array all-pairs
    *      path (the array is bounded by the constant), larger buckets
    *      emit (keeper ↔ member) star pairs through a JOIN against the
    *      profile.
    *
    * No reducer ever materializes a bucket-sized array — the previous
    * single-pass form collected EVERY bucket into `collect_list`
    * before capping the pair output, so a boilerplate page duplicated
    * 10⁷× would put a 10⁷-element array on one reducer. Now that
    * bucket costs O(B) joined rows and O(1) reducer state. Mirrors the
    * oracle's bn/pairs CTE pair exactly.
    *
    * Output: `p` = struct(a, b) with a.doc_id < b.doc_id (all-pairs
    * branch) or a = keeper ≠ b (star branch), plus any `carry`
    * columns (a subset of `keys` — e.g. the sweep's geometry id). */
  private def bucketPairs(banded: DataFrame, keys: Seq[String],
                          carry: Seq[String] = Nil): DataFrame = {
    val stats = bucketProfile(banded, keys)
    allPairs(smallOf(banded, stats, keys), keys, carry)
      .unionByName(starPairs(overfullOf(banded, stats, keys), carry))
  }

  /** Phase 1 of [[bucketPairs]]: the (keys, bn, keeper) profile of
    * every bucket with at least two members. */
  private def bucketProfile(banded: DataFrame, keys: Seq[String]): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bn"), min(col("m")).as("keeper"))
      .where(col("bn") > 1)

  /** The members of the profiled buckets of at most MaxQuadraticBucket
    * members. */
  private def smallOf(banded: DataFrame, stats: DataFrame,
                      keys: Seq[String]): DataFrame =
    banded.join(stats.where(col("bn") <= MaxQuadraticBucket)
      .select(keys.map(col): _*), keys)

  /** The all-pairs branch: every pair of each bucket of `small`
    * (bounded by MaxQuadraticBucket members), sorted so a.doc_id <
    * b.doc_id. */
  private def allPairs(small: DataFrame, keys: Seq[String],
                       carry: Seq[String]): DataFrame =
    small
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("m"))).as("ds"))
      .select(carry.map(col) :+ explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")).as("p"): _*)

  /** The members of the over-full buckets (more than MaxQuadraticBucket
    * members), each row carrying its bucket's keeper. */
  private def overfullOf(banded: DataFrame, stats: DataFrame,
                         keys: Seq[String]): DataFrame =
    banded.join(stats.where(col("bn") > MaxQuadraticBucket)
      .select(keys.map(col) :+ col("keeper"): _*), keys)

  /** The star branch: (keeper ↔ member) pairs of the over-full buckets;
    * the keeper is its bucket's minimum, so a.doc_id < b.doc_id here
    * too. */
  private def starPairs(overfull: DataFrame, carry: Seq[String]): DataFrame =
    overfull.where(col("m") =!= col("keeper"))
      .select(carry.map(col) :+ struct(col("keeper").as("a"), col("m").as("b")).as("p"): _*)

  /** One (doc_id, n, band, sig) row per LSH band of each signature —
    * the single definition of banding, shared by the intra-corpus and
    * incremental candidate generators (and mirrored by the oracle's
    * bandSig CASE), so the fold can't diverge between paths. */
  private def banded(sigs: DataFrame): DataFrame =
    bandedWith(sigs, Bands, RowsPerBand)

  /** Banding under an explicit (bands × rowsPerBand) geometry —
    * [[banded]] specialized by the production constants; the band
    * sweep re-cuts the SAME signatures under alternative geometries. */
  private def bandedWith(sigs: DataFrame, bands: Int,
                         rowsPer: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      bandKey((0 until rowsPer).map(r => col(s"m${b * rowsPer + r}")))
    }
    sigs.select(col("doc_id"), col("n"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "sig")))
  }

  /** Band geometries swept by [[lshBandSweepFrom]]: (bands, rowsPerBand)
    * cuts of the same 64-hash signature. More bands ⇒ a laxer S-curve
    * (more candidates, higher recall); fewer ⇒ stricter. */
  val BandSweep: Seq[(Int, Int)] = Seq((8, 8), (16, 4), (32, 2))

  /** LSH band-geometry sweep — the S-curve tuning report: for each
    * (bands × rows) cut of the SAME 64-minhash signatures (built
    * once), the candidate-pair volume and how many TRUE duplicates
    * (exact Jaccard ≥ threshold over the union of all geometries'
    * candidates) that geometry captures. This is the recall-vs-cost
    * dial for choosing Bands before a 100 TB run: candidates scale
    * the verify stage; missed true dups are unrecoverable.
    *
    * Runs over already-staged shingle-hash and signature relations
    * ([[graft.Staged]] feeds both). */
  private[graft] def lshBandSweepFrom(sh: DataFrame,
                                      sigs: DataFrame): DataFrame = {
    // ONE pair-generation pass over all geometries: the geometry id
    // joins the bucket key, so profile/join/distinct run once over the
    // union of banded rows instead of once per geometry (3× fewer
    // stages; at scale, 1 pass over the signature relation, not 3)
    val bandedAll = BandSweep.map { case (b, r) =>
      bandedWith(sigs, b, r)
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("band"), col("sig"), struct(col("doc_id"), col("n")).as("m"))
    }.reduce(_ unionByName _)
    val allPairs = bucketPairs(bandedAll,
      Seq("bands", "rows_per_band", "band", "sig"),
      carry = Seq("bands", "rows_per_band"))
      .select(col("bands"), col("rows_per_band"),
        col("p.a.doc_id").as("doc_a"), col("p.a.n").as("na"),
        col("p.b.doc_id").as("doc_b"), col("p.b.n").as("nb"))
      .distinct()
    val union = allPairs.select("doc_a", "na", "doc_b", "nb").distinct()
    val truth = pairJaccard(union, sh)
      .where(col("j_milli") >= JaccardMilli)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_dup"))
    allPairs
      .join(truth, Seq("doc_a", "doc_b"), "left")
      .groupBy("bands", "rows_per_band")
      .agg(count(lit(1)).as("n_candidates"),
        count(col("is_dup")).as("n_dups_captured"))
  }

  /** Candidate pairs from the (doc_id, m0..m63, n) signature relation.
    * Each pair row carries BOTH docs' shingle-set sizes (na/nb ride
    * along through the banding structs), so the Jaccard stage needs no
    * extra per-doc size joins. The signature relation is consumed by
    * both [[bucketPairs]] phases, so it is lazily localCheckpoint'd —
    * the 64-wide aggregate still runs exactly once per query (the
    * lshBandSweep precedent). */
  private[graft] def candidatesFromSignatures(sigs0: DataFrame): DataFrame =
    candidatesFromStaged(sigs0.localCheckpoint(false))

  /** [[candidatesFromSignatures]] for an ALREADY-staged signature
    * relation — callers that also consume the signatures themselves
    * (minhashEstError's per-side joins) stage once and pass it here,
    * avoiding a second checkpoint copy of the widest relation. */
  private def candidatesFromStaged(sigs: DataFrame): DataFrame =
    pairColumns(bucketPairs(bandMembers(sigs), LshKeys))

  /** The LSH bucket key: (band, 4-minhash fold). */
  private val LshKeys = Seq("band", "sig")

  /** (band, sig, m = struct(doc_id, n)): one row per LSH band of each
    * signature, the member shape [[bucketPairs]] takes. */
  private def bandMembers(sigs: DataFrame): DataFrame =
    banded(sigs).select(col("band"), col("sig"),
      struct(col("doc_id"), col("n")).as("m"))

  /** The corpus's LSH bucket profile: one (band, sig, bn, keeper) row
    * per bucket of at least two members — the one bucket shuffle, staged
    * ([[graft.Staged]]) for the verify build and [[overfullMembers]]. */
  private[graft] def bucketStats(sigs: DataFrame): DataFrame =
    bucketProfile(bandMembers(sigs), LshKeys)

  /** (band, sig, m, keeper) for every member of the corpus's over-full
    * LSH buckets (more than MaxQuadraticBucket members), from the
    * [[bucketStats]] profile: the star branch of the verify build, and
    * the only buckets in which a subset of the corpus can pair
    * differently ([[subsetOverfullJaccard]]). */
  private[graft] def overfullMembers(sigs: DataFrame,
                                     stats: DataFrame): DataFrame =
    overfullOf(bandMembers(sigs), stats, LshKeys)

  /** Distinct (doc_a, na, doc_b, nb) candidates: the all-pairs branch
    * over `stats`' small buckets plus the `overfull` members' stars. */
  private def candidatesFrom(banded: DataFrame, stats: DataFrame,
                             overfull: DataFrame): DataFrame =
    pairColumns(allPairs(smallOf(banded, stats, LshKeys), LshKeys, Nil)
      .unionByName(starPairs(overfull, Nil)))

  private def pairColumns(p: DataFrame): DataFrame =
    p.select(col("p.a.doc_id").as("doc_a"), col("p.a.n").as("na"),
        col("p.b.doc_id").as("doc_b"), col("p.b.n").as("nb"))
      .distinct()

  /** Per-doc signature relation: one plain column per minhash (the
    * banding consumes the columns directly; packing them into an array
    * first would push the band derivation into interpreted higher-order
    * functions) plus the shingle-set size n, all from ONE aggregate.
    * `h % P` is hoisted into the projection so each row pays ONE
    * 64-bit mod, not one per seed (same values — (h%P)%P = h%P). */
  private[graft] def signaturesFromHashes(sh: DataFrame): DataFrame = {
    val reduced = sh.select(col("doc_id"),
      (col("h") % graft.functions.PortableHash.P).as("hm"))
    val aggs = (0 until NumHashes).map(s =>
      min(permuteReduced(col("hm"), s)).as(s"m$s")) :+
      count(lit(1)).as("n")
    reduced.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Intersection sizes for candidate pairs against the shingle-hash
    * table in ONE scan: explode each pair into its two doc ids, join
    * the shingle table once, and count the hashes that arrive from
    * both sides (shingle hashes are distinct per doc, so a count of 2
    * means shared). The two-sided join form would shuffle the full
    * corpus-wide shingle table twice. */
  private def pairIntersections(pairs: DataFrame, sh: DataFrame,
                                aCol: String, bCol: String): DataFrame =
    pairs
      .select(col(aCol), col(bCol),
        explode(array(col(aCol), col(bCol))).as("doc_id"))
      .join(sh, "doc_id")
      .groupBy(aCol, bCol, "h")
      .agg(count(lit(1)).as("k"))
      .where(col("k") === 2)
      .groupBy(aCol, bCol)
      .agg(count(lit(1)).as("c"))

  /** (doc_a, na, doc_b, nb, c) for (doc_a, na, doc_b, nb) candidate
    * pairs, c = the number of shared shingle hashes: the
    * [[pairIntersections]] scan with the pair's sizes carried along,
    * reading `pairs` once. Every document has at least one shingle hash
    * ([[shingleHashes]]), so a pair sharing none still arrives, with
    * c = 0, and no join back to `pairs` is needed. */
  private def pairShared(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val keys = Seq("doc_a", "na", "doc_b", "nb").map(col)
    pairs
      .select(keys :+ explode(array(col("doc_a"), col("doc_b"))).as("doc_id"): _*)
      .join(sh, "doc_id")
      .groupBy(keys :+ col("h"): _*)
      .agg(count(lit(1)).as("k"))
      .groupBy(keys: _*)
      .agg(count(when(col("k") === 2, 1)).as("c"))
  }

  /** (doc_a, doc_b, j_milli) for (doc_a, na, doc_b, nb) candidate
    * pairs: the exact shingle-set Jaccard, j_milli = ⌊1000·J⌋ — the
    * verify step every MinHash consumer shares. */
  private def pairJaccard(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairShared(pairs, sh)
      .select(col("doc_a"), col("doc_b"),
        expr("(c * 1000) div (na + nb - c)").as("j_milli"))

  /** [[pairJaccard]] plus the is_dup verdict — the [[ngramJaccard]]
    * output shape. */
  private def verify(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairJaccard(pairs, sh)
      .withColumn("is_dup", (col("j_milli") >= JaccardMilli).cast("string"))

  /** Exact n-gram Jaccard over the LSH candidate pairs only (the
    * verification stage of MinHash dedup). The expensive 64-wide
    * signature aggregate runs ONCE (for candidates); the intersection
    * join touches only the narrow shingle-hash explode, and the set
    * sizes arrive on the pair rows themselves — measured cheaper at
    * sf0.1 than either per-side signature recompute (round 2) or a
    * localCheckpoint stage (cold-run materialization cost exceeds the
    * recompute). j_milli = ⌊1000·J⌋. */
  def ngramJaccard(documents: DataFrame): DataFrame = {
    val sh = shingleHashes(documents)
    verify(candidatesFromStaged(
      signaturesFromHashes(sh).localCheckpoint(false)), sh)
  }

  /** [[ngramJaccard]] over the ALREADY-staged shingle-hash table,
    * signature relation, bucket profile and over-full members — the
    * session-scoped staged shape ([[graft.Staged]]): a pipeline that
    * stages them once feeds every dedup-family consumer from the same
    * copies instead of re-running the corpus scan, the 64-wide
    * aggregate and the bucket shuffle per query. Results are identical
    * to the standalone form. */
  private[graft] def ngramJaccardFrom(sh: DataFrame, sigs: DataFrame,
                                      stats: DataFrame,
                                      overfull: DataFrame): DataFrame =
    verify(candidatesFrom(bandMembers(sigs), stats, overfull), sh)

  /** (doc_a, doc_b, j_milli) for the LSH pairs of the corpus subset
    * `ids` that the corpus's own pairs, restricted to the subset, may
    * lack. Only the corpus's over-full buckets can pair a subset
    * differently: a bucket of at most MaxQuadraticBucket members emits
    * all its pairs, so its restriction is the subset's bucket; and a
    * subset keeping an over-full bucket's keeper keeps it as its own
    * keeper. Pairing the subset's members of the over-full buckets
    * again by [[bucketPairs]] (all pairs once a bucket shrinks to
    * MaxQuadraticBucket, else a star on the subset's keeper) therefore
    * yields every missing pair; shingles, and so j_milli, are per
    * document. */
  private[graft] def subsetOverfullJaccard(sh: DataFrame, overfull: DataFrame,
                                           ids: DataFrame): DataFrame = {
    val members = overfull
      .select(col("band"), col("sig"), col("m"), col("m.doc_id").as("doc_id"))
      .join(ids, Seq("doc_id"), "left_semi")
      .select("band", "sig", "m")
    pairJaccard(pairColumns(bucketPairs(members, LshKeys)), sh)
  }

  /** Containment threshold in milli-units (0.8) for [[containmentFrom]]. */
  val ContainMilli = 800L

  /** Asymmetric n-gram containment over the LSH candidate pairs — the
    * subsumption detector Jaccard structurally misses: containment
    * C(A,B) = |A∩B| / min(|A|,|B|) is ~1 whenever the smaller doc's
    * shingles live inside the bigger one (a quoted article, a page
    * concatenation, a doc + its boilerplate-wrapped copy), while
    * Jaccard on the same pair is dragged toward |small|/|big| and can
    * sit far below the dup threshold. Pairs are classified: NEAR_DUP
    * (Jaccard ≥ [[JaccardMilli]]), CONTAINED (containment ≥
    * [[ContainMilli]] but Jaccard below — the asymmetric finds), else
    * DISTINCT.
    *
    * Candidates come from the SAME MinHash-LSH blocking as the Jaccard
    * verify — an honest recall caveat carried in the output's contract:
    * MinHash LSH targets Jaccard, so a tiny-doc⊂huge-doc pair whose
    * Jaccard is near zero may never share a band. What this catches is
    * the practically dominant regime (containment high AND Jaccard
    * moderate — wrapped copies, partial merges); whole-containment of
    * minuscule fragments is the declared miss, the same trade the
    * reference dedup stacks make. Cost over the staged chain: the same
    * one pair-intersection join as ngram_jaccard — na/nb already ride
    * on the candidate rows. */
  private[graft] def containmentFrom(sh: DataFrame,
                                     sigs: DataFrame): DataFrame = {
    pairShared(candidatesFromStaged(sigs), sh)
      .select(col("doc_a"), col("doc_b"),
        expr("(c * 1000) div (na + nb - c)").as("j_milli"),
        expr("(c * 1000) div least(na, nb)").as("cont_milli"))
      .withColumn("relation",
        when(col("j_milli") >= JaccardMilli, "NEAR_DUP")
          .when(col("cont_milli") >= ContainMilli, "CONTAINED")
          .otherwise("DISTINCT"))
  }

  /** Thresholds swept by [[dedupSweepFrom]] (milli-Jaccard). */
  val SweepThresholds: Seq[Long] = Seq(400L, 500L, 600L, 700L, 800L, 900L)

  /** Dedup threshold sweep — how many verified duplicate pairs each
    * candidate Jaccard threshold would confirm, in one pass: the
    * expensive candidate+verify chain runs ONCE, then each pair row
    * fans out over the (tiny, literal) threshold list. The tuning
    * view that picks JaccardMilli for a corpus.
    *
    * Runs over an already-verified pair relation (the [[ngramJaccard]]
    * output shape) — staged-reuse entry point. */
  private[graft] def dedupSweepFrom(verified: DataFrame): DataFrame =
    verified
      .select(col("j_milli"),
        explode(array(SweepThresholds.map(lit): _*)).as("tau_milli"))
      .groupBy("tau_milli")
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("j_milli") >= col("tau_milli"), 1)).as("n_dup_pairs"))

  /** Near-dup pairs confirmed by Jaccard ≥ threshold, keeping the
    * smaller doc_id as canonical. */
  def minhashDedup(documents: DataFrame): DataFrame =
    minhashDedupFrom(ngramJaccard(documents))

  /** [[minhashDedup]] over an already-verified pair relation (the
    * [[ngramJaccard]] output shape) — staged-reuse entry point. */
  private[graft] def minhashDedupFrom(verified: DataFrame): DataFrame =
    verified
      .where(col("j_milli") >= JaccardMilli)
      .select(col("doc_a").as("keeper_doc_id"), col("doc_b").as("dup_doc_id"),
        col("j_milli"))

  /** End-to-end dedup materialization: the corpus minus confirmed
    * near-duplicates (anti-join on the dup ids — the incremental
    * delete shape, same as retention cleanup), against an
    * already-computed dup-pair relation (the [[minhashDedup]] output
    * shape) — staged-reuse entry point. */
  def dedupApply(documents: DataFrame, dups: DataFrame): DataFrame =
    documents
      .join(dups
        .select(col("dup_doc_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))

  /** Batch-membership predicate for incremental dedup: every 10th
    * doc_id is "newly arrived", the rest are the existing corpus —
    * scale-independent and identical in the oracle. */
  val IncrementalBatchMod = 10L

  /** Incremental near-dup dedup: the NEW batch is checked against the
    * EXISTING corpus only — batch×batch and corpus×corpus pairs are
    * never generated (the corpus is presumed already deduped; in a
    * production pipeline its signature relation is a staged table and
    * only the batch side is hashed fresh). Candidate generation joins
    * the batch's band keys against the corpus's band buckets; a bucket
    * with more than MaxQuadraticBucket corpus members contributes only
    * its smallest doc (one witness suffices to flag duplication, so a
    * mass-duplicate bucket stays linear). Output: one row per verified
    * (batch doc, corpus witness) pair with exact Jaccard.
    *
    * Runs over already-staged shingle-hash and signature relations
    * ([[graft.Staged]]). */
  private[graft] def incrementalDedupFrom(sh: DataFrame,
                                          sigs: DataFrame): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0
    // is_batch is derivable from doc_id, so the shared banding helper
    // applies as-is and the flag is re-attached after the explode.
    val bandedAll = banded(sigs)
      .withColumn("is_batch", isBatch)
    // Corpus bucket profile — map-side-combinable (count, min), never
    // an array: a mass-duplicate corpus bucket contributes only its
    // keeper (one witness suffices to flag duplication), and the
    // batch×corpus pairing below is a JOIN, so neither side of a
    // bucket is ever materialized on one reducer.
    val stats = bandedAll
      .groupBy("band", "sig")
      .agg(
        count(when(!col("is_batch"), 1)).as("cn"),
        min(when(!col("is_batch"), struct(col("doc_id"), col("n"))))
          .as("keeper"),
        count(when(col("is_batch"), 1)).as("bn"))
      .where(col("cn") > 0 && col("bn") > 0)
    val corpusSide = bandedAll.where(!col("is_batch"))
      .join(stats.where(col("cn") <= MaxQuadraticBucket)
        .select("band", "sig"), Seq("band", "sig"))
      .select(col("band"), col("sig"),
        col("doc_id").as("corpus_doc_id"), col("n").as("nc"))
      .unionByName(stats.where(col("cn") > MaxQuadraticBucket)
        .select(col("band"), col("sig"),
          col("keeper.doc_id").as("corpus_doc_id"), col("keeper.n").as("nc")))
    val pairs = bandedAll.where(col("is_batch"))
      .select(col("band"), col("sig"),
        col("doc_id").as("batch_doc_id"), col("n").as("nb"))
      .join(corpusSide, Seq("band", "sig"))
      .select(col("batch_doc_id"), col("nb"),
        col("corpus_doc_id"), col("nc"))
      .distinct()
    pairs
      .join(pairIntersections(pairs, sh, "batch_doc_id", "corpus_doc_id"),
        Seq("batch_doc_id", "corpus_doc_id"), "left")
      .na.fill(0L, Seq("c"))
      .select(col("batch_doc_id"), col("corpus_doc_id"),
        expr("(c * 1000) div (nb + nc - c)").as("j_milli"))
      .withColumn("is_dup", (col("j_milli") >= JaccardMilli).cast("string"))
  }

  /** Hard round cap for [[connectedComponents]]. With pointer jumping
    * the label forest's depth roughly HALVES each round, so 16 rounds
    * cover diameters ~2^16 — far beyond any real dup graph; the
    * convergence gate stops real runs after 2-3 rounds. A cap this
    * high being reached means the gate is broken, so overshooting it
    * throws instead of returning wrong labels. */
  val MaxClusterRounds = 16

  /** Distributed connected components over an undirected pair list
    * (columns a, b) — min-label propagation with pointer jumping and a
    * convergence gate, the scale form of the reference's transitive
    * dup-chain handling.
    *
    * Per round: (1) every node takes the min label over itself and its
    * neighbors (self-loops folded into the edge list → ONE join + ONE
    * map-side-combinable min-aggregate); (2) pointer jump — each label
    * is replaced by ITS label via a self-join on the tiny label
    * relation, which halves chain depth and makes convergence
    * O(log diameter) instead of O(diameter); (3) an eager
    * localCheckpoint truncates lineage so round r+1 reads a
    * materialized label relation, not an r-deep join tree; (4) a
    * ONE-ROW sum(label) gate — labels are non-increasing, so an
    * unchanged sum IS a fixed point — stops the loop at actual
    * convergence. Near-clique dup graphs stop after 2-3 rounds where
    * the previous fixed-10-round form always paid 10; a pathological
    * long chain still finishes in log rounds instead of silently
    * under-propagating. The loop's driver actions touch only the
    * label relation (docs that dup something), never the corpus.
    *
    * NOTE: unlike every other operator here, this EXECUTES the gated
    * loop at CALL time (each round's convergence check is a 1-row
    * driver action) — the returned DataFrame is the final materialized
    * label relation, not a lazy plan. Callers composing it into a
    * larger lazy pipeline pay the loop when they call, not when they
    * run the result. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the number of propagation rounds the
    * convergence gate executed (including the fixed-point-confirming
    * one) — the early-stop observability the tests assert on. */
  def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .unionByName(pairs
        .select(explode(array(col("a"), col("b"))).as("a"))
        .select(col("a"), col("a").as("b")))
      .distinct()
      // lazy: materializes on the loop's first action, truncating the
      // upstream (minhash+verify) lineage for every later round
      .localCheckpoint(false)
    def labSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("label").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))
    var lab = edges.select(col("a").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var prev = labSum(lab)
    var round = 0
    var done = prev.isEmpty // empty graph: nothing to propagate
    while (!done) {
      round += 1
      if (round > MaxClusterRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $MaxClusterRounds rounds")
      // pointer jump FIRST, on the checkpointed relation (self-joining
      // a lazy propagate result would compute it twice): label :=
      // label's label — every label value is a node id, and self-loops
      // keep every node present. Identity on round 1 (labels = ids),
      // so skipped there.
      val jumped = if (round == 1) lab
        else lab.select(col("doc_id"), col("label").as("mid"))
          .join(lab.select(col("doc_id").as("mid"), col("label")), "mid")
          .select("doc_id", "label")
      val propagated = edges
        .join(jumped.select(col("doc_id").as("b"), col("label")), "b")
        .groupBy(col("a").as("doc_id"))
        .agg(min("label").as("label"))
      lab = propagated.localCheckpoint()
      // labels are per-node non-increasing through both steps, so an
      // unchanged 1-row sum means BOTH were the identity — fixed point
      val cur = labSum(lab)
      done = cur == prev
      prev = cur
    }
    (lab, round)
  }

  /** Connected components over the VERIFIED near-dup pair graph — the
    * step between pairwise dedup and materialization: every doc gets a
    * canonical cluster id (the minimum doc_id reachable through dup
    * pairs), so "keep one per cluster" is well-defined even when
    * A~B and B~C but A≁C (pairwise keeper choice would keep A and
    * drop C's witness otherwise). Labels come from
    * [[connectedComponents]] (gated pointer-jumping propagation).
    *
    * Output: (doc_id, cluster_id, n_members) per clustered doc.
    *
    * Runs over an already-computed dup-pair relation (the
    * [[minhashDedup]] output shape) — staged-reuse entry point
    * ([[graft.Staged]]). NOTE: executes the gated component loop at CALL
    * time (see [[connectedComponents]]). */
  private[graft] def dupClustersFrom(dups: DataFrame): DataFrame = {
    val converged = connectedComponents(dups
      .select(col("keeper_doc_id").as("a"), col("dup_doc_id").as("b")))
    val sized = converged
      .groupBy("label").agg(count(lit(1)).as("n_members"))
    converged
      .join(sized, "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("n_members"))
  }

  /** Soft-dedup sampling weights — the down-weighting alternative to
    * dropping near-dups: instead of keeping one representative per
    * cluster, every member keeps 1e6/|cluster| ppm of sampling mass
    * (truncating div — a cluster's total mass is ≈ one document), and
    * unique docs keep the full 1e6. Per source: raw docs, near-dup
    * members, the effective document mass in ppm, and the
    * effective/raw ratio — the number that says how much of a source
    * survives soft dedup without the variance cliff hard dropping
    * causes. Shape: the cluster labels join back to the corpus on
    * doc_id (clusters are the minority side); one per-source
    * map-side-combined aggregate. */
  def softDedupWeights(documents: DataFrame, dups: DataFrame): DataFrame =
    softDedupWeightsFrom(documents, dupClustersFrom(dups))

  /** [[softDedupWeights]] over an already-labelled cluster relation
    * (the [[dupClustersFrom]] output shape). */
  private[graft] def softDedupWeightsFrom(documents: DataFrame,
                                          clusters: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"))
      .join(clusters.select(col("doc_id"), col("n_members")),
        Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("n_members"), lit(1L)).as("mem"))
      .select(col("source"), col("mem"),
        expr("1000000 div mem").as("w_ppm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("mem") > 1L).cast("long")).as("n_dup_members"),
        sum("w_ppm").as("effective_docs_ppm"))
      .withColumn("dedup_ratio_ppm",
        expr("effective_docs_ppm div n_docs"))

  /** Canonical-representative selection per near-dup cluster — the
    * decision step between clustering and materialization. dedupApply's
    * "keep the minimum doc_id" rule is arbitrary; a production pipeline
    * keeps the BEST member of each cluster. Here: highest Gopher
    * distinct-token ratio (the boilerplate-resistance signal), lowest
    * doc_id as the deterministic tiebreak, with the dropped side
    * checksummed (id-sum + token mass) so the oracle verifies the exact
    * decision set, not just counts.
    *
    * Shape: one equi-join of the (tiny) cluster relation against the
    * per-doc quality aggregate, then a single per-cluster aggregate —
    * the argmax is a struct max, so there is no window and no
    * per-cluster array; a mass-copied template cluster costs one
    * combiner-friendly max, not a sort.
    *
    * Runs over already-computed cluster + gopher relations — staged-reuse
    * entry point ([[graft.Staged]]). */
  private[graft] def clusterRepresentativesFrom(clusters: DataFrame,
                                                gopher: DataFrame): DataFrame =
    clusters
      .join(gopher.select(col("doc_id"), col("distinct_milli"),
        col("n_tokens")), "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        // argmax by (quality, lowest-id tiebreak); payload fields ride
        // in the struct AFTER the ordering fields they are determined by
        max(struct(col("distinct_milli"), (-col("doc_id")).as("nid"),
          col("doc_id").as("rep_id"),
          col("n_tokens").as("rep_toks"))).as("rep"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_tokens")).as("tok_sum"))
      .select(col("cluster_id"),
        col("rep.rep_id").as("rep_doc_id"),
        col("rep.distinct_milli").as("rep_distinct_milli"),
        col("n_members"),
        (col("id_sum") - col("rep.rep_id")).as("dropped_id_sum"),
        (col("tok_sum") - col("rep.rep_toks")).as("dropped_tokens"))

  /** Duplicate-cluster size histogram — the skew profile of the dup
    * graph (is duplication a long tail of pairs or a few mass-copied
    * templates?), and the direct sizing input for MaxQuadraticBucket.
    * Two tiny aggregates over [[dupClustersFrom]]' output (clustered docs
    * only — a vanishing fraction of the corpus).
    *
    * Runs over an already-computed cluster relation (the [[dupClustersFrom]]
    * output shape) — staged-reuse entry point. */
  private[graft] def clusterSizeHistFrom(clusters: DataFrame): DataFrame =
    clusters
      .groupBy("cluster_id").agg(max("n_members").as("n_members"))
      .groupBy("n_members").agg(count(lit(1)).as("n_clusters"))

  /** Cross-source duplication overlap — which sources copy from each
    * other: every verified near-dup pair mapped to its (unordered)
    * source pair. The provenance view that decides which feeds to
    * de-prioritize at crawl time. Two narrow (doc_id, source) joins
    * against the (small) verified pair set; least/greatest
    * canonicalizes the pair on both engines.
    *
    * Runs against an already-computed dup-pair relation — staged-reuse
    * entry point ([[graft.Staged]]). */
  private[graft] def crossSourceOverlapFrom(documents: DataFrame,
                                            dups: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    dups
      .join(src.select(col("doc_id").as("keeper_doc_id"),
        col("source").as("source_a")), "keeper_doc_id")
      .join(src.select(col("doc_id").as("dup_doc_id"),
        col("source").as("source_b")), "dup_doc_id")
      .groupBy(
        least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Duplicated-token-mass census per source — the number a curation
    * budget actually wants from the dedup pass: not pair counts but
    * how many TRAINING TOKENS each source loses when the verified
    * near-dup losers ([[minhashDedupFrom]]'s dup_doc_id side) are
    * dropped. Per source: docs, dup docs, tokens, dup tokens, and the
    * token share in ppm. Distinct-loser extraction first (a doc can
    * lose against several keepers — it must count once), then one
    * narrow token-count projection and a grid aggregate; the loser set
    * joins on the doc key it already carries. */
  private[graft] def dupTokenShareFrom(documents: DataFrame,
                                       dups: DataFrame): DataFrame = {
    val losers = dups.select(col("dup_doc_id").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1L))
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .join(losers, Seq("doc_id"), "left")
      .na.fill(0L, Seq("is_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup_docs"),
        sum("toks").as("n_tokens"),
        sum(when(col("is_dup") === 1L, col("toks")).otherwise(lit(0L)))
          .as("n_dup_tokens"))
      .withColumn("dup_token_ppm",
        expr("n_dup_tokens * 1000000 div greatest(n_tokens, 1)"))
  }

  /** Repeated-substring run length (tokens) for [[substringDedup]]. */
  val SubstrL = 15

  /** Substring-level deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): find every token
    * run of length ≥ SubstrL that occurs in MORE THAN ONE document and
    * report, per document, how many of its token positions such runs
    * cover — the exact statistic the suffix-array ExactSubstr dedup
    * computes, re-expressed relationally: a length-≥L shared run
    * exists iff a shared L-gram exists, so L-gram hashes stand in for
    * the suffix array. Scale shape: one narrow k-gram explode (the
    * winnowing shape); the repeated-gram relation aggregates on the
    * gram hash; only REPEATED grams (the dup mass, not the corpus)
    * explode into their L covered positions before the per-doc
    * distinct-position count. No doc×doc comparison, no suffix array.
    *
    * Output per doc: n_tokens, n_covered (positions inside any shared
    * run), covered_milli. */
  def substringDedup(documents: DataFrame): DataFrame = {
    // spread before the tokenize + L-gram explode (the corpus scan is
    // one split locally, so both explode passes ran single-task:
    // 0.90 s + 0.78 s of a 2.45 s wall at sf0.1), and stage the k-gram
    // hash relation ONCE — it feeds both the repeated-gram aggregate
    // and the coverage join, which otherwise each re-run the tokenize
    // and the explode (guide §2.4; materializing the gram table is
    // what a suffix-array/ExactSubstr pipeline does at scale anyway).
    val toks = Spread.byKey(
      documents.select(col("doc_id"), TextAnalysis.tokensCol.as("tk")),
      "doc_id")
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .localCheckpoint(false)
    val kgrams = toks
      .where(size(col("tk")) >= SubstrL)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(tk)-$SubstrL), " +
          s"i -> concat_ws(' ', slice(tk, i+1, $SubstrL)))"))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        phash(col("g")).as("h"))
      .localCheckpoint(false)
    val repeated = kgrams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2)
    val covered = kgrams
      .join(repeated, "h")
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${SubstrL - 1})")).as("p"))
      .distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_covered"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        expr("(n_covered * 1000) div n_tokens").as("covered_milli"))
  }

  /** MinHash estimation-quality gate: the signature-agreement estimate
    * of Jaccard (matching minhashes / 64 — the statistic LSH banding
    * actually thresholds on) vs the exact n-gram Jaccard, per candidate
    * pair, with the absolute error in milli. This is the report that
    * justifies (or indicts) NumHashes/Bands for a corpus. Scale shape:
    * the doc-keyed signature relation is joined to both pair sides —
    * at 100 TB signatures are a staged table of 65 longs per doc
    * (~1000× smaller than the text), so the two joins touch the narrow
    * relation and the candidate pairs, never the corpus.
    *
    * Runs over already-staged shingle-hash and signature relations
    * ([[graft.Staged]]). */
  private[graft] def minhashEstErrorFrom(sh: DataFrame,
                                         sigs: DataFrame): DataFrame = {
    val exact = pairJaccard(candidatesFromStaged(sigs), sh)
    val agree = (0 until NumHashes)
      .map(s => when(col(s"sa.m$s") === col(s"sb.m$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    exact
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"), col("j_milli"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        expr(s"(n_agree * 1000) div $NumHashes").as("est_milli"),
        col("j_milli"))
      .withColumn("err_milli", abs(col("est_milli") - col("j_milli")))
  }

  /** 1-bit (b-bit) MinHash estimator gate — Li & König 2010: storing
    * only each minhash's LOWEST BIT shrinks signature storage 64×
    * (64 bits per doc instead of 64 longs), at a known estimator
    * cost: a bit collides half the time by chance, so Ĵ₁ = 2·c − 1
    * for bit-collision fraction c (clamped at 0), with ~2× the
    * variance of the full-width estimator at the same width. This
    * gate prices that trade the same way sq_recall prices int8
    * vectors: per exact-Jaccard decile of the verified candidate
    * pairs, the full-width estimator's mean absolute error beside
    * the 1-bit rung's — the storage-ladder datasheet for dedup
    * signatures. Integer-exact; one extra codegen'd bit-compare sum
    * on the SAME two signature joins the full-width gate pays. */
  private[graft] def bbitMinhashFrom(sh: DataFrame,
                                     sigs: DataFrame): DataFrame = {
    val exact = pairJaccard(candidatesFromStaged(sigs), sh)
    val agree64 = (0 until NumHashes)
      .map(s => when(col(s"sa.m$s") === col(s"sb.m$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    val agree1 = (0 until NumHashes)
      .map(s => when(col(s"sa.m$s") % 2 === col(s"sb.m$s") % 2, 1L)
        .otherwise(0L))
      .reduce(_ + _)
    exact
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("j_milli"), agree64.as("n_agree"),
        agree1.as("n_bit_agree"))
      .select(expr("j_milli div 100 * 100").as("j_bucket_milli"),
        expr(s"(n_agree * 1000) div $NumHashes").as("est64_milli"),
        expr(s"greatest((n_bit_agree * 2000) div $NumHashes - 1000, 0)")
          .as("est1_milli"),
        col("j_milli"))
      .groupBy("j_bucket_milli")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs(est64_milli - j_milli)) div count(1)")
          .as("mae64_milli"),
        expr("sum(abs(est1_milli - j_milli)) div count(1)")
          .as("mae1_milli"),
        max(abs(col("est1_milli") - col("j_milli")))
          .as("max_err1_milli"))
  }

  /** Signature widths swept by [[minhashWidthSweepFrom]]. */
  val WidthSweep: Seq[Int] = Seq(8, 16, 32, 64)

  /** MinHash width-ladder sweep — how much estimator accuracy each
    * signature width buys (the 8-long signature is 8× smaller than
    * the full 64): for every prefix width the Jaccard estimate over
    * the SAME verified candidate pairs, reduced to per-width MAE and
    * worst error against the exact n-gram Jaccard. Prefix estimators
    * are valid because the permutation family is exchangeable — the
    * first w seeds are themselves a w-wide MinHash. One pass: the
    * same two signature joins every estimator gate pays, agreement
    * sums per width computed in one projection, stacked onto the
    * width grid. The tuning view that picks NumHashes for a corpus,
    * beside [[bbitMinhashFrom]]'s 1-bit rung. */
  private[graft] def minhashWidthSweepFrom(sh: DataFrame,
                                           sigs: DataFrame): DataFrame = {
    val exact = pairJaccard(candidatesFromStaged(sigs), sh)
    def agree(w: Int) = (0 until w)
      .map(s => when(col(s"sa.m$s") === col(s"sb.m$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    val withAgree = exact
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(Seq(col("j_milli")) ++
        WidthSweep.map(w => agree(w).as(s"a$w")): _*)
    val stackExpr = s"stack(${WidthSweep.size}, " +
      WidthSweep.map(w => s"${w}L, (a$w * 1000) div $w")
        .mkString(", ") + ") as (width, est_milli)"
    withAgree.selectExpr("j_milli", stackExpr)
      .groupBy("width")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs(est_milli - j_milli)) div count(1)")
          .as("mae_milli"),
        max(abs(col("est_milli") - col("j_milli")))
          .as("max_err_milli"))
  }

  /** Bounded prefix [[dedupEditDist]] compares (chars). */
  val EditPrefixChars = 200

  /** Edit-distance second witness over the verified near-dup pairs —
    * a THIRD similarity family (character-level Levenshtein; both
    * engines ship the identical classic DP, so the integer distance
    * is cross-engine exact) priced against the n-gram Jaccard
    * verdict: per (Jaccard decile, edit-similarity decile) cell, pair
    * counts and the edit-ratio band. A pair Jaccard calls a dup but
    * edit distance calls far (or vice versa) lands off-diagonal —
    * the reordered-paragraph / small-patch cases the two families
    * disagree on. Levenshtein is quadratic in length, so it runs on a
    * [[EditPrefixChars]]-char prefix — O(1) per pair regardless of
    * document size (exactly how a production pipeline bounds an edit
    * verify). Shapes: the pair relation joins the doc texts on the
    * doc key it already carries (two doc-key shuffles), the DP runs
    * codegen'd per pair, output is the ≤10×10 grid. */
  def dedupEditDistFrom(documents: DataFrame,
                        verified: DataFrame): DataFrame = {
    def pref(c: Column) = substring(c, 1, EditPrefixChars)
    val da = documents.select(col("doc_id").as("doc_a"),
      pref(col("text")).as("ta"))
    val db = documents.select(col("doc_id").as("doc_b"),
      pref(col("text")).as("tb"))
    verified.select("doc_a", "doc_b", "j_milli")
      .join(da, "doc_a").join(db, "doc_b")
      .select(col("j_milli"),
        levenshtein(col("ta"), col("tb")).cast("long").as("d"),
        greatest(length(col("ta")), length(col("tb"))).cast("long")
          .as("m"))
      .where(col("m") > 0)
      .withColumn("ratio_ppm", expr("(m - d) * 1000000 div m"))
      .groupBy(expr("j_milli div 100 * 100").as("j_bucket_milli"),
        expr("ratio_ppm div 100000 * 100000").as("edit_bucket_ppm"))
      .agg(count(lit(1)).as("n_pairs"),
        min("ratio_ppm").as("min_ratio_ppm"),
        max("ratio_ppm").as("max_ratio_ppm"))
  }

  /** Method-agreement report: MinHash+Jaccard-verified near-dup pairs
    * vs SimHash pairs, as one full-outer overlap count — the eval a
    * pipeline owner reads before trusting either family alone. Both
    * pair sets are canonical (doc_a < doc_b by construction), so the
    * overlap join is exact.
    *
    * Runs over already-computed MinHash dup pairs ([[minhashDedup]]
    * shape) and SimHash pairs ([[simhashDedup]] shape) — staged-reuse
    * entry point ([[graft.Staged]]). */
  private[graft] def dedupMethodAgreementFrom(mhPairs: DataFrame,
                                              simPairs: DataFrame): DataFrame = {
    val mh = mhPairs
      .select(col("keeper_doc_id").as("doc_a"), col("dup_doc_id").as("doc_b"),
        lit(1L).as("in_minhash"))
    val sh = simPairs
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_simhash"))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(col("in_minhash")).as("n_minhash"),
        count(col("in_simhash")).as("n_simhash"),
        count(when(col("in_minhash").isNotNull
          && col("in_simhash").isNotNull, 1)).as("n_both"),
        count(lit(1)).as("n_union"))
  }

  /** 60-bit SimHash per doc: explode tokens, hash once, then 60
    * codegen'd ±1 sums (one per bit) reassembled into the fingerprint. */
  def simhashes(documents: DataFrame): DataFrame = {
    val tokenHashes = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), phash(col("t")).as("h"))
    val bitSums = (0 until SimBits).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L) * (1L << i)) =!= 0, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val fingerprint = (0 until SimBits)
      .map(i => when(col(s"b$i") > 0, lit(1L) * (1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    tokenHashes
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** SimHash near-dup pairs: 4 bands of 15 bits as bucket keys, exact
    * hamming check (bit_count of xor) within buckets only — with the
    * same star-pattern cap as MinHash so a mass-duplicate bucket stays
    * linear. */
  def simhashDedup(documents: DataFrame): DataFrame = {
    // the 60-aggregate fingerprint build feeds both bucketPairs phases
    // — checkpoint so it runs once (same rationale as the minhash side)
    val hashed = simhashes(documents).localCheckpoint(false)
    val bandCols = (0 until SimBands).map(b =>
      shiftright(col("simhash"), b * SimBandBits)
        .bitwiseAND(lit((1L << SimBandBits) - 1)))
    val bandedFp = hashed.select(
      posexplode(array(bandCols: _*)).as(Seq("band", "key")),
      struct(col("doc_id"), col("simhash")).as("m"))
    bucketPairs(bandedFp, Seq("band", "key"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxHamming)
  }
}
