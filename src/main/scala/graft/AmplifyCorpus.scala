package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Materializes an amplified COPY of a test sf directory: an ordinary
  * sf directory that every registry query reads unchanged. Two lanes
  * consume it: the amplified parity lane runs `graft.Verify` +
  * `scripts/parity.py` on it exactly as on a generated sf, just on k×
  * data (correctness at volume), and [[ScaleProbe]] / ScaleGateSpec time
  * registry queries on a 1× and a k× copy (wall-time ratios).
  *
  * Layout contract: `documents.parquet` / `events.parquet` /
  * `embeddings.parquet` and the TPC-H fact tables
  * (customer/orders/lineitem, per-copy key offsets — see [[FactKeys]])
  * are written as SINGLE parquet files (DuckDB's `FROM '<path>'` view
  * in parity.py reads a plain file, not a Spark part-directory); the
  * dimension tables are symlinked from the base directory unchanged.
  *
  * Amplification is structure-preserving and copy-disjoint (ids offset
  * per copy by [[CopyOffset]]; doc tokens carry a copy suffix so
  * cross-copy Jaccard = 0 and dup DENSITY matches the base corpus).
  * k = 1 writes the base rows through the same transform (the doc
  * tokens carry the suffix `_0`): the unbiased 1× baseline of the scale
  * probe, whose per-row costs match the k× side's.
  * `n_chars` is recomputed from the suffixed text so the column stays
  * consistent with `text` at every k. Events keep µs-timestamp `ts`
  * (parquet TIMESTAMP; both engines read the identical file, so parity
  * is exact by construction).
  *
  * Usage: runMain graft.AmplifyCorpus [baseSfDir] [outDir] [k] [salt]
  * (`salt` is the fuzz lane's per-seed corpus mutation — see
  * scripts/fuzz_parity.sh; omitted = the committed amplified tiers.)
  */
object AmplifyCorpus {
  /** Dimensions stay shared across copies (real fact growth runs
    * against stable dims); the fact tables are amplified with
    * per-copy key offsets — see [[FactKeys]]. */
  val LinkedTables: Seq[String] = Seq("region", "nation",
    "supplier", "part")

  /** Fact tables amplified k× with copy·CopyOffset on exactly these
    * key columns — the SAME offset the events lane puts on user_id,
    * so every FK edge (o_custkey→c_custkey, l_orderkey→o_orderkey,
    * events.user_id↔c_custkey) holds within each copy and never
    * crosses copies. */
  val FactKeys: Seq[(String, Set[String])] = Seq(
    "customer" -> Set("c_custkey"),
    "orders" -> Set("o_orderkey", "o_custkey"),
    "lineitem" -> Set("l_orderkey"))

  /** Copy-id offset: base ids must stay strictly below this or copies
    * collide (asserted in [[amplify]] before it writes). */
  val CopyOffset = 1000000000L

  /** Asserts copies cannot collide: max base id across documents +
    * events stays below CopyOffset. Reads each aggregate as nullable so
    * an EMPTY input fails with an explicit message instead of an NPE
    * before the headroom guard can report anything. */
  def requireIdHeadroom(docs: DataFrame, events: DataFrame): Unit = {
    def maxOf(df: DataFrame, what: String,
              c: org.apache.spark.sql.Column): Long = {
      val row = df.agg(c.cast("long")).collect()(0)
      require(!row.isNullAt(0),
        s"$what table is empty: cannot derive the id headroom for " +
          "copy-disjoint amplification")
      row.getLong(0)
    }
    val maxId = maxOf(docs, "documents", max("doc_id"))
      .max(maxOf(events, "events", greatest(max("event_id"), max("user_id"))))
    require(maxId < CopyOffset,
      s"base ids reach $maxId >= $CopyOffset: copies would collide")
  }

  /** k structure-preserving copies of documents: doc_id offset by
    * copy·CopyOffset; EVERY token carries a copy suffix, so the copies'
    * shingle sets are fully disjoint (cross-copy Jaccard = 0) and the
    * dup DENSITY stays exactly that of the base corpus while volume
    * scales k×. (Appending ONE tag token per doc instead would leave
    * ~96% shingle overlap across copies, silently turning the corpus
    * into k-wide near-dup groups and inflating candidate pairs k².)
    * `salt` (fuzz lane) varies the suffix text, so every seed yields a
    * different-but-equally-structured corpus; "" is the committed
    * amplified-tier corpus. */
  def amplifyDocuments(docs: DataFrame, k: Int,
                       salt: String = ""): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(expr(s"sequence(0, ${k - 1})")).as("cp"))
      .select(
        (col("doc_id") + col("cp").cast("long") * CopyOffset).as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          s"t -> concat(t, '_$salt', cast(cp as string))), ' ')").as("text"),
        col("lang"), col("source"))

  /** k structure-preserving copies of embeddings: vec_id offset by
    * copy·CopyOffset (the 8-query / 16-seed prefix stays copy-0-only,
    * so the recall gates' query set is fixed while the CANDIDATE and
    * TRAINING corpus scales k×); label cardinality scales with volume
    * (label + copy·(max+1)); and every non-base copy's vector is
    * deterministically perturbed per element (±1e-3 hash noise, never
    * rand()) so copies are geometry-preserving but never exact
    * duplicates — exact k-wide duplicate vectors would make every
    * top-k a tie pile-up instead of a scaled corpus. Parity needs no
    * cross-engine twin of any of this: the amplified parquet FILE is
    * written once and read by both engines. `salt` (fuzz lane) re-keys
    * the perturbation hash per seed; "" is the committed tier. */
  def amplifyEmbeddings(emb: DataFrame, k: Int,
                        salt: String = ""): DataFrame = {
    val maxLabel = emb.agg(max("label")).collect()(0).getInt(0)
    emb.withColumn("cp", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("vec_id") + col("cp").cast("long") * CopyOffset).as("vec_id"),
        expr(s"""CASE WHEN cp = 0 THEN embedding ELSE
                |  transform(embedding, (x, i) -> CAST(x +
                |    (pmod(xxhash64(concat('amp$salt:', cp, ':', vec_id, ':', i)),
                |     2001L) - 1000L) * CAST(1e-6 AS FLOAT) AS FLOAT))
                |END""".stripMargin).as("embedding"),
        (col("label") + col("cp") * (maxLabel + 1)).cast("int").as("label"))
  }

  /** k structure-preserving copies of a keyed relation: every column
    * named in `keyCols` is offset by copy·CopyOffset, everything else
    * rides unchanged. The offset is the SAME one the events lane
    * applies to user_id, so cross-table joins (events.user_id ↔
    * c_custkey, o_custkey ↔ c_custkey, l_orderkey ↔ o_orderkey) keep
    * their per-copy FK structure — each copy is a disjoint
    * sub-universe of customers/orders/lineitems sharing the UNCHANGED
    * dimensions (region/nation/supplier/part), exactly how a real
    * fact table grows against stable dims. */
  def amplifyKeyed(df: DataFrame, k: Int, keyCols: Set[String]): DataFrame = {
    val widened = df.withColumn("cp", explode(expr(s"sequence(0, ${k - 1})")))
    widened.select(df.columns.map { c =>
      if (keyCols(c))
        (col(c) + col("cp").cast("long") * CopyOffset).as(c)
      else col(c)
    }.toSeq: _*)
  }

  /** k copies of events: event_id/user_id offset per copy — key
    * cardinality scales with volume while each key's history (and its
    * LWW/session structure) is an exact replica of the base key's.
    * Copies never interact: their key spaces are disjoint, so
    * identical timestamps across copies are harmless. */
  def amplifyEvents(events: DataFrame, k: Int): DataFrame =
    events.withColumn("cp", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("event_id") + col("cp").cast("long") * CopyOffset)
          .as("event_id"),
        (col("user_id") + col("cp").cast("long") * CopyOffset)
          .as("user_id"),
        col("event_type"), col("value"), col("props"),
        col("ts_ns"), col("ts"))

  /** Writes df as ONE parquet file at exactly `target` (not a Spark
    * part-directory): stage to a sibling temp dir, move the single
    * part file into place. */
  def writeSingleFile(df: DataFrame, target: String): Unit = {
    val stage = target + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $stage"))
    Files.deleteIfExists(Paths.get(target))
    Files.move(part, Paths.get(target))
    // drop the now-empty stage dir (best effort: _SUCCESS etc.)
    Files.list(Paths.get(stage)).iterator().asScala.foreach(Files.delete)
    Files.delete(Paths.get(stage))
  }

  /** Amplifies `sfDir` k× into `outDir` (documents/events/embeddings
    * and the fact tables rewritten, dims symlinked) and returns
    * (n_documents, n_events) of the
    * written copy. Invalidates [[Staged]] afterwards: `outDir` may have
    * been staged by this session before an in-place re-amplify, and the
    * staged relations would otherwise serve the pre-rewrite corpus. */
  def amplify(spark: SparkSession, sfDir: String, outDir: String,
              k: Int, salt: String = ""): (Long, Long) = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    Files.createDirectories(Paths.get(outDir))
    val docs0 = Tables.documents(spark, sfDir)
    val ev0 = Tables.events(spark, sfDir)
    requireIdHeadroom(docs0, ev0)

    val docs = structuralDocs(amplifyDocuments(docs0, k, salt),
        salt)
      .withColumn("n_chars", length(col("text")).cast("long"))
    writeSingleFile(docs, s"$outDir/documents.parquet")
    val ev = structuralEvents(amplifyEvents(ev0, k), salt)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    writeSingleFile(ev, s"$outDir/events.parquet")
    val emb0 = Tables.embeddings(spark, sfDir)
    val maxVec = emb0.agg(max("vec_id").cast("long")).collect()(0).getLong(0)
    require(maxVec < CopyOffset,
      s"embeddings ids reach $maxVec >= ${CopyOffset}: " +
        "copies would collide")
    val emb = amplifyEmbeddings(emb0, k, salt)
    // ep*: one whole label class vanishes — per-label QA rollups,
    // drift baselines and topic compositions get an empty group
    writeSingleFile(
      if (salt.startsWith("ep")) emb.where(col("label") =!= 6L) else emb,
      s"$outDir/embeddings.parquet")

    for ((t, keys) <- FactKeys) {
      val base = Tables.table(spark, sfDir, t)
      val maxKey = keys.toSeq.map(c =>
        base.agg(max(col(c).cast("long"))).collect()(0).getLong(0)).max
      require(maxKey < CopyOffset,
        s"$t keys reach $maxKey >= ${CopyOffset}: " +
          "copies would collide")
      writeSingleFile(amplifyKeyed(base, k, keys),
        s"$outDir/$t.parquet")
    }

    for (t <- LinkedTables) {
      val dst = Paths.get(outDir, s"$t.parquet")
      Files.deleteIfExists(dst)
      Files.createSymbolicLink(dst,
        Paths.get(sfDir, s"$t.parquet").toAbsolutePath)
    }
    Staged.invalidate()
    (Tables.documents(spark, outDir).count(),
      Tables.rawEvents(spark, outDir).count())
  }

  // ------------------------------------------------------------------
  // Structural fuzz seeds (scripts/fuzz_parity.sh): the value-salt lane
  // (fz*) varies VALUES with the key/dup structure fixed; these two
  // lanes vary the SHAPE — where the next cross-engine bug class lives.
  // No oracle twin is needed anywhere: both engines read the identical
  // mutated parquet, so any divergence is a real semantics bug.
  // ------------------------------------------------------------------

  /** Shape-seed (`sh*`) document mutations: empty docs, whitespace-only
    * docs, and unicode-heavy docs (CJK + astral emoji + a combining
    * mark — the code-point-vs-grapheme and UTF-8-width traps) spliced
    * into the amplified corpus at fixed doc_id residues. Applied AFTER
    * amplification so the mutated rows exist in every copy; `n_chars`
    * is recomputed by the caller. */
  def structuralDocs(docs: DataFrame, salt: String): DataFrame =
    if (salt.startsWith("ep"))
      // empty-group seed: one whole language and one whole source
      // vanish — per-(lang)/per-(lang,source) rollups, mixture ladders
      // and stratified splits must produce EMPTY groups (the
      // 0-count / NULL-ratio / division-by-zero shape) identically in
      // both engines, not just small ones
      docs.where(col("lang") =!= "de" && col("source") =!= "src3")
    else if (!salt.startsWith("sh")) docs
    else docs.withColumn("text",
      when(pmod(col("doc_id"), lit(17L)) === 3L, lit(""))
        .when(pmod(col("doc_id"), lit(17L)) === 7L, lit("   "))
        .when(pmod(col("doc_id"), lit(17L)) === 5L,
          concat(col("text"),
            lit(" 模型 训练 🙂 café naïve")))
        .otherwise(col("text")))

  /** Event-lane structural mutations: `sk*` = zipfian hot-key skew (a
    * deterministic 30% of events collapse onto 16 hot user ids — the
    * giant-session / hot-reducer shape salting and AQE exist for);
    * `sh*` = null-dense optional columns (props JSON nulled on a fixed
    * residue — the get_json_object/json_extract null path);
    * `ep*` = empty-group shape: every `signup` event vanishes — the
    * funnel's FIRST stage, cohort anchors and attribution journey
    * starts are all empty groups (zero-denominator ppm, empty
    * anti-join sides) in both engines. */
  def structuralEvents(ev: DataFrame, salt: String): DataFrame =
    if (salt.startsWith("ep"))
      ev.where(col("event_type") =!= "signup")
    else if (salt.startsWith("sk"))
      ev.withColumn("user_id",
        when(pmod(xxhash64(concat(lit("skew:"), col("event_id"))),
          lit(10L)) < 3L, lit(1L) + pmod(col("user_id"), lit(16L)))
          .otherwise(col("user_id")))
    else if (salt.startsWith("sh"))
      ev.withColumn("props",
        when(pmod(col("event_id"), lit(5L)) === 0L,
          lit(null).cast("string"))
          .otherwise(col("props")))
    else ev

  /** Deterministic ANISOTROPIC embedding fixture — the corpus where
    * the OPQ snake should WIN (the generated test embeddings are
    * near-isotropic i.i.d., so the committed pq_recall_opq row there
    * is an honest negative; this fixture supplies the honest
    * positive). Coordinates are i.i.d. hash noise per (vec, dim)
    * scaled by a geometric per-dim decay (0.9^j), so the variance
    * profile is a steep monotone stair: PLAIN consecutive-dim
    * subspaces stack ~80% of the distance mass into subspace 0 —
    * 16 codewords quantizing most of the energy — while the snake
    * deals the high-variance head evenly across all 8 subspaces.
    * Same determinism contract as [[amplifyEmbeddings]]
    * (xxhash64, never rand()) and the same schema/queries convention
    * as embeddings.parquet (vec_id BIGINT, embedding ARRAY<FLOAT>,
    * label INT; vec_id < QueryCount are the gate's queries). */
  def anisotropicEmbeddings(spark: SparkSession, n: Int): DataFrame = {
    val dim = graft.operators.Similarity.Dim
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${dim - 1}), j ->
              |  CAST((pmod(xxhash64(concat('aniso:', id, ':', j)), 2001L)
              |    - 1000L) / 1000.0d * power(0.9d, j) AS FLOAT))"""
        .stripMargin).as("embedding"),
      expr("CAST(pmod(xxhash64(concat('al:', id)), 8L) AS INT)")
        .as("label"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_amp")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    require(k >= 2, s"k must be >= 2 (got $k)")
    // optional fuzz salt (scripts/fuzz_parity.sh): a per-seed corpus
    // mutation that keeps every structural invariant of the tier
    val salt = args.lift(3).getOrElse("")
    val spark = GraftSession.local(GraftSession.cpus("8"))

    val (nd, ne) = amplify(spark, sfDir, outDir, k, salt)
    println(s"""{"metric":"amplify","k":$k,"base":"$sfDir","out":"$outDir",""" +
      s""""documents":$nd,"events":$ne}""")
    spark.stop()
  }
}
