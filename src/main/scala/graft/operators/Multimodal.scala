package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads as opaque binary columns
  * with typed metadata, batched per-partition decode, and a REAL
  * zero-dependency image codec — PPM (P6) is a pure header+raster
  * format, so both the JVM batch decoder ([[decodePpm]]) and the
  * native-expression decoder ([[imageDecode]]) parse actual image
  * bytes with no media library, and the DuckDB oracle parses the very
  * same bytes in SQL. Image near-dup rides an 8×8 average-hash
  * (aHash) fingerprint through banded-hamming LSH ([[imageDedupFrom]]) —
  * the simhash/minhash bucket discipline applied to pixels.
  */
object Multimodal {
  /** A media row: opaque payload + typed metadata (what an
    * image/audio ingestion table looks like at scale). */
  case class MediaRecord(doc_id: Long, payload: Array[Byte],
                         width: Long, height: Long, channels: Long,
                         fmt: String)

  /** Build the media table from `documents`: the text bytes stand in
    * for the media payload; metadata is deterministic. */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      (col("n_chars") % 640).cast("long").as("width"),
      ((col("doc_id") * 37) % 480).cast("long").as("height"),
      lit(3L).as("channels"),
      lit("fake/raw").as("fmt"))

  // ------------------------------------------------------------------
  // Real image lane: PPM (P6) — header "P6\n<W> <H>\n<MAX>\n" + W·H·3
  // raw RGB bytes. Zero-dependency by design, so the codec is real in
  // BOTH engines: the JVM parser below and the DuckDB oracle both
  // consume the same payload bytes.
  // ------------------------------------------------------------------

  /** A decoded PPM image: dims + per-channel integer means, all read
    * from the raster bytes. */
  case class PpmImage(doc_id: Long, byte_len: Long, width: Long,
                      height: Long, maxval: Long, mean_r: Long,
                      mean_g: Long, mean_b: Long)

  /** REAL PPM(P6) codec — parses the binary header (magic, ASCII dims,
    * maxval) and the RGB raster. This is the JVM twin of the
    * native-expression decoder in [[imageDecode]]; the DuckDB oracle
    * parses the identical bytes in SQL, so all three agree or the
    * parity gate fails. Throws on malformed input (a codec that
    * guesses is worse than one that fails loudly). */
  def decodePpm(id: Long, bytes: Array[Byte]): PpmImage = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      s"doc $id: not a P6 ppm")
    var pos = 2
    def token(): Long = {
      while (pos < bytes.length && (bytes(pos) == ' ' || bytes(pos) == '\n'
        || bytes(pos) == '\t' || bytes(pos) == '\r')) pos += 1
      var v = 0L
      require(pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9',
        s"doc $id: bad header at byte $pos")
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = token(); val h = token(); val mx = token()
    pos += 1 // the single whitespace byte after maxval
    val n = (w * h).toInt
    require(bytes.length - pos == 3 * n,
      s"doc $id: raster is ${bytes.length - pos} bytes, want ${3 * n}")
    var (sr, sg, sb) = (0L, 0L, 0L)
    var p = 0
    while (p < n) {
      sr += bytes(pos + 3 * p) & 0xff
      sg += bytes(pos + 3 * p + 1) & 0xff
      sb += bytes(pos + 3 * p + 2) & 0xff
      p += 1
    }
    PpmImage(id, bytes.length.toLong, w, h, mx, sr / n, sg / n, sb / n)
  }

  /** Records per decode batch (the mapInPandas batch-size analog). */
  val DecodeBatchSize = 64

  /** Batched per-partition decode through the REAL codec. Partition
    * count is preserved; each partition drains its records in
    * fixed-size batches — the exact shape a vectorized (Arrow/pandas)
    * decode UDF sees — with zero driver involvement. */
  def decodeFeatures(spark: SparkSession, images: DataFrame): Dataset[PpmImage] = {
    import spark.implicits._
    images.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          // a native codec would decode the whole batch in one call;
          // the JVM parser just does it per record inside the batch
          batch.iterator.map { case (id, bytes) => decodePpm(id, bytes) }
        }
      }
  }

  /** Image dims ride the dup-group key: 8..12 × 8..12, 3 channels. */
  val GroupCount = 40L
  /** Banded-hamming dedup geometry: 64-bit aHash cut into 4 bands of
    * 16 bits. By pigeonhole, any pair within [[HammingTau]] ≤ 3 bits
    * shares at least one exact band — candidate generation is
    * recall-lossless for the threshold, never all-pairs. */
  val HashBands = 4
  val BandBits = 16
  val HammingTau = 3L

  /** Synthesizes a REAL PPM(P6) payload per document — deterministic
    * pixels derived from doc_id (plus n_chars, so fuzz-lane text
    * mutations reshuffle images too), structured for near-dup study:
    * docs sharing `doc_id % GroupCount` share a base pattern and dims;
    * a per-doc constant brightness offset leaves the aHash INVARIANT
    * (both sides of the cell-vs-mean comparison shift equally), while
    * a sparse per-variant perturbation flips a few cells — so groups
    * form exact-hash clusters with a fringe of small-hamming
    * neighbors. Everything is native expressions (codegen'd), and the
    * DuckDB oracle rebuilds the identical bytes from the same columns.
    */
  def imageTable(documents: DataFrame): DataFrame = {
    val g = col("doc_id") % GroupCount
    documents.select(
        col("doc_id"),
        g.as("g"),
        (lit(8L) + g % 5).as("width"),
        (lit(8L) + (g * 3) % 5).as("height"))
      // The per-pixel payload synthesis and every downstream raster
      // consumer (decode, fingerprints) are compute-bound per row, but
      // the documents scan at gate scale is a single file split — so
      // without an explicit exchange the whole lane runs on ONE task
      // (measured: image_decode 3.2 s on one core). Spread the narrow
      // (doc_id, dims) rows across the executor cores BEFORE the heavy
      // expressions; deterministic hash key (not round-robin) so task
      // retries reproduce the same placement. The fixed partition
      // count pins the exchange against AQE coalescing the tiny
      // pre-synthesis rows back to one partition.
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("pxhex", expr(
        """array_join(transform(sequence(0, 3 * width * height - 1), i ->
          |  lpad(hex(((g*37 + (i*i) % 251 + i*11) % 200
          |            + doc_id % 56
          |            + IF(doc_id % 3 = 0 AND i % 31 = 0, 97L, 0L)) % 256), 2, '0')
          |), '')""".stripMargin))
      .select(col("doc_id"), col("width"), col("height"),
        concat(
          encode(concat_ws("", lit("P6\n"), col("width"), lit(" "),
            col("height"), lit("\n255\n")), "UTF-8"),
          unhex(col("pxhex"))).as("payload"),
        lit(3L).as("channels"), lit("image/x-portable-pixmap").as("fmt"))
  }

  /** The byte-level header parse shared by [[imageDecode]] and
    * [[imageFingerprints]]: hex the payload once, regexp the P6 header
    * out of the hex pairs (newline = 0A, digits = 3x, space = 20 — no
    * UTF-8 decode of binary data anywhere), and expose the raster as a
    * LongType array column `b` plus `width`/`height`/`maxval`. */
  private def rasterParsed(images: DataFrame): DataFrame = {
    val hdrRe = "^50360A((?:3[0-9])+)20((?:3[0-9])+)0A((?:3[0-9])+)0A"
    images.select(col("doc_id"), hex(col("payload")).as("hs"),
        octet_length(col("payload")).cast("long").as("byte_len"))
      .withColumn("wg", regexp_extract(col("hs"), hdrRe, 1))
      .withColumn("hg", regexp_extract(col("hs"), hdrRe, 2))
      .withColumn("mg", regexp_extract(col("hs"), hdrRe, 3))
      .select(col("doc_id"), col("hs"), col("byte_len"),
        expr("CAST(regexp_replace(wg, '3([0-9])', '$1') AS BIGINT)").as("width"),
        expr("CAST(regexp_replace(hg, '3([0-9])', '$1') AS BIGINT)").as("height"),
        expr("CAST(regexp_replace(mg, '3([0-9])', '$1') AS BIGINT)").as("maxval"),
        expr("6 + length(wg) + 2 + length(hg) + 2 + length(mg) + 2").as("poff"))
      .withColumn("b", expr(
        """transform(sequence(0, 3 * width * height - 1), i ->
          |  CAST(conv(substr(hs, CAST(poff + 1 + 2*i AS INT), 2), 16, 10)
          |       AS BIGINT))""".stripMargin))
  }

  /** REAL image decode as pure native expressions: byte-level P6
    * header parse + per-channel raster means, all from the payload
    * bytes (never the metadata columns). The declarative twin of
    * [[decodePpm]]; checksum is md5 over the hex image so the oracle
    * (whose md5 is VARCHAR-only) hashes the identical text. */
  def imageDecode(images: DataFrame): DataFrame =
    rasterParsed(images).select(
      col("doc_id"), col("byte_len"), col("width"), col("height"),
      col("maxval"),
      (col("width") * col("height")).as("n_pixels"),
      expr("aggregate(sequence(0, CAST(width*height - 1 AS INT)), 0L," +
        " (acc, p) -> acc + element_at(b, 3*p + 1))" +
        " div (width * height)").as("mean_r"),
      expr("aggregate(sequence(0, CAST(width*height - 1 AS INT)), 0L," +
        " (acc, p) -> acc + element_at(b, 3*p + 2))" +
        " div (width * height)").as("mean_g"),
      expr("aggregate(sequence(0, CAST(width*height - 1 AS INT)), 0L," +
        " (acc, p) -> acc + element_at(b, 3*p + 3))" +
        " div (width * height)").as("mean_b"),
      expr("md5(hs)").as("checksum"))

  /** 8×8 average-hash fingerprints over the parsed raster, emitted as
    * [[HashBands]] 16-bit band values per doc (band values ARE the LSH
    * bucket keys, so no second hashing pass). The hash is
    * integer-exact: grayscale cell (r,c) averages the RGB bytes of its
    * w/8 × h/8 block (area downsample), and bit = cell-mean >
    * image-mean is computed cross-multiplied (cell_sum·A > total·a) —
    * no floating point, no floor-of-floor drift between engines. */
  def imageFingerprints(images: DataFrame): DataFrame =
    rasterParsed(images)
      .withColumn("cs", expr(
        """transform(sequence(0, 63), idx ->
          |  aggregate(sequence((idx div 8) * height div 8,
          |                     ((idx div 8) + 1) * height div 8 - 1),
          |    0L, (accy, y) -> accy +
          |      aggregate(sequence((idx % 8) * width div 8,
          |                         ((idx % 8) + 1) * width div 8 - 1),
          |        0L, (accx, x) -> accx
          |          + element_at(b, CAST(3*(y*width+x) + 1 AS INT))
          |          + element_at(b, CAST(3*(y*width+x) + 2 AS INT))
          |          + element_at(b, CAST(3*(y*width+x) + 3 AS INT)))))""".stripMargin))
      .withColumn("ca", expr(
        """transform(sequence(0, 63), idx ->
          |  3 * (((idx div 8) + 1) * height div 8 - (idx div 8) * height div 8)
          |    * (((idx % 8) + 1) * width div 8 - (idx % 8) * width div 8))""".stripMargin))
      .withColumn("bands", expr(
        s"""transform(sequence(0, ${HashBands - 1}), bb ->
           |  aggregate(sequence(0, ${BandBits - 1}), 0L, (acc, j) ->
           |    acc + IF(element_at(cs, CAST(16*bb + j + 1 AS INT))
           |               * aggregate(ca, 0L, (a, x) -> a + x)
           |             > aggregate(cs, 0L, (a, x) -> a + x)
           |               * element_at(ca, CAST(16*bb + j + 1 AS INT)),
           |             shiftleft(1L, j), 0L)))""".stripMargin))
      .select(col("doc_id"), col("bands"))

  /** Image near-dup pairs: banded-hamming LSH over the aHash. Bands
    * are exploded to (band_idx, band_val) bucket keys — ONE shuffle on
    * the key, pairs generated inside buckets only, with the minhash
    * star-cap ([[Dedup.MaxQuadraticBucket]]) so a giant cluster of
    * identical images costs O(n) pairs, not n². Candidates are then
    * scored with the FULL 64-bit hamming distance and kept at ≤
    * [[HammingTau]] — which banding makes recall-lossless by
    * pigeonhole (4 bands, ≤3 differing bits ⇒ one band matches).
    * 100 TB-shape: never all-pairs, bucket-keyed, linear output. */
  def imageDedupFrom(fps: DataFrame): DataFrame = {
    val banded = fps.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "sig")))
    val bn = banded.groupBy("band", "sig")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("keeper"))
      .where(col("cnt") > 1)
    val quad = bn.where(col("cnt") <= Dedup.MaxQuadraticBucket)
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_a")),
        Seq("band", "sig"))
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
        Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val star = bn.where(col("cnt") > Dedup.MaxQuadraticBucket)
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
        Seq("band", "sig"))
      .where(col("doc_b") =!= col("keeper"))
      .select(col("keeper").as("doc_a"), col("doc_b"))
    val cand = quad.union(star).distinct()
    cand
      .join(fps.select(col("doc_id").as("doc_a"), col("bands").as("ba")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("bands").as("bb")), "doc_b")
      .withColumn("hamming", expr(
        s"""aggregate(sequence(0, ${HashBands - 1}), 0L, (acc, i) ->
           |  acc + bit_count(element_at(ba, i + 1) ^ element_at(bb, i + 1)))"""
          .stripMargin))
      .where(col("hamming") <= HammingTau)
      .select("doc_a", "doc_b", "hamming")
  }

  /** One sampled frame of a media payload. */
  case class Frame(doc_id: Long, frame_idx: Long, frame_bytes: Array[Byte],
                   width: Long, height: Long)

  /** Frame sampling: slice the payload into fixed-size "frames", keep
    * every `everyN`-th up to `maxFrames` — the video-frame-sample shape
    * (one input row fans out to 0..maxFrames rows; schema + fan-out are
    * real, the frame content is the stubbed byte slice). */
  def frameSample(spark: SparkSession, media: DataFrame,
                  frameBytes: Int = 100, everyN: Int = 3,
                  maxFrames: Int = 8): Dataset[Frame] = {
    import spark.implicits._
    media.select("doc_id", "payload", "width", "height")
      .as[(Long, Array[Byte], Long, Long)]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes, w, h) =>
          bytes.grouped(frameBytes).zipWithIndex
            .filter(_._2 % everyN == 0)
            .take(maxFrames)
            .map { case (chunk, idx) => Frame(id, idx.toLong, chunk, w, h) }
        }
      }
  }

  /** Resize stub: rewrite the metadata (and, in a real codec, the
    * payload) to a target box preserving aspect ratio — metadata math
    * is real, pixel work is stubbed. */
  def resizeMeta(media: DataFrame, maxDim: Long = 224L): DataFrame = {
    import org.apache.spark.sql.functions._
    val longest = greatest(col("width"), col("height"))
    media.withColumn("out_width",
        when(longest <= maxDim, col("width"))
          .otherwise(expr(s"(width * $maxDim) div greatest(width, height)")))
      .withColumn("out_height",
        when(longest <= maxDim, col("height"))
          .otherwise(expr(s"(height * $maxDim) div greatest(width, height)")))
  }

  /** Oracle-checkable feature projection (pure native functions over
    * the binary column — octet_length/md5 are codegen'd). */
  def features(documents: DataFrame): DataFrame =
    mediaTable(documents).select(
      col("doc_id"),
      octet_length(col("payload")).cast("long").as("byte_len"),
      md5(col("payload")).as("checksum"),
      col("width"),
      col("height"),
      (octet_length(col("payload")) % 256).cast("long").as("fake_brightness"))

  /** Cross-modal alignment audit: the text table vs the embedding
    * table, full-outer on the shared id — per (status, lang, label)
    * counts, where status says whether a row has both modalities or is
    * orphaned on one side. The check every multimodal training join
    * runs first (a silent inner join would just drop the orphans it
    * should be reporting). One hash join on the id, then a tiny
    * aggregate. */
  def modalAlign(documents: DataFrame, embeddings: DataFrame): DataFrame =
    documents.select(col("doc_id").as("d_id"), col("lang"))
      .join(embeddings.select(col("vec_id").as("e_id"),
        col("label").cast("long").as("label")),
        col("d_id") === col("e_id"), "full_outer")
      .select(
        // status keys on JOIN-KEY presence, never on payload columns —
        // a matched row with a NULL lang/label is still MATCHED
        when(col("d_id").isNotNull && col("e_id").isNotNull, "MATCHED")
          .when(col("d_id").isNotNull, "DOC_ONLY")
          .otherwise("EMB_ONLY").as("status"),
        coalesce(col("lang"), lit("-")).as("lang"),
        coalesce(col("label"), lit(-1L)).as("label"))
      .groupBy("status", "lang", "label")
      .agg(count(lit(1)).as("n"))
}
