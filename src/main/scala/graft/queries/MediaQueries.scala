package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{AudioCodec, FlacCodec, ImageCodec, JpegCodec, MultimodalOps,
  TiffCodec, VideoCodec}
import Tables.docs

/** Multimodal queries: real image, audio and video codecs decoded in
  * Spark, checked against SQL replays of the deterministic fixtures,
  * plus perceptual-hash near-duplicate pairs.
  */
object MediaQueries extends QueryDomain("media") {

  /** aHash oracle CTE: mirrors stubDecode's md5-derived 16-cell feature
    * grid and the bit-weight fold of [[graft.ops.MultimodalOps.aHash]] —
    * ends at `a(doc_id, ahash)`. */
  private val AHashSql =
    """d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 15),
      |      j -> ('0x' || substr(h, j * 2 + 1, 2))::INT / 255.0) AS fs
      |  FROM d),
      |m AS (
      |  SELECT doc_id, fs,
      |    list_reduce(fs, (a, b) -> a + b) / 16.0 AS mean
      |  FROM f),
      |a AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 15),
      |      j -> CASE WHEN fs[j + 1] > mean THEN pow(2.0, j) ELSE 0.0 END),
      |      (a, b) -> a + b)::BIGINT AS ahash
      |  FROM m)""".stripMargin

  /** docs → (doc_id, byte_len, width, height, features) through REAL
    * encode→decode.  BMP for even ids, PPM for odd. */
  private def realDecoded(s: SparkSession, dir: String): DataFrame = {
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayFromBytes(8, 8, MultimodalOps.asciiBytes(text),
        id % 2 == 1))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toImg(col("doc_id"), col("text")))
    MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(4, 4)).toDF()
  }

  /** Block-mean features recomputed from the text (never the bytes):
    * pixel v(x,y) = ascii(text[(y·8+x) mod len]); 2×2 cells of the 8×8
    * raster → 16 exact-quarter means.  Text goes through the printable-
    * ASCII projection FIRST — the exact SQL mirror of
    * [[graft.ops.MultimodalOps.asciiBytes]], so char indexing and byte
    * indexing agree on any input, not just ASCII corpora. */
  private val RealFeatSql =
    """pa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |py AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
      |  FROM pa),
      |pxy AS (SELECT doc_id, text, y, unnest(generate_series(0, 7)) AS x
      |  FROM py),
      |pv AS (
      |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
      |    ascii(substr(text, (((y * 8 + x) % length(text)) + 1)::INT, 1))
      |      AS v
      |  FROM pxy),
      |rf AS (
      |  SELECT doc_id, (gy * 4 + gx)::BIGINT AS j,
      |    round(sum(v)::DOUBLE / count(*), 6) AS feat
      |  FROM pv GROUP BY 1, 2)""".stripMargin

  /** Per-PIXEL 64-bit aHash recomputed from the text — the SQL mirror of
    * [[graft.ops.ImageCodec.kernel]](8,8) over the 8×8 raster (each cell
    * is one pixel, so feature j IS pixel j: v(j) =
    * ascii(ptext[(j mod len)+1])) followed by
    * [[graft.ops.MultimodalOps.aHash]].  Bit 63 can't be written as
    * `1 << 63` in DuckDB (range-checked shift), so it's the BIGINT
    * min-value literal — the identical two's-complement value Spark's
    * `shiftleft(1L, 63)` wraps to. */
  private[queries] val RealAHash64Sql =
    """h64p AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |h64v AS (SELECT doc_id,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext, ((j % length(ptext)) + 1)::INT, 1)))
      |      AS pv
      |  FROM h64p),
      |h64m AS (SELECT doc_id, pv,
      |    list_reduce(pv, (a, b) -> a + b) / 64.0 AS mean FROM h64v),
      |a AS (SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 63),
      |      j -> CASE WHEN pv[j + 1] <= mean THEN 0::BIGINT
      |           WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |           ELSE 1::BIGINT << j END),
      |      (x, y) -> x | y) AS ahash
      |  FROM h64m)""".stripMargin

  private def wavDecodedAt(s: SparkSession, dir: String,
      frames: Int): DataFrame = {
    val toWav = udf((text: String) =>
      AudioCodec.wavFromBytes(16000, 256, MultimodalOps.asciiBytes(text)))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toWav(col("text")))
    AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames).toDF()
  }

  /** 16-frame envelope — the decode query's grid. */
  private def wavDecoded(s: SparkSession, dir: String): DataFrame =
    wavDecodedAt(s, dir, frames = 16)

  /** The near-dup query's renderer: WAV from the document's 64-byte
    * projected HEAD (the same dup-bearing prefix the image tier rasters),
    * decoded at 64 frames so the envelope fills a full 64-bit aHash.
    * Rendering from the head — not the whole text — makes the fixture's
    * duplicate clusters (prefix dups) land as hamming-0 envelope pairs,
    * exactly like the raster tier; the full-text map would only pair
    * byte-exact documents, of which the sf0.01 corpus has none. */
  private def wavHeadDecoded64(s: SparkSession, dir: String): DataFrame = {
    val toWav = udf((text: String) =>
      AudioCodec.wavFromBytes(16000, 256,
        MultimodalOps.asciiBytes(text).take(64)))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toWav(col("text")))
    AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 64)
      .toDF()
  }

  /** Envelope recomputed from the text: sample value v_i =
    * (ascii(text[(7i+3) mod len]) − 76) · 256; 16 frames × 16 samples;
    * feat = mean |v| per frame. */
  private val WavFeatSql =
    """wa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |ws AS (SELECT doc_id, text, unnest(generate_series(0, 255)) AS i
      |  FROM wa),
      |wv AS (
      |  SELECT doc_id, (i // 16) AS j,
      |    abs((ascii(substr(text,
      |      (((i * 7 + 3) % length(text)) + 1)::INT, 1)) - 76) * 256)
      |      AS av
      |  FROM ws),
      |wf AS (
      |  SELECT doc_id, j::BIGINT AS j,
      |    round(sum(av)::DOUBLE / count(*), 6) AS feat
      |  FROM wv GROUP BY 1, 2)""".stripMargin

  /** 64-frame envelope over the 64-byte projected HEAD → 64-bit aHash,
    * the r18 scale-safe near-dup shape: sample i reads head byte
    * (7i+3) mod min(len, 64), frame j covers samples [4j, 4j+4), feat =
    * mean |v| (exact — integer sum / 4, no rounding needed), hash bit j
    * set iff feat_j > mean.  Bit 63 is the BIGINT min-value literal
    * (DuckDB range-checks `1 << 63`), identical to Spark's shiftleft
    * wrap. */
  private val WavAHash64Sql =
    """w64a AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |w64s AS (SELECT doc_id, text, unnest(generate_series(0, 255)) AS i
      |  FROM w64a),
      |w64v AS (
      |  SELECT doc_id, (i // 4) AS j,
      |    abs((ascii(substr(text,
      |      (((i * 7 + 3) % least(length(text), 64)) + 1)::INT, 1)) - 76)
      |      * 256) AS av
      |  FROM w64s),
      |w64f AS (
      |  SELECT doc_id, j, sum(av)::DOUBLE / count(*) AS feat
      |  FROM w64v GROUP BY 1, 2),
      |w64l AS (
      |  SELECT doc_id, list(feat ORDER BY j) AS fs FROM w64f GROUP BY 1),
      |w64m AS (
      |  SELECT doc_id, fs, list_reduce(fs, (a, b) -> a + b) / 64.0 AS mean
      |  FROM w64l),
      |a AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(generate_series(0, 63),
      |      j -> CASE WHEN fs[j + 1] <= mean THEN 0::BIGINT
      |           WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |           ELSE 1::BIGINT << j END),
      |      (x, y) -> x | y) AS ahash
      |  FROM w64m)""".stripMargin

  private def pngDecodedAt(s: SparkSession, dir: String,
      grid: Int): DataFrame = {
    val toImg = udf((id: Long, text: String) =>
      ImageCodec.grayPng(8, 8, MultimodalOps.asciiBytes(text),
        colorType = if (id % 2 == 0) 2 else 0,
        filter = (id % 5).toInt))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toImg(col("doc_id"), col("text")))
    MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(grid, grid)).toDF()
  }

  private def pngDecoded(s: SparkSession, dir: String): DataFrame =
    pngDecodedAt(s, dir, grid = 4)

  private def gifDecodedAt(s: SparkSession, dir: String,
      grid: Int): DataFrame = {
    val toImg = udf((text: String) =>
      ImageCodec.grayGif(8, 8, MultimodalOps.asciiBytes(text)))
    val d = Tables.docs(s, dir)
      .withColumn("payload", toImg(col("text")))
    MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(grid, grid)).toDF()
  }

  /** 4×4 block means — the decode query's grid (16 features). */
  private def gifDecoded(s: SparkSession, dir: String): DataFrame =
    gifDecodedAt(s, dir, grid = 4)

  /** 8×8 = per-pixel grid — the 64-bit near-dup hash's input. */
  private def gifDecoded64(s: SparkSession, dir: String): DataFrame =
    gifDecodedAt(s, dir, grid = 8)

  /** per-pixel gauge bound at quality 90 (see the note before `mm_jpeg_decode`). */
  private val ErrBound = 32.0

  /** color gauge on the per-pixel r+g+b SUM: chroma error compounds
    * through the coarser Annex-K.2 quant table and the BT.601 inverse —
    * measured corpus max 68 across sf0.001/0.01/0.1 at quality 90. */
  private val ColorErrBound = 96.0

  /** 4:2:0 gauge: the text fixture's chroma varies EVERY pixel (the
    * adversarial case for 2×2 box downsampling + nearest upsampling) —
    * measured corpus max 122 across sf0.001/0.01/0.1 at quality 90. */
  private val Err420Bound = 160.0

  /** printable-ASCII projection + the 64 source pixels of the shared
    * text→8×8 raster formula — the engine-side mirror of the oracles'
    * `RealFeatSql` pixel map, as one Catalyst expression (codegen'd). */
  private def withSourcePixels(d: DataFrame): DataFrame =
    d.withColumn("ptext", regexp_replace(col("text"), "[^ -~]", "?"))
      .withColumn("src_px", expr(
        "transform(sequence(0, 63), j -> " +
          "ascii(substr(ptext, (j % length(ptext)) + 1, 1)))"))

  private val toJpeg = udf((text: String) =>
    JpegCodec.grayJpeg(8, 8, MultimodalOps.asciiBytes(text), quality = 90))

  private val toColorJpeg = udf((text: String) =>
    JpegCodec.colorJpeg(8, 8, MultimodalOps.asciiBytes(text), quality = 90))

  private val to420Jpeg = udf((text: String) =>
    JpegCodec.color420Jpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  private val toProgJpeg = udf((text: String) =>
    JpegCodec.progJpeg(8, 8, MultimodalOps.asciiBytes(text), quality = 90))

  private val toSaJpeg = udf((text: String) => {
    val src = MultimodalOps.asciiBytes(text)
    JpegCodec.encodeProgressiveSA(8, 8,
      (x, y) => src((y * 8 + x) % src.length) & 0xff, quality = 90,
      al = 2)
  })

  /** shared per-document channel-sum tolerance gauge for the color
    * containers: decode the payload at per-pixel granularity, recompute
    * the three phase-shifted source channels from the text, assert
    * max |3·feature − (r+g+b)| ≤ bound in-row. */
  private def colorSumGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      bound: Double): DataFrame = {
    val d = Tables.docs(s, dir)
      .withColumn("payload", payload(col("text")))
    val dec = MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
      ImageCodec.kernel(8, 8)).toDF()
    withSourcePixels(dec.join(Tables.docs(s, dir), "doc_id"))
      .withColumn("src_sum", expr(
        "transform(sequence(0, 63), j -> " +
          "ascii(substr(ptext, (j % length(ptext)) + 1, 1)) + " +
          "ascii(substr(ptext, ((j + 13) % length(ptext)) + 1, 1)) + " +
          "ascii(substr(ptext, ((j + 29) % length(ptext)) + 1, 1)))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(features, src_sum, " +
          "(f, p) -> abs(3 * f - p)), " +
          "0D, (acc, x) -> greatest(acc, x))"))
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("max_err") <= bound).as("within_bound"))
  }

  /** shared bit-equality gauge for the lossless-recoding containers
    * (progressive / successive approximation): their decoded features
    * must equal the BASELINE SEQUENTIAL container's decode exactly,
    * per doc (`baseline` defaults to the grayscale fixture; the color
    * variants pass their own sequential twin). */
  private def bitEqualGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      flag: String,
      baseline: org.apache.spark.sql.expressions.UserDefinedFunction = toJpeg)
      : DataFrame = {
    val d = Tables.docs(s, dir)
    val seqDec = MultimodalOps.decodeWith(
      d.withColumn("payload", baseline(col("text"))),
      col("payload"), col("doc_id"), ImageCodec.kernel(8, 8)).toDF()
      .select(col("doc_id"), col("features").as("f_seq"))
    val otherDec = MultimodalOps.decodeWith(
      d.withColumn("payload", payload(col("text"))),
      col("payload"), col("doc_id"), ImageCodec.kernel(8, 8)).toDF()
    otherDec.join(seqDec, "doc_id")
      .select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("features") === col("f_seq")).as(flag))
  }

  /** the oracle-side pixel map (identical to RealFeatSql's
    * projection, at pixel granularity over j = 0..63). */
  private val SrcPxSql =
    """pa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |px AS (SELECT doc_id,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext, ((j % length(ptext)) + 1)::INT, 1)))
      |      AS pv
      |  FROM pa)""".stripMargin

  private val Err422Bound = 150.0

  private val Err411Bound = 176.0

  private val G711Bound = 512.0   // closed form: max over segments of 2^(seg+2)

  private val AdpcmBound = 24576.0 // measured corpus max 22773 (adversarial slew)

  private val to422Jpeg = udf((text: String) =>
    JpegCodec.color422Jpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  private val to411Jpeg = udf((text: String) =>
    JpegCodec.color411Jpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  private def fixtureSignal(text: String): Array[Short] = {
    val src = MultimodalOps.asciiBytes(text)
    Array.tabulate(256) { i =>
      (((src((i * 7 + 3) % src.length) & 0xff) - 76) * 256).toShort
    }
  }

  private val toUlawWav = udf((text: String) =>
    AudioCodec.encodeWavUlaw(16000, fixtureSignal(text)))

  private val toAlawWav = udf((text: String) =>
    AudioCodec.encodeWavAlaw(16000, fixtureSignal(text)))

  private val toAdpcmWav = udf((text: String) =>
    AudioCodec.encodeWavAdpcm(16000, fixtureSignal(text)))

  private val toProgColorJpeg = udf((text: String) =>
    JpegCodec.progColorJpeg(8, 8, MultimodalOps.asciiBytes(text),
      quality = 90))

  /** per-sample tolerance gauge for a lossy WAV container: decode at
    * frame-per-sample granularity, recompute the source envelope from
    * the text, assert max ||decoded| − |source|| ≤ bound in-row
    * (||a|−|b|| ≤ |a−b|, so the companding/slew bound transfers). */
  private def wavGauge(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.expressions.UserDefinedFunction,
      bound: Double, withAnchor: Boolean): DataFrame = {
    val d = Tables.docs(s, dir).withColumn("payload", payload(col("text")))
    val dec = AudioCodec.decodeWith(d, col("payload"), col("doc_id"),
      frames = 256).toDF()
    val base = dec.join(Tables.docs(s, dir), "doc_id")
      .withColumn("ptext", regexp_replace(col("text"), "[^ -~]", "?"))
      .withColumn("src_abs", expr(
        "transform(sequence(0, 255), i -> abs((ascii(substr(ptext, " +
          "((i * 7 + 3) % length(ptext)) + 1, 1)) - 76) * 256))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(features, src_abs, (f, p) -> abs(f - p)), " +
          "0D, (acc, x) -> greatest(acc, x))"))
    val gauged = base.select(col("doc_id"), col("byte_len"),
      col("sample_rate").cast("long").as("sample_rate"), col("n_samples"),
      (col("max_err") <= bound).as("within_bound"),
      // the ADPCM block header stores sample 0 VERBATIM — its decoded
      // magnitude must equal the source's exactly (the lossless anchor
      // inside the lossy container)
      (element_at(col("features"), 1) ===
        element_at(col("src_abs"), 1).cast("double")).as("anchor_exact"))
    if (withAnchor) gauged else gauged.drop("anchor_exact")
  }

  /** Downmixed stereo envelope from the text: L_i = (a1−76)·256 with
    * a1 = ascii(text[(7i+3) mod len]), R_i = (a2−76)·256 with a2 at
    * (11i+5) — downmix (L+R)>>1 = (a1+a2−152)·128 exactly (the sum is
    * even, so the arithmetic shift is exact division). */
  private val FlacStereoFeatSql =
    """fsa AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |fss AS (SELECT doc_id, text, unnest(generate_series(0, 255)) AS i
      |  FROM fsa),
      |fsv AS (
      |  SELECT doc_id, (i // 16) AS j,
      |    abs((ascii(substr(text,
      |        (((i * 7 + 3) % length(text)) + 1)::INT, 1))
      |      + ascii(substr(text,
      |        (((i * 11 + 5) % length(text)) + 1)::INT, 1))
      |      - 152) * 128) AS av
      |  FROM fss),
      |fsf AS (
      |  SELECT doc_id, j::BIGINT AS j,
      |    round(sum(av)::DOUBLE / count(*), 6) AS feat
      |  FROM fsv GROUP BY 1, 2)""".stripMargin

  /** kernel(4,4) block means of the 24×24 raster recomputed from the
    * text: pixel v(x,y) = ascii(text[(y·24+x) mod len]); 6×6 cells →
    * 16 exact 36-pixel means (same IEEE division both sides). */
  private val Tiff24FeatSql =
    """t24a AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS text FROM documents),
      |t24y AS (SELECT doc_id, text, unnest(generate_series(0, 23)) AS y
      |  FROM t24a),
      |t24xy AS (SELECT doc_id, text, y,
      |    unnest(generate_series(0, 23)) AS x
      |  FROM t24y),
      |t24v AS (
      |  SELECT doc_id, (y // 6) AS gy, (x // 6) AS gx,
      |    ascii(substr(text, (((y * 24 + x) % length(text)) + 1)::INT, 1))
      |      AS v
      |  FROM t24xy),
      |t24f AS (
      |  SELECT doc_id, (gy * 4 + gx)::BIGINT AS j,
      |    round(sum(v)::DOUBLE / count(*), 6) AS feat
      |  FROM t24v GROUP BY 1, 2)""".stripMargin

  /** Per-(doc, frame) luma strings + md5 bucket keys for the standard
    * 3-frame/C420 Y4M fixture (frame f walks the text at offset 29f) —
    * the `mm_y4m_frame_dedup` derivation, shared by the incremental
    * pipeline.  Output: (doc_id, frame, luma, __k). */
  private[queries] def y4mFrameHashes(d: DataFrame): DataFrame = {
    val frameHashes = udf((id: Long, text: String) => {
      val src = MultimodalOps.asciiBytes(text)
      VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8,
        (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }, chroma = "420"))
        .map(r => r.lumaSum3.mkString(","))
    })
    d.select(col("doc_id"),
        posexplode(frameHashes(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("frame"),
        col("col").as("luma"), md5(col("col")).as("__k"))
  }

  /** Per-(doc, frame) per-pixel features for the scene fixture: 6
    * frames in 2 scenes of 3 — scene s's base walks the text at offset
    * 64s, and frame f nudges pixel (f mod 3) by +1, so within-scene
    * consecutive L1 distance is exactly 2 and the scene boundary is a
    * full re-walk.  Decoded through the REAL Y4M path. */
  private def sceneFrames(s: SparkSession, dir: String): DataFrame = {
    val feats = udf((id: Long, text: String) => {
      val src = MultimodalOps.asciiBytes(text)
      val frames: Seq[(Int, Int) => Int] = (0 until 6).map { f =>
        (x: Int, y: Int) => {
          val j = y * 8 + x
          val base = src((j + 64 * (f / 3)) % src.length) & 0xff
          if (j == f % 3) base + 1 else base
        }
      }
      VideoCodec.decodeY4mFrames(
        VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
        .map(r => ImageCodec.rasterFeatures(r, 8, 8).toSeq)
    })
    Tables.docs(s, dir)
      .select(col("doc_id"), posexplode(feats(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("frame"),
        col("col").as("features"))
  }

  /** Per-pixel 64-bit aHash per (doc, frame) — [[RealAHash64Sql]]
    * extended with the frame offset 29f and the planted
    * frame-2 one-pixel nudge. */
  private val FrameAHashSql =
    """ndp AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |ndf AS (SELECT doc_id, ptext,
      |    unnest(generate_series(0, 2)) AS frame FROM ndp),
      |ndv AS (SELECT doc_id, frame,
      |    list_transform(generate_series(0, 63), j ->
      |      CASE WHEN frame = 2 AND j = 0
      |        THEN (ascii(substr(ptext,
      |          ((j % length(ptext)) + 1)::INT, 1)) + 1) % 256
      |        ELSE ascii(substr(ptext,
      |          (((j + 29 * (CASE WHEN frame = 2 THEN 0 ELSE frame END))
      |            % length(ptext)) + 1)::INT, 1)) END) AS pv
      |  FROM ndf),
      |ndm AS (SELECT doc_id, frame, pv,
      |    list_reduce(pv, (a, b) -> a + b) / 64.0 AS mean FROM ndv),
      |nda AS (SELECT doc_id, frame,
      |    list_reduce(list_transform(generate_series(0, 63),
      |      j -> CASE WHEN pv[j + 1] <= mean THEN 0::BIGINT
      |           WHEN j = 63 THEN (-9223372036854775808)::BIGINT
      |           ELSE 1::BIGINT << j END),
      |      (x, y) -> x | y) AS ahash
      |  FROM ndm)""".stripMargin

  /** The scene fixture + cut derivation in SQL: per-frame pixel lists,
    * lag-window L1 distance (−1 for each doc's first frame), cut flag,
    * running scene id — the exact mirror of
    * [[MultimodalOps.sceneCuts]] at threshold 64. */
  private val SceneCutSql =
    """sca AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '?', 'g')
      |    AS ptext FROM documents),
      |scf AS (SELECT doc_id, ptext,
      |    unnest(generate_series(0, 5)) AS frame FROM sca),
      |scv AS (SELECT doc_id, frame,
      |    list_transform(generate_series(0, 63), j ->
      |      ascii(substr(ptext,
      |        (((j + 64 * (frame // 3)) % length(ptext)) + 1)::INT, 1))
      |      + CASE WHEN j = frame % 3 THEN 1 ELSE 0 END) AS pv
      |  FROM scf),
      |scd AS (SELECT doc_id, frame, pv,
      |    lag(pv) OVER (PARTITION BY doc_id ORDER BY frame) AS prev
      |  FROM scv),
      |sce AS (SELECT doc_id, frame,
      |    CASE WHEN prev IS NULL THEN -1.0
      |      ELSE list_reduce(list_transform(generate_series(1, 64),
      |        i -> abs(pv[i] - prev[i])), (a, b) -> a + b)::DOUBLE
      |      END AS dist
      |  FROM scd),
      |scc AS (SELECT doc_id, frame, dist,
      |    (dist < 0 OR dist > 64.0) AS is_cut FROM sce),
      |scs AS (SELECT doc_id, frame, dist, is_cut,
      |    (sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY frame) - 1)::BIGINT
      |      AS scene
      |  FROM scc)""".stripMargin

  val entries: Seq[(String, Q)] = Seq(
    // Multimodal: binary payload metadata (byte length + header sniff)
    "mm_metadata" -> Q((s, dir) =>
      MultimodalOps.metadata(
        MultimodalOps.withPayload(docs(s, dir), col("text")),
        col("payload"), col("doc_id")),
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |       hex(encode(substr(text, 1, 8))) AS header_hex
        |FROM documents""".stripMargin),

    // Multimodal: frame sampling by byte windows
    "mm_frames" -> Q((s, dir) =>
      MultimodalOps.frameSample(docs(s, dir), col("text"), col("doc_id"),
        n = 4, width = 32),
      """WITH fr AS (SELECT unnest(generate_series(0, 3)) AS frame)
        |SELECT doc_id, frame,
        |       md5(substr(text, frame * 32 + 1, 32)) AS frame_hash
        |FROM documents CROSS JOIN fr""".stripMargin),

    // Multimodal: stub decoder full surface (dims + fixed-width features)
    "mm_decode" -> Q((s, dir) => {
      MultimodalOps.stubDecode(
          MultimodalOps.withPayload(docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 4)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("pos").cast("long").as("j"), col("col").as("feat"))
    },
      """WITH j AS (SELECT unnest(generate_series(0, 3)) AS j),
        |d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h
        |  FROM documents
        |)
        |SELECT doc_id, byte_len,
        |  CAST(64 + (('0x' || substr(h, 1, 2))::INT & 63) AS BIGINT) AS width,
        |  CAST(64 + (('0x' || substr(h, 3, 2))::INT & 63) AS BIGINT) AS height,
        |  j.j AS j,
        |  ('0x' || substr(h, j.j * 2 + 1, 2))::INT / 255.0 AS feat
        |FROM d CROSS JOIN j""".stripMargin),

    // Multimodal: stub resize — decoded feature grid re-sampled (nearest)
    // to 2 entries with new nominal dims
    "mm_resize" -> Q((s, dir) => {
      MultimodalOps.stubResize(
          MultimodalOps.stubDecode(
            MultimodalOps.withPayload(docs(s, dir), col("text")),
            col("payload"), col("doc_id"), dim = 4).toDF(),
          w = 32, h = 32, dim2 = 2)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), col("col").as("feat"))
    },
      """WITH j AS (SELECT unnest(generate_series(0, 1)) AS j),
        |d AS (SELECT doc_id, md5(text) AS h FROM documents)
        |SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
        |       j.j AS j,
        |       ('0x' || substr(h, (j.j * 2) * 2 + 1, 2))::INT / 255.0 AS feat
        |FROM d CROSS JOIN j""".stripMargin),

    // Media near-dup pairs by identical aHash over the stub-decoded
    // 16-cell feature grid
    "mm_ahash_pairs" -> Q((s, dir) =>
      MultimodalOps.aHashPairs(
        MultimodalOps.stubDecode(
          MultimodalOps.withPayload(Tables.docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 16).toDF(),
        col("doc_id")),
      s"""WITH $AHashSql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.ahash
         |FROM a x JOIN a y ON x.ahash = y.ahash AND x.doc_id < y.doc_id""".stripMargin),

    // Media near-dups within Hamming distance 3 of a 16-bit aHash:
    // 4x4-bit band blocking (exact recall at <=3 by pigeonhole) +
    // popcount(xor) confirm — the tolerant tier above mm_ahash_pairs.
    // DELIBERATELY 16-bit: the md5-fake stub kernel only yields 16
    // bytes of features, and this row exists to pin the banding
    // mechanics over the synthetic seam.  The PRODUCTION shape — what
    // Tables.nearDupPairs lands and every real-codec mm_*_ahash_banded
    // query registers — is the 64-bit hash with 16-bit band keys
    // (quadratic-candidate-proof; see MultimodalOps.aHashBandedPairs)
    "mm_ahash_banded" -> Q((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        MultimodalOps.stubDecode(
          MultimodalOps.withPayload(Tables.docs(s, dir), col("text")),
          col("payload"), col("doc_id"), dim = 16).toDF(),
        col("doc_id"), bits = 16, bands = 4, maxHamming = 3),
      // banding at 4 bands is lossless for Hamming <= 3, so the ground truth
      // is the direct all-pairs Hamming filter over the same aHash
      s"""WITH ${AHashSql}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin),

    // Frame-level multimodal near-dup: documents sharing >= 2 identical
    // sampled frames — exact-equality join on the frame hash, per-doc
    // distinct frames first so repeated in-doc content cannot inflate the
    // share count; empty-window frames excluded
    "mm_frame_dedup" -> Q((s, dir) => {
      val fr = MultimodalOps.frameSample(Tables.docs(s, dir), col("text"),
          col("doc_id"), n = 8, width = 32)
        .where(col("frame_hash") =!= md5(lit("")))
        .select("doc_id", "frame_hash").distinct()
      fr.as("a")
        .join(fr.as("b"),
          col("a.frame_hash") === col("b.frame_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_frames"))
        .where(col("shared_frames") >= 2)
    },
      """WITH fr AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, i * 32 + 1, 32)) AS frame_hash
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i)
        |  WHERE length(substr(text, i * 32 + 1, 32)) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*)::BIGINT AS shared_frames
        |FROM fr a JOIN fr b
        |  ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin),

    // The REAL codec behind the multimodal seam.  Each document
    // is deterministically rendered as an 8×8 gray raster (pixel (x,y) =
    // text byte at (y·8+x) mod len — computable independently by the SQL
    // oracle), encoded to actual BMP or binary-PPM bytes (format alternating
    // by doc parity so ONE query exercises both decoders), then decoded by
    // [[ImageCodec.kernel]] — real header parsing, bottom-up BGR rows, row
    // padding, pixel reads — into 4×4 block-mean features that feed the
    // SAME downstream aHash/near-dup/resize stages the stub tier proved.
    // The oracle never sees the image bytes: it recomputes the block means
    // straight from the text, so a decoder misreading any pixel fails the
    // hash compare.

    "mm_real_decode" -> Q((s, dir) =>
      realDecoded(s, dir)
        .select(col("doc_id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat")),
      // byte_len is the container size: BMP = 54-byte headers + 24-byte
      // padded rows × 8; PPM = 11-byte "P6\n8 8\n255\n" header + 192
      s"""WITH $RealFeatSql
         |SELECT doc_id,
         |  (CASE WHEN doc_id % 2 = 1 THEN 203 ELSE 246 END)::BIGINT
         |    AS byte_len,
         |  8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // real-pixel near-dups: identical banded blocking as mm_ahash_banded,
    // features from actual decoded rasters — read from the SHARED landed
    // layout (Tables.nearDupPairs) rather than re-deriving: the pair
    // graph is derived once per (JVM, dir) and every consumer (this
    // query, graph_kcore) scans the bucketed table
    "mm_real_ahash_banded" -> Q((s, dir) =>
      Tables.nearDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("hamming")),
      s"""WITH $RealAHash64Sql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin),

    // real-pixel resize: the nearest-map pooling over decoded features
    "mm_real_resize" -> Q((s, dir) =>
      MultimodalOps.stubResize(realDecoded(s, dir), w = 4, h = 4, dim2 = 4)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat")),
      // nearest map at dim 16 → 4: source index floor(j·16/4) = 4j
      s"""WITH $RealFeatSql
         |SELECT doc_id, 4::BIGINT AS width, 4::BIGINT AS height,
         |  (j // 4) AS j, feat
         |FROM rf WHERE j % 4 = 0""".stripMargin),

    // The REAL audio codec — each document deterministically
    // rendered as a PCM WAV (sample i = (text byte at (7i+3) mod len − 76)
    // · 256, computable independently by the SQL oracle), encoded to real
    // RIFF bytes, decoded by [[AudioCodec]] (chunk walk, fmt validation,
    // 16-bit little-endian sample reads) into 16 frame-energy features that
    // feed the SAME near-dup stage as the image tier.  The oracle never
    // sees the WAV bytes: it recomputes the envelope from the text, so a
    // decoder misreading any sample fails the hash compare.

    "mm_wav_decode" -> Q((s, dir) =>
      wavDecoded(s, dir)
        .select(col("doc_id"), col("byte_len"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("sample_rate"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat")),
      // byte_len = 44-byte canonical header + 2·256 sample bytes
      s"""WITH $WavFeatSql
         |SELECT doc_id, 556::BIGINT AS byte_len,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM wf""".stripMargin),

    // audio near-dups: aHash over the energy envelope, the identical
    // banded blocking as the image tier (one downstream, two codecs) —
    // 64 frames → 64-bit hash, 16-bit band keys (the scale-safe shape)
    "mm_wav_ahash_banded" -> Q((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        wavHeadDecoded64(s, dir), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3),
      s"""WITH $WavAHash64Sql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin),

    // PNG — the first COMPRESSED container behind the multimodal
    // seam.  Same deterministic text→8×8 gray raster as the BMP/PPM tier
    // (`mm_real_decode`), but encoded to real PNG bytes: zlib-DEFLATE IDAT,
    // CRC-verified chunk walk, and per-row filters — color type alternates
    // gray/truecolor by doc parity and the row filter cycles through all
    // five kinds (None/Sub/Up/Average/Paeth) by doc_id mod 5, so ONE
    // oracle-gated corpus sweep exercises every decode path.  The oracle
    // recomputes block means straight from the text: any inflate, unfilter,
    // or chunk-walk slip fails the hash compare.

    // full decode: block-mean features from real inflate+unfilter output
    // (byte_len omitted — DEFLATE output size is content-dependent)
    "mm_png_decode" -> Q((s, dir) =>
      pngDecoded(s, dir)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat")),
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // real-PNG near-dups: identical banded blocking as the BMP/PPM tier —
    // 64-bit per-pixel hash, 16-bit band keys (the scale-safe shape)
    "mm_png_ahash_banded" -> Q((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        pngDecodedAt(s, dir, grid = 8), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3),
      s"""WITH ${RealAHash64Sql}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin),

    // GIF87a behind the multimodal seam — the tier's THIRD
    // compression family (LZW dictionary coding, after DEFLATE and the
    // uncompressed containers).  Same deterministic text→8×8 gray raster
    // as the BMP/PPM/PNG tiers, rendered through real LZW with dictionary
    // hits (the synthetic docs repeat tokens, so back-references fire),
    // variable code widths, and sub-block reassembly.  Lossless, so the
    // oracle replays features hash-exactly from the text.

    // full decode through real LZW (byte_len omitted — compressed size
    // is content-dependent)
    "mm_gif_decode" -> Q((s, dir) =>
      gifDecoded(s, dir)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat")),
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // real-GIF near-dups: identical banded blocking as the other codecs —
    // 64-bit per-pixel hash, 16-bit band keys (the scale-safe shape)
    "mm_gif_ahash_banded" -> Q((s, dir) =>
      MultimodalOps.aHashBandedPairs(
        gifDecoded64(s, dir), col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3),
      s"""WITH ${RealAHash64Sql}
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM a x JOIN a y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin),

    // The LOSSY codec tier — baseline sequential JPEG behind the
    // unchanged [[MultimodalOps.DecodeKernel]] seam.  Post-DCT features are
    // inexact by design, so the hash-exact text-replay oracle pattern of the
    // five lossless codecs must weaken here — to the two gauges the verdict
    // prescribed (the sketch_hll_merge invariant discipline):
    //
    //  - `mm_jpeg_decode`: per-document TOLERANCE gauge — decode the real
    //    JPEG bytes through the kernel at per-pixel granularity and assert
    //    in-row that max |decoded − source| ≤ 32 (empirical corpus max at
    //    quality 90 is 20 across sf0.001/0.01/0.1; the closed-form
    //    quantization ceiling is ~89, see [[JpegCodec.pixelErrorBound]]).
    //    The oracle replays the invariant (`true AS within_bound`), so ONE
    //    out-of-tolerance pixel anywhere in the corpus flips a row and the
    //    hash compare fails.
    //
    //  - `mm_jpeg_ahash_banded`: EXACT-DUP SURVIVAL gauge — identical
    //    rendered rasters produce identical JPEG bytes, hence identical
    //    decoded features, hence hamming-0 aHash pairs that banded blocking
    //    MUST find.  The query emits the banded pipeline's pairs restricted
    //    to raster-equal documents; the oracle computes the raster-equal
    //    pairs straight from the text, so a pair the lossy pipeline misses
    //    is a missing row (red), and any hamming ≠ 0 mismatches the oracle's
    //    constant.

    "mm_jpeg_decode" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
        .withColumn("payload", toJpeg(col("text")))
      // kernel(8, 8) over an 8×8 raster = per-PIXEL values (each grid
      // cell is one pixel; lumaSum3/3 is exactly the gray level)
      val dec = MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(8, 8)).toDF()
      withSourcePixels(dec.join(Tables.docs(s, dir), "doc_id"))
        .withColumn("max_err", expr(
          "aggregate(zip_with(features, src_px, (f, p) -> abs(f - p)), " +
            "0D, (acc, x) -> greatest(acc, x))"))
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          (col("max_err") <= ErrBound).as("within_bound"))
    },
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // COLOR baseline JPEG (YCbCr 4:4:4): three phase-shifted channel
    // reads of the same text bytes (offsets 0/13/29 — all oracle-
    // recomputable), encoded through the chroma quant/Huffman tables and
    // the BT.601 forward transform, decoded back through the inverse;
    // the kernel's per-pixel feature is (r+g+b)/3, so 3·feature gauges
    // the channel-sum reconstruction
    "mm_jpeg_color_decode" -> Q((s, dir) =>
      colorSumGauge(s, dir, toColorJpeg, ColorErrBound),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // the same gauge through the 4:2:0 container — chroma planes box-
    // downsampled 2× on encode, nearest-upsampled on decode (the
    // default shape of real-world encoders; MCU = 4 Y + Cb + Cr)
    "mm_jpeg420_decode" -> Q((s, dir) =>
      colorSumGauge(s, dir, to420Jpeg, Err420Bound),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // PROGRESSIVE (SOF2, spectral selection + EOBRUN): the entropy
    // coding is lossless over the SAME quantized coefficients as the
    // sequential container, so the decode must equal the sequential
    // decode BIT-EXACTLY — asserted in-row per document (the strongest
    // oracle a multi-scan container admits)
    "mm_jpeg_prog_decode" -> Q((s, dir) =>
      bitEqualGauge(s, dir, toProgJpeg, "prog_equals_seq"),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS prog_equals_seq
        |FROM documents""".stripMargin),

    // SUCCESSIVE APPROXIMATION (Ah/Al bit-plane scans — how real
    // progressive encoders actually write): DC bit planes + AC
    // newly-significant/correction-bit scans from Al=2 down to 0; the
    // fully-refined coefficients are the sequential ones, so the same
    // bit-equality invariant holds
    "mm_jpeg_sa_decode" -> Q((s, dir) =>
      bitEqualGauge(s, dir, toSaJpeg, "sa_equals_seq"),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS sa_equals_seq
        |FROM documents""".stripMargin),

    "mm_jpeg_ahash_banded" -> Q((s, dir) => {
      val d = Tables.docs(s, dir)
        .withColumn("payload", toJpeg(col("text")))
      val dec = MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(8, 8)).toDF()
      val jpegPairs = MultimodalOps.aHashBandedPairs(dec, col("doc_id"),
        bits = 64, bands = 4, maxHamming = 3)
      // raster-equal pairs, keyed by the raster's content hash (the
      // dd_exact single-shuffle shape — never an all-pairs join); the
      // pv equality re-check makes the md5 key collision-proof
      val px = withSourcePixels(Tables.docs(s, dir))
        .select(col("doc_id"), col("src_px"),
          md5(col("src_px").cast("string")).as("__k"))
      val equalPairs = px.as("a")
        .join(px.as("b"),
          col("a.__k") === col("b.__k") &&
            col("a.src_px") === col("b.src_px") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      jpegPairs.join(equalPairs, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
      s"""WITH $SrcPxSql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  0::BIGINT AS hamming
         |FROM px x JOIN px y
         |  ON x.doc_id < y.doc_id AND x.pv = y.pv""".stripMargin),

    // The lossy tier widens along both axes.
    //
    // IMAGE — the remaining real-world JPEG sampling geometries, formerly
    // rejected by name: 4:2:2 (horizontal-only chroma halving — the
    // broadcast/DV interchange shape) and 4:1:1 (horizontal quartering —
    // legacy NTSC-DV).  Same [[colorSumGauge]] tolerance
    // discipline: per-pixel channel-sum error bounded in-row, oracle
    // replays the invariant.  Measured corpus maxima at quality 90 across
    // sf0.001/0.01/0.1: 4:2:2 → 112, 4:1:1 → 130 (bounds 150 / 176 with
    // the 4:2:0 tier's headroom ratio).
    //
    // AUDIO — the first LOSSY audio codecs behind the [[AudioCodec]] seam
    // (the JPEG discipline applied to sound): G.711 μ-law and A-law
    // companding (ITU-T G.711 segment tables; reconstruction error has the
    // CLOSED-FORM bound 2^(seg+2) ≤ 512 — measured corpus maxima 132 and
    // 256) and IMA/DVI ADPCM (4-bit adaptive; the text fixture's
    // pseudo-random ±12800 jumps are ADVERSARIAL for a slew-limited
    // codec, so the honest gauge is the measured global max — 22773 across
    // all SFs, bound 24576 — PLUS the codec's exact anchor: each block
    // header stores its first sample verbatim, so feature[0] must match
    // the source bit-exactly).  The per-sample granularity trick is the
    // image tier's kernel(8,8) move: frame count = sample count makes the
    // frame-energy kernel emit |sample| per frame, so the gauge compares
    // every reconstructed sample against the oracle-recomputable source
    // envelope |(src[(i·7+3) mod len] − 76) · 256|.

    // 4:2:2 — horizontal-only chroma halving (the broadcast shape);
    // MCU = 2 Y blocks + Cb + Cr over a 16×8 tile
    "mm_jpeg422_decode" -> Q((s, dir) =>
      colorSumGauge(s, dir, to422Jpeg, Err422Bound),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // 4:1:1 — horizontal chroma quartering (legacy NTSC-DV);
    // MCU = 4 Y blocks + Cb + Cr over a 32×8 tile
    "mm_jpeg411_decode" -> Q((s, dir) =>
      colorSumGauge(s, dir, to411Jpeg, Err411Bound),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // G.711 μ-law (WAV format tag 7): 8-bit companded telephony audio;
    // closed-form midpoint-reconstruction bound 512
    "mm_wav_ulaw" -> Q((s, dir) =>
      wavGauge(s, dir, toUlawWav, G711Bound, withAnchor = false),
      // byte_len = 44-byte canonical header + 256 companded bytes
      """SELECT doc_id, 300::BIGINT AS byte_len,
        |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // G.711 A-law (tag 6): the European companding variant, same bound
    "mm_wav_alaw" -> Q((s, dir) =>
      wavGauge(s, dir, toAlawWav, G711Bound, withAnchor = false),
      """SELECT doc_id, 300::BIGINT AS byte_len,
        |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // IMA/DVI ADPCM (tag 0x11): 4-bit adaptive differential coding;
    // measured adversarial-slew bound + the verbatim block-start anchor
    "mm_wav_adpcm" -> Q((s, dir) =>
      wavGauge(s, dir, toAdpcmWav, AdpcmBound, withAnchor = true),
      // byte_len = 60-byte header (RIFF + 20-byte fmt + fact) + one
      // 256-byte block; the anchor column asserts the verbatim sample
      """SELECT doc_id, 316::BIGINT AS byte_len,
        |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
        |  true AS within_bound, true AS anchor_exact
        |FROM documents""".stripMargin),

    // PROGRESSIVE COLOR (SOF2, 3-component 4:4:4): interleaved DC scan
    // (the only scan kind spec §G.1.1 lets interleave) + per-component
    // AC band scans; same quantized coefficients as the sequential
    // 4:4:4 container ⇒ decode asserted BIT-EQUAL per document
    "mm_jpeg_prog_color_decode" -> Q((s, dir) =>
      bitEqualGauge(s, dir, toProgColorJpeg,
        "prog_color_equals_seq", baseline = toColorJpeg),
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  true AS prog_color_equals_seq
        |FROM documents""".stripMargin),

    // PCM WAV breadth (the real-world container shapes): stereo 16-bit
    // (identical channels ⇒ the (L+R)>>1 downmix reproduces the mono
    // envelope exactly), legacy UNSIGNED 8-bit ((b−128)<<8 expansion),
    // and 24-bit (top-16 truncation) — the fixture samples are
    // multiples of 256, so every conversion is EXACT and the oracle
    // replays the envelope hash-exactly; byte_len pins each container's
    // exact size by doc
    "mm_wav_formats" -> Q((s, dir) => {
      val toWav = udf((id: Long, text: String) => {
        val sig = fixtureSignal(text)
        (id % 3) match {
          case 0 => AudioCodec.encodeWavStereo(16000, sig, sig)
          case 1 => AudioCodec.encodeWav8(16000, sig)
          case _ => AudioCodec.encodeWav24(16000,
            sig.map(s => s.toInt << 8))
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toWav(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("sample_rate"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    },
      // stereo: 44 + 4·256; 8-bit: 44 + 256; 24-bit: 44 + 3·256
      s"""WITH ${WavFeatSql}
         |SELECT doc_id,
         |  (CASE doc_id % 3 WHEN 0 THEN 1068 WHEN 1 THEN 300
         |   ELSE 812 END)::BIGINT AS byte_len,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM wf""".stripMargin),

    // FLAC: the LOSSLESS compressed audio container —
    // decode(encode(x)) == x bit-for-bit (MD5-anchored in STREAMINFO,
    // CRC-8/CRC-16 per frame), so the oracle replays the envelope
    // HASH-EXACTLY from the text, through real Rice-coded residuals;
    // predictors cycle by doc parity — FIXED (order 0-4) on even ids,
    // LPC order 8 (Levinson-Durbin + QLP, the real-world subframe
    // kind) on odd — blockSize 64 ⇒ 4 frames/doc; byte_len omitted —
    // compressed size is content-dependent
    "mm_flac_decode" -> Q((s, dir) => {
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacFromBytes(16000, 256, MultimodalOps.asciiBytes(text),
          lpcOrder = if (id % 2 == 1) 8 else 0))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toFlac(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      s"""WITH ${WavFeatSql}
         |SELECT doc_id, 16000::BIGINT AS sample_rate,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin),

    // JPEG QUALITY sweep (r17): quality 50/70/90 by doc — the per-doc
    // max pixel error must stay within the CLOSED-FORM quantization
    // ceiling [[JpegCodec.pixelErrorBound]](q) at every quality, tying
    // the quality knob to the codec's error model (the bound is
    // derived, not fitted: Σ C(u)C(v)·quant/8 + rounding)
    "mm_jpeg_quality_gauge" -> Q((s, dir) => {
      val gauge = udf((id: Long, text: String) => {
        val q = (id % 3) match { case 0 => 50; case 1 => 70; case _ => 90 }
        val src = MultimodalOps.asciiBytes(text)
        val r = JpegCodec.decode(JpegCodec.grayJpeg(8, 8, src, q))
        val maxErr = (0 until 64).map(j => math.abs(r.lumaSum3(j) / 3 -
          (src(j % src.length) & 0xff))).max
        maxErr <= JpegCodec.pixelErrorBound(q)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          (col("doc_id") % 3).cast("long").as("q_class"),
          gauge(col("doc_id"), col("text")).as("within_bound"))
    },
      """SELECT doc_id, (doc_id % 3)::BIGINT AS q_class,
        |  true AS within_bound
        |FROM documents""".stripMargin),

    // Netpbm family breadth (r17): binary PGM (P5), ASCII PGM (P2),
    // ASCII PPM (P3) cycling by doc — trivially lossless, hash-exact
    "mm_pnm_formats" -> Q((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val g = (x: Int, y: Int) => src((y * 8 + x) % src.length) & 0xff
        (id % 3) match {
          case 0 => ImageCodec.encodePgm(8, 8, g)
          case 1 => ImageCodec.encodePnmAscii(8, 8,
            (x, y) => (g(x, y), g(x, y), g(x, y)), gray = true)
          case _ => ImageCodec.encodePnmAscii(8, 8,
            (x, y) => (g(x, y), g(x, y), g(x, y)), gray = false)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // BMP real-world shapes (r17): 8-bit palette (bottom-up),
    // TOP-DOWN (negative height), and BI_RLE8 compression (encoded
    // runs + absolute mode + EOL/EOB) cycling by doc — lossless ⇒ the
    // same hash-exact replay as the 24-bit sweep
    "mm_bmp_shapes" -> Q((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val g = (x: Int, y: Int) => src((y * 8 + x) % src.length) & 0xff
        (id % 3) match {
          case 0 => ImageCodec.encodeBmp8(8, 8, g)
          case 1 => ImageCodec.encodeBmp8(8, 8, g, topDown = true)
          case _ => ImageCodec.encodeBmp8(8, 8, g, rle = true)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // INTERLACED GIF (four-pass row order) with per-image LOCAL color
    // tables by doc parity — the local-table docs carry an INVERTED
    // global table, so a decoder ignoring the override produces wrong
    // pixels, not silently right ones; lossless ⇒ hash-exact replay
    "mm_gif_interlaced" -> Q((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        ImageCodec.encodeGif(8, 8,
          (x, y) => src((y * 8 + x) % src.length) & 0xff,
          interlace = true, localTable = id % 2 == 0)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // TIFF 6.0 (the scanner/scientific interchange container): one
    // corpus sweep cycles compression (none / LZW / PackBits) by
    // doc_id mod 3 — LZW docs alternate the horizontal-differencing
    // predictor — byte order by parity (II and MM both occur in the
    // wild), and strip layout by doc_id mod 4; lossless, so the oracle
    // is the same hash-exact text replay as the PNG tier
    "mm_tiff_decode" -> Q((s, dir) => {
      val toImg = udf((id: Long, text: String) => {
        val comp = (id % 3) match {
          case 0 => 1; case 1 => 5; case _ => 32773
        }
        TiffCodec.grayTiff(8, 8, MultimodalOps.asciiBytes(text),
          compression = comp,
          predictor = if (comp == 5 && id % 2 == 0) 2 else 1,
          bigEndian = id % 2 == 1,
          rowsPerStrip = if (id % 4 == 3) 3 else 0)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // ADAM7-INTERLACED PNG (the progressive-download container shape):
    // lossless, so the oracle is the mm_png_decode HASH-EXACT text
    // replay — color type and row filter cycle by doc as in the
    // sequential PNG sweep, now through the 7-pass scatter path
    "mm_png_interlaced" -> Q((s, dir) => {
      val toImg = udf((id: Long, text: String) =>
        ImageCodec.grayPng(8, 8, MultimodalOps.asciiBytes(text),
          colorType = if (id % 2 == 0) 2 else 0,
          filter = (id % 5).toInt, interlace = true))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toImg(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    // The real-world codec shapes the r17 verdict ranked next.
    //
    //  - `mm_flac_stereo`: STEREO FLAC through all four spec channel
    //    assignments (independent L/R + the L/S, R/S, M/S decorrelation
    //    modes, cycling by doc_id % 5 with the cost-based auto mode fifth)
    //    and both subframe families (FIXED even ids, LPC-8 odd).  L is the
    //    WAV fixture map (7i+3), R a second walk (11i+5) over the same
    //    projected bytes; the decode dispatch downmixes (L+R)>>1 — the
    //    AudioCodec stereo-WAV convention — so the oracle replays the
    //    envelope HASH-EXACTLY from the text: both channel maps are
    //    integer-exact, the downmix of two even multiples of 256 is exact,
    //    and a decoder slipping any bit of any mode's side-channel
    //    reconstruction fails MD5 first and the hash compare second.
    //
    //  - `mm_tiff_tiled`: the §15 TILED layout + palette TIFF over a
    //    24×24 raster (so every container has real multi-tile grids with
    //    ragged 8-pixel edges: 24 = 16 + 8).  Cycling by doc_id % 5 —
    //    16×16 LE uncompressed, 16×16 BE LZW, 16×16 LE LZW+predictor-2,
    //    32×16 BE PackBits, and 16×16 LE through the identity-gray
    //    ColorMap (photometric 3).  Lossless, so the oracle replays
    //    kernel(4,4) block means straight from the text — any tile
    //    mis-stride, edge-padding slip, or palette misread fails the
    //    hash compare.
    //
    //  - `mm_png_shapes`: the two most common real-world PNG shapes the
    //    r17 tier still rejected — PALETTE (color type 3 + PLTE) and
    //    16-BIT depth (gray and truecolor; samples big-endian with a
    //    deterministic non-equal low byte, so the high-byte projection
    //    is proven) — cycling by doc_id % 5 with Adam7 combinations; the
    //    row filter still cycles by doc_id % 5 underneath.  Same
    //    hash-exact text-replay oracle as the 8-bit tier.
    //
    //  - `mm_pbm_bitmaps`: 1-BIT Netpbm (P4 bit-packed / P1 ASCII, the
    //    last rejected family members) with the spec polarity 1 = black;
    //    bit(x,y) = text pixel parity, so the oracle replays the 0/255
    //    raster exactly.
    //
    //  - `mm_tiff_planar`: PlanarConfiguration 2 — plane-major RGB strip
    //    sequences with predictor distance 1 inside a plane (the
    //    scientific-TIFF layout), cycling compression / byte order /
    //    predictor / RowsPerStrip; the COLOR block-mean oracle replays
    //    (r+g+b) sums from the text.
    //
    //  - `mm_gif_animated`: GIF89a animation (NETSCAPE2.0 loop extension,
    //    GCE-per-frame, multiple image descriptors) — every frame decoded
    //    independently and feature-pooled; frame f's raster walks the
    //    text at offset 29f, so the oracle replays every frame
    //    hash-exactly.  Partial-frame compositing is rejected by name.
    //
    //  - `mm_flac_wasted`: the spec's WASTED-BITS subframe form — the
    //    fixture's ×256 samples carry 8 common trailing zero bits, so the
    //    encoder codes every subframe at 8/9 bits and the stream shrinks
    //    by roughly half; decode shifts back, so the SAME hash-exact
    //    envelope oracle as mm_flac_decode gates it.
    //
    //  - `mm_wav_extensible`: WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) — how
    //    modern writers wrap PCM (40-byte fmt, validBits, channel mask,
    //    KSDATAFORMAT GUID); mono on even ids, stereo (the second 11i+5
    //    channel walk, (L+R)>>1 downmix) on odd.
    //
    //  - `mm_pnm_16bit`: 16-bit Netpbm (maxval 65535) — binary P5/P6
    //    big-endian pairs with a deliberately different low byte and
    //    ASCII P2/P3 at v·256+37, so the high-byte projection is proven;
    //    cycling by doc_id % 4 against the standard text-replay oracle.
    //
    //  - `mm_bmp_highcolor`: the remaining real-world BMP shapes — 16-bit
    //    HighColor (BI_RGB X1R5G5B5 and BI_BITFIELDS R5G6B5, decoded via
    //    the standard bit-replication expansion, so the quantize→expand
    //    round trip is SQL-replayable in closed form) and 4-bit palette
    //    (uncompressed nibbles + BI_RLE4 alternating-nibble runs, i·17
    //    grayscale table) — cycling by doc_id % 4, hash-exact.
    //
    //  - `mm_y4m_frames` / `mm_y4m_frame_dedup`: the tier's first VIDEO
    //    container — Y4M (YUV4MPEG2, the ffmpeg raw-video interchange
    //    format): ASCII stream/frame headers + raw planes.  Frame f's
    //    luma walks the text at offset 29f (the animated-GIF map), the
    //    chroma tag cycles mono/420/422/444 by doc_id % 4 (chroma planes
    //    are walked at tag-exact sizes — a size slip desynchronizes the
    //    next FRAME marker), and features pool the luma.  The dedup query is
    //    the video production shape: frame-level exact dedup ACROSS the
    //    corpus — md5-bucketed (the dd_exact single-shuffle discipline),
    //    luma-equality confirmed, (doc, frame) pairs ordered
    //    lexicographically; the oracle recomputes frame equality straight
    //    from the text.
    //
    //  - `mm_au_aiff`: the two BIG-ENDIAN audio containers — Sun AU
    //    (".snd", encoding 3) on even ids and AIFF (FORM/COMM with the
    //    80-bit extended sample rate + SSND) on odd — same fixture
    //    signal, same hash-exact envelope oracle; byte_len pins each
    //    container's exact header overhead (AU 24+512, AIFF 54+520).
    //    Both decoders are ALSO conformance-anchored against stdlib
    //    sunau/aifc bytes in R18ConformanceSpec.

    "mm_flac_stereo" -> Q((s, dir) => {
      val modes = Array("lr", "ls", "rs", "ms", "auto")
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacStereoFromBytes(16000, 256,
          MultimodalOps.asciiBytes(text),
          mode = modes((id % 5).toInt),
          lpcOrder = if (id % 2 == 1) 8 else 0))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toFlac(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          (col("doc_id") % 5).cast("long").as("mode_class"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("mode_class"), col("sample_rate"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    },
      s"""WITH $FlacStereoFeatSql
         |SELECT doc_id, (doc_id % 5)::BIGINT AS mode_class,
         |  16000::BIGINT AS sample_rate, 256::BIGINT AS n_samples,
         |  j, feat
         |FROM fsf""".stripMargin),

    "mm_tiff_tiled" -> Q((s, dir) => {
      val toTiff = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        (id % 5) match {
          case 0 => TiffCodec.grayTiff(24, 24, src, compression = 1,
            tileW = 16, tileH = 16)
          case 1 => TiffCodec.grayTiff(24, 24, src, compression = 5,
            bigEndian = true, tileW = 16, tileH = 16)
          case 2 => TiffCodec.grayTiff(24, 24, src, compression = 5,
            predictor = 2, tileW = 16, tileH = 16)
          case 3 => TiffCodec.grayTiff(24, 24, src, compression = 32773,
            bigEndian = true, tileW = 32, tileH = 16)
          case _ => TiffCodec.grayTiff(24, 24, src, compression = 1,
            tileW = 16, tileH = 16, asPalette = true)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toTiff(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 5).cast("long").as("container_class"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("container_class"), col("width"),
          col("height"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    },
      s"""WITH $Tiff24FeatSql
         |SELECT doc_id, (doc_id % 5)::BIGINT AS container_class,
         |  24::BIGINT AS width, 24::BIGINT AS height, j, feat
         |FROM t24f""".stripMargin),

    "mm_png_shapes" -> Q((s, dir) => {
      val toPng = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val f = (id % 5).toInt
        (id % 5) match {
          case 0 => ImageCodec.grayPng(8, 8, src, colorType = 3,
            filter = f)
          case 1 => ImageCodec.grayPng(8, 8, src, colorType = 0,
            filter = f, depth = 16)
          case 2 => ImageCodec.grayPng(8, 8, src, colorType = 2,
            filter = f, depth = 16)
          case 3 => ImageCodec.grayPng(8, 8, src, colorType = 3,
            filter = f, interlace = true)
          case _ => ImageCodec.grayPng(8, 8, src, colorType = 0,
            filter = f, interlace = true, depth = 16)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toPng(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 5).cast("long").as("shape_class"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          posexplode(col("features")))
        .select(col("doc_id"), col("shape_class"), col("width"),
          col("height"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    },
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, (doc_id % 5)::BIGINT AS shape_class,
         |  8::BIGINT AS width, 8::BIGINT AS height, j, feat
         |FROM rf""".stripMargin),

    "mm_pbm_bitmaps" -> Q((s, dir) => {
      val toPbm = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        ImageCodec.encodePbm(8, 8,
          (x, y) => (src((y * 8 + x) % src.length) & 1) == 1,
          ascii = id % 2 == 1)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toPbm(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 2).cast("long").as("ascii_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("ascii_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // bitmap polarity: text-pixel parity 1 = black = gray 0, else 255
      """WITH pba AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |pby AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
        |  FROM pba),
        |pbxy AS (SELECT doc_id, text, y,
        |    unnest(generate_series(0, 7)) AS x FROM pby),
        |pbv AS (
        |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
        |    CASE WHEN ascii(substr(text,
        |        (((y * 8 + x) % length(text)) + 1)::INT, 1)) % 2 = 1
        |      THEN 0 ELSE 255 END AS g
        |  FROM pbxy)
        |SELECT doc_id, (doc_id % 2)::BIGINT AS ascii_class,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(g)::DOUBLE / count(*), 6) AS feat
        |FROM pbv GROUP BY 1, 2, gy, gx""".stripMargin),

    "mm_tiff_planar" -> Q((s, dir) => {
      val toTiff = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val rgb = (x: Int, y: Int) => {
          val v = src((y * 8 + x) % src.length) & 0xff
          (v, (v * 3) % 256, (v * 7) % 256)
        }
        (id % 4) match {
          case 0 => TiffCodec.encode(8, 8, rgb, planar = 2)
          case 1 => TiffCodec.encode(8, 8, rgb, planar = 2,
            compression = 5, bigEndian = true)
          case 2 => TiffCodec.encode(8, 8, rgb, planar = 2,
            compression = 5, predictor = 2)
          case _ => TiffCodec.encode(8, 8, rgb, planar = 2,
            compression = 32773, bigEndian = true, rowsPerStrip = 3)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toTiff(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 4).cast("long").as("container_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("container_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // color block means: the kernel's Σ(r+g+b)/(3·cnt) replayed
      """WITH tpa AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |tpy AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
        |  FROM tpa),
        |tpxy AS (SELECT doc_id, text, y,
        |    unnest(generate_series(0, 7)) AS x FROM tpy),
        |tpv AS (
        |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x) % length(text)) + 1)::INT, 1)) AS v
        |  FROM tpxy),
        |tps AS (
        |  SELECT doc_id, gy, gx,
        |    (v + (v * 3) % 256 + (v * 7) % 256) AS s
        |  FROM tpv)
        |SELECT doc_id, (doc_id % 4)::BIGINT AS container_class,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(s)::DOUBLE / (3.0 * count(*)), 6) AS feat
        |FROM tps GROUP BY 1, 2, gy, gx""".stripMargin),

    "mm_gif_animated" -> Q((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val enc = ImageCodec.encodeGifAnimated(8, 8, frames, delayCs = 4)
        ImageCodec.decodeGifFrames(enc)
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(decodeFrames(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("col")))
        .select(col("doc_id"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // frame f's raster walks the text at offset 29f
      """WITH gaa AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |gaf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM gaa),
        |gay AS (SELECT doc_id, text, frame,
        |    unnest(generate_series(0, 7)) AS y FROM gaf),
        |gaxy AS (SELECT doc_id, text, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM gay),
        |gav AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x + 29 * frame) % length(text)) + 1)::INT, 1))
        |      AS v
        |  FROM gaxy)
        |SELECT doc_id, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM gav GROUP BY 1, 2, gy, gx""".stripMargin),

    "mm_flac_wasted" -> Q((s, dir) => {
      val toFlac = udf((id: Long, text: String) =>
        FlacCodec.flacFromBytes(16000, 256, MultimodalOps.asciiBytes(text),
          lpcOrder = if (id % 2 == 1) 8 else 0, detectWasted = true))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toFlac(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // wasted-bits coding is lossless: identical envelope oracle to
      // mm_flac_decode
      s"""WITH ${WavFeatSql}
         |SELECT doc_id, 16000::BIGINT AS sample_rate,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin),

    "mm_wav_extensible" -> Q((s, dir) => {
      val toWav = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def ch(mult: Int, add: Int) = Array.tabulate[Short](256) { i =>
          ((src((i * mult + add) % src.length) & 0xff) - 76).toShort
        }.map(v => (v * 256).toShort)
        if (id % 2 == 0) AudioCodec.encodeWavExtensible(16000, 1, ch(7, 3))
        else {
          val l = ch(7, 3); val r = ch(11, 5)
          val inter = new Array[Short](512)
          var i = 0
          while (i < 256) {
            inter(2 * i) = l(i); inter(2 * i + 1) = r(i); i += 1
          }
          AudioCodec.encodeWavExtensible(16000, 2, inter)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toWav(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"),
          (col("doc_id") % 2).cast("long").as("stereo_class"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("stereo_class"), col("n_samples"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // mono envelope on even ids; stereo (L+R)>>1 downmix envelope on
      // odd — both CTE families compose (disjoint names)
      s"""WITH ${WavFeatSql},
         |$FlacStereoFeatSql
         |SELECT doc_id, 0::BIGINT AS stereo_class,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, 1::BIGINT AS stereo_class,
         |  256::BIGINT AS n_samples, j, feat
         |FROM fsf WHERE doc_id % 2 = 1""".stripMargin),

    "mm_pnm_16bit" -> Q((s, dir) => {
      val toPnm = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val gray = (x: Int, y: Int) => {
          val v = src((y * 8 + x) % src.length) & 0xff
          (v, v, v)
        }
        ImageCodec.encodePnm16(8, 8, gray,
          gray = id % 4 == 0 || id % 4 == 2,
          ascii = id % 4 >= 2)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toPnm(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 4).cast("long").as("fmt_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("fmt_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // 16-bit Netpbm is lossless on the fixture (high byte = v): the
      // standard text-replay block means, classed by container
      s"""WITH ${RealFeatSql}
         |SELECT doc_id, (doc_id % 4)::BIGINT AS fmt_class, j, feat
         |FROM rf""".stripMargin),

    "mm_bmp_highcolor" -> Q((s, dir) => {
      val toBmp = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def v(x: Int, y: Int) = src((y * 8 + x) % src.length) & 0xff
        val gray = (x: Int, y: Int) => { val p = v(x, y); (p, p, p) }
        (id % 4) match {
          case 0 => ImageCodec.encodeBmp16(8, 8, gray)
          case 1 => ImageCodec.encodeBmp16(8, 8, gray, use565 = true)
          case 2 => ImageCodec.encodeBmp4(8, 8, (x, y) => v(x, y) >> 4)
          case _ => ImageCodec.encodeBmp4(8, 8, (x, y) => v(x, y) >> 4,
            rle = true)
        }
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toBmp(col("doc_id"), col("text")))
      MultimodalOps.decodeWith(d, col("payload"), col("doc_id"),
        ImageCodec.kernel(4, 4)).toDF()
        .select(col("doc_id"),
          (col("doc_id") % 4).cast("long").as("shape_class"),
          posexplode(col("features")))
        .select(col("doc_id"), col("shape_class"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // HighColor quantize→bit-replicate in closed form: e5(q)=8q+q//4,
      // e6(q)=4q+q//16; 4-bit palette gray = 17·(v//16)
      """WITH hca AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |hcy AS (SELECT doc_id, text, unnest(generate_series(0, 7)) AS y
        |  FROM hca),
        |hcxy AS (SELECT doc_id, text, y,
        |    unnest(generate_series(0, 7)) AS x FROM hcy),
        |hcv AS (
        |  SELECT doc_id, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x) % length(text)) + 1)::INT, 1)) AS v
        |  FROM hcxy),
        |hcs AS (
        |  SELECT doc_id, gy, gx,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 3 * ((v // 8) * 8 + (v // 8) // 4)
        |      WHEN 1 THEN 2 * ((v // 8) * 8 + (v // 8) // 4)
        |             + ((v // 4) * 4 + (v // 4) // 16)
        |      ELSE 3 * ((v // 16) * 17)
        |    END AS s
        |  FROM hcv)
        |SELECT doc_id, (doc_id % 4)::BIGINT AS shape_class,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(s)::DOUBLE / (3.0 * count(*)), 6) AS feat
        |FROM hcs GROUP BY 1, 2, gy, gx""".stripMargin),

    "mm_y4m_frames" -> Q((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val chroma = (id % 4) match {
          case 0 => "mono"; case 1 => "420"; case 2 => "422"; case _ => "444"
        }
        VideoCodec.decodeY4mFrames(
          VideoCodec.encodeY4m(8, 8, frames, chroma = chroma))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), (col("doc_id") % 4).as("chroma_class"),
          posexplode(decodeFrames(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("chroma_class").cast("long"),
          col("frame").cast("long").as("frame"), posexplode(col("col")))
        .select(col("doc_id"), col("chroma_class"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // Y4M is raw planes: the same per-frame text replay as the
      // animated GIF, classed by chroma tag
      """WITH y4a AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |y4f AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM y4a),
        |y4y AS (SELECT doc_id, text, frame,
        |    unnest(generate_series(0, 7)) AS y FROM y4f),
        |y4xy AS (SELECT doc_id, text, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM y4y),
        |y4v AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x + 29 * frame) % length(text)) + 1)::INT, 1))
        |      AS v
        |  FROM y4xy)
        |SELECT doc_id, (doc_id % 4)::BIGINT AS chroma_class,
        |  frame::BIGINT AS frame, (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM y4v GROUP BY 1, 2, 3, gy, gx""".stripMargin),

    "mm_y4m_frame_dedup" -> Q((s, dir) => {
      val frameHashes = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8,
          (0 until 3).map { f =>
            (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
          }, chroma = "420"))
          .map(r => r.lumaSum3.mkString(","))
      })
      val frames = Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(frameHashes(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          col("col").as("luma"), md5(col("col")).as("__k"))
        .persist()
      graft.core.CacheScope.register(frames)
      frames.as("a").join(frames.as("b"),
          col("a.__k") === col("b.__k") && col("a.luma") === col("b.luma") &&
            (col("a.doc_id") < col("b.doc_id") ||
              (col("a.doc_id") === col("b.doc_id") &&
                col("a.frame") < col("b.frame"))))
        .select(col("a.doc_id").as("doc_a"), col("a.frame").as("frame_a"),
          col("b.doc_id").as("doc_b"), col("b.frame").as("frame_b"))
    },
      // frame-level exact dedup: (doc, frame) pairs whose 64-pixel luma
      // agrees, ordered lexicographically
      """WITH fda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |fdf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM fda),
        |fdv AS (
        |  SELECT doc_id, frame,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM fdf)
        |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
        |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b
        |FROM fdv x JOIN fdv y
        |  ON x.v = y.v AND (x.doc_id < y.doc_id OR
        |    (x.doc_id = y.doc_id AND x.frame < y.frame))""".stripMargin),

    "mm_au_aiff" -> Q((s, dir) => {
      val toAudio = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val samples = Array.tabulate[Short](256) { i =>
          (((src((i * 7 + 3) % src.length) & 0xff) - 76) * 256).toShort
        }
        if (id % 2 == 0) AudioCodec.encodeAu(16000, samples)
        else AudioCodec.encodeAiff(16000, samples)
      })
      val d = Tables.docs(s, dir)
        .withColumn("payload", toAudio(col("doc_id"), col("text")))
      AudioCodec.decodeWith(d, col("payload"), col("doc_id"), frames = 16)
        .toDF()
        .select(col("doc_id"), col("byte_len"),
          (col("doc_id") % 2).cast("long").as("container_class"),
          col("n_samples"), posexplode(col("features")))
        .select(col("doc_id"), col("byte_len"), col("container_class"),
          col("n_samples"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("feat"))
    },
      // AU = 24-byte header + 512 sample bytes; AIFF = FORM(12) +
      // COMM(8+18) + SSND(8 + 8 prelude + 512)
      s"""WITH ${WavFeatSql}
         |SELECT doc_id,
         |  (CASE doc_id % 2 WHEN 0 THEN 536 ELSE 566 END)::BIGINT
         |    AS byte_len,
         |  (doc_id % 2)::BIGINT AS container_class,
         |  256::BIGINT AS n_samples, j, feat
         |FROM wf""".stripMargin),

    // The video tier's production semantics — the three shapes
    // the r18 verdict ranked next.
    //
    //  - `mm_y4m_frame_neardup`: PERCEPTUAL frame-level video near-dup —
    //    the 64-bit banded-aHash stage ([[MultimodalOps.aHashBandedPairs]],
    //    the landed image-tier blocking) composed over per-frame Y4M
    //    features.  Each doc's Y4M carries three frames: frames 0/1 walk
    //    the text at offsets 0/29 (the animated-GIF map) and frame 2 is
    //    frame 0 with ONE pixel nudged by +1 — the planted near-identical
    //    (not identical) re-encode shape, so the result set is dominated
    //    by real hamming-≤3 pairs the exact tier (`mm_y4m_frame_dedup`)
    //    cannot see.  (doc, frame) is packed into one 64-bit key
    //    (doc·4+frame, frame < 4), so key order IS lexicographic
    //    (doc, frame) order and the banded join's `a < b` canonicalization
    //    carries over unchanged.  4-band/Hamming-3 blocking is pigeonhole-
    //    EXACT over the hash space, so the oracle is the brute-force
    //    hamming-≤3 join over per-frame aHashes recomputed from the text —
    //    hash-exact, the `mm_real_ahash_banded` discipline at (doc, frame)
    //    granularity.
    //
    //  - `mm_gif_disposal`: partial-frame animated GIF with DISPOSAL
    //    COMPOSITING (GIF89a §23) — how real animated GIFs are authored
    //    (only the changed rectangle is stored per frame).  Four frames
    //    per doc: a full-screen base (disposal 1 = leave), a centered 4×4
    //    patch with disposal 2 (restore rect to the background color), a
    //    bottom-left patch with disposal 3 (restore to previous), and a
    //    top-right patch over the post-disposal canvas — so all three
    //    disposal methods are exercised and every later frame's canvas
    //    depends on the earlier disposals being applied exactly.  The
    //    container is lossless end-to-end, so the oracle replays each
    //    composited canvas in closed form from the text (CASE over the
    //    rectangle geometry), hash-exact.
    //
    //  - `mm_gif_transparency`: the GCE transparent-color flag — the other
    //    half of real animated-GIF authoring (unchanged pixels INSIDE the
    //    stored rectangle are holes).  Composited at palette-INDEX
    //    granularity (the index→palette map is not injective, so a
    //    sum-level composite could not tell a hole from an opaque pixel
    //    sharing the color); the hole index 31 sits below the
    //    printable-ASCII floor, so text bytes never collide with it.
    //    Full-screen and partial transparent frames both exercised; same
    //    closed-form hash-exact replay.
    //
    //  - `mm_avi_frames` / `mm_avi_mjpeg`: the SECOND video container
    //    family — AVI (RIFF; the same chunk grammar as the WAV tier with
    //    LIST nesting).  DIB frames are lossless bottom-up padded BGR
    //    rows, so features + the container's exact byte length replay in
    //    closed form; MJPG frames are per-frame baseline JPEGs chained
    //    through [[graft.ops.JpegCodec]], oracled by in-row bit-equality
    //    to the direct JPEG decode (the strongest check a lossy container
    //    admits — any AVI-path slip in chunk walking, alignment, or frame
    //    extraction breaks the equality).
    //
    //  - `pipe_video_dedup`: the 100 TB video-ingestion loop — documents
    //    arrive as lake commits; each [[LayoutOps.lakeTail]] catch-up
    //    decodes ONLY the delta's Y4M frames, joins the delta's frame
    //    hashes against the persisted frame-hash index (old corpus never
    //    re-decoded), appends the delta's hashes to the index, and appends
    //    the new pairs.  Every unordered pair is found exactly when its
    //    LATER shard arrives (cross pairs index×delta, in-delta pairs
    //    delta×delta), so the union of the staged pair sets must equal
    //    the full-corpus frame-dedup oracle — the `pipe_lake_dedup`
    //    incremental-index pattern applied to the video tier, checked
    //    hash-exactly against the same all-pairs SQL as
    //    `mm_y4m_frame_dedup`.

    "mm_y4m_scene_cuts" -> Q((s, dir) =>
      MultimodalOps.sceneCuts(sceneFrames(s, dir), col("doc_id"),
          col("frame"), col("features"), threshold = 64.0)
        .select(col("doc_id"), col("frame"), round(col("dist"), 6)
          .as("dist"), col("is_cut"), col("scene")),
      s"""WITH $SceneCutSql
         |SELECT doc_id, frame::BIGINT AS frame, round(dist, 6) AS dist,
         |  is_cut, scene
         |FROM scs""".stripMargin),

    // keyframe sampling = the first frame of every scene: the frames a
    // vision pipeline keeps (one representative per scene)
    "mm_y4m_keyframes" -> Q((s, dir) =>
      MultimodalOps.sceneCuts(sceneFrames(s, dir), col("doc_id"),
          col("frame"), col("features"), threshold = 64.0)
        .where(col("is_cut"))
        .select(col("doc_id"), col("frame"), col("scene")),
      s"""WITH $SceneCutSql
         |SELECT doc_id, frame::BIGINT AS frame, scene
         |FROM scs WHERE is_cut""".stripMargin),

    "mm_y4m_frame_neardup" -> Q((s, dir) => {
      val frameFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def base(f: Int)(x: Int, y: Int): Int =
          src((y * 8 + x + 29 * f) % src.length) & 0xff
        val frames: Seq[(Int, Int) => Int] = Seq(
          base(0) _, base(1) _,
          // the planted near-identical frame: frame 0 re-encoded with a
          // one-pixel brightness nudge (printable bytes ≤ 126, so +1
          // never wraps)
          (x: Int, y: Int) =>
            if (x == 0 && y == 0) (base(0)(x, y) + 1) % 256
            else base(0)(x, y))
        VideoCodec.decodeY4mFrames(
          VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
          .map(r => ImageCodec.rasterFeatures(r, 8, 8).toSeq)
      })
      // (doc, frame) packed into one key: doc·4 + frame (frame < 4), so
      // the banded join's key ordering is lexicographic (doc, frame)
      val perFrame = Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(frameFeats(col("doc_id"), col("text"))))
        .select((col("doc_id") * 4 + col("pos")).as("key"),
          col("col").as("features"))
      MultimodalOps.aHashBandedPairs(perFrame, col("key"),
          bits = 64, bands = 4, maxHamming = 3)
        .select(
          shiftrightunsigned(col("doc_a"), 2).as("doc_a"),
          col("doc_a").bitwiseAND(lit(3L)).as("frame_a"),
          shiftrightunsigned(col("doc_b"), 2).as("doc_b"),
          col("doc_b").bitwiseAND(lit(3L)).as("frame_b"),
          col("hamming"))
    },
      // brute-force hamming-≤3 over per-frame aHashes: 4-band blocking is
      // pigeonhole-exact at maxHamming 3, so banded == brute force
      s"""WITH $FrameAHashSql
         |SELECT x.doc_id AS doc_a, x.frame::BIGINT AS frame_a,
         |  y.doc_id AS doc_b, y.frame::BIGINT AS frame_b,
         |  bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
         |FROM nda x JOIN nda y
         |  ON (x.doc_id < y.doc_id OR
         |    (x.doc_id = y.doc_id AND x.frame < y.frame))
         |WHERE bit_count(xor(x.ahash, y.ahash)) <= 3""".stripMargin),

    "mm_gif_disposal" -> Q((s, dir) => {
      val compFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def at(i: Int): Int = src(i % src.length) & 0xff
        val frames = Seq(
          ImageCodec.GifFrame(0, 0, 8, 8, 1, (x, y) => at(y * 8 + x)),
          ImageCodec.GifFrame(2, 2, 4, 4, 2,
            (u, v) => at(v * 4 + u + 64)),
          ImageCodec.GifFrame(0, 4, 4, 4, 3,
            (u, v) => at(v * 4 + u + 96)),
          ImageCodec.GifFrame(4, 0, 4, 4, 1,
            (u, v) => at(v * 4 + u + 128)))
        ImageCodec.decodeGifComposited(
          ImageCodec.encodeGifAnimatedComposite(8, 8, frames))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(compFeats(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("col")))
        .select(col("doc_id"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // each composited canvas in closed form: frame 0 = the full base;
      // frame 1 overlays the (2,2) patch; frames 2/3 composite over the
      // disposal-2-cleared rect (0 = background) because frame 1's
      // disposal ran and frame 2's disposal-3 restore un-drew frame 2
      """WITH gda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS ptext
        |  FROM documents),
        |gdf AS (SELECT doc_id, ptext,
        |    unnest(generate_series(0, 3)) AS frame FROM gda),
        |gdy AS (SELECT doc_id, ptext, frame,
        |    unnest(generate_series(0, 7)) AS y FROM gdf),
        |gdxy AS (SELECT doc_id, ptext, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM gdy),
        |gdv AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    CASE
        |      WHEN frame = 0 THEN ascii(substr(ptext,
        |        (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |      WHEN frame = 1 THEN
        |        CASE WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5
        |          THEN ascii(substr(ptext,
        |            (((64 + (y - 2) * 4 + (x - 2)) % length(ptext))
        |              + 1)::INT, 1))
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1)) END
        |      WHEN frame = 2 THEN
        |        CASE WHEN x <= 3 AND y >= 4
        |          THEN ascii(substr(ptext,
        |            (((96 + (y - 4) * 4 + x) % length(ptext))
        |              + 1)::INT, 1))
        |          WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5 THEN 0
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1)) END
        |      ELSE
        |        CASE WHEN x >= 4 AND y <= 3
        |          THEN ascii(substr(ptext,
        |            (((128 + y * 4 + (x - 4)) % length(ptext))
        |              + 1)::INT, 1))
        |          WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5 THEN 0
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1)) END
        |    END AS v
        |  FROM gdxy)
        |SELECT doc_id, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM gdv GROUP BY 1, 2, gy, gx""".stripMargin),

    // cross-container conformance: the SAME frames through both video
    // containers (Y4M raw planes vs AVI DIB rows) must decode
    // BIT-EQUAL per frame — any slip in either container's geometry
    // (row order, padding, plane sizes) breaks the in-row equality
    "mm_video_containers" -> Q((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val y4m = VideoCodec.decodeY4mFrames(
          VideoCodec.encodeY4m(8, 8, frames, chroma = "420"))
        val avi = VideoCodec.decodeAviFrames(
          VideoCodec.encodeAvi(8, 8, frames))
        frames.indices.map(f =>
          java.util.Arrays.equals(y4m(f).lumaSum3, avi(f).lumaSum3))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(biteq(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          lit(8L).as("width"), lit(8L).as("height"),
          col("col").as("y4m_equals_avi"))
    },
      // in-row cross-container equality (the mm_au_aiff discipline
      // applied to video)
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, frame::BIGINT AS frame, 8::BIGINT AS width,
        |  8::BIGINT AS height, true AS y4m_equals_avi
        |FROM f""".stripMargin),

    // the SAME temporal operator across modalities: audio segmentation
    // over the 16-frame energy envelope (speech-corpus segment
    // splitting) — sceneCuts is generic over (doc, idx, features)
    "mm_wav_segments" -> Q((s, dir) => {
      val toWav = udf((text: String) =>
        graft.ops.AudioCodec.wavFromBytes(16000, 256,
          MultimodalOps.asciiBytes(text)))
      val d = Tables.docs(s, dir)
        .withColumn("payload", toWav(col("text")))
      val env = graft.ops.AudioCodec.decodeWith(d, col("payload"),
          col("doc_id"), frames = 16).toDF()
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          array(col("col")).as("features"))
      MultimodalOps.sceneCuts(env, col("doc_id"), col("frame"),
          col("features"), threshold = 2000.0)
        .select(col("doc_id"), col("frame"),
          round(col("dist"), 6).as("dist"), col("is_cut"),
          col("scene").as("segment"))
    },
      // the WavFeatSql envelope (exact /16 means) through the same lag
      // window as the video scene cuts
      s"""WITH ${WavFeatSql},
         |wsd AS (SELECT doc_id, j AS frame, feat,
         |    lag(feat) OVER (PARTITION BY doc_id ORDER BY j) AS prev
         |  FROM wf),
         |wse AS (SELECT doc_id, frame,
         |    CASE WHEN prev IS NULL THEN -1.0
         |      ELSE abs(feat - prev) END AS dist
         |  FROM wsd),
         |wsc AS (SELECT doc_id, frame, dist,
         |    (dist < 0 OR dist > 2000.0) AS is_cut FROM wse)
         |SELECT doc_id, frame::BIGINT AS frame, round(dist, 6) AS dist,
         |  is_cut,
         |  (sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY frame) - 1)::BIGINT
         |    AS segment
         |FROM wsc""".stripMargin),

    // clip-level video near-dup over the standard 3-frame fixture: doc
    // pairs sharing ≥1 distinct frame, with the shared count and the
    // Jaccard over distinct-frame sets — the trimmed-copy shape
    "mm_video_clip_dedup" -> Q((s, dir) =>
      MultimodalOps.clipOverlapPairs(
        y4mFrameHashes(Tables.docs(s, dir).select(col("doc_id"),
          col("text"))),
        col("doc_id"), col("luma")),
      // distinct frame sets per doc, intersection via the equality join,
      // Jaccard against the per-doc distinct counts
      """WITH cda AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |cdf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM cda),
        |cdv AS (
        |  SELECT DISTINCT doc_id,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM cdf),
        |csz AS (SELECT doc_id, count(*) AS n FROM cdv GROUP BY 1),
        |cpx AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    count(*) AS shared
        |  FROM cdv x JOIN cdv y ON x.v = y.v AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared::BIGINT AS shared,
        |  round(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM cpx
        |JOIN csz sa ON sa.doc_id = doc_a
        |JOIN csz sb ON sb.doc_id = doc_b""".stripMargin),

    "mm_avi_frames" -> Q((s, dir) => {
      val decodeFrames = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val payload = VideoCodec.encodeAvi(8, 8, frames)
        (payload.length,
          VideoCodec.decodeAviFrames(payload)
            .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          decodeFrames(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("byte_len"),
          posexplode(col("d._2")))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("byte_len"),
          col("frame").cast("long").as("frame"), posexplode(col("col")))
        .select(col("doc_id"), col("byte_len"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // AVI DIB is lossless: the per-frame text replay of the animated
      // tiers, plus the container's exact byte length (RIFF 12 +
      // LIST hdrl 200 + LIST movi 612 = 824 — asserted in R19AviSpec)
      """WITH ava AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |avf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM ava),
        |avy AS (SELECT doc_id, text, frame,
        |    unnest(generate_series(0, 7)) AS y FROM avf),
        |avxy AS (SELECT doc_id, text, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM avy),
        |avv AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    ascii(substr(text,
        |      (((y * 8 + x + 29 * frame) % length(text)) + 1)::INT, 1))
        |      AS v
        |  FROM avxy)
        |SELECT doc_id, 824::BIGINT AS byte_len, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM avv GROUP BY 1, 2, 3, gy, gx""".stripMargin),

    "mm_avi_mjpeg" -> Q((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val dec = VideoCodec.decodeAviFrames(
          VideoCodec.encodeAvi(8, 8, frames, codec = "MJPG"))
        frames.indices.map { f =>
          val direct = graft.ops.JpegCodec.decode(
            graft.ops.JpegCodec.encode(8, 8, frames(f)))
          java.util.Arrays.equals(dec(f).lumaSum3, direct.lumaSum3)
        }
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), posexplode(biteq(col("doc_id"), col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame"),
          lit(8L).as("width"), lit(8L).as("height"),
          col("col").as("avi_equals_jpeg"))
    },
      // MJPG entropy coding is per-frame JPEG: the strongest oracle a
      // lossy container admits is in-row bit-equality to the direct
      // decode (the mm_jpeg_prog_decode pattern)
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, frame::BIGINT AS frame, 8::BIGINT AS width,
        |  8::BIGINT AS height, true AS avi_equals_jpeg
        |FROM f""".stripMargin),

    "mm_gif_transparency" -> Q((s, dir) => {
      val compFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        def at(i: Int): Int = src(i % src.length) & 0xff
        // T=31 is below the printable-ASCII floor (32), so an opaque
        // text byte can never collide with the hole index
        val T = 31
        val frames = Seq(
          ImageCodec.GifFrame(0, 0, 8, 8, 1, (x, y) => at(y * 8 + x)),
          ImageCodec.GifFrame(0, 0, 8, 8, 1,
            (x, y) => if ((x + y) % 3 == 0) T else at(y * 8 + x + 64),
            transparent = Some(T)),
          ImageCodec.GifFrame(2, 2, 4, 4, 1,
            (u, v) => if ((u + v) % 2 == 0) T else at(v * 4 + u + 128),
            transparent = Some(T)))
        ImageCodec.decodeGifComposited(
          ImageCodec.encodeGifAnimatedComposite(8, 8, frames))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(compFeats(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "frame")
        .select(col("doc_id"), col("frame").cast("long").as("frame"),
          posexplode(col("col")))
        .select(col("doc_id"), col("frame"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // the holes replay in closed form: frame 1's lattice shows the
      // base through, frame 2's patch composites over frame 1 with its
      // own hole parity ((u+v)%2 == (x+y)%2 under the (2,2) offset)
      """WITH gta AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS ptext
        |  FROM documents),
        |gtf AS (SELECT doc_id, ptext,
        |    unnest(generate_series(0, 2)) AS frame FROM gta),
        |gty AS (SELECT doc_id, ptext, frame,
        |    unnest(generate_series(0, 7)) AS y FROM gtf),
        |gtxy AS (SELECT doc_id, ptext, frame, y,
        |    unnest(generate_series(0, 7)) AS x FROM gty),
        |gtv AS (
        |  SELECT doc_id, frame, (y // 2) AS gy, (x // 2) AS gx,
        |    CASE
        |      WHEN frame = 0 THEN ascii(substr(ptext,
        |        (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |      WHEN frame = 1 THEN
        |        CASE WHEN (x + y) % 3 = 0 THEN ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x + 64) % length(ptext)) + 1)::INT, 1))
        |          END
        |      ELSE
        |        CASE WHEN x BETWEEN 2 AND 5 AND y BETWEEN 2 AND 5
        |            AND (x + y) % 2 = 1
        |          THEN ascii(substr(ptext,
        |            (((128 + (y - 2) * 4 + (x - 2)) % length(ptext))
        |              + 1)::INT, 1))
        |          WHEN (x + y) % 3 = 0 THEN ascii(substr(ptext,
        |            (((y * 8 + x) % length(ptext)) + 1)::INT, 1))
        |          ELSE ascii(substr(ptext,
        |            (((y * 8 + x + 64) % length(ptext)) + 1)::INT, 1))
        |          END
        |    END AS v
        |  FROM gtxy)
        |SELECT doc_id, frame::BIGINT AS frame,
        |  (gy * 4 + gx)::BIGINT AS j,
        |  round(sum(v)::DOUBLE / count(*), 6) AS feat
        |FROM gtv GROUP BY 1, 2, gy, gx""".stripMargin),

    // The production video/JPEG seams the r19 verdict ranked
    // next, each oracle-gated.
    //
    //  - `mm_y4m_interlaced`: broadcast-sourced corpora arrive INTERLACED
    //    (It/Ib) — the decoder de-interlaces by FIELD SPLITTING (each
    //    stored picture = two temporally-distinct fields woven line-by-
    //    line; decoding it whole would comb every temporal fingerprint).
    //    Even docs are It (top field first), odd docs Ib, so both field
    //    dominance orders are exercised; the container stays lossless, so
    //    per-FIELD features replay hash-exactly from the text.
    //
    //  - `mm_avi_rec`: AVI files written for interleaved playback (DV
    //    capture) group frames in 'rec ' LISTs and pad with JUNK chunks —
    //    the decode must be BIT-EQUAL to the flat container's, and the
    //    grouped container's byte length has a closed form (884 for
    //    8×8×3 DIB at group 2 + per-frame JUNK) the oracle banks.
    //
    //  - `mm_avi_mjpeg_notables`: the MJPEG-in-AVI TABLE-LESS convention —
    //    capture hardware omits DHT segments from every frame (players
    //    supply the T.81 Annex-K defaults).  Each stripped frame loses
    //    exactly 216 bytes (DC 33 + AC 183) and must decode BIT-EQUAL to
    //    the direct table-carrying JPEG decode; outside the MJPG context
    //    the stripped frame stays fail-loud (R20CodecSpec).
    //
    //  - `mm_jpeg_prog420_decode`: progressive 4:2:0 — the modern web
    //    default (mozjpeg/libjpeg `-progressive`).  Entropy coding is
    //    lossless over the same quantized coefficients as the sequential
    //    4:2:0 container, so decode must equal sequential decode
    //    BIT-EXACTLY; dims cycle exact-MCU / sub-MCU / non-multiple-of-16
    //    shapes so the padded-vs-ceil block-grid seam is exercised.
    //
    //  - `mm_clip_dedup_digest`: the clip-level near-dup tier at its
    //    PRODUCTION key — a 128-bit md5 digest per frame instead of the
    //    full luma string (at 100 TB the join key must be O(16 bytes),
    //    not O(frame)).  Digest equality stands in for luma equality, so
    //    the result must equal the luma-keyed `mm_video_clip_dedup`
    //    oracle row-for-row.

    "mm_y4m_interlaced" -> Q((s, dir) => {
      val fieldFeats = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 2).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        VideoCodec.decodeY4mFrames(VideoCodec.encodeY4m(8, 8, frames,
            chroma = "420", interlace = if (id % 2 == 0) "t" else "b"))
          .map(r => ImageCodec.rasterFeatures(r, 4, 4).toSeq)
      })
      Tables.docs(s, dir)
        .select(col("doc_id"),
          posexplode(fieldFeats(col("doc_id"), col("text"))))
        .withColumnRenamed("pos", "field")
        .select(col("doc_id"), col("field").cast("long").as("field"),
          posexplode(col("col")))
        .select(col("doc_id"), col("field"),
          col("pos").cast("long").as("j"), round(col("col"), 6).as("feat"))
    },
      // per-FIELD features in closed form: field fi of doc d reads stored
      // frame fi/2 at row parity (It: fi%2; Ib: 1−fi%2), and each 4×4
      // grid cell over the 8×4 field raster is the mean of two adjacent
      // pixels in one field row
      """WITH ia AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS ptext
        |  FROM documents),
        |iff AS (SELECT doc_id, ptext,
        |    unnest(generate_series(0, 3)) AS field FROM ia),
        |ifj AS (SELECT doc_id, ptext, field,
        |    unnest(generate_series(0, 15)) AS j FROM iff),
        |ifv AS (SELECT doc_id, field, j,
        |    (field // 2) AS f,
        |    CASE WHEN doc_id % 2 = 0 THEN field % 2
        |      ELSE 1 - (field % 2) END AS par,
        |    (j // 4) AS gy, (j % 4) AS gx, ptext
        |  FROM ifj),
        |ife AS (SELECT doc_id, field, j,
        |    (ascii(substr(ptext, ((((2 * gy + par) * 8 + 2 * gx + 29 * f)
        |        % length(ptext)) + 1)::INT, 1)) +
        |     ascii(substr(ptext, ((((2 * gy + par) * 8 + 2 * gx + 1
        |        + 29 * f) % length(ptext)) + 1)::INT, 1))) / 2.0 AS feat
        |  FROM ifv)
        |SELECT doc_id, field::BIGINT AS field, j::BIGINT AS j,
        |  round(feat, 6) AS feat
        |FROM ife""".stripMargin),

    "mm_avi_rec" -> Q((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val flat = VideoCodec.decodeAviFrames(
          VideoCodec.encodeAvi(8, 8, frames))
        val rec = VideoCodec.encodeAvi(8, 8, frames, recGroup = 2,
          junkPad = true)
        val dec = VideoCodec.decodeAviFrames(rec)
        (rec.length, frames.indices.map(f =>
          java.util.Arrays.equals(dec(f).lumaSum3, flat(f).lumaSum3)))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), biteq(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("byte_len"),
          posexplode(col("d._2")))
        .select(col("doc_id"), col("byte_len"),
          col("pos").cast("long").as("frame"),
          col("col").as("rec_equals_flat"))
    },
      // bit-equality is asserted in-row; the grouped container's length
      // replays in closed form: RIFF(12) + hdrl(8+192) + movi(8+4 +
      // rec(12+2·212) + rec(12+212)) = 884 (frameCost 212 = JUNK 12 +
      // hdr 8 + DIB 192)
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, 884::BIGINT AS byte_len, frame::BIGINT AS frame,
        |  true AS rec_equals_flat
        |FROM f""".stripMargin),

    "mm_avi_mjpeg_notables" -> Q((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        val frames = (0 until 3).map { f =>
          (x: Int, y: Int) => src((y * 8 + x + 29 * f) % src.length) & 0xff
        }
        val full = VideoCodec.encodeAvi(8, 8, frames, codec = "MJPG")
        val stripped = VideoCodec.encodeAvi(8, 8, frames, codec = "MJPG",
          stripTables = true)
        val dec = VideoCodec.decodeAviFrames(stripped)
        ((full.length - stripped.length) / frames.length,
          frames.indices.map { f =>
            val direct = JpegCodec.decode(JpegCodec.encode(8, 8, frames(f)))
            java.util.Arrays.equals(dec(f).lumaSum3, direct.lumaSum3)
          })
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), biteq(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"),
          col("d._1").cast("long").as("dht_bytes_per_frame"),
          posexplode(col("d._2")))
        .select(col("doc_id"), col("dht_bytes_per_frame"),
          col("pos").cast("long").as("frame"),
          col("col").as("notables_equals_direct"))
    },
      // each stripped gray frame loses exactly the Annex-K luma DHT pair:
      // DC (2+2+1+16+12 = 33) + AC (2+2+1+16+162 = 183) = 216 bytes
      """WITH f AS (SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS frame FROM documents)
        |SELECT doc_id, 216::BIGINT AS dht_bytes_per_frame,
        |  frame::BIGINT AS frame, true AS notables_equals_direct
        |FROM f""".stripMargin),

    "mm_jpeg_prog420_decode" -> Q((s, dir) => {
      val biteq = udf((id: Long, text: String) => {
        val src = MultimodalOps.asciiBytes(text)
        // cycle exact-MCU (16×16), sub-MCU (8×8: luma padded grid 2×2
        // vs ceil grid 1×1) and non-multiple-of-16 (24×16) shapes
        val (w, h) = (id % 3) match {
          case 0 => (16, 16); case 1 => (8, 8); case _ => (24, 16)
        }
        val prog = JpegCodec.decode(JpegCodec.prog420Jpeg(w, h, src))
        val seq = JpegCodec.decode(JpegCodec.color420Jpeg(w, h, src))
        (w, h, java.util.Arrays.equals(prog.lumaSum3, seq.lumaSum3))
      })
      Tables.docs(s, dir)
        .select(col("doc_id"), biteq(col("doc_id"), col("text")).as("d"))
        .select(col("doc_id"), col("d._1").cast("long").as("width"),
          col("d._2").cast("long").as("height"),
          col("d._3").as("prog_equals_seq"))
    },
      """SELECT doc_id,
        |  (CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8
        |    ELSE 24 END)::BIGINT AS width,
        |  (CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8
        |    ELSE 16 END)::BIGINT AS height,
        |  true AS prog_equals_seq
        |FROM documents""".stripMargin),

    "mm_clip_dedup_digest" -> Q((s, dir) => {
      // the SAME frame derivation as mm_video_clip_dedup
      // (y4mFrameHashes — one copy of the fixture formula),
      // keyed on the production 128-bit digest __k = md5(luma):
      // O(16 bytes) per frame regardless of frame size
      val fr = y4mFrameHashes(Tables.docs(s, dir))
        .select(col("doc_id"), col("__k"))
      MultimodalOps.clipOverlapPairs(fr, col("doc_id"), col("__k"))
    },
      // digest equality == luma equality (no collisions at corpus scale
      // that matter for the gate), so the oracle is the SAME brute-force
      // luma-set SQL as mm_video_clip_dedup
      """WITH cga AS (SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '?', 'g') AS text
        |  FROM documents),
        |cgf AS (SELECT doc_id, text,
        |    unnest(generate_series(0, 2)) AS frame FROM cga),
        |cgv AS (
        |  SELECT DISTINCT doc_id,
        |    list_transform(generate_series(0, 63), j ->
        |      ascii(substr(text,
        |        (((j + 29 * frame) % length(text)) + 1)::INT, 1))) AS v
        |  FROM cgf),
        |cgz AS (SELECT doc_id, count(*) AS n FROM cgv GROUP BY 1),
        |cgp AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    count(*) AS shared
        |  FROM cgv x JOIN cgv y ON x.v = y.v AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared::BIGINT AS shared,
        |  round(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM cgp
        |JOIN cgz sa ON sa.doc_id = doc_a
        |JOIN cgz sb ON sb.doc_id = doc_b""".stripMargin)
  )
}
