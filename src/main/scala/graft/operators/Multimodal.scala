package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Gated
import graft.sources.Tables._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in batched
  * executor-side code.
  *
  * The Spark-side plumbing is real — binary payload column, typed
  * Dataset of media rows, `mapPartitions` with explicit batch shape (the
  * Scala analogue of `mapInPandas` batches), flat typed output — while
  * the codec itself is a clearly-marked DETERMINISTIC STUB
  * ([[Multimodal.decodeStub]]): this container has no image/audio
  * libraries, so "decoding" derives dimensions and features from a
  * rolling hash of the payload bytes. Because the stub is pure integer
  * math, DuckDB can recompute it from the source text, giving the whole
  * encode → decode → extract chain an exact oracle.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String,
      payload: Array[Byte])
  final case class DecodedRow(doc_id: Long, media_type: String,
      byte_len: Int, width: Int, height: Int, feat0: Double, feat1: Double)
  final case class FrameRow(doc_id: Long, frame_idx: Long, frame_sig: Long)

  val DecodeBatchSize = 64
  private val Mod = 1000000007L

  /** The media table: payload = UTF-8 bytes of the document text (the
    * corpus has no real media; the bytes are opaque to everything
    * downstream), media_type assigned deterministically.
    */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    documents(s, d)
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Rolling hash over raw bytes — the deterministic core of the stub. */
  private def byteHash(payload: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < payload.length) {
      h = (h * 31 + (payload(i) & 0xFF)) % Mod
      i += 1
    }
    h
  }

  /** STUB DECODER — stands in for an image/audio/video codec (none is
    * available in this environment). Deterministic integer math on the
    * payload bytes; a real deployment replaces only this function (and
    * keeps the batching/plumbing around it).
    */
  def decodeStub(row: MediaRow): DecodedRow = {
    val h = byteHash(row.payload)
    DecodedRow(
      doc_id = row.doc_id,
      media_type = row.media_type,
      byte_len = row.payload.length,
      width = (32 + h % 617).toInt,
      height = (32 + (h * 31 + 7) % 431).toInt,
      feat0 = (h * 13 % 100000L) / 100000.0,
      feat1 = (h * 17 % 100000L) / 100000.0)
  }

  /** Decode + feature-extract over `mapPartitions` in explicit batches:
    * the executor-side pattern for codec work (amortized per-batch codec
    * init, bounded memory per batch), with the task-per-partition
    * parallelism Catalyst already provides. Flat typed output.
    */
  def mmDecodeFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          // real codecs would init once here, decode the batch, release
          batch.map(decodeStub)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  val mmDecodeFeaturesSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(text, ''), x -> CAST(ord(x) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS rh,
      |    octet_length(encode(text)) AS blen
      |  FROM documents)
      |SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(blen AS INTEGER) AS byte_len,
      |  CAST(32 + rh % 617 AS INTEGER) AS width,
      |  CAST(32 + (rh * 31 + 7) % 431 AS INTEGER) AS height,
      |  CAST(rh * 13 % 100000 AS DOUBLE) / 100000.0 AS feat0,
      |  CAST(rh * 17 % 100000 AS DOUBLE) / 100000.0 AS feat1
      |FROM h
      |ORDER BY doc_id""".stripMargin

  /** Pure-Catalyst metadata pass (no decode): byte length + payload
    * fingerprint straight off the binary column — the cheap scan that
    * partition-prunes and prunes columns before any expensive decode.
    */
  def mmMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).toDF()
      .select(
        col("doc_id"), col("media_type"),
        length(col("payload")).as("byte_len"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("doc_id"))
  }

  val mmMetaSql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
      |  md5(text) AS payload_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Frame sampling for the `video` rows: every 5th frame of
    * `byte_len DIV 100 + 1` fake frames, one output row per sampled
    * frame with a deterministic per-frame signature. The flatMap shape
    * (1 blob → N frame rows) is the real operator; the signature stands
    * in for a per-frame embedding.
    */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .filter(_.media_type == "video")
      .flatMap { row =>
        val h = byteHash(row.payload)
        val nFrames = row.payload.length / 100 + 1
        (0 until nFrames by 5).map { idx =>
          FrameRow(row.doc_id, idx.toLong, (h + idx * 2654435761L) % 1000003L)
        }
      }
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val mmFrameSampleSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(text, ''), x -> CAST(ord(x) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS rh,
      |    octet_length(encode(text)) AS blen
      |  FROM documents
      |  WHERE CAST(doc_id % 3 AS INTEGER) = 2)
      |SELECT doc_id, frame_idx,
      |  (rh + frame_idx * 2654435761) % 1000003 AS frame_sig
      |FROM (SELECT doc_id, rh,
      |        unnest(range(0, blen // 100 + 1, 5)) AS frame_idx
      |      FROM h) t
      |ORDER BY doc_id, frame_idx""".stripMargin

  final case class ResizedRow(doc_id: Long, width: Int, height: Int,
      new_w: Int, new_h: Int, resized_bytes: Long)

  /** Resize pass for the `image` rows: fit into a 256×256 box preserving
    * aspect ratio (integer math — `new = dim * 256 / max(w, h)`), with
    * the output byte size of an RGB buffer. Decode + resize run in the
    * same `mapPartitions` batch (a real pipeline fuses them to avoid
    * re-decoding); the pixel work is the same deterministic stub as
    * [[decodeStub]], the batching/fusion shape is the real operator.
    */
  def mmResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .filter(_.media_type == "image")
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.map { row =>
            val dec = decodeStub(row)
            val longSide = math.max(dec.width, dec.height)
            val nw = dec.width * 256 / longSide
            val nh = dec.height * 256 / longSide
            ResizedRow(row.doc_id, dec.width, dec.height, nw, nh,
              nw.toLong * nh * 3)
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  val mmResizeSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_split_to_array(text, ''), x -> CAST(ord(x) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS rh
      |  FROM documents
      |  WHERE CAST(doc_id % 3 AS INTEGER) = 0),
      |dims AS (
      |  SELECT doc_id,
      |    CAST(32 + rh % 617 AS INTEGER) AS width,
      |    CAST(32 + (rh * 31 + 7) % 431 AS INTEGER) AS height
      |  FROM h)
      |SELECT doc_id, width, height,
      |  CAST(width * 256 // greatest(width, height) AS INTEGER) AS new_w,
      |  CAST(height * 256 // greatest(width, height) AS INTEGER) AS new_h,
      |  CAST(width * 256 // greatest(width, height) AS BIGINT)
      |    * (height * 256 // greatest(width, height)) * 3 AS resized_bytes
      |FROM dims
      |ORDER BY doc_id""".stripMargin

  final case class AudioWindowRow(doc_id: Long, win_idx: Long,
      n_samples: Int, energy: Long)

  val AudioWindowBytes = 400

  /** Windowed energy for the `audio` rows: the payload bytes stand in
    * for PCM samples (the stub decode — a real deployment swaps in the
    * codec and keeps this framing), cut into fixed
    * [[AudioWindowBytes]]-sample windows, each emitting its sample
    * count and the integer energy Σ(s−128)² — the map-side 1→N frame
    * shape of every audio featurizer (VAD, loudness, fingerprinting).
    * Integer math end to end, so the oracle reproduces it exactly.
    */
  /** The unordered `(doc_id, win_idx, n_samples, energy)` window
    * relation shared by [[mmAudioEnergy]] and [[mmSilenceTrim]].
    */
  private def audioWindows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .filter(_.media_type == "audio")
      .flatMap { row =>
        val bytes = row.payload
        val nWins = (bytes.length + AudioWindowBytes - 1) / AudioWindowBytes
        (0 until nWins).map { w =>
          val start = w * AudioWindowBytes
          val end = math.min(start + AudioWindowBytes, bytes.length)
          var e = 0L
          var i = start
          while (i < end) {
            val v = (bytes(i) & 0xFF).toLong - 128L
            e += v * v
            i += 1
          }
          AudioWindowRow(row.doc_id, w.toLong, end - start, e)
        }
      }
      .toDF()
  }

  def mmAudioEnergy(s: SparkSession, d: String): DataFrame =
    audioWindows(s, d).orderBy(col("doc_id"), col("win_idx"))

  /** Silence trimming over the windowed energy — the VAD-shaped
    * TRANSFORM of the audio path (the [[mmAudioEnergy]] report's
    * analog of `dd_spans_apply`): a window is silent iff its
    * PER-SAMPLE energy falls below half the document's mean per-sample
    * energy, cross-multiplied so the compare stays in exact integers
    * (`2·energy·total_samples < total_energy·n_samples` — the
    * [[mmPhashDup]] discipline). One row per audio doc: window/silence
    * counts, original vs kept bytes, and the kept window indices in
    * order — what a real pipeline would use to slice the PCM before
    * feature extraction.
    *
    * Shape: the map-side 1→N window pass, one per-doc aggregation for
    * the totals, an equi-join back (both sides doc-keyed), and the
    * final per-doc aggregation — linear in payload bytes, nothing
    * corpus-wide.
    */
  def mmSilenceTrim(s: SparkSession, d: String): DataFrame = {
    val en = audioWindows(s, d)
    val tot = en.groupBy(col("doc_id"))
      .agg(sum(col("energy")).as("tot_e"),
        sum(col("n_samples")).cast(LongType).as("tot_n"),
        count(lit(1)).as("n_windows"))
    en.join(tot, "doc_id")
      .withColumn("silent",
        col("energy") * col("tot_n") * 2 < col("tot_e") * col("n_samples"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_windows")).as("n_windows"),
        sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"),
        sum(col("n_samples")).cast(LongType).as("orig_bytes"),
        sum(when(!col("silent"), col("n_samples")).otherwise(0))
          .cast(LongType).as("kept_bytes"),
        array_join(
          expr("transform(sort_array(collect_list(CASE WHEN NOT silent THEN win_idx END)), x -> CAST(x AS STRING))"),
          ",").as("kept_idx"))
      .orderBy(col("doc_id"))
  }

  /** The `en(doc_id, win_idx, n_samples, energy)` window CTE chain
    * shared by the audio oracles.
    */
  private val audioWindowsCteSql: String =
    s"""b AS (
       |  SELECT doc_id,
       |    list_transform(regexp_split_to_array(text, ''), x -> CAST(ord(x) AS BIGINT)) AS bs
       |  FROM documents
       |  WHERE CAST(doc_id % 3 AS INTEGER) = 1),
       |w AS (
       |  SELECT doc_id, bs,
       |    unnest(range(0, (len(bs) + ${AudioWindowBytes - 1}) // $AudioWindowBytes)) AS win_idx
       |  FROM b),
       |en AS (
       |  SELECT doc_id, win_idx,
       |    CAST(LEAST((win_idx + 1) * $AudioWindowBytes, len(bs)) - win_idx * $AudioWindowBytes AS BIGINT) AS n_samples,
       |    CAST(list_sum(list_transform(
       |      bs[win_idx * $AudioWindowBytes + 1 : LEAST((win_idx + 1) * $AudioWindowBytes, len(bs))],
       |      v -> (v - 128) * (v - 128))) AS BIGINT) AS energy
       |  FROM w)""".stripMargin

  val mmAudioEnergySql: String =
    s"""WITH $audioWindowsCteSql
       |SELECT doc_id, win_idx, CAST(n_samples AS INTEGER) AS n_samples, energy
       |FROM en
       |ORDER BY doc_id, win_idx""".stripMargin

  /** DuckDB mirror of [[mmSilenceTrim]]: the shared window chain, one
    * per-doc totals aggregation, the cross-multiplied silence flag,
    * and the per-doc rollup with a FILTERed kept-index list.
    */
  val mmSilenceTrimSql: String =
    s"""WITH $audioWindowsCteSql,
       |tot AS (
       |  SELECT doc_id, SUM(energy) AS tot_e, SUM(n_samples) AS tot_n,
       |    CAST(COUNT(*) AS BIGINT) AS n_windows
       |  FROM en GROUP BY doc_id),
       |fl AS (
       |  SELECT en.doc_id, en.win_idx, en.n_samples, t.n_windows,
       |    (2 * en.energy * t.tot_n < t.tot_e * en.n_samples) AS silent
       |  FROM en JOIN tot t USING (doc_id))
       |SELECT doc_id,
       |  MAX(n_windows) AS n_windows,
       |  CAST(SUM(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
       |  CAST(SUM(n_samples) AS BIGINT) AS orig_bytes,
       |  CAST(SUM(CASE WHEN NOT silent THEN n_samples ELSE 0 END) AS BIGINT) AS kept_bytes,
       |  COALESCE(array_to_string(
       |    list_sort(list(win_idx) FILTER (WHERE NOT silent)), ','), '') AS kept_idx
       |FROM fl
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  final case class PhashRow(doc_id: Long, phash: Long)

  /** 64-bit blockhash perceptual signature over the payload bytes —
    * the REAL blockhash algorithm structure (split the signal into 64
    * equal blocks, bit k = "block k's mean exceeds the global mean"),
    * applied to the stub byte stream instead of decoded pixels (a real
    * deployment decodes first and hashes the pixel grid; the blocking,
    * integer-exact compare, and downstream bucketing are unchanged).
    * Similar payloads produce nearby signatures, so Hamming distance is
    * a genuine similarity — unlike [[byteHash]], which is avalanching.
    * The mean compare is cross-multiplied (`blockSum·n > total·blockLen`)
    * so everything stays in exact integer math.
    */
  def blockHash64(payload: Array[Byte]): Long = {
    val n = payload.length
    var total = 0L
    var i = 0
    while (i < n) { total += (payload(i) & 0xFF).toLong; i += 1 }
    var sig = 0L
    var k = 0
    while (k < 64) {
      val start = k * n / 64
      val end = (k + 1) * n / 64
      var bs = 0L
      var j = start
      while (j < end) { bs += (payload(j) & 0xFF).toLong; j += 1 }
      if (bs * n > total * (end - start)) sig |= (1L << k)
      k += 1
    }
    sig
  }

  /** Id offset of the planted re-encode variants in [[mmPhashDup]]. */
  val PhashVariantOffset = 1000000L

  /** Perceptual-hash near-dup over the `image` rows: blockhash
    * signatures, then the same pigeonhole Hamming-bucket join as
    * [[graft.operators.Dedup.ddSimhash]] — four 16-bit chunks key one
    * shuffle; any pair within Hamming distance 3 shares ≥1 chunk, and
    * pairs ≤ 6 are emitted. The multimodal-dedup composition every
    * image-corpus pipeline runs (near-identical images survive exact
    * dedup because a few payload bytes differ); the quadratic pair
    * space is never formed.
    *
    * The synthetic corpus has no genuinely near-identical images (its
    * minimum pairwise blockhash distance is ~12), so alongside each
    * image the operator plants a deterministic RE-ENCODE variant (id +
    * [[PhashVariantOffset]], three mid-payload bytes overwritten — the
    * "same image, different encoder metadata" case): a discriminating
    * fixture the bucket join must then actually find. MEASURED at
    * sf0.01: every planted pair lands within distance 6 and is
    * recovered through the chunk buckets; no unplanted pair passes the
    * threshold. Signature extraction is the `mapPartitions` batch
    * shape shared with the other decoders.
    */
  def mmPhashDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sigs = mediaTable(s, d)
      .filter(_.media_type == "image")
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.flatMap { r =>
            val orig = PhashRow(r.doc_id, blockHash64(r.payload))
            if (r.payload.length < 8) Seq(orig)
            else {
              val v = r.payload.clone()
              val mid = v.length / 2
              v(mid) = 'X'.toByte; v(mid + 1) = 'X'.toByte
              v(mid + 2) = 'X'.toByte
              Seq(orig,
                PhashRow(r.doc_id + PhashVariantOffset, blockHash64(v)))
            }
          }
        }
      }
      .toDF()
    val chunkArr = array((0 until 4).map(i =>
      shiftrightunsigned(col("phash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val chunks = sigs.select(col("doc_id"), col("phash"),
      posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("hamming") <= 6)
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
  }

  /** DuckDB mirror: byte values via ord() over the character split (the
    * corpus text is ASCII, so characters ARE the payload bytes), the
    * planted variant via an indexed list_transform (1-based `i` vs
    * Spark's 0-based positions — same three bytes), block boundaries
    * and the cross-multiplied mean compare in the same integer math,
    * signature assembled into a UBIGINT (same 64-bit pattern as
    * Spark's signed long), then chunks/pairs exactly as the simhash
    * oracle.
    */
  val mmPhashDupSql: String =
    s"""WITH img AS (
      |  SELECT doc_id,
      |    list_transform(regexp_split_to_array(text, ''), x -> CAST(ord(x) AS BIGINT)) AS bs
      |  FROM documents
      |  WHERE CAST(doc_id % 3 AS INTEGER) = 0),
      |b AS (
      |  SELECT doc_id, bs FROM img
      |  UNION ALL
      |  SELECT doc_id + $PhashVariantOffset,
      |    list_transform(bs, (x, i) ->
      |      CASE WHEN i >= len(bs) // 2 + 1 AND i <= len(bs) // 2 + 3
      |           THEN 88 ELSE x END)
      |  FROM img WHERE len(bs) >= 8),
      |t AS (
      |  SELECT doc_id, bs, len(bs) AS n, list_sum(bs) AS total FROM b),
      |bits AS (
      |  SELECT doc_id, k,
      |    CASE WHEN COALESCE(list_sum(bs[(k * n) // 64 + 1 : ((k + 1) * n) // 64]), 0) * n
      |              > total * (((k + 1) * n) // 64 - (k * n) // 64)
      |         THEN 1 ELSE 0 END AS bit
      |  FROM t CROSS JOIN range(64) r(k)),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN bit = 1 THEN (CAST(1 AS UBIGINT) << k) ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS ph
      |  FROM bits GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, ph, ci, CAST((ph >> (ci * 16)) & 65535 AS BIGINT) AS chunk
      |  FROM sig CROSS JOIN range(4) r(ci)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
      |  FROM chunks a JOIN chunks b
      |    ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, hamming FROM pairs
      |WHERE hamming <= 6
      |ORDER BY hamming, a_id, b_id""".stripMargin

  // ---------------------------------------------------------------------
  // mm_pair_mine — cross-modal caption-pair mining through the shared
  // embedding space.
  // ---------------------------------------------------------------------

  /** Candidate text matches kept per image. */
  val XModalTopK = 3

  /** Pair-quality floor: a mined (image, text) pair below this cosine
    * is noise, not a caption — at the gate corpora the floor prunes the
    * weak tail of the top-3 lists (top-3 cosines span ~0.22–0.60).
    */
  val XModalMinCos = "0.3"

  /** Cross-modal caption-pair mining: for every IMAGE row of the media
    * table (`doc_id % 3 = 0`, the [[mediaTable]] modality split), find
    * the top-[[XModalTopK]] TEXT rows (`doc_id % 3 ≠ 0`) by embedding
    * cosine — the image↔text pair miner a multimodal training pipeline
    * runs to assemble caption pairs from unaligned corpora (documents
    * and embeddings share the id space, so a row's embedding stands in
    * for both its rendered-image and its text representation; a real
    * deployment swaps in per-modality encoders upstream and keeps this
    * plan).
    *
    * SERVED: candidates come from the persisted IVF inverted lists
    * ([[Similarity.cachedIvfLists]]) FILTERED to the text modality —
    * modality is derivable from the id, so the filter prunes list rows
    * before any scoring (the `sim_filtered_knn` posture with the filter
    * on the stored side only; images never collide with themselves, so
    * no self-exclusion is needed). Image probes run the one-pass
    * centroid kernel ([[Similarity.kernelProbeCells]]); the cell join
    * is keyed, never a crossJoin, and the query side GROWS with the
    * corpus (n/3 rows), so no broadcast is forced — AQE broadcasts at
    * gate scale, shuffles at 100 TB, exactly like `sim_knn_join`.
    * Below-floor pairs drop AFTER ranking (rank is over true
    * candidates; the floor is a quality gate on the output).
    */
  def mmPairMine(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
    val cent = Similarity.cachedIvfCentroids(s, d)
    val textLists = Similarity.cachedIvfLists(s, d)
      .filter(col("c_id") % 3 =!= 0)
    val probes = Similarity.kernelProbeCells(
      e.filter(col("vec_id") % 3 === 0), cent,
      Similarity.NumProbes, "img_id", "qv", "qn")
    val w = Window.partitionBy(col("img_id"))
      .orderBy(col("cosine").desc, col("text_id"))
    textLists.join(probes, Seq("cell"))
      .select(col("img_id"), col("c_id").as("text_id"),
        (graft.functions.VectorExpressions.dotF(col("qv"), col("cv_c")) /
          (col("qn") * col("cn_c"))).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= XModalTopK &&
        col("cosine") >= lit(XModalMinCos.toDouble))
      .select(col("img_id"), col("rank"), col("text_id"), col("cosine"))
      .orderBy(col("img_id"), col("rank"))
  }

  /** DuckDB mirror: the full served-IVF chain (train → assign → probe →
    * re-score) with the text-modality filter on the stored side and the
    * image-modality filter on the probe side.
    */
  val mmPairMineSql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (acc, x) -> acc + x)) AS nrm
       |  FROM embeddings),
       |${Similarity.trainedCentCtesSqlFrom("embeddings")},
       |ranks AS (
       |  SELECT e.vec_id, cent.cell,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(e.v, cent.cv), pr -> pr[1] * pr[2])),
       |          (acc, x) -> acc + x) / (e.nrm * cent.cnrm) DESC,
       |        cent.cell) AS INTEGER) AS crank
       |  FROM e CROSS JOIN cent),
       |assigned AS (SELECT vec_id AS c_id, cell FROM ranks
       |             WHERE crank = 1 AND vec_id % 3 <> 0),
       |probes AS (SELECT vec_id AS img_id, cell FROM ranks
       |           WHERE crank <= ${Similarity.NumProbes} AND vec_id % 3 = 0),
       |scored AS (
       |  SELECT p.img_id, a.c_id AS text_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  JOIN e eq ON eq.vec_id = p.img_id
       |  JOIN e ec ON ec.vec_id = a.c_id)
       |SELECT img_id, rank, text_id, cosine
       |FROM (SELECT img_id, text_id, cosine,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY img_id
       |          ORDER BY cosine DESC, text_id) AS BIGINT) AS rank
       |      FROM scored) t
       |WHERE rank <= $XModalTopK AND cosine >= $XModalMinCos
       |ORDER BY img_id, rank""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("mm_meta",            mmMeta,           mmMetaSql),
    Gated("mm_decode_features", mmDecodeFeatures, mmDecodeFeaturesSql),
    Gated("mm_frame_sample",    mmFrameSample,    mmFrameSampleSql),
    Gated("mm_resize",          mmResize,         mmResizeSql),
    Gated("mm_audio_energy",    mmAudioEnergy,    mmAudioEnergySql),
    Gated("mm_silence_trim",    mmSilenceTrim,    mmSilenceTrimSql),
    Gated("mm_phash_dup",       mmPhashDup,       mmPhashDupSql),
    Gated("mm_pair_mine",       mmPairMine,       mmPairMineSql),
  )
}
