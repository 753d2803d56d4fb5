package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns plus typed metadata —
  * the layout a 100 TB training-data lake uses (parquet binary column
  * chunks; no per-file blob storage round-trips). The testdata has no
  * real media, so payloads are synthesized: [[mediaTable]] reuses
  * document text bytes for the byte-level operators, and [[pngTable]]
  * encodes REAL PNG images (deterministic dimensions and pixels derived
  * from `doc_id`) which [[decodeImage]]/[[resizeImage]] decode with
  * `javax.imageio` — an actual codec round-trip, not a stand-in.
  *
  * Scale notes: `frameSample` is pure codegen'd expressions (substring
  * on binary, no UDF); the decode/resize/feature steps run once per
  * partition with an iterator (codec initialized per partition, no
  * per-row lambda setup, no driver collect), which is the Scala
  * analogue of a batched `mapInPandas` decode.
  */
object Multimodal {

  /** Opaque media payload + typed metadata, synthesized from documents:
    * (doc_id, media_type, content: binary, n_bytes). */
  def mediaTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col(textCol), "UTF-8").as("content"))
      .withColumn("n_bytes", length(col("content")).cast("long"))

  /** Fixed-size frame sampling: the first `n` frames of `frameSize`
    * bytes each, one output row per non-empty frame. Pure expression
    * plan — posexplode over a sequence literal + binary substring, all
    * inside whole-stage codegen; no shuffle. */
  def frameSample(media: DataFrame, frameSize: Int, n: Int): DataFrame =
    media.select(col("doc_id"), col("media_type"),
      posexplode(sequence(lit(0), lit(n - 1))).as(Seq("frame_idx", "__i")),
      col("content"))
      .select(col("doc_id"), col("media_type"), col("frame_idx").cast("long").as("frame_idx"),
        substring(col("content"), (col("frame_idx") * frameSize + 1).cast("int"),
          lit(frameSize)).as("frame"))
      .where(length(col("frame")) > 0)

  case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])
  /** Byte-level features: float histogram + entropy (spec-asserted;
    * transcendental, so not oracle-hashable) and exact integer
    * summaries (distinct byte values, modal byte + its count, weighted
    * checksum) that any SQL engine reproduces bit-for-bit. */
  case class Featured(doc_id: Long, histogram: Array[Float], entropy: Double,
      n_distinct_bytes: Int, mode_byte: Int, mode_count: Long,
      byte_checksum: Long)

  /** Deterministic grayscale test-image pixel: any engine can replay
    * this closed form, which is what lets [[decodeImage]] carry a full
    * SQL oracle over REAL PNG payloads. */
  private def pixel(docId: Long, x: Int, y: Int): Int =
    ((docId * 31 + x * 7 + y * 13) % 256).toInt

  private def pngDims(docId: Long): (Int, Int) =
    ((docId % 29 + 4).toInt, (docId % 17 + 4).toInt)

  /** Synthesize a REAL PNG payload per document id: grayscale, width =
    * doc_id % 29 + 4, height = doc_id % 17 + 4, pixel(x, y) =
    * (doc_id·31 + x·7 + y·13) mod 256, encoded with `javax.imageio`.
    * Grayscale PNG is lossless, so a decoder recovers exactly these
    * pixels — the generation formula IS the decode oracle. Partition-
    * batched like every media op; encoder state is per-partition. */
  def pngTable(docs: DataFrame, idCol: String = "doc_id"): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache in executors
      val enc = new PooledPngEncoder
      it.map { docId =>
        val (w, h) = pngDims(docId)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, pixel(docId, x, y)); x += 1 }
          y += 1
        }
        MediaRow(docId, "image", enc.encode(img))
      }
    }
  }

  /** Pooled `javax.imageio` decode — `ImageIO.read` constructs a fresh
    * reader (plus a provider-registry scan) per call, and for the
    * kilobyte images of the media arc that setup rivals the actual
    * decode. One instance per PARTITION iterator (not thread-safe):
    * the reader from the last payload is retried first via its
    * provider's `canDecodeInput` (which resets the stream), falling
    * back to the registry scan on first use or format change. Byte-
    * identical to `ImageIO.read`: same provider-selected reader, same
    * `read(0)` with default params, same (seekForwardOnly=true,
    * ignoreMetadata=true) input contract. */
  private final class PooledImageDecoder {
    private var reader: javax.imageio.ImageReader = null
    def read(docId: Long, bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val use =
        if (reader != null && reader.getOriginatingProvider != null &&
            reader.getOriginatingProvider.canDecodeInput(iis)) reader
        else {
          val it = javax.imageio.ImageIO.getImageReaders(iis)
          require(it.hasNext,
            s"doc $docId: payload is not a decodable image")
          reader = it.next(); reader
        }
      use.setInput(iis, true, true)
      try use.read(0) finally iis.close()
    }
  }

  /** Pooled PNG encode — the writer-registry scan and writer
    * construction of `ImageIO.write(img, "png", out)` are per-call
    * overhead the synthesis/resize rungs paid once per image. Same
    * first-registered PNG writer, default write params, memory-cached
    * output stream → byte-identical payloads. One instance per
    * partition iterator. */
  private final class PooledPngEncoder {
    private val writer = {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName("png")
      require(it.hasNext, "no PNG ImageWriter registered")
      it.next()
    }
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      try writer.write(img) finally ios.close()
      bos.toByteArray
    }
  }

  case class DecodedImage(doc_id: Long, width: Int, height: Int,
      n_pixels: Long, px_sum: Long)

  /** Real image decode via `javax.imageio` (PNG/JPEG/BMP/GIF ship in
    * every JDK — no external codec needed): opaque bytes in, actual
    * header dimensions and pixel statistics out. Partition-batched
    * `mapPartitions` — the decoder is exercised once per row inside one
    * task, payloads never cross the wire undecoded more than once, no
    * shuffle. Fails loudly on undecodable payloads rather than emitting
    * garbage rows. */
  def decodeImage(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val dec = new PooledImageDecoder
      it.map { m =>
        val img = dec.read(m.doc_id, m.content)
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        DecodedImage(m.doc_id, w, h, w.toLong * h, sum)
      }
    }
  }

  /** Real image resize: decode with `javax.imageio`, nearest-neighbor
    * downsample by `factor` (output pixel (x, y) = source pixel
    * (x·factor, y·factor) — exact and engine-replayable, unlike
    * interpolating scalers), re-encode as PNG. Binary in → smaller
    * binary out, partition-batched, no shuffle. */
  def resizeImage(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    require(factor >= 1)
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val dec = new PooledImageDecoder
      val enc = new PooledPngEncoder
      it.map { m =>
        val img = dec.read(m.doc_id, m.content)
        val w = math.max(1, img.getWidth / factor)
        val h = math.max(1, img.getHeight / factor)
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val src = img.getRaster
        val dst = out.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            dst.setSample(x, y, 0, src.getSample(x * factor, y * factor, 0))
            x += 1
          }
          y += 1
        }
        MediaRow(m.doc_id, m.media_type, enc.encode(out))
      }
    }
  }

  case class ImageHash(doc_id: Long, width: Int, height: Int, phash: Long)

  /** Perceptual AVERAGE-HASH (aHash) per image — the image-dedup
    * primitive of a multimodal curation pipeline (LAION-style crawls
    * dedup screenshots/logos/rescaled copies by perceptual hash, where
    * byte-level hashing sees every re-encode as unique): decode, sample
    * an 8×8 nearest-neighbor grid (sample (i, j) = source pixel
    * (i·w DIV 8, j·h DIV 8) — deterministic, no interpolation), set bit
    * i·8+j iff sample·64 > total (integer mean threshold — no float
    * division, bit-stable on any engine). Downstream pair search is
    * [[imageNearDupPairs]] (the SimHash hamming machinery verbatim —
    * 4-chunk pigeonhole equi-join, hot-bucket capped), clustering is
    * [[imageNearDupClusters]]: a re-encoded/brightness-shifted copy
    * lands within a few bits of its original.
    *
    * The sampled value is BRIGHTNESS for every color model: single-band
    * non-palette rasters (grayscale — the [[pngTable]] corpus) read the
    * band directly; everything else (RGB, RGBA, palette PNGs) resolves
    * the pixel through the color model and takes the integer Rec.601
    * luma `(299·R + 587·G + 114·B) DIV 1000` — on a gray pixel
    * (R=G=B=v) the weights sum to 1000, so the luma path and the
    * band-0 path agree exactly and the grayscale oracle is unaffected.
    *
    * Partition-batched decode, zero shuffle — the hash is 8 bytes per
    * image, so the pair stage never moves pixels. On the synthetic
    * [[pngTable]] corpus the pixel formula makes the ENTIRE hash
    * SQL-replayable (full oracle), unlike generic perceptual hashers. */
  def imageAHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val dec = new PooledImageDecoder
      it.map { m =>
        val img = dec.read(m.doc_id, m.content)
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        // gray fast path: one band of real intensity (NOT a palette
        // index — IndexColorModel's single band must go through the
        // color model to mean brightness)
        val gray1 = raster.getNumBands == 1 &&
          !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
        def brightness(sx: Int, sy: Int): Int =
          if (gray1) raster.getSample(sx, sy, 0)
          else {
            val rgb = img.getRGB(sx, sy)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          }
        val s = new Array[Int](64)
        var total = 0L
        var i = 0
        while (i < 8) {
          var j = 0
          while (j < 8) {
            val px = brightness(i * w / 8, j * h / 8)
            s(i * 8 + j) = px
            total += px
            j += 1
          }
          i += 1
        }
        var hash = 0L
        var b = 0
        while (b < 64) {
          if (s(b).toLong * 64 > total) hash |= (1L << b)
          b += 1
        }
        ImageHash(m.doc_id, w, h, hash)
      }
    }
  }

  /** Planted image variants for the near-dup arc — the two copy
    * families a perceptual hash exists to catch, over REAL PNG
    * payloads:
    *  - RE-ENCODE twins (`doc_id % 7 == 0`, variant id `base + 1e9`):
    *    the base PNG is DECODED and re-encoded through the codec — a
    *    byte-level hash sees a fresh blob, the perceptual hash is
    *    identical (lossless gray PNG ⇒ same pixels ⇒ Hamming 0).
    *  - EDITED twins (`doc_id % 7 == 3`, variant id `base + 2e9`):
    *    same image with ONE pixel edited — `(0, 0)` flips by +128
    *    (mod 256). (0, 0) is always on the 8×8 aHash sample grid, so
    *    the edit moves a few sampled cells (every grid cell whose
    *    nearest-neighbor source is (0, 0)) and nudges the mean: a
    *    SMALL, deterministic Hamming distance — the "near" in
    *    near-dup — still replayed in closed form by the SQL oracle
    *    (the edit is one CASE on the pixel formula).
    * Partition-batched codec work like every media op; returns only
    * the variant rows (union with [[pngTable]] for the full corpus).
    *
    * r12 optimization: the variant payload is synthesized by ONE
    * encode of the variant pixel grid instead of the old
    * encode-base → decode → (edit) → re-encode chain. Grayscale PNG
    * is lossless and `javax.imageio`'s PNG writer is deterministic in
    * the raster, so `encode(pixels)` is byte-identical to
    * `re-encode(decode(encode(pixels)))` — two of three codec passes
    * per variant removed with the SAME payload bytes (and no consumer
    * hashes variant bytes anyway: every downstream op reads pixels
    * via [[imageAHash]], and the q_image_neardup oracle replays the
    * pixel formula). */
  def pngVariantTable(docs: DataFrame, idCol: String = "doc_id",
      reencodeOffset: Long = 1000000000L, editOffset: Long = 2000000000L)
      : Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.where(col(idCol) % 7 === 0 || col(idCol) % 7 === 3)
      .select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val enc = new PooledPngEncoder
      it.map { docId =>
        val (w, h) = pngDims(docId)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, pixel(docId, x, y)); x += 1 }
          y += 1
        }
        val edited = docId % 7 == 3
        if (edited)
          raster.setSample(0, 0, 0, (raster.getSample(0, 0, 0) + 128) % 256)
        MediaRow(docId + (if (edited) editOffset else reencodeOffset),
          "image", enc.encode(img))
      }
    }
  }

  /** Image near-dup PAIRS by aHash Hamming distance ≤ `maxDist` — the
    * step [[imageAHash]]'s scaladoc promises: the 64-bit perceptual
    * hashes go through the SimHash pigeonhole machinery VERBATIM
    * ([[graft.operators.Dedup.simhashPairs]] — 4×16-bit chunk
    * equi-join, so any pair within Hamming 3 shares an exact chunk;
    * never all-pairs; hot-bucket capped, and a chunk bucket only runs
    * hot when that many images genuinely share a hash quarter).
    * Pixels never shuffle — the pair stage moves 8-byte codes.
    * Returns (doc_a, doc_b, hamming). */
  def imageNearDupPairs(hashes: Dataset[ImageHash], maxDist: Int = 3,
      maxBucket: Option[Int] = Some(256)): DataFrame =
    Dedup.simhashPairs(
      hashes.toDF().select(col("doc_id"), col("phash").as("simhash")),
      maxDist = maxDist, maxBucket = maxBucket)

  /** Near-dup image CLUSTERS + keeper marks from the pair list: the
    * min-label connected components of
    * [[graft.operators.Dedup.dedupClusters]] (cluster = min doc_id,
    * so `cluster == doc_id` marks the keeper — for the planted
    * variants that is always the BASE image, whose id is smallest).
    * Returns (doc_id, cluster) for every image in a pair. */
  def imageNearDupClusters(pairs: DataFrame): DataFrame =
    Dedup.dedupClusters(pairs.select(col("doc_a"), col("doc_b")))

  case class Resized(doc_id: Long, media_type: String, content: Array[Byte],
      orig_bytes: Int, new_bytes: Int)

  /** Byte-stream decimation: keep every `factor`-th byte of the payload
    * (deterministic, content-dependent) — the generic binary
    * down-sampling step (e.g. PCM decimation) as opposed to the real
    * image resize of [[resizeImage]]. Binary in → smaller binary out,
    * partition-batched, no shuffle. */
  def subsampleBytes(media: Dataset[MediaRow], factor: Int): Dataset[Resized] = {
    import media.sparkSession.implicits._
    require(factor >= 1)
    media.mapPartitions { it =>
      it.map { m =>
        val out = new Array[Byte]((m.content.length + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = m.content(i * factor); i += 1 }
        Resized(m.doc_id, m.media_type, out, m.content.length, out.length)
      }
    }
  }

  /** Real feature extraction: 256-bin byte histogram (normalized) +
    * Shannon entropy per payload, computed partition-batched. This is
    * the shape of a real embed/feature step: binary in, fixed-dim
    * Array[Float] out, no shuffle, one pass. */
  def byteHistogram(media: Dataset[MediaRow]): Dataset[Featured] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val counts = new Array[Long](256)
        var i = 0
        while (i < m.content.length) {
          counts(m.content(i) & 0xFF) += 1; i += 1
        }
        val n = math.max(1L, m.content.length.toLong)
        val hist = counts.map(c => (c.toDouble / n).toFloat)
        val entropy = counts.foldLeft(0.0) { (acc, c) =>
          if (c == 0) acc
          else { val p = c.toDouble / n; acc - p * math.log(p) / math.log(2) }
        }
        var distinct = 0
        var modeByte = 0
        var modeCount = 0L
        var checksum = 0L
        var b = 0
        while (b < 256) {
          val c = counts(b)
          if (c > 0) {
            distinct += 1
            checksum += b.toLong * c
            if (c > modeCount) { modeCount = c; modeByte = b } // lowest byte wins ties
          }
          b += 1
        }
        Featured(m.doc_id, hist, entropy, distinct, modeByte, modeCount, checksum)
      }
    }
  }

  case class AudioWindow(doc_id: Long, win_idx: Long, n_samples: Int,
      energy: Long, peak: Int)

  /** Sliding analysis windows over an audio payload — the STFT/VAD
    * framing step of an audio pipeline. The payload is interpreted as
    * 8-bit PCM samples (the testdata has no real audio; a real decoder
    * would emit 16-bit PCM here — same framing, different stride);
    * windows of `winSize` samples every `hop` samples, each summarized
    * by integer energy (sum of squared centered samples) and peak
    * amplitude — exact integer arithmetic, deterministic.
    *
    * Partition-batched like the other media ops: windows of one payload
    * never cross rows, so there is NO shuffle — fan-out is row-local,
    * and at 100 TB each task streams its parquet binary chunk once. */
  def audioWindows(media: Dataset[MediaRow], winSize: Int, hop: Int): Dataset[AudioWindow] = {
    import media.sparkSession.implicits._
    require(winSize >= 1 && hop >= 1)
    media.flatMap { m =>
      val n = m.content.length
      val nWin = if (n < winSize) 0 else (n - winSize) / hop + 1
      (0 until nWin).iterator.map { w =>
        var energy = 0L
        var peak = 0
        var i = w * hop
        val end = i + winSize
        while (i < end) {
          val s = (m.content(i) & 0xFF) - 128 // center unsigned 8-bit PCM
          energy += s.toLong * s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        AudioWindow(m.doc_id, w.toLong, winSize, energy, peak)
      }
    }
  }

  /** [[audioWindows]] for 16-bit little-endian PCM payloads: byte pairs
    * decode to signed int16 samples (a trailing odd byte is ignored),
    * then the same winSize/hop sliding energy+peak. Same scale shape:
    * row-local fan-out, no shuffle, windows stream out of each task. */
  def audioWindowsPcm16(media: Dataset[MediaRow], winSize: Int, hop: Int): Dataset[AudioWindow] = {
    import media.sparkSession.implicits._
    require(winSize >= 1 && hop >= 1)
    media.flatMap { m =>
      val nSamples = m.content.length / 2
      val nWin = if (nSamples < winSize) 0 else (nSamples - winSize) / hop + 1
      (0 until nWin).iterator.map { w =>
        var energy = 0L
        var peak = 0
        var i = w * hop
        val end = i + winSize
        while (i < end) {
          val s = ((m.content(2 * i) & 0xFF) | (m.content(2 * i + 1) << 8)).toShort.toInt
          energy += s.toLong * s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        AudioWindow(m.doc_id, w.toLong, winSize, energy, peak)
      }
    }
  }

  /** Perceptual AUDIO fingerprint — the audio sibling of
    * [[imageAHash]] (Haitsma–Kalker family, energy-derivative sign
    * bits): over the 16-bit PCM analysis windows of
    * [[audioWindowsPcm16]], bit `i` of the fingerprint is set iff
    * window `i+1` has strictly higher energy than window `i` — the
    * energy DERIVATIVE's sign, which survives exactly the edits a
    * byte hash cannot: amplitude scaling (energy scales by c²
    * uniformly, all comparisons preserved — spec-pinned), polarity
    * inversion ((-s)² = s²), re-encoding. 60 bits (like
    * [[graft.operators.Dedup.simhashPortable]] — a sum of powers
    * below 2^60 stays positive and exact in any engine), so the
    * fingerprints pair through the same Hamming machinery as the
    * image codes. Integer energies end to end → full SQL replay.
    *
    * Scale shape: row-local window fan-out (no shuffle), then ONE
    * per-doc window + rollup — the document is the partition unit,
    * like the winnow minima; 8 bytes per doc move to the pair stage,
    * never samples. Docs with fewer than 2 windows have no derivative
    * and are absent (below the detectable floor by definition);
    * shorter docs carry `n_bits < nBits` partial codes — pair search
    * should compare equal-width codes only.
    * Returns (doc_id, n_bits, fingerprint). */
  def audioFingerprint(media: Dataset[MediaRow], winSize: Int = 4,
      hop: Int = 2, nBits: Int = 60): DataFrame = {
    require(nBits >= 1 && nBits <= 60, "fingerprint must fit 60 positive bits")
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("win_idx"))
    audioWindowsPcm16(media, winSize, hop).toDF()
      .withColumn("__next", lead(col("energy"), 1).over(byDoc))
      .where(col("__next").isNotNull && col("win_idx") < nBits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bits"),
        sum(when(col("__next") > col("energy"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(win_idx AS INT))"))
          .otherwise(lit(0L))).as("fingerprint"))
  }

  /** Planted audio near-dups: every 4th audio doc (`doc_id % 12 ==
    * 1`) re-emitted under `base + 3e9` with every 16-bit PCM sample
    * NEGATED (polarity inversion — the classic lossless audio edit: a
    * byte hash sees a fresh payload, the energy fingerprint is
    * bit-identical since (-s)² = s²). Row-local byte work, no
    * shuffle; the trailing odd byte (not a full sample) passes
    * through untouched, exactly as [[audioWindowsPcm16]] ignores it. */
  def audioVariantTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", offset: Long = 3000000000L): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.where(col(idCol) % 12 === 1)
      .select(col(idCol).cast("long"), encode(col(textCol), "UTF-8"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val out = bytes.clone()
        var j = 0
        while (j + 1 < out.length) {
          val s = ((out(j) & 0xFF) | (out(j + 1) << 8)).toShort.toInt
          val n = -s
          out(j) = (n & 0xFF).toByte
          out(j + 1) = ((n >> 8) & 0xFF).toByte
          j += 2
        }
        MediaRow(id + offset, "audio", out)
      }
  }

  /** Distinct frame fingerprints of a video payload: the payload cut
    * into fixed `frameSize`-byte frames (ALL of them — unlike
    * [[frameSample]]'s first-n preview), each committed by md5,
    * deduped per doc. The per-video "bag of frames" a frame-level
    * dedup compares — the video sibling of the image/audio codes,
    * with an honest caveat: fixed framing is ALIGNMENT-SENSITIVE
    * (a prefix edit shifts every later frame — the contrast
    * [[cdcChunks]] exists to fix for byte streams), so it catches
    * appended/truncated/re-containered copies, not arbitrary edits.
    * Row-local fan-out, hashes computed before any exchange.
    * Returns distinct (doc_id, fh). */
  def videoFrameFingerprints(media: DataFrame, frameSize: Int = 32)
      : DataFrame = {
    require(frameSize >= 1)
    media.select(col("doc_id"), col("content"),
        explode(when(length(col("content")) > 0,
            sequence(lit(0L),
              (length(col("content")).cast("long") + (frameSize - 1))
                .divide(frameSize).cast("long") - 1))
          .otherwise(array().cast("array<long>"))).as("i"))
      .select(col("doc_id"),
        md5(expr(s"substring(content, CAST(i * $frameSize + 1 AS INT), " +
          s"$frameSize)")).as("fh"))
      .distinct()
  }

  /** Video near-dup pairs by frame-set CONTAINMENT: docs equi-joined
    * on shared frame fingerprints (the winnow/containment idiom —
    * never all-pairs), pairs kept when they share ≥ `minShared`
    * frames AND the shared count covers ≥ `thresholdPpm` of the
    * SMALLER doc's frame set (asymmetric overlap — a clip embedded in
    * a longer cut still matches, the quotation case Jaccard misses).
    * The `maxDf` guard drops frames present in more than that many
    * docs before the join (all-black/silence/color-bar boilerplate
    * frames are corpus-frequent by definition and would quadratically
    * blow their buckets — the standing LSH-bucket stance).
    * Returns (doc_a, doc_b, n_shared, containment_ppm). */
  def videoNearDupPairs(media: DataFrame, frameSize: Int = 32,
      minShared: Int = 2, thresholdPpm: Long = 500000L,
      maxDf: Int = 50): DataFrame =
    frameContainmentPairs(videoFrameFingerprints(media, frameSize),
      minShared, thresholdPpm, maxDf)

  /** The containment join of [[videoNearDupPairs]] over an already-
    * materialized frame table (doc_id, fh) — shared by the ad-hoc
    * form and [[videoNearDupPairsFromIndex]], so the stored form is
    * bit-identical by construction (md5 strings round-trip parquet
    * exactly). The per-frame document frequency (`maxDf` boilerplate
    * guard) and per-doc sizes are computed HERE, at query time, from
    * whatever frame table is passed — never baked into a stored
    * index — which is what keeps index appends EXACT (the sign/int8
    * contract: per-row facts only, no corpus-global statistic). */
  def frameContainmentPairs(frames: DataFrame, minShared: Int = 2,
      thresholdPpm: Long = 500000L, maxDf: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDf >= 2)
    // three consumers on three different keys (doc_id agg, fh agg,
    // fh join) — no shared exchange to reuse, so a persist pays
    val fps = Caches.persist(frames.select(col("doc_id"), col("fh")))
    val sizes = fps.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nf"))
    val hot = fps.groupBy(col("fh")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf).select(col("fh"))
    val kept = fps.join(hot, Seq("fh"), "left_anti")
    kept.toDF("fh", "doc_a")
      .join(kept.toDF("fh", "doc_b"), Seq("fh"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.toDF("doc_a", "__na"), "doc_a")
      .join(sizes.toDF("doc_b", "__nb"), "doc_b")
      .withColumn("containment_ppm",
        expr("(n_shared * 1000000) DIV least(__na, __nb)"))
      .where(col("n_shared") >= minShared &&
        col("containment_ppm") >= thresholdPpm)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("containment_ppm"))
  }

  /** Planted video near-dups: every 4th video doc (`doc_id % 12 ==
    * 2`) re-emitted under `base + 4e9` with a fixed trailer APPENDED —
    * the re-container/append edit fixed framing catches: every full
    * base frame is byte-identical in the variant (prefix-aligned), so
    * the pair's containment vs the smaller (base) set is
    * floor(L/32)/ceil(L/32) ≥ ~90%. */
  def videoVariantTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", offset: Long = 4000000000L): DataFrame =
    docs.where(col(idCol) % 12 === 2)
      .select((col(idCol) + offset).as("doc_id"),
        lit("video").as("media_type"),
        encode(concat(col(textCol),
          lit(" APPENDED TRAILER CARD bytes bytes bytes")), "UTF-8")
          .as("content"))

  // ── Stored perceptual-code index (shared by image aHash + audio codes) ──

  /** Materialize a perceptual-code table — (doc_id, code: long), the
    * shape [[imageAHash]] and [[audioFingerprint]] both reduce to —
    * at `path`: the decode/fingerprint pass paid ONCE per corpus
    * version, every subsequent pair search streams 8-byte codes
    * instead of re-decoding payloads (the [[graft.operators
    * .Similarity.writeSignIndex]] lifecycle: per-row codes, no
    * corpus-global statistic, so appends are EXACT and no staleness
    * alarm exists). */
  def writeCodeIndex(codes: DataFrame, path: String,
      coalesceTo: Int = 8): Unit = {
    val c = codes.select(col("doc_id"), col("code"))
    (if (coalesceTo > 0) c.coalesce(coalesceTo) else c)
      .write.mode("overwrite").parquet(path)
  }

  /** Fold new codes INTO the stored table — exact append, replay-safe
    * via the stored-id anti-join (a redelivered batch appends
    * nothing). */
  def appendToCodeIndex(newCodes: DataFrame, path: String): Unit = {
    val spark = newCodes.sparkSession
    val fresh = newCodes.select(col("doc_id"), col("code"))
      .join(spark.read.parquet(path).select(col("doc_id").as("__stored")),
        col("doc_id") === col("__stored"), "left_anti")
      .select(col("doc_id"), col("code"))
    if (!fresh.isEmpty) fresh.coalesce(4).write.mode("append").parquet(path)
  }

  /** Build-once [[writeCodeIndex]] through [[graft.io.StoredIndex]].
    * `codes` is by-name — never computed on the warm path. */
  def ensureCodeIndex(spark: org.apache.spark.sql.SparkSession,
      codes: => DataFrame, path: String, coalesceTo: Int = 8): Unit =
    graft.io.StoredIndex.ensure(spark, path)(
      writeCodeIndex(codes, path, coalesceTo))

  /** Near-dup pairs off the STORED code table: the corpus enters as
    * 8-byte codes — no payload is decoded or fingerprinted at query
    * time (plan-pinned) — through the same pigeonhole machinery as
    * the ad-hoc forms, so the pair list is bit-identical (longs
    * round-trip parquet exactly; shared oracles). */
  def nearDupPairsFromCodeIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxDist: Int = 3, bits: Int = 64,
      maxBucket: Option[Int] = Some(256)): DataFrame =
    Dedup.simhashPairs(
      spark.read.parquet(path).select(col("doc_id"), col("code").as("simhash")),
      maxDist = maxDist, bits = bits, maxBucket = maxBucket)

  /** One arrival batch of the code-index maintenance loop (the step
    * [[graft.streaming.Streams.ingestCodeStream]] drives): the batch
    * lands exactly-once in `corpusRoot/batch=<id>`, then folds
    * exact-append into the stored (doc_id, code) table. First batch
    * builds from the accumulated corpus. */
  def ingestCodeBatch(codes: DataFrame, batchId: Long, indexPath: String,
      corpusRoot: String): Unit = {
    val spark = codes.sparkSession
    if (codes.isEmpty) return
    val b = codes.select(col("doc_id"), col("code"))
    b.coalesce(4).write.mode("overwrite").parquet(s"$corpusRoot/batch=$batchId")
    if (!graft.io.IndexPaths.complete(spark, indexPath))
      writeCodeIndex(spark.read.parquet(corpusRoot)
        .select(col("doc_id"), col("code")), indexPath)
    else appendToCodeIndex(b, indexPath)
  }

  // ── Stored frame-fingerprint index (the video sibling of the code index) ──

  /** Materialize a video frame-fingerprint table — distinct (doc_id,
    * fh), the [[videoFrameFingerprints]] shape — at `path`: the
    * per-payload framing/hash pass paid ONCE per corpus version,
    * every subsequent containment search streams ~40-byte (id, md5)
    * rows instead of re-hashing payloads. Multi-row per doc (a bag of
    * frames, unlike the single-long perceptual codes), but the same
    * exact-append contract: rows are per-doc facts, the df/size
    * statistics live in [[frameContainmentPairs]] at query time. */
  def writeFrameIndex(frames: DataFrame, path: String,
      coalesceTo: Int = 8): Unit = {
    val f = frames.select(col("doc_id"), col("fh"))
    (if (coalesceTo > 0) f.coalesce(coalesceTo) else f)
      .write.mode("overwrite").parquet(path)
  }

  /** Fold new frame rows INTO the stored table — exact append,
    * replay-safe via a per-DOC anti-join (a doc's frame set is
    * deterministic in its payload, so doc presence == set presence;
    * a redelivered batch appends nothing). */
  def appendToFrameIndex(newFrames: DataFrame, path: String): Unit = {
    val spark = newFrames.sparkSession
    val fresh = newFrames.select(col("doc_id"), col("fh"))
      .join(spark.read.parquet(path).select(col("doc_id").as("__stored"))
          .distinct(),
        col("doc_id") === col("__stored"), "left_anti")
      .select(col("doc_id"), col("fh"))
    if (!fresh.isEmpty) fresh.coalesce(4).write.mode("append").parquet(path)
  }

  /** Build-once [[writeFrameIndex]] through [[graft.io.StoredIndex]].
    * `frames` is by-name — never computed on the warm path. */
  def ensureFrameIndex(spark: org.apache.spark.sql.SparkSession,
      frames: => DataFrame, path: String, coalesceTo: Int = 8): Unit =
    graft.io.StoredIndex.ensure(spark, path)(
      writeFrameIndex(frames, path, coalesceTo))

  /** Video near-dup pairs off the STORED frame table: the corpus
    * enters as (doc_id, fh) rows — no payload is framed or hashed at
    * query time (plan-pinned) — through the same containment join as
    * the ad-hoc form, so the pair list is bit-identical (shared
    * oracle). */
  def videoNearDupPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, minShared: Int = 2, thresholdPpm: Long = 500000L,
      maxDf: Int = 50): DataFrame =
    frameContainmentPairs(spark.read.parquet(path),
      minShared, thresholdPpm, maxDf)

  /** One arrival batch of the frame-index maintenance loop (the step
    * [[graft.streaming.Streams.ingestFrameStream]] drives): the
    * batch's media rows are framed/hashed once, land exactly-once in
    * `corpusRoot/batch=<id>` as frame rows, then fold exact-append
    * into the stored table. First batch builds from the accumulated
    * corpus. */
  def ingestFrameBatch(media: DataFrame, batchId: Long, indexPath: String,
      corpusRoot: String, frameSize: Int = 32): Unit = {
    val spark = media.sparkSession
    if (media.isEmpty) return
    val b = videoFrameFingerprints(media, frameSize)
    b.coalesce(4).write.mode("overwrite").parquet(s"$corpusRoot/batch=$batchId")
    if (!graft.io.IndexPaths.complete(spark, indexPath))
      writeFrameIndex(spark.read.parquet(corpusRoot)
        .select(col("doc_id"), col("fh")), indexPath)
    else appendToFrameIndex(spark.read.parquet(s"$corpusRoot/batch=$batchId"),
      indexPath)
  }

  // ── Media release card (per-modality forensics off stored artifacts) ──

  /** Per-modality release-forensics card composed ENTIRELY from
    * stored artifacts — the chunk MANIFEST (byte-level redundancy),
    * the perceptual CODE indexes (image aHash restricted to
    * image-modality docs at read time — one shared asset index,
    * consumers restrict, the pipeline-v7 idiom; audio fingerprint)
    * and the video FRAME index — so the whole report reads O(index)
    * rows and touches NO document payload (plan-pinned like every
    * *FromIndex read). The multimodal sibling of the text dataset
    * card: what a release manager reads before shipping a corpus
    * version.
    *
    * Per media_type: `n_docs`/`total_bytes` from the manifest (CDC
    * chunks partition each blob exactly, so byte sums ARE payload
    * sums); `dup_bytes_ppm` = bytes in chunks whose hash repeats
    * CORPUS-WIDE (the [[mediaRedundancy]] blob-store stance —
    * deliberately blind to modality and doc boundaries) as ppm of the
    * modality's bytes; `neardup_docs` = docs in ≥ 1 perceptual
    * near-dup pair; `neardup_clusters` = connected components among
    * them; `neardup_dropped` = docs a one-keeper-per-cluster release
    * would drop (docs − clusters).
    *
    * Scale shape: the manifest rollup is one hash-count join + one
    * modality aggregate (shuffle ∝ manifest rows, the TF-IDF shape);
    * each pair search is the stored-index machinery it reuses
    * (pigeonhole/containment, candidate-bounded); the per-modality
    * counts are one-row aggregates broadcast-assembled, so the final
    * join moves six rows. */
  def mediaCard(spark: org.apache.spark.sql.SparkSession,
      chunkPath: String, imageCodePath: String, audioCodePath: String,
      framePath: String, maxDist: Int = 3, audioBits: Int = 60)
      : DataFrame = {
    val chunks = spark.read.parquet(chunkPath)
      .select(col("doc_id"), col("media_type"), col("h"), col("n_bytes"))
    val cnt = chunks.groupBy(col("h")).agg(count(lit(1)).as("__c"))
    val bytes = chunks.join(cnt.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("media_type"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(when(col("__c") > 1L, col("n_bytes")).otherwise(lit(0L)))
          .as("__dup"))
      .withColumn("dup_bytes_ppm",
        expr("(__dup * 1000000) DIV total_bytes"))
      .select(col("media_type"), col("n_docs"), col("total_bytes"),
        col("dup_bytes_ppm"))
    // per-modality pair structure: one-row aggregates off each pair
    // search; pairs persisted — the doc rollup and the label rounds
    // sit on different exchanges of the expensive pigeonhole join
    def pairStats(mt: String, pairs: DataFrame): DataFrame = {
      val p = Caches.persist(pairs.select(col("doc_a"), col("doc_b")))
      val nd = p.select(col("doc_a").as("d"))
        .unionByName(p.select(col("doc_b").as("d"))).distinct()
        .agg(count(lit(1)).as("neardup_docs"))
      val nc = Dedup.dedupClusters(p)
        .agg(countDistinct(col("cluster")).as("neardup_clusters"))
      nd.crossJoin(nc).select(lit(mt).as("media_type"),
        col("neardup_docs"), col("neardup_clusters"),
        (col("neardup_docs") - col("neardup_clusters"))
          .as("neardup_dropped"))
    }
    // The three modality branches are INDEPENDENT (separate stored
    // artifacts, separate pair machinery, separate label rounds) and
    // each one's clustering materializes eagerly — run them from a
    // small thread pool so one branch's stage tails back-fill the
    // executors another branch leaves idle (guide §2.6: overlap
    // independent jobs; actions were only sequential because this
    // code called them sequentially). Results are combined by name,
    // so completion order cannot reorder the output.
    val branches = Seq(
      ("image", () => pairStats("image", Dedup.simhashPairs(
        spark.read.parquet(imageCodePath)
          .where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("code").as("simhash")),
        maxDist = maxDist, bits = 64))),
      ("audio", () => pairStats("audio", Dedup.simhashPairs(
        spark.read.parquet(audioCodePath)
          .select(col("doc_id"), col("code").as("simhash")),
        maxDist = maxDist, bits = audioBits))),
      ("video", () => pairStats("video",
        videoNearDupPairsFromIndex(spark, framePath))))
    implicit val ec: scala.concurrent.ExecutionContext =
      graft.operators.Caches.branchPool
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    // each branch runs under its own thread-local job group/description
    // (set INSIDE the future — a reused daemon pool thread would
    // otherwise inherit whatever properties the thread that created it
    // happened to carry), so a failed or timed-out branch can cancel
    // the OTHERS' in-flight jobs instead of leaving them racing the
    // caller's subsequent Caches.release(). The Await is FINITE: a
    // wedged branch fails the query loudly rather than hanging it
    // forever on the shared pool.
    val groupId = s"graft-mediaCard-${java.util.UUID.randomUUID()}"
    val futs = branches.map { case (mt, mk) =>
      scala.concurrent.Future {
        sc.setJobGroup(groupId, s"mediaCard: $mt branch",
          interruptOnCancel = true)
        try (mt, mk()) finally sc.clearJobGroup()
      }
    }
    val done =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs), 30.minutes).toMap
      catch {
        case t: Throwable =>
          sc.cancelJobGroup(groupId)
          // drain survivors briefly so no detached branch still reads
          // intermediates the caller is about to release
          futs.foreach(f => scala.util.Try(
            scala.concurrent.Await.ready(f, 30.seconds)))
          throw t
      }
    val prs = done("image").unionByName(done("audio"))
      .unionByName(done("video"))
    bytes.join(broadcast(prs), Seq("media_type"), "left")
      .select(col("media_type"), col("n_docs"), col("total_bytes"),
        col("dup_bytes_ppm"),
        coalesce(col("neardup_docs"), lit(0L)).as("neardup_docs"),
        coalesce(col("neardup_clusters"), lit(0L)).as("neardup_clusters"),
        coalesce(col("neardup_dropped"), lit(0L)).as("neardup_dropped"))
  }

  // ── Content-defined chunking (rolling-window CDC, LBFS/rsync family) ──

  /** Content-defined chunk table of a binary media column: a chunk
    * boundary falls wherever the 48-bit md5 of the `w`-byte window
    * ENDING at a position ≡ 0 (mod `modulus`) — so boundaries are a
    * property of local CONTENT, not of offsets, and an insertion in
    * one region moves only that region's boundaries (the rsync/LBFS
    * property fixed-size framing lacks; cf. [[frameSample]], the
    * fixed-size contrast). Expected chunk length = `modulus` bytes.
    *
    * Degenerate-run guard (`minLen`): a blob carrying a long run of
    * one repeated `w`-byte pattern has ONE window hash across the
    * run — if that hash ≡ 0 (mod `modulus`), pure CDC cuts at EVERY
    * position in the run: per-byte chunk rows and per-byte chunk
    * hashes, a quadratic-feeling blowup on exactly the low-entropy
    * padding real containers are full of. Raw cuts closer than
    * `minLen` are therefore collapsed: maximal chains of cuts with
    * consecutive gaps < `minLen` keep only their LAST cut. The
    * collapse is gap-based (not the greedy keep-if-far-enough walk),
    * so it stays a per-DOC window computation — the doc is the sort
    * unit, like the winnow minima — instead of a sequential fold, and
    * it replays in SQL (lag + running sum + max-per-cluster).
    * `minLen = 1` disables the merge (pure CDC).
    *
    * Scale shape: the cut set is a per-position PREDICATE
    * (embarrassingly parallel, whole-stage codegen'd hashes), the
    * run-collapse and boundary array are per-BLOB (partition key
    * doc_id — bounded rows per blob even in the degenerate case:
    * the blowup the guard prevents is in downstream chunk rows and
    * chunk-content hashes, not in the cut rows), chunk hashing is
    * row-local. Everything is md5 arithmetic over bytes → full SQL
    * oracle on the ASCII media fixture.
    *
    * Returns (doc_id, media_type, h — the chunk's md5, n_bytes). */
  def cdcChunks(media: DataFrame, w: Int = 4, modulus: Int = 64,
      minLen: Int = 16): DataFrame =
    cdcChunksBy(media, w, modulus, minLen,
      win => conv(substring(md5(win), 1, 12), 16, 10).cast("long"),
      chunk => md5(chunk))

  /** [[cdcChunks]] with the engine-internal xxhash64 in place of md5
    * for BOTH the window predicate and the chunk id — the SimHash
    * precedent: the md5 form is the SQL-oracle-replayable twin, this
    * is the production path (xxhash64 is one codegen'd 64-bit mix vs
    * md5's full digest + hex decode per position — the dominant cost
    * of chunking is `|blob|` window hashes; it still materializes and
    * hashes the full w-byte substring per position, so the cost grows
    * with `w` — [[cdcChunksRolling]] is the O(1)-per-byte recurrence
    * for realistic w=16–64). Same boundary CONTRACT
    * (content-local cuts, expected length, minLen collapse) but a
    * DIFFERENT cut set — spec-pinned to the contract (rsync
    * property, dedup stats within tolerance of the md5 form), not to
    * the cuts. Chunk id is the hex of the chunk's xxhash64 (64-bit —
    * fine for store membership; the md5 twin carries 128). */
  def cdcChunksFast(media: DataFrame, w: Int = 4, modulus: Int = 64,
      minLen: Int = 16): DataFrame =
    cdcChunksBy(media, w, modulus, minLen,
      win => xxhash64(win),
      chunk => lower(hex(xxhash64(chunk))))

  /** splitmix64 finalizer — the standard public-domain 64-bit mixer
    * (Steele/Lea/Flood, JDK SplittableRandom): seeds [[buzTable]]
    * deterministically so the rolling chunker needs no stored
    * randomness. */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The buzhash byte table: 256 fixed 64-bit values (splitmix64 of
    * the byte). A property of the CODE, not of any corpus — two
    * engines (or two years of batches) always agree. */
  private val buzTable: Array[Long] = Array.tabulate(256)(b => splitmix64(b.toLong))

  /** Buzhash (cyclic-polynomial) of the `w`-byte window ending at
    * byte index `end - 1`, computed DIRECTLY (O(w)) — the
    * cross-check twin of the O(1) recurrence inside
    * [[cdcChunksRolling]]; spec-pinned equal. */
  private[graft] def buzWindowHash(bytes: Array[Byte], end: Int, w: Int): Long = {
    var h = 0L
    var i = end - w
    while (i < end) {
      h = java.lang.Long.rotateLeft(h, 1) ^ buzTable(bytes(i) & 0xFF)
      i += 1
    }
    h
  }

  /** The cut positions (1-based window-end offsets) of the rolling
    * chunker: the O(1)-per-byte buzhash recurrence + the gap-based
    * minLen collapse (keep-LAST-of-chain — identical to the twins'
    * lag/sum/max SQL window: a cut survives iff its successor is
    * ≥ minLen away, or it is the final raw cut). Exposed package-
    * private so the spec can pin the recurrence against
    * [[buzWindowHash]]'s direct O(w) form at every position. */
  private[graft] def rollingCuts(c: Array[Byte], w: Int, mask: Long,
      minLen: Int): Seq[Int] = {
    val len = c.length
    val raw = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (len >= w) {
      var h = 0L
      var i = 0
      while (i < w) {
        h = java.lang.Long.rotateLeft(h, 1) ^ buzTable(c(i) & 0xFF)
        i += 1
      }
      if ((h & mask) == 0L) raw += w
      while (i < len) {
        // rotl(h,1) carries T[out] (inserted at rotl w-1) to rotl w —
        // one extra rotl-XOR removes it exactly
        h = java.lang.Long.rotateLeft(h, 1) ^
          java.lang.Long.rotateLeft(buzTable(c(i - w) & 0xFF), w) ^
          buzTable(c(i) & 0xFF)
        i += 1
        if ((h & mask) == 0L) raw += i
      }
    }
    if (minLen <= 1) raw.toSeq
    else raw.zipWithIndex.collect {
      case (cut, j) if j == raw.length - 1 || raw(j + 1) - cut >= minLen =>
        cut
    }.toSeq
  }

  /** TRUE rolling-hash CDC — the third chunker of the family
    * ([[cdcChunks]] md5 oracle twin / [[cdcChunksFast]] xxhash64 /
    * this): a buzhash cyclic polynomial whose per-position update is
    * ONE rotate + TWO table XORs — O(1) per byte regardless of `w` —
    * where both substring chunkers hash the full `w`-byte window at
    * every position (O(w) per byte: negligible at w=4, DOMINANT at
    * the w=16–64 a real storage-dedup deployment runs, where window
    * hashing is ~|blob|·w work). Same boundary CONTRACT as the twins
    * (content-local cuts — the rsync property; expected chunk length
    * = `modulus`; gap-based minLen run collapse keeping the LAST cut
    * of each chain, bit-equal to the SQL window collapse), a
    * DIFFERENT cut set (xor-rolling hash family — spec-pinned to the
    * contract and to the direct O(w) window hash, not to the twins'
    * cuts).
    *
    * Scale shape: ONE streaming pass per blob inside the scan task —
    * row-local fan-out like [[audioWindows]], no shuffle, constant
    * state (the running hash + the byte leaving the window); chunk
    * ids are xxhash64 over the chunk bytes, hashed BEFORE any
    * exchange so payload bytes never move. The per-row imperative
    * loop is the genuine article here — a rolling recurrence is
    * sequential by definition and has no per-position-independent
    * expression form (the documented [[pngTable]]/codec precedent).
    * `modulus` must be a power of two (the cut test is one mask).
    * Returns (doc_id, media_type, h, n_bytes) like the twins. */
  def cdcChunksRolling(media: DataFrame, w: Int = 16, modulus: Int = 64,
      minLen: Int = 16): DataFrame = {
    require(w >= 1 && minLen >= 1 && modulus >= 2 &&
      (modulus & (modulus - 1)) == 0,
      "rolling CDC needs a power-of-two modulus (the cut test is a mask)")
    import media.sparkSession.implicits._
    val mask = (modulus - 1).toLong
    val chunks = media
      .select(col("doc_id"), col("media_type"), col("content"))
      .as[MediaRow]
      .flatMap { m =>
        val c = m.content
        val len = c.length
        val cuts = rollingCuts(c, w, mask, minLen)
        val ends = if (cuts.nonEmpty && cuts.last == len) cuts else cuts :+ len
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Array[Byte], Long)]
        var st = 1
        ends.foreach { e =>
          if (e >= st) {
            out += ((m.doc_id, m.media_type,
              java.util.Arrays.copyOfRange(c, st - 1, e), (e - st + 1).toLong))
            st = e + 1
          }
        }
        out
      }
      .toDF("doc_id", "media_type", "__chunk", "n_bytes")
    chunks.select(col("doc_id"), col("media_type"),
      lower(hex(xxhash64(col("__chunk")))).as("h"), col("n_bytes"))
  }

  /** Shared chunking skeleton of [[cdcChunks]] (md5, oracle twin) and
    * [[cdcChunksFast]] (xxhash64, production): per-position window
    * hash → pmod cut predicate → per-doc minLen run collapse →
    * per-blob boundary array → row-local chunk hashing. */
  private def cdcChunksBy(media: DataFrame, w: Int, modulus: Int,
      minLen: Int, winHash: Column => Column,
      chunkHash: Column => Column): DataFrame = {
    require(w >= 1 && modulus >= 2 && minLen >= 1)
    import org.apache.spark.sql.expressions.Window
    val m = media.select(col("doc_id"), col("media_type"),
      col("content"), length(col("content")).cast("long").as("__L"))
    val raw = m
      .select(col("doc_id"), col("content"),
        explode(when(col("__L") >= w,
            sequence(lit(w.toLong), col("__L")))
          .otherwise(array().cast("array<long>"))).as("i"))
      .where(pmod(winHash(
          expr(s"substring(content, CAST(i - ${w - 1} AS INT), $w)")),
        lit(modulus.toLong)) === 0L)
      .select(col("doc_id"), col("i"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val merged =
      if (minLen <= 1) raw
      else raw
        .withColumn("__new",
          when(col("i") - lag(col("i"), 1).over(byDoc) < minLen, lit(0L))
            .otherwise(lit(1L)))
        .withColumn("__cl", sum(col("__new")).over(byDoc.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("__cl")).agg(max(col("i")).as("i"))
    val cuts = merged.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("i"))).as("__cuts"))
    m.join(cuts, Seq("doc_id"), "left")
      .withColumn("__ends",
        when(col("__cuts").isNull, array(col("__L")))
          .otherwise(when(element_at(col("__cuts"), -1) === col("__L"),
              col("__cuts"))
            .otherwise(concat(col("__cuts"), array(col("__L"))))))
      .select(col("doc_id"), col("media_type"), col("content"),
        col("__ends"), posexplode(col("__ends")).as(Seq("__j", "e")))
      .withColumn("st", when(col("__j") === 0, lit(1L))
        .otherwise(element_at(col("__ends"), col("__j")) + 1L))
      .where(col("e") >= col("st"))
      .select(col("doc_id"), col("media_type"),
        chunkHash(
          expr("substring(content, CAST(st AS INT), CAST(e - st + 1 AS INT))"))
          .as("h"),
        (col("e") - col("st") + 1L).as("n_bytes"))
  }

  /** Storage-dedup audit over a CDC chunk table: per media type, total
    * vs distinct chunks/bytes and the integer dedup ratio — what a
    * chunk-addressed blob store would save on this corpus. The
    * distinct side groups on the chunk hash (equal content ⇒ equal
    * length, so MAX(n_bytes) is exact). */
  def cdcDedupStats(chunks: DataFrame): DataFrame = {
    // NOT persisted, deliberately: the total and distinct rollups
    // consume the same chunk relation, and AQE's exchange reuse
    // already shares the expensive chunking pass between them — a
    // cache here was measured PURE overhead (q_media_redundancy
    // 10.5 → 12.9 s, q_corpus_pipeline_v6 40 → 57 s at 100×, then
    // reverted). Contrast the containment prepass, whose consumers
    // sit on DIFFERENT exchanges and do need the persist.
    val tot = chunks.groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_bytes")).as("n_bytes"))
    val dis = chunks.groupBy(col("media_type"), col("h"))
      .agg(max(col("n_bytes")).as("nb"))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("nb")).as("distinct_bytes"))
    tot.join(dis, Seq("media_type"))
      .withColumn("dedup_ppm",
        expr("((n_bytes - distinct_bytes) * 1000000) DIV n_bytes"))
  }

  /** Per-DOCUMENT media redundancy from a CDC chunk table: the ppm of
    * a doc's payload bytes that live in chunks whose hash occurs MORE
    * THAN ONCE corpus-wide (other docs or internal repeats — a
    * content-addressed blob store is corpus-global, so the count is
    * deliberately blind to media_type and doc boundaries). The
    * release-pipeline input: a doc whose media is mostly
    * already-stored bytes adds storage cost without adding training
    * signal — pipeline v6 prices this into the keep decision.
    *
    * Scale shape (the TF-IDF shape): one hash-keyed count aggregate,
    * one hash-keyed join back, one doc-keyed rollup — shuffle ∝ chunk
    * rows, never pairs; payload bytes never shuffle (only hashes and
    * lengths move). All-integer → exact SQL replay.
    * Returns (doc_id, media_dup_ppm); docs with no chunks are absent
    * (callers treat missing as 0). */
  def mediaRedundancy(chunks: DataFrame): DataFrame = {
    // not persisted — same exchange-reuse argument as
    // [[cdcDedupStats]] (measured there)
    val cnt = chunks.groupBy(col("h")).agg(count(lit(1)).as("__c"))
    chunks.join(cnt.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_bytes")).as("__tot"),
        sum(when(col("__c") > 1L, col("n_bytes")).otherwise(lit(0L)))
          .as("__dup"))
      .select(col("doc_id"),
        expr("(__dup * 1000000) DIV __tot").as("media_dup_ppm"))
  }

  /** The chunker behind the CDC store lifecycle, by hash FAMILY:
    * "md5" (the default) is the twin whose store replays in the SQL
    * oracles; "xx" is the xxhash64 substring path; "buz" is the
    * O(1)-per-byte rolling recurrence — the production choice at
    * realistic w=16–64. The family is part of the store's identity —
    * callers MUST content-address it into the index path (a store
    * probed with another family would read every chunk as novel,
    * silently); [[cdcParams]] is the canonical params string that
    * encodes the FULL identity, family included, so the choice cannot
    * diverge from the path. */
  private def chunker(media: DataFrame, w: Int, modulus: Int,
      minLen: Int, family: String): DataFrame = family match {
    case "md5" => cdcChunks(media, w, modulus, minLen)
    case "xx" => cdcChunksFast(media, w, modulus, minLen)
    case "buz" => cdcChunksRolling(media, w, modulus, minLen)
    case other => throw new IllegalArgumentException(
      s"unknown CDC hash family '$other' (md5 | xx | buz)")
  }

  /** Canonical content-address params string for a CDC chunk/manifest
    * store: every knob that changes the cut set or the chunk-id hash —
    * window, modulus, minLen, AND the hash family ("md5" | "xx" |
    * "buz") — is in the string, so two configs can never alias one
    * path. A params string without the family ("w4m64l16") once let
    * an xxhash64 caller probe an md5 store and read every chunk as
    * novel, silently; deriving the suffix here closes that. */
  def cdcParams(w: Int = 4, modulus: Int = 64, minLen: Int = 16,
      family: String = "md5"): String =
    s"w${w}m${modulus}l$minLen$family"

  /** Append one ingest batch's FULL chunk table — (doc_id,
    * media_type, h, n_bytes), the blob store's chunk MANIFEST, not
    * just the distinct-hash membership of [[writeCdcIndex]] — to the
    * batch-partitioned index at `path/batch=<id>`. Rows are facts
    * keyed by (doc_id, position), so partials are trivially additive
    * across any document partition of the corpus (the card-index
    * algebra with identity cells); idempotent per-batch overwrite.
    * This is what moves the expensive media pass offline: chunking is
    * ~|blob| window hashes per document, while every downstream
    * redundancy read is hash-keyed arithmetic over ~corpus/minLen
    * manifest rows. */
  def appendToChunkIndex(media: DataFrame, path: String, batchId: Long,
      w: Int = 4, modulus: Int = 64, minLen: Int = 16,
      coalesceTo: Int = 1, family: String = "md5"): Unit = {
    val ch = chunker(media, w, modulus, minLen, family)
    (if (coalesceTo > 0) ch.coalesce(coalesceTo) else ch)
      .write.mode("overwrite").parquet(s"$path/batch=$batchId")
  }

  /** [[mediaRedundancy]] off the stored chunk manifest — NO document
    * payload is read or chunked (plan-pinned): global hash counts sum
    * across batch partials at read time, so the audit is RETROACTIVE
    * like [[graft.operators.TextAnalysis.cardFromIndex]]'s dup rule —
    * a doc whose chunk is repeated by a LATER batch starts pricing as
    * redundant the moment that batch lands. Bit-identical to the
    * ad-hoc form over the concatenated batches (spec-pinned, shared
    * oracle). */
  def mediaRedundancyFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    mediaRedundancy(spark.read.parquet(path)
      .select(col("doc_id"), col("media_type"), col("h"), col("n_bytes")))

  /** Crash-safe compaction for the chunk manifest: rows are facts
    * (identity fold — the read applies no batch-level aggregate), so
    * compaction is a pure file-count rewrite through the
    * folded-manifest protocol. */
  def compactChunkIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 1, keepLast: Int = 1): Unit =
    graft.io.Compaction.foldBatches(spark, path, targetFiles,
      keepLast)(identity)

  /** Build-once chunk manifest through
    * [[graft.io.StoredIndex.ensureBatches]]: `build` receives only the
    * genuinely missing batch ids, so a rebuild after `batchIds` grows
    * past a compaction never re-creates (and double-counts)
    * already-folded ones. */
  def ensureChunkIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batchIds: Seq[Long])(build: Seq[Long] => Unit): Unit =
    graft.io.StoredIndex.ensureBatches(spark, path, Nil, batchIds)(build)

  /** Materialize the corpus CDC chunk-hash store — one row per
    * DISTINCT (media_type, h) with the chunk length: the membership
    * table a chunk-addressed blob store keeps. Offline half of
    * [[incrementalCdcStats]]. */
  def writeCdcIndex(media: DataFrame, path: String, w: Int = 4,
      modulus: Int = 64, minLen: Int = 16, coalesceTo: Int = 1,
      family: String = "md5"): Unit = {
    val d = chunker(media, w, modulus, minLen, family)
      .groupBy(col("media_type"), col("h"))
      .agg(max(col("n_bytes")).as("n_bytes"))
    (if (coalesceTo > 0) d.coalesce(coalesceTo) else d)
      .write.mode("overwrite").parquet(path)
  }

  /** Build-once [[writeCdcIndex]] through [[graft.io.StoredIndex]]. */
  def ensureCdcIndex(media: => DataFrame, path: String, w: Int = 4,
      modulus: Int = 64, minLen: Int = 16, family: String = "md5"): Unit =
    graft.io.StoredIndex.ensure(org.apache.spark.sql.SparkSession.active,
      path)(writeCdcIndex(media, path, w, modulus, minLen, family = family))

  /** Dedup-on-arrival audit of an ingest batch against the stored
    * chunk store: chunk ONLY the batch, probe the store by hash
    * (pruned to the batch's hashes — at scale a bucket-pruned read),
    * and report per media type what a chunk-addressed store would
    * actually write: the batch's total chunks/bytes, its NOVEL
    * distinct chunks/bytes (hashes absent from the store), and the
    * saved ppm. Order-free by construction (novelty is a set
    * property, not an arrival-order one), so the whole audit replays
    * in SQL. Work ∝ batch chunks + probed store rows. */
  def incrementalCdcStats(newMedia: DataFrame,
      spark: org.apache.spark.sql.SparkSession, path: String,
      w: Int = 4, modulus: Int = 64, minLen: Int = 16,
      family: String = "md5"): DataFrame = {
    val ch = graft.operators.Caches.persist(
      chunker(newMedia, w, modulus, minLen, family))
    val stored = spark.read.parquet(path)
      .join(ch.select(col("media_type"), col("h")).distinct(),
        Seq("media_type", "h"), "left_semi")
    val novel = ch.groupBy(col("media_type"), col("h"))
      .agg(max(col("n_bytes")).as("nb"))
      .join(stored, Seq("media_type", "h"), "left_anti")
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("novel_chunks"), sum(col("nb")).as("novel_bytes"))
    ch.groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_bytes")).as("n_bytes"))
      .join(novel, Seq("media_type"), "left")
      .withColumn("novel_chunks", coalesce(col("novel_chunks"), lit(0L)))
      .withColumn("novel_bytes", coalesce(col("novel_bytes"), lit(0L)))
      .withColumn("saved_ppm",
        expr("((n_bytes - novel_bytes) * 1000000) DIV n_bytes"))
  }

  /** One arrival batch of the CDC dedup-on-arrival LOOP (the step
    * [[graft.streaming.Streams.ingestCdcStream]] drives per
    * micro-batch, also batch-evaluable for the oracle-checked query):
    * chunk the batch ONCE (one persisted chunk table feeds both the
    * audit and the fold — the ingestDedupBatch
    * signature-computed-once precedent), write the arrival AUDIT —
    * what a chunk-addressed blob store would actually store for this
    * batch: totals, novel distinct chunks/bytes vs the store, saved
    * ppm — to `auditRoot/batch=<id>`, then fold the novel hashes into
    * the store.
    *
    * Replay contract under at-least-once delivery: the audit is
    * FIRST-DELIVERY-WINS (a completed audit dir is never recomputed —
    * a replay AFTER the fold would otherwise re-audit against a store
    * that already absorbed the batch and report zero novelty), and
    * the fold is membership-idempotent (novel = anti-join on stored
    * hashes, so a replayed batch appends nothing). Crash anywhere
    * between the two: the replay skips the completed audit and
    * completes the fold. First batch bootstraps the store
    * (overwrite = [[writeCdcIndex]] semantics; its audit reads
    * all-distinct-novel). Work ∝ batch chunks + probed store rows. */
  def ingestCdcBatch(media: DataFrame, batchId: Long, indexPath: String,
      auditRoot: String, w: Int = 4, modulus: Int = 64, minLen: Int = 16,
      family: String = "md5", coalesceTo: Int = 1): Unit = {
    val spark = media.sparkSession
    if (media.isEmpty) return
    val sub = s"$auditRoot/batch=$batchId"
    val auditDone = graft.io.IndexPaths.complete(spark, sub)
    val first = !graft.io.IndexPaths.complete(spark, indexPath)
    val ch = Caches.persist(chunker(media, w, modulus, minLen, family))
    try {
      val d = ch.groupBy(col("media_type"), col("h"))
        .agg(max(col("n_bytes")).as("nb"))
      val fresh = Caches.persist(
        if (first) d
        else d.join(
          spark.read.parquet(indexPath)
            .join(d.select(col("media_type"), col("h")),
              Seq("media_type", "h"), "left_semi"),
          Seq("media_type", "h"), "left_anti"))
      if (!auditDone) {
        val novel = fresh.groupBy(col("media_type"))
          .agg(count(lit(1)).as("novel_chunks"),
            sum(col("nb")).as("novel_bytes"))
        ch.groupBy(col("media_type"))
          .agg(count(lit(1)).as("n_chunks"), sum(col("n_bytes")).as("n_bytes"))
          .join(novel, Seq("media_type"), "left")
          .withColumn("novel_chunks", coalesce(col("novel_chunks"), lit(0L)))
          .withColumn("novel_bytes", coalesce(col("novel_bytes"), lit(0L)))
          .withColumn("saved_ppm",
            expr("((n_bytes - novel_bytes) * 1000000) DIV n_bytes"))
          .coalesce(1).write.mode("overwrite").parquet(sub)
      }
      val out = fresh.select(col("media_type"), col("h"),
        col("nb").as("n_bytes"))
      if (first)
        out.coalesce(coalesceTo).write.mode("overwrite").parquet(indexPath)
      else if (!fresh.isEmpty)
        out.coalesce(coalesceTo).write.mode("append").parquet(indexPath)
    } finally Caches.release()
  }

  /** Fold an admitted batch's NOVEL chunk hashes into the store —
    * membership-idempotent (a replayed batch appends nothing),
    * append-only. */
  def appendToCdcIndex(newMedia: DataFrame,
      spark: org.apache.spark.sql.SparkSession, path: String,
      w: Int = 4, modulus: Int = 64, minLen: Int = 16,
      coalesceTo: Int = 1, family: String = "md5"): Unit = {
    val d = chunker(newMedia, w, modulus, minLen, family)
      .groupBy(col("media_type"), col("h"))
      .agg(max(col("n_bytes")).as("n_bytes"))
    val fresh = d.join(
      spark.read.parquet(path).join(
        d.select(col("media_type"), col("h")),
        Seq("media_type", "h"), "left_semi"),
      Seq("media_type", "h"), "left_anti")
    (if (coalesceTo > 0) fresh.coalesce(coalesceTo) else fresh)
      .write.mode("append").parquet(path)
  }
}
