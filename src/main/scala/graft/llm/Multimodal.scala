package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, T}

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata, plus decode/feature plumbing.
  *
  * Design for real media at 100 TB:
  *  - storage: parquet with a `binary` payload column + metadata
  *    columns (mime, dims/duration, byte length) — payloads never
  *    leave the executor; all pruning happens on metadata columns so
  *    a metadata-only query reads none of the bytes. That property is
  *    not a comment: q102 runs against a staged payload+metadata
  *    table and PlanSpec pins that its scan's ReadSchema excludes the
  *    payload column (parquet column pruning — the scan cost of a
  *    metadata query is independent of media size).
  *  - decode/feature-extract: batched per-partition UDFs
  *    ([[MediaBatch.mapDecoded]], [[MediaBatch.features]]) so a codec
  *    context is initialized once per partition, not per row — the
  *    Scala analogue of a PySpark `mapInPandas` batch UDF. q103
  *    oracle-gates the feature path end-to-end (byte-exact stats both
  *    engines).
  *  - the IMAGE codec is REAL (round 12): [[MediaCodec.decode]] is
  *    `javax.imageio` (public JDK — same `ImageIO.read` entry point
  *    for PNG and JPEG), and q128 oracle-gates it end-to-end: the
  *    staged fixture holds real PNGs encoded from a deterministic
  *    per-pixel formula, the query decodes them and sums the channels,
  *    and the DuckDB oracle recomputes the identical sums from the
  *    formula — PNG is lossless, so any decode deviation flips the
  *    hash red. The AUDIO codec is real too (round 14, q134:
  *    `javax.sound.sampled` PCM WAV with a three-way ok / truncated /
  *    quarantined fold), and round 14 closes the FRAME-SAMPLING stub
  *    with a real multi-frame decode: [[GifCodec]] reads animated GIF
  *    — the one multi-frame container the public JDK can both write
  *    and read — samples {first, middle, last} frames, and q145
  *    oracle-gates per-frame pixel sums arithmetically (indexed
  *    grayscale round-trips bit-exactly). Round 15 closes the LAST
  *    simulated path — VIDEO: [[Y4mCodec]] writes and demuxes real
  *    YUV4MPEG2 streams (the uncompressed interchange container
  *    `ffmpeg -f yuv4mpegpipe` emits; pure JVM, no external deps),
  *    seeks by offset arithmetic, samples {first, middle, last}
  *    frames, and q153 oracle-gates per-plane sums arithmetically.
  *    [[MediaStub.decode]] is now ONLY a batch-shape test double
  *    (LlmVectorSpec) for compressed containers the JVM cannot demux
  *    (mp4/webm): every decode family on the query board — image,
  *    audio, multi-frame, video — is a real codec.
  */
object Multimodal {

  /** Typed media record: payload + metadata travel together. */
  final case class Media(doc_id: Long, bytes: Array[Byte], mime: String, byteLen: Long)
  final case class Frame(doc_id: Long, frameIdx: Int, fragHex: String)
  /** Per-media scalar features over the payload's first `n_used`
    * bytes — the stand-in for a real embedding/EXIF/histogram pass. */
  final case class MediaFeat(doc_id: Long, n_used: Int, byte_sum: Long, byte_max: Int)

  object MediaStub {
    /** STUB — stands in for a real image/audio decoder. Deterministic:
      * "frame" f is the 8-byte slice at offset 1 + 7·f, hex-encoded.
      * Replace with a codec call; the batch shape stays identical. */
    def decode(m: Media, frames: Int): Seq[Frame] =
      (0 until frames).map { f =>
        val off = 1 + 7 * f
        val slice = m.bytes.slice(off, off + 8)
        Frame(m.doc_id, f, slice.map("%02X".format(_)).mkString)
      }
  }

  /** Decoded-image scalar features: dimensions + exact per-channel
    * sums — the real-decoder analogue of [[MediaFeat]]. */
  final case class ImgStat(doc_id: Long, width: Int, height: Int,
      n_px: Long, r_sum: Long, g_sum: Long, b_sum: Long)

  /** REAL image codec (round 12 — closes the declared stub gate for
    * images): `javax.imageio.ImageIO.read` is format-sniffing, so the
    * same call decodes PNG and JPEG payloads; channel stats come off
    * the decoded raster. PNG is lossless, which is what lets q128's
    * DuckDB oracle recompute the exact channel sums from the fixture's
    * generative pixel formula — a decoder that mangles dimensions,
    * channel order, or any pixel value hash-mismatches. (JPEG decodes
    * through the identical path but is lossy, so only its dimensions
    * are oracle-exact — which is exactly what q129's mixed-mime gate
    * checks, alongside the corrupt-payload quarantine.) */
  /** Decode-or-quarantine record: a hostile or truncated payload must
    * land as a COUNTED row, never an executor exception — at 100 TB a
    * corpus WILL contain undecodable media, and one bad byte-run
    * killing the stage is the difference between a pipeline and a
    * demo. `status` is 'ok' or 'quarantined'; stats are null for
    * quarantined rows. */
  final case class ImgStatQ(doc_id: Long, mime: String, status: String,
      width: Option[Int], height: Option[Int], n_px: Option[Long])

  object MediaCodec {
    def decode(docId: Long, bytes: Array[Byte]): ImgStat = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"undecodable image payload for doc $docId")
      val w = img.getWidth; val h = img.getHeight
      var rs = 0L; var gs = 0L; var bs = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
          x += 1
        }
        y += 1
      }
      ImgStat(docId, w, h, w.toLong * h, rs, gs, bs)
    }

    /** Total decode: both ImageIO failure modes — `null` return (bytes
      * match no registered reader, e.g. pure garbage) and a thrown
      * `IIOException`/`Error` mid-parse (a reader claimed the payload
      * by its magic bytes, then hit the truncation) — fold to the same
      * quarantined row. The catch covers NonFatal plus OutOfMemoryError:
      * a hostile payload can declare huge dimensions and make the reader
      * allocate its raster before parsing fails (the decompression-bomb
      * case this quarantine exists for), which surfaces as OOME, not an
      * Exception. Other Errors (LinkageError, ThreadDeath, ...) are JVM
      * faults, not payload faults, and must still kill the task. */
    def decodeSafe(docId: Long, mime: String, bytes: Array[Byte]): ImgStatQ =
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) ImgStatQ(docId, mime, "quarantined", None, None, None)
        else ImgStatQ(docId, mime, "ok", Some(img.getWidth), Some(img.getHeight),
          Some(img.getWidth.toLong * img.getHeight))
      } catch {
        case scala.util.control.NonFatal(_) =>
          ImgStatQ(docId, mime, "quarantined", None, None, None)
        case _: OutOfMemoryError =>
          ImgStatQ(docId, mime, "quarantined", None, None, None)
      }
  }

  /** Decoded-audio record (the WAV analogue of [[ImgStatQ]], round
    * 14 — closes the last declared multimodal stub). Three statuses,
    * one per real-world failure class the probe run demonstrated:
    * 'ok' (header + declared frame count + payload all agree),
    * 'truncated' (the header PARSES but the data chunk delivers fewer
    * frames than it declares — javax.sound surfaces NO error for
    * this, so an integrity check the decoder does itself is the only
    * defense), 'quarantined' (the parser throws — header-mangled or
    * magic-less payloads). Stats are the decoded PREFIX for
    * 'truncated' (proving byte-exact partial reads), null for
    * 'quarantined'. */
  final case class WavStatQ(doc_id: Long, status: String,
      sample_rate: Option[Int], n_samples: Option[Long],
      amp_sum: Option[Long], amp_max: Option[Int])

  /** REAL audio codec via `javax.sound.sampled` (public JDK — the
    * audio counterpart of [[MediaCodec]]'s `javax.imageio`). PCM WAV
    * is lossless, so q134's oracle recomputes the exact decoded
    * sample statistics from the fixture's generative formula — any
    * deviation in header parsing, endianness, sign handling, or
    * truncation accounting flips the hash. */
  object WavCodec {
    /** The deterministic test signal: doc `id` has 64 + id%33 16-bit
      * samples, sample i = ((id·7919 + i·4421) mod 65536) − 32768 —
      * exact BIGINT arithmetic in both engines (the q128 formula
      * discipline, one dimension instead of two). */
    def sampleAt(id: Long, i: Int): Int =
      (((id * 7919 + i * 4421L) % 65536) - 32768).toInt
    def nSamples(id: Long): Int = (64 + id % 33).toInt

    /** Encode 16-bit signed little-endian mono PCM at `rate` Hz into
      * a complete WAV container. Runs IN THE EXECUTORS ([[wavTable]]);
      * the driver never holds audio bytes. */
    def encodeWav(samples: Array[Short], rate: Float): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        data(2 * i) = (samples(i) & 0xFF).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Total decode with the three-way status fold (see [[WavStatQ]]).
      * The truncation check exists because `javax.sound` does NOT
      * error on a short data chunk — it silently returns the bytes
      * present (probed directly: a half-cut file with declFrames=73
      * read back 25 frames, no exception). Catches NonFatal + OOME
      * like [[MediaCodec.decodeSafe]]; other Errors are JVM faults
      * and still kill the task. */
    /** Load the platform's audio file readers ONCE (public SPI, same
      * classes `AudioSystem.getAudioInputStream` dispatches to):
      * every AudioSystem call funnels through a SYNCHRONIZED static
      * provider lookup (JDK13Services.getProviders), which serialized
      * the 32-way decode stage once the staged wav table went
      * multi-part (round 21 — q134 isolated cold 2.3 s contended vs
      * 0.7 s single-task; with per-partition readers it reads ~0.6 s).
      * The AviCodec.newJpegReader discipline applied to audio. */
    def newReaders(): Seq[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toSeq
        // EXCLUDE the MIDI-synthesis reader (thread-dumped, round 21):
        // SoftMidiAudioFileReader.getAudioInputStream calls
        // MidiSystem.getMidiFileReaders → JDK13Services.getProviders,
        // SYNCHRONIZED on a JVM-global class — 31 of 32 decode tasks
        // sat BLOCKED on that monitor (26 s runtime vs 1.9 s CPU for
        // the stage). Excluding it cannot change any result: a RIFF
        // payload is never claimed by the MIDI reader (MThd magic),
        // and a hypothetical MIDI-claimed payload synthesizes stereo
        // PCM that fails the mono-16-bit require below into the SAME
        // quarantined row a no-reader payload gets.
        .filterNot(_.getClass.getName.toLowerCase.contains("midi"))
    }

    /** Registry-dispatching form (tests / one-shot callers): resolves
      * readers through [[newReaders]] per call — correct everywhere,
      * but inside a decode STAGE pass a per-partition reader list to
      * the 3-arg form instead. */
    def decodeSafe(docId: Long, bytes: Array[Byte]): WavStatQ =
      decodeSafe(docId, bytes, newReaders())

    def decodeSafe(docId: Long, bytes: Array[Byte],
                   readers: Seq[javax.sound.sampled.spi.AudioFileReader]): WavStatQ =
      try {
        import javax.sound.sampled._
        val ais = readers.view.flatMap { r =>
          // a reader that does not claim the payload throws
          // UnsupportedAudioFileException — same contract AudioSystem
          // itself iterates on
          try Some(r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes)))
          catch { case _: UnsupportedAudioFileException => None }
        }.headOption.getOrElse(throw new UnsupportedAudioFileException(
          s"no reader claims payload for doc $docId"))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED && !fmt.isBigEndian,
          s"unexpected wav format for doc $docId: $fmt")
        val declared = ais.getFrameLength // from the header, may exceed reality
        val data = ais.readAllBytes()
        val n = data.length / 2 // floor: a dangling odd byte can't be a sample
        var sum = 0L; var mx = Int.MinValue; var i = 0
        while (i < n) {
          val v = (data(2 * i + 1).toInt << 8) | (data(2 * i) & 0xFF)
          sum += v; if (v > mx) mx = v; i += 1
        }
        val status =
          if (declared != AudioSystem.NOT_SPECIFIED && n < declared) "truncated"
          else "ok"
        WavStatQ(docId, status, Some(fmt.getSampleRate.toInt),
          Some(n.toLong), Some(sum), Some(mx))
      } catch {
        case scala.util.control.NonFatal(_) =>
          WavStatQ(docId, "quarantined", None, None, None, None)
        case _: OutOfMemoryError =>
          WavStatQ(docId, "quarantined", None, None, None, None)
      }
  }

  /** Sampled-frame record (the multi-frame analogue of [[ImgStatQ]],
    * round 14 — closes the frame-sampling stub with a REAL decoder).
    * One row per SAMPLED frame for decodable payloads; one null row
    * for quarantined ones. `status` is per-doc: 'ok' (decoded frame
    * count matches the catalog's expectation), 'short' (the container
    * silently delivered fewer frames — see [[GifCodec]] on why GIF
    * cannot self-report this), 'quarantined' (the parser threw). */
  final case class GifFrameQ(doc_id: Long, status: String,
      frame_idx: Option[Int], width: Option[Int], height: Option[Int],
      px_sum: Option[Long])

  /** REAL multi-frame codec via `javax.imageio`'s GIF plugin (public
    * JDK — the only container the JDK can both write AND read with
    * multiple frames, so it is the honest stand-in for video frame
    * sampling: seek, per-frame decode, sampled subset). Indexed
    * grayscale frames round-trip bit-exactly (probed across all 200
    * fixture shapes), which is what lets q145's oracle recompute every
    * sampled frame's pixel sum from the generative formula.
    *
    * The failure modes, probed directly (all 200 fixture shapes):
    *  - header-cut (16 bytes): the GIF reader claims the payload by
    *    magic, then `getNumImages(true)` throws — the quarantine path;
    *  - tail-cut (last 10 bytes): NO error anywhere — the reader
    *    counts nf−1 frames and decodes them exactly. GIF carries no
    *    declared frame count (frames are concatenated until the
    *    trailer byte), so mid-stream truncation is UNDETECTABLE from
    *    the container alone; the only defense is cross-checking an
    *    expected frame count carried by catalog metadata — exactly
    *    the declared-vs-actual discipline [[WavCodec.decodeSafe]]
    *    applies where WAV's header DOES declare a length. */
  object GifCodec {
    /** The deterministic test animation: doc `id` has 2 + id%3 frames
      * of 8+id%9 × 8+id%7 pixels; frame f's pixel (x,y) is the gray
      * value (id·7 + f·17 + x·5 + y·3) mod 256 — exact BIGINT
      * arithmetic in both engines (the q128 formula discipline plus a
      * frame axis). */
    def grayAt(id: Long, f: Int, x: Int, y: Int): Int =
      ((id * 7 + f * 17 + x * 5 + y * 3) % 256).toInt
    def nFrames(id: Long): Int = (2 + id % 3).toInt

    private def grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate[Byte](256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    private def formulaFrame(id: Long, f: Int): java.awt.image.BufferedImage = {
      import java.awt.image.BufferedImage
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, grayAt(id, f, x, y)); x += 1 }
        y += 1
      }
      img
    }

    /** Encode the formula animation as a multi-frame GIF. Runs IN THE
      * EXECUTORS ([[gifTable]]); the driver never holds image bytes. */
    def encodeGif(id: Long): Array[Byte] = {
      import javax.imageio._
      val wr = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      // MemoryCache, NOT ImageIO.createImageOutputStream: the factory
      // default is a FileCache stream — one temp file + fd per payload,
      // 5000 per staging pass for zero benefit on an in-memory buffer
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        wr.setOutput(ios)
        wr.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames(id)) {
          wr.writeToSequence(new IIOImage(formulaFrame(id, f), null, null), null)
          f += 1
        }
        wr.endWriteSequence()
      } finally { ios.close(); wr.dispose() }
      bos.toByteArray
    }

    /** Total sampled decode: count the frames actually present, flag
      * 'short' when the container under-delivers vs the catalog's
      * `expected` (the silent tail-truncation mode — GIF raises
      * nothing), sample {first, middle, last} of the PRESENT frames
      * and decode only those (the frame-sampling semantics: a 10k-
      * frame video costs 3 decodes, not 10k). Parser throw / no
      * claiming reader / zero frames → one counted quarantine row;
      * catches NonFatal + OOME like [[MediaCodec.decodeSafe]]. */
    def decodeSampledSafe(docId: Long, expected: Int, bytes: Array[Byte]): Seq[GifFrameQ] =
      try {
        import javax.imageio.ImageIO
        // MemoryCache, NOT ImageIO.createImageInputStream: the factory
        // default is a FileCache stream — a temp file + fd per payload
        // that outlives the call unless closed, and a decode pass
        // touches EVERY payload (the leak surfaced as 'Too many open
        // files' after ~4 full-table evaluations in one probe session);
        // closed in the finally regardless
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext)
            Seq(GifFrameQ(docId, "quarantined", None, None, None, None))
          else {
            val rd = readers.next()
            try {
              rd.setInput(iis)
              val n = rd.getNumImages(true) // scans to EOF; throws on a header cut
              if (n <= 0) Seq(GifFrameQ(docId, "quarantined", None, None, None, None))
              else {
                val status = if (n < expected) "short" else "ok"
                Seq(0, n / 2, n - 1).distinct.map { f =>
                  val img = rd.read(f)
                  val w = img.getWidth; val h = img.getHeight
                  var s = 0L; var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) { s += img.getRGB(x, y) & 0xFF; x += 1 }
                    y += 1
                  }
                  GifFrameQ(docId, status, Some(f), Some(w), Some(h), Some(s))
                }
              }
            } finally rd.dispose()
          }
        } finally iis.close()
      } catch {
        case scala.util.control.NonFatal(_) =>
          Seq(GifFrameQ(docId, "quarantined", None, None, None, None))
        case _: OutOfMemoryError =>
          Seq(GifFrameQ(docId, "quarantined", None, None, None, None))
      }
  }

  /** Sampled video-frame record (round 15 — closes the LAST simulated
    * decode path: video). One row per SAMPLED frame for decodable
    * payloads; one null row for quarantined ones. `status` is per-doc
    * with the q134/q145 three-way fold: 'ok', 'short' (the stream
    * delivered fewer complete frames than the catalog expects — raw
    * y4m, like GIF, carries NO frame count, so mid-stream truncation
    * is undetectable from the container alone), 'quarantined'. */
  final case class Y4mFrameQ(doc_id: Long, status: String,
      frame_idx: Option[Int], width: Option[Int], height: Option[Int],
      y_sum: Option[Long], u_sum: Option[Long], v_sum: Option[Long])

  final case class Y4mDeltaQ(doc_id: Long, status: String,
      frame_idx: Option[Int], y_sad: Option[Long], sad_px_milli: Option[Long])

  /** REAL video codec: YUV4MPEG2 (y4m), the standard uncompressed
    * video interchange container (mjpegtools; what `ffmpeg -f yuv4mpegpipe`
    * emits) — an ASCII parameter header (`YUV4MPEG2 W.. H.. F.. C..`)
    * followed by `FRAME\n`-delimited raw planes. Pure JVM on both
    * sides (~60 lines to write and parse, zero external deps — the JDK
    * ships no compressed-video demuxer), and LOSSLESS, so q153's
    * DuckDB oracle recomputes every sampled frame's per-plane sums
    * arithmetically from the generative formula: any header-parse,
    * plane-order, or offset-arithmetic deviation flips the hash.
    * Colourspaces (round 16, VERDICT r15 item 3): C444 (full-res
    * Y/U/V) AND C420 with its aliases (C420jpeg/C420mpeg2/C420paldv —
    * identical plane GEOMETRY, they differ only in chroma siting,
    * which changes no byte offsets), because real-world
    * `ffmpeg -f yuv4mpegpipe` output DEFAULTS to 4:2:0 — a demuxer
    * that quarantines ffmpeg's default emission fails the "ingest
    * what production actually emits" bar. C420 chroma planes are
    * (w/2)·(h/2) (even dims required by the format; odd-dim C420 is
    * malformed → quarantine), and the fixture GENERATES chroma at
    * half resolution, so there is no subsampling-average rounding to
    * replicate — both engines sum the identical half-res grid.
    *
    * Frame SEEKING is arithmetic: after the stream header every frame
    * is `FRAME\n` + 3·w·h plane bytes, so sampling {first, middle,
    * last} of a 10k-frame video costs one header scan (6 bytes per
    * frame marker, plane bytes skipped by offset) plus 3 plane-sum
    * reads — no decode of unsampled frames, the property q145 pins
    * for GIF and a real video pipeline needs at 100 TB.
    *
    * Failure modes, mirroring [[GifCodec]]'s probed taxonomy:
    *  - header-cut (6 bytes): no newline / bad magic → the parser
    *    throws — the quarantine path;
    *  - tail-cut (last 10 bytes): a frame's plane data is ≥ 96 bytes
    *    (1.5·8·8, the smallest C420 frame; C444 frames are ≥ 192),
    *    so the cut always lands mid-plane — the final frame is
    *    incomplete, the decoder counts only COMPLETE frames and raises
    *    nothing (raw streams have no trailer), detectable ONLY against
    *    the catalog's expected_frames — the q145 discipline. */
  object Y4mCodec {
    /** The deterministic test clip: doc `id` has 2 + id%4 frames of
      * 8+id%9 × 8+id%7 pixels; frame f's pixel (x,y) planes are the
      * q128 channel formulas with a frame axis — exact BIGINT
      * arithmetic in both engines. */
    def yAt(id: Long, f: Int, x: Int, y: Int): Int = ((id * 7 + f * 17 + x * 5 + y * 3) % 256).toInt
    def uAt(id: Long, f: Int, x: Int, y: Int): Int = ((id * 11 + f * 5 + x * 2 + y * 7) % 256).toInt
    def vAt(id: Long, f: Int, x: Int, y: Int): Int = ((id * 13 + f * 3 + x * 3 + y) % 256).toInt
    def nFrames(id: Long): Int = (2 + id % 4).toInt

    /** The fixture's per-doc colourspace: odd docs whose dims are both
      * even carry C420 (the `ffmpeg -f yuv4mpegpipe` default — the
      * real-world case), everything else C444. Pure arithmetic so the
      * DuckDB oracle replicates the same split. */
    def is420(id: Long): Boolean = {
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      id % 2 == 1 && w % 2 == 0 && h % 2 == 0
    }

    /** Encode the formula clip as YUV4MPEG2 — C420 (half-res chroma
      * planes, generated directly on the half grid) for [[is420]]
      * docs, C444 otherwise. Runs IN THE EXECUTORS ([[y4mTable]]);
      * the driver never holds video bytes. */
    def encodeY4m(id: Long): Array[Byte] = {
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      val sub = is420(id)
      val cs = if (sub) "420" else "444"
      val (cw, ch) = if (sub) (w / 2, h / 2) else (w, h)
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C$cs\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var f = 0
      while (f < nFrames(id)) {
        bos.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        var plane = 0
        while (plane < 3) {
          val (pw, ph) = if (plane == 0) (w, h) else (cw, ch)
          var y = 0
          while (y < ph) {
            var x = 0
            while (x < pw) {
              val v = plane match {
                case 0 => yAt(id, f, x, y)
                case 1 => uAt(id, f, x, y)
                case _ => vAt(id, f, x, y)
              }
              bos.write(v)
              x += 1
            }
            y += 1
          }
          plane += 1
        }
        f += 1
      }
      bos.toByteArray
    }

    private def nextNl(bytes: Array[Byte], from: Int): Int = {
      var i = from
      while (i < bytes.length && bytes(i) != 0x0A) i += 1
      if (i < bytes.length) i else -1
    }

    /** Header + complete-frame-offset parse shared by the sampled
      * decode (q153) and the scene-delta decode (q212): returns
      * (w, h, chroma plane cells, complete-frame offsets). THROWS on
      * malformed input — callers wrap it in their quarantine
      * envelope. Factored so the two decoders cannot drift on the
      * format rules (colourspaces, bomb guard, tail-cut census). */
    private def parseStream(docId: Long, bytes: Array[Byte])
        : (Int, Int, Int, scala.collection.mutable.ArrayBuffer[Int]) = {
        val nl = nextNl(bytes, 0)
        require(nl > 0, s"doc $docId: no y4m header line")
        val header = new String(bytes, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
        require(header.startsWith("YUV4MPEG2 "), s"doc $docId: bad y4m magic")
        val toks = header.split(" ").drop(1)
        def tok(p: Char) = toks.find(t => t.nonEmpty && t.head == p).map(_.tail)
        val w = tok('W').map(_.toInt).getOrElse(sys.error(s"doc $docId: no width"))
        val h = tok('H').map(_.toInt).getOrElse(sys.error(s"doc $docId: no height"))
        // decompression-bomb guard: a hostile header can declare huge
        // dims and make a naive reader allocate before parsing fails
        require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
          s"doc $docId: implausible dims ${w}x$h")
        // colourspace: C444 (full-res chroma) or C420 + siting aliases
        // (420jpeg/420mpeg2/420paldv — identical plane geometry; the
        // header's absent-C default is 420jpeg per the y4m spec, and
        // `ffmpeg -f yuv4mpegpipe` DEFAULTS to 4:2:0, so rejecting it
        // would quarantine production ffmpeg output — VERDICT r15
        // item 3). Anything else (422, 411, mono) quarantines.
        val cs = tok('C').getOrElse("420jpeg")
        val sub420 = cs == "420" || cs == "420jpeg" || cs == "420mpeg2" || cs == "420paldv"
        require(sub420 || cs == "444", s"doc $docId: unsupported colourspace C$cs")
        // 4:2:0 chroma planes are (w/2)·(h/2): the format requires even
        // dims — an odd-dim C420 stream is malformed (quarantine), not
        // a rounding decision this demuxer should invent
        if (sub420) require(w % 2 == 0 && h % 2 == 0,
          s"doc $docId: odd dims ${w}x$h under C$cs")
        val cwh = if (sub420) (w / 2) * (h / 2) else w * h
        val frameBytes = w * h + 2 * cwh
        // frame census: parse each FRAME marker line, skip plane bytes
        // by arithmetic; an incomplete final frame is NOT counted (the
        // silent tail-truncation mode — raw streams carry no trailer)
        val offs = scala.collection.mutable.ArrayBuffer[Int]()
        var p = nl + 1
        while (p < bytes.length) {
          val end = nextNl(bytes, p)
          if (end < 0) p = bytes.length // cut inside a frame marker line
          else {
            val fh = new String(bytes, p, end - p, java.nio.charset.StandardCharsets.US_ASCII)
            require(fh.startsWith("FRAME"), s"doc $docId: garbage between frames")
            if (end + 1 + frameBytes <= bytes.length) { offs += end + 1; p = end + 1 + frameBytes }
            else p = bytes.length // cut inside the frame's plane data
          }
        }
        (w, h, cwh, offs)
    }

    /** Total sampled decode: parse the stream header, count the frames
      * COMPLETELY present (header scan only — plane bytes are skipped
      * by offset arithmetic), flag 'short' against the catalog's
      * `expected`, then sum ONLY the {first, middle, last} sampled
      * frames' planes. Bad magic / truncated header / non-FRAME bytes
      * mid-stream / implausible dimensions → one counted quarantine
      * row; catches NonFatal + OOME like [[MediaCodec.decodeSafe]]. */
    def decodeSampledSafe(docId: Long, expected: Int, bytes: Array[Byte]): Seq[Y4mFrameQ] =
      try {
        val (w, h, cwh, offs) = parseStream(docId, bytes)
        val n = offs.length
        if (n <= 0) Seq(Y4mFrameQ(docId, "quarantined", None, None, None, None, None, None))
        else {
          val status = if (n < expected) "short" else "ok"
          val wh = w * h
          Seq(0, n / 2, n - 1).distinct.map { f =>
            val off = offs(f)
            // plane layout: Y (w·h) then U, V (cwh each — half-res
            // both axes under 4:2:0, full-res under 4:4:4)
            def planeSum(start: Int, len: Int): Long = {
              var s = 0L; var i = start; val stop = start + len
              while (i < stop) { s += bytes(i) & 0xFF; i += 1 }
              s
            }
            Y4mFrameQ(docId, status, Some(f), Some(w), Some(h),
              Some(planeSum(off, wh)),
              Some(planeSum(off + wh, cwh)),
              Some(planeSum(off + wh + cwh, cwh)))
          }
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          Seq(Y4mFrameQ(docId, "quarantined", None, None, None, None, None, None))
        case _: OutOfMemoryError =>
          Seq(Y4mFrameQ(docId, "quarantined", None, None, None, None, None, None))
      }

    /** Scene-delta decode (q212): per consecutive complete-frame pair,
      * the Y-plane SAD (sum of absolute pixel differences — the
      * classic shot-cut signal) plus the per-pixel milli rate. Reads
      * the SAME [[parseStream]] census as the sampled decode, so the
      * status taxonomy (ok/short/quarantined, incomplete tails
      * uncounted) cannot drift between the two operators. A video
      * with fewer than two complete frames has no pairs — one
      * status-only row keeps it visible in the census. Unlike the
      * sampled decode this is inherently a FULL pass over the Y
      * planes (every pair is inspected — the operator's contract);
      * chroma planes are still skipped by offset arithmetic. */
    def decodeDeltasSafe(docId: Long, expected: Int, bytes: Array[Byte]): Seq[Y4mDeltaQ] =
      try {
        val (w, h, _, offs) = parseStream(docId, bytes)
        val n = offs.length
        require(n > 0, s"doc $docId: no complete frames")
        val status = if (n < expected) "short" else "ok"
        if (n < 2) Seq(Y4mDeltaQ(docId, status, None, None, None))
        else {
          val wh = w * h
          (0 until n - 1).map { f =>
            val (a, b) = (offs(f), offs(f + 1))
            var s = 0L; var i = 0
            while (i < wh) {
              s += math.abs((bytes(a + i) & 0xFF) - (bytes(b + i) & 0xFF)); i += 1
            }
            Y4mDeltaQ(docId, status, Some(f), Some(s), Some(1000L * s / wh))
          }
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          Seq(Y4mDeltaQ(docId, "quarantined", None, None, None))
        case _: OutOfMemoryError =>
          Seq(Y4mDeltaQ(docId, "quarantined", None, None, None))
      }
  }

  /** Decoded MJPEG-AVI frame record: one row per frame chunk found in
    * the container. `status` is per-row: 'ok' (container complete,
    * frame decoded), 'short' (container's header DECLARES more frames
    * than the movi list delivers — a writer crash / truncated copy —
    * the present frames still decode exactly), 'bad_frame' (the chunk
    * is present but its JPEG payload is undecodable — per-FRAME
    * quarantine, the rest of the container stays usable),
    * 'quarantined' (the RIFF walk itself fails — one doc-level row).
    * Dims are decoder-reported, not header-copied: a demuxer that
    * slices chunk offsets wrong feeds the JPEG decoder garbage and
    * flips the row to bad_frame — the oracle's per-frame dims check
    * proves the walk, not just the header parse. */
  final case class AviFrameQ(doc_id: Long, status: String,
      frame_idx: Option[Int], width: Option[Int], height: Option[Int],
      n_px: Option[Long])

  /** ONE per-frame JPEG decode + taxonomy body for all three container
    * demuxers (review r17: AVI/mp4/mkv each carried a verbatim copy of
    * this loop — a fix to the decode contract had to land three
    * times). Each (offset, length) slice decodes through the
    * partition's reused `reader`; a failing frame quarantines as a
    * COUNTED `bad_frame` row without poisoning its neighbors. */
  private[llm] def decodeJpegFrames(docId: Long, status: String,
      frames: Seq[(Int, Int)], bytes: Array[Byte],
      reader: javax.imageio.ImageReader): Seq[AviFrameQ] =
    frames.zipWithIndex.map { case ((foff, flen), f) =>
      val img =
        try {
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes, foff, flen))
          try {
            reader.setInput(iis, true, true)
            reader.read(0)
          } finally iis.close()
        } catch {
          case scala.util.control.NonFatal(_) => null
          case _: OutOfMemoryError => null
        }
      if (img == null) AviFrameQ(docId, "bad_frame", Some(f), None, None, None)
      else AviFrameQ(docId, status, Some(f), Some(img.getWidth),
        Some(img.getHeight), Some(img.getWidth.toLong * img.getHeight))
    }

  /** The demuxers' shared doc-level quarantine envelope: anything the
    * container walk throws becomes one counted row, never a stage
    * failure (catches NonFatal + OOME like [[MediaCodec.decodeSafe]]). */
  private[llm] def quarantining(docId: Long)(
      body: => Seq[AviFrameQ]): Seq[AviFrameQ] =
    try body catch {
      case scala.util.control.NonFatal(_) =>
        Seq(AviFrameQ(docId, "quarantined", None, None, None, None))
      case _: OutOfMemoryError =>
        Seq(AviFrameQ(docId, "quarantined", None, None, None, None))
    }

  /** MJPEG-in-AVI demuxer + fixture (round 17, VERDICT r16 item 4 —
    * the last media-container family without a REAL decoder). mp4/webm
    * stay documented [[MediaStub]] doubles (the JVM ships no
    * H.264/VP9 decoder and vendoring native codecs is out of scope),
    * but AVI is a pure RIFF chunk walk — fourcc + LE32 size, LIST
    * nesting, even-byte padding — and its MJPEG payload is exactly
    * the JPEG decoder the JVM DOES ship ([[MediaCodec]]'s
    * `javax.imageio` path). So "every container family has one real
    * decoder" closes here with zero native code: container walk
    * hand-written against the public RIFF/AVI layout (avih at
    * hdrl[0] carries dwTotalFrames; frames are movi-list '..dc'/'..db'
    * chunks), frame pixels through ImageIO.
    *
    * Unlike GIF/y4m, AVI SELF-DECLARES its frame count (avih
    * dwTotalFrames), so the fixture carries no `expected_frames`
    * catalog column — truncation detection is container-internal
    * (declared vs complete movi chunks found), which is the realistic
    * contract for this family.
    *
    * Scale/hostility guards, same discipline as [[Y4mCodec]]:
    * every chunk read is bounds-checked against the REMAINING buffer
    * before any slice (a hostile LE32 size of 0xFFFFFFFF must not
    * drive an allocation — sizes are clamped by what is physically
    * present); an incomplete tail chunk is NOT counted (the
    * tail-truncation path); JPEG decode failures are caught PER
    * FRAME. JPEG is lossy, so the oracle checks decoder-reported
    * dims + the status taxonomy (the q129 contract), not pixel sums —
    * the dims cross the demuxer's offsets, which is what q214 gates. */
  object AviCodec {
    def nFrames(id: Long): Int = (2 + id % 4).toInt
    def dims(id: Long): (Int, Int) = ((8 + id % 9).toInt, (8 + id % 7).toInt)

    private def fourcc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    private def le32(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    private def le16(v: Int): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte)

    /** Frame f of doc id as a real JPEG: the q128 RGB channel formulas
      * with a frame axis. Pixel values are irrelevant to the oracle
      * (JPEG is lossy); the dims and the byte-stream validity are
      * what the round-trip proves. */
    def frameJpeg(id: Long, f: Int): Array[Byte] = {
      val (w, h) = dims(id)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 7 + f * 17 + x * 5 + y * 3) % 256).toInt
          val g = ((id * 11 + f * 5 + x * 2 + y * 7) % 256).toInt
          val b = ((id * 13 + f * 3 + x * 3 + y) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** Hand-assemble a minimal standards-shaped AVI: RIFF('AVI ') →
      * LIST(hdrl){ avih, LIST(strl){ strh('vids'/'MJPG'), strf(BMIH) } }
      * → LIST(movi){ '00dc' chunks, even-padded }. `declared` lands in
      * avih.dwTotalFrames and strh.dwLength; `payloads` are the movi
      * frame chunks (the fixture's corrupt-frame mode swaps one out
      * before calling). Runs IN THE EXECUTORS ([[aviTable]]). */
    def encodeAvi(id: Long, declared: Int, payloads: Seq[Array[Byte]]): Array[Byte] = {
      val (w, h) = dims(id)
      def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
        val pad = if (body.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
        fourcc(cc) ++ le32(body.length) ++ body ++ pad
      }
      def list(listType: String, body: Array[Byte]): Array[Byte] =
        chunk("LIST", fourcc(listType) ++ body)
      val avih = chunk("avih",
        le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++   // usec/frame, maxbps, pad, flags
        le32(declared) ++ le32(0) ++ le32(1) ++ le32(0) ++ // totalFrames, initial, streams, bufsize
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val strh = chunk("strh",
        fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++
        le32(0) ++ le32(1) ++ le32(25) ++ le32(0) ++       // initial, scale, rate, start
        le32(declared) ++ le32(0) ++ le32(0) ++ le32(0) ++ // length, bufsize, quality, sampleSize
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))          // rcFrame
      val strf = chunk("strf",
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        fourcc("MJPG") ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
      val movi = list("movi",
        payloads.iterator.map(p => chunk("00dc", p)).foldLeft(Array.emptyByteArray)(_ ++ _))
      val body = fourcc("AVI ") ++ hdrl ++ movi
      fourcc("RIFF") ++ le32(body.length) ++ body
    }

    private def rdLe32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xFFL)) | ((b(off + 1) & 0xFFL) << 8) |
        ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)
    private def cc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** The factored RIFF walk (the [[Y4mCodec.parseStream]] role:
      * every AVI consumer shares ONE census so format rules cannot
      * drift between operators): returns (declaredFrames,
      * complete frame-chunk (offset, length) slices in movi order).
      * Throws on anything structurally unwalkable — bad magic, no
      * hdrl/avih, no movi — the caller's quarantine path. Chunk sizes
      * are UNTRUSTED: every read is clamped to the physical buffer
      * BEFORE any slice, and an incomplete tail chunk (size runs past
      * the bytes present — the truncated-copy case) stops the walk
      * without being counted. */
    private[llm] def parseRiff(docId: Long, bytes: Array[Byte]): (Int, Seq[(Int, Int)]) = {
      require(bytes.length >= 12 && cc(bytes, 0) == "RIFF" && cc(bytes, 8) == "AVI ",
        s"doc $docId: not a RIFF AVI")
      // outer bound: trust the SMALLER of the declared RIFF size and
      // the physical buffer (a truncated copy under-delivers; a
      // hostile header over-declares)
      val end = math.min(bytes.length.toLong, 8L + rdLe32(bytes, 4)).toInt
      var declared = -1
      val frames = Vector.newBuilder[(Int, Int)]
      var off = 12
      var sawMovi = false
      while (off + 8 <= end) {
        val id = cc(bytes, off)
        val size = rdLe32(bytes, off + 4)
        val dataOff = off + 8
        // clamp EVERY read to the physical buffer: sizes are untrusted
        // (hostile over-declaration) and a truncated copy genuinely
        // under-delivers. A truncated LIST is still ENTERED — its
        // complete subchunks salvage (the real-demuxer contract; the
        // tail-cut fixture mode lands exactly here) — while the
        // incomplete tail subchunk is never counted.
        val bounded = math.min(size, (end - dataOff).toLong).toInt
        if (id == "LIST" && bounded >= 4) {
          val lt = cc(bytes, dataOff)
          if (lt == "hdrl") {
            // avih is hdrl's first subchunk per the AVI layout
            if (bounded >= 12 + 20 && cc(bytes, dataOff + 4) == "avih")
              declared = rdLe32(bytes, dataOff + 12 + 16).toInt
          } else if (lt == "movi") {
            sawMovi = true
            var mo = dataOff + 4
            val mend = dataOff + bounded
            var done = false
            while (!done && mo + 8 <= mend) {
              val fid = cc(bytes, mo)
              val fsize = rdLe32(bytes, mo + 4)
              if (fsize > (mend - (mo + 8))) done = true // truncated tail frame
              else {
                if (fid.endsWith("dc") || fid.endsWith("db"))
                  frames += ((mo + 8, fsize.toInt))
                mo += 8 + fsize.toInt + (fsize.toInt % 2) // even padding
              }
            }
          }
        }
        if (size > (end - dataOff)) off = end // truncated chunk ate the rest
        else off = dataOff + size.toInt + (size.toInt % 2)
      }
      require(declared >= 0, s"doc $docId: no avih header")
      require(sawMovi, s"doc $docId: no movi list")
      (declared, frames.result())
    }

    /** One reusable JPEG reader — the init-once-per-partition handle
      * [[MediaBatch.decodeAviFramesSafe]] hoists out of the per-frame
      * loop: `ImageIO.read` re-scans the service-provider registry and
      * allocates a fresh reader + input stream PER CALL, which at
      * MJPEG frame rates (every frame is a JPEG) is the dominant cost
      * of the whole operator (measured 3.4 s → re-anchored after the
      * hoist; a container format whose payload is thousands of tiny
      * images pays registry overhead thousands of times). Single-
      * threaded use only (one per partition iterator). */
    def newJpegReader(): javax.imageio.ImageReader = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
      require(it.hasNext, "no JPEG ImageReader registered")
      it.next()
    }

    /** Total decode: RIFF walk → the shared [[decodeJpegFrames]] body
      * under the shared [[quarantining]] envelope — a hostile payload
      * must never kill the stage. */
    def decodeFramesSafe(docId: Long, bytes: Array[Byte],
        reader: javax.imageio.ImageReader): Seq[AviFrameQ] =
      quarantining(docId) {
        val (declared, frames) = parseRiff(docId, bytes)
        require(frames.nonEmpty, s"doc $docId: no frame chunks")
        val status = if (frames.length < declared) "short" else "ok"
        decodeJpegFrames(docId, status, frames, bytes, reader)
      }

    /** Convenience form (specs, single-doc callers): fresh reader per
      * call. The batch path reuses one per partition. */
    def decodeFramesSafe(docId: Long, bytes: Array[Byte]): Seq[AviFrameQ] =
      decodeFramesSafe(docId, bytes, newJpegReader())
  }

  /** MJPEG-in-mp4 demuxer + fixture (round 17 — the ISO BMFF box walk
    * that closes the last "documented stub" container: mp4 files CAN
    * carry Motion-JPEG ('jpeg' sample entries), which the JVM's own
    * JPEG decoder handles, so the mp4 CONTAINER gets a real demuxer
    * while H.264/VP9 PAYLOADS stay out of scope (no JVM codec exists —
    * an mp4 with an 'avc1' track walks fine and quarantines per frame
    * at decode, the honest boundary). Same discipline as [[AviCodec]]:
    * fixture encoder + parser live side by side so the round-trip
    * crosses every offset computation; sizes are untrusted and every
    * slice clamps to the physical buffer; 64-bit largesize and
    * size-0 (to-EOF) boxes handled; sample→offset mapping walks the
    * REAL stsc/stco/stsz tables, not a fixture shortcut.
    * cf. ISO/IEC 14496-12 box layout (public spec). */
  object Mp4Codec {
    def nFrames(id: Long): Int = (2 + id % 3).toInt
    def dims(id: Long): (Int, Int) = ((8 + id % 8).toInt, (8 + id % 6).toInt)

    private def fourcc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    private def be32(v: Int): Array[Byte] =
      Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    private def be16(v: Int): Array[Byte] =
      Array[Byte]((v >> 8).toByte, v.toByte)

    /** Frame f of doc id as a real JPEG (the [[AviCodec.frameJpeg]]
      * device with its own channel constants and this codec's dims). */
    def frameJpeg(id: Long, f: Int): Array[Byte] = {
      val (w, h) = dims(id)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 5 + f * 13 + x * 7 + y * 2) % 256).toInt
          val g = ((id * 3 + f * 7 + x * 4 + y * 5) % 256).toInt
          val b = ((id * 17 + f * 2 + x + y * 9) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** Hand-assemble a minimal standards-shaped mp4 (faststart layout,
      * moov BEFORE mdat so a truncated copy loses frame data, not the
      * index — the layout real encoders emit for streaming): ftyp →
      * moov{ mvhd, trak{ tkhd, mdia{ mdhd, hdlr('vide'),
      * minf{ vmhd, dinf/dref, stbl{ stsd('jpeg'), stts, stsc, stsz,
      * stco } } } } } → mdat. `declared` lands in stts's sample count;
      * stsz/stco index the payloads ACTUALLY present (the corrupt-
      * frame fixture swaps a payload before calling — its real length
      * lands in stsz, so the slice is valid and only the DECODE
      * fails). stco holds one chunk with all samples, offsets resolved
      * by building moov once with a placeholder (box sizes don't
      * depend on the offset VALUE). Runs in the executors. */
    def encodeMp4(id: Long, declared: Int, payloads: Seq[Array[Byte]]): Array[Byte] = {
      val (w, h) = dims(id)
      val n = payloads.length
      def box(t: String, body: Array[Byte]): Array[Byte] =
        be32(8 + body.length) ++ fourcc(t) ++ body
      def fbox(t: String, flags: Int, body: Array[Byte]): Array[Byte] =
        box(t, be32(flags) ++ body)
      val matrix = be32(0x00010000) ++ be32(0) ++ be32(0) ++
        be32(0) ++ be32(0x00010000) ++ be32(0) ++
        be32(0) ++ be32(0) ++ be32(0x40000000)
      val dur = declared * 40
      val ftyp = box("ftyp", fourcc("isom") ++ be32(0x200) ++ fourcc("isom") ++ fourcc("iso2"))
      def moov(chunkOff: Int): Array[Byte] = {
        val mvhd = fbox("mvhd", 0, be32(0) ++ be32(0) ++ be32(1000) ++ be32(dur) ++
          be32(0x00010000) ++ be16(0x0100) ++ be16(0) ++ be32(0) ++ be32(0) ++
          matrix ++ Array.fill(24)(0: Byte) ++ be32(2))
        val tkhd = fbox("tkhd", 7, be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++
          be32(dur) ++ Array.fill(8)(0: Byte) ++ be16(0) ++ be16(0) ++ be16(0) ++
          be16(0) ++ matrix ++ be32(w << 16) ++ be32(h << 16))
        val mdhd = fbox("mdhd", 0, be32(0) ++ be32(0) ++ be32(1000) ++ be32(dur) ++
          be16(0x55C4) ++ be16(0))
        val hdlr = fbox("hdlr", 0, be32(0) ++ fourcc("vide") ++
          Array.fill(12)(0: Byte) ++ Array[Byte]('v', 0))
        val vmhd = fbox("vmhd", 1, be16(0) ++ be16(0) ++ be16(0) ++ be16(0))
        val dinf = box("dinf", fbox("dref", 0, be32(1) ++ fbox("url ", 1,
          Array.emptyByteArray)))
        val entry = {
          val body = Array.fill(6)(0: Byte) ++ be16(1) ++ // data_reference_index
            be16(0) ++ be16(0) ++ Array.fill(12)(0: Byte) ++
            be16(w) ++ be16(h) ++ be32(0x00480000) ++ be32(0x00480000) ++
            be32(0) ++ be16(1) ++ Array.fill(32)(0: Byte) ++
            be16(0x0018) ++ be16(0xFFFF)
          box("jpeg", body)
        }
        val stsd = fbox("stsd", 0, be32(1) ++ entry)
        val stts = fbox("stts", 0, be32(1) ++ be32(declared) ++ be32(40))
        val stsc = fbox("stsc", 0, be32(1) ++ be32(1) ++ be32(n) ++ be32(1))
        val stsz = fbox("stsz", 0, be32(0) ++ be32(n) ++
          payloads.iterator.map(p => be32(p.length))
            .foldLeft(Array.emptyByteArray)(_ ++ _))
        val stco = fbox("stco", 0, be32(1) ++ be32(chunkOff))
        val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
        val minf = box("minf", vmhd ++ dinf ++ stbl)
        val mdia = box("mdia", mdhd ++ hdlr ++ minf)
        val trak = box("trak", tkhd ++ mdia)
        box("moov", mvhd ++ trak)
      }
      val moovLen = moov(0).length // offset value doesn't change sizes
      val chunkOff = ftyp.length + moovLen + 8 // + mdat header
      val mdatBody = payloads.foldLeft(Array.emptyByteArray)(_ ++ _)
      ftyp ++ moov(chunkOff) ++ box("mdat", mdatBody)
    }

    private def rdBe32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
        ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)
    private def rdBe64(b: Array[Byte], off: Int): Long =
      (rdBe32(b, off) << 32) | rdBe32(b, off + 4)
    private def cc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Walk the boxes of [start, end): (type, payloadStart,
      * payloadEnd) with sizes UNTRUSTED — payloadEnd clamps to the
      * physical window; size 0 = to-EOF; size 1 = 64-bit largesize;
      * a declared size below the header length stops the walk
      * (structurally unwalkable, never an infinite loop). */
    private def boxes(b: Array[Byte], start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = Vector.newBuilder[(String, Int, Int)]
      var off = start
      var done = false
      while (!done && off + 8 <= end) {
        val sz32 = rdBe32(b, off)
        val t = cc(b, off + 4)
        val (hdr, sz) =
          if (sz32 == 1L && off + 16 <= end) (16, rdBe64(b, off + 8))
          else (8, if (sz32 == 0L) (end - off).toLong else sz32)
        if (sz < hdr) done = true
        else {
          val pEnd = math.min(end.toLong, off + sz).toInt
          if (off + hdr <= pEnd) out += ((t, off + hdr, pEnd))
          if (off + sz >= end) done = true else off = (off + sz).toInt
        }
      }
      out.result()
    }
    private def find(b: Array[Byte], start: Int, end: Int, t: String): Option[(Int, Int)] =
      boxes(b, start, end).collectFirst { case (`t`, s, e) => (s, e) }

    /** The factored ISO BMFF walk (the [[AviCodec.parseRiff]] role):
      * (declared sample count from stts, complete sample (offset,
      * length) slices in stsc/stco/stsz order). Throws on anything
      * structurally unwalkable — no moov, no video trak, no sample
      * tables — the caller's quarantine path. A sample whose
      * stco/stsz-resolved slice runs past the physical buffer (the
      * truncated-copy case) stops the mapping without being counted. */
    private[llm] def parseMp4(docId: Long, bytes: Array[Byte]): (Int, Seq[(Int, Int)]) = {
      require(bytes.length >= 16, s"doc $docId: not an mp4 (too short)")
      val top = boxes(bytes, 0, bytes.length)
      val moov = top.collectFirst { case ("moov", s, e) => (s, e) }
      require(moov.isDefined, s"doc $docId: no moov box")
      // the video trak: hdlr handler_type == 'vide'
      val stbl = boxes(bytes, moov.get._1, moov.get._2)
        .collect { case ("trak", s, e) => (s, e) }
        .flatMap { case (ts, te) =>
          find(bytes, ts, te, "mdia").flatMap { case (ms, me) =>
            val isVide = find(bytes, ms, me, "hdlr").exists { case (hs, he) =>
              hs + 12 <= he && cc(bytes, hs + 8) == "vide"
            }
            if (!isVide) None
            else find(bytes, ms, me, "minf")
              .flatMap { case (s2, e2) => find(bytes, s2, e2, "stbl") }
          }
        }.headOption
      require(stbl.isDefined, s"doc $docId: no video track sample table")
      val (ss, se) = stbl.get
      def table(t: String): (Int, Int) = {
        val r = find(bytes, ss, se, t)
        require(r.isDefined, s"doc $docId: no $t")
        r.get
      }
      // declared = Σ stts sample counts (version+flags, entry_count,
      // then (count, delta) pairs)
      val (tts, tte) = table("stts")
      require(tts + 8 <= tte, s"doc $docId: stts truncated")
      val nTts = rdBe32(bytes, tts + 4).toInt
      var declared = 0L
      var i = 0
      while (i < nTts && tts + 8 + i * 8 + 8 <= tte) {
        declared += rdBe32(bytes, tts + 8 + i * 8); i += 1
      }
      // stsz: sample_size (uniform if nonzero), count, sizes
      val (zs, ze) = table("stsz")
      require(zs + 12 <= ze, s"doc $docId: stsz truncated")
      val uniform = rdBe32(bytes, zs + 4)
      val nSamples = rdBe32(bytes, zs + 8).toInt
      def sampleSize(k: Int): Long =
        if (uniform != 0L) uniform
        else { val o = zs + 12 + k * 4; if (o + 4 <= ze) rdBe32(bytes, o) else -1L }
      // stco chunk offsets (co64 for 64-bit files)
      val (cs, ce, wide) = find(bytes, ss, se, "stco") match {
        case Some((s2, e2)) => (s2, e2, false)
        case None =>
          val r = find(bytes, ss, se, "co64")
          require(r.isDefined, s"doc $docId: no stco/co64")
          (r.get._1, r.get._2, true)
      }
      require(cs + 8 <= ce, s"doc $docId: chunk offsets truncated")
      val nChunks = rdBe32(bytes, cs + 4).toInt
      def chunkOff(c: Int): Long = {
        val o = cs + 8 + c * (if (wide) 8 else 4)
        if (wide) { require(o + 8 <= ce, s"doc $docId: co64 truncated"); rdBe64(bytes, o) }
        else { require(o + 4 <= ce, s"doc $docId: stco truncated"); rdBe32(bytes, o) }
      }
      // stsc entries: (first_chunk, samples_per_chunk, desc_idx)
      val (scs, sce) = table("stsc")
      require(scs + 8 <= sce, s"doc $docId: stsc truncated")
      val nScs = rdBe32(bytes, scs + 4).toInt
      val scEntries = (0 until nScs).flatMap { k =>
        val o = scs + 8 + k * 12
        if (o + 12 <= sce)
          Some((rdBe32(bytes, o).toInt, rdBe32(bytes, o + 4).toInt))
        else None
      }
      require(scEntries.nonEmpty, s"doc $docId: empty stsc")
      // walk chunks in order, resolving each sample's absolute slice;
      // stop at the first sample that runs past the physical buffer
      val frames = Vector.newBuilder[(Int, Int)]
      var sample = 0
      var chunk = 1
      var truncated = false
      while (!truncated && sample < nSamples && chunk <= nChunks) {
        val spc = scEntries.takeWhile(_._1 <= chunk).lastOption
          .getOrElse(scEntries.head)._2
        var off = chunkOff(chunk - 1)
        var k = 0
        while (!truncated && k < spc && sample < nSamples) {
          val sz = sampleSize(sample)
          if (sz < 0 || off < 0 || off + sz > bytes.length) truncated = true
          else {
            frames += ((off.toInt, sz.toInt))
            off += sz; sample += 1; k += 1
          }
        }
        chunk += 1
      }
      (declared.toInt, frames.result())
    }

    /** Total decode: box walk → the shared [[decodeJpegFrames]] body
      * under the shared [[quarantining]] envelope (the
      * [[AviCodec.newJpegReader]] init-once handle; MJPEG-in-mp4 pays
      * the identical per-frame registry cost otherwise). Taxonomy and
      * row type are [[AviFrameQ]]'s — the census contract is
      * per-CONTAINER-family invariant by design. */
    def decodeFramesSafe(docId: Long, bytes: Array[Byte],
        reader: javax.imageio.ImageReader): Seq[AviFrameQ] =
      quarantining(docId) {
        val (declared, frames) = parseMp4(docId, bytes)
        require(frames.nonEmpty, s"doc $docId: no samples")
        val status = if (frames.length < declared) "short" else "ok"
        decodeJpegFrames(docId, status, frames, bytes, reader)
      }

    /** Convenience form (specs, single-doc callers). */
    def decodeFramesSafe(docId: Long, bytes: Array[Byte]): Seq[AviFrameQ] =
      decodeFramesSafe(docId, bytes, AviCodec.newJpegReader())
  }

  /** MJPEG-in-Matroska demuxer + fixture (round 17 — the EBML walk,
    * the THIRD container framing family after RIFF chunks and ISO
    * BMFF boxes): Matroska legitimately carries `V_MJPEG`
    * (public codec-id registry), so `.mkv` gets the full
    * demux-and-DECODE round trip like AVI/mp4; webm proper restricts
    * codecs to VP8/VP9/AV1 — the SAME EBML walk applies and the
    * payload stays undecodable on the JVM, the documented subset
    * boundary. EBML framing is variable-length integers (leading-1
    * length marker) for both element IDs and sizes — nothing shared
    * with the fixed-width RIFF/BMFF readers, which is exactly why it
    * needs its own fixture round trip. Unknown-size elements
    * (all-value-bits-ones, the live-streaming Segment convention)
    * extend to the parent's end; sizes are untrusted and clamp. */
  object MkvCodec {
    def nFrames(id: Long): Int = (2 + (id % 4)).toInt
    def dims(id: Long): (Int, Int) = ((8 + id % 7).toInt, (8 + id % 9).toInt)

    /** Frame f of doc id as a real JPEG ([[AviCodec.frameJpeg]]'s
      * device, this codec's dims + constants). */
    def frameJpeg(id: Long, f: Int): Array[Byte] = {
      val (w, h) = dims(id)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((id * 19 + f * 3 + x * 2 + y * 11) % 256).toInt
          val g = ((id * 23 + f * 9 + x * 6 + y) % 256).toInt
          val b = ((id * 29 + f * 11 + x + y * 4) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    // EBML varints: SIZE values carry a leading-1 length marker in the
    // first byte that is STRIPPED from the value; element IDs keep
    // their marker (matroska convention: IDs compare raw).
    private[llm] def vint(v: Long): Array[Byte] = {
      // minimal length whose value field holds v AND is not all-ones
      // (all-ones means "unknown size")
      var len = 1
      while (len <= 8 && (v >= (1L << (7 * len)) - 1)) len += 1
      val out = new Array[Byte](len)
      var i = len - 1
      var rest = v
      while (i >= 0) {
        out(i) = (rest & 0xFF).toByte; rest >>>= 8; i -= 1
      }
      out(0) = (out(0) | (0x80 >>> (len - 1))).toByte
      out
    }
    private def beId(id: Long): Array[Byte] = {
      // IDs are written raw: 0xA3 is one byte, 0x1A45DFA3 four
      var len = 1
      while (len < 8 && (id >>> (8 * len)) != 0) len += 1
      val out = new Array[Byte](len)
      var i = len - 1; var rest = id
      while (i >= 0) { out(i) = (rest & 0xFF).toByte; rest >>>= 8; i -= 1 }
      out
    }
    private def el(id: Long, body: Array[Byte]): Array[Byte] =
      beId(id) ++ vint(body.length.toLong) ++ body
    private def uintEl(id: Long, v: Long): Array[Byte] = {
      var len = 1
      while (len < 8 && (v >>> (8 * len)) != 0) len += 1
      val b = new Array[Byte](len)
      var i = len - 1; var rest = v
      while (i >= 0) { b(i) = (rest & 0xFF).toByte; rest >>>= 8; i -= 1 }
      el(id, b)
    }
    private def strEl(id: Long, s: String): Array[Byte] =
      el(id, s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

    // the Matroska element IDs this walk speaks (public registry)
    private val EbmlHeader = 0x1A45DFA3L
    private val Segment = 0x18538067L
    private val Tracks = 0x1654AE6BL
    private val TrackEntry = 0xAEL
    private val TrackNumber = 0xD7L
    private val TrackType = 0x83L
    private val CodecID = 0x86L
    private val VideoEl = 0xE0L
    private val PixelWidth = 0xB0L
    private val PixelHeight = 0xBAL
    private val Cluster = 0x1F43B675L
    private val Timecode = 0xE7L
    private val SimpleBlock = 0xA3L

    /** Hand-assemble a minimal standards-shaped mkv: EBML header →
      * Segment{ Tracks{ TrackEntry{ no 1, type 1 video, V_MJPEG,
      * Video{ PixelWidth, PixelHeight } } }, Cluster{ Timecode,
      * SimpleBlock per frame (track varint 0x81, 16-bit timecode,
      * keyframe flag, NO lacing, JPEG payload) } }. */
    def encodeMkv(id: Long, payloads: Seq[Array[Byte]]): Array[Byte] = {
      val (w, h) = dims(id)
      val header = el(EbmlHeader,
        uintEl(0x4286L, 1) ++ uintEl(0x42F7L, 1) ++ uintEl(0x42F2L, 4) ++
        uintEl(0x42F3L, 8) ++ strEl(0x4282L, "matroska") ++
        uintEl(0x4287L, 4) ++ uintEl(0x4285L, 2))
      val track = el(TrackEntry,
        uintEl(TrackNumber, 1) ++ uintEl(0x73C5L, id + 1) ++ // TrackUID
        uintEl(TrackType, 1) ++ strEl(CodecID, "V_MJPEG") ++
        el(VideoEl, uintEl(PixelWidth, w.toLong) ++ uintEl(PixelHeight, h.toLong)))
      val blocks = payloads.zipWithIndex.map { case (p, f) =>
        el(SimpleBlock,
          Array[Byte](0x81.toByte, ((f * 40) >> 8).toByte, (f * 40).toByte,
            0x80.toByte) ++ p) // track 1, ts, keyframe, no lacing
      }.foldLeft(Array.emptyByteArray)(_ ++ _)
      val cluster = el(Cluster, uintEl(Timecode, 0) ++ blocks)
      header ++ el(Segment, el(Tracks, track) ++ cluster)
    }

    /** (idValue, idLen) or null length on unreadable. */
    private[llm] def rdId(b: Array[Byte], off: Int, end: Int): (Long, Int) = {
      if (off >= end) return (0L, 0)
      val first = b(off) & 0xFF
      if (first == 0) return (0L, 0)
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 24 + 1
      if (len < 1 || len > 4 || off + len > end) return (0L, 0)
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (b(off + i) & 0xFFL); i += 1 }
      (v, len)
    }
    /** (sizeValue, sizeLen); size −1 encodes "unknown" (all ones). */
    private[llm] def rdSize(b: Array[Byte], off: Int, end: Int): (Long, Int) = {
      if (off >= end) return (-2L, 0)
      val first = b(off) & 0xFF
      if (first == 0) return (-2L, 0)
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 24 + 1
      if (len > 8 || off + len > end) return (-2L, 0)
      var v = (first & (0xFF >>> len)).toLong
      var allOnes = (first & (0xFF >>> len)) == (0xFF >>> len)
      var i = 1
      while (i < len) {
        val by = b(off + i) & 0xFF
        v = (v << 8) | by
        allOnes &&= by == 0xFF
        i += 1
      }
      (if (allOnes) -1L else v, len)
    }
    private def rdUint(b: Array[Byte], off: Int, end: Int): Long = {
      var v = 0L; var i = off
      while (i < end) { v = (v << 8) | (b(i) & 0xFFL); i += 1 }
      v
    }

    /** Children of [start, end): (id, payloadStart, payloadEnd,
      * complete). Sizes untrusted → payloadEnd CLAMPS to the parent
      * window and `complete=false` records the truncation — container
      * elements are still entered on a clamped window (the AVI
      * truncated-LIST salvage contract) while LEAF consumers
      * (SimpleBlock counting) require completeness so a cut-off tail
      * frame is DROPPED (the 'short' path), never mis-sliced into a
      * spurious bad_frame. Unknown size (all value bits 1 — the
      * live-streaming Segment convention) extends to the parent's end
      * and counts as complete; an unreadable header stops the walk. */
    private def children(b: Array[Byte], start: Int, end: Int): Seq[(Long, Int, Int, Boolean)] = {
      val out = Vector.newBuilder[(Long, Int, Int, Boolean)]
      var off = start
      var done = false
      while (!done && off < end) {
        val (id, idLen) = rdId(b, off, end)
        if (idLen == 0) done = true
        else {
          val (sz, szLen) = rdSize(b, off + idLen, end)
          if (szLen == 0) done = true
          else {
            val ps = off + idLen + szLen
            val pe =
              if (sz == -1L) end // unknown size: to parent end
              else math.min(end.toLong, ps + sz).toInt
            val complete = sz == -1L || ps + sz <= end
            if (ps <= pe) out += ((id, ps, pe, complete))
            if (sz == -1L || ps + sz >= end) done = true
            else off = (ps + sz).toInt
          }
        }
      }
      out.result()
    }

    /** The factored EBML walk: (videoTrackNumber, complete MJPEG
      * frame (offset, length) slices in stream order). Throws on the
      * structurally unwalkable — no EBML header, no Segment, no
      * V_MJPEG video track — the quarantine path. A SimpleBlock whose
      * declared size overruns the buffer is clamped by [[children]]
      * and dropped here (truncated tail); laced blocks (this walk
      * speaks lacing=none, the fixture's shape) surface as bad_frame
      * at decode rather than mis-sliced frames. */
    private[llm] def parseMkv(docId: Long, bytes: Array[Byte]): Seq[(Int, Int)] = {
      val top = children(bytes, 0, bytes.length)
      require(top.exists(_._1 == EbmlHeader), s"doc $docId: no EBML header")
      val seg = top.collectFirst { case (Segment, s, e, _) => (s, e) }
      require(seg.isDefined, s"doc $docId: no Segment")
      val segKids = children(bytes, seg.get._1, seg.get._2)
      // the V_MJPEG video track's number
      def entryKids(es: Int, ee: Int) = children(bytes, es, ee)
      val trackNo = segKids.collectFirst { case (Tracks, ts, te, _) =>
        children(bytes, ts, te).collectFirst {
          case (TrackEntry, es, ee, _)
              if entryKids(es, ee).exists {
                   case (TrackType, a, b, _) => rdUint(bytes, a, b) == 1L
                   case _ => false
                 } &&
                 entryKids(es, ee).exists {
                   case (CodecID, a, b, _) =>
                     new String(bytes, a, b - a,
                       java.nio.charset.StandardCharsets.US_ASCII) == "V_MJPEG"
                   case _ => false
                 } =>
            entryKids(es, ee).collectFirst {
              case (TrackNumber, a, b, _) => rdUint(bytes, a, b)
            }.getOrElse(1L)
        }
      }.flatten
      require(trackNo.isDefined, s"doc $docId: no V_MJPEG video track")
      val frames = Vector.newBuilder[(Int, Int)]
      segKids.foreach {
        case (Cluster, cs, ce, _) =>
          children(bytes, cs, ce).foreach {
            // completeness required: a block whose declared size was
            // clamped mid-payload is the truncated tail — DROPPED
            // (the 'short' path), never sliced short into a spurious
            // bad_frame
            case (SimpleBlock, bs, be, true) if be - bs >= 4 =>
              // block layout: track vint + 2-byte timecode + flags
              val (tn, tnLen) = rdSize(bytes, bs, be) // track uses size coding
              if (tnLen > 0 && tn == trackNo.get) {
                val dataOff = bs + tnLen + 3
                if (dataOff < be) frames += ((dataOff, be - dataOff))
              }
            case _ => ()
          }
        case _ => ()
      }
      frames.result()
    }

    /** Total decode: EBML walk → the shared [[decodeJpegFrames]] body
      * under the shared [[quarantining]] envelope, graded against the
      * fixture's EXTERNAL expected-frame count like y4m — Matroska
      * self-declares no frame total. */
    def decodeFramesSafe(docId: Long, expected: Int, bytes: Array[Byte],
        reader: javax.imageio.ImageReader): Seq[AviFrameQ] =
      quarantining(docId) {
        val frames = parseMkv(docId, bytes)
        require(frames.nonEmpty, s"doc $docId: no frame blocks")
        val status = if (frames.length < expected) "short" else "ok"
        decodeJpegFrames(docId, status, frames, bytes, reader)
      }

    /** Convenience form (specs, single-doc callers). */
    def decodeFramesSafe(docId: Long, expected: Int, bytes: Array[Byte]): Seq[AviFrameQ] =
      decodeFramesSafe(docId, expected, bytes, AviCodec.newJpegReader())
  }

  object MediaBatch {
    /** Partition-batched decode: init-once-per-partition shape (the
      * place a codec/session handle would be created). */
    def mapDecoded(ds: Dataset[Media], frames: Int): Dataset[Frame] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // codec init would happen here, once per partition
        it.flatMap(m => MediaStub.decode(m, frames))
      }
    }

    /** JVM-once codec init (round 21): `scanForPlugins()` WRITES the
      * global IIORegistry under its lock — fine when the decode stage
      * was one task, a 32-way contention point once the staged media
      * tables went multi-part (every partition re-scanned the
      * classpath concurrently). And `ImageIO.read(InputStream)` with
      * the default `getUseCache()==true` backs every image with a
      * FileCacheImageInputStream — one TEMP FILE per payload, which
      * serialized 32 concurrent decoders on tmpdir I/O (measured:
      * q128 isolated cold 5.2 s multi-part vs 1.6 s single-task; with
      * this init it reads 0.9 s). Both are per-JVM facts, so the init
      * is a lazy val, not a per-partition call. */
    private lazy val codecInit: Unit = {
      javax.imageio.ImageIO.setUseCache(false)
      javax.imageio.ImageIO.scanForPlugins()
    }

    /** Partition-batched REAL image decode: codec registry initialized
      * once per JVM ([[codecInit]] — the init slot a heavier
      * decoder/feature-net would occupy per partition), then every
      * payload in the partition streams through [[MediaCodec.decode]].
      * Map-only — payload bytes never shuffle. */
    def decodeImages(ds: Dataset[(Long, Array[Byte])]): Dataset[ImgStat] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        codecInit
        it.map { case (id, bytes) => MediaCodec.decode(id, bytes) }
      }
    }

    /** Partition-batched TOTAL decode ([[MediaCodec.decodeSafe]]):
      * same init-once, map-only shape as [[decodeImages]], but
      * undecodable payloads land as counted quarantine rows instead
      * of failing the task. */
    def decodeImagesSafe(ds: Dataset[(Long, String, Array[Byte])]): Dataset[ImgStatQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        codecInit
        it.map { case (id, mime, bytes) => MediaCodec.decodeSafe(id, mime, bytes) }
      }
    }

    /** Partition-batched TOTAL audio decode ([[WavCodec.decodeSafe]]):
      * same init-once-per-partition, map-only shape as
      * [[decodeImagesSafe]] — payload bytes never shuffle, corrupt
      * payloads land as counted rows. */
    def decodeWavsSafe(ds: Dataset[(Long, Array[Byte])]): Dataset[WavStatQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // audio reader SPI loaded once per partition (WavCodec.newReaders
        // — the synchronized AudioSystem registry lookup must not run
        // per payload)
        val readers = WavCodec.newReaders()
        it.map { case (id, bytes) => WavCodec.decodeSafe(id, bytes, readers) }
      }
    }

    /** Partition-batched TOTAL sampled multi-frame decode
      * ([[GifCodec.decodeSampledSafe]]): init-once-per-partition,
      * map-only, payload bytes never shuffle — only the ≤3 sampled
      * frames' scalar stats cross the wire per doc. */
    def sampleGifFramesSafe(ds: Dataset[(Long, Int, Array[Byte])]): Dataset[GifFrameQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        codecInit
        it.flatMap { case (id, expected, bytes) =>
          GifCodec.decodeSampledSafe(id, expected, bytes)
        }
      }
    }

    /** Partition-batched TOTAL sampled video decode
      * ([[Y4mCodec.decodeSampledSafe]]): init-once-per-partition,
      * map-only, payload bytes never shuffle — only the ≤3 sampled
      * frames' scalar plane sums cross the wire per doc. */
    def sampleY4mFramesSafe(ds: Dataset[(Long, Int, Array[Byte])]): Dataset[Y4mFrameQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // demuxer/decoder init would happen here, once per partition
        it.flatMap { case (id, expected, bytes) =>
          Y4mCodec.decodeSampledSafe(id, expected, bytes)
        }
      }
    }

    /** Partition-batched scene-delta decode ([[Y4mCodec.decodeDeltasSafe]])
      * — same init-once, map-only shape; payload bytes never shuffle. */
    def y4mSceneDeltasSafe(ds: Dataset[(Long, Int, Array[Byte])]): Dataset[Y4mDeltaQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        it.flatMap { case (id, expected, bytes) =>
          Y4mCodec.decodeDeltasSafe(id, expected, bytes)
        }
      }
    }

    /** Partition-batched TOTAL MJPEG-AVI decode
      * ([[AviCodec.decodeFramesSafe]]): init-once-per-partition,
      * map-only — container bytes never shuffle, only per-frame
      * scalar rows cross the wire. */
    def decodeAviFramesSafe(ds: Dataset[(Long, Array[Byte])]): Dataset[AviFrameQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // codec init ONCE per partition: MJPEG decodes a JPEG per
        // frame, so the per-call reader-registry scan ImageIO.read
        // performs would dominate the operator (see AviCodec)
        val reader = AviCodec.newJpegReader()
        it.flatMap { case (id, bytes) => AviCodec.decodeFramesSafe(id, bytes, reader) }
      }
    }

    /** [[decodeAviFramesSafe]]'s shape for the mp4 demuxer — one
      * JPEG reader per partition, one census row type. */
    def decodeMp4FramesSafe(ds: Dataset[(Long, Array[Byte])]): Dataset[AviFrameQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        val reader = AviCodec.newJpegReader()
        it.flatMap { case (id, bytes) => Mp4Codec.decodeFramesSafe(id, bytes, reader) }
      }
    }

    /** [[decodeAviFramesSafe]]'s shape for the Matroska demuxer;
      * 'short' grades against the fixture's external expected count
      * (mkv self-declares no frame total — the y4m convention). */
    def decodeMkvFramesSafe(ds: Dataset[(Long, Int, Array[Byte])]): Dataset[AviFrameQ] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        val reader = AviCodec.newJpegReader()
        it.flatMap { case (id, exp, bytes) =>
          MkvCodec.decodeFramesSafe(id, exp, bytes, reader) }
      }
    }

    /** Partition-batched feature extraction over the first `nBytes`
      * payload bytes (unsigned sum + max — a real deployment swaps in
      * the decoder + feature net here; the batch shape, schema and
      * zero-shuffle plan are what carry over). */
    def features(ds: Dataset[Media], nBytes: Int): Dataset[MediaFeat] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // feature-extractor init would happen here, once per partition
        it.map { m =>
          val n = math.min(nBytes, m.bytes.length)
          var s = 0L; var mx = 0; var i = 0
          while (i < n) {
            val b = m.bytes(i) & 0xFF
            s += b; if (b > mx) mx = b; i += 1
          }
          MediaFeat(m.doc_id, n, s, mx)
        }
      }
    }
  }

  /** A derived fixture table staged once per fixture generation
    * ([[graft.core.T.staged]], shared by [[mediaTable]]/[[pngTable]]/
    * [[mixedTable]]). */
  private def stagedTable(s: SparkSession, dir: String, prefix: String)
      (write: java.nio.file.Path => Unit): DataFrame =
    s.read.parquet(T.staged(dir, prefix)(write).toString)

  /** doc_id seed for the staged-table writers, widened to the session
    * shuffle width (round 21, guide §6 "fix layout at the source"):
    * the fixture's documents.parquet is single-row-group, so an
    * unwidened writer (a) encodes every staged payload on ONE core and
    * (b) writes the staged table as ONE part file — which then makes
    * every downstream decode query scan single-task forever (StageProf:
    * q214/q216/q217 each spent ~0.65 s on one task of 32). The
    * exchange carries bare ids, once per fixture generation. */
  private def stagedIds(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    T.df(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .as[Long]
  }

  /** Media table staged once per fixture: payload bytes + typed
    * metadata columns, all derived deterministically from `documents`
    * so every oracle expresses the same values over the base table. */
  private[llm] def mediaTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "media") { stage =>
      T.df(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"),
          element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
            (col("doc_id") % 3 + 1).cast("int")).as("mime"),
          (col("n_chars") * 40).cast("long").as("dur_ms"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"),
          encode(col("text"), "UTF-8").as("payload"))
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** Real-PNG fixture, staged once per fixture generation (same
    * size+mtime stamp + write-to-temp + atomic-rename discipline as
    * [[mediaTable]]): one genuine PNG per document, ENCODED IN THE
    * EXECUTORS (mapPartitions — the driver never holds image bytes)
    * from a deterministic per-pixel formula of (doc_id, x, y), with
    * per-doc dimensions 8+doc_id%9 × 8+doc_id%7. The formula is the
    * contract q128's oracle recomputes arithmetically — the fixture
    * must round-trip encode→decode bit-exactly for the gate to pass. */
  /** The deterministic per-pixel test image: dims 8+id%9 × 8+id%7,
    * channels a fixed linear formula of (id, x, y) — the contract the
    * q128/q129 oracles recompute arithmetically. */
  private def formulaImage(id: Long): java.awt.image.BufferedImage = {
    import java.awt.image.BufferedImage
    val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 7 + x * 5 + y * 3) % 256).toInt
        val g = ((id * 11 + x * 2 + y * 7) % 256).toInt
        val b = ((id * 13 + x * 3 + y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeImage(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private[llm] def pngTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "png") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map(id =>
          (id, "image/png", encodeImage(formulaImage(id), "png"))))
        .toDF("doc_id", "mime", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** Mixed-mime + hostile-payload fixture (round 13): per doc_id%4 —
    * 0,2 → valid PNG; 1 → valid JPEG (same formula image through the
    * lossy encoder — dimensions survive exactly, pixels don't); 3 →
    * CORRUPT, declared as PNG: id%8==3 truncates a real PNG to half
    * (the reader claims it by magic bytes, then dies mid-parse —
    * ImageIO's *throwing* failure mode), id%8==7 is formula-derived
    * garbage with no magic at all (the *null-return* failure mode).
    * Encoded in the executors like [[pngTable]]; the driver never
    * holds payload bytes. */
  private[llm] def mixedTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "mixed") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          id % 4 match {
            case 1 =>
              (id, "image/jpeg", encodeImage(formulaImage(id), "jpg"))
            case 3 if id % 8 == 3 =>
              val whole = encodeImage(formulaImage(id), "png")
              (id, "image/png", whole.take(whole.length / 2))
            case 3 =>
              (id, "image/png",
                Array.tabulate[Byte](64)(i => ((id * 31 + i * 7) % 251).toByte))
            case _ =>
              (id, "image/png", encodeImage(formulaImage(id), "png"))
          }
        })
        .toDF("doc_id", "mime", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** Real-WAV fixture (round 14), staged with [[stagedTable]]'s
    * stamp + atomic-rename discipline and ENCODED IN THE EXECUTORS
    * like [[pngTable]]. Per doc_id%4:
    *  0 → valid 8 kHz WAV of the formula signal;
    *  1 → valid 16 kHz WAV (same samples — rate is header metadata);
    *  2 → DATA-TRUNCATED: a valid header declaring n frames over a
    *      data chunk cut to n bytes (header length computed from the
    *      encoder's own output, not assumed 44) — the silent failure
    *      mode javax.sound does not report;
    *  3 → doc_id%8==3: header cut to 16 bytes (parser throws);
    *      doc_id%8==7: formula garbage, no RIFF magic (parser
    *      throws). */
  private[llm] def wavTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "wav") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          val n = WavCodec.nSamples(id)
          val samples = Array.tabulate(n)(i => WavCodec.sampleAt(id, i).toShort)
          id % 4 match {
            case 1 => (id, WavCodec.encodeWav(samples, 16000f))
            case 2 =>
              val whole = WavCodec.encodeWav(samples, 8000f)
              val headerLen = whole.length - 2 * n
              (id, whole.take(headerLen + n))
            case 3 if id % 8 == 3 =>
              (id, WavCodec.encodeWav(samples, 8000f).take(16))
            case 3 =>
              (id, Array.tabulate[Byte](64)(i => ((id * 31 + i * 7) % 251).toByte))
            case _ => (id, WavCodec.encodeWav(samples, 8000f))
          }
        })
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** Real multi-frame GIF fixture (round 14), staged with
    * [[stagedTable]]'s stamp + atomic-rename discipline and ENCODED IN
    * THE EXECUTORS like [[pngTable]]/[[wavTable]]. Carries
    * `expected_frames` — the catalog-metadata frame count a real
    * ingest manifest would hold, and the ONLY way to detect GIF's
    * silent tail truncation (see [[GifCodec]]). Per doc_id%5:
    *  0,1,2 → valid animation of 2+doc_id%3 frames;
    *  3 → header-cut to 16 bytes (the reader claims it by magic, then
    *      throws — the quarantine path);
    *  4 → tail-cut by 10 bytes (the SILENT mode: the last frame's LZW
    *      data is cut, the reader counts nf−1 frames and decodes them
    *      exactly, raising nothing — probed across every fixture
    *      shape). */
  private[llm] def gifTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "gif") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          val whole = GifCodec.encodeGif(id)
          val payload = id % 5 match {
            case 3 => whole.take(16)
            case 4 => whole.take(whole.length - 10)
            case _ => whole
          }
          (id, GifCodec.nFrames(id), payload)
        })
        .toDF("doc_id", "expected_frames", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** Real-video (YUV4MPEG2) fixture (round 15), staged with
    * [[stagedTable]]'s stamp + atomic-rename discipline and ENCODED IN
    * THE EXECUTORS like [[pngTable]]/[[wavTable]]/[[gifTable]].
    * Carries `expected_frames` — raw y4m streams, like GIF, declare no
    * frame count, so catalog metadata is the only tail-truncation
    * detection (see [[Y4mCodec]]). Per doc_id%5 (the gifTable
    * taxonomy):
    *  0,1,2 → valid clip of 2+doc_id%4 frames;
    *  3 → header-cut to 6 bytes (no newline, bad magic — the parser
    *      throws, the quarantine path);
    *  4 → tail-cut by 10 bytes (the SILENT mode: the cut always lands
    *      inside the last frame's ≥96-byte plane data, so the reader
    *      counts nf−1 complete frames and raises nothing). */
  private[llm] def y4mTable(s: SparkSession, dir: String): DataFrame =
    // prefix carries a GENERATION version: the staged-table stamp keys
    // on the SOURCE fixture's size+mtime only, so an encoder change
    // (r16: mixed C444/C420) would silently reuse a previous round's
    // staged C444-only payloads without the bump
    stagedTable(s, dir, "y4m_v2") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          val whole = Y4mCodec.encodeY4m(id)
          val payload = id % 5 match {
            case 3 => whole.take(6)
            case 4 => whole.take(whole.length - 10)
            case _ => whole
          }
          (id, Y4mCodec.nFrames(id), payload)
        })
        .toDF("doc_id", "expected_frames", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** MJPEG-AVI fixture, staged with [[stagedTable]]'s stamp +
    * atomic-rename discipline and ENCODED IN THE EXECUTORS like
    * [[y4mTable]]. NO `expected_frames` column — AVI self-declares
    * its frame count (see [[AviCodec]]). Per doc_id%5 (the
    * gifTable/y4mTable taxonomy plus a per-frame corruption mode):
    *  0,1 → valid container, 2+doc_id%4 MJPEG frames;
    *  2 → valid container, frame 1's JPEG payload cut to 8 bytes —
    *      the chunk walks fine, the DECODE of that one frame fails
    *      (per-frame quarantine; the other frames stay usable);
    *  3 → header-cut to 6 bytes (bad magic — the RIFF walk throws,
    *      the doc-level quarantine path);
    *  4 → tail-cut by 10 bytes (the cut lands inside the last
    *      frame's JPEG data — every fixture JPEG is ≥ hundreds of
    *      bytes — so the walk counts nf−1 complete frames against a
    *      declared nf: the container-internal 'short' path). */
  private[llm] def aviTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "avi") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          val nf = AviCodec.nFrames(id)
          val jpegs = (0 until nf).map(f => AviCodec.frameJpeg(id, f))
          val payloads =
            if (id % 5 == 2) jpegs.updated(1, jpegs(1).take(8)) else jpegs
          val whole = AviCodec.encodeAvi(id, nf, payloads)
          val payload = id % 5 match {
            case 3 => whole.take(6)
            case 4 => whole.take(whole.length - 10)
            case _ => whole
          }
          (id, payload)
        })
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** The mp4 fixture — [[aviTable]]'s doc_id%5 taxonomy verbatim
    * (valid / valid / one-frame-corrupt / header-cut / tail-cut) over
    * [[Mp4Codec.encodeMp4]]. The corrupt mode swaps frame 1's payload
    * for its first 8 bytes BEFORE encoding, so stsz carries the real
    * (8-byte) size and only the DECODE fails — the per-frame
    * quarantine path, not a walk error. */
  private[llm] def mp4Table(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "mp4") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          val nf = Mp4Codec.nFrames(id)
          val jpegs = (0 until nf).map(f => Mp4Codec.frameJpeg(id, f))
          val payloads =
            if (id % 5 == 2) jpegs.updated(1, jpegs(1).take(8)) else jpegs
          val whole = Mp4Codec.encodeMp4(id, nf, payloads)
          val payload = id % 5 match {
            case 3 => whole.take(6)
            case 4 => whole.take(whole.length - 10)
            case _ => whole
          }
          (id, payload)
        })
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  /** The Matroska fixture — [[aviTable]]'s doc_id%5 taxonomy verbatim
    * over [[MkvCodec.encodeMkv]], with [[y4mTable]]'s external
    * expected_frames column (mkv self-declares no frame total). */
  private[llm] def mkvTable(s: SparkSession, dir: String): DataFrame =
    stagedTable(s, dir, "mkv") { stage =>
      import s.implicits._
      stagedIds(s, dir)
        .mapPartitions(_.map { id =>
          val nf = MkvCodec.nFrames(id)
          val jpegs = (0 until nf).map(f => MkvCodec.frameJpeg(id, f))
          val payloads =
            if (id % 5 == 2) jpegs.updated(1, jpegs(1).take(8)) else jpegs
          val whole = MkvCodec.encodeMkv(id, payloads)
          val payload = id % 5 match {
            case 3 => whole.take(6)
            case 4 => whole.take(whole.length - 10)
            case _ => whole
          }
          (id, nf, payload)
        })
        .toDF("doc_id", "expected_frames", "payload")
        .write.mode("overwrite").parquet(stage.toString)
    }

  val qs: Seq[Q] = Seq(
    // ---- binary column plumbing, oracle-checked: the documents' text
    // bytes stand in for media payloads; the "frame sample" extraction
    // is pure binary column arithmetic on both engines.
    Q("q49_multimodal_frames",
      """WITH m AS (SELECT doc_id, text::BLOB AS payload FROM documents),
        |f AS (SELECT doc_id, octet_length(payload) AS byte_len, hex(payload) AS h,
        |             unnest([0, 1, 2]) AS frame_idx
        |      FROM m)
        |SELECT doc_id, frame_idx, byte_len,
        |       substring(h, (1 + 7 * frame_idx) * 2 + 1, 16) AS frag_hex
        |FROM f WHERE byte_len >= 30
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      T.df(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .select(col("doc_id"), octet_length(col("payload")).as("byte_len"),
          hex(col("payload")).as("h"),
          explode(sequence(lit(0), lit(2))).as("frame_idx"))
        .filter(col("byte_len") >= 30)
        .select(col("doc_id"), col("frame_idx"), col("byte_len"),
          col("h").substr(col("frame_idx") * 14 + 3, lit(16)).as("frag_hex"))
        .orderBy("doc_id", "frame_idx")
    },

    // ---- metadata-only media query: per-mime inventory over the
    // staged payload+metadata table. The payload column is never
    // touched, and parquet column pruning makes that PHYSICAL: the
    // scan's ReadSchema carries only the three metadata columns
    // (PlanSpec pins payload's absence), so this query costs the same
    // whether payloads are 100-byte stubs or 10 MB videos — the
    // property that makes metadata-first curation viable at 100 TB.
    // The oracle recomputes the staged table's deterministic metadata
    // derivation directly over `documents`.
    Q("q102_media_meta_prune",
      """WITH m AS (SELECT doc_id,
        |        CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
        |             ELSE 'video/mp4' END AS mime,
        |        (n_chars * 40)::BIGINT AS dur_ms,
        |        octet_length(text::BLOB)::BIGINT AS byte_len
        |      FROM documents)
        |SELECT mime, count(*)::BIGINT AS n_media, sum(byte_len)::BIGINT AS total_bytes,
        |       max(dur_ms) AS max_dur_ms
        |FROM m GROUP BY mime ORDER BY mime""".stripMargin) { (s, dir) =>
      mediaTable(s, dir)
        .groupBy("mime")
        .agg(count(lit(1)).as("n_media"), sum("byte_len").as("total_bytes"),
          max("dur_ms").as("max_dur_ms"))
        .orderBy("mime")
    },

    // ---- batched feature extraction over payload bytes: the typed
    // Dataset[Media] flows through [[MediaBatch.features]] — the
    // init-once-per-partition batch shape a real decoder/feature-net
    // needs — computing unsigned byte stats over the first 16 payload
    // bytes. Map-only end to end (scan → features; the only exchange
    // is the final presentation sort). The oracle parses the same
    // bytes positionally from hex on the DuckDB side, so the feature
    // values are byte-exact across engines — the decode STUB is
    // swappable, the verified plumbing is not.
    Q("q103_media_byte_stats",
      """WITH m AS (SELECT doc_id, text::BLOB AS p FROM documents),
        |b AS (SELECT doc_id, octet_length(p)::BIGINT AS len, hex(p) AS h FROM m),
        |pos AS (SELECT doc_id, unnest(generate_series(1, least(len, 16)::INT)) AS i, h
        |        FROM b),
        |by AS (SELECT doc_id,
        |         (strpos('0123456789ABCDEF', substring(h, 2*i-1, 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substring(h, 2*i, 1)) - 1) AS bv
        |       FROM pos)
        |SELECT doc_id, count(*)::INT AS n_used, sum(bv)::BIGINT AS byte_sum,
        |       max(bv)::INT AS byte_max
        |FROM by GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = mediaTable(s, dir)
        .select(col("doc_id"), col("payload").as("bytes"), col("mime"),
          col("byte_len").as("byteLen"))
        .as[Media]
      MediaBatch.features(media, 16)
        .filter(col("n_used") >= 1)
        .select("doc_id", "n_used", "byte_sum", "byte_max")
        .orderBy("doc_id")
    },

    // ---- REAL decode, oracle-gated end to end (round 12): the staged
    // fixture's payloads are genuine PNGs; the query decodes every one
    // with javax.imageio and sums the decoded channels. The oracle
    // never sees a PNG — it recomputes the identical numbers from the
    // fixture's generative formula (lateral generate_series over each
    // doc's w×h pixel grid), so the gate proves the ENCODE→DECODE
    // round trip is bit-exact: wrong dimensions, channel order, or any
    // mangled pixel hash-mismatches. Plan: scan → map-only batched
    // decode (payload bytes never shuffle) → presentation sort; at
    // 100 TB the decode cost parallelizes per input split and the only
    // exchange carries 7 scalar columns per image.
    Q("q128_media_decode",
      """WITH d AS (SELECT doc_id, (8 + doc_id % 9)::INT AS w,
        |                  (8 + doc_id % 7)::INT AS h
        |           FROM documents),
        |xs AS (SELECT unnest(generate_series(0, 15)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 13)) AS y),
        |px AS (SELECT d.doc_id, d.w, d.h, xs.x, ys.y
        |       FROM d, xs, ys WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id, max(w)::INT AS width, max(h)::INT AS height,
        |       count(*)::BIGINT AS n_px,
        |       sum((doc_id * 7 + x * 5 + y * 3) % 256)::BIGINT AS r_sum,
        |       sum((doc_id * 11 + x * 2 + y * 7) % 256)::BIGINT AS g_sum,
        |       sum((doc_id * 13 + x * 3 + y) % 256)::BIGINT AS b_sum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = pngTable(s, dir)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      MediaBatch.decodeImages(payloads)
        .select("doc_id", "width", "height", "n_px", "r_sum", "g_sum", "b_sum")
        .orderBy("doc_id")
    },

    // ---- mixed-mime + hostile payloads (round 13): the fixture mixes
    // valid PNGs, valid JPEGs, and two kinds of corrupt payload
    // (truncated PNG → the reader THROWS mid-parse; magic-less garbage
    // → ImageIO returns null); the total decode folds both failure
    // modes into counted 'quarantined' rows — no executor exception,
    // the property that keeps a 100 TB decode pass alive on a corpus
    // that WILL contain bad media. Oracle-exact because dimensions
    // survive JPEG's lossy encode exactly and the corrupt set is
    // formula-determined: the oracle recomputes mime/status/dims per
    // doc arithmetically; a decoder that throws (task dies → query
    // errors), mis-quarantines a valid JPEG, or "decodes" garbage
    // flips the hash.
    Q("q129_media_mixed_quarantine",
      """WITH d AS (SELECT doc_id,
        |             doc_id % 4 AS kind,
        |             CASE WHEN doc_id % 4 = 1 THEN 'image/jpeg'
        |                  ELSE 'image/png' END AS mime,
        |             (8 + doc_id % 9)::INT AS w, (8 + doc_id % 7)::INT AS h
        |           FROM documents)
        |SELECT doc_id, mime,
        |       CASE WHEN kind = 3 THEN 'quarantined' ELSE 'ok' END AS status,
        |       CASE WHEN kind = 3 THEN NULL ELSE w END AS width,
        |       CASE WHEN kind = 3 THEN NULL ELSE h END AS height,
        |       CASE WHEN kind = 3 THEN NULL ELSE (w * h)::BIGINT END AS n_px
        |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = mixedTable(s, dir)
        .select(col("doc_id"), col("mime"), col("payload"))
        .as[(Long, String, Array[Byte])]
      MediaBatch.decodeImagesSafe(payloads)
        .select("doc_id", "mime", "status", "width", "height", "n_px")
        .orderBy("doc_id")
    },

    // ---- REAL audio decode (round 14 — the last multimodal stub
    // replaced): the fixture's payloads are genuine PCM WAVs encoded
    // in-executor from a deterministic sample formula; the query
    // decodes every one with javax.sound.sampled and reports
    // rate/count/sum/max per doc, with the THREE-way status fold:
    // header+data consistent → ok; header parses but the data chunk
    // under-delivers → 'truncated' WITH the decoded-prefix stats
    // (javax.sound raises nothing for this — the decoder's own
    // declared-vs-actual frame check is the only detection, and the
    // oracle recomputing the exact prefix sums proves the partial
    // read is byte-faithful); parser throws → counted 'quarantined'
    // row, task survives. PCM is lossless, so the DuckDB oracle
    // recomputes every number arithmetically from the formula — any
    // endianness/sign/header deviation flips the hash. Plan: scan →
    // map-only batched decode (payload bytes never shuffle) →
    // presentation sort, same shape as q128/q129.
    Q("q134_audio_decode",
      """WITH d AS (SELECT doc_id, doc_id % 4 AS kind,
        |             (64 + doc_id % 33)::BIGINT AS n
        |           FROM documents),
        |e AS (SELECT doc_id, kind, n,
        |        CASE WHEN kind = 2 THEN n // 2 ELSE n END AS m,
        |        CASE WHEN kind = 1 THEN 16000 ELSE 8000 END AS rate
        |      FROM d WHERE kind <> 3),
        |xs AS (SELECT unnest(generate_series(0, 96)) AS i),
        |sm AS (SELECT e.doc_id, e.kind, e.rate,
        |         ((e.doc_id * 7919 + xs.i * 4421) % 65536) - 32768 AS a
        |       FROM e, xs WHERE xs.i < e.m)
        |SELECT doc_id,
        |       CASE WHEN kind = 2 THEN 'truncated' ELSE 'ok' END AS status,
        |       rate::INT AS sample_rate, count(*)::BIGINT AS n_samples,
        |       sum(a)::BIGINT AS amp_sum, max(a)::INT AS amp_max
        |FROM sm GROUP BY doc_id, kind, rate
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL, NULL
        |FROM d WHERE kind = 3
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = wavTable(s, dir)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      MediaBatch.decodeWavsSafe(payloads)
        .select("doc_id", "status", "sample_rate", "n_samples", "amp_sum", "amp_max")
        .orderBy("doc_id")
    },

    // ---- Content-addressed media dedup manifest (round 14) — the
    // binary-payload member of the dedup family: q38 keys on
    // normalized TEXT, this keys on the payload BYTES (md5), the way
    // an image/audio store dedups — identical bytes collapse even
    // when their declared mime/metadata disagree (the fixture's
    // doc_id%3 mime assignment makes byte-identical payloads carry
    // DIFFERENT mimes, so n_mimes > 1 on real clusters proves the
    // digest, not the metadata, is the key). Output = top-20 digest
    // census rows (n_copies DESC) with the min-doc_id keeper — the
    // manifest a garbage-collecting blob store applies; includes
    // singletons so the gate stays populated at every fixture scale
    // (sf0.01 has zero exact-dup payloads, sf0.1 has 8 clusters —
    // both hash-compared). Spark md5 over UTF-8 payload bytes ≡
    // DuckDB md5 over the source text: both digest the same byte
    // string, so the oracle never touches the staged table.
    // Plan at 100 TB: digest is map-side (payload bytes never
    // shuffle — only 16-byte digests cross the wire, the same
    // payload-locality rule q103/q129 pin), census is one hash agg
    // with partials, top-20 is TakeOrderedAndProject.
    Q("q143_media_dedup_manifest",
      """WITH m AS (SELECT doc_id,
        |             (['image/png', 'audio/wav', 'video/mp4'])[(CAST(doc_id % 3 AS INT) + 1)] AS mime,
        |             md5(text) AS digest
        |           FROM documents),
        |d AS (SELECT digest, count(*)::BIGINT AS n_copies,
        |        count(DISTINCT mime)::BIGINT AS n_mimes, min(doc_id) AS keeper
        |      FROM m GROUP BY 1)
        |SELECT digest, n_copies, n_mimes, keeper FROM d
        |ORDER BY n_copies DESC, digest LIMIT 20""".stripMargin) { (s, dir) =>
      mediaTable(s, dir)
        .select(col("doc_id"), col("mime"), md5(col("payload")).as("digest"))
        .groupBy("digest")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct("mime").as("n_mimes"), min("doc_id").as("keeper"))
        .orderBy(col("n_copies").desc, col("digest"))
        .limit(20)
    },

    // ---- REAL multi-frame decode + frame sampling (round 14 — the
    // frame-sampling stub closed): the fixture's payloads are genuine
    // animated GIFs encoded in-executor from a deterministic per-
    // (frame,x,y) formula; the query counts the frames present,
    // samples {first, middle, last}, decodes ONLY those (a 10k-frame
    // video costs 3 decodes), and reports per-frame dims + exact
    // pixel sums with a three-way status fold: 'ok'; 'short' when the
    // container silently under-delivers frames (GIF carries NO
    // declared frame count — a mid-stream cut is undetectable from
    // the container, probed directly, so the decoder cross-checks the
    // catalog's expected_frames the way q134 checks WAV's declared
    // length); 'quarantined' when the parser throws on a header cut.
    // Indexed grayscale round-trips bit-exactly, so the DuckDB oracle
    // recomputes every sampled frame's sum arithmetically — a decoder
    // that mis-seeks, drops the palette, or mis-counts frames flips
    // the hash. Plan: scan → map-only batched decode (payload bytes
    // never shuffle; ≤3 scalar rows per doc cross the wire) →
    // presentation sort, the q128/q134 shape.
    Q("q145_gif_frame_sample",
      """WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
        |             (2 + doc_id % 3)::INT AS nf,
        |             (8 + doc_id % 9)::INT AS w, (8 + doc_id % 7)::INT AS h
        |           FROM documents),
        |e AS (SELECT doc_id, w, h,
        |        CASE WHEN kind = 4 THEN nf - 1 ELSE nf END AS n,
        |        CASE WHEN kind = 4 THEN 'short' ELSE 'ok' END AS status
        |      FROM d WHERE kind <> 3),
        |fr AS (SELECT doc_id, status, w, h,
        |         unnest(list_distinct([0, n // 2, n - 1])) AS f
        |       FROM e),
        |xs AS (SELECT unnest(generate_series(0, 16)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 13)) AS y),
        |px AS (SELECT fr.doc_id, fr.status, fr.f, fr.w, fr.h, xs.x, ys.y
        |       FROM fr, xs, ys WHERE xs.x < fr.w AND ys.y < fr.h)
        |SELECT doc_id, status, f::INT AS frame_idx, max(w)::INT AS width,
        |       max(h)::INT AS height,
        |       sum((doc_id * 7 + f * 17 + x * 5 + y * 3) % 256)::BIGINT AS px_sum
        |FROM px GROUP BY doc_id, status, f
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL, NULL
        |FROM d WHERE kind = 3
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = gifTable(s, dir)
        .select(col("doc_id"), col("expected_frames"), col("payload"))
        .as[(Long, Int, Array[Byte])]
      MediaBatch.sampleGifFramesSafe(payloads)
        .select("doc_id", "status", "frame_idx", "width", "height", "px_sum")
        .orderBy("doc_id", "frame_idx")
    },

    // ---- REAL video decode + frame sampling (round 15 — the LAST
    // simulated decode path closed; image q128, audio q134, frames
    // q145, video HERE): the fixture's payloads are genuine YUV4MPEG2
    // streams encoded in-executor from a deterministic per-(frame,x,y)
    // plane formula; the query demuxes the ASCII header, counts the
    // COMPLETE frames present by offset arithmetic (a 10k-frame video
    // costs a 6-byte marker scan per frame, zero decode of unsampled
    // frames), samples {first, middle, last}, and reports per-frame
    // dims + exact Y/U/V plane sums with the three-way status fold:
    // 'ok'; 'short' when the stream under-delivers vs the catalog's
    // expected_frames (raw y4m carries no frame count or trailer — a
    // tail cut is silent, the q145 GIF property); 'quarantined' when
    // the header is cut or the colourspace unsupported. y4m is
    // uncompressed, so the DuckDB oracle recomputes every sampled
    // frame's plane sums arithmetically — a demuxer that mis-seeks,
    // swaps planes, or counts a partial frame flips the hash. Plan:
    // scan → map-only batched decode (payload bytes never shuffle;
    // ≤3 scalar rows per doc cross the wire) → presentation sort,
    // the q128/q134/q145 shape.
    Q("q153_video_frame_sample",
      """WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
        |             (2 + doc_id % 4)::INT AS nf,
        |             (8 + doc_id % 9)::INT AS w, (8 + doc_id % 7)::INT AS h
        |           FROM documents),
        |d2 AS (SELECT *,
        |         CASE WHEN doc_id % 2 = 1 AND w % 2 = 0 AND h % 2 = 0
        |              THEN w // 2 ELSE w END AS cw,
        |         CASE WHEN doc_id % 2 = 1 AND w % 2 = 0 AND h % 2 = 0
        |              THEN h // 2 ELSE h END AS ch
        |       FROM d),
        |e AS (SELECT doc_id, w, h, cw, ch,
        |        CASE WHEN kind = 4 THEN nf - 1 ELSE nf END AS n,
        |        CASE WHEN kind = 4 THEN 'short' ELSE 'ok' END AS status
        |      FROM d2 WHERE kind <> 3),
        |fr AS (SELECT doc_id, status, w, h, cw, ch,
        |         unnest(list_distinct([0, n // 2, n - 1])) AS f
        |       FROM e),
        |xs AS (SELECT unnest(generate_series(0, 16)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 13)) AS y),
        |ysum AS (SELECT fr.doc_id, fr.f,
        |           sum((doc_id * 7 + f * 17 + x * 5 + y * 3) % 256)::BIGINT AS y_sum
        |         FROM fr, xs, ys WHERE xs.x < fr.w AND ys.y < fr.h
        |         GROUP BY 1, 2),
        |csum AS (SELECT fr.doc_id, fr.status, fr.f, fr.w, fr.h,
        |           sum((doc_id * 11 + f * 5 + x * 2 + y * 7) % 256)::BIGINT AS u_sum,
        |           sum((doc_id * 13 + f * 3 + x * 3 + y) % 256)::BIGINT AS v_sum
        |         FROM fr, xs, ys WHERE xs.x < fr.cw AND ys.y < fr.ch
        |         GROUP BY 1, 2, 3, 4, 5)
        |SELECT c.doc_id, c.status, c.f::INT AS frame_idx, c.w::INT AS width,
        |       c.h::INT AS height, y.y_sum, c.u_sum, c.v_sum
        |FROM csum c JOIN ysum y ON y.doc_id = c.doc_id AND y.f = c.f
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL, NULL, NULL, NULL
        |FROM d WHERE kind = 3
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = y4mTable(s, dir)
        .select(col("doc_id"), col("expected_frames"), col("payload"))
        .as[(Long, Int, Array[Byte])]
      MediaBatch.sampleY4mFramesSafe(payloads)
        .select("doc_id", "status", "frame_idx", "width", "height",
          "y_sum", "u_sum", "v_sum")
        .orderBy("doc_id", "frame_idx")
    },

    // ---- Video scene-delta census (round 16 — the first ANALYTIC
    // over the real decoded video family: per consecutive complete-
    // frame pair the Y-plane SAD (sum of absolute pixel differences,
    // the classic shot-cut / motion signal a video-curation pipeline
    // thresholds to sample one frame per shot instead of per second)
    // plus the per-pixel milli rate that makes the threshold
    // resolution-free. Unlike q153's sampled decode this is an
    // inherently FULL pass over the Y planes — every pair is the
    // operator's contract — but chroma planes are still skipped by
    // offset arithmetic and the work is map-only per video (payload
    // bytes never shuffle, the q143 manifest discipline). The status
    // taxonomy (ok / short / quarantined, incomplete tails uncounted)
    // is the SAME [[Y4mCodec.parseStream]] census as q153 — factored,
    // so the two operators cannot drift on format rules; pairless
    // videos (a tail-cut 2-frame clip) stay visible as status-only
    // rows. Oracle recomputes every SAD from the generator formulas
    // in exact BIGINT — the round-trip proves encoder, demuxer,
    // offsets, and the SAD fold byte-for-byte.
    Q("q212_video_scene_deltas",
      """WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
        |             (2 + doc_id % 4)::INT AS nf,
        |             (8 + doc_id % 9)::INT AS w, (8 + doc_id % 7)::INT AS h
        |           FROM documents),
        |e AS (SELECT doc_id, w, h,
        |        CASE WHEN kind = 4 THEN nf - 1 ELSE nf END AS n,
        |        CASE WHEN kind = 4 THEN 'short' ELSE 'ok' END AS status
        |      FROM d WHERE kind <> 3),
        |pr AS (SELECT doc_id, status, w, h, unnest(generate_series(0, n - 2)) AS f
        |       FROM e WHERE n >= 2),
        |xs AS (SELECT unnest(generate_series(0, 16)) AS x),
        |ys AS (SELECT unnest(generate_series(0, 13)) AS y),
        |sad AS (SELECT pr.doc_id, pr.status, pr.f, pr.w, pr.h,
        |          sum(abs((doc_id * 7 + (f + 1) * 17 + x * 5 + y * 3) % 256
        |                - (doc_id * 7 + f * 17 + x * 5 + y * 3) % 256))::BIGINT AS y_sad
        |        FROM pr, xs, ys WHERE xs.x < pr.w AND ys.y < pr.h
        |        GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, status, f::INT AS frame_idx, y_sad,
        |       (1000 * y_sad // (w * h))::BIGINT AS sad_px_milli
        |FROM sad
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL FROM d WHERE kind = 3
        |UNION ALL
        |SELECT doc_id, 'short', NULL, NULL, NULL FROM d WHERE kind = 4 AND nf = 2
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = y4mTable(s, dir)
        .select(col("doc_id"), col("expected_frames"), col("payload"))
        .as[(Long, Int, Array[Byte])]
      MediaBatch.y4mSceneDeltasSafe(payloads)
        .select("doc_id", "status", "frame_idx", "y_sad", "sad_px_milli")
        .orderBy("doc_id", "frame_idx")
    },

    // ---- MJPEG-in-AVI decode census (round 17, VERDICT r16 item 4 —
    // with this, every media container family has one REAL decoder:
    // PNG/JPEG via ImageIO, WAV via javax.sound, GIF multi-frame via
    // ImageIO, y4m raw video hand-parsed, and now a COMPRESSED-video
    // interchange container, demuxed by a hand-written RIFF chunk
    // walk feeding the JVM's own JPEG decoder; mp4/webm remain
    // documented stubs — no JVM codec exists). The oracle recomputes
    // per-frame decoder-reported dims + the full status taxonomy
    // (ok / short / bad_frame / quarantined) from the fixture
    // formulas: dims crossing the demuxer's chunk offsets is the
    // round-trip proof — a walk that mis-slices feeds the decoder
    // garbage and flips rows to bad_frame (JPEG pixel values are
    // lossy, so sums are NOT the contract here; q129's dims
    // discipline is). Plan at 100 TB: map-only per container (the
    // q143 manifest discipline — payload bytes never shuffle; only
    // per-frame scalar rows exit the decode), quarantine total by
    // construction, chunk sizes untrusted (bounds-clamped before any
    // slice — the decompression-bomb guard carried over from y4m).
    Q("q214_avi_mjpeg_decode",
      """WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
        |             (2 + doc_id % 4)::INT AS nf,
        |             (8 + doc_id % 9)::INT AS w, (8 + doc_id % 7)::INT AS h
        |           FROM documents),
        |e AS (SELECT doc_id, kind, w, h,
        |        CASE WHEN kind = 4 THEN nf - 1 ELSE nf END AS n,
        |        CASE WHEN kind = 4 THEN 'short' ELSE 'ok' END AS status
        |      FROM d WHERE kind <> 3),
        |fr AS (SELECT doc_id, kind, status, w, h,
        |         unnest(generate_series(0, n - 1)) AS f
        |       FROM e)
        |SELECT doc_id,
        |       CASE WHEN kind = 2 AND f = 1 THEN 'bad_frame' ELSE status END AS status,
        |       f::INT AS frame_idx,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL ELSE w END AS width,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL ELSE h END AS height,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL
        |            ELSE (w * h)::BIGINT END AS n_px
        |FROM fr
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL, NULL
        |FROM d WHERE kind = 3
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = aviTable(s, dir)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
      MediaBatch.decodeAviFramesSafe(payloads)
        .select("doc_id", "status", "frame_idx", "width", "height", "n_px")
        .orderBy("doc_id", "frame_idx")
    },

    // ---- MJPEG-in-mp4 decode census (round 17 — the ISO BMFF walk
    // that retires mp4's "documented stub" status: the CONTAINER now
    // has a real demuxer (boxes → moov → video trak → stsd/stts/stsc/
    // stsz/stco → sample slices), with Motion-JPEG payloads decoded by
    // the JVM's own JPEG reader; H.264/VP9 payloads remain the honest
    // out-of-scope boundary — such a file WALKS fine and quarantines
    // per frame at decode. Same oracle discipline as q214: per-frame
    // decoder-reported dims + the 4-way taxonomy recomputed from the
    // fixture formulas; dims crossing the stsc/stco/stsz sample
    // mapping is the round-trip proof (a mis-resolved offset feeds the
    // decoder garbage and flips the row). Map-only per container;
    // payload bytes never shuffle; sizes untrusted and clamped. */
    Q("q216_mp4_mjpeg_decode",
      """WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
        |             (2 + doc_id % 3)::INT AS nf,
        |             (8 + doc_id % 8)::INT AS w, (8 + doc_id % 6)::INT AS h
        |           FROM documents),
        |e AS (SELECT doc_id, kind, w, h,
        |        CASE WHEN kind = 4 THEN nf - 1 ELSE nf END AS n,
        |        CASE WHEN kind = 4 THEN 'short' ELSE 'ok' END AS status
        |      FROM d WHERE kind <> 3),
        |fr AS (SELECT doc_id, kind, status, w, h,
        |         unnest(generate_series(0, n - 1)) AS f
        |       FROM e)
        |SELECT doc_id,
        |       CASE WHEN kind = 2 AND f = 1 THEN 'bad_frame' ELSE status END AS status,
        |       f::INT AS frame_idx,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL ELSE w END AS width,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL ELSE h END AS height,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL
        |            ELSE (w * h)::BIGINT END AS n_px
        |FROM fr
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL, NULL
        |FROM d WHERE kind = 3
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = mp4Table(s, dir)
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
      MediaBatch.decodeMp4FramesSafe(payloads)
        .select("doc_id", "status", "frame_idx", "width", "height", "n_px")
        .orderBy("doc_id", "frame_idx")
    },

    // ---- MJPEG-in-Matroska decode census (round 17 — the EBML
    // varint walk, the third and last container FRAMING family after
    // RIFF chunks (q214) and ISO BMFF boxes (q216); with it every
    // container framing the fixture universe can express has a real
    // demuxer. Matroska carries V_MJPEG legitimately (public codec-id
    // registry) so the decode is real; webm proper is the same walk
    // with VP8/VP9-only payloads — the documented subset boundary, no
    // JVM codec. 'short' grades against the fixture's external
    // expected count (the y4m convention: mkv self-declares no frame
    // total). Oracle discipline identical to q214/q216. Map-only per
    // container; payload bytes never shuffle; varint sizes untrusted
    // — clamped containers salvage complete children, a clamped leaf
    // block is dropped to the 'short' path, never mis-sliced.
    Q("q217_mkv_mjpeg_decode",
      """WITH d AS (SELECT doc_id, doc_id % 5 AS kind,
        |             (2 + doc_id % 4)::INT AS nf,
        |             (8 + doc_id % 7)::INT AS w, (8 + doc_id % 9)::INT AS h
        |           FROM documents),
        |e AS (SELECT doc_id, kind, w, h,
        |        CASE WHEN kind = 4 THEN nf - 1 ELSE nf END AS n,
        |        CASE WHEN kind = 4 THEN 'short' ELSE 'ok' END AS status
        |      FROM d WHERE kind <> 3),
        |fr AS (SELECT doc_id, kind, status, w, h,
        |         unnest(generate_series(0, n - 1)) AS f
        |       FROM e)
        |SELECT doc_id,
        |       CASE WHEN kind = 2 AND f = 1 THEN 'bad_frame' ELSE status END AS status,
        |       f::INT AS frame_idx,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL ELSE w END AS width,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL ELSE h END AS height,
        |       CASE WHEN kind = 2 AND f = 1 THEN NULL
        |            ELSE (w * h)::BIGINT END AS n_px
        |FROM fr
        |UNION ALL
        |SELECT doc_id, 'quarantined', NULL, NULL, NULL, NULL
        |FROM d WHERE kind = 3
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = mkvTable(s, dir)
        .select(col("doc_id"), col("expected_frames"), col("payload"))
        .as[(Long, Int, Array[Byte])]
      MediaBatch.decodeMkvFramesSafe(payloads)
        .select("doc_id", "status", "frame_idx", "width", "height", "n_px")
        .orderBy("doc_id", "frame_idx")
    }
  )
}
