package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** REAL JVM media codecs for the multimodal suite (q306/q307) — the
  * decode stage q60's `stubDecode` honestly leaves out, closed with
  * the two codecs the JDK itself ships: `javax.imageio` (PNG) and
  * `javax.sound.sampled` (PCM WAV). No external libraries.
  *
  * The round-trip is oracle-gatable because the ENCODE side builds the
  * asset from closed-form integer pixel/sample formulas: the engine
  * proves a real encode → (binary column) → real decode recovers
  * exactly those values, while DuckDB replays the same formulas
  * arithmetically without ever touching a codec. A wrong byte anywhere
  * in the PNG chunk layout or the WAV RIFF header fails the hash gate.
  *
  * Scale shape: both stages are per-row compiled expressions (map-only
  * over the scan, no shuffle, no driver involvement) — the same
  * contract a production decode stage has. Formats the JDK lacks
  * (JPEG decode is present, video/Opus are not) slot in at this exact
  * seam as a JNI call or a `mapInPandas` batch stage with the same
  * schema.
  */
object MediaMath {

  // ImageIO defaults to a DISK-backed stream cache — a temp file per
  // encode/decode call, i.e. per-ROW executor filesystem traffic and a
  // hidden /tmp dependency. All our streams are in-memory byte arrays;
  // cache in heap instead. (Class-load once, thread-safe static.)
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic RGB pixel of asset `docId` at (x, y) — the formulas
    * the DuckDB oracle replays. */
  @inline def pr(docId: Long, x: Int, y: Int): Int = ((docId * 31 + x * 7 + y * 3) % 256).toInt
  @inline def pg(docId: Long, x: Int, y: Int): Int = ((docId * 17 + x * 11 + y * 5) % 256).toInt
  @inline def pb(docId: Long, x: Int, y: Int): Int = ((docId * 13 + x * 19 + y * 23) % 256).toInt

  /** w×h RGB image of the deterministic pixels, encoded as a REAL PNG
    * byte stream (javax.imageio). */
  def pngEncode(docId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pr(docId, x, y) << 16) | (pg(docId, x, y) << 8) | pb(docId, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // write() returns false when no PNG writer is registered — that
    // would otherwise surface as silently empty bytes downstream
    require(javax.imageio.ImageIO.write(img, "png", bos),
      "no javax.imageio PNG writer registered in this JVM")
    bos.toByteArray
  }

  /** REAL PNG decode (javax.imageio) → (width, height, Σr, Σg, Σb). */
  def pngStats(bytes: Array[Byte]): InternalRow = {
    // read() returns null (not an exception) on undecodable bytes
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"undecodable image bytes (len=${bytes.length})")
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L
    var sg = 0L
    var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](w, h, sr, sg, sb))
  }

  /** Deterministic signed PCM16 sample i of asset `docId` —
    * ((docId·7 + i·13) mod 65536) − 32768, the oracle's formula. */
  @inline def sample(docId: Long, i: Int): Int =
    (((docId * 7 + i.toLong * 13) % 65536) - 32768).toInt

  /** n deterministic samples as a REAL mono 16-bit little-endian WAV
    * byte stream (javax.sound.sampled RIFF writer). */
  def wavEncode(docId: Long, n: Int): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sample(docId, i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL WAV decode (javax.sound.sampled) → (n_samples, Σs, Σ|s|). */
  def wavStats(bytes: Array[Byte]): InternalRow = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = ais.getFrameLength.toInt
    val data = ais.readAllBytes()
    ais.close()
    var i = 0
    var sum = 0L
    var sumAbs = 0L
    while (i < n) {
      val lo = data(2 * i) & 0xff
      val hi = data(2 * i + 1).toInt // sign-extends: two's-complement high byte
      val s = (hi << 8) | lo
      sum += s
      sumAbs += math.abs(s)
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, sum, sumAbs))
  }
}
