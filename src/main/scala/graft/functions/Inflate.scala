package graft.functions

import java.util.zip.{DataFormatException, Inflater}

/** Raw RFC 1951 DEFLATE decoding into a caller-sized buffer, done by the
  * JDK's `java.util.zip.Inflater` in `nowrap` mode. This is the core
  * under [[GzipInflate]], [[GzipMembers]], [[ZlibInflate]],
  * [[ZipEntries]] and [[PngPixels]]; each of them checks its own header
  * and trailer.
  *
  * Failure model: returns a negative code and never throws. The work is
  * bounded by `dst.length`, which the caller caps at
  * [[Decompression.MaxOutputBytes]], so a zip-bomb stream cannot buy
  * more output than the caller allowed.
  */
object Inflate {

  /** @return bytes produced; -1 on malformed or truncated input; -2 when
    * the stream is well-formed so far but its output would exceed dst
    * (the grow-and-retry signal for callers like [[ZlibInflate]] whose
    * container declares no output size). Callers that know the exact
    * output size additionally require the count == dst.length.
    */
  def inflate(src: Array[Byte], from: Int, dst: Array[Byte]): Int = {
    val r = inflateTracked(src, from, dst)
    if (r < 0) r.toInt else (r & 0xffffffffL).toInt
  }

  /** Like [[inflate]], additionally reporting WHERE the deflate stream
    * ended: DEFLATE's extent is defined by its final-block bit, not by a
    * length field, so only the decoder can find the trailer that follows
    * it ([[GzipMembers]] walks concatenated members this way). @return
    * negative error codes as [[inflate]]; on success
    * `(endByteOffset << 32) | produced` where endByteOffset is the first
    * src index past the stream.
    */
  def inflateTracked(src: Array[Byte], from: Int, dst: Array[Byte]): Long = {
    val inf = new Inflater(true)
    try {
      inf.setInput(src, from, src.length - from)
      var oi = 0
      while (!inf.finished()) {
        if (oi < dst.length) oi += inf.inflate(dst, oi, dst.length - oi)
        // dst is full: the stream must end without another output byte
        else if (inf.inflate(new Array[Byte](1)) > 0) return -2L
        if (!inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          return -1L
      }
      ((src.length - inf.getRemaining).toLong << 32) | oi.toLong
    } catch {
      case _: DataFormatException => -1L
    } finally inf.end()
  }
}
