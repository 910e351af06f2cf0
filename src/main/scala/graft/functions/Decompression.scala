package graft.functions

import java.io.{IOException, InputStream}

/** What the compressed-source decoders share: the one output cap and the
  * drain that turns a library decoder stream into a row value.
  *
  * The family contract is NULL on malformed input, never a thrown
  * exception, and never more than [[MaxOutputBytes]] of output per row
  * (a compressed blob can expand without bound, so output is capped by
  * policy, not by input size).
  */
object Decompression {

  /** Zip-bomb guard: the most bytes one row may decode to (64 MiB). Every
    * decoder in the family reads this cap; a container with several
    * members (gzip members, zip entries) spends it across all of them.
    */
  val MaxOutputBytes: Int = 64 * 1024 * 1024

  /** Reads the stream `open` builds to its end and returns every byte.
    * At most `MaxOutputBytes + 1` bytes are read: past the cap the result
    * is null. An `IOException` or `RuntimeException` from opening or
    * reading means corrupt input and also gives null. An `Error` (a
    * native library that failed to load, an OOM) is not a property of
    * the row and propagates. The stream is closed in every case, which
    * frees any native decoder context behind it.
    */
  def drain(open: => InputStream): Array[Byte] = {
    var in: InputStream = null
    try {
      in = open
      var buf = new Array[Byte](8192)
      var n = 0
      var r = 0
      while (r >= 0) {
        if (n == buf.length) {
          if (n > MaxOutputBytes) return null
          buf = java.util.Arrays.copyOf(buf,
            math.min(2L * n, MaxOutputBytes + 1L).toInt)
        }
        r = in.read(buf, n, buf.length - n)
        if (r > 0) n += r
      }
      java.util.Arrays.copyOf(buf, n)
    } catch {
      case _: IOException | _: RuntimeException => null
    } finally {
      if (in != null) try in.close() catch { case _: IOException => () }
    }
  }
}
