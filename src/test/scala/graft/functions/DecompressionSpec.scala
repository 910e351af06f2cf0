package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The shared drain under zstd_inflate, lz4_inflate and xz_inflate: the
  * output cap is exact, corruption maps to null, and an Error is never
  * mistaken for corruption. Pure JVM test — no Spark session needed.
  */
class DecompressionSpec extends AnyFunSuite {

  /** `n` zero bytes, then either EOF or `fail`. */
  private final class Fake(n: Long, fail: Option[Throwable])
      extends java.io.InputStream {
    private var left = n
    var closed = false
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else 0
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (left > 0) {
        val k = math.min(len.toLong, left).toInt
        left -= k
        k
      } else fail match {
        case Some(t) => throw t
        case None => -1
      }
    override def close(): Unit = closed = true
  }

  private val Cap = Decompression.MaxOutputBytes

  test("output up to the cap is returned whole; one byte past it is null") {
    assert(Decompression.drain(new Fake(0, None)).isEmpty)
    val at = Decompression.drain(new Fake(Cap, None))
    assert(at != null && at.length == Cap)
    val past = new Fake(Cap + 1L, None)
    assert(Decompression.drain(past) == null)
    assert(past.closed)
  }

  test("IOException and RuntimeException mean corrupt input: null, closed") {
    for (t <- Seq(new java.io.IOException("corrupt"),
        new IllegalStateException("corrupt"))) {
      val in = new Fake(100, Some(t))
      assert(Decompression.drain(in) == null)
      assert(in.closed)
    }
    assert(Decompression.drain(throw new java.io.IOException("header"))
      == null)
  }

  test("an Error propagates instead of becoming a NULL row") {
    val in = new Fake(100, Some(new ExceptionInInitializerError("native")))
    intercept[ExceptionInInitializerError](Decompression.drain(in))
    assert(in.closed)
  }
}
