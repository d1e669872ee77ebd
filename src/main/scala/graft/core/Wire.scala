package graft.core

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

/** The byte and string codecs both ends of the HTTP surface share: the
  * reference's "gzip" content encoding, which is really zlib
  * (`zlib.compress`/`zlib.decompress`, `server.py:309-311,369-371`), and
  * JSON string literals.
  */
object Wire {

  /** Inflate a whole zlib stream. A truncated stream throws: `inflate`
    * returns 0 forever once it needs input that is not there.
    */
  def zlibInflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new IllegalArgumentException("truncated zlib stream")
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  def zlibDeflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    try {
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** A JSON string literal with full escaping (backslashes and control
    * characters too, not just quotes), ASCII-only so the text survives
    * an ISO-8859-1 body.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
