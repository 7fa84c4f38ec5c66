package graft.core

/** Percent-encoding for Hive-style `col=value` path segments, matching the
  * reference's quote/unquote (kartothek/core/urlencode.py:1-99 — Python
  * `urllib.parse.quote(s, safe="")`): every byte outside `[A-Za-z0-9_.~-]`
  * is `%XX`-encoded (UTF-8). Spark's own escapePathName is close but keeps
  * more characters; we use our codec for metadata labels so layouts are
  * deterministic and reference-compatible.
  */
object UrlCodec {
  private val safe: Set[Char] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('_', '.', '~', '-')).toSet

  def quote(s: String): String = {
    val bytes = s.getBytes("UTF-8")
    val sb = new StringBuilder(bytes.length)
    bytes.foreach { b =>
      val c = (b & 0xff).toChar
      if (c < 128 && safe(c)) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Inverse of [[quote]]; also decodes the unescaped non-ASCII characters
    * Spark's own partition writer leaves in a path (their UTF-8 bytes go
    * through as they are).
    */
  def unquote(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else if (c < 128) { out.write(c.toInt); i += 1 }
      else {
        val n = Character.charCount(s.codePointAt(i))
        out.write(s.substring(i, i + n).getBytes("UTF-8"))
        i += n
      }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** `uuid/table/col1=v1/.../label.parquet` ≙ create_partition_key
    * (core/dataset.py:871-898).
    */
  def partitionPath(keyValues: Seq[(String, String)]): String =
    keyValues.map { case (k, v) => s"${quote(k)}=${quote(v)}" }.mkString("/")

  /** Decode `col=value` segments from a relative partition path. */
  def decodePartitionPath(relPath: String): Seq[(String, String)] =
    relPath.split('/').toSeq.filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      (unquote(seg.substring(0, i)), unquote(seg.substring(i + 1)))
    }
}
