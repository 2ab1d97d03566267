package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar helpers (SURVEY §2.8). Everything here is either a driver-side
  * string transform on query constants or a codegen-friendly column
  * expression built from org.apache.spark.sql.functions — no UDFs except the
  * C11 extraction generator, which is inherently procedural.
  */
object Funcs {

  /** C1 — percent-decoding of leaf keywords
    * (/root/reference/src/util.h:159-193: bare %XX decode, no '+' handling).
    * Applied driver-side: leaf identifiers are query constants. */
  def decodeUriComponent(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 < s.length) {
          sb.append(((hex(s.charAt(i + 1)) << 4) | hex(s.charAt(i + 2))).toChar)
          i += 3
        } else i = s.length // truncated escape: reference drops it
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** C10 — base-26 5-char header key "AAAAA".."ZZZZZ" from a bucket ordinal
    * (/root/reference/src/query.cc:923-927). Pure chr/concat expression. */
  def base26Key(k: Column): Column = {
    val parts = (4 to 0 by -1).map { p =>
      val j = math.pow(26, p).toLong
      chr(lit(65) + (k.cast("long") / j) % 26)
    }
    concat(parts: _*)
  }

  /** C4 — JSON object merge by brace-stripping + comma-concat
    * (/root/reference/src/query.cc:866-890): bodies of both objects joined
    * into one, on the driver over a fetched page. Inputs may or may not
    * carry outer braces — stripped only when BOTH are present (a
    * '{'-prefixed but truncated value would otherwise silently lose its
    * real last character — review finding, r19). A null body is empty; a
    * merge with a null side is null. */
  def jsonBody(j: String): String =
    if (j == null) ""
    else if (j.startsWith("{") && j.endsWith("}")) j.substring(1, j.length - 1)
    else j

  def jsonMerge(a: String, b: String): String =
    if (a == null || b == null) null else s"{${jsonBody(a)},${jsonBody(b)}}"

  /** C8 — deterministic shard assignment for a string key. The reference uses
    * a private 64-bit hash (/root/reference/src/util.cc:195-210); the contract
    * is "stable shard from key bytes", not that exact hash. We use an md5
    * prefix so the DuckDB oracle can compute the identical value. */
  def shardOf(key: Column, shards: Int): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("long") % shards

  /** C5 — epoch-days score → "%B %e, %Y" date header with the double-space
    * collapse (/root/reference/src/query.cc:158-169). Spark's MMMM d pattern
    * produces the collapsed form directly. */
  def daysToDateString(days: Column): Column =
    date_format(timestamp_seconds(days.cast("long") * 86400L), "MMMM d, yyyy")

  /** C11 + S4 name scanner — transcription of the CAS blob scan state machine
    * (/root/reference/src/query.cc:246-278): lowercased runs of [alnum . -]
    * become candidate names (www. stripped, length >= 3, no edge dots,
    * query.cc:128-134,249-252); "{header text}" runs set the header attached
    * to subsequent names, with a running 6-digit header key. Returns
    * (name, header, headerKey) triples. */
  def extractNames(data: String): Seq[(String, String, String)] = {
    val out = Seq.newBuilder[(String, String, String)]
    val name = new StringBuilder
    var header = ""
    var headerPending = new StringBuilder
    var headerKey = ""
    var headerIdx = 0
    var inHeader = false
    def isNameCh(c: Char) = c.isLetterOrDigit || c == '.' || c == '-'
    def flush(): Unit = if (name.nonEmpty) {
      var n = name.toString
      if (n.startsWith("www.")) n = n.substring(4)
      if (n.length >= 3 && !n.startsWith(".") && !n.endsWith("."))
        out += ((n, header, headerKey))
      name.clear()
    }
    for (ch <- data) {
      if (inHeader) {
        if (ch.isLetterOrDigit || " .,_&-".indexOf(ch) >= 0) headerPending.append(ch)
        else if (ch == '}') {
          header = headerPending.toString
          headerKey = f"$headerIdx%06d"
          headerIdx += 1
          inHeader = false
        } else { headerPending.clear(); inHeader = false }
      } else if (ch == '{') {
        inHeader = true
        headerPending = new StringBuilder
      } else if (isNameCh(ch)) name.append(ch.toLower)
      else flush()
    }
    flush()
    out.result().distinct
  }
}
