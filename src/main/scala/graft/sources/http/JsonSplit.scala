package graft.sources.http

/** The selected array of a body, cut into chunks that parse on their own.
  * `open` and `close` index the array's brackets. Chunk `k` is the text
  * strictly between `cuts(k)` and `cuts(k + 1)` (the brackets at the ends,
  * element-separating commas inside) and holds rows `firsts(k)` until
  * `firsts(k + 1)`.
  */
private[http] final class Split(open: Int, close: Int, val cuts: Array[Int],
    val firsts: Array[Int]) {
  def chunks: Int = cuts.length - 1
  def rows: Int = firsts(chunks)

  /** The body with the array's text replaced by `[]`: the rest of the
    * document, for Jackson to validate and resolve the pointer in. */
  def skeleton(body: String): String =
    body.substring(0, open) + "[]" + body.substring(close + 1)

  /** Chunk `k` wrapped as a JSON array, read straight from the body. */
  def reader(body: String, k: Int): java.io.Reader = new ChunkReader(body, cuts(k) + 1, cuts(k + 1))
}

/** One structural pass over a body that finds where the array an RFC 6901
  * pointer selects lies and where its elements part: it tracks nesting
  * depth and skips strings and their escapes, nothing more. Validating
  * the text is left to Jackson, which parses every chunk and the rest of
  * the document; the scan only has to agree with Jackson on where strings
  * and elements end, which holds for every body Jackson accepts.
  *
  * Any doubt yields `None` and the body decodes in one piece: a pointer
  * through an array, through a key with an escape, or with `~` in it; a
  * target that is not an array or that the scan finds unbalanced; nesting
  * that comes near Jackson's depth limit (chunks nest less deeply than the
  * body, so they could pass where the body fails); or a result of fewer
  * than two chunks.
  */
private[http] object JsonSplit {

  /** Cuts the array `xpath` selects into at most `maxChunks` chunks of at
    * least about `minChunkChars` characters each, cutting only between
    * elements. `maxDepth` is the parser's nesting limit. */
  def find(body: String, xpath: String, maxChunks: Int, minChunkChars: Int,
      maxDepth: Int): Option[Split] = {
    val levels = if (xpath.isEmpty) 0 else xpath.count(_ == '/')
    val open = target(body, xpath)
    if (open < 0 || body.charAt(open) != '[' || maxChunks < 2 ||
        (body.length - open) / 2 < minChunkChars) return None
    val n = body.length
    // every comma between elements counts a row; only the first one past
    // each `grain` characters is kept as a place to cut
    val grain = math.max(1, minChunkChars / 16)
    val marks = Array.newBuilder[Int]
    val markRows = Array.newBuilder[Int]
    var nextMark = open + grain
    var commas, depth, deepest = 0
    var close = -1
    var i = open + 1
    while (close < 0 && i < n) {
      val c = body.charAt(i)
      if (c == '"') {
        i = skipString(body, i)
        if (i < 0) return None
      } else {
        if (c == ',') {
          if (depth == 0) {
            commas += 1
            if (i >= nextMark) { marks += i; markRows += commas; nextMark = i + grain }
          }
        } else if (c == '[' || c == '{') {
          depth += 1
          if (depth > deepest) deepest = depth
        } else if (c == ']' || c == '}') {
          if (depth == 0) close = i else depth -= 1
        }
        i += 1
      }
    }
    if (close < 0 || body.charAt(close) != ']' || commas == 0 ||
        levels + 1 + deepest >= maxDepth) return None
    val chunks = math.min(maxChunks.toLong, (close - open).toLong / minChunkChars).toInt
    if (chunks < 2) return None
    val at = marks.result()
    val atRows = markRows.result()
    val cuts = Array.newBuilder[Int] += open
    val firsts = Array.newBuilder[Int] += 0
    var m = 0
    var k = 1
    while (k < chunks) {
      val goal = open + ((close - open).toLong * k / chunks).toInt
      while (m < at.length && at(m) < goal) m += 1
      if (m < at.length) { cuts += at(m); firsts += atRows(m); m += 1 }
      k += 1
    }
    val split = new Split(open, close, (cuts += close).result(), (firsts += commas + 1).result())
    if (split.chunks < 2) None else Some(split)
  }

  /** Index of the first character of the value `xpath` selects, or -1. */
  private def target(body: String, xpath: String): Int = {
    var i = skipWs(body, 0)
    if (xpath.nonEmpty) {
      if (xpath.charAt(0) != '/' || xpath.indexOf('~') >= 0) return -1
      val it = xpath.substring(1).split("/", -1).iterator
      while (i >= 0 && it.hasNext) i = member(body, i, it.next())
    }
    if (i < body.length) i else -1
  }

  /** The value of the last member named `key` of the object at `i` (the
    * one Jackson keeps), or -1. */
  private def member(body: String, at: Int, key: String): Int = {
    val n = body.length
    if (at >= n || body.charAt(at) != '{') return -1
    var found = -1
    var i = skipWs(body, at + 1)
    if (i < n && body.charAt(i) == '}') return -1
    while (i < n) {
      if (body.charAt(i) != '"') return -1
      val nameEnd = skipString(body, i)
      if (nameEnd < 0 || (i + 1 until nameEnd).exists(body.charAt(_) == '\\')) return -1
      val named = nameEnd - i - 2 == key.length && body.startsWith(key, i + 1)
      i = skipWs(body, nameEnd)
      if (i >= n || body.charAt(i) != ':') return -1
      val value = skipWs(body, i + 1)
      i = skipValue(body, value)
      if (i < 0) return -1
      if (named) found = value
      i = skipWs(body, i)
      if (i >= n) return -1
      body.charAt(i) match {
        case ',' => i = skipWs(body, i + 1)
        case '}' => return found
        case _ => return -1
      }
    }
    -1
  }

  private def skipWs(body: String, from: Int): Int = {
    var i = from
    while (i < body.length && { val c = body.charAt(i); c == ' ' || c == '\n' || c == '\r' || c == '\t' })
      i += 1
    i
  }

  /** Index just past the string opening at `at`, or -1: it ends at the
    * first quote after an even run of backslashes. */
  private def skipString(body: String, at: Int): Int = {
    var q = body.indexOf('"', at + 1)
    while (q > 0 && { var b = q - 1; while (body.charAt(b) == '\\') b -= 1; (q - b) % 2 == 0 })
      q = body.indexOf('"', q + 1)
    if (q < 0) -1 else q + 1
  }

  /** Index just past the value starting at `at`, or -1. */
  private def skipValue(body: String, at: Int): Int = {
    val n = body.length
    if (at >= n) -1
    else body.charAt(at) match {
      case '"' => skipString(body, at)
      case '[' | '{' =>
        var depth = 0
        var i = at
        while (i < n) {
          val c = body.charAt(i)
          if (c == '"') { i = skipString(body, i); if (i < 0) return -1 }
          else {
            if (c == '[' || c == '{') depth += 1
            else if (c == ']' || c == '}') { depth -= 1; if (depth == 0) return i + 1 }
            i += 1
          }
        }
        -1
      case _ =>
        var i = at
        while (i < n && ",]} \n\r\t".indexOf(body.charAt(i)) < 0) i += 1
        if (i > at) i else -1
    }
  }
}

/** `[` + `body[from, to)` + `]`, without copying the body. */
private final class ChunkReader(body: String, from: Int, to: Int) extends java.io.Reader {
  private var pos = from - 1 // from - 1 reads as '[', to as ']'

  override def read(buf: Array[Char], off: Int, len: Int): Int =
    if (pos > to) -1
    else {
      var k = off
      val lim = off + len
      if (pos < from && k < lim) { buf(k) = '['; k += 1; pos = from }
      if (pos < to && k < lim) {
        val m = math.min(to - pos, lim - k)
        body.getChars(pos, pos + m, buf, k)
        k += m
        pos += m
      }
      if (pos == to && k < lim) { buf(k) = ']'; k += 1; pos += 1 }
      k - off
    }

  override def close(): Unit = ()
}
