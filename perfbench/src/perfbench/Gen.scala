package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** Deterministic seeded inputs. Every generated value is a pure function of
  * (seed, stream tag, index[, version]), so a payload can be rebuilt for the
  * expected-result check without keeping it, and the same seed always gives
  * the same inputs. */
object Gen {
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent stream `tag` of the seed, at position `i`. */
  def h(seed: Long, tag: Long, i: Long): Long = mix64(mix64(seed * 0x632BE59BD9B4E019L + tag) + i)
  def below(seed: Long, tag: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(seed, tag, i), n.toLong).toInt

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  private val words = Array("alpha", "bravo", "cedar", "delta", "ember", "fjord",
    "gamma", "harbor", "iris", "juniper", "kilo", "lumen", "maple", "nova",
    "onyx", "pine", "quartz", "raven", "sierra", "tango", "umber", "vale")
  private def word(x: Long): String = words(java.lang.Long.remainderUnsigned(x, words.length.toLong).toInt)

  // ---- tags of the independent streams
  private val TUser = 1L; private val TEvent = 2L; private val TPart = 3L
  private val TLine = 4L; private val TLook = 5L; private val TStream = 6L
  private val TDoc = 7L; private val TVec = 8L; private val TMixEv = 9L

  // ---- snapshot_refresh: nested users payload, values a function of (id, version)
  final class Users(seed: Long) {
    private def x(id: Int, v: Int): Long = h(seed, TUser, id.toLong * 1000003L + v)
    def name(id: Int, v: Int): String = s"User $id ${word(x(id, v))} v$v"
    def username(id: Int, v: Int): String = s"u${(x(id, v) >>> 12) % 100000}"
    def email(id: Int, v: Int): String = s"user$id.v$v@mail${(x(id, v) >>> 24) % 97}.example.org"
    def city(id: Int, v: Int): String = s"City ${(x(id, v) >>> 36) % 1000}"
    // multiples of 0.25: exact in binary, so any summation order is exact
    def lat(id: Int, v: Int): Double = ((id * 7L + v * 13L) % 720 - 360) / 4.0
    def lng(id: Int, v: Int): Double = ((id * 11L + v * 3L) % 1440 - 720) / 4.0

    val ddl = "id INT, name STRING, username STRING, email STRING, " +
      "address STRUCT<city: STRING, geo: STRUCT<lat: DOUBLE, lng: DOUBLE>>, ver INT"

    def payload(n: Int, v: Int): String = {
      val sb = new java.lang.StringBuilder(n * 190)
      sb.append('[')
      var id = 0
      while (id < n) {
        if (id > 0) sb.append(',')
        sb.append("{\"id\":").append(id)
          .append(",\"name\":\"").append(name(id, v))
          .append("\",\"username\":\"").append(username(id, v))
          .append("\",\"email\":\"").append(email(id, v))
          .append("\",\"address\":{\"city\":\"").append(city(id, v))
          .append("\",\"geo\":{\"lat\":").append(lat(id, v))
          .append(",\"lng\":").append(lng(id, v))
          .append("}},\"ver\":").append(v).append('}')
        id += 1
      }
      sb.append(']').toString
    }
  }

  /** Probe event `i` of snapshot_refresh: user ids run 10% past the payload,
    * so the LEFT join also emits misses. */
  def eventUser(seed: Long, i: Long, nUsers: Int): Int = below(seed, TEvent, i, nUsers + nUsers / 10)
  def eventValue(seed: Long, i: Long): Double = below(seed, TEvent + 100, i, 4000) / 4.0

  // ---- enrich_warm: part-attribute payload keyed by partkey 0..n-1
  final class Parts(seed: Long) {
    private def x(k: Int): Long = h(seed, TPart, k.toLong)
    private val types = Array("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    private val finishes = Array("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    private val metals = Array("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
    def name(k: Int): String = s"${word(x(k))} ${word(x(k) >>> 8)} ${word(x(k) >>> 16)} part $k"
    def brand(k: Int): String = s"Brand#${1 + (x(k) >>> 20) % 5}${1 + (x(k) >>> 23) % 5}"
    def ptype(k: Int): String = {
      val y = x(k) >>> 26
      s"${types((y % 6).toInt)} ${finishes(((y >>> 3) % 5).toInt)} ${metals(((y >>> 6) % 5).toInt)}"
    }
    def size(k: Int): Int = 1 + ((x(k) >>> 35) % 50).toInt
    def price(k: Int): Double = (3600 + (x(k) >>> 41) % 4000) / 4.0
    def comment(k: Int): String = s"${word(x(k) >>> 44)} ${word(x(k) >>> 48)} ${word(x(k) >>> 52)} carefully $k"

    val ddl = "partkey INT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE, p_comment STRING"

    def payload(n: Int): String = {
      val sb = new java.lang.StringBuilder(n * 190)
      sb.append('[')
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(',')
        sb.append("{\"partkey\":").append(k)
          .append(",\"p_name\":\"").append(name(k))
          .append("\",\"p_brand\":\"").append(brand(k))
          .append("\",\"p_type\":\"").append(ptype(k))
          .append("\",\"p_size\":").append(size(k))
          .append(",\"p_retailprice\":").append(price(k))
          .append(",\"p_comment\":\"").append(comment(k)).append("\"}")
        k += 1
      }
      sb.append(']').toString
    }
  }

  /** lineitem row `i`: 1% of part keys fall past the payload (LEFT misses). */
  def linePart(seed: Long, i: Long, nParts: Int): Int = below(seed, TLine, i, nParts + nParts / 100)
  def lineQty(seed: Long, i: Long): Int = 1 + below(seed, TLine + 100, i, 50)

  // ---- stream_enrich: versioned flat lookup payload
  final class Lookup(seed: Long) {
    private def x(k: Int, v: Int): Long = h(seed, TLook, k.toLong * 1000003L + v)
    def attr(k: Int, v: Int): String = s"seg-${word(x(k, v))}-${(x(k, v) >>> 8) % 10000}-v$v"
    def w(k: Int, v: Int): Int = ((x(k, v) >>> 40) % 1000).toInt
    def label(k: Int): String = s"label ${word(k.toLong * 7)} ${k % 977}"
    val ddl = "id INT, ver INT, attr STRING, w INT, label STRING"

    def payload(n: Int, v: Int): String = {
      val sb = new java.lang.StringBuilder(n * 90)
      sb.append('[')
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(',')
        sb.append("{\"id\":").append(k).append(",\"ver\":").append(v)
          .append(",\"attr\":\"").append(attr(k, v))
          .append("\",\"w\":").append(w(k, v))
          .append(",\"label\":\"").append(label(k)).append("\"}")
        k += 1
      }
      sb.append(']').toString
    }
  }

  def streamKey(seed: Long, i: Long, nKeys: Int): Int = below(seed, TStream, i, nKeys)

  // ---- query_mix tables (the fixture shapes the harness queries expect)
  private val vocab = Array("a", "the", "agg", "batch", "big", "cache", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window")
  private val langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  /** Document `d`: every 25th document re-uses an earlier one's text with a
    * one-word edit, so the near-duplicate operators have real clusters. */
  def docText(seed: Long, d: Int): String = {
    if (d >= 25 && d % 25 == 0) {
      val src = below(seed, TDoc + 1, d.toLong, d)
      val ws = docText(seed, src).split(' ')
      ws(below(seed, TDoc + 2, d.toLong, ws.length)) = vocab(below(seed, TDoc + 3, d.toLong, vocab.length))
      ws.mkString(" ")
    } else {
      val n = 8 + below(seed, TDoc, d.toLong, 80)
      (0 until n).map(j => vocab(below(seed, TDoc + 4, d.toLong * 1000 + j, vocab.length))).mkString(" ")
    }
  }
  def docLang(seed: Long, d: Int): String = langs(below(seed, TDoc + 5, d.toLong, langs.length))

  /** 64-dim embedding of vector `i`: one of 10 label centres plus noise. */
  def embedding(seed: Long, i: Int): (Array[Float], Int) = {
    val label = below(seed, TVec, i.toLong, 10)
    def gauss(tag: Long, j: Int): Double = {
      val u1 = (below(seed, tag, i.toLong * 64 + j, 1 << 24) + 1) / (1 << 24).toDouble
      val u2 = below(seed, tag + 1, i.toLong * 64 + j, 1 << 24) / (1 << 24).toDouble
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val v = Array.tabulate(64) { j =>
      // each label's centre lifts a fixed quarter of the dimensions
      val centre = if (below(seed, TVec + 50 + label, j.toLong, 4) == 0) 0.15 else 0.0
      (centre + 0.1 * gauss(TVec + 2, j)).toFloat
    }
    (v, label)
  }

  def mixEventUser(seed: Long, i: Long): Long = below(seed, TMixEv, i, 150).toLong
  def mixEventValue(seed: Long, i: Long): Double = below(seed, TMixEv + 1, i, 50000) / 100.0
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  def mixEventType(seed: Long, i: Long): String = eventTypes(below(seed, TMixEv + 2, i, 5))
}
