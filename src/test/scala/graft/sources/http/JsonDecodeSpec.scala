package graft.sources.http

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** The chunked decode of a selected array against the one-chunk decode of
  * the same body: same rows in the same order, same errors. Chunks are
  * forced on small bodies by a one-character minimum chunk size. */
class JsonDecodeSpec extends AnyFunSuite {

  private val schema = StructType.fromDDL(
    "id INT, name STRING, tags ARRAY<STRUCT<k: STRING, v: ARRAY<INT>>>, " +
      "attrs MAP<STRING, STRING>, score DOUBLE, inner STRUCT<a: STRING, b: ARRAY<STRING>>")
  private val maxDepth = 1000

  private def opts(xpath: String = ""): HttpOptions =
    HttpOptions.parse(Map("url" -> "http://localhost:1/", "xpath" -> xpath).asJava)

  private def decode(body: String, xpath: String, chunks: Int, s: StructType = schema): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(s)
    HttpFetcher.parseRows(body, opts(xpath), s, chunks, 1).toSeq.map(toRow(_).asInstanceOf[Row])
  }

  private def chunksOf(body: String, xpath: String, chunks: Int): Int =
    JsonSplit.find(body, xpath, chunks, 1, maxDepth).fold(1)(_.chunks)

  /** Rows of every chunking equal the one-chunk rows; returns them. */
  private def sameRows(body: String, xpath: String = ""): Seq[Row] = {
    val whole = decode(body, xpath, 1)
    for (c <- Seq(2, 3, 8)) assert(decode(body, xpath, c) == whole, s"$c chunks")
    whole
  }

  private def parseError(body: String, xpath: String, chunks: Int): String =
    intercept[RuntimeException](decode(body, xpath, chunks)).getMessage

  private val awkward = Seq("plain", "quote \" inside", "backslash \\ inside",
    "escaped quote \\\" inside", "],[", "},{", "\"],[{\"id\":1}", "\\\\", "é ü ß",
    "中文字符", "emoji 😀 pair", "tab\tand\nnewline", "{[\"")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c => c.toString
    } + "\""

  private def user(i: Int): String = {
    val name = awkward(i % awkward.length)
    s"""{"id": $i, "name": ${str(s"$name #$i")}, "tags": [{"k": ${str(name)}, "v": [$i, ${i + 1}]},""" +
      s""" {"k": "x", "v": []}], "attrs": {"a": ${str(name)}, "b": null}, "score": ${i * 0.25},""" +
      s""" "inner": {"a": "\\ud83d\\ude00 $i", "b": ["[", "]", "{", "}"]}}"""
  }

  private def users(n: Int, sep: String = ","): String = (0 until n).map(user).mkString("[", sep, "]")

  test("awkward strings, nested arrays of objects and maps decode alike in 1, 2, 3 and N chunks") {
    val body = users(40)
    assert(chunksOf(body, "", 1) == 1)
    assert(chunksOf(body, "", 2) == 2)
    assert(chunksOf(body, "", 3) == 3)
    assert(chunksOf(body, "", 8) == 8)
    val rows = sameRows(body)
    assert(rows.map(_.getInt(0)) == (0 until 40))
    assert(rows(10).getString(1) == "emoji 😀 pair #10")
    assert(rows(3).getStruct(5).getString(0) == "😀 3")
  }

  test("multi-byte text, surrogate pairs and whitespace between elements") {
    val body = "\n [ " + (0 until 30).map(user).mkString("\n\t", "\r\n ,  ", "\n") + " ] \n"
    assert(chunksOf(body, "", 8) == 8)
    assert(sameRows(body).map(_.getInt(0)) == (0 until 30))
  }

  test("null elements, null fields and empty objects") {
    val body = Seq("null", user(1), "{}", """{"id": null, "name": null, "tags": null}""", "null",
      user(5), "null").mkString("[", ",", "]")
    assert(chunksOf(body, "", 3) == 3)
    val rows = sameRows(body)
    assert(rows.size == 7 && rows(0).isNullAt(0) && rows(1).getInt(0) == 1 && rows(6).isNullAt(1))
  }

  test("empty array and one element are the one-chunk case") {
    for (body <- Seq("[]", "[ \n ]", s"[${user(0)}]", "{\"id\": 7}")) {
      assert(chunksOf(body, "", 8) == 1, body)
      sameRows(body)
    }
    assert(decode("[ ]", "", 8).isEmpty)
    assert(decode("{\"id\": 7}", "", 8).map(_.getInt(0)) == Seq(7))
  }

  test("a pointer-selected nested array keeps the rest of the document") {
    val body = s"""{"meta": {"note": "users: [1,2]", "ids": [1, [2, {"users": []}]]},
      | "data": {"count": 40, "users": ${users(40)}, "after": ["]", "}"]}, "tail": {}}""".stripMargin
    assert(chunksOf(body, "/data/users", 4) == 4)
    assert(sameRows(body, "/data/users").map(_.getInt(0)) == (0 until 40))
  }

  test("a duplicate key at the pointer decodes the last one, as readTree keeps it") {
    val first = (0 until 20).map(user).mkString("[", ",", "]")
    val last = (100 until 130).map(user).mkString("[", ",", "]")
    val body = s"""{"data": {"users": $first, "x": 1, "users": $last}}"""
    assert(chunksOf(body, "/data/users", 3) == 3)
    assert(sameRows(body, "/data/users").map(_.getInt(0)) == (100 until 130))
    val emptied = s"""{"data": {"users": $last, "users": []}}"""
    assert(chunksOf(emptied, "/data/users", 3) == 1)
    assert(decode(emptied, "/data/users", 3).isEmpty)
  }

  test("pointers the scan does not resolve decode in one chunk, as before") {
    val inner = users(20)
    val cases = Seq(
      s"""{"a/b": {"c": $inner}}""" -> "/a~1b/c",
      s"""{"a~b": $inner}""" -> "/a~0b",
      s"""{"us\\u0065rs": $inner}""" -> "/users",
      s"""{"list": [$inner]}""" -> "/list/0",
      s"""{"users": $inner""" -> "/users")
    for ((body, xpath) <- cases) {
      assert(chunksOf(body, xpath, 4) == 1, xpath)
      val whole = scala.util.Try(decode(body, xpath, 1))
      val chunked = scala.util.Try(decode(body, xpath, 4))
      assert(whole.map(_.size) == chunked.map(_.size) ||
        whole.failed.map(_.getMessage).toOption == chunked.failed.map(_.getMessage).toOption, xpath)
    }
    assert(decode(s"""{"us\\u0065rs": $inner}""", "/users", 4).size == 20)
    assert(decode(s"""{"list": [$inner]}""", "/list/0", 4).size == 20)
  }

  test("truncated and malformed bodies fail with the parse error") {
    val body = users(30)
    for (c <- Seq(1, 2, 4, 8)) {
      assert(parseError(body.dropRight(1), "", c) == "Failed to parse JSON response", c)
      assert(parseError(body.take(body.length / 2), "", c) == "Failed to parse JSON response", c)
      assert(parseError(body.replace("\"id\": 29", "\"id\" 29"), "", c) ==
        "Failed to parse JSON response", c)
      for (bad <- Seq("[,", ", ,", ",]")) {
        val b = bad match {
          case "[," => "[," + body.drop(1)
          case ", ," => body.replace(s"${user(14)},", s"${user(14)}, ,")
          case _ => body.dropRight(1) + ",]"
        }
        assert(parseError(b, "", c) == "Failed to parse JSON response", s"$bad in $c chunks")
      }
    }
  }

  test("a syntax error anywhere is raised before a conversion error") {
    val bad = users(30).replace("\"id\": 2,", "\"id\": \"two\",")
    val lateSyntax = bad.replace("\"id\": 28", "\"id\": 28,,")
    for (c <- Seq(1, 2, 4, 8))
      assert(parseError(lateSyntax, "", c) == "Failed to parse JSON response", c)
    val skeletonSyntax = s"""{"data": {"users": $bad}, "tail": [1,,2]}"""
    for (c <- Seq(1, 2, 4, 8))
      assert(parseError(skeletonSyntax, "/data/users", c) == "Failed to parse JSON response", c)
  }

  test("the lowest element's conversion error is raised") {
    val bad = users(30).replace("\"id\": 25,", "\"id\": \"late\",")
      .replace("\"id\": 3,", "\"id\": \"early\",")
    val expected = parseError(bad, "", 1)
    assert(expected.startsWith("Failed to deserialize JSON value \"early\" as int for field 'id'"))
    for (c <- Seq(2, 4, 8)) assert(parseError(bad, "", c) == expected, c)
  }

  test("a pointer that matches nothing keeps its error") {
    val body = s"""{"data": {"users": ${users(20)}}}"""
    for (c <- Seq(1, 4))
      assert(parseError(body, "/data/nobody", c) ==
        "JSON Pointer '/data/nobody' did not match any node in the response")
  }

  test("nesting near the parser's depth limit is not split") {
    val deep = "[" * 20 + "1" + "]" * 20
    val body = Seq.fill(10)(deep).mkString("[", ",", "]")
    // the body nests 21 deep: the array, then 20 brackets in an element
    assert(JsonSplit.find(body, "", 4, 1, 21).isEmpty)
    assert(JsonSplit.find(body, "", 4, 1, 22).map(_.chunks).contains(4))
  }

  test("chunks decode on the named daemon pool") {
    decode(users(40), "", 4)
    val pool = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("http-full-cache-decode-"))
    assert(pool.nonEmpty && pool.forall(_.isDaemon))
  }

  test("the body's UTF-8 length is counted without encoding, as getBytes counts it") {
    val samples = Seq("", "ascii", "é", "中", "😀", "a\ud83d", "\ud83d", "\ude00", "\ude00\ud83d",
      "\ud83d😀", "x\ud83dy", awkward.mkString, users(5))
    for (s <- samples) assert(SnapshotCache.utf8Length(s) == s.getBytes(UTF_8).length, s)
    val rnd = new scala.util.Random(7)
    val alphabet = "aZ09\u007f\u0080߿ࠀ￿\ud800􏰀\udfff"
    for (_ <- 1 to 500) {
      val s = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(SnapshotCache.utf8Length(s) == s.getBytes(UTF_8).length, s.map(_.toInt.toHexString))
    }
  }
}
