package pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import pipeline.expr.ParseEventExpr
import pipeline.model.{NginxNorm, WebDoc}
import pipeline.ref.RefNormalizer

/** The production parse (ParseEventExpr.compute: cap, then the byte-level
  * parse with its token-stream `norm`) must normalize every record exactly
  * as the spec (RefNormalizer.parse, a Jackson tree) does, on both sides of
  * the 200 KB cap — otherwise the same event changes meaning at the
  * boundary. These fixtures are adversarial JSON shapes: nested sibling
  * objects inside sections, duplicate keys with null
  * (last-occurrence-wins), section keys re-bound to scalars/arrays/objects,
  * `ts` bound to non-scalars, numeric coercion edge cases.
  */
class ParsePathParitySpec extends AnyFunSuite {

  private val goodTs = "\"ts\":\"2024-01-02T03:04:05Z\""

  private val jsonCases: Seq[String] = Seq(
    // nested sibling object BEFORE section fields (r1 ADVICE: section context
    // was lost after a depth-3 object, dropping status=500 here)
    s"""{$goodTs,"response":{"hdr":{"a":1},"status":500,"body_bytes_sent":"12"}}""",
    // duplicate ts, later null → corrupt under readTree last-wins
    """{"ts":"2024-01-02T03:04:05Z","ts":null}""",
    """{"ts":null,"ts":"2024-01-02T03:04:05Z"}""",
    // duplicate section object replaces wholesale (method must be null)
    s"""{$goodTs,"request":{"method":"GET","uri":"/a"},"request":{"uri":"/b"}}""",
    // section re-bound to scalar → fields absent
    s"""{$goodTs,"upstream":{"bytes_sent":5},"upstream":"gone"}""",
    // duplicate field, later null
    s"""{$goodTs,"response":{"status":200,"status":null}}""",
    // deep nesting + arrays-of-objects skipped, fields after them kept
    s"""{$goodTs,"request":{"a":{"b":{"c":1}},"method":"POST","x":[1,{"y":2}],"uri":"/東京"}}""",
    // non-section object ignored
    s"""{$goodTs,"other":{"status":999},"response":{"status":201}}""",
    // null → re-set → nested {} → value after it
    s"""{$goodTs,"upstream":{"response_length":null,"nested":{},"response_length":"77"}}""",
    // ts bound to object/array: readTree asText()=="" → accepted, null micros
    """{"ts":{},"request":{"method":"G"}}""",
    """{"ts":[1,2]}""",
    s"""{$goodTs,"request":[1,2],"upstream":{"bytes_sent":3},"upstream":[]}""",
    // nested object named like a field
    s"""{$goodTs,"response":{"deep":{"status":999},"status":204}}""",
    // malformed
    """{"broken": """,
    // string→long coercion failure inside a guard (corrupt, not crash)
    s"""{$goodTs,"upstream":{"response_length":"12x"}}""",
    // bytes_sent coercion of a non-numeric string → 0 on both paths
    s"""{$goodTs,"upstream":{"bytes_sent":"12x"}}""",
    s"""{$goodTs,"request":"scalar"}""",
    // trailing garbage after the root object (readTree ignores it)
    s"""{$goodTs} trailing garbage""",
    // string status coerces on both paths
    s"""{$goodTs,"response":{"status":"204"}}""",
    // numeric ts → unparseable timestamp but NOT corrupt
    """{"ts":1.50}""",
    // explicit nulls and empty strings through the numeric coalesce
    s"""{$goodTs,"request":{"method":null},"response":{"body_bytes_sent":""}}""",
    // duplicate ts where the LAST parses
    s"""{"ts":"junk",$goodTs}""",
    // TRACKED FIELD bound to a container: readTree coerces asText→"" /
    // asInt,asLong→0 — the fast path must match, not skip
    s"""{$goodTs,"response":{"status":[500]}}""",
    s"""{$goodTs,"request":{"method":"GET","method":[1]}}""",
    s"""{$goodTs,"upstream":{"bytes_sent":{"x":1}}}""",
    s"""{$goodTs,"response":{"status":{"a":1},"body_bytes_sent":[]},"request":{"uri":{}}}""",
    s"""{$goodTs,"upstream":{"response_length":{"deep":{"x":[1]}},"bytes_sent":"7"}}""",
    // everything at once
    s"""{"x":[{"ts":"nope"}],$goodTs,"request":{"hdr":{"uri":"/fake"},"uri":"/real","z":{}},"upstream":{"bytes_sent":"9"},"response":{"status":502,"w":[[1],{}],"body_bytes_sent":"3"}}"""
  )

  private def texts: Seq[String] =
    jsonCases.map(j => s"title: Tïtle 東京\nstatus=200 bytes=7 method=GET\nbody über text\n$j") ++ Seq(
      "no structure at all",
      "",
      "title: only\n",
      s"title: t\nkv\nbody\n not-json-line"
    )

  private val url = "https://parity.example.com/p"
  private val cap = ParseEventExpr.MaxChars
  private val expr = ParseEventExpr(Literal(url), Literal(""))

  /** The parse result in the spec's shape: (host, title, status, bytes,
    * method, extracted_text, is_corrupt, has_json, norm). */
  private def fields(r: InternalRow): Seq[Any] = {
    def str(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    val norm = if (r.isNullAt(8)) None else {
      val n = r.getStruct(8, 7)
      def opt[T](i: Int, get: Int => T) = if (n.isNullAt(i)) None else Some(get(i))
      Some(NginxNorm(
        ts = opt(0, n.getLong),
        req_method = opt(1, n.getUTF8String).map(_.toString).orNull,
        uri = opt(2, n.getUTF8String).map(_.toString).orNull,
        resp_status = opt(3, n.getInt),
        body_bytes_sent = n.getLong(4),
        response_length = n.getLong(5),
        up_bytes_sent = opt(6, n.getLong)))
    }
    Seq(str(0), str(1), r.getInt(2), r.getLong(3), str(4), str(5),
      r.getBoolean(6), r.getBoolean(7), norm)
  }

  private def computed(text: String): Seq[Any] =
    fields(expr.compute(UTF8String.fromString(url),
      if (text == null) null else UTF8String.fromString(text)))

  /** The spec's fields, strings in their UTF-8 form (the column's form: a
    * lone surrogate left by the cap encodes as `?`). has_json is not a
    * spec field: a json line is either corrupt or has a norm. */
  private def spec(text: String): Seq[Any] = {
    val e = RefNormalizer.parse(
      WebDoc(url, new java.sql.Timestamp(0L), null, text, "en"))
    def utf8(s: String) = if (s == null) null else new String(s.getBytes(UTF_8), UTF_8)
    Seq(utf8(e.host), utf8(e.title), e.status, e.bytes, utf8(e.method),
      utf8(e.extracted_text), e.is_corrupt, e.is_corrupt || e.norm.isDefined,
      e.norm.map(n => n.copy(req_method = utf8(n.req_method), uri = utf8(n.uri))))
  }

  private def assertSpec(text: String, what: String): Seq[Any] = {
    val got = computed(text)
    assert(got == spec(text), s"$what: compute differs from RefNormalizer")
    got
  }

  /** `text` with its lines 0–3 kept and a fifth line that takes the text
    * past the cap. */
  private def padded(text: String): String = {
    val lines = text.split("\n", -1).length
    text + "\n" * (5 - lines).max(1) + "x" * cap
  }

  test("compute ≡ RefNormalizer on adversarial records, plain and padded") {
    texts.foreach { tx =>
      val plain = assertSpec(tx, s"[$tx]")
      val long = padded(tx)
      assert(long.getBytes(UTF_8).length > cap)
      assert(assertSpec(long, s"padded [$tx]") == plain,
        s"the cut reached lines 0-3 of [$tx]")
    }
    // the cases do exercise norm: accepted, rejected and coerced records
    val norms = texts.map(t => computed(t)(8))
    assert(norms.count(_ != None) >= 15 && texts.count(t => computed(t)(6) == true) >= 3)
  }

  test("the cap counts UTF-16 code units at its boundaries") {
    val head = "title: t\nk\n"
    def body(r: Seq[Any]) = r(5).asInstanceOf[String].stripPrefix("t\n")
    // exactly at the cap: nothing cut; one unit over: the last one goes
    val exact = head + "b" * (cap - head.length - 1) + "Z"
    assert(exact.length == cap && body(assertSpec(exact, "exact")).endsWith("Z"))
    val over = exact + "Y"
    assert(body(assertSpec(over, "cap+1")).endsWith("Z"))
    // multibyte: over the cap in bytes, under it in units → kept whole
    val wide = "title: 東京\nk\n" + "é" * (cap - 100)
    assert(wide.getBytes(UTF_8).length > cap && wide.length < cap)
    assert(assertSpec(wide, "multibyte")(5) == "東京\n" + "é" * (cap - 100))
    // an emoji whose high surrogate is unit 204,800: the cut leaves it
    // alone, and it encodes as `?` — in the title and in the body line
    val emoji = "\uD83D\uDE00"
    val inTitle = "title: " + "a" * (cap - 8) + emoji + "\nk\nbody"
    assert(inTitle.charAt(cap - 1) == '\uD83D')
    assert(assertSpec(inTitle, "emoji in title")(1) == "a" * (cap - 8) + "?")
    val inBody = head + "a" * (cap - head.length - 1) + emoji + "tail"
    assert(inBody.charAt(cap - 1) == '\uD83D')
    assert(body(assertSpec(inBody, "emoji in body")) == "a" * (cap - head.length - 1) + "?")
    // the cap inside the json line: the record is cut open → corrupt
    val json = s"title: t\nk\nb\n{$goodTs,\"pad\":\"" + "p" * cap + "\"}"
    val cut = assertSpec(json, "cap in json")
    assert(cut(6) == true && cut(7) == true && cut(8) == None)
    // the cap inside trailing garbage after a closed root: still a record
    val garbage = s"title: t\nk\nb\n{$goodTs} " + "g" * cap
    val kept = assertSpec(garbage, "cap in trailing garbage")
    assert(kept(6) == false && kept(8) != None)
    // a null text parses as the empty text
    assert(computed(null) == spec(null) && computed(null) == computed(""))
  }

  test("fast path norm matches on the regression shapes explicitly") {
    def normOf(tx: String): InternalRow = {
      val r = ParseEventExpr.parseBytes("https://x/",
        tx.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (r.isNullAt(8)) null else r.getStruct(8, 7)
    }
    def framed(j: String) = s"t\nk\nb\n$j"
    // nested sibling must NOT drop the section fields that follow it
    val n1 = normOf(framed(s"""{$goodTs,"response":{"hdr":{},"status":500,"body_bytes_sent":"12"}}"""))
    assert(n1 != null && n1.getInt(3) == 500 && n1.getLong(4) == 12L)
    // later ts:null → corrupt (null norm, is_corrupt true)
    val r2 = ParseEventExpr.parseBytes("https://x/",
      framed("""{"ts":"2024-01-02T03:04:05Z","ts":null}""").getBytes("UTF-8"))
    assert(r2.isNullAt(8) && r2.getBoolean(6))
  }
}
