package graft.scrub

import java.util.regex.Pattern

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import Scrubber.Span

/** Differential check of the one-pass anchored scanner: every category's
  * spans, the overlap-resolved spans and the scrubbed text must equal what
  * plain `Matcher.find()` loops over the SAME compiled patterns give, on
  * fixture rows and on adversarial texts aimed at each trigger's edges.
  */
class ScrubberEquivalenceSpec extends AnyFunSuite {

  private val byPosition: Ordering[Span] = Ordering.by((s: Span) => (s.start, s.end, s.category))

  /** One category's `find()` loop, ungated. */
  private def findAll(p: Pattern, text: String, category: String, group: Int = 0): Vector[Span] = {
    val m = p.matcher(text)
    val out = Vector.newBuilder[Span]
    while (m.find()) {
      val s = m.start(group); val e = m.end(group)
      if (s >= 0 && e > s) out += Span(s, e, category)
    }
    out.result()
  }

  private def referenceCandidates(text: String, deny: Option[Pattern]): Vector[Span] = {
    import Scrubber._
    // no '@', no email: skips find()'s quadratic walk over long local-part runs
    val email = if (text.indexOf('@') < 0) Vector.empty else findAll(Email, text, "EMAIL")
    email ++ findAll(Ipv4, text, "IP_ADDRESS") ++
      findAll(Ipv6, text, "IP_ADDRESS") ++ findAll(SecretToken, text, "SECRET") ++
      findAll(SecretAssign, text, "SECRET", group = 1) ++ findAll(Phone, text, "PHONE") ++
      deny.toVector.flatMap(findAll(_, text, "TOXICITY"))
  }

  /** First-wins resolution, then the reference's desc-start substring splice. */
  private def reference(text: String, candidates: Vector[Span]): (Vector[Span], String) = {
    val sorted = candidates.sortBy(s => (s.start, -(s.end - s.start), s.category))
    val kept = sorted.foldLeft(Vector.empty[Span]) { (acc, s) =>
      if (acc.isEmpty || s.start >= acc.last.end) acc :+ s else acc
    }
    val scrubbed = kept.sortBy(-_.start).foldLeft(text) { (t, sp) =>
      t.substring(0, sp.start) + Scrubber.Redaction + t.substring(sp.end)
    }
    (kept, scrubbed)
  }

  private def assertSame(text: String, deny: Option[Pattern] = None): Unit = {
    val clue = text.take(160)
    val want = referenceCandidates(text, deny)
    assert(Scrubber.candidates(text, deny).sorted(byPosition) == want.sorted(byPosition), clue)
    val (spans, scrubbed) = reference(text, want)
    val got = Scrubber.findSpans(text, deny)
    assert(got == spans, clue)
    assert(Scrubber.redact(text, got) == scrubbed, clue)
    val r = Scrubber.scrub(text, deny)
    if (r.error == null) assert(r.scrubbed == scrubbed, clue)
  }

  private def fixtureTexts(from: Long, until: Long): Iterator[String] =
    (from until until).iterator.map(i => Fixtures.genRow(i)._1.content).filter(_ != null)

  private val deny = Scrubber.denyPattern(Seq("frak", "Data", "self", "value", "42", "x"))

  test("fixture rows 0-2999: same spans and scrubbed text as find()") {
    fixtureTexts(0, 3000).foreach(assertSame(_))
  }

  test("fixture rows 50000-50999, toxicity off and on") {
    fixtureTexts(50000, 51000).foreach { t => assertSame(t); assertSame(t, deny) }
  }

  private val adversarial = Seq(
    // email: long local-part runs without '@', chained and doubled '@'
    "a.b-c_d%e+f" * 400, ("x." * 300) + "@example.com", "a@b@c.com", "a@@b.co", "@a.com",
    "a@", "a@b.c", "a.@b.co", "x@y.com@z.org", "u@d.co.uk@e.io", "-@-.co", "é@x.co",
    // ip: too many parts, repeated compression, dense runs
    "1.2.3.4.5", "1.2.3.4", "01.2.3.4", "256.1.1.1", "1::2::3", "::::", ":::1", "::1",
    "1:2:3:4:5", "1:2:3:4:5:6:7:8:9", "12345:1::1", "fe80::c0fe", "abcd:ef01::", "a::b::c",
    "1.1.1.1.1.1.1.1", "9.9.9.9:1::2", "10.0.0.1::1", "12:30:45", "a :: b",
    // phone: every prefix form, runs too long or short
    "555-123-4567", "+1-555-123-4567", "+123 555.123.4567", "(555) 123-4567",
    "(555)123-4567", "(55) 123-4567", "5555-123-4567", "555-123-45678", "555-123-4567-",
    "+-555-123-4567", "++1 555-123-4567", "1 555 123 4567",
    // at index 0 and at the end of the text
    "10.0.0.1", "a@b.co", "::1", "sk_live_abcdefgh", "password=abcdefgh12",
    "end 10.0.0.1", "end a@b.co", "end 555-123-4567", "end sk_live_abcdefgh",
    // right after '.', ':' or '_'
    ".10.0.0.1", ":10.0.0.1", "_10.0.0.1", "_::1", ":fe80::1", ".555-123-4567",
    "_555-123-4567", "_sk_live_abcdefgh1", ".sk_live_abcdefgh1", ":api_key=abcdefgh12",
    "_password=abcdefgh12", ".(555) 123-4567", "_+1 555-123-4567",
    // assignment keys in mixed case and with separators
    "PassWord=abcdefgh123", "API-KEY: 'abcdefgh1234'", "PaSsWd : \"abcdefgh123\"",
    "aws_SECRET_access_KEY=abcdefgh1234==", "secret-access-key := abcdefgh123",
    "Secret_Key=abcdefgh", "auth-token=abcdefg", "ACCESS_TOKEN==abcdefgh12",
    // a non-ASCII letter or mark just before a key or token (\b is Unicode-aware, \w is not)
    "éapi_key=abcdefgh1234", "ÿsk_live_abcdefgh12", "ñpassword=abcdefgh1", "\u0301api_key=abcdefgh12",
    "éapi_key=abcdefgh12", "é10.0.0.1", "é555-123-4567", "é::1", "ésk_live_abcdefgh",
    // non-ASCII case-fold aliases of ASCII letters (folded by RE2, not by java.util.regex)
    "pa\u017Fsword=abcdefgh123", "\u212Aey api_\u212Aey=abcdefgh12", "\u017Fk_live_abcdefgh",
    // a token inside an assignment value, an ipv4 inside a phone-like run
    "api_key=ghp_abcdefgh12345678", "password='sk_test_abcdefgh1234'", "555.123.4567",
    "10.20.30.40-5555", "+1 555.123.4567", "(555) 123.4567", "123.123.123.123.4567",
    "call 255.255.255.255 or 555.255.255.2555"
  )

  test("adversarial texts: same spans and scrubbed text as find()") {
    adversarial.foreach { t =>
      assertSame(t)
      assertSame(t, deny)
      assertSame(s"pre $t post")
      assertSame(t + t)
    }
  }

  // Random texts over an alphabet dense in trigger chars, mixed with pieces
  // of real matches, so triggers land next to every kind of neighbour.
  private val pieces: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("0123456789abcdefABCDEF.:@-_+()= \n\"'pPsSkKxXgG\u00e9\u0131\u017F\u212A".toSeq).map(_.toString),
    1 -> Gen.oneOf(adversarial.filter(_.length < 100)),
    1 -> Gen.oneOf("sk_live_", "ghp_", "xoxb-", "AKIA", "api_key", "Password", "secret", "frak", "42")
  )
  private val dense: Gen[String] = Gen.choose(1, 80).flatMap(n => Gen.listOfN(n, pieces)).map(_.mkString)

  test("random dense texts: same spans and scrubbed text as find(), toxicity off and on") {
    (0 until 3000).foreach { i =>
      dense(Gen.Parameters.default, Seed(7L + i)).foreach { t => assertSame(t); assertSame(t, deny) }
    }
  }

  test("a deny pattern not built by denyPatternString is tried at every position") {
    val odd = Some(Pattern.compile("(?i)[^a-z0-9\\s]{2}"))
    (adversarial ++ fixtureTexts(0, 50)).foreach(assertSame(_, odd))
  }
}
