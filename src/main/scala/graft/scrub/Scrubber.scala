package graft.scrub

import java.util.regex.{Matcher, Pattern}
import graft.model.Entity

/** Regex-based PII/secret span extraction + splice redaction.
  *
  * Pure Scala (no Spark dependency) so it is property-testable standalone and
  * embeds directly in a typed `Dataset.map`.
  *
  * Semantics pinned against the reference engine:
  *  - redaction replaces each entity span with the literal `[REDACTED]`
  *    (reference src/inference.py:325-332 splices in descending-start order;
  *    on disjoint spans one ascending pass gives the same string);
  *  - `scrubbed == content` identity when no entities
  *    (reference test_detector.py:163-165);
  *  - entity shape `{text, type, start, end, confidence}` with
  *    `start < end`, `confidence ∈ [0,1]` (reference src/inference.py:309-323);
  *  - validation errors are captured per row, never thrown
  *    (reference src/inference.py:355-421): null input, empty/whitespace-only
  *    input, input > 50k chars (MAX_CHARS, reference src/inference.py:36);
  *  - `piiTypes` = sorted distinct types (reference src/inference.py:160).
  *
  * Overlap policy: regex categories can overlap (the reference's BIO decoder
  * cannot); we resolve deterministically BEFORE splicing: sort candidate
  * spans by (start asc, length desc, category asc) and keep each span only
  * if it does not overlap an already-kept span (first-wins). The splice pass
  * then operates on disjoint spans, making it equivalent to the reference's
  * desc-start splice on its (already disjoint) BIO spans.
  *
  * Scanning: each category's spans are exactly what a `Matcher.find()` loop
  * over its pattern yields, but one char pass tries each pattern only where
  * a match can start. Why that is the same result:
  *  - candidates ⊇ match starts: every trigger (see [[candidates]]) is a
  *    necessary condition read off the pattern's first characters and its
  *    leading lookbehind, so no position where the pattern matches is
  *    skipped;
  *  - transparent bounds: at a candidate `i` the SAME compiled pattern runs
  *    as `region(i, n)` + `lookingAt()` with transparent, non-anchoring
  *    bounds, so lookbehinds and `\b` see the char before `i` and the match
  *    at `i` is the one `find()` would report there;
  *  - group-0 resume: positions are tried in ascending order and a category
  *    resumes at its last match's group-0 end, as `find()` does, so the
  *    per-category result stays leftmost-first and non-overlapping.
  */
object Scrubber {

  val MaxChars: Int = 50000 // reference src/inference.py:36
  val Redaction: String = "[REDACTED]"

  val ErrEmpty = "Empty input: text must not be empty or whitespace-only"
  val ErrTooLarge = s"Input too large: text exceeds $MaxChars characters"
  val ErrNull = "Invalid input type: text must be a string"

  // Categories follow the reference's canonical taxonomy
  // (reference src/consolidate_pii_datasets.py:78-121) restricted to the
  // north-rule set: EMAIL, IP_ADDRESS, SECRET, PHONE.
  // Possessive quantifiers (`++`) throughout: the character classes never
  // overlap their followers, so backtracking buys nothing and disabling it
  // keeps worst-case scan time linear (measured 40× faster on dense text).
  private[scrub] val Email: Pattern = Pattern.compile(
    """[A-Za-z0-9._%+\-]++@(?:[A-Za-z0-9\-]++\.)++[A-Za-z]{2,}"""
  )

  // IPv4 with octet range validation; word-bounded so version strings like
  // "1.2.3" (three parts) never match.
  private[scrub] val Ipv4: Pattern = Pattern.compile(
    """(?<![\w.])(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}+(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?![\w.])"""
  )

  // IPv6: either >=5 full hex groups, or a '::' compression with at least one
  // hex group adjacent — so clock-like strings ("12:30:45") and a bare "::"
  // (Scala list cons) never match.
  private[scrub] val Ipv6: Pattern = Pattern.compile(
    """(?<![\w:])(?:(?:[0-9a-fA-F]{1,4}+:){4,7}[0-9a-fA-F]{1,4}+|(?:[0-9a-fA-F]{1,4}+:){1,6}:(?:[0-9a-fA-F]{1,4}+(?::[0-9a-fA-F]{1,4}+){0,5}+)?|::(?:[0-9a-fA-F]{1,4}+(?::[0-9a-fA-F]{1,4}+){0,6}+))(?![\w:])"""
  )

  // Phone: optional +CC, then 3-3-4 with separators (or parenthesised area
  // code). Separators are mandatory so long digit runs / secrets don't match.
  private[scrub] val Phone: Pattern = Pattern.compile(
    """(?<![\w])(?:\+\d{1,3}+[-. ])?(?:\(\d{3}+\)\s?|\d{3}+[-. ])\d{3}+[-. ]\d{4}+(?![\w-])"""
  )

  // Secrets, two families:
  //  (a) well-known token prefixes (standalone);
  //  (b) key=value assignments where the KEY name signals a credential —
  //      the redacted span is the VALUE only (capture group 1).
  private[scrub] val SecretToken: Pattern = Pattern.compile(
    """\b(?:sk_live_|sk_test_|ghp_|gho_|xoxb-|xoxp-|AKIA)[A-Za-z0-9_\-]{8,}+\b"""
  )
  private[scrub] val SecretAssign: Pattern = Pattern.compile(
    """(?i)\b(?:api[_\-]?key|secret(?:[_\-]?(?:key|access[_\-]?key))?|access[_\-]?token|auth[_\-]?token|passwd|password|aws_secret_access_key)\b\s*[:=]+\s*["']?([A-Za-z0-9+/_\-]{8,}+={0,2}+)["']?"""
  )

  final case class Span(start: Int, end: Int, category: String) {
    require(start < end, s"span start<end violated: $start..$end")
    def overlaps(o: Span): Boolean = start < o.end && o.start < end
  }

  /** Compile a toxicity deny-list into one case-insensitive, word-bounded
    * alternation. Terms are restricted to `[A-Za-z0-9]+` so the SAME pattern
    * string is valid under both java.util.regex and RE2 (the DuckDB oracle
    * dialect) — no `\Q…\E` quoting, no lookarounds. Returns None for an
    * empty list (toxicity scrubbing off, the default).
    */
  def denyPattern(terms: Seq[String]): Option[Pattern] = {
    if (terms.isEmpty) None
    else Some(Pattern.compile(denyPatternString(terms)))
  }

  /** The raw pattern string (shared verbatim with the DuckDB oracle SQL).
    * Validates here — not only in [[denyPattern]] — so callers going
    * straight to the string form cannot smuggle regex metacharacters into
    * a pattern the two engines would read differently.
    *
    * Dialect caveat: java.util.regex `(?i)` without UNICODE_CASE folds
    * ASCII only, while RE2 (DuckDB) applies Unicode simple folding (e.g.
    * U+017F 'ſ'→'s', U+212A KELVIN→'k'). With the enforced ASCII-alnum
    * term grammar a cross-engine mismatch therefore needs non-ASCII
    * CORPUS text whose Unicode fold lands on a term — the oracle-bitwise
    * guarantee (q57) covers ASCII corpus text; on Unicode corpora the two
    * engines may disagree on such exotic fold-alias matches.
    */
  def denyPatternString(terms: Seq[String]): String = {
    terms.foreach { t =>
      require(t.nonEmpty && t.forall(_.isLetterOrDigit) && t.forall(_ < 128),
        s"deny-list terms must be ASCII [A-Za-z0-9]+: '$t'")
    }
    DenyPrefix + terms.mkString("|") + DenySuffix
  }

  private val DenyPrefix = "(?i)\\b(?:"
  private val DenySuffix = ")\\b"

  /** Which ASCII chars, lowercased, can start a match of a pattern built by
    * [[denyPatternString]]: the first letters of its terms. None for any
    * other pattern, which is then tried at every position.
    */
  private def denyStarts(p: Pattern): Option[Array[Boolean]] = {
    val s = p.pattern
    if (!s.startsWith(DenyPrefix) || !s.endsWith(DenySuffix)) None
    else {
      val terms = s.substring(DenyPrefix.length, s.length - DenySuffix.length).split('|')
      if (!terms.forall(t => t.nonEmpty && t.forall(c => c < 128 && c.isLetterOrDigit))) None
      else {
        val starts = new Array[Boolean](128)
        terms.foreach(t => starts(t.head.toLower) = true)
        Some(starts)
      }
    }
  }

  /** One category's `find()` loop, run only at the positions it is offered
    * (in ascending order).
    */
  private final class Scan(p: Pattern, category: String, group: Int, text: String,
      out: scala.collection.mutable.Builder[Span, Vector[Span]]) {
    private var m: Matcher = _
    /** Where `find()` would start its next search. */
    var next = 0

    def tryAt(i: Int): Unit = if (i >= next) {
      if (m == null) m = p.matcher(text).useTransparentBounds(true).useAnchoringBounds(false)
      m.region(i, text.length)
      if (m.lookingAt()) {
        val s = m.start(group); val e = m.end(group)
        if (s >= 0 && e > s) out += Span(s, e, category)
        next = math.max(m.end(), i + 1) // find() steps past an empty match
      }
    }
  }

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def isHex(c: Char): Boolean =
    isDigit(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  /** java.util.regex `\w` (ASCII, no UNICODE_CHARACTER_CLASS). */
  private def isWord(c: Char): Boolean =
    isDigit(c) || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
  private def isEmailLocal(c: Char): Boolean =
    isWord(c) || c == '.' || c == '%' || c == '+' || c == '-'
  private def isPhoneSep(c: Char): Boolean = c == '-' || c == '.' || c == ' '

  /** `text(i)`, or NUL (in no trigger class) past the end. */
  private def at(text: String, i: Int): Char = if (i < text.length) text.charAt(i) else '\u0000'

  /** Length of the digit (or hex) run at `i`, counted up to `cap`. */
  private def digitRun(text: String, i: Int, cap: Int): Int = {
    var k = 0
    while (k < cap && isDigit(at(text, i + k))) k += 1
    k
  }
  private def hexRun(text: String, i: Int, cap: Int): Int = {
    var k = 0
    while (k < cap && isHex(at(text, i + k))) k += 1
    k
  }

  /** Whether one of `prefixes` starts at `i`. */
  private def startsWithAny(text: String, i: Int, prefixes: Array[String], ignoreCase: Boolean): Boolean = {
    var k = 0
    while (k < prefixes.length && !text.regionMatches(ignoreCase, i, prefixes(k), 0, prefixes(k).length))
      k += 1
    k < prefixes.length
  }

  private val TokenPrefixes = Array("sk_live_", "sk_test_", "ghp_", "gho_", "xoxb-", "xoxp-", "AKIA")
  // the alternation's stems, matched case-insensitively as the pattern's (?i)
  private val AssignStems = Array("api", "secret", "access", "auth", "passw", "aws_")

  /** Every category's spans before overlap resolution: for each pattern,
    * what its `find()` loop yields. Triggers at position `i`, one per
    * pattern, each implied by any match there:
    *  - email: an `@`; the pattern is tried once, at the start of the
    *    local-part run before it (the possessive run makes every start in
    *    that run succeed or fail alike);
    *  - ipv4: 1-3 digits then `.`, not after `[\w.]`;
    *  - ipv6: `::`, or 1-4 hex digits then `:`, not after `[\w:]`;
    *  - phone: `+digit`, `(ddd)` or `ddd[-. ]`, not after `\w`;
    *  - token: one of the literal prefixes, not after `\w`;
    *  - assignment: a key stem, ignoring ASCII case, not after `\w`;
    *  - toxicity: the ASCII-lowercased first letter of a deny term, not
    *    after `\w`.
    * `(?i)` without UNICODE_CASE folds ASCII only, so every trigger is ASCII.
    * The last three start with `\b` before a word char, which an ASCII
    * `\w` char before them rules out.
    */
  private[scrub] def candidates(text: String, deny: Option[Pattern]): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    val email = new Scan(Email, "EMAIL", 0, text, out)
    val ipv4 = new Scan(Ipv4, "IP_ADDRESS", 0, text, out)
    val ipv6 = new Scan(Ipv6, "IP_ADDRESS", 0, text, out)
    val phone = new Scan(Phone, "PHONE", 0, text, out)
    val token = new Scan(SecretToken, "SECRET", 0, text, out)
    val assign = new Scan(SecretAssign, "SECRET", 1, text, out)
    val toxic = deny.map(new Scan(_, "TOXICITY", 0, text, out)).orNull
    val toxicStarts = deny.flatMap(denyStarts).orNull
    var prev = '\u0000'
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '@') {
        var k = i
        while (k > email.next && isEmailLocal(text.charAt(k - 1))) k -= 1
        if (k < i) email.tryAt(k)
      } else if (c < 128 && !isWord(prev)) {
        if (isDigit(c)) {
          val d = digitRun(text, i, 4)
          if (prev != '.' && d <= 3 && at(text, i + d) == '.') ipv4.tryAt(i)
          if (d >= 3 && isPhoneSep(at(text, i + 3))) phone.tryAt(i)
        } else if (c == '+') {
          if (isDigit(at(text, i + 1))) phone.tryAt(i)
        } else if (c == '(') {
          if (digitRun(text, i + 1, 3) == 3 && at(text, i + 4) == ')') phone.tryAt(i)
        }
        if (prev != ':') {
          val h = hexRun(text, i, 5)
          if (if (h == 0) c == ':' && at(text, i + 1) == ':' else h <= 4 && at(text, i + h) == ':')
            ipv6.tryAt(i)
        }
        if ((c == 's' || c == 'g' || c == 'x' || c == 'A') &&
            startsWithAny(text, i, TokenPrefixes, ignoreCase = false))
          token.tryAt(i)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        if ((lc == 'a' || lc == 's' || lc == 'p') && startsWithAny(text, i, AssignStems, ignoreCase = true))
          assign.tryAt(i)
        if (toxicStarts != null && toxicStarts(lc)) toxic.tryAt(i)
      }
      if (toxic != null && toxicStarts == null) toxic.tryAt(i)
      prev = c
      i += 1
    }
    out.result()
  }

  /** All candidate spans across categories, overlap-resolved (first-wins). */
  def findSpans(text: String): Vector[Span] = findSpans(text, None)

  /** As [[findSpans]], plus an optional toxicity deny-list (north rule:
    * "PII/toxicity scrubbing"). Deny-list matches enter the SAME candidate
    * pool and first-wins overlap resolution as the PII categories, typed
    * `TOXICITY` — so a deny term inside an email local-part is not
    * double-redacted. `deny = None` (the default everywhere) is bitwise
    * identical to the PII-only behavior.
    */
  def findSpans(text: String, deny: Option[Pattern]): Vector[Span] = {
    val sorted = candidates(text, deny).sortBy(s => (s.start, -(s.end - s.start), s.category))
    val kept = Vector.newBuilder[Span]
    var lastEnd = -1
    sorted.foreach { s =>
      if (s.start >= lastEnd) { kept += s; lastEnd = s.end }
    }
    kept.result()
  }

  /** Splice redaction over disjoint spans, in one ascending pass; the same
    * string as the reference's desc-start splice (src/inference.py:325-332).
    */
  def redact(text: String, spans: Seq[Span]): String = {
    if (spans.isEmpty) text
    else {
      val sb = new java.lang.StringBuilder(text.length + spans.length * Redaction.length)
      var last = 0
      spans.sortBy(_.start).foreach { sp =>
        require(sp.start >= last, s"redact needs disjoint spans: $sp overlaps an earlier one")
        sb.append(text, last, sp.start).append(Redaction)
        last = sp.end
      }
      sb.append(text, last, text.length).toString
    }
  }

  /** `text.trim.isEmpty` without the copy: every char is ≤ U+0020. */
  private def trimsToEmpty(text: String): Boolean = {
    var i = 0
    while (i < text.length && text.charAt(i) <= ' ') i += 1
    i == text.length
  }

  final case class ScrubResult(
      hasPii: Boolean,
      scrubbed: String,
      piiTypes: Vector[String],
      entities: Vector[Entity],
      error: String // null on success
  )

  /** Total function: validation errors are captured, never thrown
    * (reference contract src/inference.py:355-421, F8 in SURVEY.md §2.3).
    */
  def scrub(text: String): ScrubResult = scrub(text, None)

  /** As [[scrub]], with an optional toxicity deny-list (see
    * [[findSpans(text:String,deny:Option[java\.util\.regex\.Pattern])*]]).
    * TOXICITY spans redact with the same `[REDACTED]` splice and surface in
    * `piiTypes`/`entities` like any PII category.
    */
  def scrub(text: String, deny: Option[Pattern]): ScrubResult = {
    if (text == null)
      ScrubResult(hasPii = false, "", Vector.empty, Vector.empty, ErrNull)
    else if (trimsToEmpty(text))
      ScrubResult(hasPii = false, text, Vector.empty, Vector.empty, ErrEmpty)
    else if (text.length > MaxChars)
      ScrubResult(hasPii = false, text, Vector.empty, Vector.empty, ErrTooLarge)
    else {
      val spans = findSpans(text, deny)
      val entities = spans.map { sp =>
        Entity(text.substring(sp.start, sp.end), sp.category, sp.start, sp.end, 1.0)
      }
      ScrubResult(
        hasPii = entities.nonEmpty,
        scrubbed = redact(text, spans),
        piiTypes = entities.map(_.`type`).distinct.sorted,
        entities = entities,
        error = null
      )
    }
  }
}
