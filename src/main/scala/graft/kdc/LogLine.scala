package graft.kdc

/** A single raw KDC log line, classified.
  *
  * This is the ADT form of the reference's inline dispatch chain
  * (`/root/reference/.../KDCLogRecordReader.java:234-310`): separating
  * "what kind of line is this" (pure, unit-testable, this file) from
  * "how lines fold into a session" ([[Sessionizer]]).
  */
sealed trait LineEvent extends Product with Serializable

object LineEvent {

  /** Request header: `<ts> AS-REQ|TGS-REQ <client>@<crealm> from <ip> for <service>@<srealm>`
    * (`KDCLogRecordReader.java:50-54`). */
  final case class Header(
      ts: String,
      reqType: String, // ReqType constant, already mapped from AS-REQ/TGS-REQ
      client: String,
      crealm: String,
      ip: String,
      service: String,
      srealm: String) extends LineEvent

  /** `<ts> sending N bytes to <ip>` — terminates the session
    * (`KDCLogRecordReader.java:79-81,267-269`). */
  case object Sending extends LineEvent

  /** `Pre-authentication succeeded` — the only way an AS-REQ succeeds
    * (`KDCLogRecordReader.java:55,270-271`); the optional `using <et>`
    * suffix carries the preauth enctype
    * (`perl/kdcmapper-with-enctypes.pl:39`). */
  final case class PreauthOk(enctype: Option[String]) extends LineEvent

  /** `Client supported enctypes: <csv> using <X/Y>`
    * (`perl/kdcmapper-with-enctypes.pl:78-81`). */
  final case class Enctypes(supported: String, used: String) extends LineEvent

  /** A line matching the error taxonomy; `errorClass` is an
    * [[ErrorClass]] constant (`KDCLogRecordReader.java:272-297`). */
  final case class Err(errorClass: String, raw: String) extends LineEvent

  /** Timestamped verification failure — carries its own timestamp which
    * OVERWRITES the record ts (`KDCLogRecordReader.java:301-309`). */
  final case class TsErr(ts: String, msg: String) extends LineEvent

  /** `[Rr]eturning a referral to realm` (`KDCLogRecordReader.java:78,298-299`). */
  case object ReferralAnswer extends LineEvent

  /** Anything else — ignored by the fold. */
  case object Noise extends LineEvent
}

/** Line classifier: the reference's first-match chain
  * (`KDCLogRecordReader.java:47-81` for the patterns, `:234-310` for the
  * precedence), run once per line without regexes on the hot shapes.
  *
  * Dispatch order, first match wins:
  *   header > sending > preauth > bad-password > bad-name >
  *   unusable-name > bad-authentication > bad-parameters >
  *   failed-TGS-REP > referral > enctypes > timestamped-verify-failures >
  *   noise.
  *
  * Header, `sending` and the preauth `using <et>` suffix are parsed by
  * hand: a 19-char timestamp followed by maximal runs of the `Atom`,
  * `Realm` and IP character classes and `\s` separators. A match may
  * start anywhere in the line (a syslog prefix before the timestamp
  * still matches), so each scan tries every start offset, leftmost
  * first — the `Matcher.find()` semantics of the reference. Every step
  * runs only once the line contains a literal that step cannot match
  * without (`-REQ`, `sending`, `Server (` + `) has no support`,
  * `Client supported enctypes: `, `Failed to verify `), so a noise line
  * costs one substring search per needle.
  *
  * Contract, for every string `l`: `classify(l)` equals the regex chain
  * kept as the test oracle `LogLineOracle` (`src/test/scala/graft/kdc/`),
  * and `isSending(l) == (classify(l) == Sending)`; `LogLineOracleSpec`
  * checks both on generated and mutated lines. Character classes are
  * ASCII, as `java.util.regex` defaults: `\d` = `[0-9]`,
  * `\s` = `[ \t\n\x0B\f\r]`.
  */
object LogLine {
  import LineEvent._

  private final val Digit = 1
  private final val Ip4 = 2   // [\d.]
  private final val Hex = 4   // [0-9a-fA-F.:]
  private final val Realm = 8 // [-.a-zA-Z0-9]
  private final val Atom = 16 // [-/_.a-zA-Z0-9]
  private final val Ws = 32   // [ \t\n\x0B\f\r]

  private val CharClass: Array[Int] = {
    val c = new Array[Int](128)
    def add(chars: Iterable[Char], bits: Int): Unit = chars.foreach(ch => c(ch) |= bits)
    add('0' to '9', Digit | Ip4 | Hex | Realm | Atom)
    add(('a' to 'f') ++ ('A' to 'F'), Hex)
    add(('a' to 'z') ++ ('A' to 'Z'), Realm | Atom)
    add(".", Ip4 | Hex | Realm | Atom)
    add(":", Hex)
    add("-", Realm | Atom)
    add("/_", Atom)
    add(" \t\n\u000B\f\r", Ws)
    c
  }

  private def is(c: Char, bits: Int): Boolean = c < 128 && (CharClass(c) & bits) != 0

  /** End of the maximal run of `bits` characters starting at `i`. */
  private def run(l: String, i: Int, bits: Int): Int = {
    var j = i
    while (j < l.length && is(l.charAt(j), bits)) j += 1
    j
  }

  /** End of a non-empty `\s+` run at `i`, or -1. */
  private def sep(l: String, i: Int): Int = {
    val j = run(l, i, Ws)
    if (j > i) j else -1
  }

  /** End of the maximal `\S` run starting at `i`. */
  private def nonWs(l: String, i: Int): Int = {
    var j = i
    while (j < l.length && !is(l.charAt(j), Ws)) j += 1
    j
  }

  private final val TsShape = "0000-00-00T00:00:00"

  /** `\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}` at `p`. */
  private def isTs(l: String, p: Int): Boolean = {
    if (p + 19 > l.length) return false
    var k = 0
    while (k < 19) {
      val t = TsShape.charAt(k)
      val c = l.charAt(p + k)
      if (if (t == '0') !is(c, Digit) else c != t) return false
      k += 1
    }
    true
  }

  /** End of `IPv4:[\d.]+|IPv6:[0-9a-fA-F.:]+` at `i`, or -1. */
  private def ipEnd(l: String, i: Int): Int = {
    val bits =
      if (l.startsWith("IPv4:", i)) Ip4
      else if (l.startsWith("IPv6:", i)) Hex
      else return -1
    val j = run(l, i + 5, bits)
    if (j > i + 5) j else -1
  }

  /** End of `Atom@Realm` at `i` and the `@` offset, or null. */
  private def principal(l: String, i: Int): (Int, Int) = {
    val at = run(l, i, Atom)
    if (at == i || at >= l.length || l.charAt(at) != '@') return null
    val e = run(l, at + 1, Realm)
    if (e == at + 1) null else (at, e)
  }

  /** `<ts>\s+(AS|TGS)-REQ\s+<client>@<crealm>\s+from\s+<ip>\s+for\s+<service>@<srealm>`
    * starting at `p`. */
  private def headerAt(l: String, p: Int): Header = {
    if (!isTs(l, p)) return null
    val t = sep(l, p + 19)
    if (t < 0) return null
    val (reqType, c0) =
      if (l.startsWith("AS-REQ", t)) (ReqType.AUTH, sep(l, t + 6))
      else if (l.startsWith("TGS-REQ", t)) (ReqType.TGS, sep(l, t + 7))
      else return null
    if (c0 < 0) return null
    val client = principal(l, c0)
    if (client == null) return null
    val f = sep(l, client._2)
    if (f < 0 || !l.startsWith("from", f)) return null
    val i0 = sep(l, f + 4)
    if (i0 < 0) return null
    val i1 = ipEnd(l, i0)
    if (i1 < 0) return null
    val o = sep(l, i1)
    if (o < 0 || !l.startsWith("for", o)) return null
    val s0 = sep(l, o + 3)
    if (s0 < 0) return null
    val service = principal(l, s0)
    if (service == null) return null
    Header(l.substring(p, p + 19), reqType,
      l.substring(c0, client._1), l.substring(client._1 + 1, client._2),
      l.substring(i0, i1),
      l.substring(s0, service._1), l.substring(service._1 + 1, service._2))
  }

  /** `<ts>\s+sending\s+\d+\s+bytes\s+to\s+<ip>` starting at `p`. */
  private def sendingAt(l: String, p: Int): Boolean = {
    if (!isTs(l, p)) return false
    val s = sep(l, p + 19)
    if (s < 0 || !l.startsWith("sending", s)) return false
    val n0 = sep(l, s + 7)
    if (n0 < 0) return false
    val n1 = run(l, n0, Digit)
    if (n1 == n0) return false
    val b = sep(l, n1)
    if (b < 0 || !l.startsWith("bytes", b)) return false
    val t = sep(l, b + 5)
    if (t < 0 || !l.startsWith("to", t)) return false
    val i = sep(l, t + 2)
    i >= 0 && ipEnd(l, i) >= 0
  }

  /** Leftmost header anywhere in the line, or null. */
  private def findHeader(l: String): Header = {
    if (!l.contains("-REQ")) return null
    var p = 0
    while (p + 19 <= l.length) {
      val h = headerAt(l, p)
      if (h != null) return h
      p += 1
    }
    null
  }

  private def hasSending(l: String): Boolean = l.contains("sending") && {
    var p = 0
    while (p + 19 <= l.length && !sendingAt(l, p)) p += 1
    p + 19 <= l.length
  }

  private final val PreauthDash = "Pre-authentication succeeded --"

  /** `Pre-authentication succeeded --\s+\S+@\S+\s+using\s+(\S+)`, first
    * match: the group, or None. */
  private def preauthEnctype(l: String): Option[String] = {
    var i = l.indexOf(PreauthDash)
    while (i >= 0) {
      val t0 = sep(l, i + PreauthDash.length)
      if (t0 >= 0) {
        val t1 = nonWs(l, t0)
        val at = l.indexOf('@', t0 + 1)
        val u = sep(l, t1)
        if (at >= 0 && at <= t1 - 2 && u >= 0 && l.startsWith("using", u)) {
          val e0 = sep(l, u + 5)
          if (e0 >= 0 && e0 < l.length) return Some(l.substring(e0, nonWs(l, e0)))
        }
      }
      i = l.indexOf(PreauthDash, i + 1)
    }
    None
  }

  private val EnctypesRe =
    """Client supported enctypes: (.*) using (\S+)""".r.unanchored
  private val Ts = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"""
  private val NoVerifyTgsRe = s"""($Ts)\\s+(Failed to verify AP-REQ:.*)""".r.unanchored
  private val FailedVerifyRe = s"""($Ts)\\s+(Failed to verify (?:checksum|authenticator).*)""".r.unanchored
  // Reference uses .matches() on ".*\bServer \(.*\) has no support.*\betypes\b.*"
  private val BadServerEtypeRe = """.*\bServer \(.*\) has no support.*\betypes\b.*""".r

  private val BadNameNeedles = Array(
    "UNKNOWN --", "Client no longer in database",
    "Client not found in database", "Server not found in database")
  private val UnusableNameNeedles = Array(
    "Client expired", "Client's key has expired", "Server's key has expired",
    "Principal may not act as server", "Principal may not act as client")
  private val BadAuthNeedles = Array(
    "krb_rd_req:", "Too large time skew", "No key matches pa-data",
    "Addition ticket have not matching etypes",
    "Bad request for renewable ticket", "Ticket expired")
  private val BadParamNeedles = Array(
    // leading-letter elision matches both Request/request, as the
    // reference does ("equest ...", KDCLogRecordReader.java:73-74)
    "equest to forward non-forwardable ticket",
    "equest to renew non-renewable ticket")

  private def containsAny(l: String, needles: Array[String]): Boolean = {
    var k = 0
    while (k < needles.length && !l.contains(needles(k))) k += 1
    k < needles.length
  }

  /** True iff `classify(line) == Sending`: a `sending N bytes to <ip>`
    * terminator with no request header anywhere in the line. */
  def isSending(line: String): Boolean =
    hasSending(line) && findHeader(line) == null

  def classify(line: String): LineEvent = {
    val h = findHeader(line)
    if (h != null) h
    else if (hasSending(line)) Sending
    else if (line.contains("Pre-authentication succeeded")) PreauthOk(preauthEnctype(line))
    else if (line.contains("Failed to decrypt PA-DATA --")) Err(ErrorClass.BAD_PASSWORD, line)
    else if (containsAny(line, BadNameNeedles)) Err(ErrorClass.BAD_NAME, line)
    else if (containsAny(line, UnusableNameNeedles)) Err(ErrorClass.UNUSABLE_NAME, line)
    else if (containsAny(line, BadAuthNeedles) ||
             (line.contains("Server (") && line.contains(") has no support") &&
               BadServerEtypeRe.matches(line)))
      Err(ErrorClass.BAD_AUTHENTICATION, line)
    else if (containsAny(line, BadParamNeedles)) Err(ErrorClass.BAD_PARAMETERS, line)
    else if (line.contains("Failed building TGS-REP")) Err(ErrorClass.UNKNOWN, line)
    else if (line.contains("eturning a referral to realm")) ReferralAnswer
    else if (line.contains("Client supported enctypes: ")) line match {
      case EnctypesRe(supported, used) => Enctypes(supported, used)
      case _ => verifyFailure(line)
    }
    else verifyFailure(line)
  }

  private def verifyFailure(line: String): LineEvent =
    if (!line.contains("Failed to verify ")) Noise
    else line match {
      case NoVerifyTgsRe(ts, msg)  => TsErr(ts, msg)
      case FailedVerifyRe(ts, msg) => TsErr(ts, msg)
      case _ => Noise
    }
}
