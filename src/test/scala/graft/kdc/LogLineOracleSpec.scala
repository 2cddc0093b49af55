package graft.kdc

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the hand-written classifier: on lines drawn
  * from the Heimdal grammar and on mutations of them, [[LogLine]] must
  * give exactly what the regex chain [[LogLineOracle]] gives —
  * `classify(l) == LogLineOracle.classify(l)` and
  * `isSending(l) == (LogLineOracle.classify(l) == Sending)`. */
class LogLineOracleSpec extends AnyFunSuite with SeededForAll {

  private var checked = 0
  /** oracle outcomes seen, by kind (an error by its class) */
  private val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private def agree(l: String): Unit = {
    val want = LogLineOracle.classify(l)
    assert(LogLine.classify(l) == want, s"classify(${show(l)})")
    assert(LogLine.isSending(l) == (want == LineEvent.Sending), s"isSending(${show(l)})")
    checked += 1
    seen(want match {
      case LineEvent.Err(c, _) => c
      case LineEvent.PreauthOk(et) => s"PreauthOk(${et.isDefined})"
      case e => e.productPrefix
    }) += 1
  }

  private def show(l: String): String =
    l.flatMap(c => if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x")

  private val digit = Gen.choose('0', '9')
  private def digits(n: Int) = Gen.listOfN(n, digit).map(_.mkString)
  private val genTs: Gen[String] = Gen.frequency(
    6 -> Gen.const("2015-11-22T15:25:20"),
    3 -> Gen.zip(digits(4), digits(2), digits(2), digits(2), digits(2), digits(2))
      .map { case (y, mo, d, h, mi, s) => s"$y-$mo-${d}T$h:$mi:$s" },
    1 -> Gen.oneOf("2015-11-22 15:25:20", "15-11-22T15:25:20", "2015-11-22T15:25", ""))
  private val genSep = Gen.frequency(
    12 -> " ", 2 -> "\t", 2 -> "  ", 1 -> " \t ", 1 -> "\r", 1 -> "\u000B", 1 -> "\f",
    1 -> "", 1 -> " ", 1 -> "_")
  private val genAtom = Gen.frequency(
    6 -> Gen.oneOf("cg2v", "alice", "host/www.example.org", "krbtgt/EXAMPLE.ORG",
      "a_b-c.d/e", "u1", "HTTP/s12.andrew.cmu.edu"),
    1 -> Gen.oneOf("", "a:b", "x y", "é", "a@b", "a+b", "-"))
  private val genRealm = Gen.frequency(
    6 -> Gen.oneOf("EXAMPLE.ORG", "ANDREW.CMU.EDU", "X-Y.ORG", "a", "."),
    1 -> Gen.oneOf("", "EX_AMPLE", "EX/AMPLE", "EXAMPLE.ORG:88", "É"))
  private val genIp = Gen.frequency(
    6 -> Gen.zip(Gen.choose(0, 255), Gen.choose(0, 255)).map { case (a, b) => s"IPv4:10.$a.$b.1" },
    3 -> Gen.oneOf("IPv6:fe80::1", "IPv6:2001:db8::ff00:42:8329", "IPv6:::ffff:10.0.0.1",
      "IPv6:FE80::A"),
    2 -> Gen.oneOf("IPv4:", "IPv6:", "IPv4:1.2.3.4.", "IPv4:1a.2", "IPv6:fe80::g1",
      "IPX:10.0.0.1", "ipv4:10.0.0.1", "IPv4:١٠.0.0.1", "10.0.0.1"))
  private val genReq = Gen.frequency(
    8 -> Gen.oneOf("AS-REQ", "TGS-REQ"), 1 -> Gen.oneOf("XAS-REQ", "AP-REQ", "TGS-REQx", "as-req"))

  private val genHeader: Gen[String] = for {
    ts <- genTs; rt <- genReq; c <- genAtom; cr <- genRealm; ip <- genIp
    s <- genAtom; sr <- genRealm; seps <- Gen.listOfN(6, genSep)
    tail <- Gen.frequency(6 -> "", 1 -> " extra", 1 -> "@MORE", 1 -> ".tail")
  } yield s"$ts${seps(0)}$rt${seps(1)}$c@$cr${seps(2)}from${seps(3)}$ip${seps(4)}for${seps(5)}$s@$sr$tail"

  private val genSending: Gen[String] = for {
    ts <- genTs; ip <- genIp; seps <- Gen.listOfN(5, genSep)
    n <- Gen.frequency(8 -> Gen.choose(1, 9999).map(_.toString), 1 -> Gen.oneOf("", "12a", "-1", "٣"))
    word <- Gen.frequency(8 -> "sending", 1 -> Gen.oneOf("Sending", "sendin", "resending"))
    tail <- Gen.frequency(6 -> "", 1 -> " (retry)", 1 -> "x")
  } yield s"$ts${seps(0)}$word${seps(1)}$n${seps(2)}bytes${seps(3)}to${seps(4)}$ip$tail"

  private val genPrincipal = Gen.frequency(
    6 -> Gen.zip(genAtom, genRealm).map { case (a, r) => s"$a@$r" },
    1 -> Gen.oneOf("@X.ORG", "alice@", "a@b", "@", "alice", "a@@b", "é@é"))
  private val genPreauth: Gen[String] = for {
    ts <- genTs; pa <- Gen.oneOf("ENC-TS", "PK-INIT", "ENC-CHAL")
    word <- Gen.frequency(6 -> "Pre-authentication succeeded", 2 -> "pre-authentication succeeded",
      1 -> "Pre-authentication  succeeded")
    dash <- Gen.frequency(6 -> " --", 1 -> Gen.oneOf("--", " -", " ---", ""))
    seps <- Gen.listOfN(3, genSep); who <- genPrincipal
    using <- Gen.frequency(4 -> "using", 1 -> Gen.oneOf("usingx", "Using", ""))
    et <- Gen.frequency(6 -> Gen.oneOf("aes256-cts-hmac-sha1-96", "arcfour-hmac-md5", "23"),
      1 -> Gen.oneOf("", " ", "ét"))
    shape <- Gen.choose(0, 3)
  } yield shape match {
    case 0 => s"$ts $pa $word$dash${seps(0)}$who${seps(1)}$using${seps(2)}$et"
    case 1 => s"$ts $pa $word$dash${seps(0)}$who"
    case 2 => s"$ts $pa $word$dash${seps(0)}$who${seps(1)}$using${seps(2)}$et $word --$who using later"
    case _ => s"$ts $pa $word$dash$who"
  }

  private val genEnctypes: Gen[String] = for {
    ts <- genTs
    list <- Gen.oneOf("aes256-cts-hmac-sha1-96, arcfour-hmac-md5,", "", "23, 24, using x,", "a\u0085b")
    used <- Gen.oneOf("aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96", "", " ", "x\ty")
    shape <- Gen.choose(0, 2)
  } yield shape match {
    case 0 => s"$ts Client supported enctypes: $list using $used"
    case 1 => s"$ts Client supported enctypes: $list"
    case _ => s"$ts Client supported enctypes:$list using $used"
  }

  /** every literal a chain step keys on */
  private val needles = Seq(
    "Failed to decrypt PA-DATA --", "UNKNOWN --", "Client no longer in database",
    "Client not found in database", "Server not found in database", "Client expired",
    "Client's key has expired", "Server's key has expired", "Principal may not act as server",
    "Principal may not act as client", "krb_rd_req:", "Too large time skew",
    "No key matches pa-data", "Addition ticket have not matching etypes",
    "Bad request for renewable ticket", "Ticket expired",
    "Request to forward non-forwardable ticket", "request to renew non-renewable ticket",
    "Failed building TGS-REP", "Returning a referral to realm", "returning a referral to realm",
    "Pre-authentication succeeded", "Client supported enctypes: ", "Failed to verify ",
    "Failed to verify AP-REQ:", "Failed to verify checksum", "Failed to verify authenticator",
    "Server (", ") has no support", "etypes", "-REQ", "sending", "AS-REQ", "TGS-REQ")
  private val genNoise = Gen.oneOf("", "x", "Looking for ENC-TS pa-data -- ", " -- alice@X.ORG ",
    "Client sent patypes: encrypted-timestamp, 149", "(enctype 18) error ", "_", "\n", "\u0085")

  private val genNeedleLine: Gen[String] = for {
    ts <- genTs; sep <- genSep; a <- genNoise; n <- Gen.oneOf(needles); b <- genNoise
  } yield s"$ts$sep$a$n$b"

  private val genServerEtype: Gen[String] = for {
    ts <- genTs
    server <- Gen.frequency(4 -> "Server (", 1 -> Gen.oneOf("xServer (", "_Server (", "Server(", "éServer ("))
    inner <- Gen.oneOf("host/x@Y.ORG", "", "a) (b", "a\nb")
    mid <- Gen.oneOf(" for ", " ", "", " for some ")
    et <- Gen.frequency(4 -> "etypes", 1 -> Gen.oneOf("etypesx", "_etypes", "etype", "xetypes", "étypes"))
    tail <- Gen.oneOf("", " ok", "\r", ".", "é")
  } yield s"$ts $server$inner) has no support$mid$et$tail"

  private val genVerify: Gen[String] = for {
    ts <- genTs; sep <- genSep
    what <- Gen.oneOf("AP-REQ: Ticket expired", "AP-REQ:", "AP-REQ Ticket", "checksum",
      "authenticator: x", "checksums\nnext", "something else")
  } yield s"$ts${sep}Failed to verify $what"

  private val genFleetNoise = Gen.oneOf(
    "2015-11-22T00:00:00 TGS-REQ authtime: 2015-11-22T00:00:00 starttime: 2015-11-22T00:00:00 endtime: 2015-11-22T00:00:00 renew till: unset",
    "2015-11-22T00:00:00 AS-REQ authtime: 2015-11-22T00:00:00 starttime: unset endtime: 2015-11-22T00:00:00 renew till: unset",
    "2015-11-22T00:00:00 Need to use PA-ENC-TIMESTAMP/PA-PK-AS-REQ",
    "2015-11-22T00:00:00 Requested flags: renewable-ok, canonicalize, forwardable",
    "2015-11-22T00:00:00 Looking for PK-INIT(ietf) pa-data -- u1@ANDREW.CMU.EDU",
    "2015-11-22T00:00:00 Client sent patypes: encrypted-timestamp, 149, 133")

  private val genBase: Gen[String] = Gen.frequency(
    8 -> genHeader, 8 -> genSending, 4 -> genPreauth, 2 -> genEnctypes, 10 -> genNeedleLine,
    2 -> genServerEtype, 2 -> genVerify, 2 -> genFleetNoise)

  private val genMutation: Gen[String => String] = Gen.oneOf(
    Gen.oneOf("Nov 22 15:25:20 kdc1 kdc[1234]: ", "<13>", "9", "2015-11-22T15:25:20 ")
      .map(p => (l: String) => p + l),
    Gen.oneOf("\t", "  ", " \t").map(s => (l: String) => l.replace(" ", s)),
    Gen.zip(Gen.choose(0, 400), Gen.oneOf("\t", "  ", "\n", "\r", "\u0085", "x", "@", "é", "-"))
      .map { case (k, s) => (l: String) => val i = k % (l.length + 1); l.take(i) + s + l.drop(i) },
    Gen.choose(0, 400).map(k => (l: String) =>
      if (l.isEmpty) l else { val i = k % l.length; l.take(i) + l.drop(i + 1) }),
    Gen.zip(Gen.choose(0, 18), Gen.oneOf('٣', '３', '०'))
      .map { case (k, d) => (l: String) =>
        if (l.length > k && l.charAt(k).isDigit) l.updated(k, d) else l },
    Gen.oneOf(genHeader, genSending).map(h => (l: String) => s"$l $h"),
    Gen.const((l: String) => l.replace("Pre-authentication succeeded", "pre-authentication succeeded")),
    Gen.const((l: String) => l.replace("IPv4:10.", "IPv6:fe80::"))
  )

  private val genLine: Gen[String] = for {
    base <- genBase
    k <- Gen.frequency(3 -> 0, 3 -> 1, 1 -> 2)
    muts <- Gen.listOfN(k, genMutation)
  } yield muts.foldLeft(base)((l, m) => m(l))

  test("classify and isSending agree with the regex chain on generated and mutated lines") {
    checked = 0
    forAll(genLine, n = 12000)(agree)
    assert(checked >= 10000, s"only $checked lines checked")
    val kinds = Seq("Header", "Sending", "PreauthOk(true)", "PreauthOk(false)", "Enctypes",
      "TsErr", "ReferralAnswer", "Noise", ErrorClass.BAD_PASSWORD, ErrorClass.BAD_NAME,
      ErrorClass.UNUSABLE_NAME, ErrorClass.BAD_AUTHENTICATION, ErrorClass.BAD_PARAMETERS,
      ErrorClass.UNKNOWN)
    for (k <- kinds) assert(seen(k) >= 50, s"outcome $k drawn ${seen(k)} times: $seen")
    info(s"$checked lines, oracle outcomes: ${seen.toSeq.sorted.mkString(", ")}")
  }

  test("every truncation of a generated line agrees") {
    checked = 0
    forAll(genLine, n = 300)(l => (0 to l.length).foreach(k => agree(l.take(k))))
    assert(checked >= 10000, s"only $checked lines checked")
  }

  test("precedence: a header anywhere in the line beats a sending terminator") {
    val sending = "2015-11-22T15:25:20 sending 5 bytes to IPv4:10.0.0.1"
    val header = "2015-11-22T15:25:20 AS-REQ alice@X.ORG from IPv4:10.0.0.1 for krbtgt/X.ORG@X.ORG"
    for (l <- Seq(s"$sending $header", s"$header $sending", s"$sending\t$header")) {
      assert(LogLine.classify(l).isInstanceOf[LineEvent.Header], l)
      assert(!LogLine.isSending(l), l)
      agree(l)
    }
    assert(LogLine.isSending(s"Nov 22 15:25:20 kdc1 kdc[7]: $sending"))
    assert(LogLine.isSending(s"$sending AS-REQ authtime: unset"))
  }
}
