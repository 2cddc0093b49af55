package graft.kdc

/** The regex first-match chain [[LogLine.classify]] replaced, kept
  * verbatim as the test oracle: `LogLineOracleSpec` demands
  * `LogLine.classify(l) == LogLineOracle.classify(l)` and
  * `LogLine.isSending(l) == (LogLineOracle.classify(l) == Sending)` on
  * generated and mutated lines.
  *
  * Pattern set and *dispatch order* reproduce the reference's behavior
  * (`KDCLogRecordReader.java:47-81` for the patterns, `:234-310` for
  * the precedence chain):
  *   header > sending > preauth > bad-password > bad-name >
  *   unusable-name > bad-authentication > bad-parameters >
  *   failed-TGS-REP > referral > timestamped-verify-failures > noise.
  * First match wins per line.
  */
object LogLineOracle {
  import LineEvent._

  private val Ts = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"""
  private val Atom = """[-/_.a-zA-Z0-9]+"""
  private val Realm = """[-.a-zA-Z0-9]+"""
  private val Ip = """IPv4:[\d.]+|IPv6:[0-9a-fA-F.:]+"""

  // .unanchored => substring semantics, matching the reference's
  // Matcher.find() (a syslog prefix before the timestamp still matches).
  private val HeaderRe =
    s"""($Ts)\\s+((?:AS|TGS)-REQ)\\s+($Atom)@($Realm)\\s+from\\s+($Ip)\\s+for\\s+($Atom)@($Realm)""".r.unanchored
  private val PreauthEtRe =
    """Pre-authentication succeeded --\s+\S+@\S+\s+using\s+(\S+)""".r.unanchored
  private val EnctypesRe =
    """Client supported enctypes: (.*) using (\S+)""".r.unanchored
  private val SendingRe = s"""$Ts\\s+sending\\s+\\d+\\s+bytes\\s+to\\s+(?:$Ip)""".r.unanchored
  private val NoVerifyTgsRe = s"""($Ts)\\s+(Failed to verify AP-REQ:.*)""".r.unanchored
  private val FailedVerifyRe = s"""($Ts)\\s+(Failed to verify (?:checksum|authenticator).*)""".r.unanchored
  // Reference uses .matches() on ".*\bServer \(.*\) has no support.*\betypes\b.*"
  private val BadServerEtypeRe = """.*\bServer \(.*\) has no support.*\betypes\b.*""".r

  private val BadNameNeedles = Seq(
    "UNKNOWN --", "Client no longer in database",
    "Client not found in database", "Server not found in database")
  private val UnusableNameNeedles = Seq(
    "Client expired", "Client's key has expired", "Server's key has expired",
    "Principal may not act as server", "Principal may not act as client")
  private val BadAuthNeedles = Seq(
    "krb_rd_req:", "Too large time skew", "No key matches pa-data",
    "Addition ticket have not matching etypes",
    "Bad request for renewable ticket", "Ticket expired")
  private val BadParamNeedles = Seq(
    // leading-letter elision matches both Request/request, as the
    // reference does ("equest ...", KDCLogRecordReader.java:73-74)
    "equest to forward non-forwardable ticket",
    "equest to renew non-renewable ticket")

  def classify(line: String): LineEvent = line match {
    case HeaderRe(ts, reqtype, client, crealm, ip, service, srealm) =>
      val rt = reqtype match {
        case "AS-REQ"  => ReqType.AUTH
        case "TGS-REQ" => ReqType.TGS
        case _         => ReqType.UNKNOWN
      }
      Header(ts, rt, client, crealm, ip, service, srealm)
    case SendingRe() => Sending
    case _ if line.contains("Pre-authentication succeeded") =>
      PreauthOk(PreauthEtRe.findFirstMatchIn(line).map(_.group(1)))
    case _ if line.contains("Failed to decrypt PA-DATA --") =>
      Err(ErrorClass.BAD_PASSWORD, line)
    case _ if BadNameNeedles.exists(line.contains) =>
      Err(ErrorClass.BAD_NAME, line)
    case _ if UnusableNameNeedles.exists(line.contains) =>
      Err(ErrorClass.UNUSABLE_NAME, line)
    case _ if BadAuthNeedles.exists(line.contains) ||
              BadServerEtypeRe.matches(line) =>
      Err(ErrorClass.BAD_AUTHENTICATION, line)
    case _ if BadParamNeedles.exists(line.contains) =>
      Err(ErrorClass.BAD_PARAMETERS, line)
    case _ if line.contains("Failed building TGS-REP") =>
      Err(ErrorClass.UNKNOWN, line)
    case _ if line.contains("eturning a referral to realm") => ReferralAnswer
    case EnctypesRe(supported, used) => Enctypes(supported, used)
    case NoVerifyTgsRe(ts, msg)   => TsErr(ts, msg)
    case FailedVerifyRe(ts, msg)  => TsErr(ts, msg)
    case _ => Noise
  }
}
