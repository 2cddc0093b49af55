package graft.kdc

import org.scalatest.funsuite.AnyFunSuite

/** Unit fixtures per FIXTURES.md §1-2 (happy path transcribed from the
  * reference's comment at `KDCLogFileInputType.java:30-40`; unhappy
  * paths per the classifier taxonomy `KDCLogRecordReader.java:55-78`).
  * Pure — no SparkSession.
  */
class SessionizerSpec extends AnyFunSuite {

  val happyAsReq: Seq[String] = Seq(
    "2015-11-22T15:25:20 AS-REQ cg2v@SQUILL.DEMENTIA.ORG from IPv4:127.0.0.1 for krbtgt/SQUILL.DEMENTIA.ORG@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 Client sent patypes: ENC-TS, REQ-ENC-PA-REP",
    "2015-11-22T15:25:20 Looking for PK-INIT(ietf) pa-data -- cg2v@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 Looking for PK-INIT(win2k) pa-data -- cg2v@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 Looking for ENC-TS pa-data -- cg2v@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 ENC-TS Pre-authentication succeeded -- cg2v@SQUILL.DEMENTIA.ORG using aes256-cts-hmac-sha1-96",
    "2015-11-22T15:25:20 ENC-TS pre-authentication succeeded -- cg2v@SQUILL.DEMENTIA.ORG",
    "2015-11-22T15:25:20 AS-REQ authtime: 2015-11-22T15:25:20 starttime: unset endtime: 2015-11-23T15:25:20 renew till: unset",
    "2015-11-22T15:25:20 Client supported enctypes: aes256-cts-hmac-sha1-96, aes128-cts-hmac-sha1-96, des3-cbc-sha1, arcfour-hmac-md5, 25, 26, des-cbc-crc, des-cbc-md5, des-cbc-md4, using aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96",
    "2015-11-22T15:25:20 Requested flags: renewable-ok, proxiable, forwardable",
    "2015-11-22T15:25:20 sending 752 bytes to IPv4:127.0.0.1")

  def header(ts: String = "2015-11-22T15:25:20", rt: String = "AS-REQ",
             client: String = "cg2v", svc: String = "host/www.example.org"): String =
    s"$ts $rt $client@EXAMPLE.ORG from IPv4:10.0.0.1 for $svc@EXAMPLE.ORG"
  val sending = "2015-11-22T15:25:21 sending 120 bytes to IPv4:10.0.0.1"

  def one(lines: Seq[String]): KdcLogRecord = {
    val rs = Sessionizer.sessionize(lines.iterator).toList
    assert(rs.size == 1, s"expected 1 record, got $rs")
    rs.head
  }

  test("happy-path AS-REQ session parses per FIXTURES.md §1") {
    val r = one(happyAsReq)
    assert(r == KdcLogRecord(valid = true, ts = "2015-11-22T15:25:20",
      req_type = ReqType.AUTH, error_class = ErrorClass.NO_ERROR,
      client = "cg2v", crealm = "SQUILL.DEMENTIA.ORG",
      service = "krbtgt/SQUILL.DEMENTIA.ORG", srealm = "SQUILL.DEMENTIA.ORG",
      client_ip = "IPv4:127.0.0.1", success = true, referral = false,
      error = null,
      preauth_enctype = "aes256-cts-hmac-sha1-96",
      supported_enctypes = "aes256-cts-hmac-sha1-96, aes128-cts-hmac-sha1-96, des3-cbc-sha1, arcfour-hmac-md5, 25, 26, des-cbc-crc, des-cbc-md5, des-cbc-md4,",
      used_enctype = "aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96"))
  }

  test("enctype fields: preauth 'using', supported first/last, used pair") {
    val r = one(happyAsReq)
    assert(r.preauth_enctype == "aes256-cts-hmac-sha1-96")
    assert(r.used_enctype == "aes256-cts-hmac-sha1-96/aes256-cts-hmac-sha1-96")
    // preauth line without 'using' leaves the enctype unset (Perl: UNK)
    val r2 = one(Seq(header(),
      "2015-11-22T15:25:20 ENC-TS Pre-authentication succeeded -- cg2v@EXAMPLE.ORG",
      sending))
    assert(r2.success && r2.preauth_enctype == null)
  }

  test("AS-REQ without preauth line is not successful (missing preauth)") {
    val r = one(Seq(header(), sending))
    assert(r.valid && !r.success && r.error_class == ErrorClass.NO_ERROR)
  }

  test("TGS-REQ succeeds from the header alone") {
    val r = one(Seq(header(rt = "TGS-REQ"), sending))
    assert(r.valid && r.success && r.req_type == ReqType.TGS)
  }

  val errorCases: Seq[(String, String)] = Seq(
    "2015-11-22T15:25:20 Failed to decrypt PA-DATA -- cg2v@EXAMPLE.ORG" -> ErrorClass.BAD_PASSWORD,
    "2015-11-22T15:25:20 UNKNOWN -- nosuch@EXAMPLE.ORG: no such entry found in hdb" -> ErrorClass.BAD_NAME,
    "2015-11-22T15:25:20 Client no longer in database: cg2v@EXAMPLE.ORG" -> ErrorClass.BAD_NAME,
    "2015-11-22T15:25:20 Client not found in database: x@EXAMPLE.ORG" -> ErrorClass.BAD_NAME,
    "2015-11-22T15:25:20 Server not found in database: svc@EXAMPLE.ORG" -> ErrorClass.BAD_NAME,
    "2015-11-22T15:25:20 Client expired" -> ErrorClass.UNUSABLE_NAME,
    "2015-11-22T15:25:20 Client's key has expired" -> ErrorClass.UNUSABLE_NAME,
    "2015-11-22T15:25:20 Server's key has expired" -> ErrorClass.UNUSABLE_NAME,
    "2015-11-22T15:25:20 Principal may not act as server -- x@EXAMPLE.ORG" -> ErrorClass.UNUSABLE_NAME,
    "2015-11-22T15:25:20 Principal may not act as client -- x@EXAMPLE.ORG" -> ErrorClass.UNUSABLE_NAME,
    "2015-11-22T15:25:20 krb_rd_req: Ticket not recognized" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 Too large time skew, client time 2015-11-22T14:00:00 is out by 5100 > 300 seconds -- x@EXAMPLE.ORG" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 No key matches pa-data -- x@EXAMPLE.ORG" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 Server (krbtgt/X@Y) has no support for etypes" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 Addition ticket have not matching etypes" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 Bad request for renewable ticket" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 Ticket expired (2015-11-21T15:25:20) -- x@EXAMPLE.ORG" -> ErrorClass.BAD_AUTHENTICATION,
    "2015-11-22T15:25:20 Request to forward non-forwardable ticket -- x@EXAMPLE.ORG" -> ErrorClass.BAD_PARAMETERS,
    "2015-11-22T15:25:20 request to renew non-renewable ticket -- x@EXAMPLE.ORG" -> ErrorClass.BAD_PARAMETERS,
    "2015-11-22T15:25:20 Failed building TGS-REP to x@EXAMPLE.ORG" -> ErrorClass.UNKNOWN)

  test("each error-taxonomy line maps to its class and fails the request") {
    for ((line, cls) <- errorCases) {
      val r = one(Seq(header(rt = "TGS-REQ"), line, sending))
      assert(r.error_class == cls, s"line [$line] → ${r.error_class}, want $cls")
      assert(!r.success, s"line [$line] should force success=false")
      assert(r.error != null)
    }
  }

  test("first error wins; later errors still force success=false") {
    val r = one(Seq(header(),
      "2015-11-22T15:25:20 Failed to decrypt PA-DATA -- cg2v@EXAMPLE.ORG",
      "2015-11-22T15:25:20 Client expired",
      sending))
    assert(r.error_class == ErrorClass.BAD_PASSWORD)
    assert(r.error.contains("Failed to decrypt PA-DATA"))
  }

  test("preauth-succeeded then error ⇒ error wins (success=false)") {
    val r = one(Seq(header(),
      "2015-11-22T15:25:20 ENC-TS Pre-authentication succeeded -- cg2v@EXAMPLE.ORG",
      "2015-11-22T15:25:20 Ticket expired -- cg2v@EXAMPLE.ORG",
      sending))
    assert(!r.success)
  }

  test("preauth after error re-raises success (reference quirk)") {
    // setErrorIfUnset forces success=false, but a later preauth line
    // sets it back to true (KDCLogRecordReader.java:270-271 runs per
    // line, unconditionally). Error string/class stay first-wins.
    val r = one(Seq(header(),
      "2015-11-22T15:25:20 Failed to decrypt PA-DATA -- cg2v@EXAMPLE.ORG",
      "2015-11-22T15:25:20 ENC-TS Pre-authentication succeeded -- cg2v@EXAMPLE.ORG",
      sending))
    assert(r.success && r.error_class == ErrorClass.BAD_PASSWORD)
  }

  test("TGS→AS header overwrite keeps TGS-granted success (reference quirk)") {
    // the second header overwrites fields in place without resetting
    // success (the `continue` at KDCLogRecordReader.java:265)
    val r = one(Seq(header(rt = "TGS-REQ"), header(rt = "AS-REQ"), sending))
    assert(r.req_type == ReqType.AUTH && r.success)
  }

  test("referral answer sets referral=true without error") {
    val r = one(Seq(header(rt = "TGS-REQ"),
      "2015-11-22T15:25:20 Returning a referral to realm OTHER.ORG for server krbtgt/OTHER.ORG@EXAMPLE.ORG",
      sending))
    assert(r.referral && r.success && r.error == null)
  }

  test("timestamped verify-failure overwrites ts and is BAD_AUTHENTICATION") {
    val r = one(Seq(header(rt = "TGS-REQ"),
      "2015-11-22T15:25:25 Failed to verify AP-REQ: Decrypt integrity check failed",
      sending))
    assert(r.ts == "2015-11-22T15:25:25")
    assert(r.error_class == ErrorClass.BAD_AUTHENTICATION && !r.success)
    val r2 = one(Seq(header(rt = "TGS-REQ"),
      "2015-11-22T15:25:26 Failed to verify checksum in TGS-REQ",
      sending))
    assert(r2.ts == "2015-11-22T15:25:26")
  }

  test("second header before sending overwrites fields in place") {
    val r = one(Seq(header(client = "alice"),
      header(client = "bob", ts = "2015-11-22T15:25:30"), sending))
    assert(r.client == "bob" && r.ts == "2015-11-22T15:25:30")
  }

  test("error with no preceding header yields completed invalid record") {
    val r = one(Seq(
      "2015-11-22T15:25:25 Failed to verify AP-REQ: bad key", sending))
    assert(!r.valid && r.ts == "2015-11-22T15:25:25" && r.error != null)
  }

  test("session truncated at end of input is dropped") {
    val rs = Sessionizer.sessionize(
      (happyAsReq ++ Seq(header(client = "dangling"))).iterator).toList
    assert(rs.size == 1 && rs.head.client == "cg2v")
  }

  test("multiple sessions in one stream; state resets between them") {
    val rs = Sessionizer.sessionize(
      (happyAsReq ++ Seq(header(rt = "TGS-REQ", client = "eve"), sending)).iterator).toList
    assert(rs.size == 2)
    assert(rs(1).client == "eve" && rs(1).success && rs(1).error == null)
  }

  test("sessionizeByFile resets state at file boundaries") {
    // file A ends with a dangling header; file B is a clean TGS session.
    // Read as two files through the split-aligned reader, the dangling
    // header must not leak into B's first session.
    val a = happyAsReq :+ header(client = "dangling")
    val b = Seq(header(rt = "TGS-REQ", client = "eve"), sending)
    val rs = SplitAlignedFiles.sessionizeByFile("target/scratch/sessionizer_byfile",
      Seq("a.log" -> a, "b.log" -> b))
    assert(rs.map(_.client) == List("cg2v", "eve"))
    assert(rs(1).success && rs(1).error == null)
  }

  test("noise-only input yields nothing") {
    assert(Sessionizer.sessionize(Seq("random line", "another").iterator).isEmpty)
  }
}
