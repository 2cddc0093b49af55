package graft.kdc

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based sessionizer invariants (SURVEY.md §5 test plan #2):
  * random interleavings of session fragments must preserve the
  * reference's structural guarantees regardless of ordering.
  * (Drives ScalaCheck `Gen` directly — the scalatestplus bridge is not
  * in the offline dependency cache.) */
class KdcPropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => try f(a) catch {
          case e: Throwable =>
            fail(s"failed for seed=$i input=$a: ${e.getMessage}", e)
        })
    }

  private val ts = "2015-11-22T15:25:20"
  private val genClient = Gen.oneOf("alice", "bob", "cg2v", "svc_x")

  private val genLine: Gen[String] = Gen.frequency(
    4 -> genClient.map(c =>
      s"$ts AS-REQ $c@EXAMPLE.ORG from IPv4:10.0.0.1 for krbtgt/EXAMPLE.ORG@EXAMPLE.ORG"),
    2 -> genClient.map(c =>
      s"$ts TGS-REQ $c@EXAMPLE.ORG from IPv4:10.0.0.1 for host/www@EXAMPLE.ORG"),
    3 -> Gen.const(s"$ts ENC-TS Pre-authentication succeeded -- alice@EXAMPLE.ORG"),
    2 -> Gen.oneOf(
      s"$ts Failed to decrypt PA-DATA -- alice@EXAMPLE.ORG",
      s"$ts Client expired",
      s"$ts Ticket expired -- x@EXAMPLE.ORG",
      s"$ts Failed building TGS-REP to x@EXAMPLE.ORG"),
    1 -> Gen.const(s"$ts Returning a referral to realm OTHER.ORG"),
    4 -> Gen.const(s"$ts sending 100 bytes to IPv4:10.0.0.1"),
    3 -> Gen.const(s"$ts Looking for ENC-TS pa-data -- alice@EXAMPLE.ORG"))

  private val genLines: Gen[List[String]] = Gen.listOf(genLine)

  test("record count equals the number of sending terminators consumed") {
    forAll(genLines) { lines =>
      val n = Sessionizer.sessionize(lines.iterator).size
      val sendings = lines.count(LogLine.classify(_) == LineEvent.Sending)
      assert(n == sendings)
    }
  }

  test("error string/class pair up; class defaults to NO_ERROR") {
    // NOTE: error ⇒ !success does NOT hold — the reference re-raises
    // success on a preauth line arriving after an error
    // (KDCLogRecordReader.java:270-271 runs per line, unconditionally);
    // only the error *string/class* is first-wins. Pinned in
    // SessionizerSpec "preauth after error re-raises success".
    forAll(genLines) { lines =>
      Sessionizer.sessionize(lines.iterator).foreach { r =>
        if (r.error != null) assert(r.error_class != ErrorClass.NO_ERROR)
        if (r.error == null) assert(r.error_class == ErrorClass.NO_ERROR)
      }
    }
  }

  test("valid records carry header fields; AUTH success needs preauth or TGS-header overwrite") {
    forAll(genLines) { lines =>
      Sessionizer.sessionize(lines.iterator).foreach { r =>
        if (r.valid) {
          assert(r.ts != null && r.client != null && r.service != null)
          assert(r.req_type == ReqType.AUTH || r.req_type == ReqType.TGS)
        }
        // An AUTH record can be successful only via an explicit preauth
        // line — or via the reference's header-overwrite quirk: a TGS
        // header earlier in the same session set success=true and a
        // later AS header overwrote req_type without resetting it
        // (KDCLogRecordReader.java:245-265). Pinned in SessionizerSpec.
        if (r.valid && r.req_type == ReqType.AUTH && r.success)
          assert(lines.exists(_.contains("Pre-authentication succeeded")) ||
            lines.exists(_.contains("TGS-REQ")))
      }
    }
  }

  test("sessionization is deterministic") {
    forAll(genLines) { lines =>
      val a = Sessionizer.sessionize(lines.iterator).toList
      val b = Sessionizer.sessionize(lines.iterator).toList
      assert(a == b)
    }
  }

  test("file-boundary reset: records of a++b == records(a) ++ records(b) per file") {
    forAll(Gen.zip(genLines, genLines, Gen.choose(16L, 512L))) { case (a, b, split) =>
      val separate = Sessionizer.sessionize(a.iterator).toList ++
        Sessionizer.sessionize(b.iterator).toList
      val aligned = SplitAlignedFiles.sessionizeByFile("target/scratch/kdc_property",
        Seq("fa.log" -> a, "fb.log" -> b), split)
      assert(aligned == separate, s"maxSplit=$split")
    }
  }
}
