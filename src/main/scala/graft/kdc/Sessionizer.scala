package graft.kdc

import scala.collection.AbstractIterator

/** Folds an in-order stream of raw log lines into [[KdcLogRecord]]s.
  *
  * Pure iterator→iterator function (no Spark types) so the exact session
  * semantics of the reference's `nextKeyValue` state machine
  * (`/root/reference/.../KDCLogRecordReader.java:209-324`) are
  * unit-testable without a SparkSession. Every log-file parse in the
  * engine feeds it the session blobs of [[KdcSessionInputFormat]],
  * through [[KdcSource.recordsAligned]] or the `kdclog` table (batch
  * and stream). Each blob ends at its `sending` line, so state never
  * crosses a blob, a split or a file. Behaviors preserved:
  *
  *  - a `sending N bytes` line completes and emits the current record —
  *    even when no header was ever seen (completed-but-invalid record
  *    carrying only ts/error, `KDCLogRecord.java:211-221`);
  *  - a second header before `sending` overwrites fields in place
  *    (the `continue` at `KDCLogRecordReader.java:265`);
  *  - AS-REQ only succeeds on an explicit "Pre-authentication succeeded"
  *    line; TGS-REQ is assumed successful at the header
  *    (`KDCLogRecordReader.java:247-252,270-271`);
  *  - first error wins per record, and *any* error line (even a repeat)
  *    forces success=false (`KDCLogRecord.setErrorIfUnset`,
  *    `KDCLogRecord.java:182-188`);
  *  - timestamped verify-failures overwrite the record ts
  *    (`KDCLogRecordReader.java:301-309`);
  *  - input exhausted before `sending` → trailing partial record is
  *    dropped (`KDCLogRecordReader.java:317-320`).
  *
  * NOT reproduced (documented reference bugs, SURVEY.md §2.4/§7.4): the
  * inverted `UserTimeRec.merge` and the `compareTo` copy-paste — those
  * belong to the aggregation layer, which here is plain `groupBy().agg`.
  */
object Sessionizer {

  /** Mutable per-session accumulator (private to the fold). */
  private final class Builder {
    var valid = false
    var ts: String = _
    var reqType: String = ReqType.UNKNOWN
    var errorClass: String = ErrorClass.NO_ERROR
    var client: String = _
    var crealm: String = _
    var service: String = _
    var srealm: String = _
    var clientIp: String = _
    var success = false
    var referral = false
    var error: String = _
    var preauthEt: String = _
    var supportedEts: String = _
    var usedEt: String = _

    def setErrorIfUnset(msg: String, cls: String): Unit = {
      if (error == null) { error = msg; errorClass = cls }
      success = false // unconditional, as in KDCLogRecord.java:187
    }

    def result: KdcLogRecord = KdcLogRecord(
      valid, ts, reqType, errorClass, client, crealm, service, srealm,
      clientIp, success, referral, error, preauthEt, supportedEts, usedEt)
  }

  /** One logical file's lines, in order → its records, in order. */
  def sessionize(lines: Iterator[String]): Iterator[KdcLogRecord] =
    new AbstractIterator[KdcLogRecord] {
      private var nextRec: KdcLogRecord = _

      private def advance(): Unit = {
        nextRec = null
        val b = new Builder
        while (nextRec == null && lines.hasNext) {
          LogLine.classify(lines.next()) match {
            case h: LineEvent.Header =>
              b.ts = h.ts
              b.reqType = h.reqType
              if (h.reqType == ReqType.TGS) b.success = true
              b.client = h.client; b.crealm = h.crealm
              b.service = h.service; b.srealm = h.srealm
              b.clientIp = h.ip
              b.valid = true
            case LineEvent.Sending      => nextRec = b.result
            case LineEvent.PreauthOk(et) =>
              b.success = true
              et.foreach(b.preauthEt = _)
            case LineEvent.Enctypes(supported, used) =>
              b.supportedEts = supported
              b.usedEt = used
            case LineEvent.Err(c, raw)  => b.setErrorIfUnset(raw, c)
            case LineEvent.TsErr(t, m)  =>
              b.ts = t
              b.setErrorIfUnset(m, ErrorClass.BAD_AUTHENTICATION)
            case LineEvent.ReferralAnswer => b.referral = true
            case LineEvent.Noise        => ()
          }
        }
        // input exhausted mid-session → partial record dropped
      }

      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): KdcLogRecord = {
        val r = nextRec; advance(); r
      }
    }
}
