package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded Heimdal KDC log generator with ground truth.
  *
  * Every session is written from a class chosen up front (AS success,
  * missing preauth, one of the error classes, TGS use, referral, ...),
  * so the expected report rows follow from the generator's own
  * bookkeeping, not from the parser under test. The truth is kept as
  * the expected TSV lines of each report (see [[Digest]]) plus a
  * summary of sessions per class and the error-bucket histogram.
  *
  * Two shapes:
  *  - `bulk`: one file of three-line AS-REQ successes over 10k users in
  *    two realms, the cheapest line mix (header and `sending` match
  *    first in the classifier chain);
  *  - `fleet`: a `host=…/day=…` tree whose sessions mix noise lines,
  *    every error class, missing preauth, TGS uses, referrals and
  *    enctype lines over heavy-tailed users and services.
  */
object KdcGen {
  val Home = "ANDREW.CMU.EDU"
  val Foreign = "CS.CMU.EDU"
  val BulkHome = "SQUILL.DEMENTIA.ORG"
  val BulkForeign = "FEDERATED.ORG"
  val Hosts = 4
  val Days = 7
  val ScopeDay = "2015-11-24"

  /** first/last/count of one report key */
  final class Stat(var n: Long = 0, var first: String = null, var last: String = null) {
    def add(ts: String): Unit = {
      n += 1
      if (first == null || ts < first) first = ts
      if (last == null || ts > last) last = ts
    }
    def merge(o: Stat): Unit = {
      n += o.n
      if (first == null || (o.first != null && o.first < first)) first = o.first
      if (last == null || (o.last != null && o.last > last)) last = o.last
    }
  }

  /** What the generator wrote, folded per report key. */
  final class Truth {
    val user = mutable.HashMap[String, Stat]()
    val userScoped = mutable.HashMap[String, Stat]()
    val service = mutable.HashMap[String, Stat]()
    val userEt = mutable.HashMap[(String, String), Stat]()
    val serviceEt = mutable.HashMap[(String, String), Stat]()
    val errors = mutable.HashMap[String, Long]().withDefaultValue(0L)
    val classes = mutable.HashMap[String, Long]().withDefaultValue(0L)
    var lines = 0L
    var sessions = 0L
    var bytes = 0L

    def merge(o: Truth): Unit = {
      def m[K](a: mutable.HashMap[K, Stat], b: mutable.HashMap[K, Stat]): Unit =
        b.foreach { case (k, s) => a.getOrElseUpdate(k, new Stat()).merge(s) }
      m(user, o.user); m(userScoped, o.userScoped); m(service, o.service)
      m(userEt, o.userEt); m(serviceEt, o.serviceEt)
      o.errors.foreach { case (k, v) => errors(k) += v }
      o.classes.foreach { case (k, v) => classes(k) += v }
      lines += o.lines; sessions += o.sessions; bytes += o.bytes
    }

    /** expected TSV lines per report, in the KdcMain column order */
    def reports: Map[String, Iterable[String]] = Map(
      "user" -> user.map { case (u, s) => s"$u\t${s.first}\t${s.last}\t${s.n}" },
      "user_scoped" -> userScoped.map { case (u, s) => s"$u\t${s.first}\t${s.last}\t${s.n}" },
      "service" -> service.map { case (v, s) => s"$v\t${s.first}\t${s.last}\t${s.n}" },
      "errors" -> errors.map { case (b, n) => s"$b\t$n" },
      "user-enctypes" -> userEt.map { case ((u, e), s) => s"$u\t$e\t${s.n}\t${s.first}\t${s.last}" },
      "service-enctypes" -> serviceEt.map { case ((v, k), s) => s"$v\t$k\t${s.n}\t${s.first}\t${s.last}" })
  }

  private val Enctypes = Array(
    "aes256-cts-hmac-sha1-96", "aes128-cts-hmac-sha1-96",
    "des3-cbc-sha1", "arcfour-hmac-md5")
  private val ServiceKinds = Array("host", "imap", "HTTP", "afs", "ldap", "smtp", "nfs", "cvs")

  /** One output file of the generator: its lines go through `line`. */
  private final class Sink(f: File) {
    f.getParentFile.mkdirs()
    private val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    var lines = 0L
    def line(s: String): Unit = { w.write(s); w.write('\n'); lines += 1 }
    def close(): Long = { w.close(); f.length() }
  }

  /** `2015-11-<day>T<hh:mm:ss>` for a second of that day */
  private def ts(day: Int, sec: Int): String = {
    val c = "2015-11-00T00:00:00".toCharArray
    def two(at: Int, v: Int): Unit = { c(at) = ('0' + v / 10).toChar; c(at + 1) = ('0' + v % 10).toChar }
    two(8, day); two(11, sec / 3600); two(14, (sec / 60) % 60); two(17, sec % 60)
    new String(c)
  }
  private def ip(r: SplittableRandom): String =
    s"IPv4:10.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"

  /** Bulk shape: `nSessions` three-line AS-REQ successes in one file,
    * written as four chunks in parallel and then concatenated. */
  def writeBulk(dir: File, seed: Long, nSessions: Int): Truth = {
    val chunks = 4
    val parts = inParallel((0 until chunks).map { c => () =>
      val t = new Truth
      val r = new SplittableRandom(seed * 31 + c)
      val part = new File(dir, s"kdc.log.part$c")
      val out = new Sink(part)
      var i = 0
      val n = nSessions / chunks + (if (c < nSessions % chunks) 1 else 0)
      while (i < n) {
        val realm = if (r.nextBoolean()) BulkHome else BulkForeign
        val user = s"user_${r.nextInt(10000)}"
        val stamp = ts(22 + r.nextInt(7), r.nextInt(86400))
        val addr = ip(r)
        out.line(s"$stamp AS-REQ $user@$realm from $addr for krbtgt/$realm@$realm")
        out.line(s"$stamp ENC-TS Pre-authentication succeeded -- $user@$realm using aes256-cts-hmac-sha1-96")
        out.line(s"$stamp sending ${600 + r.nextInt(400)} bytes to $addr")
        if (realm == BulkHome) t.user.getOrElseUpdate(user, new Stat()).add(stamp)
        t.classes(if (realm == BulkHome) "as_ok" else "as_ok_foreign") += 1
        i += 1
      }
      t.sessions = n
      t.lines = out.lines
      t.bytes = out.close()
      (part, t)
    })
    val log = java.nio.file.Paths.get(dir.getPath, "kdc.log")
    val dst = java.nio.channels.FileChannel.open(log,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try parts.foreach { case (part, _) =>
      val src = java.nio.channels.FileChannel.open(part.toPath)
      try {
        var done = 0L
        while (done < src.size()) done += src.transferTo(done, src.size() - done, dst)
      } finally src.close()
      part.delete()
    } finally dst.close()
    val t = new Truth
    parts.foreach(p => t.merge(p._2))
    t
  }

  /** runs the tasks on up to four threads, results in task order */
  private def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors())))
    try tasks.map(f => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f() }))
      .map(_.get())
    finally pool.shutdown()
  }

  /** heavy-tailed index in [0, n): small indexes are far more likely */
  private def skewed(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), 3.0)).toInt)

  /** Fleet shape: Hosts × Days files under host=…/day=…, each with
    * `perFile` mixed sessions. Files are written in parallel. */
  def writeFleet(dir: File, seed: Long, perFile: Int, nUsers: Int, nServices: Int): Truth = {
    val files = for (h <- 0 until Hosts; d <- 0 until Days) yield
      () => writeFleetFile(dir, seed, h, d, perFile, nUsers, nServices)
    val t = new Truth
    inParallel(files).foreach(t.merge)
    t
  }

  private def writeFleetFile(root: File, seed: Long, host: Int, dayIx: Int,
                             perFile: Int, nUsers: Int, nServices: Int): Truth = {
    val t = new Truth
    val r = new SplittableRandom(seed * 1000003L + host * 101 + dayIx)
    val day = 22 + dayIx
    val dayName = f"2015-11-$day%02d"
    val scoped = dayName == ScopeDay
    val out = new Sink(new File(root, s"host=kdc$host/day=$dayName/kdc.log"))
    var i = 0
    while (i < perFile) {
      val stamp = ts(day, (86400L * i / perFile).toInt)
      val addr = ip(r)
      val u = s"u${skewed(r, nUsers)}"
      val x = r.nextInt(1000)
      def header(kind: String, cr: String, svc: String, sr: String): Unit =
        out.line(s"$stamp $kind $u@$cr from $addr for $svc@$sr")
      def noise(s: String): Unit = out.line(s"$stamp $s")
      def sending(): Unit = out.line(s"$stamp sending ${200 + r.nextInt(1800)} bytes to $addr")
      def fail(cls: String, bucket: String, line: String): Unit = {
        noise(line); sending()
        t.classes(cls) += 1; t.errors(bucket) += 1
      }
      def enctypes(): Option[String] =
        if (r.nextInt(10) < 7) {
          val n = 1 + r.nextInt(Enctypes.length)
          val off = r.nextInt(Enctypes.length - n + 1)
          val sup = Enctypes.slice(off, off + n)
          val used = sup(r.nextInt(n))
          noise(s"Client supported enctypes: ${sup.mkString("", ", ", ",")} using $used/${Enctypes(0)}")
          Some(s"${sup.head}/${sup.last}/$used/${Enctypes(0)}")
        } else None
      if (x < 430) { // AS-REQ
        val foreign = x < 40
        val cr = if (foreign) Foreign else Home
        header("AS-REQ", cr, s"krbtgt/$Home", Home)
        noise(s"Client sent patypes: encrypted-timestamp, 149, ${128 + r.nextInt(8)}")
        noise(s"Looking for PK-INIT(ietf) pa-data -- $u@$cr")
        noise(s"Looking for ENC-TS pa-data -- $u@$cr")
        if (x < 300) {
          val et = Enctypes(r.nextInt(2))
          noise(s"ENC-TS Pre-authentication succeeded -- $u@$cr using $et")
          noise(s"AS-REQ authtime: $stamp starttime: unset endtime: $stamp renew till: unset")
          noise("Requested flags: renewable-ok, canonicalize, forwardable")
          sending()
          t.classes(if (foreign) "as_ok_foreign" else "as_ok") += 1
          if (!foreign) {
            t.user.getOrElseUpdate(u, new Stat()).add(stamp)
            t.userEt.getOrElseUpdate((u, et), new Stat()).add(stamp)
            if (scoped) t.userScoped.getOrElseUpdate(u, new Stat()).add(stamp)
          }
        } else if (x < 340) {
          noise("Need to use PA-ENC-TIMESTAMP/PA-PK-AS-REQ")
          sending()
          t.classes("as_missing_preauth") += 1; t.errors("MISSING_PREAUTH") += 1
        } else if (x < 380)
          fail("as_bad_password", "BAD_PASSWORD",
            s"Failed to decrypt PA-DATA -- $u@$cr (enctype ${Enctypes(0)}) error Decrypt integrity check failed")
        else if (x < 405)
          fail("as_bad_name", "BAD_NAME", s"UNKNOWN -- $u@$cr: no such entry found in hdb")
        else if (x < 418)
          fail("as_unusable_name", "UNUSABLE_NAME", s"Client expired -- $u@$cr")
        else
          fail("as_bad_authentication", "BAD_AUTHENTICATION", s"Too large time skew -- $u@$cr")
      } else { // TGS-REQ
        val svcIx = skewed(r, nServices)
        val svc = s"${ServiceKinds(svcIx % ServiceKinds.length)}/s$svcIx.andrew.cmu.edu"
        val foreignSvc = x >= 990
        val sr = if (foreignSvc) Foreign else Home
        header("TGS-REQ", Home, svc, sr)
        noise(s"TGS-REQ authtime: $stamp starttime: $stamp endtime: $stamp renew till: unset")
        if (x < 880 || foreignSvc) {
          val key = enctypes()
          noise("Requested flags: forwardable")
          sending()
          t.classes(if (foreignSvc) "tgs_ok_foreign" else "tgs_ok") += 1
          if (!foreignSvc) {
            t.service.getOrElseUpdate(svc, new Stat()).add(stamp)
            t.serviceEt.getOrElseUpdate((svc, key.getOrElse("UNK")), new Stat()).add(stamp)
          }
        } else if (x < 920) {
          noise(s"Returning a referral to realm $Foreign for server $svc@$Home.")
          sending()
          t.classes("tgs_referral") += 1
        } else if (x < 945)
          fail("tgs_bad_name", "BAD_NAME", s"Server not found in database: $svc@$Home: no such entry found in hdb")
        else if (x < 950)
          fail("tgs_bad_authentication", "BAD_AUTHENTICATION", "Failed to verify AP-REQ: Ticket expired")
        else if (x < 955) // timestamped verify failure: the end of the classifier chain
          fail("tgs_bad_authentication", "BAD_AUTHENTICATION",
            "Failed to verify AP-REQ: Decrypt integrity check failed")
        else if (x < 965)
          fail("tgs_bad_authentication", "BAD_AUTHENTICATION",
            s"Server ($svc@$Home) has no support for etypes")
        else if (x < 975)
          fail("tgs_bad_parameters", "BAD_PARAMETERS", "Request to forward non-forwardable ticket")
        else
          fail("tgs_unknown", "UNKNOWN", s"Failed building TGS-REP to $addr")
      }
      i += 1
    }
    t.sessions = perFile
    t.lines = out.lines
    t.bytes = out.close()
    t
  }

  /** Writes `truth` next to the inputs: one expected-lines file per
    * report and a summary with the class counts and report digests. */
  def writeTruth(dir: File, t: Truth): Unit = {
    dir.mkdirs()
    val digests = t.reports.map { case (name, ls) =>
      val w = new Sink(new File(dir, s"$name.tsv"))
      ls.toSeq.sorted.foreach(w.line)
      w.close()
      name -> Digest.ofLines(ls)
    }
    import scala.collection.immutable.ListMap
    val j = Json.obj(
      "sessions" -> t.sessions, "lines" -> t.lines, "bytes" -> t.bytes,
      "classes" -> ListMap(t.classes.toSeq.sortBy(_._1): _*),
      "errors" -> ListMap(t.errors.toSeq.sortBy(_._1): _*),
      "reports" -> ListMap(digests.toSeq.sortBy(_._1)
        .map { case (k, d) => k -> ListMap("rows" -> d.rows, "digest" -> d.hex) }: _*))
    java.nio.file.Files.writeString(new File(dir, "summary.json").toPath, j)
  }
}
