package graft.kdc.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.kdc.{KdcLogRecord, Sessionizer}

/** DataSourceV2 table over raw Heimdal KDC logs — the 100 TB parse
  * posture SURVEY.md §4/§7.3 names: `spark.read.format("kdclog")` (and
  * `readStream`) plans the multi-line session parse AS the scan, with
  *
  *  - **split alignment**: each byte range is read by
  *    [[graft.kdc.KdcSessionReader]], so one multi-GB log file fans out
  *    across tasks with zero shuffle (the reference's
  *    read-past-split-end contract, `KDCLogRecordReader.java:162-232`,
  *    incl. the splittable-bzip2 path); an input partition is one range
  *    of a file the planner cut into several, or a pack of whole small
  *    files sized by Spark's file-source rule (see [[KdcBatch.pack]]),
  *    so a fleet of small rotated logs runs about one task per core,
  *    not one per file;
  *  - **predicate pushdown INTO the parse stage**: realm/reqtype/
  *    validity predicates evaluate on the typed session record before
  *    any row is materialized — a realm-scoped query over a multi-realm
  *    log fleet never allocates rows for foreign traffic (`pushFilters`
  *    keeps every translatable filter; only untranslatable residue is
  *    re-evaluated by Spark);
  *  - **column pruning INTO the row materialization**: `pruneColumns`'
  *    required schema drives per-field extraction, so a
  *    (client, ts)-projection query materializes 2 of 15 fields.
  *
  * The session fold itself ([[Sessionizer]]) still parses every owned
  * session — the log bytes must be read to find session boundaries at
  * all — so pushdown buys row-materialization and downstream-operator
  * volume, not I/O. The 100 TB I/O win comes from two planner-side
  * mechanisms:
  *
  *  - **partition-path file pruning**: `k=v` directory segments under
  *    the load path (`host=kdc1/day=2015-11-22/…`, the standard log-
  *    fleet rotation layout) are discovered at schema inference as
  *    trailing STRING partition columns; pushed predicates that
  *    reference only those columns are evaluated driver-side during
  *    split planning and non-matching FILES are never opened at all —
  *    a day-scoped query over a year of logs reads 1/365th of the
  *    bytes. Layout contract: all files share one key sequence
  *    (else no partition columns are inferred); a file missing a value
  *    evaluates as NULL and is pruned by any non-null predicate; keys
  *    shadowing record fields are ignored; values are plain strings
  *    (no URL-unescaping, no type inference — lexical comparison,
  *    like `ts`). Predicate-driven pruning applies to BATCH scans:
  *    Spark builds streaming scans without running filter pushdown
  *    (as of 4.1), so scope a tailing query's I/O with a path glob
  *    (`host=STAR/day=2015-11-22/STAR`). Partition columns still
  *    materialize on every path.
  *  - **derived split bounds for splittable-compressed inputs**: a
  *    multi-GB .bz2 log sits UNDER the default 128 MiB split bound in
  *    its compressed size while expanding ~10-30× on decode, so the
  *    default plan would decode it in one task. When the input set
  *    contains splittable-compressed files and the caller set no
  *    explicit bound, the planner derives one for that group —
  *    `max(256 KiB, min(128 MiB / 16, largest/defaultParallelism))`,
  *    16 being a conservative text-log expansion factor (the probe
  *    measured ~28×) — so block-parallel decode (measured 7.3×)
  *    happens by default; uncompressed files keep their own sizing.
  *
  * Streaming: the same table supports `readStream` as file-arrival
  * micro-batches ([[KdcMicroBatchStream]]) — the reference's actual
  * production shape, tailing a growing KDC log directory
  * (append-only-directory contract — a file is admitted whole, exactly
  * once; the FileStreamSource assumption). Offsets are O(1) batch ids
  * backed by a checkpointed per-batch file manifest, so offset size is
  * independent of how many files the fleet has ever produced;
  * `maxFilesPerTrigger` bounds admission per batch, honored under
  * `Trigger.AvailableNow` via [[SupportsTriggerAvailableNow]] (the
  * engine's generic wrapper would jump straight to the prepared end,
  * collapsing the multi-batch replay this source exists to test).
  */
class KdcLogTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kdclog"

  /** The listing schema inference walked, kept for [[getTable]] so a
    * batch read plans its splits from the SAME snapshot instead of
    * walking the fleet a second time (the r11 verdict's two-walks-per-
    * query cost — at a ~1 ms/RPC namenode the duplicate walk dominates
    * planning). Spark calls inferSchema and getTable back-to-back on
    * one provider instance per `load()`; [[getTable]] CONSUMES the
    * slot (get-and-clear), so the snapshot's lifetime is exactly one
    * inferSchema→getTable handshake — the DSv2 contract does not
    * forbid reusing a provider instance, and a second `load()` through
    * a reused one must re-list rather than silently plan from the
    * first load's stale file set. A single slot also means two
    * CONCURRENT `load()`s may drop each other's snapshot — at worst a
    * second walk, never a wrong listing (the path/recursive guard in
    * [[getTable]] holds either way). The semantic matches Spark's own
    * file sources (file list frozen at load — files arriving between
    * `load()` and an action are not seen by that DataFrame). */
  private val inferredListing = new java.util.concurrent.atomic.AtomicReference[
    Option[(String, Boolean, Seq[KdcFileLayout.KdcFileMeta])]](None)

  /** Base record schema + any `k=v` partition columns discovered from
    * the directory layout under the load path. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    opts.get("path").map { p =>
      val recursive = opts.get("recursive").exists(_.toBoolean)
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      val listing = KdcFileLayout.listFilesDetailed(p, recursive, conf, strict = false)
      // snapshot only listings split planning could reuse VERBATIM: a
      // lenient walk that skipped nested dirs (or matched nothing)
      // must fall through to the strict planning walk so the batch
      // read still fails loudly
      inferredListing.set(
        if (listing.files.nonEmpty && !listing.nestedSkipped)
          Some((p, recursive, listing.files))
        else None)
      KdcLogTable.schemaForFiles(p, listing.files.map(_.path), conf)
    }.getOrElse(KdcLogTable.schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("kdclog source requires a 'path' option"))
    val recursive = Option(properties.get("recursive")).exists(_.toBoolean)
    val snapshot = inferredListing.getAndSet(None).collect {
      case (p, r, files) if p == path && r == recursive => files
    }
    new KdcLogTable(path, properties.asScala.toMap, schema, snapshot)
  }
}

object KdcLogTable {
  /** The base session-record schema (field-for-field
    * [[graft.kdc.KdcLogRecord]] — see its scaladoc for the reference
    * citations), before any layout-discovered partition columns. */
  val schema: StructType =
    org.apache.spark.sql.Encoders.product[KdcLogRecord].schema

  private[v2] val baseFieldNames: Set[String] = schema.fieldNames.toSet

  /** Table schema for an already-listed load path: the base record
    * schema plus one trailing nullable STRING column per `k=v`
    * partition key the directory layout exposes consistently across
    * all listed files. (The caller owns the listing — schema inference
    * shares one walk with split planning.) */
  private[v2] def schemaForFiles(path: String, files: Seq[Path],
                                 conf: Configuration): StructType = {
    val keys = KdcFileLayout.partitionKeys(path, files, conf)
    keys.foldLeft(schema)((s, k) =>
      s.add(org.apache.spark.sql.types.StructField(
        k, org.apache.spark.sql.types.StringType, nullable = true)))
  }

  /** The session's Hadoop configuration with the reader options
    * overlaid (options win): what split planning, scan statistics and
    * the executor-side readers all read. */
  private[v2] def hadoopConf(options: Map[String, String]): Configuration = {
    val conf = new Configuration(SparkSession.active.sparkContext.hadoopConfiguration)
    // maxSplitBytes is the Hadoop split bound
    options.get("maxSplitBytes")
      .foreach(conf.set("mapreduce.input.fileinputformat.split.maxsize", _))
    // recursive=true descends nested log layouts (host=…/day=… trees)
    // in the batch path; the streaming lister honors it natively
    options.get("recursive")
      .foreach(conf.set("mapreduce.input.fileinputformat.input.dir.recursive", _))
    conf
  }

  /** The executor-side reader Configuration: the FULL session Hadoop
    * configuration (fs credentials / custom schemes / codecs all
    * apply on executors exactly as they did during driver-side split
    * planning), with the per-read
    * reader options overlaid on top (options win). Broadcast once per
    * scan, the same pattern Spark's own file sources use — building a
    * bare `new Configuration()` from only forwarded option keys would
    * silently drop session settings on the executor side (reads fail
    * on non-default filesystems). */
  private[v2] def readerConf(options: Map[String, String])
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] = {
    SparkSession.active.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf(options)))
  }
}

/** File listing + `k=v` partition-layout discovery, shared by schema
  * inference, the batch split planner, and the streaming lister (one
  * visibility rule everywhere: '_'/'.'-prefixed names are hidden at
  * every level, matching Hadoop input formats). */
private[graft] object KdcFileLayout {

  /** Directories per level above which the walk lists concurrently —
    * each `listStatus` is one namenode RPC, so a 10k-dir fleet level
    * pays 10k round trips serially but ~10k/16 wall-clock in parallel.
    * Small layouts stay on the serial path (no pool setup cost). */
  private val ParallelListThreshold = 4
  /** Most concurrent `listStatus` calls of one parallel level. */
  private val ListPoolSize = 16

  /** Lightweight file metadata the planner needs — built from ONLY the
    * eager FileStatus getters. (Copying a RawLocalFileSystem status
    * into e.g. LocatedFileStatus forces its LAZY permission fields,
    * which fork an `ls -ld` process PER FILE — measured ~7 ms/file,
    * 70 s over a 10k-file tree.) */
  final case class KdcFileMeta(path: Path, len: Long, blockSize: Long,
                               modTime: Long,
                               blocks: Array[org.apache.hadoop.fs.BlockLocation])

  /** A walk's result: the visible files, plus whether any nested
    * directory was silently skipped (lenient non-recursive mode only —
    * such a listing must NOT be reused where the strict planning walk
    * would have failed loudly). */
  final case class Listing(files: Seq[KdcFileMeta], nestedSkipped: Boolean)

  /** Diagnostic: top-level listing walks performed by this JVM — the
    * spec hook that pins "one walk per planning cycle" (each
    * walk is O(dirs) namenode RPCs; the count, not the local wall, is
    * what transfers to a real namenode). */
  val listingWalks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Diagnostic: directories actually listed (one namenode listStatus
    * RPC each) across all walks — the spec hook that pins "each
    * visible directory listed once". */
  val dirsListed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Snapshot the files under `path` (a file, a directory, or a glob);
    * `recursive` additionally descends nested layouts. Driver-side,
    * breadth-first; levels with many directories list in parallel on a
    * bounded pool (the FileSystem client is thread-safe; this is the
    * driver-local analog of Spark's parallel partition discovery).
    * On distributed filesystems the listing uses `listLocatedStatus`,
    * so each status already carries its BLOCK LOCATIONS and split
    * planning never goes back to the namenode per file (the per-file
    * re-listing FileInputFormat would do is the other O(files) serial
    * RPC stage at fleet scale); on the local filesystem — whose
    * location machinery is per-file-exec slow and whose synthesized
    * localhost locations carry no information — the walk lists plainly
    * and reports no preferred locations. `strict` throws when the
    * path/glob matches nothing at all (the batch-read contract); the
    * streaming lister passes false — a tailed directory may not exist
    * yet. */
  def listFiles(path: String, recursive: Boolean, conf: Configuration,
                strict: Boolean): Seq[KdcFileMeta] =
    listFilesDetailed(path, recursive, conf, strict).files

  def listFilesDetailed(path: String, recursive: Boolean, conf: Configuration,
                        strict: Boolean): Listing = {
    import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus}
    listingWalks.incrementAndGet()
    var nestedSkipped = false
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val localFs = fs.getScheme == "file"
    def visible(q: Path): Boolean = {
      val n = q.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val roots = Option(fs.globStatus(p)).getOrElse(Array.empty)
    if (roots.isEmpty && strict)
      throw new java.io.FileNotFoundException(s"kdclog: no input found at $path")

    def meta(st: FileStatus): KdcFileMeta = {
      val blocks = st match {
        case l: LocatedFileStatus => l.getBlockLocations
        case other if !localFs && other.isFile =>
          fs.getFileBlockLocations(other, 0, other.getLen)
        case _ => Array.empty[org.apache.hadoop.fs.BlockLocation]
      }
      KdcFileMeta(st.getPath, st.getLen, st.getBlockSize,
        st.getModificationTime, blocks)
    }
    def listDir(d: Path): Seq[FileStatus] = {
      dirsListed.incrementAndGet()
      if (localFs) fs.listStatus(d).toSeq
      else {
        val it = fs.listLocatedStatus(d)
        val buf = scala.collection.mutable.ArrayBuffer[FileStatus]()
        while (it.hasNext) buf += it.next()
        buf.toSeq
      }
    }

    val out = scala.collection.mutable.ArrayBuffer[KdcFileMeta]()
    var frontier = scala.collection.mutable.ArrayBuffer[Path]()
    roots.foreach { st =>
      if (st.isFile) { if (visible(st.getPath)) out += meta(st) }
      else frontier += st.getPath
    }
    var depth = 0
    while (frontier.nonEmpty) {
      if (depth > 0 && !recursive) {
        if (strict)
          // a nested dir under a non-recursive batch read would be
          // SILENTLY skipped — fail like FileInputFormat does instead
          throw new java.io.IOException(
            s"kdclog: not a file: ${frontier.head} (nested layout — set recursive=true or use a glob)")
        nestedSkipped = true
        frontier.clear()
      } else {
        val level: Seq[Seq[FileStatus]] =
          if (frontier.length < ParallelListThreshold)
            frontier.toSeq.map(listDir)
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(ListPoolSize, frontier.length))
            try {
              import scala.jdk.CollectionConverters._
              val tasks = frontier.toSeq.map { d =>
                new java.util.concurrent.Callable[Seq[FileStatus]] {
                  override def call() = listDir(d)
                }
              }
              pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
            } finally pool.shutdown()
          }
        val next = scala.collection.mutable.ArrayBuffer[Path]()
        level.iterator.flatten.foreach { c =>
          if (visible(c.getPath)) {
            if (c.isFile) out += meta(c)
            else next += c.getPath
          }
        }
        frontier = next
      }
      depth += 1
    }
    Listing(out.toSeq, nestedSkipped)
  }

  private val GlobChars: Set[Char] = Set('*', '?', '[', ']', '{', '}', '\\')

  /** The longest non-glob prefix of the load path — partition segments
    * are the `k=v` directories strictly between this base and each
    * file. (Globbed segments still yield partition values: for a glob
    * like `fleet/host=STAR/day=STAR/kdc.log` the base is `fleet`.) */
  private def rawBase(path: String): String = {
    val segs = path.split('/')
    val i = segs.indexWhere(_.exists(GlobChars))
    if (i < 0) path else segs.take(i).mkString("/")
  }

  /** URI path of the qualified base, for prefix comparison against
    * listed (always fully-qualified) file paths. */
  private def qualifiedBase(path: String, conf: Configuration): String = {
    val b = new Path(rawBase(path))
    b.getFileSystem(conf).makeQualified(b).toUri.getPath
  }

  /** `k=v` segments of `file`'s directories below the base, in path
    * order. Keys shadowing base record fields are ignored (a dir named
    * `client=x` cannot silently override the parsed field). */
  private def segsBelow(base: String, file: Path): Seq[(String, String)] = {
    val f = file.toUri.getPath
    if (!f.startsWith(base)) return Seq.empty
    f.drop(base.length).split('/').filter(_.nonEmpty).dropRight(1).toSeq.flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq <= 0) None
      else {
        val k = seg.substring(0, eq)
        if (KdcLogTable.baseFieldNames(k)) None else Some(k -> seg.substring(eq + 1))
      }
    }
  }

  /** Partition keys exposed CONSISTENTLY by every listed file (same
    * key sequence), else none — a mixed layout never produces
    * half-defined partition columns. */
  def partitionKeys(path: String, files: Seq[Path], conf: Configuration): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    val base = qualifiedBase(path, conf)
    val keySeqs = files.map(f => segsBelow(base, f).map(_._1))
    if (keySeqs.head.nonEmpty && keySeqs.forall(_ == keySeqs.head)) keySeqs.head
    else Seq.empty
  }

  /** Each file's values for the table's partition keys; a key a path
    * does not carry is absent from its map (resolving to null — pruned
    * by any non-null predicate). The qualified base is computed ONCE
    * for the whole batch, not per file (it depends only on the table
    * path and conf; per-file recomputation was O(files) redundant
    * FileSystem lookups on the planning hot path). */
  def partValuesAll(path: String, files: Seq[Path], partKeys: Seq[String],
                    conf: Configuration): Map[Path, Map[String, String]] = {
    if (partKeys.isEmpty) return files.iterator.map(_ -> Map.empty[String, String]).toMap
    val base = qualifiedBase(path, conf)
    files.iterator.map { f =>
      val found = segsBelow(base, f).toMap
      f -> partKeys.flatMap(k => found.get(k).map(k -> _)).toMap
    }.toMap
  }
}

class KdcLogTable(path: String, options: Map[String, String],
                  tableSchema: StructType,
                  listingSnapshot: Option[Seq[KdcFileLayout.KdcFileMeta]] = None)
    extends Table with SupportsRead {
  override def name(): String = s"kdclog(`$path`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new KdcScanBuilder(path, options ++ caseInsensitive.asScala, tableSchema,
      listingSnapshot)
}

class KdcScanBuilder(path: String, options: Map[String, String],
                     tableSchema: StructType,
                     listingSnapshot: Option[Seq[KdcFileLayout.KdcFileMeta]] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topN: Option[KdcTopN] = None
  private val fields = tableSchema.fieldNames.toSet

  /** Keep every filter [[KdcFilterEval]] can evaluate exactly on the
    * typed session record (or on this table's partition columns); only
    * the residue goes back to Spark for post-scan evaluation. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, unsupported) = filters.partition(KdcFilterEval.supports(fields, _))
    pushed = supported
    unsupported
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown (`SupportsPushDownLimit`), always PARTIAL: each
    * partition's reader stops after emitting `limit` post-filter
    * sessions instead of parsing all its ranges, and Spark keeps the
    * global limit on top. Combined with `CollectLimitExec`'s
    * incremental partition evaluation, a `LIMIT 10` exploration query
    * over a 100 TB fleet opens one partition's first range(s) and
    * parses ~10 sessions — without this the first split parsed its
    * full (up to 128 MB decoded) range before the limit applied. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** Top-N pushdown (`SupportsPushDownTopN`), always PARTIAL: each
    * partition's reader returns only its n best sessions by `ts`, so an
    * `ORDER BY ts [DESC] LIMIT n` exploration query ("the latest n
    * authentications in the fleet") ships n rows per partition to the
    * driver's TakeOrdered merge instead of every parsed session.
    * ONLY `ts` qualifies: it is the one record field with a total
    * order the reader can maintain (lexical ISO = chronological).
    * The reader still parses all its ranges into a BOUNDED
    * n-row heap rather than stopping early — a session's ts is
    * OVERWRITTEN by timestamped error detail lines (the reference's
    * AP-REQ subtlety), so file order is not ts order and an
    * early-stop would drop true minima. `n` is capped so a mis-sized
    * LIMIT cannot turn the heap into an executor-memory hazard. */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    if (orders.length != 1 || l > KdcScanBuilder.MaxPushedTopN) return false
    val o = orders(0)
    val onTs = o.expression() match {
      case nr: NamedReference => nr.fieldNames().sameElements(Array("ts"))
      case _ => false
    }
    if (!onTs) return false
    topN = Some(KdcTopN(
      asc = o.direction() == SortDirection.ASCENDING,
      nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST,
      n = l))
    true
  }

  override def build(): Scan =
    new KdcScan(path, options, tableSchema, required, pushed, listingSnapshot,
      limit, topN)
}

object KdcScanBuilder {
  /** Upper bound on a pushed top-N's per-reader heap; Spark itself
    * only plans TakeOrdered for small limits, so refusing beyond this
    * just declines the pushdown (the query still runs, unpushed). */
  val MaxPushedTopN = 100000
}

/** A pushed `ORDER BY ts LIMIT n` (see [[KdcScanBuilder.pushTopN]]);
  * serializable — shipped to every reader. */
case class KdcTopN(asc: Boolean, nullsFirst: Boolean, n: Int)

object KdcScan {
  /** Raw-log bytes per parsed session, from the parse-cost probe
    * (PLAN_NOTES round 12: 2M sessions in 565 MiB of synthetic KDC log
    * ≈ 296 bytes/session) — the row-count constant behind
    * [[KdcScan.estimateStatistics]]. An estimate, not a promise:
    * Catalyst only needs the right order of magnitude to pick a
    * broadcast over a sort-merge join pre-AQE. */
  private[v2] val EstBytesPerSession = 296L
}

class KdcScan(val path: String, options: Map[String, String],
              tableSchema: StructType,
              val requiredSchema: StructType, val pushedFilters: Array[Filter],
              listingSnapshot: Option[Seq[KdcFileLayout.KdcFileMeta]] = None,
              val pushedLimit: Option[Int] = None,
              val pushedTopN: Option[KdcTopN] = None)
    extends Scan with SupportsReportStatistics with SupportsRuntimeFiltering {

  /** Layout-discovered partition columns = table schema minus the base
    * record fields (order preserved). */
  private[v2] val partKeys: Seq[String] =
    tableSchema.fieldNames.toSeq.filterNot(KdcLogTable.baseFieldNames)

  private val recursive = options.get("recursive").exists(_.toBoolean)

  /** Runtime (DPP) filters, delivered mid-execution via
    * [[SupportsRuntimeFiltering.filter]] — see [[filterAttributes]]. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  private def effectiveFilters: Array[Filter] = pushedFilters ++ runtimeFilters

  /** Dynamic partition pruning for parsed logs
    * (`SupportsRuntimeFiltering`): only the layout's partition-path
    * columns are advertised, so every runtime predicate Spark hands
    * over prunes at WHOLE-FILE granularity — exact, not advisory
    * (each file carries a single value per partition key). The payoff
    * at fleet scale: `parse ⋈ σ(dim)` on a `day=` column opens only
    * the days the filtered dimension actually contains, decided at
    * runtime from the dimension's broadcast result — a static plan
    * cannot know them, and without this the parse side reads the
    * whole fleet. After [[filter]], Spark re-invokes
    * `toBatch.planInputPartitions()` (per `BatchScanExec`), which
    * re-plans splits under `effectiveFilters` and skips pruned files
    * before any is opened. */
  override def filterAttributes(): Array[NamedReference] =
    // only keys surviving column pruning: Spark resolves these against
    // the scan's OUTPUT, and a runtime filter can only ever arrive on
    // a join key the query reads anyway
    partKeys.filter(requiredSchema.fieldNames.contains)
      .map(k => Expressions.column(k)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    // keep only predicates this source can evaluate exactly against
    // partition-path values; anything else is dropped (the join still
    // applies full semantics — runtime pruning is a strict subset)
    runtimeFilters = filters.filter(f =>
      f.references.nonEmpty && f.references.forall(partKeys.contains) &&
        KdcFilterEval.supports(partKeys.toSet, f))
  }

  /** Listing backing [[estimateStatistics]]: schema inference's
    * snapshot when the provider handed one over, else ONE lenient walk
    * — shared with [[toBatch]], so consulting statistics never adds a
    * walk to the planning cycle (and a stats-first optimizer pass
    * leaves split planning with the same one-walk bound). A listing
    * the strict batch planner could not reuse verbatim (empty match,
    * nested dirs under a non-recursive read) stays None: stats fall
    * back to unknown and planning re-walks strictly so it still fails
    * loudly — those disqualified cases pay a second walk, but both
    * END in the strict walk's exception (empty → FileNotFound, nested
    * non-recursive → IOException), so the extra walk is confined to
    * queries that error out anyway. */
  private lazy val plannerListing: Option[Seq[KdcFileLayout.KdcFileMeta]] =
    listingSnapshot.orElse {
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      val l = KdcFileLayout.listFilesDetailed(path, recursive, conf, strict = false)
      if (l.files.nonEmpty && !l.nestedSkipped) Some(l.files) else None
    }

  /** Post-pruning scan statistics (`SupportsReportStatistics`):
    * without this, Catalyst sizes a parsed-log join side at
    * `defaultSizeInBytes` pre-AQE, so a day-scoped parse that prunes
    * to one file could not be broadcast against a dimension table
    * until AQE replans post-shuffle. The estimate prices exactly what
    * the planner will read: files surviving partition-path pruning
    * by the pushed predicates, their bytes expanded by
    * the compressed-log factor where a codec applies, rows from the
    * parse-cost probe's bytes-per-session constant, and bytes scaled
    * to the PRUNED column set (a 2-of-15-column projection is priced
    * at its materialized width, not the log's). Data-field predicates
    * are NOT priced in (no selectivity model — same convention as
    * Spark's file sources), so the estimate errs conservative. */
  override def estimateStatistics(): Statistics = plannerListing match {
    case None =>
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    case Some(files) =>
      val conf = KdcLogTable.hadoopConf(options)
      val kept = KdcBatch.prunedFiles(files, path, partKeys, effectiveFilters, conf)
      val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      val rawBytes = kept.iterator.map { case (st, _) =>
        if (codecs.getCodec(st.path) != null)
          st.len * KdcBatch.CompressedExpansionFactor
        else st.len
      }.sum
      val rows =
        if (rawBytes == 0L) 0L
        else math.max(1L, rawBytes / KdcScan.EstBytesPerSession)
      val width = math.max(1, requiredSchema.defaultSize)
      val bytes = if (rows == 0L) 0L else math.max(1L, rows * width)
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      }
  }

  override def readSchema(): StructType = requiredSchema

  override def description(): String =
    s"KdcScan path=$path, ReadSchema: ${requiredSchema.fieldNames.mkString("[", ",", "]")}, " +
      s"PushedFilters: ${effectiveFilters.mkString("[", ", ", "]")}"

  override def toBatch: Batch =
    new KdcBatch(path, options, partKeys, requiredSchema, effectiveFilters,
      plannerListing, pushedLimit, pushedTopN)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KdcMicroBatchStream(path, options, partKeys, requiredSchema, effectiveFilters,
      checkpointLocation)
}

object KdcBatch {
  /** Conservative decode-expansion factor for splittable-compressed
    * text logs (the scale probe measured ~28× on a synthetic KDC log;
    * 16 keeps derived splits within ~2× of the uncompressed target
    * even on less-compressible corpora). */
  private[v2] val CompressedExpansionFactor = 16L
  /** Uncompressed per-task volume target — Spark's default
    * `spark.sql.files.maxPartitionBytes` spirit. */
  private[v2] val TargetUncompressedSplitBytes = 128L << 20
  /** Floor: roughly one compressed bzip2 block plus probe slack; finer
    * splits only add per-task probe overhead. */
  private[v2] val MinCompressedSplitBytes = 256L << 10

  /** Derived split bound for a group of splittable-compressed files
    * when the caller set none: small enough that decode parallelism
    * survives the expansion factor, large enough to use the cluster on
    * the largest single file, never below one block. */
  private[kdc] def defaultCompressedSplitBytes(largest: Long, parallelism: Int): Long =
    math.max(MinCompressedSplitBytes,
      math.min(TargetUncompressedSplitBytes / CompressedExpansionFactor,
        math.max(1L, largest / math.max(1, parallelism))))

  /** FileInputFormat's split-slop: the final chunk may run up to 10%
    * over the split size rather than spawn a sliver task. */
  private val SplitSlop = 1.1

  /** Plan the connector partitions for `inputPaths` (driver-side):
    * list (block locations ride along — no per-file namenode
    * round-trips), prune whole files via partition-path predicates,
    * then chunk byte ranges exactly as FileInputFormat would —
    * splittable files (uncompressed or splittable-codec) at
    * `max(minSize, min(maxSize, blockSize))` with the 1.1 slop,
    * non-splittable codecs whole-file; splittable-COMPRESSED files get
    * a derived maxSize (see [[defaultCompressedSplitBytes]]) unless
    * the caller set an explicit bound — and pack the ranges into
    * partitions ([[pack]]). `tablePath` anchors
    * partition-segment extraction (it may differ from `inputPaths` in
    * the streaming case, where fresh files are planned individually). */
  private[v2] def planSplits(inputPaths: Seq[Path], options: Map[String, String],
                             tablePath: String, partKeys: Seq[String],
                             filters: Array[Filter]): Array[InputPartition] = {
    val conf = KdcLogTable.hadoopConf(options)
    val recursive = options.get("recursive").exists(_.toBoolean)
    val files = inputPaths.flatMap(p =>
      KdcFileLayout.listFiles(p.toString, recursive, conf, strict = true))
    splitsForListed(files, options, tablePath, partKeys, filters)
  }

  /** The files of `files` whose partition-path values pass the
    * partition-only predicates among `filters`, each with its values.
    * A predicate over partition columns only holds the same verdict
    * for every row of a file, so UNKNOWN/FALSE files are skipped
    * without being opened. `tablePath` anchors segment extraction. */
  private[v2] def prunedFiles(files: Seq[KdcFileLayout.KdcFileMeta], tablePath: String,
                              partKeys: Seq[String], filters: Array[Filter],
                              conf: Configuration)
      : Seq[(KdcFileLayout.KdcFileMeta, Map[String, String])] = {
    val partOnly = filters.toSeq.filter(f =>
      f.references.nonEmpty && f.references.forall(partKeys.contains))
    val values = KdcFileLayout.partValuesAll(tablePath, files.map(_.path), partKeys, conf)
    files.map(st => st -> values(st.path))
      .filter { case (_, v) => KdcFilterEval.matchesPartition(partOnly, v) }
  }

  /** [[planSplits]] minus the walk — for callers that already hold the
    * listing (schema inference's snapshot in the batch path; the
    * trigger's listing in the streaming path). */
  private[v2] def splitsForListed(files: Seq[KdcFileLayout.KdcFileMeta],
                                  options: Map[String, String],
                                  tablePath: String, partKeys: Seq[String],
                                  filters: Array[Filter]): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = KdcLogTable.hadoopConf(options)
    val kept = prunedFiles(files, tablePath, partKeys, filters, conf)

    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    def splittable(p: Path) = graft.kdc.KdcSessionInputFormat.splittable(codecs, p)
    def isSplittableCompressed(p: Path) = codecs.getCodec(p) != null && splittable(p)

    val minSize = conf.getLong("mapreduce.input.fileinputformat.split.minsize", 1L)
    val explicitMax = Option(conf.get("mapreduce.input.fileinputformat.split.maxsize"))
      .map(_.toLong)
    val compressedSplittable = kept.map(_._1).filter(st => isSplittableCompressed(st.path))
    val derivedCompressedMax =
      if (compressedSplittable.isEmpty) None
      else Some(defaultCompressedSplitBytes(compressedSplittable.map(_.len).max,
        spark.sparkContext.defaultParallelism))

    val perFile: Seq[Seq[KdcRange]] = kept.map { case (st, values) =>
      val path = st.path
      val len = st.len
      def hosts(offset: Long): Seq[String] = {
        val blocks = st.blocks
        if (blocks == null || blocks.isEmpty) Seq.empty
        else {
          val i = blocks.indexWhere(b =>
            offset >= b.getOffset && offset < b.getOffset + b.getLength)
          // an offset no block covers gets NO locality hint — block 0's
          // hosts would be a wrong hint, strictly worse than none
          if (i < 0) Seq.empty
          else Option(blocks(i).getHosts).map(_.toSeq).getOrElse(Seq.empty)
        }
      }
      if (len == 0 || !splittable(path))
        Seq(KdcRange(path.toString, 0, len, hosts(0), values))
      else {
        val maxSize = explicitMax.orElse(
          if (isSplittableCompressed(path)) derivedCompressedMax else None)
          .getOrElse(Long.MaxValue)
        val splitSize = math.max(minSize, math.min(maxSize, st.blockSize))
        val out = scala.collection.mutable.ArrayBuffer[KdcRange]()
        var remaining = len
        while (remaining.toDouble / splitSize > SplitSlop) {
          val start = len - remaining
          out += KdcRange(path.toString, start, splitSize, hosts(start), values)
          remaining -= splitSize
        }
        if (remaining != 0) {
          val start = len - remaining
          out += KdcRange(path.toString, start, remaining, hosts(start), values)
        }
        out.toSeq
      }
    }

    val sql = org.apache.spark.sql.internal.SQLConf.get
    pack(perFile, sql.filesMaxPartitionBytes, sql.filesOpenCostInBytes,
      sql.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism))
  }

  /** Pack each file's planned ranges into input partitions by Spark's
    * file-source rule (`FilePartition.getFilePartitions`): a range
    * costs its length plus `openCost`, partitions hold at most
    * `min(maxPartitionBytes, max(openCost, Σ(length + openCost) / minPartitions))`,
    * and ranges fill them next-fit by decreasing length. The one
    * departure: every range of a file the planner cut into several
    * stays alone in its partition, because the split bound already
    * sized it to one task — for bzip2 in compressed bytes that decode
    * ~16× larger, so packing would undo block-parallel decode. A fleet
    * of small files therefore runs about `minPartitions` tasks, not one
    * per file, and packing changes no range: each is planned exactly
    * once. */
  private[v2] def pack(perFile: Seq[Seq[KdcRange]], maxPartitionBytes: Long,
                       openCost: Long, minPartitions: Int): Array[InputPartition] = {
    val total = perFile.iterator.flatten.map(_.length + openCost).sum
    val target = math.min(maxPartitionBytes,
      math.max(openCost, total / minPartitions))
    val (whole, cut) = perFile.partition(_.size == 1)
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    cut.flatten.foreach(r => out += KdcInputPartition(Seq(r)))
    val current = scala.collection.mutable.ArrayBuffer[KdcRange]()
    var size = 0L
    def close(): Unit = if (current.nonEmpty) {
      out += KdcInputPartition(current.toSeq)
      current.clear()
      size = 0L
    }
    whole.flatten.sortBy(-_.length).foreach { r =>
      if (size + r.length > target) close()
      current += r
      size += r.length + openCost
    }
    close()
    out.toArray
  }
}

class KdcBatch(path: String, options: Map[String, String], partKeys: Seq[String],
               requiredSchema: StructType, filters: Array[Filter],
               listingSnapshot: Option[Seq[KdcFileLayout.KdcFileMeta]] = None,
               limit: Option[Int] = None,
               topN: Option[KdcTopN] = None)
    extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    listingSnapshot match {
      // schema inference already walked the fleet — plan from its
      // snapshot (one walk per query; snapshot-at-load semantics)
      case Some(files) =>
        KdcBatch.splitsForListed(files, options, path, partKeys, filters)
      case None =>
        KdcBatch.planSplits(Seq(new Path(path)), options, path, partKeys, filters)
    }
  override def createReaderFactory(): PartitionReaderFactory =
    KdcReaderFactory(KdcLogTable.readerConf(options), requiredSchema.fieldNames,
      // partition-only predicates are fully applied at planning (file
      // granularity is exact for them); readers evaluate the rest
      filters.filterNot(f =>
        f.references.nonEmpty && f.references.forall(partKeys.contains)),
      limit, topN)
}

/** One byte range of one log file, carrying the hosts of the block it
  * starts in and the file's partition-column values. */
case class KdcRange(path: String, start: Long, length: Long,
                    hosts: Seq[String],
                    partValues: Map[String, String])

/** The ranges one task reads, in order (serializable — shipped to
  * executors): one range of a split file, or a pack of whole small
  * files ([[KdcBatch.pack]]). */
case class KdcInputPartition(ranges: Seq[KdcRange]) extends InputPartition {
  /** The hosts holding the most of this partition's bytes, at most 3 —
    * Spark's `FilePartition` rule. */
  override def preferredLocations(): Array[String] =
    ranges.flatMap(r => r.hosts.filter(_ != "localhost").map(_ -> r.length))
      .groupMapReduce(_._1)(_._2)(_ + _)
      .toSeq.sortBy { case (host, bytes) => (-bytes, host) }
      .take(3).map(_._1).toArray
}

case class KdcReaderFactory(
    confBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    fieldNames: Array[String],
    filters: Array[Filter],
    limit: Option[Int] = None,
    topN: Option[KdcTopN] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KdcPartitionReader(partition.asInstanceOf[KdcInputPartition],
      confBc.value.value, fieldNames, filters, limit, topN)
}

/** Executor-side reader: one record iterator over the partition's
  * ranges. Ranges open lazily, in order; each range's owned lines
  * (the split-aligned session reader) fold alone with the shared
  * [[Sessionizer]], so no session state crosses a range. The pushed
  * predicates evaluate on the TYPED record with that range's partition
  * values, and only the pruned columns materialize. The Configuration
  * is the broadcast session conf + reader options
  * ([[KdcLogTable.readerConf]]) — shared read-only across this
  * executor's tasks. */
class KdcPartitionReader(part: KdcInputPartition,
                         conf: Configuration,
                         fieldNames: Array[String],
                         filters: Array[Filter],
                         limit: Option[Int] = None,
                         topN: Option[KdcTopN] = None)
    extends PartitionReader[InternalRow] {

  private var emitted: Long = 0L
  /** The session reader of the range being read; opening the next
    * range closes it. */
  private var reader: graft.kdc.KdcSessionReader = _
  /** One task context for every range: building one copies the whole
    * Configuration into a fresh `JobConf`. */
  private lazy val context = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
    conf, new org.apache.hadoop.mapreduce.TaskAttemptID())

  private def open(r: KdcRange): Iterator[String] = {
    if (reader != null) reader.close()
    Option(KdcPartitionReader.openTap.get).foreach(_.add(r.path))
    val split = new FileSplit(new Path(r.path), r.start, r.length, null)
    reader = new graft.kdc.KdcSessionReader
    reader.initialize(split, context)
    reader.lines
  }

  /** Base-field extractors; null marks a partition column, read from
    * the row's range. */
  private val extractors: Array[KdcLogRecord => Any] =
    fieldNames.map(f =>
      if (KdcLogTable.baseFieldNames(f)) KdcFilterEval.extractor(f) else null)
  private var current: InternalRow = _

  private def buildRow(rec: KdcLogRecord, range: KdcRange): InternalRow = {
    val vals = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) {
      val x = extractors(i)
      val v = if (x != null) x(rec) else range.partValues.getOrElse(fieldNames(i), null)
      vals(i) = v match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  private val matching: Iterator[(KdcLogRecord, KdcRange)] =
    part.ranges.iterator.flatMap { r =>
      Sessionizer.sessionize(open(r))
        .filter(KdcFilterEval.matches(filters, _, r.partValues))
        .map(_ -> r)
    }

  /** One LIMIT quota and one top-N heap per partition. Partial top-N
    * pushdown parses every range once into a bounded n-record heap
    * ordered by ts (see [[KdcScanBuilder.pushTopN]] for why
    * parse-all-keep-n rather than early-stop). Partial LIMIT pushdown
    * stops after its quota WITHOUT opening further ranges or reading
    * further bytes (Spark re-applies the global limit, so
    * over-per-partition is the only contract needed). */
  private val records: Iterator[(KdcLogRecord, KdcRange)] = topN match {
    case None => matching.take(limit.getOrElse(Int.MaxValue))
    case Some(t) => KdcPartitionReader.top(matching, t)
  }

  override def next(): Boolean = records.hasNext && {
    val (rec, range) = records.next()
    current = buildRow(rec, range)
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    Option(KdcPartitionReader.emitTap.get).foreach(_.addAndGet(emitted))
    if (reader != null) reader.close()
  }
}

/** The reader's top-N selection, and test-only observability taps:
  * `null` (the default) costs one volatile read per reader OPEN/CLOSE
  * — never per row. Specs install a sink, run, read it back, and
  * uninstall; nothing accumulates when no tap is set, so a long-lived
  * session carries no growth. */
object KdcPartitionReader {
  /** When set, every range a reader opens records its file path. */
  val openTap = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.ConcurrentLinkedQueue[String]](null)
  /** When set, every reader close adds its emitted-session count. */
  val emitTap = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.atomic.AtomicLong](null)

  /** The `t.n` best records of `recs` (each with its range) by ts per
    * the pushed SortOrder, in no particular order: partial pushdown
    * keeps Spark's global sort-and-limit on top. */
  private def top(recs: Iterator[(KdcLogRecord, KdcRange)],
                  t: KdcTopN): Iterator[(KdcLogRecord, KdcRange)] = {
    // "better-first" total order on ts
    val better = new java.util.Comparator[(KdcLogRecord, KdcRange)] {
      override def compare(a: (KdcLogRecord, KdcRange), b: (KdcLogRecord, KdcRange)): Int = {
        val (ta, tb) = (a._1.ts, b._1.ts)
        if (ta == null && tb == null) 0
        else if (ta == null) { if (t.nullsFirst) -1 else 1 }
        else if (tb == null) { if (t.nullsFirst) 1 else -1 }
        else { val c = ta.compareTo(tb); if (t.asc) c else -c }
      }
    }
    // root = WORST retained row: evict it when a better one arrives
    val heap = new java.util.PriorityQueue[(KdcLogRecord, KdcRange)](
      math.max(t.n, 1), better.reversed())
    recs.foreach { rec =>
      if (heap.size < t.n) heap.offer(rec)
      else if (better.compare(rec, heap.peek) < 0) { heap.poll(); heap.offer(rec) }
    }
    heap.iterator().asScala
  }
}

/** Exact evaluation of pushed `sources.Filter`s against a typed
  * [[KdcLogRecord]] (plus the file's partition-column values), with
  * SQL ternary null semantics (a comparison on a null field is
  * UNKNOWN — the row is filtered, and `Not(UNKNOWN)` stays UNKNOWN).
  * Only filters [[supports]] accepts are pushed, so evaluation here is
  * total. String comparisons are lexical — which for the fixed-width
  * ISO `ts` field IS chronological order (`KDCLogRecord.java:249`),
  * making ts range predicates pushable; partition values are plain
  * strings, so the same holds for `day=YYYY-MM-DD` layouts. */
private[v2] object KdcFilterEval {

  private[v2] def extractor(field: String): KdcLogRecord => Any = field match {
    case "valid" => r => r.valid
    case "ts" => r => r.ts
    case "req_type" => r => r.req_type
    case "error_class" => r => r.error_class
    case "client" => r => r.client
    case "crealm" => r => r.crealm
    case "service" => r => r.service
    case "srealm" => r => r.srealm
    case "client_ip" => r => r.client_ip
    case "success" => r => r.success
    case "referral" => r => r.referral
    case "error" => r => r.error
    case "preauth_enctype" => r => r.preauth_enctype
    case "supported_enctypes" => r => r.supported_enctypes
    case "used_enctype" => r => r.used_enctype
    case other => throw new IllegalArgumentException(s"unknown field $other")
  }

  def supports(fields: Set[String], f: Filter): Boolean = f match {
    case sources.EqualTo(a, v) => fields(a) && v != null
    case sources.In(a, vs) => fields(a) && vs != null && !vs.contains(null)
    case sources.GreaterThan(a, v: String) => fields(a)
    case sources.GreaterThanOrEqual(a, v: String) => fields(a)
    case sources.LessThan(a, v: String) => fields(a)
    case sources.LessThanOrEqual(a, v: String) => fields(a)
    case sources.IsNull(a) => fields(a)
    case sources.IsNotNull(a) => fields(a)
    case sources.StringStartsWith(a, _) => fields(a)
    case sources.StringContains(a, _) => fields(a)
    case sources.Not(child) => supports(fields, child)
    case sources.And(l, r) => supports(fields, l) && supports(fields, r)
    case sources.Or(l, r) => supports(fields, l) && supports(fields, r)
    case _ => false
  }

  /** Row-level: base fields resolve from the typed record, partition
    * fields from the file's path values. */
  def matches(filters: Array[Filter], rec: KdcLogRecord,
              part: Map[String, String]): Boolean = {
    val lookup: String => Any = a =>
      if (KdcLogTable.baseFieldNames(a)) extractor(a)(rec)
      else part.getOrElse(a, null)
    filters.forall(f => eval(f, lookup) eq java.lang.Boolean.TRUE)
  }

  /** File-level: every row of the file shares these partition values,
    * so a partition-only predicate that is FALSE or UNKNOWN rejects
    * the whole file — exact, not advisory. Callers pass only filters
    * whose references are all partition keys. */
  def matchesPartition(partOnlyFilters: Seq[Filter],
                       part: Map[String, String]): Boolean = {
    val lookup: String => Any = a => part.getOrElse(a, null)
    partOnlyFilters.forall(f => eval(f, lookup) eq java.lang.Boolean.TRUE)
  }

  /** Three-valued evaluation: TRUE / FALSE / null (UNKNOWN). */
  private def eval(f: Filter, value: String => Any): java.lang.Boolean = f match {
    case sources.EqualTo(a, v) =>
      val x = value(a)
      if (x == null) null else java.lang.Boolean.valueOf(x == v)
    case sources.In(a, vs) =>
      val x = value(a)
      if (x == null) null else java.lang.Boolean.valueOf(vs.contains(x))
    case sources.GreaterThan(a, v: String) => cmp(a, value, _ > 0, v)
    case sources.GreaterThanOrEqual(a, v: String) => cmp(a, value, _ >= 0, v)
    case sources.LessThan(a, v: String) => cmp(a, value, _ < 0, v)
    case sources.LessThanOrEqual(a, v: String) => cmp(a, value, _ <= 0, v)
    case sources.IsNull(a) =>
      java.lang.Boolean.valueOf(value(a) == null)
    case sources.IsNotNull(a) =>
      java.lang.Boolean.valueOf(value(a) != null)
    case sources.StringStartsWith(a, prefix) =>
      val x = value(a)
      if (x == null) null
      else java.lang.Boolean.valueOf(x.asInstanceOf[String].startsWith(prefix))
    case sources.StringContains(a, needle) =>
      val x = value(a)
      if (x == null) null
      else java.lang.Boolean.valueOf(x.asInstanceOf[String].contains(needle))
    case sources.Not(child) =>
      val b = eval(child, value)
      if (b == null) null else java.lang.Boolean.valueOf(!b.booleanValue())
    case sources.And(l, r) =>
      (eval(l, value), eval(r, value)) match {
        case (java.lang.Boolean.FALSE, _) | (_, java.lang.Boolean.FALSE) =>
          java.lang.Boolean.FALSE
        case (null, _) | (_, null) => null
        case _ => java.lang.Boolean.TRUE
      }
    case sources.Or(l, r) =>
      (eval(l, value), eval(r, value)) match {
        case (java.lang.Boolean.TRUE, _) | (_, java.lang.Boolean.TRUE) =>
          java.lang.Boolean.TRUE
        case (null, _) | (_, null) => null
        case _ => java.lang.Boolean.FALSE
      }
    case other =>
      throw new IllegalStateException(s"unsupported pushed filter $other")
  }

  private def cmp(a: String, value: String => Any, ok: Int => Boolean,
                  v: String): java.lang.Boolean = {
    val x = value(a)
    if (x == null) null
    else java.lang.Boolean.valueOf(ok(x.asInstanceOf[String].compareTo(v)))
  }
}

/** Streaming offset: just the high-water micro-batch id. The files a
  * batch admitted live in the checkpoint's batchId-keyed manifest log
  * ([[KdcFileManifest]]), so the offset JSON the engine re-serializes
  * into every trigger's offset log is O(1) — a fleet that has tailed
  * millions of files carries an integer, not the file list (the
  * unbounded-offset growth FileStreamSource-style map offsets have). */
case class KdcBatchOffset(batchId: Long) extends Offset {
  override def json(): String = s"""{"batchId":$batchId}"""
}

object KdcBatchOffset {
  def fromJson(json: String): KdcBatchOffset = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val m = org.json4s.jackson.Serialization.read[Map[String, Long]](json)
    m.get("batchId").map(KdcBatchOffset(_)).getOrElse(
      throw new IllegalStateException(
        "kdclog: offset JSON carries no batchId — this checkpoint predates the " +
          s"batch-id offset format (legacy file-map offsets are not readable); start " +
          s"a fresh checkpoint. Offset was: ${json.take(200)}"))
  }
}

/** BatchId-keyed manifest of admitted files under the source's own
  * checkpoint location: file `<dir>/<batchId>` holds the JSON map
  * `path -> modification time` of exactly the files that batch
  * admitted — a delta, not a cumulative snapshot, so replay of batch
  * N reads one file. Membership reads the keys alone, so a checkpoint
  * of any vintage resumes the same way (older writers stored file
  * lengths as the values, and stamped a `_format` file that `load()`
  * and `clean()` leave alone).
  * Every 10 batches (the stream's `CompactInterval`) the stream
  * also writes `<batchId>.compact` — the FULL seen-file set at that
  * id — and retires deltas already covered by the PREVIOUS snapshot
  * (kept, so the replayable delta window always spans at least one
  * full interval; the engine only ever replays its most recent
  * uncommitted batch). Restart load cost is therefore one snapshot
  * plus the recent deltas, and the manifest file count stays bounded
  * at ~2×interval + 2 instead of growing with every batch the tail
  * has ever run. Writes are atomic (temp + rename) and idempotent per
  * id: after a crash between manifest write and the engine's
  * offset-log write, the orphan id is overwritten by the next
  * admission. */
private[v2] object KdcFileManifest {
  /** Loaded manifest state: delta entries and compact snapshots,
    * batchId-ascending. */
  final case class State(
      deltas: scala.collection.immutable.SortedMap[Long, Map[String, Long]],
      snaps: scala.collection.immutable.SortedMap[Long, Map[String, Long]])
}

private[v2] class KdcFileManifest(dir: Path, conf: Configuration) {
  private implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
  private val fs = dir.getFileSystem(conf)

  private def readMap(p: Path): Map[String, Long] = {
    val in = fs.open(p)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    finally in.close()
    org.json4s.jackson.Serialization.read[Map[String, Long]](
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** All manifest state on disk — see [[KdcFileManifest.State]]. */
  def load(): KdcFileManifest.State = {
    val empty = scala.collection.immutable.SortedMap.empty[Long, Map[String, Long]]
    if (!fs.exists(dir)) return KdcFileManifest.State(empty, empty)
    val deltas = scala.collection.immutable.SortedMap.newBuilder[Long, Map[String, Long]]
    val snaps = scala.collection.immutable.SortedMap.newBuilder[Long, Map[String, Long]]
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.forall(_.isDigit))
        deltas += name.toLong -> readMap(st.getPath)
      else if (st.isFile && name.endsWith(".compact") &&
               name.stripSuffix(".compact").forall(_.isDigit))
        snaps += name.stripSuffix(".compact").toLong -> readMap(st.getPath)
    }
    KdcFileManifest.State(deltas.result(), snaps.result())
  }

  private def writeAtomic(target: Path, json: String): Unit = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".${target.getName}.tmp")
    val outStream = fs.create(tmp, true)
    try outStream.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally outStream.close()
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"kdclog: failed to commit manifest $target")
  }

  /** Atomically (over)write the delta manifest for `batchId`. */
  def write(batchId: Long, files: Map[String, Long]): Unit =
    writeAtomic(new Path(dir, batchId.toString),
      org.json4s.jackson.Serialization.write(files))

  /** Atomically (over)write the full-seen-set snapshot for `batchId`. */
  def writeSnapshot(batchId: Long, files: Map[String, Long]): Unit =
    writeAtomic(new Path(dir, s"$batchId.compact"),
      org.json4s.jackson.Serialization.write(files))

  /** Retire deltas at or below `coveredId` (they are covered by the
    * snapshot at that id) and snapshots strictly below it. */
  def clean(coveredId: Long): Unit = {
    if (!fs.exists(dir)) return
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val stale =
        (name.forall(_.isDigit) && name.toLong <= coveredId) ||
          (name.endsWith(".compact") &&
            name.stripSuffix(".compact").forall(_.isDigit) &&
            name.stripSuffix(".compact").toLong < coveredId)
      if (st.isFile && stale) fs.delete(st.getPath, false)
    }
  }
}

/** Micro-batch stream over a growing KDC log directory: each batch
  * admits the (lexically ordered) files not yet recorded in the
  * manifest log at or below the start offset, bounded by
  * `maxFilesPerTrigger` when set, and plans them through the SAME
  * split-aligned partitions, pushed predicates, and pruned schema as
  * the batch scan. Offsets are O(1) batch ids ([[KdcBatchOffset]]);
  * the admitted-file deltas live in the source's checkpoint-scoped
  * [[KdcFileManifest]], so neither the offset log nor the per-trigger
  * offset JSON grows with the file count. Implements
  * [[SupportsTriggerAvailableNow]] so `Trigger.AvailableNow` replays a
  * backlog in multiple bounded batches (the engine's generic wrapper
  * would jump to the prepared end in one batch, defeating the
  * admission bound).
  *
  * Fleet-scale bounds: [[KdcFileLayout.listFiles]] is ONE driver-side
  * directory walk per trigger — `latestOffset` refreshes the listing,
  * `reportLatestOffset` and `planInputPartitions` reuse that trigger's
  * snapshot (fresh files carry their listed metadata straight into
  * split planning, so no per-file re-listing either) — O(dirs)
  * namenode RPC per trigger, the FileStreamSource posture; an
  * AvailableNow run walks once, at prepare. The in-memory seen-file
  * set is O(files ever admitted): exactly-once admission with
  * unbounded state. Compaction bounds the manifest's file count, not
  * the seen set. */
class KdcMicroBatchStream(path: String, options: Map[String, String],
                          partKeys: Seq[String],
                          requiredSchema: StructType, filters: Array[Filter],
                          checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val maxFilesPerTrigger: Option[Int] =
    options.get("maxFilesPerTrigger").map(_.toInt)

  private val recursive = options.get("recursive").exists(_.toBoolean)

  /** Write a full-seen-set snapshot (and retire covered deltas) every
    * this many batches. */
  private val CompactInterval = 10

  private val manifest = new KdcFileManifest(
    new Path(checkpointLocation, "kdc-file-manifest"),
    SparkSession.active.sparkContext.hadoopConfiguration)

  /** Manifest state (delta entries + compact snapshots), lazily
    * restored from the checkpoint once per stream instance. */
  private var deltas: scala.collection.immutable.SortedMap[Long, Map[String, Long]] = _
  private var snaps: scala.collection.immutable.SortedMap[Long, Map[String, Long]] = _
  private def ensureLoaded(): Unit = synchronized {
    if (deltas == null) {
      val st = manifest.load()
      deltas = st.deltas; snaps = st.snaps
    }
  }

  /** Every file admitted at or below batch `b`: the newest snapshot at
    * or below `b`, plus the deltas after it. */
  private def seenUpTo(b: Long): Map[String, Long] = {
    val snap = snaps.rangeTo(b).lastOption
    val base = snap.map(_._2).getOrElse(Map.empty[String, Long])
    deltas.range(snap.map(_._1).getOrElse(-1L) + 1, b + 1)
      .valuesIterator.foldLeft(base)(_ ++ _)
  }

  /** Bound captured by prepareForTriggerAvailableNow: files visible at
    * query start; AvailableNow batches never admit past it. */
  @volatile private var prepared: Option[Map[String, KdcFileLayout.KdcFileMeta]] = None

  /** The most recent trigger's listing — `latestOffset` refreshes it,
    * `reportLatestOffset`/`planInputPartitions` reuse it (one walk per
    * trigger; see the class scaladoc). */
  @volatile private var lastListing: Option[Map[String, KdcFileLayout.KdcFileMeta]] = None

  /** Walk the visible log files ([[KdcFileLayout.listFiles]]:
    * file/dir/glob + recursive, hidden names skipped at every level)
    * and record the snapshot for this trigger's other callers.
    * Lenient — a tailed directory may not exist yet. */
  private def refreshListing(): Map[String, KdcFileLayout.KdcFileMeta] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val m = KdcFileLayout.listFiles(path, recursive, conf, strict = false)
      .map(st => st.path.toString -> st).toMap
    lastListing = Some(m)
    m
  }

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    prepared = Some(refreshListing())
  }

  override def initialOffset(): Offset = KdcBatchOffset(-1L)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val startId = start.asInstanceOf[KdcBatchOffset].batchId
    ensureLoaded()
    // manifest ids above the start offset are orphans of a run that
    // crashed between manifest write and the engine's offset-log
    // write — drop them; the next admission overwrites their files
    deltas = deltas.rangeTo(startId)
    snaps = snaps.rangeTo(startId)
    val seen = seenUpTo(startId)
    val fresh = prepared.getOrElse(refreshListing()).iterator
      .collect { case (p, st) if !seen.contains(p) => p -> st.modTime }
      .toSeq.sortBy(_._1)
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    if (admitted.isEmpty) KdcBatchOffset(startId)
    else {
      val id = startId + 1
      manifest.write(id, admitted.toMap)
      deltas = deltas + (id -> admitted.toMap)
      if (id > 0 && id % CompactInterval == 0) {
        val full = seen ++ admitted
        manifest.writeSnapshot(id, full)
        val prev = snaps.rangeTo(id - 1).lastOption.map(_._1)
        snaps = snaps + (id -> full)
        // retire what the PREVIOUS snapshot already covers, keeping
        // that snapshot itself so the replayable delta window always
        // spans at least one full interval
        prev.foreach { p =>
          manifest.clean(p)
          deltas = deltas.rangeFrom(p + 1)
          snaps = snaps.rangeFrom(p)
        }
      }
      KdcBatchOffset(id)
    }
  }

  /** Latest AVAILABLE offset, for source-lag metrics: the id the
    * stream would reach if it admitted the whole visible backlog now
    * (admission-bounded by maxFilesPerTrigger) — reporting only the
    * last ADMITTED id would read as zero backlog no matter how far
    * behind the tail is. */
  override def reportLatestOffset(): Offset = synchronized {
    ensureLoaded()
    val high = (deltas.lastOption.map(_._1) ++ snaps.lastOption.map(_._1))
      .foldLeft(-1L)(math.max)
    val seen = seenUpTo(high)
    // reuse this trigger's listing (latestOffset just refreshed it);
    // only a metrics call arriving before any trigger walks itself
    val visible = prepared.orElse(lastListing).getOrElse(refreshListing())
    val freshCount = visible.keysIterator.count(p => !seen.contains(p)).toLong
    val pendingBatches =
      if (freshCount == 0L) 0L
      else maxFilesPerTrigger.map(m => (freshCount + m - 1L) / m).getOrElse(1L)
    KdcBatchOffset(high + pendingBatches)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KdcBatchOffset].batchId
    val e = end.asInstanceOf[KdcBatchOffset].batchId
    if (e <= s) return Array.empty
    ensureLoaded()
    val have = synchronized(deltas)
    val missing = (s + 1).to(e).filterNot(have.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"kdclog: manifest entries ${missing.mkString(",")} absent under " +
          s"$checkpointLocation — checkpoint is damaged, predates the batch-id " +
          "offset format, or the replay reaches behind the compaction window")
    val fresh = have.range(s + 1, e + 1).valuesIterator
      .flatMap(_.keysIterator).toSeq.sorted
    if (fresh.isEmpty) Array.empty
    else {
      // fresh files usually carry their metadata in this trigger's
      // listing — plan from it directly (no per-file re-listing, and
      // consistent with the admitted state even if a file changed
      // since). Restart replay plans from a fresh stream instance
      // whose listing is empty — those fall back to per-file listing.
      val known = prepared.orElse(lastListing).getOrElse(Map.empty)
      val conf = KdcLogTable.hadoopConf(options)
      val metas = fresh.map { p =>
        known.getOrElse(p,
          KdcFileLayout.listFiles(p, recursive = false, conf, strict = true) match {
            case Seq(one) => one
            case other => throw new IllegalStateException(
              s"kdclog: admitted file $p resolved to ${other.size} files on replay")
          })
      }
      KdcBatch.splitsForListed(metas, options, path, partKeys, filters)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KdcReaderFactory(KdcLogTable.readerConf(options), requiredSchema.fieldNames,
      filters.filterNot(f =>
        f.references.nonEmpty && f.references.forall(partKeys.contains)))

  override def deserializeOffset(json: String): Offset = KdcBatchOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
