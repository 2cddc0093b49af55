package graft.kdc

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit, LineRecordReader}

/** Split-aligned KDC *session* input: each record is the full text of
  * one multi-line session (all lines up to and including its
  * `sending N bytes` terminator). It is the one reader behind every KDC
  * parse: the `kdclog` table (batch and stream, and the typed
  * [[KdcSource.recordsAligned]] over it) folds the owned lines of
  * [[KdcSessionReader]] straight through [[Sessionizer]], so a single
  * log file larger than one task fans out across tasks (SURVEY.md §7.4
  * #1). A many-file fleet still plans one split per small file, but the
  * table packs those splits into about one task per core
  * ([[graft.kdc.v2.KdcBatch.pack]]).
  *
  * Ownership (exact partition, no loss or duplication; pinned by
  * KdcAlignedSpec and KdcBzip2Spec at adversarial split sizes): Hadoop's
  * `LineRecordReader` hands every line of a file to exactly one of a
  * run of consecutive byte-range splits, for plain files and for
  * splittable codecs (bzip2) alike; a gzip file is one split from 0.
  * A session belongs to the split that owns its FIRST line under that
  * partition, and the owning split reads past its end to finish it
  * (the reference's read-past-split-end, `KDCLogRecordReader.java:162-232`,
  * which handles plain, gzip and splittable bzip2 in one reader). A
  * session cut off by end-of-file is dropped
  * (`KDCLogRecordReader.java:317-320`).
  *
  * No window is configured and lines may be of any length: the probe
  * that finds the line before a split's first line starts at
  * [[KdcSessionInputFormat.ProbeBytes]] and widens ×4 until it holds a
  * whole line.
  */
class KdcSessionInputFormat extends FileInputFormat[LongWritable, Text] {

  override def isSplitable(context: JobContext, file: Path): Boolean =
    KdcSessionInputFormat.splittable(new CompressionCodecFactory(context.getConfiguration), file)

  override def createRecordReader(split: InputSplit, context: TaskAttemptContext)
      : RecordReader[LongWritable, Text] = new KdcSessionReader
}

object KdcSessionInputFormat {
  /** Starting size of the probe window before a split. Plain-text KDC
    * lines are a few hundred bytes, and a bzip2 block of such text
    * compresses to tens of KiB, so one window usually suffices. */
  private[kdc] val ProbeBytes = 64L << 10

  /** A file can be cut into byte-range splits: it has no codec, or a
    * splittable one (bzip2). Any other codec (gzip) is read whole. */
  def splittable(codecs: CompressionCodecFactory, file: Path): Boolean = {
    val codec = codecs.getCodec(file)
    codec == null || codec.isInstanceOf[SplittableCompressionCodec]
  }
}

/** The session reader of one split, composed of three Hadoop
  * `LineRecordReader` segments over the same file:
  *
  *  - MAIN over the split itself. Its lines are the split's own.
  *  - PROBE over a window ending at the split start. Its last line is,
  *    by the line partition, the immediate predecessor of MAIN's first
  *    line. If that predecessor is not a session terminator, the split
  *    begins inside the previous split's last session, and MAIN skips
  *    through its first terminator (the previous split's continuation
  *    reads those lines).
  *  - CONTINUATION over [end, EOF), opened only when MAIN's last line
  *    is not a terminator: it finishes the one session in progress
  *    (exactly the lines the next split skips), then stops.
  *
  * [[lines]] is the owned line stream: MAIN's lines after alignment,
  * then the CONTINUATION lines through the first terminator. Every
  * session of this split starts in it and ends at its terminator, except
  * a trailing partial one that end-of-file cut off, which a fold drops.
  * [[nextKeyValue]] groups the same stream into one session blob per
  * record; use one view or the other, not both.
  */
class KdcSessionReader extends RecordReader[LongWritable, Text] {

  private var context: TaskAttemptContext = _
  private var path: Path = _
  private var end = 0L
  private var main: LineRecordReader = _
  private var cont: LineRecordReader = _
  private var inMain = true
  private var done = false
  private var last: String = null // MAIN's latest line
  private var pending: String = null
  private var sessions = 0L

  private val key = new LongWritable()
  private val value = new Text()

  override def initialize(genericSplit: InputSplit, ctx: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    context = ctx
    path = split.getPath
    end = split.getStart + split.getLength
    main = new LineRecordReader()
    main.initialize(split, ctx)
    if (split.getStart > 0 && !precededByTerminator(split.getStart)) {
      // skip the tail of the previous split's session
      while (!done && (last == null || !LogLine.isSending(last)))
        if (main.nextKeyValue()) last = main.getCurrentValue.toString
        else done = true
    }
  }

  /** Whether the line just before `start`'s first owned line is a
    * session terminator; a file head with no such line counts as one. */
  private def precededByTerminator(start: Long): Boolean = {
    var window = KdcSessionInputFormat.ProbeBytes
    var prev: String = null
    var from = start
    while (prev == null && from > 0L) {
      from = math.max(start - window, 0L)
      val probe = new LineRecordReader()
      probe.initialize(new FileSplit(path, from, start - from, null), context)
      try while (probe.nextKeyValue()) prev = probe.getCurrentValue.toString
      finally probe.close()
      window *= 4 // no whole line in the window: widen
    }
    prev == null || LogLine.isSending(prev)
  }

  /** Stage the next owned line in `pending`; false once there is none. */
  private def advance(): Boolean = {
    if (!done && inMain) {
      if (main.nextKeyValue()) {
        last = main.getCurrentValue.toString
        pending = last
        return true
      }
      inMain = false
      done = last == null || LogLine.isSending(last)
      if (!done) {
        val len = path.getFileSystem(context.getConfiguration).getFileStatus(path).getLen
        done = end >= len
        if (!done) {
          cont = new LineRecordReader()
          cont.initialize(new FileSplit(path, end, len - end, null), context)
        }
      }
    }
    if (!done && cont.nextKeyValue()) {
      pending = cont.getCurrentValue.toString
      done = LogLine.isSending(pending) // the one tail session is complete
      return true
    }
    done = true
    false
  }

  /** The owned lines of this split, in file order. */
  val lines: Iterator[String] = new scala.collection.AbstractIterator[String] {
    override def hasNext: Boolean = pending != null || advance()
    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no owned line left")
      val l = pending
      pending = null
      l
    }
  }

  override def nextKeyValue(): Boolean = {
    val sb = new java.lang.StringBuilder()
    while (lines.hasNext) {
      val l = lines.next()
      if (sb.length() > 0) sb.append('\n')
      sb.append(l)
      if (LogLine.isSending(l)) {
        key.set(sessions)
        sessions += 1
        value.set(sb.toString)
        return true
      }
    }
    false // end of input mid-session: dropped
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value
  override def getProgress: Float = if (main == null) 0.0f else main.getProgress

  override def close(): Unit = {
    try if (main != null) main.close()
    finally if (cont != null) cont.close()
  }
}
