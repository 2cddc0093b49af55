package graft.kdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, Decompressor}
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.hadoop.util.LineReader

/** Split-aligned KDC *session* input: each record is the full text of
  * one multi-line session (all lines up to and including its
  * `sending N bytes` terminator), with byte-level split alignment —
  * the one reader behind every KDC parse: the `kdclog` table (batch
  * and stream, and the typed [[KdcSource.recordsAligned]] over it)
  * takes its sessions from it, so a single log file larger than one task fans out across
  * tasks (SURVEY.md §7.4 #1) and a many-file fleet reads one split per
  * small file.
  *
  * Ownership contract (exact partition, no loss/duplication — pinned
  * by KdcAlignedSpec at adversarial split sizes):
  *  - a session belongs to the split containing its FIRST byte;
  *  - each reader keeps emitting sessions whose first byte ≤ its split
  *    end, reading past the end to finish the last one (the
  *    reference's read-past-split-end, `KDCLogRecordReader.java:221-232`);
  *  - a non-first split aligns by seeking a LOOKBACK window before its
  *    start so every line it classifies is complete, then begins at
  *    the end of the first terminator line whose end offset exceeds
  *    `start` — the exact complement of the previous reader's claim.
  *    (Testing possibly-truncated head fragments instead — what the
  *    reference's `matchSending.find()` would do — silently loses a
  *    session whenever a boundary lands inside a terminator line.)
  *  - a session cut off by end-of-file is dropped
  *    (`KDCLogRecordReader.java:317-320`).
  *
  * Compression: gzip (and any non-splittable codec) is processed
  * one-split-per-file. SPLITTABLE codecs (bzip2) split too — handled
  * by [[KdcSessionSplitCompressedRecordReader]], which composes
  * Hadoop's own `LineRecordReader` segments (whose BYBLOCK line
  * partition across consecutive splits is exact) with a
  * compressed-domain PROBE replacing the byte lookback: seeking
  * backward in a compressed stream is impossible, so the reader
  * decompresses a bounded window before its split to learn one bit —
  * whether the line preceding its first owned line closed a session —
  * and otherwise skips forward to its first terminator, the exact
  * complement of the previous reader's read-past-end. This is the
  * zero-shuffle path for a single multi-GB .bz2 log, the reference's
  * splittable case (`KDCLogRecordReader.java:179-198`).
  *
  * Requires lines shorter than the lookback window
  * (`graft.kdc.lookback.bytes`, default 1 MiB; compressed probe:
  * `graft.kdc.bz2.lookback.bytes`, default 4 MiB — must cover at
  * least one compressed block plus one line, and grows ×4
  * automatically if a window turns out to contain no line).
  */
class KdcSessionInputFormat extends FileInputFormat[LongWritable, Text] {

  override def isSplitable(context: JobContext, file: Path): Boolean = {
    val codec = new CompressionCodecFactory(context.getConfiguration).getCodec(file)
    codec == null ||
      codec.isInstanceOf[org.apache.hadoop.io.compress.SplittableCompressionCodec]
  }

  override def createRecordReader(split: InputSplit, context: TaskAttemptContext)
      : RecordReader[LongWritable, Text] = {
    val path = split.asInstanceOf[FileSplit].getPath
    val codec = new CompressionCodecFactory(context.getConfiguration).getCodec(path)
    if (codec != null &&
        codec.isInstanceOf[org.apache.hadoop.io.compress.SplittableCompressionCodec])
      new KdcSessionSplitCompressedRecordReader
    else new KdcSessionRecordReader
  }
}

/** Session reader for SPLITTABLE compressed files (bzip2).
  *
  * Built on the invariant Hadoop's `LineRecordReader` guarantees for
  * splittable codecs: consecutive byte-range splits [a,b), [b,c) of
  * one file partition its LINES exactly (each line is owned by
  * exactly one range, in order). Three segment readers compose the
  * session semantics:
  *
  *  - MAIN over the split itself: sessions whose first owned line is
  *    here belong to this split.
  *  - PROBE over a bounded window ending at the split start: its last
  *    line is, by the partition invariant, the immediate predecessor
  *    of MAIN's first line. If that predecessor is NOT a session
  *    terminator, the split begins inside the previous split's tail
  *    session, and MAIN skips through its first terminator (those
  *    lines are consumed by the predecessor's continuation).
  *  - CONTINUATION over [end, EOF), opened lazily only when MAIN
  *    exhausts mid-session: finishes the ONE in-progress session
  *    (reading exactly the lines later splits skip), then stops. A
  *    session cut off by end-of-file is dropped, matching the
  *    uncompressed reader and the reference.
  */
class KdcSessionSplitCompressedRecordReader extends RecordReader[LongWritable, Text] {
  import org.apache.hadoop.mapreduce.lib.input.LineRecordReader

  private var context: TaskAttemptContext = _
  private var path: Path = _
  private var end = 0L
  private var fileLen = 0L
  private var main: LineRecordReader = _
  private var cont: LineRecordReader = _
  private var tailMode = false
  private var finished = false
  private var emitted = 0L

  private val key = new LongWritable()
  private val value = new Text()

  override def initialize(genericSplit: InputSplit, ctx: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    context = ctx
    path = split.getPath
    end = split.getStart + split.getLength
    fileLen = path.getFileSystem(ctx.getConfiguration)
      .getFileStatus(path).getLen
    main = new LineRecordReader()
    main.initialize(split, ctx)
    if (split.getStart > 0) alignSkip(split.getStart)
  }

  /** Decide whether this split starts inside the previous split's tail
    * session (probe the predecessor line), and if so skip MAIN forward
    * through its first terminator. */
  private def alignSkip(start: Long): Unit = {
    val conf = context.getConfiguration
    var window = conf.getLong("graft.kdc.bz2.lookback.bytes", 4L << 20)
    var prev: String = null
    var done = false
    while (!done) {
      val p = math.max(start - window, 0L)
      val probe = new LineRecordReader()
      probe.initialize(new FileSplit(path, p, start - p, null), context)
      try {
        while (probe.nextKeyValue()) prev = probe.getCurrentValue.toString
      } finally probe.close()
      if (prev != null || p == 0L) done = true
      else window *= 4 // window held no whole line (giant block/line): widen
    }
    if (prev == null || !LogLine.isSending(prev)) {
      var aligned = false
      while (!aligned) {
        if (!main.nextKeyValue()) { finished = true; aligned = true }
        else if (LogLine.isSending(main.getCurrentValue.toString)) aligned = true
      }
    }
  }

  override def nextKeyValue(): Boolean = {
    if (finished) return false
    // a session must START in the main segment — never in continuation
    if (tailMode || !main.nextKeyValue()) { finished = true; return false }
    key.set(emitted); emitted += 1
    val sb = new java.lang.StringBuilder()
    var line = main.getCurrentValue.toString
    while (true) {
      if (sb.length() > 0) sb.append('\n')
      sb.append(line)
      if (LogLine.isSending(line)) {
        value.set(sb.toString)
        if (tailMode) finished = true // the one tail session is delivered
        return true
      }
      line = nextLine()
      if (line == null) { finished = true; return false } // EOF mid-session: drop
    }
    false
  }

  /** Next line of the in-progress session, switching from MAIN to the
    * lazily-opened CONTINUATION when the split's own lines run out. */
  private def nextLine(): String = {
    if (!tailMode) {
      if (main.nextKeyValue()) return main.getCurrentValue.toString
      tailMode = true
      if (end < fileLen) {
        cont = new LineRecordReader()
        cont.initialize(new FileSplit(path, end, fileLen - end, null), context)
      }
    }
    if (cont != null && cont.nextKeyValue()) cont.getCurrentValue.toString
    else null
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value
  override def getProgress: Float = if (main == null) 0.0f else main.getProgress

  override def close(): Unit = {
    try if (main != null) main.close()
    finally if (cont != null) cont.close()
  }
}

class KdcSessionRecordReader extends RecordReader[LongWritable, Text] {

  private var start = 0L
  private var end = 0L
  private var pos = 0L // absolute offset of the next unread byte
  private var in: LineReader = _
  private var decompressor: Decompressor = _
  private var compressed = false

  private val key = new LongWritable()
  private val value = new Text()
  private val line = new Text()
  private var finished = false

  override def initialize(genericSplit: InputSplit, context: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    val conf: Configuration = context.getConfiguration
    val lookback = conf.getLong("graft.kdc.lookback.bytes", 1L << 20)
    start = split.getStart
    end = start + split.getLength
    val path = split.getPath
    val fs = path.getFileSystem(conf)
    val fileIn: FSDataInputStream = fs.open(path)
    val codec = new CompressionCodecFactory(conf).getCodec(path)

    if (codec != null) {
      // non-splittable codec (gzip): whole file in one split —
      // decompress linearly (splittable codecs take
      // KdcSessionSplitCompressedRecordReader instead)
      decompressor = CodecPool.getDecompressor(codec)
      in = new LineReader(codec.createInputStream(fileIn, decompressor), conf)
      compressed = true
      pos = 0L
      return
    }

    if (start == 0) {
      in = new LineReader(fileIn, conf)
      pos = 0L
      return
    }

    // lookback alignment: every line we classify must be complete
    val seekPos = math.max(start - lookback, 0L)
    fileIn.seek(seekPos)
    in = new LineReader(fileIn, conf)
    pos = seekPos
    if (seekPos > 0) {
      val n = in.readLine(line) // discard the partial line at seekPos
      if (n == 0) { finished = true; return }
      pos += n
    }
    // begin at the end of the first terminator line ending after start
    var aligned = false
    while (!aligned) {
      val n = in.readLine(line)
      if (n == 0) { finished = true; aligned = true }
      else {
        pos += n
        if (pos > start && LogLine.isSending(line.toString)) aligned = true
      }
    }
  }

  override def nextKeyValue(): Boolean = {
    if (finished) return false
    // a session is ours iff its first byte is ≤ end (read-past-end for
    // the final one); compressed files are single-split → no bound
    if (!compressed && pos > end) { finished = true; return false }
    key.set(pos)
    val sb = new java.lang.StringBuilder()
    var complete = false
    while (!complete) {
      val n = in.readLine(line)
      if (n == 0) { finished = true; return false } // EOF mid-session: drop
      pos += n
      val l = line.toString
      if (sb.length() > 0) sb.append('\n')
      sb.append(l)
      complete = LogLine.isSending(l)
    }
    value.set(sb.toString)
    true
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value

  override def getProgress: Float =
    if (end == start) 0.0f
    else math.min(1.0f, (pos - start).toFloat / (end - start))

  override def close(): Unit = {
    try if (in != null) in.close()
    finally if (decompressor != null) CodecPool.returnDecompressor(decompressor)
  }
}
