package graft.kdc

import scala.jdk.CollectionConverters._

import org.apache.hadoop.io.compress.BZip2Codec
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}

/** The by-file fold every entry API runs, without Spark: write each
  * `(name, lines)` file into `dir` (a `.bz2` name is written
  * bzip2-compressed), read the dir through [[KdcSessionInputFormat]] at
  * `maxSplit`-byte splits in (file, offset) order, and fold each session
  * blob alone with [[Sessionizer.sessionize]]. */
object SplitAlignedFiles {

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  def sessionizeByFile(dir: String, files: Seq[(String, Seq[String])],
                       maxSplit: Long = Long.MaxValue): List[KdcLogRecord] = {
    write(dir, files)
    read(dir, maxSplit)
  }

  def write(dir: String, files: Seq[(String, Seq[String])]): Unit = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(root)
    for ((name, ls) <- files) {
      val file = java.nio.file.Files.newOutputStream(root.resolve(name))
      val out = if (!name.endsWith(".bz2")) file else {
        val codec = new BZip2Codec
        codec.setConf(hadoopConf)
        codec.createOutputStream(file)
      }
      try out.write(ls.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    }
  }

  def read(dir: String, maxSplit: Long): List[KdcLogRecord] = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(hadoopConf)
    FileInputFormat.setInputPaths(job, new org.apache.hadoop.fs.Path(dir))
    FileInputFormat.setMaxInputSplitSize(job, maxSplit)
    val format = new KdcSessionInputFormat
    format.getSplits(job).asScala.toList
      .map(_.asInstanceOf[FileSplit])
      .sortBy(s => (s.getPath.getName, s.getStart))
      .flatMap { split =>
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
        val reader = format.createRecordReader(split, ctx)
        reader.initialize(split, ctx)
        try Iterator.continually(reader.nextKeyValue()).takeWhile(identity)
          .flatMap(_ => Sessionizer.sessionize(reader.getCurrentValue.toString.linesIterator))
          .toList
        finally reader.close()
      }
  }
}
