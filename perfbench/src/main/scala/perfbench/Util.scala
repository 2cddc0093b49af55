package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

/** Order-independent digest of a multiset of text lines: the line count
  * and the wrapping sum of each line's 64-bit FNV-1a hash. */
final case class Digest(rows: Long, sum: Long) {
  def hex: String = f"$rows%d:$sum%016x"
}

object Digest {
  def line(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    // fmix64 so that sums of similar lines spread over all bits
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  def ofLines(ls: Iterable[String]): Digest = {
    var n = 0L; var s = 0L
    ls.foreach { l => n += 1; s += line(l) }
    Digest(n, s)
  }

  /** digest of every line of the `part-*` files of a Spark text output */
  def ofTextDir(dir: File): Digest = {
    var n = 0L; var s = 0L
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-")).foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach { l => n += 1; s += line(l) }
        finally src.close()
      }
    Digest(n, s)
  }
}

/** Minimal JSON writer for the result record and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Files {
  def deleteTree(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  /** bytes of the regular files under `root` (0 when it is missing) */
  def treeBytes(root: File): Long =
    if (root.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(root) else 0L
}
