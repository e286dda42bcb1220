package perfbench

import java.nio.file.{Files, Path}

object Io {
  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      scala.util.Using.resource(Files.walk(root)) { s =>
        s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      }

  /** (bytes, files) of the parquet data files under `root`. */
  def parquetSize(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else scala.util.Using.resource(Files.walk(root)) { s =>
      val files = s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    }

  /** Minimal JSON writer for the flat values the benchmark emits. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case m: scala.collection.Seq[_] => m.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** VmHWM (peak resident set) of this process in MiB, -1 if unreadable. */
  def rssPeakMb: Double = try {
    Files.readString(Path.of("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  } catch { case scala.util.control.NonFatal(_) => -1.0 }
}
