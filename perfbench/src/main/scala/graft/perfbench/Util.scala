package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer: numbers, strings, booleans, maps and sequences. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Host context: CPU steal from /proc/stat, heap after GC, disk use. */
object Host {
  /** (steal, total) jiffies. Only the first 8 fields are summed: guest
    * and guest_nice are already included in user and nice. */
  def cpuTimes(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1)
        .map(_.toLong).take(8)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble

  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally s.close()
    }
  }

  def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((x: Path) =>
        Files.deleteIfExists(x))
      finally s.close()
    }
  }

  def mkdirs(dir: String): String = { new File(dir).mkdirs(); dir }
}
