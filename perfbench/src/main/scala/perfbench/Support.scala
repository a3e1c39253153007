package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Minimal JSON writer for the harness's result file. */
object Json {
  final class Obj {
    private val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
    def update(k: String, v: Any): Unit = fields(k) = v
    def render: String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
  }

  def value(v: Any): String = v match {
    case o: Obj => o.render
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Order-insensitive result digest. Floating-point values are rounded to
  * six significant digits, so the digest is stable across runs whose
  * partial aggregates merge in a different order. */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => canon(r)).sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) + ":" + canon(x) }
      .toSeq.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else "%.6g".format(d)
}

object Check {
  /** Result directory name for an operation (op names may hold ':'). */
  def fileName(op: String): String = op.replaceAll("[^A-Za-z0-9_.-]", "_")
}

/** Process and JVM readings from /proc and the management beans. */
object Proc {
  /** utime + stime of this process, in clock ticks. */
  def cpuTicks(): Long = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong // fields 14 and 15 of proc(5)
  }

  def jvmStats(): Map[String, Double] = {
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    val jitS = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val hwm = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    Map("gc_s" -> gcS, "jit_s" -> jitS, "heap_after_gc_mb" -> heapAfterGc,
      "rss_peak_mb" -> hwm)
  }
}
