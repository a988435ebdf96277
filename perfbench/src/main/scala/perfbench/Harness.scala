package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Latency summaries: the median plus the highest percentile of a fixed
  * ladder that still has at least [[Stats.TailBeyond]] samples ranked
  * beyond it. */
object Stats {
  val TailBeyond = 10
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  final case class Tail(pct: Double, value: Double, n: Int, defined: Boolean)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def rank(n: Int, pct: Double): Int =
    math.max(1, math.ceil(pct / 100.0 * n - 1e-9).toInt)

  /** The tail rule. With fewer than 2 * TailBeyond samples no ladder entry
    * qualifies; the median is then reported with `defined = false`. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    Ladder.find(p => n - rank(n, p) >= TailBeyond) match {
      case Some(p) => Tail(p, s(rank(n, p) - 1), n, defined = true)
      case None => Tail(50.0, median(s), n, defined = false)
    }
  }
}

/** In-memory span recorder. Spans are recorded only when tracing is on;
  * the calls made are identical either way. Each span carries its parent
  * and the id of the operation it belongs to. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var curOp = -1L
  private val opKinds = mutable.LongMap[String]()
  /** Time spent in the recorder's own bookkeeping. */
  var overheadNs = 0L

  def reset(): Unit = { spans.clear(); opKinds.clear(); overheadNs = 0L }

  /** Root span of one operation: `name` is the op kind. */
  def op[T](id: Long, name: String)(body: => T): T = {
    curOp = id
    if (enabled) opKinds(id) = name
    try span(name)(body) finally curOp = -1L
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val b1 = System.nanoTime()
      try body
      finally {
        val e0 = System.nanoTime()
        spans(id) = Span(id, parent, curOp, name, b1, e0)
        stack = stack.tail
        overheadNs += (b1 - b0) + (System.nanoTime() - e0)
      }
    }

  /** Per operation of `kind`: the summed duration (ms) of its spans named
    * `name`. Operations without such a span are left out. */
  def perOp(name: String, kind: String): Seq[Double] =
    spans.filter(s => s.name == name && opKinds.get(s.op).contains(kind))
      .groupBy(_.op).values.map(_.map(_.ms).sum).toSeq

  /** Median of [[perOp]], or 0 when no operation recorded the span. */
  def medianMs(name: String, kind: String): Double = {
    val xs = perOp(name, kind)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${esc(opKinds.getOrElse(s.op, ""))}",""" +
        s""""name":"${esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One run's measurements: latencies per op kind, failures, layer values. */
final class Recorder(val tracer: Tracer) {
  val latMs = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val passMs = ArrayBuffer[Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val failures = ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  private var nextOp = 0L
  private var curFailed = false
  private var passAcc = 0L

  /** Time one operation. A throw counts the op as failed and yields None. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    nextOp += 1
    curFailed = false
    val t0 = System.nanoTime()
    try {
      val r = tracer.op(nextOp, kind)(body)
      val ns = System.nanoTime() - t0
      latMs.getOrElseUpdate(kind, ArrayBuffer()) += ns / 1e6
      passAcc += ns
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Marks the last operation failed (once) when `ok` is false. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  private def fail(msg: String): Unit = {
    if (!curFailed) { failed += 1; curFailed = true }
    if (failures.size < 20) failures += msg
  }

  /** A check made once at run end; counts as one attempted operation. */
  def runEndCheck(ok: Boolean, what: => String): Unit = {
    attempted += 1
    curFailed = false
    check(ok, what)
  }

  def startPass(): Unit = passAcc = 0L
  def endPass(): Unit = passMs += passAcc / 1e6

  def put(name: String, v: Double): Unit = layer(name) = v
  def add(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v
  def get(name: String): Double = layer.getOrElse(name, 0.0)
  /** One sample of a named series (summarised by [[medianOf]]). */
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer()) += v
  def medianOf(name: String): Double = samples.get(name).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  /** Drops what the warm-up measured; failures and attempts stay counted. */
  def resetMeasurements(): Unit = {
    latMs.clear(); passMs.clear(); layer.clear(); samples.clear(); tracer.reset()
  }
}

/** Host and JVM state, so that a contended run shows in its own record. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def loadAvg: Double = os.getSystemLoadAverage
  def cpuNs: Long = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => -1L
  }
  /** (steal, total) CPU jiffies of the whole host from /proc/stat: time the
    * hypervisor gave this machine's CPUs to someone else. Zeros where the
    * file is not there. */
  def stealJiffies: (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  /** Heap in use after full collections. */
  def liveHeapMb: Double = {
    (1 to 2).foreach(_ => System.gc())
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / (1024.0 * 1024.0)
  }
}
