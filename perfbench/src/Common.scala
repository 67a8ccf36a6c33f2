package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Seeded, stateless hashing: every generated input is a pure function of
  * (seed, index, salt), so the reference checker can rebuild any input
  * record without keeping it.
  */
object Gen {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, id: Long, salt: Long): Long =
    mix64(mix64(seed * 0x632BE59BD9B4E019L + salt) ^ id)
  /** Uniform double in [0, 1) from a hash. */
  def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def max(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.max
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Heap {
  /** Heap still in use after a full collection, in MB: what the engine and
    * the run retain, without the garbage whose timing depends on the
    * collector.
    */
  def liveMb(): Double = {
    // the second collection frees what Spark's cleaner thread released in
    // response to the first (weakly held shuffles, broadcasts, RDDs)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
}

/** Host steal time, sampled from /proc/stat every 20 ms: the share of CPU
  * time the hypervisor gave to other guests while a unit of work ran. Units
  * run while the host took more than [[Limit]] are contended: they are
  * checked but left out of the timings when enough clean units remain.
  */
object Steal {
  val Limit = 0.05
  private val times = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var started = false

  private def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
      } finally src.close()
    } catch { case _: Exception => None }

  def start(): Unit = synchronized {
    if (!started && read().isDefined) {
      started = true
      val t = new Thread(() => while (true) {
        read().foreach { case (st, tot) => times.synchronized(times += ((System.nanoTime(), st, tot))) }
        Thread.sleep(20)
      }, "perfbench-steal")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Steal share over [t0, t1] (nanoTime), widened to the nearest samples. */
  def share(t0: Long, t1: Long): Double = times.synchronized {
    val a = times.lastIndexWhere(_._1 <= t0)
    val b = times.indexWhere(_._1 >= t1)
    if (a < 0 || b < 0 || b <= a) 0.0
    else {
      val (_, s0, n0) = times(a)
      val (_, s1, n1) = times(b)
      if (n1 == n0) 0.0 else (s1 - s0).toDouble / (n1 - n0)
    }
  }
  def clean(t0: Long, t1: Long): Boolean = share(t0, t1) <= Limit

  /** The values of the clean units when at least `min` are clean, else all. */
  def robust[T](units: Seq[T], min: Int)(interval: T => (Long, Long)): Seq[T] = {
    val ok = units.filter { u => val (a, b) = interval(u); clean(a, b) }
    if (ok.size >= min) ok else units
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory span log for traced runs: name, start, end, parent. Spans are
  * written out once, when the run ends.
  */
final class Spans(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, parent, startNs, endNs))
      id
    }

  /** Time `f`; the span id is reserved before `f` runs so children can
    * name it as their parent.
    */
  def span[T](name: String, parent: Int = 0)(f: Int => T): T =
    if (!enabled) f(0)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id) finally spans.add(Span(id, name, parent, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: String): Unit = if (enabled) {
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)))
    } finally out.close()
  }
}

object Spans {
  val off = new Spans(false)
}

/** Minimal JSON writer for flat result objects. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
