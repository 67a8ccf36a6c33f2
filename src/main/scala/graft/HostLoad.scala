package graft

/** Host-load capture discipline shared by the timing harnesses (Bench,
  * Scale): poll /proc/loadavg until the 1-minute load drops under
  * `threshold`, up to `maxWaitSec` — a capture window that opens while
  * the previous sweep/test run is still draining times contention, not
  * the operators.
  */
object HostLoad {

  /** The current 1-minute load average (0.0 when unreadable). */
  def current(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\\s+")(0).toDouble
    catch { case _: Throwable => 0.0 }

  def awaitQuiet(threshold: Double, maxWaitSec: Int,
      tag: String = "bench"): Unit = {
    val deadline = System.nanoTime() + maxWaitSec * 1e9.toLong
    var load = Double.MaxValue
    var waited = false
    while (System.nanoTime() < deadline && {
      load = current()
      load > threshold
    }) {
      if (!waited) System.err.println(
        f"[$tag] host load $load%.1f > $threshold%.1f — waiting for a quiet capture window")
      waited = true
      Thread.sleep(5000)
    }
    if (waited) System.err.println(f"[$tag] proceeding at load $load%.1f")
  }
}
