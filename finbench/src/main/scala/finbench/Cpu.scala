package finbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

/** CPU time of this JVM, split into the JIT compiler's share and the rest.
  *
  * On a shared 4-core host the wall time of one operation and the JIT's
  * CPU time both moved by 20–45% between runs of the same work, and the
  * JVM's CPU time outside the compiler threads by about half as much:
  * tiered compilation decides what to compile, and when, from timing,
  * Spark hands it newly generated classes on every query, and the
  * compiler threads compete with the task threads for the cores.
  * `engineNs` is the printed `op_cpu_ms`; `jitNs` is `op_jit_cpu_ms` and
  * the per-layer `jvm.jit_cpu_ms`.
  */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Linux `USER_HZ`: the unit of utime and stime in `/proc/<pid>/task/<tid>/stat`. */
  private val TickNs = 10000000L

  /** CPU time of every thread of the JVM, in ns. */
  def processNs: Long = os.getProcessCpuTime

  /** CPU time of the live C1 and C2 compiler threads, in ns. The launcher
    * turns off HotSpot's dynamic compiler-thread count, so these threads
    * live as long as the JVM and none of their time is lost with a thread.
    */
  def jitNs: Long = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
    tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          // fields after the parenthesised name: state is field 3, utime 14, stime 15
          val stat = new String(Files.readAllBytes(new File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * TickNs
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended while being read
    }.sum
  }

  /** A point in CPU time; the difference of two is the CPU spent between them. */
  final case class Stamp(processNs: Long, jitNs: Long) {
    def engineNs: Long = processNs - jitNs
  }

  def now(): Stamp = Stamp(processNs, jitNs)

  def since(s: Stamp): Stamp = { val n = now(); Stamp(n.processNs - s.processNs, n.jitNs - s.jitNs) }
}


