package perfbench

import java.lang.management.ManagementFactory

object Jvm {
  /** Seconds since this JVM started, as the runtime reports its start. */
  def secondsSinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Seconds the JIT compilers have spent since the JVM started. */
  def compileSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Heap in use after full collections, in MB. The pauses between them
    * let Spark's context cleaner drop the broadcasts and shuffles that the
    * first collection found unreachable.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Host {
  /** Foreign user-mode cores busy between two snapshots, -1 if unknown. */
  def foreignCores(a: Option[graft.BenchProtocol.CpuSnap], b: Option[graft.BenchProtocol.CpuSnap],
                   cores: Int): Double = (a, b) match {
    case (Some(x), Some(y)) => graft.BenchProtocol.externalCores(x, y, cores)
    case _ => -1.0
  }
}
