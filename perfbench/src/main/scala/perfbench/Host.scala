package perfbench

import java.io.File
import scala.io.Source
import scala.util.Using

/** Host and storage facts read from outside the program: /proc for the
  * machine, plain directory listings for what the sinks left on disk. */
object Host {
  private def read(path: String): String =
    Using(Source.fromFile(path))(_.mkString).getOrElse("")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap still in use after full collections: what the program keeps
    * (indexes, stream state, caches) once the measured work is done.
    * Spark frees blocks of collected checkpoints from a cleaner thread,
    * so the collections are spaced to let it run in between. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Mean `cpu MHz` over the cores /proc/cpuinfo lists. */
  def cpuMhz(): Double = {
    val mhz = read("/proc/cpuinfo").linesIterator
      .filter(_.startsWith("cpu MHz")).map(_.split(":")(1).trim.toDouble).toSeq
    if (mhz.isEmpty) 0.0 else mhz.sum / mhz.size
  }

  def loadAvg1(): Double =
    read("/proc/loadavg").split(" ").headOption.map(_.toDouble).getOrElse(0.0)

  final case class DirStats(files: Long, bytes: Long)

  /** Data files and bytes under `path`, recursively. Hidden and
    * underscore-prefixed bookkeeping files (`_SUCCESS`, `.crc`) are
    * skipped, so the count is what a reader of the table opens. */
  def dirStats(path: String): DirStats = {
    def walk(f: File): DirStats =
      if (!f.exists()) DirStats(0, 0)
      else if (f.isFile) {
        val n = f.getName
        if (n.startsWith(".") || n.startsWith("_")) DirStats(0, 0)
        else DirStats(1, f.length())
      } else
        Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk)
          .foldLeft(DirStats(0, 0))((a, b) => DirStats(a.files + b.files, a.bytes + b.bytes))
    walk(new File(path))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
