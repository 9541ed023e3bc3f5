package perfbench

import java.io.File

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Benchmark JVM entry point. Runs one workload and writes its raw
  * measurements as one JSON object to `--out`; `run.py` turns them into
  * the reported metrics.
  *
  * With `--trace 1` the workload runs with the span listeners attached;
  * the ingest traced run ends with a single-core pass (`local[1]`). */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, trace: Boolean = false,
      work: String = "", out: String = "", cores: Int = 1)

  /** Files per topic the `local[1]` pass drains. */
  val Local1Files = 1

  @annotation.tailrec
  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil                            => a
    case "--workload" :: v :: rest      => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest          => parse(rest, a.copy(seed = v.toLong))
    case "--trace" :: v :: rest         => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest          => parse(rest, a.copy(work = v))
    case "--out" :: v :: rest           => parse(rest, a.copy(out = v))
    case "--cores" :: v :: rest         => parse(rest, a.copy(cores = v.toInt))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  def session(cores: Int): org.apache.spark.sql.SparkSession = {
    val s = graft.Session.builder(cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val mhzStart = Host.cpuMhz()
    val loadStart = Host.loadAvg1()
    val t0 = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $msg")
    var spark = session(a.cores)
    new File(a.work).mkdirs()
    val trace = if (a.trace) Some(new Trace(spark)) else None
    log(s"pass ${a.work}")
    val measured = a.workload match {
      case "ingest"    => IngestRun(spark, a.work, a.seed, trace)
      case "admission" => AdmissionRun(spark, a.work, a.seed, trace)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "master" -> spark.sparkContext.master,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpu_mhz_start" -> mhzStart, "loadavg_start" -> loadStart)
    trace match {
      case None => result("untraced") = measured
      case Some(t) =>
        t.dump(s"${a.work}/spans.jsonl")
        result("traced") = measured ++ Map("spans" -> s"${a.work}/spans.jsonl")
        if (a.workload == "ingest") {
          // single-core baseline of the same workload, same seed
          spark.stop()
          log("local[1]")
          spark = session(1)
          result("local1") = IngestRun(spark, s"${a.work}/local1", a.seed, None,
            measuredFiles = Local1Files, setupReps = 1)
        }
    }
    log("done")
    result("cpu_mhz_end") = Host.cpuMhz()
    result("peak_rss_mb") = Host.peakRssMb()
    spark.stop()
    implicit val formats: Formats = DefaultFormats
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(Serialization.write(result)) finally w.close()
  }
}
