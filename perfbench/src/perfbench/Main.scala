package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Entry point of the benchmark. One invocation runs one workload for one
  * seed and prints, as its last stdout line, one JSON object with the keys
  * `correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
  * end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
  *
  * Usage: perfbench.Main --workload serve-mixed|ingest-batch
  *          --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *          [--stats corpus-stats.json] [--spec BENCHMARK.json] [--negative-control]
  *          [--docs N]   (base corpus size; the build's training run makes it small)
  */
object Main {
  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      docs: Long,
      trace: Boolean,
      work: Path,
      out: Path,
      stats: Path,
      spec: Path,
      negativeControl: Boolean)

  val Workloads: Seq[String] = Seq("serve-mixed", "ingest-batch")

  def parse(args: Array[String]): Opts = {
    val m = mutable.Map[String, String]()
    var i = 0
    var neg = false
    while (i < args.length) {
      args(i) match {
        case "--negative-control" => neg = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => m(k.drop(2)) = args(i + 1); i += 2
        case k => throw new IllegalArgumentException(s"unexpected argument: $k")
      }
    }
    val w = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("docs", "20000").toLong,
      m.getOrElse("trace", "0") == "1", Paths.get(m.getOrElse("work", "perfbench/.work")),
      Paths.get(m.getOrElse("out", "perfbench/.out")),
      Paths.get(m.getOrElse("stats", "perfbench/corpus-stats.json")),
      Paths.get(m.getOrElse("spec", "BENCHMARK.json")), neg)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run(o)
    val result =
      try Right(run.execute())
      catch { case t: Throwable => Left(t) }
      finally deleteTree(o.work)
    result match {
      case Left(t) =>
        t.printStackTrace()
        sys.exit(2) // the run could not complete: no result line
      case Right(line) =>
        println(line)
        // mismatch or failed shape check: nonzero, after printing the result
        sys.exit(if (run.correct) 0 else 1)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
