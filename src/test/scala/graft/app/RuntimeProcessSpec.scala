package graft.app

import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.SparkTestBase
import graft.sources.SourceTable

/** PROCESS-level runtime contract — the committed twin of the reference's
  * forked-binary runtime tests (/root/reference/tests/test_runtime_*.cpp,
  * driven by CMakeLists.txt:44-75): IndexJob then SearchServer run as REAL
  * JVMs, asserting the startup-message/exit-code contract, port behavior,
  * hot reload over HTTP, and a clean SIGTERM shutdown. Everything else in
  * the suite runs in-process; this is the one place the deployable artifacts
  * are exercised exactly as an operator runs them.
  */
class RuntimeProcessSpec extends SparkTestBase {

  private val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
  private val cp = System.getProperty("java.class.path")

  /** Same module opens build.sbt wires for forked mains (Spark on JDK 17). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private final class Forked(main: String, args: Seq[String], xmx: String) {
    private val pb = new ProcessBuilder(
      (Seq(javaBin) ++ addOpens ++ Seq(
        "-XX:+UseG1GC", s"-Xmx$xmx", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main) ++ args): _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    pb.redirectError(ProcessBuilder.Redirect.DISCARD) // Spark logs land here
    val proc: Process = pb.start()
    val out = new StringBuffer
    private val drainer = new Thread(() => {
      try {
        val in = proc.getInputStream
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.append(new String(buf, 0, n, "UTF-8")); n = in.read(buf) }
      } catch { case _: java.io.IOException => () }
    })
    drainer.setDaemon(true); drainer.start()

    def awaitLine(regex: scala.util.matching.Regex, timeoutMs: Long): Option[String] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        out.toString.linesIterator.find(l => regex.findFirstIn(l).isDefined) match {
          case Some(l) => return Some(l)
          case None => Thread.sleep(100)
        }
      }
      None
    }
    def waitExit(timeoutSec: Long): Int = {
      assert(proc.waitFor(timeoutSec, TimeUnit.SECONDS), s"$main did not exit in ${timeoutSec}s")
      drainer.join(5000)
      proc.exitValue()
    }
    def destroy(): Unit = { proc.destroy(); proc.waitFor(20, TimeUnit.SECONDS); proc.destroyForcibly() }
  }

  private def get(url: String): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(2000)
    conn.setReadTimeout(15000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("forked IndexJob -> forked SearchServer: startup contract, HTTP serving, /reload, SIGTERM") {
    // a tiny deterministic source table for the forked index build
    val srcDir = Files.createTempDirectory("graft-rt-src").toString + "/source.parquet"
    SourceTable.synthetic(spark, 40).write.mode("overwrite").parquet(srcDir)
    val idxDir = Files.createTempDirectory("graft-rt-idx").toString

    // --- IndexJob as a real JVM: one summary line on stdout, exit 0
    val ij = new Forked("graft.app.IndexJob", Seq(srcDir, idxDir, "2"), "6g")
    val ijExit = ij.waitExit(300)
    assert(ijExit == 0, s"IndexJob exit=$ijExit out=${ij.out}")
    val summary = ij.out.toString.linesIterator.filter(_.startsWith("Indexing completed:")).toSeq
    assert(summary.size == 1 && summary.head.contains("docs=40"), ij.out.toString)

    // pre-generate sidecars from the spec's session so the forked server
    // never starts Spark (steady-state serving touches none)
    graft.index.DocSidecar.ensure(spark, idxDir)

    // --- exit-code discipline, checked on the REAL binary entrypoints
    assert(new Forked("graft.app.SearchServer", Seq.empty, "512m").waitExit(60) == 2)      // usage
    assert(new Forked("graft.app.SearchServer", Seq("/nope", "0"), "512m").waitExit(60) == 3) // load fail pre-bind

    // --- the server proper, ephemeral port
    val sv = new Forked("graft.app.SearchServer", Seq(idxDir, "0"), "2g")
    val startRe = """Server started on port (\d+) using index: (.+)""".r
    val line = sv.awaitLine(startRe, 60000)
    try {
      assert(line.isDefined, s"no startup message; out=${sv.out}")
      val port = startRe.findFirstMatchIn(line.get).get.group(1).toInt
      assert(port > 0)
      // exactly ONE startup message, printed only after a successful bind
      assert(sv.out.toString.linesIterator.count(_.startsWith("Server started")) == 1)

      val base = s"http://127.0.0.1:$port"
      assert(get(s"$base/health") == ((200, "OK")))
      // query a term that provably exists: the most frequent token of the
      // first source document
      val content = spark.read.parquet(srcDir).select("content").head().getString(0)
      val term = graft.core.Tokenizer.tokenize(content)
        .groupBy(identity).view.mapValues(_.length).maxBy(_._2)._1
      val (qc, qbody) = get(s"$base/search?q=$term&k=3")
      assert(qc == 200 && qbody.contains(s""""query":"$term""""), qbody)
      assert(qbody.contains(""""docId":"""), qbody)
      // hot reload over HTTP against the live process (no index change:
      // delta carry makes this cheap; contract is 200 + same doc count)
      val (rc, rbody) = get(s"$base/reload")
      assert(rc == 200 && rbody.contains(""""reloaded":true""") && rbody.contains(""""docs":40"""), rbody)
      assert(get(s"$base/search?q=$term&k=1")._1 == 200)

      // --- SIGTERM: drain hook runs, process exits, port is released
      sv.proc.destroy()
      assert(sv.proc.waitFor(30, TimeUnit.SECONDS), "server did not exit on SIGTERM")
      val refused =
        try { get(s"$base/health"); false }
        catch { case _: java.io.IOException => true }
      assert(refused, "port still answering after SIGTERM")
    } finally sv.destroy()
  }
}
