package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.search.{Query, SegmentSearch}

/** EP2 — the spark-submit batch query job over a built segment index
  * (reference: `searchd --serve` + /search, SURVEY §3.2 — batch query sets
  * are how the baseline measures QPS).
  *
  * Usage: QueryJob <indexDir> <k> <query> [<query> ...]
  * Prints one JSON line per query: {"query":…,"results":[{docId,score}…]}.
  *
  * Queries of the form `phrase:<text>` / `prefix:<p>` / `fuzzy:<t>` /
  * `wildcard:<pat>` run the matching extension family (SURVEY §2.12);
  * plain queries keep the reference-exact language. All of them run as ONE
  * distributed batch (`SegmentSearch.evaluate`).
  *
  * Same exit-code discipline as the other jobs: 2 usage (missing arguments,
  * a non-integer k), 3 runtime (a dir without index_meta.json, checked
  * before Spark starts; a failed query batch).
  */
object QueryJob {
  private val Usage = "usage: QueryJob <indexDir> <k> <query>..."

  private def usageErr(msg: String): Int = {
    System.err.println(s"QueryJob: $msg")
    System.err.println(Usage)
    2
  }
  private def runtimeErr(msg: String): Int = { System.err.println(s"QueryJob: $msg"); 3 }

  def run(args: Array[String]): Int = {
    if (args.contains("--help")) { println(Usage); return 0 }
    if (args.length < 3) return usageErr("missing required <indexDir> <k> <query>")
    val indexDir = args(0)
    val k = args(1).toIntOption match {
      case Some(v) => math.max(1, v)
      case None => return usageErr(s"<k> must be an integer: ${args(1)}")
    }
    val queries = args.drop(2).toSeq
    if (!Files.exists(Paths.get(indexDir, "index_meta.json")))
      return runtimeErr(s"not an index (no index_meta.json): $indexDir")

    // under spark-submit the master comes from the launcher; when driven
    // directly (sbt runMain / tests) fall back to local[*]
    val spark =
      if (sys.props.contains("spark.master")) SparkSession.builder().getOrCreate()
      else graft.spark.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt, 16, "graft-job")
    spark.sparkContext.setLogLevel("WARN")
    try {
      val parsed = queries.map { q =>
        Query.Extensions.collectFirst { case f if q.startsWith(f + ":") => Query.parse(f, q.substring(f.length + 1)) }
          .getOrElse(Query.parse("q", q))
      }
      val byInput = SegmentSearch.evaluate(spark, indexDir, parsed, k)
      import graft.core.JsonText.esc
      queries.zipWithIndex.foreach { case (q, i) =>
        val hits = byInput(i).map { case (d, s) => s"""{"docId":$d,"score":$s}""" }.mkString("[", ",", "]")
        println(s"""{"query":"${esc(q)}","results":$hits}""")
      }
      0
    } catch {
      case e: Exception => runtimeErr(s"query job failed: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }
}
