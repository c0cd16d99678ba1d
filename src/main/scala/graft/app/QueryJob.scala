package graft.app

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
  */
object QueryJob {
  def main(args: Array[String]): Unit = {
    if (args.contains("--help")) { println("usage: QueryJob <indexDir> <k> <query>..."); return }
    if (args.length < 3) { System.err.println("usage: QueryJob <indexDir> <k> <query>..."); sys.exit(2) }
    val indexDir = args(0)
    val k = math.max(1, args(1).toInt)
    val queries = args.drop(2).toSeq

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
    } catch {
      case e: Throwable => System.err.println(s"query job failed: ${e.getMessage}"); sys.exit(3)
    }
  }
}
