package perfbench

import java.nio.file.{Files, Paths}

/** Pins the query_mix expectations: runs each query `rounds` times, each
  * round in a fresh session, and records its row counts and digests; the
  * first round also writes each result as parquet, with the oracle SQL
  * beside it, for `pin.py` to compare against DuckDB.
  */
object Pin {
  def main(argv: Array[String]): Unit = {
    val args = Main.parseArgs(argv)
    val work = Paths.get(args("work"))
    val out = Paths.get(args("out"))
    val sfDir = args("sf-dir")
    val queries = args("queries").split(',').toSeq
    val rounds = args.getOrElse("rounds", "3").toInt
    val empty = Workloads.mapper.createObjectNode()
    val pins = Workloads.mapper.createObjectNode()
    queries.foreach(q => pins.`with`("queries").putObject(q))
    val seen = queries.map(q => q -> scala.collection.mutable.ArrayBuffer.empty[(Long, String)]).toMap
    for (round <- 0 until rounds) {
      val spark = Main.session(args("cores").toInt, work)
      val ctx = new Ctx(spark, new Tracer(false), SparkCounters.register(spark), out, empty, pins, sfDir, work)
      val qm = new QueryMix(ctx)
      queries.foreach { q =>
        val (_, rows, digest) = qm.measure(q)
        seen(q) += rows -> digest
        if (round == 0)
          graft.SparkEntry.queries(q)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve(q).toString)
      }
      Main.stop(spark)
    }
    val oracle = graft.SparkEntry.oracleSql
    val json = queries.map { q =>
      val runs = seen(q).map { case (r, d) => s"""{"rows": $r, "digest": "$d"}""" }.mkString("[", ", ", "]")
      val sql = oracle.get(q).map(s => Workloads.mapper.writeValueAsString(s)).getOrElse("null")
      s""""$q": {"runs": $runs, "oracle": $sql}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(out.resolve("pin_runs.json"), json)
  }
}
