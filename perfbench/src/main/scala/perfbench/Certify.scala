package perfbench

import org.apache.spark.sql.Row

/** Links catalog result hashes to the DuckDB oracle. `graft.Verify`
  * writes each query's result as parquet, and `tools/check_oracle.py`
  * compares those against DuckDB; this main then hashes each verified
  * result and the live result the benchmark computes, and prints both
  * as JSON. A query is certified when the oracle passed it and the two
  * hashes agree.
  *
  * Usage: Certify <fixture dir> <Verify output dir> <q1,q2,...> <scratch dir>
  */
object Certify {
  def main(args: Array[String]): Unit = {
    val Array(fixtures, verified, queries, scratch) = args
    val spark = Main.session(4, scratch)
    val out = queries.split(",").toSeq.map { q =>
      val stored = spark.read.parquet(s"$verified/$q")
      val storedRows: Array[Row] = stored.collect()
      val live = graft.SparkEntry.queries(q)(spark, fixtures)
      val liveRows = live.collect()
      q -> Map("hash" -> Catalog.resultHash(stored, storedRows), "rows" -> storedRows.length,
        "live_hash" -> Catalog.resultHash(live, liveRows))
    }.toMap
    spark.stop()
    println(Main.json.writeValueAsString(out))
  }
}
