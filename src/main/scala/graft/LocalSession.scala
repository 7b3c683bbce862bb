package graft

import org.apache.spark.sql.SparkSession

/** The one way a main builds its local session: `local[n]` with n
  * shuffle partitions, no UI, and the two confs the fixtures' results
  * depend on — `events.parquet`'s `ts` has shipped both as
  * TIMESTAMP(NANOS) (read via `nanosAsLong`) and as naive timestamp[us]
  * (whose lossless cast needs a UTC session zone); see
  * [[SparkEntry.normalizeEventTs]].
  */
object LocalSession {

  /** Worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, else
    * the host's cores (more threads than cores measured slower). */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
