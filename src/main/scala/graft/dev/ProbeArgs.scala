package graft.dev

/** Argument checks shared by the dev probes: a bad argument prints the
  * problem, the usage line and the valid query names, then exits
  * non-zero — instead of a stack trace from deep inside Spark. */
private[dev] object ProbeArgs {

  def fail(usage: String, problem: String): Nothing = {
    System.err.println(s"$problem\nusage: $usage\nqueries: " +
      graft.SparkEntry.queries.keys.toSeq.sorted.mkString(" "))
    sys.exit(2)
  }

  /** `sfDir` must be an existing directory and `names` a non-empty list
    * of battery query names. */
  def check(usage: String, sfDir: Option[String], names: Seq[String]): Unit = {
    if (!sfDir.exists(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d))))
      fail(usage, s"sf directory not found: ${sfDir.getOrElse("(none given)")}")
    if (names.isEmpty) fail(usage, "no query named")
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(usage, s"unknown query: ${unknown.mkString(", ")}")
  }
}
