package graft

/** Regenerates the golden hashes pinned in src/test/resources/golden/.
  * Usage: runMain graft.GoldenGen <sfDir>
  * Prints one `name=hash` line per pinned query; redirect into the
  * matching resource file after an INTENTIONAL output change (review the
  * diff — a surprise hash change is a regression, not a refresh).
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.local()
    GoldenHash.pinnedQueries.foreach { name =>
      val h = GoldenHash.tableHash(SparkEntry.queries(name)(spark, sfDir))
      println(s"GOLDEN $name=$h")
    }
    spark.stop()
  }
}
