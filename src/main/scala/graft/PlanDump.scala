package graft

/** Dev harness (optimization rounds): writes `.explain("formatted")` for
  * named queries to plans/<tag>/<query>_<suffix>.txt under the repo —
  * the before/after plan evidence the optimization deliverable requires.
  *
  * Usage: sbt "runMain graft.PlanDump r14 before q_x q_y"
  * The session is Bench's (`Harness.session`) over $SPARK_GRAFT_SF_DIR,
  * so the captured plan is the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query...>")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    for (name <- names) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        dir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
