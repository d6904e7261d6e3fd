package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry query result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names (local
    // iteration only; the driver passes two args) restrict the run.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Harness.session(4)
    new java.io.File(outDir).mkdirs()
    // Failures are collected into _FAILURES.json (not only stderr): a
    // query that throws must surface as an explicit FAIL row in the local
    // gate, not as a silently-missing output dir (round-7 lesson — five
    // dead queries shipped unnoticed because the throw was swallowed).
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    SparkEntry.all.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try q.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        failures += ((q.name, e.getClass.getName,
          Option(e.getMessage).getOrElse("").take(500)))
      }
    }
    val js = Harness.jsonString _
    val json = SparkEntry.all
      .map(q => s"${js(q.name)}: ${js(q.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (n, cls, msg) =>
        s"${js(n)}: {${js("exception")}: ${js(cls)}, ${js("message")}: ${js(msg)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_FAILURES.json"), failJson)
    spark.stop()
  }
}
