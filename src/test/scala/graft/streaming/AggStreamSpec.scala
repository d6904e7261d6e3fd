package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.IncrementalAgg

/** The aggregate state sink: [[StateStream]] with
  * [[StateStream.aggModel]], finalized by [[IncrementalAgg.finalize]]. */
class AggStreamSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("event_type")
  private val model = StateStream.aggModel(keys, "value")

  private def current(template: DataFrame, state: String) =
    IncrementalAgg.finalize(
      StateStream.current(spark, template, model, state), keys)

  private def finals(df: DataFrame) =
    df.as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7)))
      .toMap

  private def direct(ev: DataFrame) =
    IncrementalAgg.finalize(
      IncrementalAgg.state(ev, keys, "value"), keys)

  test("3-batch ingest with kill/restart between batches equals direct aggregation") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events",
      parallelize = false)
    val dir = Files.createTempDirectory("graft_agg_stream").toString
    val (in, state, ckpt) = (s"$dir/in", s"$dir/state", s"$dir/ckpt")
    val thirds = (0 to 2).map(i => ev.filter(col("event_id") % 3 === i))
    thirds.foreach { third =>
      // the batch lands as new files AFTER the previous query died
      third.coalesce(1).write.mode("append").parquet(in)
      val src = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = StateStream.start(src, model, state, ckpt)
      q.awaitTermination()
      assert(!q.isActive)
    }
    val got = finals(current(ev, state))
    assert(got == finals(direct(ev)))
    assert(got.nonEmpty)

    // at-least-once replay: re-running the newest batch's fold is a
    // no-op (dynamic overwrite of its own partition)
    val newest = spark.read.parquet(state)
      .select(max(col("__batch_id")).cast("long")).head().getLong(0)
    StateStream.processBatch(thirds.last, newest, model, state)
    assert(finals(current(ev, state)) == finals(direct(ev)))

    // lost-checkpoint guard: a batch id behind the stored partitions
    // refuses loudly
    val boom = intercept[IllegalArgumentException] {
      StateStream.processBatch(thirds.head, 0L, model, state)
    }
    assert(boom.getMessage.contains("behind the stored state"))

    // compaction folds to ONE partition, preserving finals and the
    // newest batch id (so ingestion continues from the right guard)
    StateStream.compact(spark, ev, model, state)
    val parts = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("__batch_id=")).map(_.getName).toSeq
    assert(parts == Seq(s"__batch_id=$newest"))
    assert(finals(current(ev, state)) == finals(direct(ev)))

    // and the NEXT batch still folds in after compaction
    val extra = Seq(("click", 5.0), ("click", null.asInstanceOf[Any]))
      .map { case (t, v) => (t, Option(v).map(_.asInstanceOf[Double])) }
      .toDF("event_type", "value")
    StateStream.processBatch(extra, newest + 1, model, state)
    val after = finals(current(ev, state))
    val before = finals(direct(ev))
    assert(after("click")._1 == before("click")._1 + 2)
    assert(after("click")._2 == before("click")._2 + 1)
  }

  test("a torn or empty state directory reads as empty state") {
    val dir = Files.createTempDirectory("graft_agg_torn").toString
    val state = s"$dir/state"
    Files.createDirectories(java.nio.file.Paths.get(state))
    Files.write(java.nio.file.Paths.get(s"$state/_SUCCESS"),
      Array.empty[Byte])
    val template = Seq(("a", 1.0)).toDF("event_type", "value")
    val got = current(template, state)
    assert(got.count() == 0)
  }
}
