package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.meta.LoadInfo

/** One timed op: a change-batch load ("load"), a full refresh
  * ("refresh"), a consumer read ("read") or a query ("query"). `rows` is
  * user rows committed for a load or refresh, input rows for a query and
  * 0 for a read. */
final case class OpSample(kind: String, name: String, pass: Int,
    seconds: Double, rows: Long, phase: String)

/** An output the Python side compares against a DuckDB oracle. `sql`
  * runs over views of the input tables under `inputDir`. */
final case class OracleTask(name: String, sql: String, inputDir: String,
    output: String)

/** A check made inside the JVM, against state the benchmark computed
  * with plain DataFrame code of its own. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Everything a workload needs from one run of the harness. */
final class Ctx(var spark: SparkSession, var tracer: Tracer, val dir: String) {
  val ops = ArrayBuffer.empty[OpSample]
  /** "timed" in an untraced run; "warm", "untraced" or "traced" in the
    * passes of a traced run. */
  var phase = "timed"
  /** (seconds, phase) of each completed pass. */
  val passes = ArrayBuffer.empty[(Double, String)]
  private var observations = 0

  def op(kind: String, name: String, pass: Int)(body: => Long): Unit = {
    val (rows, s) = tracer.op("op", s"$kind:$name")(body)
    ops += OpSample(kind, name, pass, s, rows, phase)
    Main.log(f"op $kind:$name pass=$pass $s%.3f s rows=$rows")
  }

  def span[A](layer: String, name: String)(body: => A): A =
    tracer.span(layer, name)(body)

  /** Run `write` on `df` instrumented with `LoadInfo.observed` and return
    * the row count the observation reports: the load's audit figure. */
  def observedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    observations += 1
    val got = new AtomicLong(-1)
    val inst = span("meta", "LoadInfo.observed")(
      LoadInfo.observed(df, s"perfbench_load_$observations", n => got.set(n)))
    write(inst)
    PerfbenchBus.drain(spark.sparkContext)
    got.get
  }

  /** Append one `consumo_dados` row for a finished load. */
  def audit(table: String, loadType: String, rows: Long): Unit =
    span("meta", "LoadInfo.auditRow")(
      LoadInfo.auditRow(spark, "perfbench", "public", table, "perfbench",
        loadType, Workload.VerifiedAt, rows)
        .write.mode("append").parquet(s"$dir/out/_audit"))
}

trait Workload {
  /** Anything to derive from the generated inputs (untimed). */
  def prepare(ctx: Ctx, tableRows: Map[String, Long]): Unit = ()
  /** The warm-up every set-up repeats: a few of the workload's ops on
    * small inputs of the same shape. */
  def warmup(ctx: Ctx): Unit
  /** Anything the timed loop needs in place (untimed). */
  def initState(ctx: Ctx): Unit = ()
  /** Work that runs once, untimed, right before the timed region. */
  def prime(ctx: Ctx): Unit = ()
  /** One pass over the workload's named op list. */
  def pass(ctx: Ctx, p: Int): Unit
  /** Typical length of a pass on the reference host (README): a run makes
    * ceil(seconds / passSeconds) passes, a number fixed by its arguments
    * alone, so every run of a workload does the same work. */
  def passSeconds: Double
  /** Checks after the timed region; oracle tasks for the Python side. */
  def check(ctx: Ctx): (Seq[Check], Seq[OracleTask])
  /** Workload-specific figures for the artifact and the printed lines. */
  def extra(ctx: Ctx): Map[String, Double] = Map.empty
  /** Mean number of table versions a traced read had to merge. */
  def versionsLive: Double = 0.0
}

object Workload {
  val VerifiedAt: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")

  def apply(name: String, scale: Double, seed: Long): Workload =
    name match {
      case "cdc_sync" => new CdcSync(scale, seed)
      case "query_mix" => new QueryMix
      case other => sys.error(s"unknown workload '$other'")
    }

  /** Rows of `df` missing from `expected` plus rows of `expected` missing
    * from `df` (multiset difference both ways). */
  def mismatches(df: DataFrame, expected: DataFrame): Long = {
    val cols = expected.columns.toSeq
    val a = df.select(cols.map(col): _*)
    a.exceptAll(expected).count() + expected.exceptAll(a).count()
  }
}

/** The patchwork inputs of QueriesClean: its dirty-column generator and
  * patch, repeated expression for expression (they are private there), so
  * QueriesClean's DuckDB oracles apply unchanged to this benchmark's
  * outputs. */
object Patchwork {
  def chainSynth(df: DataFrame): DataFrame = {
    val m = col("c_custkey") % 4
    df.select(col("c_custkey"),
      when(m === 0, lit("sp")).when(m === 1, lit("XX"))
        .when(m === 2, lit("RJ")).otherwise(lit(" mg ")).as("uf"),
      when(col("c_custkey") % 3 === 0,
        concat(lit("LONGTEXT-"), col("c_name"), lit("-"), col("c_name")))
        .otherwise(col("c_name")).as("nm"))
  }

  /** The patch and drop keys of q_patch_apply. */
  def patch(base: DataFrame): DataFrame =
    base.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 14 === 0, lit(null).cast("double"))
          .otherwise(lit(0.0)).as("c_acctbal"),
        lit("PATCHED").as("c_mktsegment"))

  def dropKeys(base: DataFrame): DataFrame =
    base.filter(col("c_acctbal") < -900).select(col("c_custkey"))
}

/** Read-only queries from SparkEntry's registry into the noop sink, in
  * three named families. Each family keeps queries the roadmap's next
  * changes act on: the PageRank loop and the triangle Bloom screen
  * (fixpoint), the survival and stump global windows (window), and
  * relational plans with joins, anti-joins and windows. */
final class QueryMix extends Workload {
  val passSeconds = 10.0
  val families: Seq[(String, Seq[String])] = Seq(
    "fixpoint" -> Seq("q_pagerank", "q_triangles"),
    "window" -> Seq("q_kaplan_meier", "q_cum_hazard", "q_stump"),
    "relational" -> Seq("q1_agg", "q_merge_incremental", "q_dedup_keep_first"))
  private var inputRows = Map.empty[String, Long]

  private def dir(ctx: Ctx) = s"${ctx.dir}/in/q"
  private def warmDir(ctx: Ctx) = s"${ctx.dir}/in/qwarm"
  private def out(ctx: Ctx) = s"${ctx.dir}/out/q"

  /** Input rows of a query: rows of the tables its oracle SQL reads. */
  override def prepare(ctx: Ctx, tableRows: Map[String, Long]): Unit =
    inputRows = families.flatMap(_._2).map { q =>
      q -> Tables.names.filter(t => s"\\b$t\\b".r.findFirstIn(SparkEntry.oracleSql(q)).isDefined)
        .map(tableRows).sum
    }.toMap

  private def run(ctx: Ctx, q: String, in: String): Unit = {
    SparkEntry.queries(q)(ctx.spark, in).write.format("noop").mode("overwrite").save()
  }

  private def release(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()

  /** One relational query, on inputs half the size. */
  def warmup(ctx: Ctx): Unit = {
    run(ctx, "q1_agg", warmDir(ctx))
    release(ctx)
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    families.foreach { case (family, qs) =>
      qs.foreach { q =>
        ctx.op("query", q, p) {
          ctx.span("queries", family)(run(ctx, q, dir(ctx)))
          inputRows(q)
        }
        release(ctx)
      }
    }
  }

  /** Each query once into parquet, for the oracle check: the first
    * execution of every plan, so the timed passes measure warm ones. */
  override def prime(ctx: Ctx): Unit =
    families.flatMap(_._2).foreach { q =>
      SparkEntry.queries(q)(ctx.spark, dir(ctx)).write.mode("overwrite").parquet(s"${out(ctx)}/$q")
      release(ctx)
    }

  def check(ctx: Ctx): (Seq[Check], Seq[OracleTask]) =
    (Nil, families.flatMap(_._2).map(q =>
      OracleTask(q, SparkEntry.oracleSql(q), dir(ctx), s"${out(ctx)}/$q")))
}
