package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the harness mains (Bench, Verify, PlanDump,
  * StageProfile, RecallProbe, ScaleCheck), so a plan captured or profiled
  * by one main is the plan the others run.
  *
  * Environment:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (a positive
  *     integer; each main passes its own default).
  *   - `SPARK_GRAFT_EXTRA_CONF`: extra session confs as "k=v;k=v", applied
  *     after the pinned settings so they can override them (an A/B knob,
  *     never set in a graded pass). An entry without '=' fails loudly and
  *     every injected conf is logged to stderr, so a contaminated run is
  *     detectable from its output.
  */
object Harness {

  /** The positive integer in env var `name`, `default` when unset. */
  def positiveIntEnv(name: String, default: Int): Int =
    parsePositiveInt(name, sys.env.getOrElse(name, default.toString))

  private[graft] def parsePositiveInt(name: String, raw: String): Int = {
    val n = raw.toIntOption.filter(_ >= 1)
    require(n.isDefined, s"$name must be an integer >= 1, got '$raw'")
    n.get
  }

  /** The 0/1 switch in env var `name`, `default` when unset. */
  def switchEnv(name: String, default: Boolean): Boolean =
    sys.env.get(name).fold(default)(parseSwitch(name, _))

  private[graft] def parseSwitch(name: String, raw: String): Boolean =
    raw match {
      case "1" => true
      case "0" => false
      case _ => throw new IllegalArgumentException(
        s"$name must be 0 or 1, got '$raw'")
    }

  /** The comma-separated names in `raw` (blanks dropped); a name not in
    * `known` fails, so a misspelling cannot silently select less. */
  private[graft] def parseNames(name: String, raw: String,
      known: Set[String]): Set[String] = {
    val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names.diff(known).toSeq.sorted
    require(unknown.isEmpty,
      s"$name names unknown entries: ${unknown.mkString(", ")}")
    names
  }

  /** Core count of `session(default)`. */
  def cpusFromEnv(default: Int): Int =
    positiveIntEnv("SPARK_GRAFT_CPUS", default)

  private lazy val extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            System.err.println(s"[harness] EXTRA_CONF injected: $k=$v")
            k -> v
          case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONF entry lacks '=': '$kv'")
        }
      }

  /** `s` as a JSON string literal. Escapes backslash, quote and every
    * control char (< 0x20): a tab or CR in hand-written SQL would
    * otherwise make the oracle reader's json.load fail and silently zero
    * the correctness gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A local session on `cpusFromEnv(defaultCpus)` cores with the pinned
    * settings, then `SPARK_GRAFT_EXTRA_CONF`; logs at WARN. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = cpusFromEnv(defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
