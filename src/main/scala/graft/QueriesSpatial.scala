package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GeoJoin

/** Spatial join queries: cell-bucketed nearest-site-within-radius over
  * coordinates synthesized deterministically from customer/supplier keys
  * (the q_distance coordSynth treatment — the tables carry no real
  * coordinates). The oracle is the brute-force cross join + per-probe
  * rank, so the hash compare proves the cell screen loses no pair and
  * the argmin tie rule matches.
  */
object QueriesSpatial {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val RadiusKm = 100.0

  private def probeSynth(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      ((col("c_custkey") % 190).cast("double") / lit(10.0) - lit(9.5)).as("plat"),
      ((col("c_custkey") % 370).cast("double") / lit(10.0) - lit(18.5)).as("plon"))

  private def siteSynth(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier").select(
      col("s_suppkey"),
      ((col("s_suppkey") % 170).cast("double") / lit(10.0) - lit(8.5)).as("slat"),
      ((col("s_suppkey") % 330).cast("double") / lit(10.0) - lit(16.5)).as("slon"))

  def qGeoNearest(s: SparkSession, dir: String): DataFrame =
    GeoJoin.nearestWithinRadius(
      probeSynth(s, dir), "c_custkey", "plat", "plon",
      siteSynth(s, dir), "s_suppkey", "slat", "slon",
      RadiusKm)

  val qGeoNearestSql: String =
    s"""WITH p AS (SELECT c_custkey,
       |    CAST(c_custkey % 190 AS DOUBLE) / 10.0 - 9.5 AS plat,
       |    CAST(c_custkey % 370 AS DOUBLE) / 10.0 - 18.5 AS plon
       |  FROM customer),
       |s AS (SELECT s_suppkey,
       |    CAST(s_suppkey % 170 AS DOUBLE) / 10.0 - 8.5 AS slat,
       |    CAST(s_suppkey % 330 AS DOUBLE) / 10.0 - 16.5 AS slon
       |  FROM supplier),
       |pairs AS (SELECT c_custkey, s_suppkey,
       |    sqrt((plat - slat) * (plat - slat) +
       |         (plon - slon) * (plon - slon)) * ${GeoJoin.KmPerDeg}
       |      AS dist_km
       |  FROM p CROSS JOIN s)
       |SELECT c_custkey, s_suppkey, dist_km FROM pairs
       |WHERE dist_km <= $RadiusKm
       |QUALIFY row_number()
       |  OVER (PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) = 1""".stripMargin

  // ----------------------------------------------------------- geo radius
  // Point-radius query through the native geo_dist expression with
  // plans.GeoFilterRule active: the rule conjoins a sargable lat/lon
  // bounding box (scan-prunable at scale — GeoFilterRuleSpec pins the
  // PushedFilters), and because the box strictly contains the disc the
  // result set is IDENTICAL to the bare predicate — which is exactly
  // what the oracle (bare-predicate SQL replay, exact IEEE arithmetic)
  // verifies.
  def qGeoRadius(s: SparkSession, dir: String): DataFrame = {
    GraftExtensions.registerRules(s)
    probeSynth(s, dir)
      .withColumn("dist_km",
        graft.functions.GeoDistExpr.geo_dist(
          lit(-3.0), lit(-10.0), col("plat"), col("plon")))
      .filter(col("dist_km") <= lit(RadiusKm * 3))
      .select(col("c_custkey"), col("plat"), col("plon"), col("dist_km"))
  }

  val qGeoRadiusSql: String =
    s"""WITH p AS (SELECT c_custkey,
       |    CAST(c_custkey % 190 AS DOUBLE) / 10.0 - 9.5 AS plat,
       |    CAST(c_custkey % 370 AS DOUBLE) / 10.0 - 18.5 AS plon
       |  FROM customer)
       |SELECT c_custkey, plat, plon,
       |  sqrt((-3.0 - plat) * (-3.0 - plat) +
       |       (-10.0 - plon) * (-10.0 - plon)) * 111.32 AS dist_km
       |FROM p
       |WHERE sqrt((-3.0 - plat) * (-3.0 - plat) +
       |           (-10.0 - plon) * (-10.0 - plon)) * 111.32
       |      <= ${RadiusKm * 3}""".stripMargin

  // --------------------------------------------------------------- geohash
  // Geohash cell keys over the synthetic customer coordinates: the full
  // 8-char hash plus its 4-char prefix (the coarse spatial bin a
  // prefix-keyed rollup or curve-sorted layout would use). The oracle
  // replays bin → 64-bit Morton spread → base-32 render in SQL integer
  // ops, pinning every bit of GeoFunctions.geohash.
  private def qGeohash(s: SparkSession, dir: String): DataFrame = {
    val p = probeSynth(s, dir)
    p.select(
      col("c_custkey"),
      graft.functions.GeoFunctions.geohash(col("plat"), col("plon"), 8)
        .as("gh8"))
      .withColumn("gh4", col("gh8").substr(1, 4))
  }

  private val qGeohashSql = {
    // GeoFunctions.spread32 replayed as CTE steps s1..s5 (the masks are
    // the decimal renderings of 0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF,
    // 0x0F0F0F0F0F0F0F0F, 0x3333333333333333, 0x5555555555555555).
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    val chars = (0 until 8)
      .map(i => s"substr('$alphabet', CAST(((z >> ${35 - 5 * i}) & 31) + 1 AS BIGINT), 1)")
      .mkString(" || ")
    s"""WITH p AS (SELECT c_custkey,
       |    CAST(c_custkey % 190 AS DOUBLE) / 10.0 - 9.5 AS plat,
       |    CAST(c_custkey % 370 AS DOUBLE) / 10.0 - 18.5 AS plon
       |  FROM customer),
       |b AS (SELECT c_custkey,
       |    least(greatest(CAST(floor((plat - -90.0) / 180.0 * 1048576.0) AS BIGINT), 0), 1048575) AS a0,
       |    least(greatest(CAST(floor((plon - -180.0) / 360.0 * 1048576.0) AS BIGINT), 0), 1048575) AS o0
       |  FROM p),
       |s1 AS (SELECT c_custkey,
       |  ((a0 | (a0 << 16)) & 281470681808895) AS a1,
       |  ((o0 | (o0 << 16)) & 281470681808895) AS o1 FROM b),
       |s2 AS (SELECT c_custkey,
       |  ((a1 | (a1 << 8)) & 71777214294589695) AS a2,
       |  ((o1 | (o1 << 8)) & 71777214294589695) AS o2 FROM s1),
       |s3 AS (SELECT c_custkey,
       |  ((a2 | (a2 << 4)) & 1085102592571150095) AS a3,
       |  ((o2 | (o2 << 4)) & 1085102592571150095) AS o3 FROM s2),
       |s4 AS (SELECT c_custkey,
       |  ((a3 | (a3 << 2)) & 3689348814741910323) AS a4,
       |  ((o3 | (o3 << 2)) & 3689348814741910323) AS o4 FROM s3),
       |s5 AS (SELECT c_custkey,
       |  ((a4 | (a4 << 1)) & 6148914691236517205) AS a5,
       |  ((o4 | (o4 << 1)) & 6148914691236517205) AS o5 FROM s4),
       |zz AS (SELECT c_custkey, ((o5 << 1) | a5) AS z FROM s5)
       |SELECT c_custkey, $chars AS gh8,
       |  substr($chars, 1, 4) AS gh4
       |FROM zz""".stripMargin
  }

  // ------------------------------------------------------ point in polygon
  // Geofence filter: customers whose synthesized coordinates fall
  // inside a fixed pentagon, by the even–odd crossing rule as a pure
  // codegen'd Column fold (functions.PointInPolygon) — the oracle runs
  // the char-identical arithmetic emitted by the SAME object, so the
  // crossing parity (including near-edge IEEE cases) matches
  // bit-for-bit. The irregular concave pentagon exercises parity > 1.
  private val FencePoly: Seq[(Double, Double)] = Seq(
    (-15.2, -8.1), (11.4, -6.3), (2.2, 0.7), (13.6, 7.9), (-9.8, 8.3))

  def qPointInPoly(s: SparkSession, dir: String): DataFrame =
    probeSynth(s, dir)
      .filter(graft.functions.PointInPolygon.contains(
        col("plon"), col("plat"), FencePoly))
      .select(col("c_custkey"), col("plat"), col("plon"))

  val qPointInPolySql: String =
    s"""WITH p AS (SELECT c_custkey,
       |    CAST(c_custkey % 190 AS DOUBLE) / 10.0 - 9.5 AS plat,
       |    CAST(c_custkey % 370 AS DOUBLE) / 10.0 - 18.5 AS plon
       |  FROM customer)
       |SELECT c_custkey, plat, plon FROM p
       |WHERE ${graft.functions.PointInPolygon.sql("plon", "plat", FencePoly)}"""
      .stripMargin

  // ------------------------------------------------------------- registry
  val all: Seq[Query] = Seq(
    Query("q_geo_nearest", qGeoNearest, qGeoNearestSql),
    Query("q_geo_radius", qGeoRadius, qGeoRadiusSql),
    Query("q_geohash", qGeohash, qGeohashSql),
    Query("q_point_in_poly", qPointInPoly, qPointInPolySql),
  )
}
