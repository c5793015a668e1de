package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Scalars
import Q._

/** Registered queries for the row-wise scalar operators (SURVEY §2.2
  * P2-P11) over `lineitem`/`part`. Pure projections: no shuffle at
  * all — at 100 TB these run entirely inside whole-stage codegen on
  * the scan partitioning, with column pruning pushing the 2-3 used
  * columns into the parquet reader.
  */
object ScalarQ extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(
    "p2_velocity" -> ((s, dir) => {
      val li = lineitem(s, dir)
      // Off the integer-degree lattice (see TrackingQ.frames): whole
      // degrees make sin/cos short decimals whose products round-trip
      // differently between Spark and DuckDB at 6 dp.
      val dirDeg = (col("l_partkey") % 3600).cast("double") / 10 + 0.05
      li.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(Scalars.velocityX(col("l_quantity"), dirDeg)).as("vx"),
        r6(Scalars.velocityY(col("l_quantity"), dirDeg)).as("vy"),
        r6(Scalars.momentum(lit(200.0), col("l_quantity"))).as("momentum"),
        r6(Scalars.kineticEnergy(lit(200.0), col("l_quantity"))).as("ke"),
        r6(Scalars.bmi(lit(200.0), lit(50.0) + col("l_discount") * 100)).as("bmi"))
    }),

    "p3_distangle" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val x = col("l_quantity"); val y = col("l_discount") * 100
      val tx = col("l_extendedprice") / 1000; val ty = col("l_tax") * 100
      val dx = tx - x; val dy = ty - y
      li.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(Scalars.distTo(x, y, tx, ty)).as("dist"),
        r6(Scalars.angleTo(x, y, tx, ty)).as("angle"),
        r6(Scalars.unitX(dx, dy)).as("ux"),
        r6(Scalars.unitY(dx, dy)).as("uy"),
        r6(Scalars.velocityToward(col("l_quantity"), col("l_tax") * 10,
          Scalars.unitX(dx, dy), Scalars.unitY(dx, dy))).as("v_toward"))
    }),

    "p4_field" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val x = (col("l_partkey") % 1400).cast("double") / 10 - 10
      val y = (col("l_suppkey") % 630).cast("double") / 10 - 5
      li.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(Scalars.distFromCenter(x, y)).as("dist_center"),
        r6(Scalars.distFromCenterY(y)).as("dist_center_y"),
        r6(Scalars.distFromSideline(y)).as("dist_sideline"),
        r6(Scalars.distFromEndzone(x)).as("dist_endzone"),
        r6(Scalars.clampX(x)).as("x_clip"),
        r6(Scalars.clampY(y)).as("y_clip"))
    }),

    "p5_cycle" -> ((s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(Scalars.cycleSin(col("l_linenumber"), 10.0)).as("cyc_sin"),
        r6(Scalars.cycleCos(col("l_linenumber"), 10.0)).as("cyc_cos"))
    }),

    "p6_onehot" -> ((s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        Scalars.oneHot(col("l_returnflag"), "R").cast("long").as("is_return"),
        Scalars.oneHot(col("l_linestatus"), "F").cast("long").as("is_f"))
    }),

    "p7_height" -> ((s, dir) => {
      // Synthesize "ft-in" strings (some malformed) from part, parse
      // back with the ANSI-safe try_ path and per-pipeline default.
      val p = part(s, dir)
      val h = when(col("p_partkey") % 7 === 0, lit("bad"))
        .otherwise(concat(
          (col("p_size") % 3 + 5).cast("string"), lit("-"),
          (col("p_partkey") % 15).cast("string")))
      p.select(
        col("p_partkey"),
        h.as("height_str"),
        r6(Scalars.heightToInches(h)).as("inches"),
        r6(Scalars.heightToInches(h, Some(72.0))).as("inches_dflt"))
    }),

    "p8_sanitize" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val v = when(col("l_linenumber") % 5 === 0, lit(Double.PositiveInfinity))
        .when(col("l_linenumber") % 5 === 1, lit(Double.NegativeInfinity))
        .when(col("l_linenumber") % 5 === 2, lit(Double.NaN))
        .otherwise(col("l_quantity"))
      li.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        coalesce(Scalars.infToNull(v), lit(0.0)).as("sanitized"))
    }),

    "p10_anglewrap" -> ((s, dir) => {
      val c = (col("l_partkey") % 720).cast("double") - 360
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(Scalars.angleWrap(c)).as("wrapped"))
    }),

    "p11_clip" -> ((s, dir) => {
      lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(Scalars.clip(col("l_quantity"), lit(10.0), lit(40.0))).as("q_clip"),
        r6(Scalars.clipLower(col("l_discount") - 0.03, lit(0.0))).as("d_clip"))
    }))

  private val keys = "l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber"

  val oracle: Seq[(String, String)] = Seq(
    "p2_velocity" ->
      s"""SELECT $keys,
         | round(l_quantity * sin(radians(CAST(l_partkey % 3600 AS DOUBLE) / 10 + 0.05)), 6) AS vx,
         | round(l_quantity * cos(radians(CAST(l_partkey % 3600 AS DOUBLE) / 10 + 0.05)), 6) AS vy,
         | round(200.0 * l_quantity, 6) AS momentum,
         | round(0.5 * 200.0 * l_quantity * l_quantity, 6) AS ke,
         | round(200.0 * 703.0 / ((50.0 + l_discount * 100) * (50.0 + l_discount * 100)), 6) AS bmi
         |FROM lineitem""".stripMargin,

    "p3_distangle" ->
      s"""WITH t AS (SELECT l_orderkey, l_linenumber,
         |  l_quantity AS x, l_discount * 100 AS y,
         |  l_extendedprice / 1000 AS tx, l_tax * 100 AS ty,
         |  l_quantity AS vx, l_tax * 10 AS vy
         | FROM lineitem)
         |SELECT $keys,
         | round(sqrt((tx-x)*(tx-x) + (ty-y)*(ty-y)), 6) AS dist,
         | round(atan2(ty-y, tx-x), 6) AS angle,
         | round((tx-x) / (sqrt((tx-x)*(tx-x) + (ty-y)*(ty-y)) + 1e-6), 6) AS ux,
         | round((ty-y) / (sqrt((tx-x)*(tx-x) + (ty-y)*(ty-y)) + 1e-6), 6) AS uy,
         | round(vx * ((tx-x) / (sqrt((tx-x)*(tx-x) + (ty-y)*(ty-y)) + 1e-6))
         |     + vy * ((ty-y) / (sqrt((tx-x)*(tx-x) + (ty-y)*(ty-y)) + 1e-6)), 6) AS v_toward
         |FROM t""".stripMargin,

    "p4_field" ->
      s"""WITH t AS (SELECT l_orderkey, l_linenumber,
         |  CAST(l_partkey % 1400 AS DOUBLE) / 10 - 10 AS x,
         |  CAST(l_suppkey % 630 AS DOUBLE) / 10 - 5 AS y
         | FROM lineitem)
         |SELECT $keys,
         | round(sqrt((x-60.0)*(x-60.0) + (y-26.65)*(y-26.65)), 6) AS dist_center,
         | round(abs(y - 26.65), 6) AS dist_center_y,
         | round(least(y, 53.3 - y), 6) AS dist_sideline,
         | round(least(x, 120.0 - x), 6) AS dist_endzone,
         | round(least(greatest(x, 0.0), 120.0), 6) AS x_clip,
         | round(least(greatest(y, 0.0), 53.3), 6) AS y_clip
         |FROM t""".stripMargin,

    "p5_cycle" ->
      s"""SELECT $keys,
         | round(sin(l_linenumber * 2 * pi() / 10.0), 6) AS cyc_sin,
         | round(cos(l_linenumber * 2 * pi() / 10.0), 6) AS cyc_cos
         |FROM lineitem""".stripMargin,

    "p6_onehot" ->
      s"""SELECT $keys,
         | CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT) AS is_return,
         | CAST(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS is_f
         |FROM lineitem""".stripMargin,

    "p7_height" ->
      """WITH t AS (SELECT p_partkey,
        |  CASE WHEN p_partkey % 7 = 0 THEN 'bad'
        |       ELSE concat(CAST(p_size % 3 + 5 AS VARCHAR), '-', CAST(p_partkey % 15 AS VARCHAR))
        |  END AS height_str FROM part),
        |p AS (SELECT p_partkey, height_str,
        |  TRY_CAST(string_split(height_str, '-')[1] AS DOUBLE) * 12.0
        |   + TRY_CAST(string_split(height_str, '-')[2] AS DOUBLE) AS parsed
        | FROM t)
        |SELECT p_partkey, height_str,
        | round(parsed, 6) AS inches,
        | round(coalesce(parsed, 72.0), 6) AS inches_dflt
        |FROM p""".stripMargin,

    "p8_sanitize" ->
      s"""WITH t AS (SELECT l_orderkey, l_linenumber,
         |  CASE WHEN l_linenumber % 5 = 0 THEN 'inf'::DOUBLE
         |       WHEN l_linenumber % 5 = 1 THEN '-inf'::DOUBLE
         |       WHEN l_linenumber % 5 = 2 THEN 'nan'::DOUBLE
         |       ELSE l_quantity END AS v
         | FROM lineitem)
         |SELECT $keys,
         | coalesce(CASE WHEN isinf(v) OR isnan(v) THEN NULL ELSE v END, 0.0) AS sanitized
         |FROM t""".stripMargin,

    "p10_anglewrap" ->
      s"""WITH t AS (SELECT l_orderkey, l_linenumber,
         |  CAST(l_partkey % 720 AS DOUBLE) - 360 AS c FROM lineitem)
         |SELECT $keys,
         | round(CASE WHEN abs(c) >= 180.0 THEN c - 360.0 * sign(c) ELSE c END, 6) AS wrapped
         |FROM t""".stripMargin,

    "p11_clip" ->
      s"""SELECT $keys,
         | round(least(greatest(l_quantity, 10.0), 40.0), 6) AS q_clip,
         | round(greatest(l_discount - 0.03, 0.0), 6) AS d_clip
         |FROM lineitem""".stripMargin)
}
