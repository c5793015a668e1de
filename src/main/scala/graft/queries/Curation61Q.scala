package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 61: Wilder-style RSI (the bounded-momentum companion
  * to the EWM family), Jaro-Winkler entity scoring on a NEW codegen'd
  * native expression (functions/JaroWinkler — Spark ships levenshtein
  * but no jaro), and the zone-interval overlap-depth audit (the
  * clustering-quality metric behind OPTIMIZE decisions — o16 builds
  * zone maps, o22 measures Hilbert boxes, but nothing measured how
  * OVERLAPPED the natural layout's intervals are). Net-new vs the
  * 440-query surface (grep-checked: no rsi/jaro/overlap_depth).
  */
object Curation61Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // W73: relative strength index, Wilder smoothing with DYADIC
    // alpha 1/16 (the w5_ema/w34 bitwise-portability class: gains
    // and losses are exact cent integers, so the EWM recursion
    // y ← x/16 + 15y/16 keeps exact binary states on both engines).
    // First row per user has no diff and is dropped BEFORE the
    // recursion (both engines seed at the first diff). RSI =
    // 100·ag/(ag+al) — pointwise correctly-rounded ops of
    // bitwise-identical states, emitted raw. One window exchange.
    "w73_rsi" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = graft.io.Tables.events(s, dir)
        .withColumn("c", lattice(col("value"), 100))
        .withColumn("d", col("c") - lag("c", 1).over(w))
        .filter(col("d").isNotNull)
      val entity = Seq(col("user_id"))
      val ord = Seq(col("ts"), col("event_id"))
      val gain = greatest(col("d"), lit(0L)).cast("double")
      val loss = greatest(-col("d"), lit(0L)).cast("double")
      val ag = graft.functions.EwmAvg.ewmAvg(gain, 0.0625, entity, ord)
      val al = graft.functions.EwmAvg.ewmAvg(loss, 0.0625, entity, ord)
      e.select(col("event_id"),
        when(ag + al > 0.0, lit(100.0) * ag / (ag + al)).as("rsi"))
    }),

    // J26: entity resolution re-scored with Jaro-Winkler — j19's
    // pipeline shape (deterministic dirty feed, density-adaptive
    // price-band blocking targeting ~10 rows per block, over-cap
    // blocks dropped) with the similarity that actually ranks name
    // matches: JW weighs shared prefixes and transpositions, where
    // levenshtein scores "widget cold" vs "cold widget" as far. The
    // scorer is the new native codegen'd expression, probe-verified
    // bit-identical to DuckDB's jaro_winkler_similarity; emitted r6.
    "j26_jw_entity" -> ((s, dir) => {
      val p = part(s, dir).select(col("p_partkey"), col("p_name"),
        col("p_type"), lattice(col("p_retailprice"), 100).as("pc"))
      val stats = p.agg(min("pc").as("mn"),
        (max("pc") - min("pc") + 1).as("rng"),
        greatest(lit(1L), (count(lit(1)) / 50).cast("long")).as("nb"))
      val pb = p.crossJoin(broadcast(stats))
        .withColumn("blk", concat(col("p_type"), lit("#"),
          expr("((pc - mn) * nb) DIV rng").cast("string")))
      val dirty = pb.select(col("p_partkey").as("rid"),
        when(col("p_partkey") % 3 === 0, concat(col("p_name"), lit("x")))
          .when(col("p_partkey") % 3 === 1,
            // swap the two words: "cold widget" -> "widget cold"
            concat_ws(" ", reverse(split(col("p_name"), " "))))
          .otherwise(concat(lit("z"), substring(col("p_name"), 2, 1000)))
          .as("d_name"),
        col("blk"))
      val lb = pb.select(col("p_partkey"), col("p_name"), col("blk"))
      val keptBlk = dirty.groupBy("blk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= 100).select("blk")
      val jw = graft.functions.JaroWinkler.jaroWinkler(
        col("p_name"), col("d_name"))
      lb.join(keptBlk, "blk").join(dirty, "blk")
        .select(col("p_partkey"), col("rid"), r6(jw).as("jw"),
          when(jw >= 0.90, "match").when(jw >= 0.70, "possible")
            .otherwise("non_match").as("verdict"))
    }),

    // O33: zone-interval overlap depth — the measured clustering
    // quality of the natural layout. Each zone (o16's l_orderkey DIV
    // 1000 file proxy) contributes an [min_c, max_c] price interval;
    // sweeping +1/−1 boundary events in (pos, start-before-end)
    // order gives, at every boundary, how many zone intervals a
    // point lookup there must scan — depth 1 everywhere is a
    // perfectly clustered table, depth ≈ n_zones is unclustered.
    // The running sum is DistRank (zones are row-scale at 100 TB:
    // millions of files — never a one-task global window); ties
    // break on (delta desc, zone), a total order, so depth is
    // deterministic. All-integer.
    "o33_overlap_depth" -> ((s, dir) => {
      val zones = lineitem(s, dir)
        .select(expr("l_orderkey DIV 1000").as("zone"),
          lattice(col("l_extendedprice"), 100).as("c"))
        .groupBy("zone").agg(min("c").as("min_c"), max("c").as("max_c"))
      val ev = zones.select(col("zone"), col("min_c").as("pos"),
          lit(1L).as("delta"))
        .unionAll(zones.select(col("zone"), col("max_c").as("pos"),
          lit(-1L).as("delta")))
      graft.operators.DistRank.cumsum(ev, col("pos"),
        Seq(col("pos"), col("delta").desc, col("zone")),
        Seq(col("delta") -> "depth"), inclusive = true)
        .select(col("zone"), col("pos"), col("delta"), col("depth"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  private val OverUser =
    "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

  val oracle: Seq[(String, String)] = Seq(

    "w73_rsi" ->
      s"""WITH d AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100)} -
         |  lag(${latticeSql("value", 100)}, 1)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
         | FROM events),
         |f AS (SELECT event_id, user_id, ts, d FROM d WHERE d IS NOT NULL),
         |r AS (SELECT event_id,
         |  list_reduce(list(greatest(d, 0)::DOUBLE) $OverUser,
         |    (acc, x) -> 0.0625 * x + 0.9375 * acc) AS ag,
         |  list_reduce(list(greatest(-d, 0)::DOUBLE) $OverUser,
         |    (acc, x) -> 0.0625 * x + 0.9375 * acc) AS al
         | FROM f)
         |SELECT event_id,
         | CASE WHEN ag + al > 0.0 THEN 100.0 * ag / (ag + al) END AS rsi
         |FROM r""".stripMargin,

    "j26_jw_entity" ->
      s"""WITH p AS (SELECT p_partkey, p_name, p_type,
        |  ${latticeSql("p_retailprice", 100)} AS pc FROM part),
        |st AS (SELECT min(pc) AS mn, max(pc) - min(pc) + 1 AS rng,
        |  greatest(1, count(*) // 50) AS nb FROM p),
        |pb AS (SELECT p_partkey, p_name,
        |  p_type || '#' || CAST(((pc - mn) * nb) // rng AS VARCHAR)
        |    AS blk
        | FROM p CROSS JOIN st),
        |dirty AS (SELECT p_partkey AS rid,
        |  CASE WHEN p_partkey % 3 = 0 THEN p_name || 'x'
        |   WHEN p_partkey % 3 = 1 THEN
        |    list_aggregate(list_reverse(string_split(p_name, ' ')),
        |      'string_agg', ' ')
        |   ELSE 'z' || substr(p_name, 2) END AS d_name,
        |  blk FROM pb),
        |kept AS (SELECT blk FROM dirty GROUP BY blk
        |  HAVING count(*) <= 100)
        |SELECT p_partkey, rid,
        | round(jaro_winkler_similarity(p_name, d_name), 6) AS jw,
        | CASE WHEN jaro_winkler_similarity(p_name, d_name) >= 0.90
        |   THEN 'match'
        |  WHEN jaro_winkler_similarity(p_name, d_name) >= 0.70
        |   THEN 'possible'
        |  ELSE 'non_match' END AS verdict
        |FROM pb JOIN kept USING (blk) JOIN dirty USING (blk)""".stripMargin,

    "o33_overlap_depth" ->
      s"""WITH zones AS (SELECT l_orderkey // 1000 AS zone,
        |  min(${latticeSql("l_extendedprice", 100)}) AS min_c,
        |  max(${latticeSql("l_extendedprice", 100)}) AS max_c
        | FROM lineitem GROUP BY 1),
        |ev AS (SELECT zone, min_c AS pos, 1::BIGINT AS delta FROM zones
        | UNION ALL
        | SELECT zone, max_c AS pos, -1::BIGINT AS delta FROM zones)
        |SELECT zone, pos, delta,
        | CAST(sum(delta) OVER (ORDER BY pos, delta DESC, zone
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS depth
        |FROM ev""".stripMargin)
}
