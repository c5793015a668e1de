package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 65: the Brunner-Munzel test (the modern replacement
  * for Mann-Whitney when the two arms may differ in VARIANCE, not
  * just location — a50's U assumes equal-shape nulls; BM studentizes
  * the placement variance per arm) and rolling type-entropy (the
  * behavioral-unpredictability window score — w22 counts distincts,
  * this weighs them). Net-new vs the 449-query surface (grep-checked:
  * no brunner/rolling entropy).
  */
object Curation65Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A112: Brunner-Munzel per event type, even-user arm A vs odd
    // arm B. EXACT construction on the doubled-midrank lattice: with
    // dr = doubled combined midrank and drw = doubled within-arm
    // midrank, the placement a = dr − drw is an exact integer;
    // each arm's placement variance clears to the exact
    // DECIMAL(38,0) moment n·Σa² − (Σa)², and scipy's statistic
    //   w = nx·ny·(R̄y − R̄x) / ((nx+ny)·sqrt(nx·Sx + ny·Sy))
    // reduces to (na·rb2 − nb·ra2) over a sqrt of two exact-moment
    // divisions — a token-mirrored pointwise IEEE chain (the a50
    // class, raw doubles). p̂ = P(A<B) + ½P(=) is ONE division of
    // exact BIGINTs: (rb2 − nb(nb+1)) / (2·na·nb).
    "a112_brunner_munzel" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_type"), (col("user_id") % 2 === 0).as("armA"),
          lattice(col("value"), 100).as("c"))
      val wVal = Window.partitionBy("event_type").orderBy("c")
      val wTie = Window.partitionBy("event_type", "c")
      val wValW = Window.partitionBy("event_type", "armA").orderBy("c")
      val wTieW = Window.partitionBy("event_type", "armA", "c")
      val ranked = e.select(col("event_type"), col("armA"),
        (rank().over(wVal).cast("long") * 2 +
          count(lit(1)).over(wTie) - 1).as("dr"),
        (rank().over(wValW).cast("long") * 2 +
          count(lit(1)).over(wTieW) - 1).as("drw"))
        .withColumn("a", col("dr") - col("drw"))
      val g = ranked.groupBy("event_type").agg(
        sum(when(col("armA"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("armA"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("armA"), col("dr")).otherwise(0L)).as("ra2"),
        sum(when(!col("armA"), col("dr")).otherwise(0L)).as("rb2"),
        sum(when(col("armA"), col("a")).otherwise(0L)).as("sa1"),
        sum(when(col("armA"),
          col("a").cast("decimal(38,0)") * col("a")).otherwise(
          lit(0L).cast("decimal(38,0)"))).as("sa2"),
        sum(when(!col("armA"), col("a")).otherwise(0L)).as("sb1"),
        sum(when(!col("armA"),
          col("a").cast("decimal(38,0)") * col("a")).otherwise(
          lit(0L).cast("decimal(38,0)"))).as("sb2"))
        .filter(col("na") >= 2L && col("nb") >= 2L)
      // exact DECIMAL(38,0) placement moments: n·Σa² − (Σa)²
      val mxN = col("na") * col("sa2") -
        col("sa1").cast("decimal(38,0)") * col("sa1")
      val myN = col("nb") * col("sb2") -
        col("sb1").cast("decimal(38,0)") * col("sb1")
      // nx·Sx + ny·Sy = mxN/(4(na−1)) + myN/(4(nb−1))
      val den = sqrt(mxN.cast("double") / (lit(4.0) *
        (col("na") - 1L).cast("double")) +
        myN.cast("double") / (lit(4.0) * (col("nb") - 1L).cast("double")))
      val num = (col("na") * col("rb2") - col("nb") * col("ra2"))
        .cast("double") / (lit(2.0) * (col("na") + col("nb")).cast("double"))
      g.select(col("event_type"), col("na"), col("nb"),
        r6((col("rb2") - col("nb") * (col("nb") + 1L)).cast("double") /
          (lit(2.0) * (col("na") * col("nb")).cast("double"))).as("p_hat"),
        when(den > 0.0, num / den).as("w_bm"))
    }),

    // W77: rolling Shannon entropy of the event-type mix over each
    // user's trailing 8 events — the behavioral-unpredictability
    // score (w22's rolling distinct count weighs a 7-1 split and a
    // 4-4 split identically; entropy separates them). The five type
    // counts come from conditional sums over ONE window exchange;
    // H = −Σ (c/k)·ln(c/k) is a FIXED five-term pointwise chain in
    // pinned alphabetical type order on both engines, r6.
    "w77_rolling_entropy" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id").rowsBetween(-7, 0)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
      val counts = types.map(t =>
        sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w))
      val k = count(lit(1)).over(w)
      val withC = e.select(col("event_id") +: k.as("k") +:
        counts.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
      val h = types.indices.map { i =>
        val frac = col(s"c$i").cast("double") / col("k").cast("double")
        when(col(s"c$i") > 0L, -frac * log(frac)).otherwise(lit(0.0))
      }.reduce(_ + _)
      withC.select(col("event_id"), col("k"), r6(h).as("h_type"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a112_brunner_munzel" ->
      s"""WITH e AS (SELECT event_type, user_id % 2 = 0 AS arma,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |r AS (SELECT event_type, arma,
        |  rank() OVER (PARTITION BY event_type ORDER BY c)::BIGINT * 2
        |   + count(*) OVER (PARTITION BY event_type, c) - 1 AS dr,
        |  rank() OVER (PARTITION BY event_type, arma ORDER BY c)::BIGINT
        |   * 2 + count(*) OVER (PARTITION BY event_type, arma, c) - 1
        |   AS drw
        | FROM e),
        |p AS (SELECT event_type, arma, dr, dr - drw AS a FROM r),
        |g AS (SELECT event_type,
        |  sum(CASE WHEN arma THEN 1 ELSE 0 END)::BIGINT AS na,
        |  sum(CASE WHEN NOT arma THEN 1 ELSE 0 END)::BIGINT AS nb,
        |  sum(CASE WHEN arma THEN dr ELSE 0 END)::BIGINT AS ra2,
        |  sum(CASE WHEN NOT arma THEN dr ELSE 0 END)::BIGINT AS rb2,
        |  sum(CASE WHEN arma THEN a ELSE 0 END)::BIGINT AS sa1,
        |  sum(CASE WHEN arma THEN a::DECIMAL(38,0) * a
        |      ELSE 0::DECIMAL(38,0) END) AS sa2,
        |  sum(CASE WHEN NOT arma THEN a ELSE 0 END)::BIGINT AS sb1,
        |  sum(CASE WHEN NOT arma THEN a::DECIMAL(38,0) * a
        |      ELSE 0::DECIMAL(38,0) END) AS sb2
        | FROM p GROUP BY event_type HAVING na >= 2 AND nb >= 2),
        |m AS (SELECT event_type, na, nb, ra2, rb2,
        |  na * sa2 - sa1::DECIMAL(38,0) * sa1 AS mxn,
        |  nb * sb2 - sb1::DECIMAL(38,0) * sb1 AS myn
        | FROM g)
        |SELECT event_type, na, nb,
        | round((rb2 - nb * (nb + 1))::DOUBLE
        |   / (2.0 * (na * nb)::DOUBLE), 6) AS p_hat,
        | CASE WHEN sqrt((mxn::VARCHAR)::DOUBLE / (4.0 * (na - 1)::DOUBLE)
        |     + (myn::VARCHAR)::DOUBLE / (4.0 * (nb - 1)::DOUBLE)) > 0.0
        |  THEN ((na * rb2 - nb * ra2)::DOUBLE / (2.0 * (na + nb)::DOUBLE))
        |   / sqrt((mxn::VARCHAR)::DOUBLE / (4.0 * (na - 1)::DOUBLE)
        |     + (myn::VARCHAR)::DOUBLE / (4.0 * (nb - 1)::DOUBLE))
        | END AS w_bm
        |FROM m""".stripMargin,

    "w77_rolling_entropy" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val over = "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), " +
        "event_id ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)"
      val counts = types.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) $over AS BIGINT) AS c$i"
      }.mkString(",\n ")
      val h = types.indices.map { i =>
        s"CASE WHEN c$i > 0 THEN -(c$i::DOUBLE / k::DOUBLE) * ln(c$i::DOUBLE / k::DOUBLE) ELSE 0.0 END"
      }.mkString(" + ")
      s"""WITH w AS (SELECT event_id,
         | CAST(count(*) $over AS BIGINT) AS k,
         | $counts
         |FROM events)
         |SELECT event_id, k, round($h, 6) AS h_type
         |FROM w""".stripMargin
    })
}
