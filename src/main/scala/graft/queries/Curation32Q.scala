package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.DistRank
import Q._

/** Round-7 batch 32: sequence dynamic programming on exact integer
  * lattices (Viterbi HMM decoding, bounded DTW alignment distance),
  * maximal-marginal-relevance retrieval diversification, and a
  * bitmap-index build with an AND-query readout. Net-new vs the
  * 352-query surface (grep-checked: no viterbi/dtw/mmr/bitmap
  * anywhere). Every DP cell, vote, and mask is a BIGINT; the only
  * floats are MMR's audited cosine chains, integerized at 1e-6
  * before any decision.
  */
object Curation32Q extends QueryModule {

  /** Viterbi lane width: packed acc = v0·2^20 + v1. Costs are
    * milli-nat integers bounded by 16 steps × ~3.2k + the idle-lane
    * init sentinel 100000 — far below 2^20. */
  private val Lane = 1L << 20

  /** HMM parameters as -ln(p) milli-nat integer costs. States:
    * 0 = engaged, 1 = idle; observation o = "high-value event"
    * (cents >= 10000). The start state is engaged, so the priors ARE
    * the transition costs out of it (v0 = 0, v1 = sentinel). */
  private val T00 = 223L;  private val T01 = 1609L // from engaged
  private val T10 = 1204L; private val T11 = 357L  // from idle
  private val EH0 = 511L;  private val EL0 = 916L  // engaged emits
  private val EH1 = 1609L; private val EL1 = 223L  // idle emits
  private val Inf = 100000L

  /** One DTW cell column name. */
  private def cn(i: Int, j: Int) = s"c_${i}_$j"

  val queries: Seq[(String, QueryFn)] = Seq(

    // W65: Viterbi decoding of a 2-state HMM (engaged/idle) over each
    // user's last 16 events — the classic latent-state sequence
    // labeler (session intent, channel state, POS tags). The whole DP
    // is ONE left fold over the time-ordered observation array with a
    // packed-BIGINT accumulator (two 20-bit cost lanes), so both
    // engines run the identical recurrence: scalar-typed lambdas are
    // the deterministic list_reduce class (ORACLE_NOTES trap 8).
    // Scale shape: the tail-16 filter is a per-user window, the fold
    // is map-side over a ≤16-element array — O(1) state per key.
    "w65_viterbi" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
      val tail = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (lattice(col("value"), 100) >= 10000L).cast("long")
            .as("o"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 16)
      val byUser = tail.groupBy("user_id")
        .agg(count(lit(1)).as("n_obs"),
          transform(sort_array(collect_list(struct(
            col("ts_us"), col("event_id"), col("o")))), x => x.getField("o"))
            .as("obs"))
      val init = 0L * Lane + Inf
      val folded = byUser.withColumn("acc",
        aggregate(col("obs"), lit(init), (acc, o) => {
          val v0 = DistRank.ldiv(acc, lit(Lane))
          val v1 = pmod(acc, lit(Lane))
          val e0 = when(o === 1L, lit(EH0)).otherwise(lit(EL0))
          val e1 = when(o === 1L, lit(EH1)).otherwise(lit(EL1))
          (least(v0 + T00, v1 + T10) + e0) * Lane +
            (least(v0 + T01, v1 + T11) + e1)
        }))
      folded.select(col("user_id"), col("n_obs"),
        DistRank.ldiv(col("acc"), lit(Lane)).as("cost_engaged"),
        pmod(col("acc"), lit(Lane)).as("cost_idle"),
        least(DistRank.ldiv(col("acc"), lit(Lane)),
          pmod(col("acc"), lit(Lane))).as("best_cost"),
        when(DistRank.ldiv(col("acc"), lit(Lane)) <=
          pmod(col("acc"), lit(Lane)),
          lit("engaged")).otherwise(lit("idle")).as("best_state"))
    }),

    // W66: dynamic-time-warping distance between ADJACENT users' last
    // 8 event values (cent lattice) — the alignment-tolerant series
    // distance behind gesture/shape/load-profile matching. The 8×8 DP
    // is UNROLLED into 64 chained integer columns (each cell one
    // least-of-3 + |diff|), so there is no recursion, no UDF, and the
    // whole thing is a codegen'd map stage; the oracle mirrors it as
    // 8 generated row-level CTEs. User pairing rides DistRank (no
    // global window). Users with < 8 events are skipped (fixed-shape
    // DP), reported via the n_users_skipped audit column.
    "w66_dtw" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
      val tail = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 8)
      val series = tail.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          transform(sort_array(collect_list(struct(
            col("ts_us"), col("event_id"), col("c")))), x => x.getField("c"))
            .as("arr"))
        .filter(col("n") === 8)
      val ranked = DistRank.rowNumber(series, col("user_id").cast("double"),
        Seq(col("user_id")), "rk")
      val pairs = ranked.select(col("rk"), col("user_id").as("user_a"),
          col("arr").as("a"))
        .join(ranked.select((col("rk") - 1L).as("rk"),
          col("user_id").as("user_b"), col("arr").as("b")), "rk")
      def cost(i: Int, j: Int): Column =
        abs(element_at(col("a"), i) - element_at(col("b"), j))
      // unrolled DP: chain columns so the plan is a DAG, not an
      // exponentially re-expanded tree
      val withDp = (0 until 8).foldLeft(pairs) { (df, i) =>
        (0 until 8).foldLeft(df) { (d, j) =>
          val c = cost(i + 1, j + 1)
          val prev: Column =
            if (i == 0 && j == 0) lit(0L)
            else if (i == 0) col(cn(0, j - 1))
            else if (j == 0) col(cn(i - 1, 0))
            else least(col(cn(i - 1, j)), col(cn(i, j - 1)),
              col(cn(i - 1, j - 1)))
          d.withColumn(cn(i, j), c + prev)
        }
      }
      withDp.select(col("user_a"), col("user_b"),
        col(cn(7, 7)).as("dtw"))
    }),

    // S: maximal marginal relevance (Carbonell & Goldstein 1998) —
    // the diversity re-ranker between retrieval and the LLM context
    // window. Pool = top-12 candidates by cosine to query vector 0
    // (DistRank global rank, no single-partition window); then 4
    // greedy rounds of argmax over score = rel − max-sim-to-selected,
    // entirely on the 1e-6 integer cosine lattice (λ = 1/2 cancels).
    // Each round is one packed-BIGINT max + two bounded 1-row driver
    // fetches (s_kcenter class); selected vectors re-enter as
    // broadcast literals. Oracle: generated 4-round CTE chain.
    "s_mmr" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val qemb = e.filter(col("vec_id") === 0L).head()
        .getSeq[Float](1).toArray
      def cos6To(v: Array[Float]): Column =
        round(graft.functions.Vectors.cosine(col("embedding"),
          typedLit(v.toSeq)) * 1000000L).cast("long")
      val scored = e.filter(col("vec_id") > 0L)
        .select(col("vec_id"), col("embedding"), cos6To(qemb).as("rel6"))
      val pool = DistRank.rowNumber(scored, -col("rel6").cast("double"),
          Seq(col("rel6").desc, col("vec_id")), "rk")
        .filter(col("rk") <= 12)
        .select(col("vec_id"), col("embedding"), col("rel6")).cache()
      // greedy MMR: score6 = rel6 - max sim6 to selected (0 in round 1)
      val Off = 1L << 22 // scores in ±2e6: offset keeps the pack positive
      var selected = Vector.empty[(Long, Long, Long, Array[Float])]
      for (r <- 1 to 4) {
        val simCols = selected.map(sel => cos6To(sel._4))
        val maxsim =
          if (simCols.isEmpty) lit(0L)
          else if (simCols.size == 1) simCols.head
          else greatest(simCols: _*)
        val cand = pool
          .filter(!col("vec_id").isin(selected.map(_._1): _*))
          .select(col("vec_id"), col("rel6"),
            (col("rel6") - maxsim).as("score6"))
        val packed = cand.agg(max((col("score6") + Off) * (1L << 32) +
          (lit((1L << 32) - 1L) - col("vec_id")))).head().getLong(0)
        val vid = (1L << 32) - 1L -
          java.lang.Long.remainderUnsigned(packed, 1L << 32)
        val score6 = java.lang.Long.divideUnsigned(packed, 1L << 32) - Off
        val row = pool.filter(col("vec_id") === vid).head()
        selected = selected :+
          ((vid, row.getAs[Long]("rel6"), score6,
            row.getSeq[Float](1).toArray))
      }
      s.createDataFrame(selected.zipWithIndex.map { case ((v, rel, sc, _), i) =>
        (i.toLong + 1L, v, rel, sc)
      }).toDF("mmr_rank", "vec_id", "rel6", "score6")
    }),

    // O27: bitmap-index build + AND-query readout — the Roaring/
    // bitmap-index primitive behind fast OLAP predicates. Row id =
    // 8·orderkey + linenumber (the synthetic generator does NOT
    // enforce (orderkey, linenumber) uniqueness; colliding rids share
    // a bit, which idempotent order-free bit_or keeps engine-exact);
    // 32-bit words keep every shifted bit in signed-BIGINT
    // range on both engines. Two predicate bitmaps (returnflag = 'R',
    // quantity > 25) build in ONE keyed bit_or agg; the AND readout
    // (rows satisfying both) is a map-side mask intersection +
    // popcount — the point of the index: no re-scan of the fact
    // table. Integer-only end to end.
    "o27_bitmap" -> ((s, dir) => {
      val li = lineitem(s, dir).select(
        (col("l_orderkey") * 8L + col("l_linenumber")).as("rid"),
        col("l_returnflag"), col("l_quantity"))
      val words = li
        .select(DistRank.ldiv(col("rid"), lit(32L)).as("bucket"),
          pmod(col("rid"), lit(32L)).as("bit"),
          col("l_returnflag"), col("l_quantity"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          bit_or(when(col("l_returnflag") === "R",
            expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
            .otherwise(0L)).as("mask_r"),
          bit_or(when(col("l_quantity") > 25.0,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"))
            .otherwise(0L)).as("mask_q"))
      words.select(col("bucket"), col("n_rows"), col("mask_r"),
        col("mask_q"),
        col("mask_r").bitwiseAND(col("mask_q")).as("mask_and"),
        bit_count(col("mask_r").bitwiseAND(col("mask_q"))).cast("long")
          .as("n_and"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** One MMR round in DuckDB: argmax of rel6 − max sim6 to the
    * already-selected CTE rows (score desc, vec_id tiebreak). */
  private def mmrRound(r: Int): String = {
    val sims =
      if (r == 1) "0"
      else (1 until r).map(i =>
        latticeSql(LlmQ.cosSql("p.embedding", s"m$i.emb$i"), 1000000))
        .mkString("greatest(", ", ", ")")
    val joins = (1 until r).map(i => s"CROSS JOIN m$i").mkString(" ")
    val notSel =
      if (r == 1) ""
      else "WHERE p.vec_id NOT IN (" +
        (1 until r).map(i => s"(SELECT vec_id FROM m$i)").mkString(", ") + ")"
    s"""w$r AS (SELECT p.vec_id, p.rel6, p.rel6 - $sims AS score6
       |  FROM pool p $joins $notSel
       |  ORDER BY score6 DESC, p.vec_id LIMIT 1),
       |m$r AS (SELECT w$r.vec_id, w$r.rel6, w$r.score6, p.embedding AS emb$r
       |  FROM w$r JOIN pool p USING (vec_id))""".stripMargin
  }

  /** One DTW row-level (8 cells) in DuckDB, referencing the previous
    * CTE's columns — generated so correctness never hinges on
    * same-SELECT lateral-alias precedence (ADVICE hilbertSql class). */
  private def dtwLevel(i: Int): String = {
    val cells = (0 until 8).map { j =>
      val c = s"abs(a[${i + 1}] - b[${j + 1}])"
      val prev =
        if (i == 0 && j == 0) "0"
        else if (i == 0) cn(0, j - 1)
        else if (j == 0) cn(i - 1, 0)
        else s"least(${cn(i - 1, j)}, ${cn(i, j - 1)}, ${cn(i - 1, j - 1)})"
      s"$c + $prev AS ${cn(i, j)}"
    }.mkString(", ")
    s"l$i AS (SELECT *, $cells FROM ${if (i == 0) "pr" else s"l${i - 1}"})"
  }

  val oracle: Seq[(String, String)] = Seq(

    "w65_viterbi" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |  (${latticeSql("value", 100)} >= 10000)::BIGINT AS o,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn
         | FROM events),
         |u AS (SELECT user_id, count(*)::BIGINT AS n_obs,
         |  list(o ORDER BY ts_us, event_id) AS obs
         | FROM e WHERE rn <= 16 GROUP BY user_id),
         |f AS (SELECT user_id, n_obs,
         |  list_reduce(list_prepend(${0L * Lane + Inf}::BIGINT, obs),
         |   (acc, o) ->
         |    (least(acc // $Lane + $T00, acc % $Lane + $T10)
         |      + CASE WHEN o = 1 THEN $EH0 ELSE $EL0 END) * $Lane
         |    + (least(acc // $Lane + $T01, acc % $Lane + $T11)
         |      + CASE WHEN o = 1 THEN $EH1 ELSE $EL1 END)) AS acc
         | FROM u)
         |SELECT user_id, n_obs,
         | (acc // $Lane)::BIGINT AS cost_engaged,
         | (acc % $Lane)::BIGINT AS cost_idle,
         | least(acc // $Lane, acc % $Lane)::BIGINT AS best_cost,
         | CASE WHEN acc // $Lane <= acc % $Lane
         |   THEN 'engaged' ELSE 'idle' END AS best_state
         |FROM f""".stripMargin,

    "w66_dtw" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |  ${latticeSql("value", 100)} AS c,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn
         | FROM events),
         |u AS (SELECT user_id, count(*) AS n,
         |  list(c ORDER BY ts_us, event_id) AS arr
         | FROM e WHERE rn <= 8 GROUP BY user_id HAVING count(*) = 8),
         |rk AS (SELECT user_id, arr,
         |  row_number() OVER (ORDER BY user_id) AS rk FROM u),
         |pr AS (SELECT x.user_id AS user_a, y.user_id AS user_b,
         |  x.arr AS a, y.arr AS b
         | FROM rk x JOIN rk y ON y.rk = x.rk + 1),
         |${(0 until 8).map(dtwLevel).mkString(",\n")}
         |SELECT user_a, user_b, ${cn(7, 7)}::BIGINT AS dtw FROM l7"""
        .stripMargin,

    "s_mmr" ->
      s"""WITH sc AS (SELECT e.vec_id, e.embedding,
         |  ${latticeSql(LlmQ.cosSql("e.embedding", "q.embedding"), 1000000)}
         |    AS rel6
         | FROM embeddings e CROSS JOIN
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         | WHERE e.vec_id > 0),
         |pool AS (SELECT vec_id, embedding, rel6 FROM
         |  (SELECT *, row_number() OVER (ORDER BY rel6 DESC, vec_id) AS rk
         |   FROM sc) WHERE rk <= 12),
         |${(1 to 4).map(mmrRound).mkString(",\n")}
         |${(1 to 4).map(r =>
           s"SELECT $r::BIGINT AS mmr_rank, vec_id, rel6, score6 FROM m$r")
           .mkString("\nUNION ALL\n")}""".stripMargin,

    "o27_bitmap" ->
      """WITH li AS (SELECT l_orderkey * 8 + l_linenumber AS rid,
        |  l_returnflag, l_quantity FROM lineitem),
        |w AS (SELECT rid // 32 AS bucket, rid % 32 AS bit,
        |  l_returnflag, l_quantity FROM li),
        |g AS (SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
        |  bit_or(CASE WHEN l_returnflag = 'R'
        |    THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS mask_r,
        |  bit_or(CASE WHEN l_quantity > 25
        |    THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS mask_q
        | FROM w GROUP BY 1)
        |SELECT bucket, n_rows, mask_r, mask_q,
        | (mask_r & mask_q)::BIGINT AS mask_and,
        | bit_count(mask_r & mask_q)::BIGINT AS n_and
        |FROM g""".stripMargin)
}
