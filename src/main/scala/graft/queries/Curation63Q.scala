package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.Vectors
import Q._

/** Round-9 batch 63: multi-probe LSH (the recall lever production ANN
  * uses INSTEAD of more hash tables — probe the Hamming-1 neighbor
  * buckets of one band rather than adding bands, trading one bounded
  * fan-out join for s_srp_lsh's second table), and a 1D Kalman level
  * filter (the state-space smoother the EWM family approximates —
  * time-varying gain, not a fixed alpha). Net-new vs the 446-query
  * surface (grep-checked: no multiprobe/kalman).
  */
object Curation63Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // S/net-new: multi-probe SRP-LSH candidate pairs. One 8-bit
    // hyperplane-sign band (the LOW half of s_srp_lsh's signature);
    // every vector indexes under its exact bucket and PROBES its
    // bucket plus the 8 Hamming-1 flips. A pair is a candidate iff
    // band Hamming ≤ 1 — the S-curve recall of two tables from ONE
    // table plus a 9× bounded probe fan-out (probe rows, not data
    // rows, scale with N). Bucket membership is engine-exact (the
    // bitwise-portable unrolled projections of v_randproj); hot
    // buckets cap at 100 like every banded family here; exact cosine
    // + the band Hamming distance annotate each pair.
    "s_multiprobe" -> ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val proj = Similarity.randomProjection(e, "embedding", 64, 8)
      val sig = (0 until 8)
        .map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      val sigs = proj.select(col("vec_id"), sig.as("bk")).cache()
      val kept = sigs.join(
        sigs.groupBy("bk").agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= 100).select("bk"), "bk")
      val probes = kept.select(col("vec_id").as("vec_p"),
        explode(array(col("bk") +: (0 until 8).map(b =>
          col("bk").bitwiseXOR(lit(1L << b))): _*)).as("bk"))
      val pairs = probes
        .join(kept.select(col("bk"), col("vec_id").as("vec_i")), "bk")
        .filter(col("vec_p") =!= col("vec_i"))
        .select(least(col("vec_p"), col("vec_i")).as("vec_a"),
          greatest(col("vec_p"), col("vec_i")).as("vec_b"))
        .distinct()
      val sa = sigs.select(col("vec_id").as("vec_a"), col("bk").as("ba"))
      val sb = sigs.select(col("vec_id").as("vec_b"), col("bk").as("bb"))
      val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      pairs.join(sa, "vec_a").join(sb, "vec_b")
        .join(ea, "vec_a").join(eb, "vec_b")
        .select(col("vec_a"), col("vec_b"),
          bit_count(col("ba").bitwiseXOR(col("bb"))).cast("long")
            .as("ham_band"),
          r6(Vectors.cosine(col("ea"), col("eb"))).as("cos"))
    }),

    // W75: 1D Kalman level filter per user over the last 64
    // observations (the w65_viterbi bounded-tail contract: state is
    // O(1), the collected fold window is a fixed constant at any
    // scale). Random-walk level model with DYADIC noise variances
    // q = 2²² (process), r = 2²⁴ (observation) on the cent scale;
    // seed x₀ = z₀, p₀ = r. Per step: k = (p+q)/(p+q+r),
    // x ← x + k(z−x), p ← (1−k)(p+q) — a LEFT fold of divisions of
    // deterministic doubles, pointwise identical on both engines
    // (the w65 replay class), emitted raw. The time-varying gain is
    // what the fixed-alpha EWM family cannot express: early
    // observations are trusted less (p large), the gain converges to
    // the steady state as evidence accumulates.
    "w75_kalman" -> ((s, dir) => {
      val wDesc = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val tail = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lattice(col("value"), 100).as("c"))
        .withColumn("__rn", row_number().over(wDesc))
        .filter(col("__rn") <= 64)
      val g = tail.groupBy("user_id").agg(
        sort_array(collect_list(struct(col("ts_us"), col("event_id"),
          col("c").cast("double").as("z")))).as("xs"))
      val q = lit(4194304.0)  // 2^22
      val r = lit(16777216.0) // 2^24
      val seed = struct(
        element_at(col("xs"), 1).getField("z").as("x"), r.as("p"))
      val fin = aggregate(
        slice(col("xs"), 2, 1000000),
        seed,
        (acc, el) => {
          val pp = acc.getField("p") + q
          val k = pp / (pp + r)
          struct(
            (acc.getField("x") +
              k * (el.getField("z") - acc.getField("x"))).as("x"),
            ((lit(1.0) - k) * pp).as("p"))
        })
      g.select(col("user_id"), size(col("xs")).cast("long").as("n"),
        fin.getField("x").as("kalman_x"),
        fin.getField("p").as("kalman_p"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "s_multiprobe" -> {
      val scale = math.sqrt(8.0)
      val projs = (0 until 8).map { j =>
        val sum = (0 until 64).map { i =>
          s"(${Similarity.projSign(j, i, 64)}) * (embedding[${i + 1}]::DOUBLE)"
        }.mkString(" + ")
        s"(($sum) / $scale) AS p$j"
      }.mkString(",\n ")
      val sig = (0 until 8)
        .map(j => s"CASE WHEN p$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      s"""WITH p AS (SELECT vec_id,
         | $projs
         |FROM embeddings),
         |sg AS (SELECT vec_id, CAST($sig AS BIGINT) AS bk FROM p),
         |kept AS (SELECT vec_id, bk FROM sg WHERE bk IN
         |  (SELECT bk FROM sg GROUP BY bk HAVING count(*) <= 100)),
         |probes AS (SELECT vec_id AS vec_p,
         |  CASE WHEN j = 0 THEN bk ELSE xor(bk, 1 << (j - 1)) END AS bk
         | FROM kept, range(0, 9) AS t(j)),
         |pr AS (SELECT DISTINCT least(vec_p, i.vec_id) AS vec_a,
         |   greatest(vec_p, i.vec_id) AS vec_b
         |  FROM probes p JOIN kept i USING (bk)
         |  WHERE p.vec_p <> i.vec_id),
         |withsig AS (SELECT vec_a, vec_b, sa.bk AS ba, sb.bk AS bb
         |  FROM pr JOIN sg sa ON sa.vec_id = vec_a
         |          JOIN sg sb ON sb.vec_id = vec_b),
         |j AS (SELECT vec_a, vec_b, ba, bb,
         |   ea.embedding AS ea, eb.embedding AS eb
         |  FROM withsig JOIN embeddings ea ON ea.vec_id = vec_a
         |          JOIN embeddings eb ON eb.vec_id = vec_b),
         |m AS (SELECT vec_a, vec_b,
         |  CAST(bit_count(xor(ba, bb)) AS BIGINT) AS ham_band,
         |  list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> x::DOUBLE * eb[i]::DOUBLE)), (a, b) -> a + b) AS dot,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> x::DOUBLE * ea[i]::DOUBLE)), (a, b) -> a + b)) AS na,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(eb, (x, i) -> x::DOUBLE * eb[i]::DOUBLE)), (a, b) -> a + b)) AS nb
         | FROM j)
         |SELECT vec_a, vec_b, ham_band,
         | round(CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0.0 END, 6) AS cos
         |FROM m""".stripMargin
    },

    "w75_kalman" ->
      s"""WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        | FROM events),
        |g AS (SELECT user_id,
        |  list(struct_pack(ts_us := ts_us, event_id := event_id,
        |    z := c::DOUBLE) ORDER BY ts_us, event_id) AS xs
        | FROM t WHERE rn <= 64 GROUP BY user_id),
        |f AS (SELECT user_id, len(xs)::BIGINT AS n,
        |  list_reduce(
        |    list_prepend({'x': xs[1].z, 'p': 16777216.0::DOUBLE},
        |      list_transform(xs[2:], e -> {'x': e.z, 'p': 0.0::DOUBLE})),
        |    (acc, el) -> {
        |      'x': acc.x + ((acc.p + 4194304.0) /
        |             (acc.p + 4194304.0 + 16777216.0))
        |             * (el.x - acc.x),
        |      'p': (1.0 - (acc.p + 4194304.0) /
        |             (acc.p + 4194304.0 + 16777216.0))
        |             * (acc.p + 4194304.0)}) AS st
        | FROM g)
        |SELECT user_id, n, st.x AS kalman_x, st.p AS kalman_p
        |FROM f""".stripMargin)
}
