package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 73: transform selection, density clustering, and a
  * generation metric — Box-Cox λ search over a dyadic grid (which
  * power transform normalizes the value distribution; a100 TESTS
  * normality, Box-Cox picks the transform that achieves it),
  * grid-DBSCAN over the embedding space (density clustering with a
  * noise class — m32/m50's Lloyd assigns EVERY point to a centroid;
  * DBSCAN's core-cell components discover cluster COUNT and leave
  * sparse cells unclustered), and chrF (the character n-gram F-score
  * generation metric — t_bleu is word-precision-only, chrF balances
  * precision/recall on char grams, the standard MT secondary metric).
  * Net-new vs the 472-query surface (grep-checked: no
  * boxcox/dbscan/chrf).
  *
  * Portability: Box-Cox folds ride the bounded value lattice with
  * correctly-rounded per-term transforms (sqrt / reciprocal /
  * squares; ln only at the λ=0 arm and the closing log-likelihood,
  * r6); DBSCAN's grid is DOMAIN-bounded (embedding range / dyadic
  * eps → ≤ ~1.7k cells), so the component step is driver union-find
  * over bounded metadata (the w68 bounded-matrix class) and the
  * oracle is a true fixpoint recursive CTE over the same tiny cell
  * graph; chrF is exact clipped-count arithmetic with pinned F
  * chains.
  */
object Curation73Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A120: Box-Cox profile log-likelihood over λ ∈ {−2, −1, −1/2,
    // 0, 1/2, 1, 2} on positive event cents. ℓ(λ) = −(n/2)·ln(σ̂²_λ)
    // + (λ−1)·Σln x with y_λ = (x^λ − 1)/λ (ln x at λ=0); Σy and Σy²
    // are pinned lattice folds; every y is a chain of
    // correctly-rounded ops (sqrt, /, ·) so the folds agree bitwise
    // and only the closing ln needs r6. The argmax λ is left to the
    // caller (the ladder IS the deliverable, m39-style).
    "a120_boxcox" -> ((s, dir) => {
      val lat = events(s, dir)
        .select(lattice(col("value"), 100).as("c"))
        .filter(col("c") >= 1L)
        .groupBy("c").agg(count(lit(1)).as("m"))
      val g = lat.agg(
        sort_array(collect_list(struct(col("c"), col("m")))).as("xs"),
        sum("m").as("n"))
      // y_λ(c) as a pinned correctly-rounded chain; cd = c as double
      def y(lam: Double)(cd: Column): Column = lam match {
        case 0.0 => log(cd)
        case 1.0 => cd - 1.0
        case 2.0 => (cd * cd - 1.0) / 2.0
        case -1.0 => (lit(1.0) / cd - 1.0) / -1.0
        case 0.5 => (sqrt(cd) - 1.0) / 0.5
        case -0.5 => (lit(1.0) / sqrt(cd) - 1.0) / -0.5
        case -2.0 => (lit(1.0) / (cd * cd) - 1.0) / -2.0
        case _ => throw new IllegalArgumentException(lam.toString)
      }
      val nD = col("n").cast("double")
      val slog = fold(col("xs")) { (a, t) =>
        a + t.getField("m").cast("double") *
          log(t.getField("c").cast("double"))
      }
      def ll(lam: Double): Column = {
        val s1 = fold(col("xs")) { (a, t) =>
          a + t.getField("m").cast("double") *
            y(lam)(t.getField("c").cast("double"))
        }
        val s2 = fold(col("xs")) { (a, t) =>
          val yv = y(lam)(t.getField("c").cast("double"))
          a + t.getField("m").cast("double") * (yv * yv)
        }
        r6(lit(-0.5) * nD * log((s2 - s1 * s1 / nD) / nD) +
          (lit(lam) - 1.0) * slog)
      }
      g.select(col("n"),
        ll(-2.0).as("ll_m2"), ll(-1.0).as("ll_m1"),
        ll(-0.5).as("ll_m05"), ll(0.0).as("ll_0"),
        ll(0.5).as("ll_05"), ll(1.0).as("ll_1"), ll(2.0).as("ll_2"))
    }),

    // M61: grid-DBSCAN over the first two embedding dims. Cell =
    // (⌊e₀·16⌋, ⌊e₁·16⌋) — ×16 and floor are exact on float inputs;
    // core cells hold ≥ 4 points; clusters are the 8-neighborhood
    // connected components of core cells. The cell graph is bounded
    // by the embedding DOMAIN (≤ ~33² cells at any N), so the
    // component fold is driver union-find over bounded metadata with
    // a hard guard, and the oracle's recursive CTE runs to true
    // fixpoint on the same tiny graph.
    "m61_dbscan_grid" -> ((s, dir) => {
      import s.implicits._
      val pts = embeddings(s, dir).select(
        floor(element_at(col("embedding"), 1).cast("double") * 16)
          .cast("long").as("cx"),
        floor(element_at(col("embedding"), 2).cast("double") * 16)
          .cast("long").as("cy"))
      val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("npts"))
      val core = cells.filter(col("npts") >= 4L)
        .withColumn("cell", (col("cx") + 32L) * 64L + col("cy") + 32L)
      val coreRows = core.select("cell", "cx", "cy", "npts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      require(coreRows.length <= 4096,
        s"domain-bounded cell grid exceeded: ${coreRows.length}")
      // driver union-find on the bounded cell set (pinned: cells
      // sorted, union by min root)
      val byCell = coreRows.map(r => r._1 -> (r._2, r._3)).toMap
      val parent = scala.collection.mutable.Map(
        coreRows.map(r => r._1 -> r._1): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for ((cell, (cx, cy)) <- byCell.toSeq.sortBy(_._1);
           dx <- -1L to 1L; dy <- -1L to 1L if (dx, dy) != ((0L, 0L))) {
        val nb = (cx + dx + 32L) * 64L + (cy + dy + 32L)
        if (byCell.contains(nb)) {
          val (ra, rb) = (find(cell), find(nb))
          if (ra != rb) {
            val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
            parent(hi) = lo
          }
        }
      }
      val labels = coreRows
        .map(r => (r._1, find(r._1), r._4)).toSeq
        .toDF("cell", "cluster_id", "npts")
      labels.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_cells"), sum("npts").as("n_points"))
    }),

    // T_CHRF: chrF(β=2) between adjacent docs (candidate i vs
    // reference i+1, the t_bleu pairing) over space-stripped char
    // 2- and 3-grams: per n, P = clip/cand, R = clip/ref,
    // F = 5PR/(4P + R); chrF = (F₂ + F₃)/2 — exact counts, pinned
    // chains, raw.
    "t_chrf" -> ((s, dir) => {
      import graft.functions.AzNgramCodesSorted.azNgramCodesSorted
      import graft.functions.SortedIntMultisetIntersectCount
        .sortedMultisetIntersectCount
      // ZERO gram-grain shuffles, ONE fused kernel per doc per n:
      // every shuffle-based shape tried (round-9 per-n twin pass;
      // round-10 tagged-struct and int-code single-pass variants,
      // all A/B'd at sf10) was bottlenecked by moving ~1 row per
      // gram OCCURRENCE through explode→hash-agg→sort-merge
      // exchanges, and the Spark-native per-doc chain (regexp
      // normalize + char split + boxed array_sort) measured 3.3 s
      // per 5k docs on its own. v4: AzNgramCodesSorted fuses
      // normalize→codes→primitive-sort into one codegen'd byte walk
      // (code ↔ gram bijective for [a-z]); the cache makes the
      // kernel run ONCE per doc (cand and ref are two reads of the
      // same frame); the doc-grain self-join is the only shuffle;
      // clip = Σ_g min(counts) is one codegen'd two-pointer merge
      // per pair (SortedIntMultisetIntersectCount).
      val docGrams = documents(s, dir).select(col("doc_id"),
        azNgramCodesSorted(col("text"), 2).as("s2"),
        azNgramCodesSorted(col("text"), 3).as("s3")).cache()
      val cand = docGrams.select(col("doc_id").as("doc_a"),
        col("s2").as("c2"), col("s3").as("c3"))
      val ref = docGrams.select((col("doc_id") - 1).as("doc_a"),
        col("s2").as("r2"), col("s3").as("r3"))
      // inner join + the size()>0 filters = the per-n inner-join
      // semantics of the original shape (a doc pair emits iff BOTH
      // sides have ≥1 gram of BOTH orders)
      val paired = cand.join(ref.hint("merge"), "doc_a")
        .filter(size(col("c2")) > 0 && size(col("r2")) > 0 &&
          size(col("c3")) > 0 && size(col("r3")) > 0)
        .select(col("doc_a"),
          size(col("c2")).cast("long").as("cand2"),
          size(col("r2")).cast("long").as("ref2"),
          sortedMultisetIntersectCount(col("c2"), col("r2"))
            .as("clip2"),
          size(col("c3")).cast("long").as("cand3"),
          size(col("r3")).cast("long").as("ref3"),
          sortedMultisetIntersectCount(col("c3"), col("r3"))
            .as("clip3"))
      def f(n: Int): Column = {
        val cl = col(s"clip$n")
        val p = cl.cast("double") / col(s"cand$n").cast("double")
        val r = cl.cast("double") / col(s"ref$n").cast("double")
        when(cl > 0L, lit(5.0) * p * r / (lit(4.0) * p + r))
          .otherwise(lit(0.0))
      }
      paired.select(col("doc_a"), (col("doc_a") + 1).as("doc_b"),
        col("cand2"), col("ref2"), col("clip2"),
        col("cand3"), col("ref3"), col("clip3"),
        ((f(2) + f(3)) / 2.0).as("chrf"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a120_boxcox" -> {
      def y(lam: String, cd: String) = lam match {
        case "0" => s"ln($cd)"
        case "1" => s"$cd - 1.0"
        case "2" => s"($cd * $cd - 1.0) / 2.0"
        case "-1" => s"(1.0 / $cd - 1.0) / -1.0"
        case "0.5" => s"(sqrt($cd) - 1.0) / 0.5"
        case "-0.5" => s"(1.0 / sqrt($cd) - 1.0) / -0.5"
        case "-2" => s"(1.0 / ($cd * $cd) - 1.0) / -2.0"
      }
      def ll(lam: String, name: String) = {
        val s1 = s"""list_reduce(list_prepend(0.0::DOUBLE,
                    |   list_transform(xs, t -> t.m::DOUBLE *
                    |     (${y(lam, "t.c::DOUBLE")}))), (a, b) -> a + b)"""
          .stripMargin
        val s2 = s"""list_reduce(list_prepend(0.0::DOUBLE,
                    |   list_transform(xs, t -> t.m::DOUBLE *
                    |     ((${y(lam, "t.c::DOUBLE")})
                    |      * (${y(lam, "t.c::DOUBLE")})))), (a, b) -> a + b)"""
          .stripMargin
        s"""round(-0.5 * n::DOUBLE * ln(($s2 - $s1 * $s1 / n::DOUBLE)
           |  / n::DOUBLE) + ($lam - 1.0) * slog, 6) AS $name"""
          .stripMargin
      }
      s"""WITH lat AS (SELECT ${latticeSql("value", 100)} AS c,
         |  count(*)::BIGINT AS m FROM events
         | WHERE ${latticeSql("value", 100)} >= 1 GROUP BY c),
         |g AS (SELECT list(struct_pack(c := c, m := m) ORDER BY c) AS xs,
         |  CAST(sum(m) AS BIGINT) AS n FROM lat),
         |s AS (SELECT n, xs,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs,
         |    t -> t.m::DOUBLE * ln(t.c::DOUBLE))), (a, b) -> a + b)
         |   AS slog FROM g)
         |SELECT n,
         | ${ll("-2", "ll_m2")},
         | ${ll("-1", "ll_m1")},
         | ${ll("-0.5", "ll_m05")},
         | ${ll("0", "ll_0")},
         | ${ll("0.5", "ll_05")},
         | ${ll("1", "ll_1")},
         | ${ll("2", "ll_2")}
         |FROM s""".stripMargin
    },

    "m61_dbscan_grid" ->
      """WITH RECURSIVE pts AS (SELECT
        |  CAST(floor(embedding[1]::DOUBLE * 16) AS BIGINT) AS cx,
        |  CAST(floor(embedding[2]::DOUBLE * 16) AS BIGINT) AS cy
        | FROM embeddings),
        |cells AS (SELECT cx, cy, count(*)::BIGINT AS npts
        | FROM pts GROUP BY cx, cy),
        |core AS MATERIALIZED (SELECT cx, cy, npts,
        |  (cx + 32) * 64 + cy + 32 AS cell
        | FROM cells WHERE npts >= 4),
        |offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),
        |  (0,-1),(0,1),(1,-1),(1,0),(1,1)) AS t(dx, dy)),
        |edges AS MATERIALIZED (
        | SELECT a.cell AS ca, b.cell AS cb
        | FROM core a JOIN offs ON true
        | JOIN core b ON b.cx = a.cx + dx AND b.cy = a.cy + dy),
        |reach AS (
        | SELECT cell, cell AS lab FROM core
        | UNION
        | SELECT e.ca AS cell, reach.lab
        | FROM reach JOIN edges e ON e.cb = reach.cell),
        |labels AS (SELECT cell, min(lab) AS cluster_id
        | FROM reach GROUP BY cell)
        |SELECT cluster_id, count(*)::BIGINT AS n_cells,
        | CAST(sum(npts) AS BIGINT) AS n_points
        |FROM labels JOIN core USING (cell)
        |GROUP BY cluster_id""".stripMargin,

    "t_chrf" -> {
      val norm = "regexp_replace(lower(text), '[^a-z ]', '', 'g')"
      def grams(n: Int) =
        s"""SELECT doc_id, unnest(list_transform(
           |  range(1, greatest(len(st) - ${n - 1}, 0) + 1),
           |  i -> st[i:i+${n - 1}])) AS g
           | FROM (SELECT doc_id, replace($norm, ' ', '') AS st
           |       FROM documents)
           | WHERE len(st) >= $n""".stripMargin
      def sideN(n: Int) =
        s"""c$n AS MATERIALIZED (SELECT doc_id, g, count(*)::BIGINT AS cnt
           |  FROM (${grams(n)}) GROUP BY doc_id, g),
           |cand$n AS (SELECT doc_id AS doc_a, g, cnt AS c_cnt FROM c$n),
           |ref$n AS (SELECT doc_id - 1 AS doc_a, g, cnt AS r_cnt FROM c$n),
           |totc$n AS (SELECT doc_a, CAST(sum(c_cnt) AS BIGINT) AS cand$n
           |  FROM cand$n GROUP BY doc_a),
           |totr$n AS (SELECT doc_a, CAST(sum(r_cnt) AS BIGINT) AS ref$n
           |  FROM ref$n GROUP BY doc_a),
           |clip$n AS (SELECT doc_a,
           |  CAST(sum(least(c_cnt, r_cnt)) AS BIGINT) AS clip$n
           |  FROM cand$n JOIN ref$n USING (doc_a, g) GROUP BY doc_a),
           |side$n AS (SELECT doc_a, cand$n, ref$n,
           |  COALESCE(clip$n, CAST(0 AS BIGINT)) AS clip$n
           | FROM totc$n JOIN totr$n USING (doc_a)
           | LEFT JOIN clip$n USING (doc_a))""".stripMargin
      def f(n: Int) =
        s"""CASE WHEN clip$n > 0 THEN
           |  5.0 * (clip$n::DOUBLE / cand$n::DOUBLE)
           |      * (clip$n::DOUBLE / ref$n::DOUBLE)
           |  / (4.0 * (clip$n::DOUBLE / cand$n::DOUBLE)
           |     + (clip$n::DOUBLE / ref$n::DOUBLE))
           | ELSE 0.0 END""".stripMargin
      s"""WITH ${sideN(2)},
         |${sideN(3)}
         |SELECT doc_a, doc_a + 1 AS doc_b, cand2, ref2, clip2,
         | cand3, ref3, clip3,
         | ((${f(2)}) + (${f(3)})) / 2.0 AS chrf
         |FROM side2 JOIN side3 USING (doc_a)""".stripMargin
    })
}
