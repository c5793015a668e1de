package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact (engine-portable, hash-checkable) Lloyd k-means on the
  * milli-lattice — the chained generalization of the single step
  * pinned by m32_lloyd_step (`queries/Curation21Q.scala`): seeds are
  * vectors 0..k-1, every squared distance is an exact BIGINT, the
  * argmin packs (d2, cid) into one BIGINT min-agg (no window sort),
  * and each round's centroid means are rounded BACK onto the milli-
  * lattice with a positivity-shifted floor division so the next
  * round's distances stay integers. Empty clusters keep their
  * previous centroid (deterministic, mirrored in the SQL).
  *
  * Rounding portability: `((sq + S·n)·2 + n) DIV (2·n) − S` is
  * round-half-up of sq/n. The `+S·n` shift keeps the numerator
  * positive, where Spark's truncating `DIV` and DuckDB's flooring
  * `//` agree; S = 2^20 dwarfs any milli-lattice mean (|q| ≲ 10^4).
  *
  * Scale shape (the IVF-training shape): centroids are a k·dims-row
  * broadcast; assignment is one map-side broadcast join over the
  * exploded components plus two keyed shuffles per round (argmin by
  * vec_id, update by (cid, dim)); rounds are a fixed constant. No
  * all-pairs stage anywhere.
  */
object ExactLloyd {

  /** Positivity shift for the portable floor division. */
  val Shift = 1L << 20

  /** Exact nearest-centroid assignment: (vec_id, cid). `comps` =
    * (vec_id, dim, q) exploded milli-lattice components; `cents` =
    * (cid, dim, cq) on the same lattice. */
  def assign(comps: DataFrame, cents: DataFrame, k: Int): DataFrame =
    comps.join(broadcast(cents), "dim")
      .groupBy("vec_id", "cid")
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(col("d2") * k + col("cid")).as("packed"))
      .select(col("vec_id"),
        pmod(col("packed"), lit(k.toLong)).as("cid"))

  /** `iters` exact Lloyd rounds from seed centroids = vectors
    * 0..k-1; returns (cid, dim, cq). */
  def centroids(comps: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = comps.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("dim"), col("q").as("cq"))
    for (_ <- 1 to iters) {
      val asn = assign(comps, cents, k)
      val upd = comps.join(asn, "vec_id")
        .groupBy("cid", "dim")
        .agg(sum("q").as("sq"), count(lit(1)).as("n"))
        .select(col("cid"), col("dim"),
          (expr(s"((sq + ${Shift}L * n) * 2 + n) DIV (2 * n)")
            - Shift).as("cq2"))
      cents = cents.join(upd, Seq("cid", "dim"), "left")
        .select(col("cid"), col("dim"),
          coalesce(col("cq2"), col("cq")).as("cq"))
    }
    cents
  }

  /** Fused literal-codebook nearest-centroid struct
    * (cid, a2 = own d2, b2 = best-other d2) — the codegen'd
    * [[graft.functions.LatticeArgmin]] over a (vec_id, q: array<long>)
    * frame. Bit-identical winner order to [[assign]]'s packed min.
    * Higher-order-function formulations (zip_with/aggregate) are NOT
    * an alternative: their lambdas evaluate interpreted per element
    * and profiled as the entire wall at the 100× step. */
  def argminLit(q: Column, cents: Array[Array[Long]]): Column =
    graft.functions.LatticeArgmin.argmin(q, cents)

  /** [[centroids]] on the literal path: each round is ONE scan of the
    * (vec_id, q-array) frame (assignment via [[argminLit]],
    * update via posexplode→groupBy(cid, dim)) plus a ≤ k·dims-row
    * driver collect (cluster metadata);
    * the shifted-floor rounding runs in Scala with the identical
    * integer formula, so every round's centroids are bit-identical
    * to [[centroids]]'s. Returns the k centroid lattice vectors. */
  def centroidsLit(qarr: DataFrame, k: Int,
      iters: Int): Array[Array[Long]] = {
    val seedRows = qarr.filter(col("vec_id") < k)
      .select(col("vec_id"), col("q")).collect()
    var cents: Array[Array[Long]] = Array.tabulate(k) { i =>
      val r = seedRows.find(_.getLong(0) == i).get
      r.getSeq[Long](1).toArray
    }
    val dims = cents(0).length
    for (_ <- 1 to iters) {
      val upd = qarr
        .select(argminLit(col("q"), cents)("cid").as("cid"),
          posexplode(col("q")).as(Seq("dim", "qv")))
        .groupBy("cid", "dim")
        .agg(sum("qv").as("sq"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      cents = Array.tabulate(k) { i =>
        Array.tabulate(dims) { d =>
          upd.get((i.toLong, d)) match {
            case Some((sq, n)) => ((sq + Shift * n) * 2 + n) / (2 * n) - Shift
            case None => cents(i)(d)
          }
        }
      }
    }
    cents
  }

  /** The matching DuckDB CTE chain, mirroring [[centroids]] +
    * [[assign]] token for token.
    *
    * CONTRACT: the caller defines a CTE named `comps` exposing
    * (vec_id, dim, q) on the milli-lattice; this fragment defines
    * c0..c$iters (centroids per round) and a1..a${iters+1}
    * (assignments; `a${iters + 1}` is the FINAL assignment under
    * c$iters) — select (vec_id, cid) from `a${iters + 1}`. All
    * HUGEINT-widening sums are cast back to BIGINT at each seam.
    */
  def sql(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (SELECT vec_id, (min(d2 * $k + cid) % $k)::BIGINT AS cid
         | FROM (SELECT p.vec_id, c.cid,
         |   sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS d2
         |  FROM comps p JOIN c${r - 1} c USING (dim) GROUP BY 1, 2)
         | GROUP BY vec_id),
         |u$r AS (SELECT cid, dim,
         |  (((sum(q)::BIGINT + $Shift * count(*)) * 2 + count(*))
         |    // (2 * count(*)) - $Shift)::BIGINT AS cq2
         | FROM comps p JOIN a$r a USING (vec_id) GROUP BY 1, 2),
         |c$r AS (SELECT c.cid, c.dim, coalesce(u.cq2, c.cq) AS cq
         | FROM c${r - 1} c LEFT JOIN u$r u
         |   ON u.cid = c.cid AND u.dim = c.dim)""".stripMargin
    }
    val fin = iters + 1
    s"""c0 AS (SELECT vec_id AS cid, dim, q AS cq FROM comps
       | WHERE vec_id < $k),
       |${rounds.mkString(",\n")},
       |a$fin AS (SELECT vec_id, (min(d2 * $k + cid) % $k)::BIGINT AS cid
       | FROM (SELECT p.vec_id, c.cid,
       |   sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS d2
       |  FROM comps p JOIN c$iters c USING (dim) GROUP BY 1, 2)
       | GROUP BY vec_id)""".stripMargin
  }
}
