package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 73 (Box-Cox, grid-DBSCAN, chrF) on
  * sf0.001. */
class Curation73Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a120_boxcox matches a brute profile log-likelihood") {
    val cents = graft.queries.Q.events(spark, dir)
      .select(round(col("value") * 100).cast("long")).collect()
      .map(_.getLong(0)).filter(_ >= 1).map(_.toDouble)
    val n = cents.length
    val slog = cents.map(math.log).sum
    def ll(lam: Double): Double = {
      val y = cents.map { c =>
        if (lam == 0.0) math.log(c) else (math.pow(c, lam) - 1.0) / lam
      }
      val mu = y.sum / n
      val v = y.map(a => (a - mu) * (a - mu)).sum / n
      -0.5 * n * math.log(v) + (lam - 1.0) * slog
    }
    val lams = Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0)
    val r = SparkEntry.queries("a120_boxcox")(spark, dir)
      .collect().head
    assert(r.getLong(0) == n.toLong)
    lams.zipWithIndex.foreach { case (lam, i) =>
      val exp = ll(lam)
      assert(math.abs(r.getDouble(i + 1) - exp) < 1e-5 * math.abs(exp),
        s"lam $lam: ${r.getDouble(i + 1)} vs $exp")
    }
    // the value distribution is right-skewed → log/sqrt arms must
    // beat the identity arm
    assert(r.getDouble(4) > r.getDouble(6) || r.getDouble(5) > r.getDouble(6))
  }

  test("m61_dbscan_grid matches a brute flood fill") {
    val pts = graft.queries.Q.embeddings(spark, dir)
      .select(element_at(col("embedding"), 1).cast("double"),
        element_at(col("embedding"), 2).cast("double"))
      .collect().map(r => (math.floor(r.getDouble(0) * 16).toLong,
        math.floor(r.getDouble(1) * 16).toLong))
    val counts = pts.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val core = counts.filter(_._2 >= 4).keys.toSet
    // flood fill over 8-neighborhoods
    var labels = Map[(Long, Long), (Long, Long)]()
    for (c <- core if !labels.contains(c)) {
      var comp = Set(c); var frontier = Set(c)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap { case (x, y) =>
          for (dx <- -1L to 1L; dy <- -1L to 1L
               if (dx, dy) != ((0L, 0L)) &&
                 core.contains((x + dx, y + dy))) yield (x + dx, y + dy)
        }.diff(comp)
        comp ++= frontier
      }
      val lab = comp.minBy(p => (p._1 + 32) * 64 + p._2 + 32)
      comp.foreach(p => labels += p -> lab)
    }
    val exp = labels.groupBy(_._2).map { case (lab, cells) =>
      ((lab._1 + 32) * 64 + lab._2 + 32,
        (cells.size.toLong, cells.keys.iterator.map(counts).sum))
    }
    val got = SparkEntry.queries("m61_dbscan_grid")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp, s"$got vs $exp")
    assert(got.nonEmpty)
  }

  test("t_chrf matches a brute clipped-gram recompute") {
    val docs = graft.queries.Q.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.replaceAll("[^a-z ]", "")
          .replace(" ", ""))).sortBy(_._1)
    def grams(s: String, n: Int): Map[String, Long] =
      if (s.length < n) Map.empty
      else s.sliding(n).toSeq.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
    val byId = docs.toMap
    val got = SparkEntry.queries("t_chrf")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getDouble(8))).toMap
    var checked = 0
    for ((id, cand) <- docs if byId.contains(id + 1)) {
      val ref = byId(id + 1)
      def sideVals(n: Int): Option[(Long, Long, Long)] = {
        val cg = grams(cand, n); val rg = grams(ref, n)
        if (cg.isEmpty || rg.isEmpty) None
        else Some((cg.values.sum, rg.values.sum,
          cg.map { case (g, c) => math.min(c, rg.getOrElse(g, 0L)) }.sum))
      }
      (sideVals(2), sideVals(3)) match {
        case (Some((c2, r2, cl2)), Some((c3, r3, cl3))) =>
          def f(cl: Long, c: Long, rr: Long): Double =
            if (cl == 0) 0.0
            else {
              val p = cl.toDouble / c; val rc = cl.toDouble / rr
              5.0 * p * rc / (4.0 * p + rc)
            }
          val chrf = (f(cl2, c2, r2) + f(cl3, c3, r3)) / 2.0
          val g = got(id)
          assert((g._1, g._2, g._3) == ((c2, r2, cl2)), s"doc $id n=2")
          assert((g._4, g._5, g._6) == ((c3, r3, cl3)), s"doc $id n=3")
          assert(math.abs(g._7 - chrf) < 1e-12, s"doc $id chrf")
          checked += 1
        case _ =>
      }
    }
    assert(checked == got.size && checked > 0)
  }
}
