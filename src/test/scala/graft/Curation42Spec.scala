package graft

import org.apache.spark.sql.functions._

/** Brute-force twins and invariants for the round-8 batches 42-44:
  * each statistic is recomputed from first principles on the sf0.001
  * tables (driver-side, same pinned fold order), and the distributed
  * query must agree exactly (integers) or to the last few ulps
  * (pinned-fold doubles). */
class Curation42Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def cents(et: String = null) = {
    val e = graft.io.Tables.eventsUs(spark, dir)
      .select(col("event_type"), round(col("value") * 100)
        .cast("long").as("c"))
    (if (et == null) e else e.filter(col("event_type") === et))
      .collect().map(r => (r.getString(0), r.getLong(1)))
  }

  test("a84_kruskal_wallis matches a brute-force mid-rank recompute") {
    val row = SparkEntry.queries("a84_kruskal_wallis")(
      spark, dir).head()
    val data = cents()
    val n = data.length
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("df") == data.map(_._1).distinct.length - 1)
    // brute mid-ranks over the full sample
    val sorted = data.map(_._2).sorted
    val first = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, xs) => v -> (xs.map(_._2).min + 1) }
    val countOf = sorted.groupBy(identity).map { case (v, xs) =>
      v -> xs.length }
    def midRank(v: Long): Double =
      first(v) + (countOf(v) - 1) / 2.0
    val groups = data.groupBy(_._1).toSeq.sortBy(_._1)
    val sr = groups.foldLeft(0.0) { case (acc, (_, xs)) =>
      val r = xs.map(x => midRank(x._2)).sum
      acc + r * r / xs.length
    }
    val t = countOf.values.map(m => m.toDouble * m * m - m).sum
    val nd = n.toDouble
    val h = (12.0 / (nd * (nd + 1.0)) * sr - 3.0 * (nd + 1.0)) /
      (1.0 - t / (nd * nd * nd - nd))
    assert(approx(row.getAs[Double]("h"), h, 1e-6),
      s"H ${row.getAs[Double]("h")} vs brute $h")
    assert(row.getAs[Long]("significant") ==
      (if (row.getAs[Double]("h") > 9.487729) 1L else 0L))
  }

  test("a85_logrank matches a brute-force day-ordered recompute") {
    val row = SparkEntry.queries("a85_logrank")(
      spark, dir).head()
    val u = graft.io.Tables.eventsUs(spark, dir)
      .groupBy("user_id").agg(
        min("ts_us").as("t0"), max("ts_us").as("t1"),
        min(when(col("event_type") === "purchase", col("ts_us")))
          .as("tp"))
      .collect().map { r =>
        val t0 = r.getLong(1)
        val tp = if (r.isNullAt(3)) None else Some(r.getLong(3))
        val day = (tp.getOrElse(r.getLong(2)) - t0) / 86400000000L
        (day, if (tp.isDefined) 1L else 0L, r.getLong(0) % 2)
      }
    val days = u.map(_._1).distinct.sorted
    var (o1, e1, v) = (0L, 0.0, 0.0)
    days.foreach { t =>
      val at = u.filter(_._1 >= t)
      val n = at.length.toLong
      val n1 = at.count(_._3 == 1).toLong
      val here = u.filter(_._1 == t)
      val d = here.map(_._2).sum
      val d1 = here.filter(_._3 == 1).map(_._2).sum
      o1 += d1
      e1 += d.toDouble * n1.toDouble / n.toDouble
      if (n > 1)
        v += (d.toDouble * (n1.toDouble / n.toDouble)) *
          ((n - n1).toDouble / n.toDouble) *
          ((n - d).toDouble / (n - 1).toDouble)
    }
    assert(row.getAs[Long]("o1") == o1)
    assert(approx(row.getAs[Double]("e1"), e1, 1e-9))
    assert(approx(row.getAs[Double]("v"), v, 1e-9))
  }

  test("a86_chao1: spectrum facts exact, estimator formula holds") {
    val row = SparkEntry.queries("a86_chao1")(
      spark, dir).head()
    val freq = graft.queries.Q.documents(spark, dir)
      .select(explode(graft.functions.Text.tokens(
        graft.functions.Text.normalizeAz(col("text")))).as("w"))
      .groupBy("w").count().collect().map(_.getLong(1))
    val (v, f1, f2, nt) = (freq.length.toLong,
      freq.count(_ == 1L).toLong, freq.count(_ == 2L).toLong, freq.sum)
    assert(row.getAs[Long]("v") == v && row.getAs[Long]("f1") == f1 &&
      row.getAs[Long]("f2") == f2 && row.getAs[Long]("n_tokens") == nt)
    assert(row.getAs[Double]("chao1") ==
      v + (f1 * (f1 - 1)).toDouble / ((f2 + 1) * 2).toDouble)
    assert(row.getAs[Double]("chao1") >= v.toDouble)
    assert(row.getAs[Double]("coverage") == 1.0 - f1.toDouble / nt)
  }

  test("a87_friedman: complete blocks only, brute chi2 agrees") {
    val row = SparkEntry.queries("a87_friedman")(
      spark, dir).head()
    val cells = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id", "event_type")
      .agg(sum("c").as("sc"), count(lit(1)).as("nc"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    val k = cells.map(_._2).distinct.length
    val complete = cells.groupBy(_._1).filter(_._2.length == k)
    assert(row.getAs[Long]("n_blocks") == complete.size)
    assert(row.getAs[Long]("k") == k)
    // brute: rank cells within each complete block by exact fractions
    var sr = 0.0
    var tsum = 0L
    val r2ByType = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    complete.values.foreach { blk =>
      blk.foreach { case (_, g, sc, nc) =>
        val lt = blk.count(o => o._3 * nc < sc * o._4)
        val eq = blk.count(o => o._3 * nc == sc * o._4)
        r2ByType(g) += 2L * lt + eq + 1
      }
      // tie groups within the block
      blk.groupBy(b => (b._3.toDouble / b._4)).values
        .map(_.length.toLong).filter(_ > 1)
        .foreach(t => tsum += t * t * t - t)
    }
    r2ByType.toSeq.sortBy(_._1).foreach { case (_, r2) =>
      sr += r2.toDouble * r2.toDouble / 4.0
    }
    val nd = complete.size.toDouble
    val kd = k.toDouble
    val chi2 = ((12.0 * sr) / (nd * kd * (kd + 1.0)) -
      3.0 * nd * (kd + 1.0)) /
      (1.0 - tsum.toDouble / (nd * kd * (kd * kd - 1.0)))
    assert(approx(row.getAs[Double]("chi2"), chi2, 1e-6),
      s"chi2 ${row.getAs[Double]("chi2")} vs brute $chi2")
  }

  test("a88_wasserstein matches a brute sorted-support recompute") {
    val row = SparkEntry.queries("a88_wasserstein")(
      spark, dir).head()
    val cs = cents().filter(x =>
      x._1 == "click" || x._1 == "purchase")
    val c1s = cs.filter(_._1 == "click").map(_._2).sorted
    val c2s = cs.filter(_._1 == "purchase").map(_._2).sorted
    val support = (c1s ++ c2s).distinct.sorted
    val (n1, n2) = (c1s.length.toLong, c2s.length.toLong)
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(row.getAs[Long]("n_support") == support.length)
    var sd = BigInt(0)
    support.sliding(2).foreach {
      case Array(v, vn) =>
        val cc1 = c1s.count(_ <= v).toLong
        val cc2 = c2s.count(_ <= v).toLong
        sd += BigInt(cc1 * n2 - cc2 * n1).abs * BigInt(vn - v)
      case _ =>
    }
    val w1 = sd.toDouble / (n1.toDouble * n2.toDouble)
    assert(approx(row.getAs[Double]("w1_cents"), w1, 1e-9),
      s"W1 ${row.getAs[Double]("w1_cents")} vs brute $w1")
    assert(row.getAs[Double]("w1_cents") >= 0.0)
  }

  test("m43_conformal: exact order-stat q-hat, coverage gate holds") {
    val out = SparkEntry.queries("m43_conformal")(
      spark, dir).collect()
    assert(out.length == 5)
    val e = graft.io.Tables.eventsUs(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    out.foreach { row =>
      val et = row.getString(0)
      val cal = e.filter(x => x._2 == et && x._1 % 2 == 0)
      val (sc, nc) = (cal.map(_._3).sum, cal.length.toLong)
      assert(row.getAs[Long]("n_cal") == nc)
      val scores = cal.map(x => math.abs(x._3 * nc - sc)).sorted
      val qIdx = math.ceil(0.9 * (nc + 1)).toLong
      assert(row.getAs[Long]("q_scaled") == scores(qIdx.toInt - 1),
        s"q-hat for $et")
      val tst = e.filter(x => x._2 == et && x._1 % 2 == 1)
      val covered = tst.count(x =>
        math.abs(x._3 * nc - sc) <= row.getAs[Long]("q_scaled"))
      assert(row.getAs[Long]("n_covered") == covered)
      assert(row.getAs[Long]("coverage_gate") ==
        (if (covered * 100 >= tst.length * 88) 1L else 0L))
    }
  }

  test("w67_mannkendall: brute S and variance for sampled users") {
    val out = SparkEntry.queries("w67_mannkendall")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val wk = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), expr("ts_us DIV 604800000000").as("wk"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id", "wk").agg(sum("c").as("cw"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    wk.map(_._1).distinct.take(10).foreach { uid =>
      val ser = wk.filter(_._1 == uid).sortBy(_._2)
      val n = ser.length.toLong
      var s = 0L
      for (i <- ser.indices; j <- i + 1 until ser.length)
        s += java.lang.Long.signum(ser(j)._3 - ser(i)._3)
      val ties = ser.groupBy(_._3).values.map(_.length.toLong)
        .filter(_ > 1).map(t => t * (t - 1) * (2 * t + 5)).sum
      val v18 = n * (n - 1) * (2 * n + 5) - ties
      val row = out(uid)
      assert(row.getAs[Long]("n_weeks") == n)
      assert(row.getAs[Long]("s") == s, s"S for user $uid")
      assert(row.getAs[Long]("v18") == v18)
      val z = row.getAs[Double]("z")
      if (v18 <= 0) assert(z == 0.0)
      else if (s > 0) assert(approx(z, (s - 1) / math.sqrt(v18 / 18.0)))
      else if (s < 0) assert(approx(z, (s + 1) / math.sqrt(v18 / 18.0)))
      else assert(z == 0.0)
    }
  }

  test("a89_cochran_q matches a brute recompute, blocks discriminate") {
    val row = SparkEntry.queries("a89_cochran_q")(
      spark, dir).head()
    val x = graft.io.Tables.eventsUs(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        pmod(expr("ts_us DIV 86400000000"), lit(7L)).as("dow"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = x.groupBy(_._1).filter { case (_, xs) =>
      xs.length > 0 && xs.length < 7 }
    assert(row.getAs[Long]("n_blocks") == byUser.size)
    val kept = byUser.values.flatten.toSeq
    val cj = kept.groupBy(_._2).values.map(_.length.toLong)
    val n = cj.sum
    val sc2 = cj.map(c => c * c).sum
    val sr2 = byUser.values.map(_.length.toLong).map(r2 => r2 * r2).sum
    val q = (6L * (7L * sc2 - n * n)).toDouble / (7L * n - sr2).toDouble
    assert(approx(row.getAs[Double]("q"), q, 1e-9))
  }

  test("w68_markov_stationary: a distribution, and a fixed point") {
    val out = SparkEntry.queries("w68_markov_stationary")(
      spark, dir).collect()
    val pi = out.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx(pi.values.sum, 1.0, 1e-9), s"sums to 1: $pi")
    assert(pi.values.forall(_ >= 0.0))
    // after 20 synchronous steps the 5-state chain is ~stationary:
    // one more application of P moves no coordinate by more than 1e-6
    val t = SparkEntry.queries("w32_transitions")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val states = pi.keys.toSeq.sorted
    val rowTot = states.map(f => f ->
      states.map(g => t.getOrElse((f, g), 0L)).sum.toDouble).toMap
    val moved = states.map { g =>
      val nxt = states.foldLeft(0.0) { (acc, f) =>
        if (rowTot(f) > 0)
          acc + pi(f) * t.getOrElse((f, g), 0L).toDouble / rowTot(f)
        else if (f == g) acc + pi(f)
        else acc
      }
      math.abs(nxt - pi(g))
    }.max
    assert(moved < 1e-6, s"fixed point residual $moved")
  }

  test("a90_raking: margins converge to uniform, mass preserved") {
    val out = SparkEntry.queries("a90_raking")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3))))
    val n = out.map(_._2._1).sum.toDouble
    val types = out.map(_._1._1).distinct
    val dows = out.map(_._1._2).distinct
    // total mass is preserved by IPF
    assert(approx(out.map(_._2._2).sum, n, 1e-6 * n))
    // column step ran last → column margins are EXACTLY on target
    dows.foreach { d =>
      val cs = out.filter(_._1._2 == d).map(_._2._2).sum
      assert(approx(cs, n / dows.length, 1e-9 * n), s"col margin $d")
    }
    // row margins converge after 8 rounds (loose tolerance: IPF
    // converges geometrically, the last row step was 1 round ago)
    types.foreach { t =>
      val rs = out.filter(_._1._1 == t).map(_._2._2).sum
      assert(math.abs(rs - n / types.length) < 0.01 * n, s"row margin $t")
    }
    assert(out.forall(_._2._2 >= 0.0))
  }

  test("a91_ljungbox matches a brute exact-lattice recompute") {
    val row = SparkEntry.queries("a91_ljungbox")(
      spark, dir).head()
    val hc = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 3600000000").as("h"))
      .groupBy("h").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val (mn, mx) = (hc.keys.min, hc.keys.max)
    val xs = (mn to mx).map(h => hc.getOrElse(h, 0L)).toArray
    val n = xs.length.toLong
    assert(row.getAs[Long]("n_hours") == n)
    val s = xs.sum
    val r = xs.map(x => BigInt(x * n - s))
    def num(k: Int): BigInt =
      (0 until (n - k).toInt).map(t => r(t) * r(t + k)).sum
    val n0 = num(0).toDouble
    var sterm = 0.0
    (1 to 24).foreach { k =>
      val rho = num(k).toDouble / n0
      sterm += rho * rho / (n - k).toDouble
    }
    val q = n.toDouble * (n + 2).toDouble * sterm
    assert(approx(row.getAs[Double]("q"), q, math.abs(q) * 1e-9),
      s"Q ${row.getAs[Double]("q")} vs brute $q")
  }

  test("a92_changepoint matches a brute argmax over the hour series") {
    val row = SparkEntry.queries("a92_changepoint")(
      spark, dir).head()
    val hc = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 3600000000").as("h"))
      .groupBy("h").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val (mn, mx) = (hc.keys.min, hc.keys.max)
    val xs = (mn to mx).map(h => hc.getOrElse(h, 0L)).toArray
    val n = xs.length.toLong
    val sn = xs.sum
    var (bestD, bestT, bestSt) = (-1L, -1L, -1L)
    var st = 0L
    for (t <- 1L until n) {
      st += xs((t - 1).toInt)
      val d = math.abs(t * sn - n * st)
      if (d > bestD) { bestD = d; bestT = t; bestSt = st }
    }
    assert(row.getAs[Long]("n_hours") == n)
    assert(row.getAs[Long]("t_star") == bestT)
    assert(row.getAs[Long]("stat") == bestD)
    assert(row.getAs[Double]("mean_before") ==
      bestSt.toDouble / bestT.toDouble)
    assert(row.getAs[Double]("mean_after") ==
      (sn - bestSt).toDouble / (n - bestT).toDouble)
  }

  test("a93_hodges_lehmann: brute Walsh-average medians agree") {
    val out = SparkEntry.queries("a93_hodges_lehmann")(
      spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    val wk = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), expr("ts_us DIV 604800000000").as("wk"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id", "wk").agg(sum("c").as("cw"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    wk.map(_._1).distinct.foreach { uid =>
      val cs = wk.filter(_._1 == uid).map(_._2)
      val walsh = (for (i <- cs.indices; j <- i until cs.length)
        yield cs(i) + cs(j)).sorted
      val m = walsh.length
      val med2 = if (m % 2 == 1) walsh((m - 1) / 2).toDouble
        else (walsh(m / 2 - 1) + walsh(m / 2)).toDouble / 2.0
      val row = out(uid)
      assert(row.getAs[Long]("n_pairs") == m)
      assert(row.getAs[Double]("hl_cents") == med2 / 2.0,
        s"HL for user $uid")
    }
  }

  test("m44_qwk matches a brute weighted-kappa recompute, in [-1,1]") {
    val row = SparkEntry.queries("m44_qwk")(
      spark, dir).head()
    val rat = graft.io.Tables.eventsUs(spark, dir).select(
        round(col("value") * 100).cast("long").as("c"), col("event_id"))
      .collect().map { r =>
        val c = r.getLong(0)
        val ra = math.min(c / 2000, 4L)
        val cb = math.min(math.max(c + (r.getLong(1) % 7 - 3) * 500, 0L),
          9999L)
        (ra, cb / 2000)
      }
    val n = rat.length.toLong
    assert(row.getAs[Long]("n") == n)
    val swo = rat.map { case (a, b) => (a - b) * (a - b) }.sum
    assert(row.getAs[Long]("swo") == swo)
    val nr = rat.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nc = rat.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val swe = (for ((i, ri) <- nr; (j, cj) <- nc)
      yield (i - j) * (i - j) * BigInt(ri) * BigInt(cj)).sum
    val qwk = 1.0 - (BigInt(n) * BigInt(swo)).toDouble / swe.toDouble
    assert(approx(row.getAs[Double]("qwk"), qwk, 1e-9))
    assert(row.getAs[Double]("qwk") >= -1.0 &&
      row.getAs[Double]("qwk") <= 1.0)
  }

  test("o32_skyline: exactly the non-dominated points survive") {
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i) match { case l: Long => l; case n: Number => n.longValue }
    val out = SparkEntry.queries("o32_skyline")(
      spark, dir).collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2), asL(r, 3)))
    val pts = graft.queries.Q.lineitem(spark, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_quantity").cast("long"))
      .collect().map(r => (asL(r, 0), asL(r, 1), asL(r, 2), asL(r, 3)))
    def dominated(x: (Long, Long, Long, Long)) = pts.exists(o =>
      o._3 <= x._3 && o._4 <= x._4 && (o._3 < x._3 || o._4 < x._4))
    val brute = pts.filterNot(dominated).toSet
    assert(out.toSet == brute, s"skyline ${out.length} vs ${brute.size}")
  }

  test("m45_ransac: winning consensus is the true brute maximum") {
    val row = SparkEntry.queries("m45_ransac")(
      spark, dir).head()
    val hourly = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 3600000000").as("h"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("h").agg(sum("c").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val ys = hourly.map(_._2)
    val n = ys.length.toLong
    def lcg(x: Long) = (x * 1103515245L + 12345L) % 2147483648L
    var best = (-1L, -1L)
    (0L until 50L).foreach { d =>
      val ti = lcg(d * 2) % n + 1
      val tj = lcg(d * 2 + 1) % n + 1
      if (ti != tj) {
        val (yi, yj) = (ys((ti - 1).toInt), ys((tj - 1).toInt))
        val cnt = (1L to n).count { t =>
          math.abs((yj - yi) * (t - ti) -
            (tj - ti) * (ys((t - 1).toInt) - yi)) <=
            200000L * math.abs(tj - ti)
        }.toLong
        if (cnt > best._1) best = (cnt, d)
      }
    }
    assert(row.getAs[Long]("n_inliers") == best._1)
    assert(row.getAs[Long]("draw") == best._2)
    assert(row.getAs[Long]("n_inliers") >= 2L)
  }

  test("v_proj_recall: overlap bounded by 10, self excluded") {
    val out = SparkEntry.queries("v_proj_recall")(
      spark, dir).collect()
    assert(out.nonEmpty && out.length <= 5)
    out.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 10L)
      assert(r.getDouble(2) == r.getLong(1).toDouble / 10.0)
    }
  }

  test("g19_bipartite matches a brute BFS-parity audit at sf0.01") {
    val d01 = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("g19_bipartite")(
      spark, d01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // brute: same graph, BFS from min-id roots, exact shortest depth
    val sn = graft.queries.Q.supplier(spark, d01).select(
      col("s_suppkey").cast("long"), col("s_nationkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = graft.queries.Q.lineitem(spark, d01)
      .select(col("l_orderkey").cast("long"),
        col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges: Set[(Long, Long)] = li.toSeq.groupBy(_._1).values
      .flatMap { g =>
        val sks = g.map(_._2).distinct.toList
        for (a <- sks; b <- sks if a < b && sn(a) == sn(b)) yield (a, b)
      }.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = adj.keys.toSeq
    // components via repeated BFS
    val compOf = scala.collection.mutable.Map[Long, Long]()
    nodes.sorted.foreach { n =>
      if (!compOf.contains(n)) {
        var frontier = Set(n)
        val seen = scala.collection.mutable.Set(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filterNot(seen)
          seen ++= frontier
        }
        seen.foreach(v => compOf(v) = seen.min)
      }
    }
    compOf.values.toSeq.distinct.foreach { c =>
      val members = compOf.filter(_._2 == c).keys.toSet
      val root = members.min
      val depth = scala.collection.mutable.Map(root -> 0L)
      var frontier = Set(root)
      var d = 0L
      while (frontier.nonEmpty && d < 12) {
        d += 1
        frontier = frontier.flatMap(adj(_))
          .filterNot(depth.contains)
        frontier.foreach(v => depth(v) = d)
      }
      val conf = edges.count { case (a, b) =>
        members(a) && depth.contains(a) && depth.contains(b) &&
          depth(a) % 2 == depth(b) % 2 }
      val unreached = members.count(!depth.contains(_)).toLong
      val row = out(c)
      assert(row._1 == members.size, s"n_nodes of $c")
      assert(row._3 == conf.toLong, s"n_conflicts of $c")
      assert(row._4 == unreached, s"n_unreached of $c")
      assert(row._5 == (if (conf == 0 && unreached == 0) 1L else 0L))
    }
    // the co-supply graph has triangles — some component must fail
    assert(out.values.exists(_._5 == 0L), "odd cycles must be found")
  }

  test("s20_dynamic_overwrite: only the restated partition changed") {
    val out = SparkEntry.queries("s20_dynamic_overwrite")(
      spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val src = graft.queries.Q.orders(spark, dir).select(
        pmod(col("o_orderkey"), lit(7L)).as("part"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("part").agg(count(lit(1)).as("n"),
        sum("cents").as("sc")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == src.keySet)
    src.foreach { case (p, (n, sc)) =>
      assert(out(p)._1 == n, s"count of part $p")
      assert(out(p)._2 == (if (p == 3L) 2 * sc else sc), s"sum of part $p")
    }
  }

  test("m46_cindex matches a brute pairwise concordance recompute") {
    val row = SparkEntry.queries("m46_cindex")(
      spark, dir).head()
    val u = graft.io.Tables.eventsUs(spark, dir)
      .groupBy("user_id").agg(
        min("ts_us").as("t0"), max("ts_us").as("t1"),
        min(when(col("event_type") === "purchase", col("ts_us")))
          .as("tp"), count(lit(1)).as("n_ev"))
      .collect().map { r =>
        val t0 = r.getLong(1)
        val tp = if (r.isNullAt(3)) None else Some(r.getLong(3))
        ((tp.getOrElse(r.getLong(2)) - t0) / 86400000000L,
          tp.isDefined, math.min(r.getLong(4) / 10, 20L))
      }
    var (np, c2) = (0L, 0L)
    for (i <- u; j <- u if i._2 && i._1 < j._1) {
      np += 1
      if (i._3 > j._3) c2 += 2 else if (i._3 == j._3) c2 += 1
    }
    assert(row.getAs[Long]("n_comparable") == np)
    assert(row.getAs[Long]("conc2") == c2)
    assert(row.getAs[Double]("c_index") ==
      c2.toDouble / (np * 2).toDouble)
    assert(row.getAs[Double]("c_index") >= 0.0 &&
      row.getAs[Double]("c_index") <= 1.0)
  }

  test("a94_fleiss_kappa matches a brute recompute, bounded by 1") {
    val row = SparkEntry.queries("a94_fleiss_kappa")(
      spark, dir).head()
    val rat = graft.io.Tables.eventsUs(spark, dir)
      .select(col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      .collect().map { r =>
        val (id, c) = (r.getLong(0), r.getLong(1))
        def band(x: Long) = math.min(math.max(x, 0L), 9999L) / 2000
        Seq(math.min(c / 2000, 4L), band(c + (id % 7 - 3) * 500),
          band(c + (id % 5 - 2) * 700))
      }
    val n = rat.length.toLong
    assert(row.getAs[Long]("n_items") == n)
    val aa = rat.map { rs =>
      rs.groupBy(identity).values.map(g => g.length.toLong)
        .map(x => x * x).sum - 3
    }.sum
    val sj = rat.flatten.groupBy(identity).values
      .map(_.length.toLong)
    val bb = sj.map(s => BigInt(s) * s).sum
    val kappa = (BigInt(n) * aa * 3 - bb * 2).toDouble /
      (BigInt(n) * n * 18 - bb * 2).toDouble
    assert(approx(row.getAs[Double]("kappa"), kappa, 1e-12))
    assert(row.getAs[Double]("kappa") <= 1.0)
  }

  test("m47_pca: unit eigenvector, Rayleigh residual small, sign fixed") {
    val out = SparkEntry.queries("m47_pca")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 8)
    val v = out.map(_.getDouble(1))
    val lam = out.head.getDouble(2)
    assert(approx(v.map(x => x * x).sum, 1.0, 1e-9), "unit norm")
    // sign convention: first significant loading positive
    assert(v.find(x => math.abs(x) > 1e-12).forall(_ > 0))
    assert(lam > 0.0, "top eigenvalue of a covariance is positive")
    // after 30 power steps the Rayleigh residual ||Cv - lam v|| is
    // tiny relative to lam — recompute C from the same pipeline
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val proj = graft.operators.Similarity.randomProjection(
      e.select(col("vec_id"), col("embedding")), "embedding", 64, 8)
    val rows = proj.collect().map(r => (0 until 8).map(j =>
      r.getDouble(1 + j)).toArray)
    val mn = (0 until 8).map(j => rows.map(_(j)).min)
    val mx = (0 until 8).map(j => rows.map(_(j)).max)
    val codes = rows.map(r => (0 until 8).map(j =>
      if (mx(j) > mn(j))
        math.min(255L, math.floor((r(j) - mn(j)) / (mx(j) - mn(j)) * 255.0)
          .toLong)
      else 0L).toArray)
    val n = codes.length.toLong
    val t = (0 until 8).map(j => codes.map(_(j)).sum.toDouble)
    val c = Array.tabulate(8, 8) { (i, j) =>
      val sij = codes.map(r => r(i) * r(j)).map(BigInt(_)).sum.toDouble
      n.toDouble * sij - t(i) * t(j)
    }
    val cv = (0 until 8).map(i =>
      (0 until 8).map(j => c(i)(j) * v(j)).sum)
    val resid = math.sqrt((0 until 8).map(i =>
      (cv(i) - lam * v(i)) * (cv(i) - lam * v(i))).sum)
    assert(resid <= 1e-4 * math.abs(lam), s"residual $resid vs lam $lam")
  }

  test("a95_entropy_rate: bounded by ln(k), matches brute recompute") {
    val row = SparkEntry.queries("a95_entropy_rate")(
      spark, dir).head()
    val k = row.getLong(0)
    val h = row.getDouble(1)
    assert(h >= 0.0 && h <= math.log(k.toDouble) + 1e-12,
      s"0 <= H=$h <= ln($k)")
    // brute: recompute from w32 transition counts + w68's pi
    val t = SparkEntry.queries("w32_transitions")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val pi = SparkEntry.queries("w68_markov_stationary")(
      spark, dir).collect().map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    val states = pi.keys.toSeq.sorted
    var hb = 0.0
    states.foreach { f =>
      val rt = states.map(g => t.getOrElse((f, g), 0L)).sum.toDouble
      if (rt > 0) {
        var hi = 0.0
        states.foreach { g =>
          val ct = t.getOrElse((f, g), 0L).toDouble
          if (ct > 0) { val p = ct / rt; hi += p * math.log(p) }
        }
        hb += pi(f) * hi
      }
    }
    assert(approx(h, -hb, 1e-9), s"H $h vs brute ${-hb}")
  }

  test("s19_parquet_bloom: lossless point lookup, filter pushed") {
    val q = SparkEntry.queries("s19_parquet_bloom")(
      spark, dir)
    val row = q.head()
    val src = graft.queries.Q.orders(spark, dir)
      .filter(col("o_custkey") === 7L)
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100)
        .cast("long")), min("o_orderkey")).head()
    assert(row.getLong(0) == src.getLong(0))
    if (row.getLong(0) > 0) {
      assert(row.getLong(1) == src.getLong(1))
      assert(row.getLong(2) == src.getLong(2))
    }
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_custkey"), "point filter must reach the scan")
  }
}
