package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.operators.{Dedup, Temporal}

/** ScalaCheck properties over the Spark operators (batched: each trial
  * evaluates a whole generated column through one Spark job). */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val finite = Gen.chooseNum(-720.0, 720.0)
  // angleWrap's domain is single-turn deltas (difference of two angles
  // in [0,360)), exactly the reference's input range — it wraps once.
  private val delta = Gen.chooseNum(-359.999, 359.999)

  property("angleWrap lands in (-180, 180] and preserves angle mod 360") =
    forAll(Gen.listOfN(40, delta)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("c").select(Scalars.angleWrap(col("c")).as("w"),
          col("c")).collect()
        out.forall { r =>
          val (w, c) = (r.getDouble(0), r.getDouble(1))
          w > -180.0 - 1e-9 && w <= 180.0 + 1e-9 &&
            math.abs(math.IEEEremainder(w - c, 360.0)) < 1e-6
        }
      }
    }

  property("clip is idempotent and bounded") =
    forAll(Gen.listOfN(30, finite)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("c").select(
          Scalars.clip(col("c"), lit(-50.0), lit(75.0)).as("one"),
          Scalars.clip(Scalars.clip(col("c"), lit(-50.0), lit(75.0)),
            lit(-50.0), lit(75.0)).as("two")).collect()
        out.forall(r => r.getDouble(0) >= -50.0 && r.getDouble(0) <= 75.0 &&
          r.getDouble(0) == r.getDouble(1))
      }
    }

  private val word = Gen.chooseNum(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.choose('a', 'z')).map(_.mkString))
  private val text = Gen.chooseNum(0, 12).flatMap(n =>
    Gen.listOfN(n, word).map(_.mkString(" ")))

  property("ngram jaccard in [0,1], 1 on self, symmetric") =
    forAll(Gen.listOfN(8, Gen.zip(text, text))) { pairs =>
      pairs.isEmpty || {
        val out = pairs.toDF("a", "b").select(
          Dedup.ngramJaccard(col("a"), col("b")).as("ab"),
          Dedup.ngramJaccard(col("b"), col("a")).as("ba"),
          Dedup.ngramJaccard(col("a"), col("a")).as("aa"),
          length(regexp_replace(lower(col("a")), "[^a-z ]", "")).as("la")).collect()
        out.forall { r =>
          val (ab, ba, aa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
          ab >= 0.0 && ab <= 1.0 && math.abs(ab - ba) < 1e-12 &&
            (aa == 1.0 || r.getInt(3) < 3) // self-sim 1 unless no grams exist
        }
      }
    }

  property("bandJoin equals the theta-join on random keyed values") =
    forAll(Gen.listOfN(15, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(-50.0, 50.0))),
      Gen.listOfN(10, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(-50.0, 50.0))),
      Gen.chooseNum(0.5, 20.0)) { (ls, rs, radius) =>
      val lls = ls.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
      val rrs = rs.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
      lls.isEmpty || rrs.isEmpty || {
        val l = lls.toDF("k", "lid", "lv")
        val r = rrs.toDF("k", "rid", "rv")
        val band = graft.operators.Spatial
          .bandJoin(l, r, Seq("k"), "lv", "rv", radius)
          .select("lid", "rid").as[(Long, Long)].collect().toSet
        val theta = l.join(r, Seq("k"))
          .filter(abs(col("lv") - col("rv")) <= radius)
          .select("lid", "rid").as[(Long, Long)].collect().toSet
        band == theta
      }
    }

  property("asofJoin equals the per-row scan definition") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 20L))),
      Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 20L)))) {
      (ls, rsRaw) =>
        // right side unique per (key, t) — the operator's precondition
        val rs = rsRaw.distinct.groupBy(identity).keys.toList
          .zipWithIndex.map { case ((k, t), i) => (k, t, i.toDouble) }
        val lls = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        lls.isEmpty || rs.isEmpty || {
          val got = Temporal.asofJoin(
            lls.toDF("k", "t", "lid"), rs.toDF("k", "t", "rv"),
            Seq("k"), "t", "t", Seq("rv"))
            .select("lid", "rv").collect()
            .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
            .toMap
          lls.forall { case (k, t, lid) =>
            val expect = rs.filter(r => r._1 == k && r._2 <= t)
              .sortBy(_._2).lastOption.map(_._3)
            got(lid) == expect
          }
        }
    }

  property("chunkPack: cum_before is the exact prefix sum; chunks contiguous") =
    forAll(Gen.listOfN(15, Gen.zip(Gen.oneOf("s1", "s2"), Gen.chooseNum(0L, 400L)))) {
      rows0 =>
        val rows = rows0.zipWithIndex.map { case ((sh, tk), i) => (sh, i.toLong, tk) }
        rows.isEmpty || {
          val got = graft.operators.Sampling.chunkPack(
            rows.toDF("shard", "id", "toks"), Seq(col("shard")), Seq(col("id")),
            col("toks"), 256)
            .select("shard", "id", "toks", "cum_before", "chunk_first",
              "chunk_last", "offset_in_chunk")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
          val byShard = rows.groupBy(_._1)
          got.forall { case (sh, id, tk, cum, cf, cl, off) =>
            val prefix = byShard(sh).filter(_._2 < id).map(_._3).sum
            cum == prefix && cf == cum / 256 && off == cum % 256 &&
              cl == (if (tk > 0) (cum + tk - 1) / 256 else cf) && cl >= cf
          }
        }
    }

  /** Pure-Scala sequential fold of pandas `ewm(alpha, adjust=False)`,
    * the reference for [[graft.functions.EwmAvg]]: the first valid
    * value starts the state and is emitted as is, a null emits the
    * state (null before the first valid value); with `ignoreNa = false`
    * each null also decays the old state's weight by (1 - alpha), and
    * the weight resets after every valid value. */
  private def ewmFold(xs: Seq[Option[Double]], alpha: Double,
                      ignoreNa: Boolean): Seq[Option[Double]] = {
    var y = Option.empty[Double]
    var w = 1 - alpha
    xs.map { x =>
      (x, y) match {
        case (None, Some(_)) => if (!ignoreNa) w *= 1 - alpha
        case (Some(v), None) => y = Some(v)
        case (Some(v), Some(e)) =>
          y = Some(if (ignoreNa) alpha * v + (1 - alpha) * e
                   else (w * e + alpha * v) / (w + alpha))
          w = 1 - alpha
        case (None, None) =>
      }
      y
    }
  }

  property("EwmAvg equals the sequential fold in both null modes, groups with nulls") =
    forAll(Gen.listOfN(3, Gen.listOfN(12, Gen.option(Gen.chooseNum(-50.0, 50.0)))),
      Gen.chooseNum(0.05, 0.95), Gen.oneOf(true, false)) { (groups, alpha, ignoreNa) =>
      val rows = groups.zipWithIndex.flatMap { case (xs, g) =>
        xs.zipWithIndex.map { case (x, t) => (s"g$g", t, x) }
      }
      rows.isEmpty || {
        val got = rows.toDF("k", "t", "v")
          .select(col("k"), col("t"), graft.functions.EwmAvg.ewmAvg(col("v"),
            alpha, Seq(col("k")), Seq(col("t")), ignoreNa).as("e"))
          .collect().map(r => ((r.getString(0), r.getInt(1)),
            Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
        rows.groupBy(_._1).forall { case (k, rs) =>
          val sorted = rs.sortBy(_._2)
          sorted.map(_._2).zip(ewmFold(sorted.map(_._3), alpha, ignoreNa))
            .forall { case (t, want) => got((k, t)) == want }
        }
      }
    }

  property("TopKAgg: any partition split + merge == global sort take k") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.chooseNum(0.0, 50.0), Gen.chooseNum(0L, 1000L))),
           Gen.chooseNum(1, 5)) { (xs, k) =>
      val agg = new graft.functions.TopKAgg(k)
      val scored = xs.map { case (v, id) => graft.functions.Scored(v, id) }
      val expect = scored.sortBy(e => (-e.v, e.id)).take(k)
        .map(_.id).mkString(":")
      // every contiguous 2-way split, reduced independently then merged
      (0 to scored.size).forall { cut =>
        val (a, b) = scored.splitAt(cut)
        val ba = a.foldLeft(agg.zero)(agg.reduce)
        val bb = b.foldLeft(agg.zero)(agg.reduce)
        agg.finish(agg.merge(ba, bb)) == expect &&
          agg.finish(agg.merge(bb, ba)) == expect
      }
    }

  property("sessionize: session count == 1 + number of over-gap steps") =
    forAll(Gen.listOfN(25, Gen.chooseNum(0L, 300L)), Gen.chooseNum(10L, 120L)) {
      (gaps, gapUs) =>
        val ts = gaps.scanLeft(0L)(_ + _)
        val rows = ts.zipWithIndex.map { case (t, i) => (1L, t, i.toLong) }
        val got = graft.operators.Sessions
          .sessionize(rows.toDF("user_id", "ts_us", "event_id"),
            col("user_id"), col("ts_us"), col("event_id"), gapUs)
          .agg(max(col("session_idx"))).head().getLong(0)
        // ts is nondecreasing, so consecutive sorted gaps == generated gaps
        val expect = 1L + gaps.count(_ > gapUs)
        got == expect
    }

  // Small alphabets force repeated grams; 'é' adds two-byte characters.
  private val gramText = Gen.chooseNum(0, 30).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf('a', 'b', ' ', 'é')).map(_.mkString))
  private val mult = Gen.oneOf(Gen.const(31L), Gen.const(-7L), Gen.chooseNum(-1000L, 1000L))

  property("ngram_poly_hash is the LinkedHashSet distinct of the window Horner folds") =
    forAll(Gen.listOfN(20, gramText), Gen.chooseNum(1, 4), mult) { (strs, n, m) =>
      val got = strs.toDF("s").select(graft.functions.NgramPolyHash
        .ngramHashes(col("s"), n, m)).collect().map(_.getSeq[Long](0)).toSeq
      val want = strs.map { s =>
        val b = s.getBytes("UTF-8")
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        for (i <- 0 to b.length - n)
          seen.add(b.slice(i, i + n).foldLeft(0L)((h, x) =>
            (h * m + (x & 0xffL)) % graft.functions.Text.P))
        seen.toArray.toSeq.map(_.asInstanceOf[java.lang.Long].longValue)
      }
      got == want
    }

  private val distinctLongs = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
    Gen.oneOf(Gen.chooseNum(-6L, 6L), Gen.oneOf(Long.MinValue, Long.MaxValue)))
    .map(_.distinct))

  property("long_array_intersect_count is the Set intersection size") =
    forAll(Gen.listOfN(20, Gen.zip(distinctLongs, distinctLongs))) { pairs =>
      val got = pairs.toDF("a", "b").select(graft.functions.LongArrayIntersectCount
        .intersectCount(col("a"), col("b"))).collect().map(_.getLong(0)).toSeq
      got == pairs.map { case (a, b) => (a.toSet intersect b.toSet).size.toLong }
    }
}
