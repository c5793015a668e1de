package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._

/** Every `graft.functions` expression that has both an interpreted
  * (`eval`/`nullSafeEval`) and a generated (`doGenCode`) path returns
  * the same rows, bit for bit, whichever path runs: once with
  * whole-stage codegen and codegen-only factories, once with neither.
  * The input comes from an RDD, so no optimizer rule folds the
  * projection into a local relation before either path runs. */
class EvalPathsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Generated = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** A value with doubles and floats as their raw bits, so -0.0, 0.0
    * and NaN payloads compare exactly. */
  private def canon(v: Any): Any = v match {
    case d: Double => "d" + java.lang.Double.doubleToRawLongBits(d)
    case f: Float => "f" + java.lang.Float.floatToRawIntBits(f)
    case s: scala.collection.Seq[_] => s.map(canon)
    case r: Row => r.toSeq.map(canon)
    case other => other
  }

  /** The rows of `df` under each path, and whether each plan holds a
    * whole-stage codegen stage. */
  private def bothPaths(df: DataFrame): Seq[(Seq[Any], Boolean)] =
    Seq(Generated, Interpreted).map(conf => withConf(conf: _*) {
      // a fresh Dataset per path: a Dataset plans once and keeps that plan
      val q = df.select(df.columns.map(col).toIndexedSeq: _*)
      val rows = q.collect().toSeq.map(canon).sortBy(_.toString)
      val wscg = find(q.queryExecution.executedPlan)(
        _.isInstanceOf[WholeStageCodegenExec]).isDefined
      (rows, wscg)
    })

  private def assertSamePaths(df: DataFrame): Unit = {
    val Seq((gen, genWscg), (interp, interpWscg)) = bothPaths(df)
    assert(genWscg, "the generated run has no WholeStageCodegen stage")
    assert(!interpWscg, "the interpreted run has a WholeStageCodegen stage")
    assert(gen.size == interp.size)
    for ((g, i) <- gen.zip(interp)) assert(g == i)
  }

  private val rng = new scala.util.Random(20261019)

  private def randStr(maxLen: Int, alphabet: String): String =
    Seq.fill(rng.nextInt(maxLen + 1))(alphabet(rng.nextInt(alphabet.length))).mkString

  private val strSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("s", StringType),
    StructField("t", StringType)))

  test("string expressions: generated == interpreted, edge cases included") {
    val edge = Seq("", "a", "ab", "abc", "abcabc", "aaaa", null, "Café au lait",
      "été", "HELLO, world!", "  ", "ÿĀ")
    val letters = "abcab cdeXYZ,.é"
    val strs = edge ++ Seq.fill(200)(randStr(40, letters))
    val rows = strs.zipWithIndex.map { case (s, i) =>
      Row(i, s, strs((i * 7 + 3) % strs.length)) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), strSchema)
      .select(
        col("id"),
        NgramPolyHash.ngramHashes(col("s"), 3).as("poly3"),
        NgramPolyHash.ngramHashes(col("s"), 1).as("poly1"),
        expr("ngram_poly_hash(s, 2, -7)").as("poly_neg"),
        expr("ngram_poly_hash(s, 4, 2147483647)").as("poly_big"),
        NgramPosHash.ngramPosHashes(col("s"), 3).as("pos3"),
        NgramPosHash.ngramPosHashes(col("s"), 2, -7L).as("pos_neg"),
        CdcBoundaries.boundaries(col("s"), 4, 3L).as("cdc4"),
        CdcBoundaries.boundaries(col("s"), 1, 2L).as("cdc1"),
        NgramJaccard.ngramJaccard(col("s"), col("t"), 3).as("jac"),
        expr("jaro_winkler(s, t)").as("jw"),
        expr("damerau_levenshtein(s, t)").as("dl"),
        StripAccents.strip(col("s")).as("strip"),
        NfcNormalize.nfc(col("s")).as("nfc"),
        AzNgramCodesSorted.azNgramCodesSorted(col("s"), 2).as("az2"),
        SortedIntMultisetIntersectCount.sortedMultisetIntersectCount(
          AzNgramCodesSorted.azNgramCodesSorted(col("s"), 3),
          AzNgramCodesSorted.azNgramCodesSorted(col("t"), 3)).as("chrf"),
        LongArrayIntersectCount.intersectCount(
          NgramPolyHash.ngramHashes(col("s"), 2),
          NgramPolyHash.ngramHashes(col("t"), 2)).as("inter"))
    assertSamePaths(df)
  }

  test("array expressions: generated == interpreted, edge cases included") {
    val specials = Array(Double.NaN, 0.0, -0.0, 1.5, -2.25,
      Double.PositiveInfinity, 3.0e-300)
    def dbl(): Double =
      if (rng.nextInt(4) == 0) specials(rng.nextInt(specials.length))
      else rng.nextInt(2001) / 100.0 - 10.0
    def dblArr(w: Int, nulls: Boolean): Seq[java.lang.Double] =
      Seq.fill(w)(if (nulls && rng.nextInt(8) == 0) null
        else java.lang.Double.valueOf(dbl()))
    def longArr(w: Int): Seq[Long] = Seq.fill(w)(rng.nextInt(9).toLong - 4L)
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("da", ArrayType(DoubleType, containsNull = true)),
      StructField("db", ArrayType(DoubleType, containsNull = true)),
      StructField("ea", ArrayType(DoubleType, containsNull = false)),
      StructField("fa", ArrayType(FloatType, containsNull = false)),
      StructField("la", ArrayType(LongType, containsNull = false)),
      StructField("lb", ArrayType(LongType, containsNull = false)),
      StructField("k", LongType),
      StructField("x", DoubleType),
      StructField("bounds", ArrayType(DoubleType, containsNull = false))))
    val edge = Seq(
      Row(0, Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), 0L, 0.0, Seq()),
      Row(1, Seq(1.0, 2.0), Seq(1.0), Seq(1.0, 2.0, 3.0), Seq(1f, 2f, 3f),
        Seq(1L, 1L, 2L), Seq(1L, 2L, 2L), -1L, -0.0, Seq(-1.0, 0.0, 0.0, 2.0)),
      Row(2, Seq(1.0, null), Seq(1.0, 2.0), Seq(Double.NaN, 0.0, -0.0),
        Seq(0f, -0f, 0f), Seq(0L, 0L, 0L), Seq(), 7L, Double.NaN,
        Seq(0.0, Double.NaN)),
      Row(3, null, Seq(-0.0, 0.0), null, null, null, Seq(5L), null, null, null),
      Row(4, Seq(-0.0, 0.0), Seq(0.0, -0.0), Seq(0.0, 0.0, 0.0),
        Seq(Float.NaN, 1f, 2f), Seq(Long.MinValue, Long.MaxValue), Seq(Long.MinValue),
        Long.MinValue, Double.NegativeInfinity, Seq(1.0)))
    val random = (5 until 300).map { i =>
      val w = 1 + rng.nextInt(4)
      val wb = if (rng.nextInt(5) == 0) w + 1 else w
      Row(i, dblArr(w, nulls = true), dblArr(wb, nulls = true),
        dblArr(3, nulls = false), Seq.fill(if (rng.nextInt(6) == 0) 2 else 3)(dbl().toFloat),
        longArr(rng.nextInt(4) + (if (rng.nextBoolean()) 3 else 0)), longArr(rng.nextInt(6)),
        rng.nextInt(40).toLong - 20L, dbl(), Seq(-5.0, -0.0, 0.0, 2.5, 2.5, 7.0))
    }
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 0.0), Array(1.0, 0.0),
      Array(-1.0, 2.0, 0.5), Array(1.0, 0.0, 0.0))
    val lcents = Array(Array(0L, 0L, 0L), Array(1L, -1L, 2L), Array(3L, 3L),
      Array(0L, 0L, 0L), Array(-4L, 4L, 0L, 1L, 1L, 1L))
    val bloom = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.05)
      (-20L to 20L by 3L).foreach(bf.putLong)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(edge ++ random, 3), schema)
      .select(
        col("id"),
        DotProduct.dot(col("da"), col("db")).as("dot_dd"),
        DotProduct.dot(col("fa"), col("ea")).as("dot_fd"),
        expr("dot_product(ea, da)").as("dot_sql"),
        CentroidArgmax.argmax(col("ea"), Array(10L, 11L, 12L, 13L, 14L), cents).as("ca_d"),
        CentroidArgmax.argmax(col("fa"), Array(10L, 11L, 12L, 13L, 14L), cents).as("ca_f"),
        LatticeArgmin.argmin(col("la"), lcents).as("lat"),
        LongArrayIntersectCount.intersectCount(col("la"), col("lb")).as("inter"),
        expr("array_intersect_count(lb, la)").as("inter_sql"),
        BloomKeyFilter.mightContain(col("k"), bloom).as("bloom"),
        BucketIndex.of(col("x"), col("bounds")).as("bucket"))
    assertSamePaths(df)
  }
}
