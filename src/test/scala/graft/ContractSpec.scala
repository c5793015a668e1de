package graft

import org.apache.spark.sql.types._
import graft.io.Tables
import graft.queries.{Q, QueryModule}

/** The driver contract: registry invariants of [[SparkEntry]], and a
  * schema canary for the driver-provided testdata (TESTDATA.md).
  *
  * Round 4 lost 71 queries to ONE silent testdata change (events.ts
  * flipped from nanos-as-INT64 to timestamp[us]); this spec pins every
  * table's loaded dtypes so the next change fails one named assertion
  * instead of half the query surface. `events.ts` is asserted through
  * the schema-adaptive [[Tables.events]]/[[Tables.eventsUs]] helpers —
  * those must yield a timestamp + integer micros on ANY encoding the
  * driver has shipped.
  */
class ContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("registry: 490 distinct query names") {
    assert(SparkEntry.queries.size == 490)
  }

  test("registry: every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: ${orphans.toSeq.sorted}")
  }

  test("registry: built once, not per call") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("registry: a name two modules share fails construction") {
    def stub(names: String*): QueryModule = new QueryModule {
      val queries: Seq[(String, Q.QueryFn)] =
        names.map(n => n -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
          s.emptyDataFrame))
      val oracle: Seq[(String, String)] = names.map(_ -> "SELECT 1")
    }
    val modules = Seq(stub("q_a", "q_shared"), stub("q_shared", "q_b"))
    assert(SparkEntry.union(Seq(stub("q_a"), stub("q_b")).map(_.queries))
      .keySet == Set("q_a", "q_b"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.union(modules.map(_.queries)))
    assert(e.getMessage.contains("q_shared"))
    intercept[IllegalArgumentException](SparkEntry.union(modules.map(_.oracle)))
    // a name repeated inside ONE module fails too
    val within = Seq(stub("q_a", "q_twice", "q_twice"))
    val e2 = intercept[IllegalArgumentException](
      SparkEntry.union(within.map(_.queries)))
    assert(e2.getMessage.contains("q_twice"))
    intercept[IllegalArgumentException](SparkEntry.union(within.map(_.oracle)))
  }

  /** Every main source file under `graft/`, with its text. */
  private lazy val sources: Seq[(java.io.File, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    walk(root).map(f => f -> java.nio.file.Files.readString(f.toPath))
  }

  test("sources: the exact-integer lattice is spelled only in Q.scala") {
    // Any operand, on one line: the Spark lift, the oracle's CAST (its
    // AS may wrap onto the next margin line) and its `::` cast.
    val lattice = Seq(
      """round\([^\n]+? \* 10+\)\.cast\("long"\)""".r,
      """CAST\(round\([^\n]+? \* 10+\)[\s|]*AS (BIGINT|HUGEINT)\)""".r,
      """round\([^\n]+? \* 10+\)::(BIGINT|HUGEINT)""".r)
    val copies = for {
      (f, text) <- sources if f.getName != "Q.scala"
      re <- lattice
      m <- re.findAllIn(text)
    } yield s"${f.getName}: $m"
    assert(copies.isEmpty,
      s"use Q.lattice / Q.latticeSql instead of: ${copies.take(10).mkString("; ")}")
  }

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  for ((table, cols) <- expected.toSeq.sortBy(_._1))
    test(s"driver schema pin: $table") {
      val got = Tables.load(spark, sf, table).schema
        .map(f => f.name -> f.dataType)
      assert(got == cols,
        s"$table schema drifted — update loaders AND this pin together")
    }

  test("legacy nanos-INT64 events encoding still loads through the adaptive helpers") {
    // The r1-r3 testdata stored ts as TIMESTAMP(NANOS); the driver
    // switched to timestamp[us] in r4. This committed fixture keeps the
    // legacy branch of tsAsTimestamp/tsAsMicros honest: nanos read as
    // LONG (legacy conf), integer-DIV'd to micros — never via double.
    val dir = getClass.getResource("/events_nanos").getPath
    val ev = Tables.events(spark, dir)
    assert(Seq(TimestampType, TimestampNTZType)
      .contains(ev.schema("ts").dataType))
    val us = Tables.eventsUs(spark, dir)
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact micros truncation of the fixture's nanos
    assert(us(1L) == 1700000000000000L) // ...000001 ns -> trunc
    assert(us(2L) == 1700000000000001L) // ...001999 ns -> 1 us
    assert(us(5L) == 1700000010123456L) // ...456789 ns -> 456 us
  }

  test("driver schema pin: events (via schema-adaptive helpers)") {
    val raw = Tables.eventsRaw(spark, sf).schema
    assert(raw.map(_.name) ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    // the raw ts encoding may legally be any of the three the helpers
    // support; everything downstream consumes the normalized forms:
    val ev = Tables.events(spark, sf)
    assert(Seq(TimestampType, TimestampNTZType)
      .contains(ev.schema("ts").dataType),
      s"events.ts normalized to ${ev.schema("ts").dataType}")
    val us = Tables.eventsUs(spark, sf)
    assert(us.schema("ts_us").dataType == LongType)
    // sanity: micros magnitude (post-2001, pre-2286) — catches a
    // silent seconds- or nanos-scale regression, not just a dtype one
    val r = us.selectExpr("min(ts_us) AS lo", "max(ts_us) AS hi").head()
    assert(r.getLong(0) > 100_000_000_000_000L && // micros for ~1973
      r.getLong(1) < 100_000_000_000_000_000L,    // micros for ~5138
      s"ts_us out of micros range (seconds or nanos scale regression?): " +
        s"${r.getLong(0)}..${r.getLong(1)}")
  }
}
