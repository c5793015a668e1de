package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-7 batch 37: TextRank keyword extraction (PageRank over the
  * word co-occurrence graph), an EXACT permutation test (100
  * deterministic lattice permutations, every ≥-comparison a
  * decimal(38,0) cross-multiplication), a storage-encoding advisor
  * (RLE vs dictionary vs plain, integer-decided), and deterministic
  * Laplace-noised counts (the DP release mechanism with an auditable
  * noise draw). Net-new vs the 372-query surface (grep-checked).
  */
object Curation37Q extends QueryModule {

  private val NPerm = 100

  /** Per-permutation lattice assignment: row `event_id` joins arm A
    * of permutation p iff ((id mod 720720)·(1103515245+2p) + 12345+p)
    * mod 1000 < 500 — engine-portable, no xxhash64. */
  private def inA(p: Int): Column =
    pmod(pmod(col("event_id"), lit(720720L)) * (1103515245L + 2L * p) +
      (12345L + p), lit(1000L)) < 500L

  val queries: Seq[(String, QueryFn)] = Seq(

    // T: TextRank (Mihalcea & Tarau 2004) — keyword extraction as
    // PageRank over the word co-occurrence graph; the classic
    // unsupervised keyphrase baseline. Nodes are df-capped corpus
    // terms keyed by their polyhash (deterministic on BOTH engines,
    // so even a collision is consistent); edges are document
    // co-occurrence pairs with support >= 5; the rank is
    // Graph.pageRank's EXACT integer fixed point (r DIV deg shares,
    // 85/100 damping, 3 rounds; the oracle unrolls the same rounds
    // with GraphQ.rankRounds) — Pregel-shape shuffles, bit-identical
    // across partitionings. Top-50 on the (score, term) total order.
    "t_textrank" -> ((s, dir) => {
      val dt = documents(s, dir).select(col("doc_id"),
        explode(array_distinct(Text.tokens(Text.normalizeAz(col("text")))))
          .as("term"))
      val dfreq = dt.groupBy("term").agg(count(lit(1)).as("df"))
      val n = documents(s, dir).agg(count(lit(1)).as("__N"))
      // cached: both self-join sides read kept, and both edges and
      // vocab read pairs — uncached, the token-explode chain ran
      // twice and the co-occurrence groupBy twice more (no cross-side
      // subtree reuse; the t_chrf docGrams pattern)
      val kept = dt.join(
        broadcast(dfreq.crossJoin(broadcast(n))
          .filter(col("df") * 10 <= col("__N") * 9).select("term")),
        "term").cache()
      val a = kept.select(col("doc_id"), col("term").as("t1"))
      val b = kept.select(col("doc_id"), col("term").as("t2"))
      val pairs = a.join(b, "doc_id").filter(col("t1") < col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("cooc"))
        .filter(col("cooc") >= 5).cache()
      val edges = pairs
        .select(Text.polyHash(col("t1")).as("src"),
          Text.polyHash(col("t2")).as("dst"))
        .union(pairs.select(Text.polyHash(col("t2")).as("src"),
          Text.polyHash(col("t1")).as("dst")))
      val pr = graft.operators.Graph.pageRank(edges, iters = 3)
      val vocab = pairs.select(col("t1").as("term"))
        .union(pairs.select(col("t2").as("term"))).distinct()
        .select(col("term"), Text.polyHash(col("term")).as("node"))
      vocab.join(pr, "node")
        .select(col("term"), col("r").as("rank6"))
        .orderBy(col("rank6").desc, col("term"))
        .limit(50)
    }),

    // A78: EXACT permutation test of the click-vs-rest value gap —
    // the assumption-free significance test (no normality, no large-n
    // z). 100 deterministic lattice permutations evaluate in ONE
    // aggregate pass (200 unrolled sum columns); the mean-difference
    // comparisons |T_p| >= |T_obs| clear denominators TWICE, so every
    // decision is a decimal(38,0) integer comparison — nothing float
    // decides the p-value, which is the standard (#{>=}+1)/(N+1)
    // single division. Map-side hashing, one exchange.
    "a78_perm_test" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"),
          lattice(col("value"), 100).as("c"),
          (col("event_type") === "click").cast("long").as("obs_a"))
      val aggs =
        Seq(sum(when(col("obs_a") === 1L, col("c")).otherwise(0L)).as("s_obs"),
          sum(col("obs_a")).as("n_obs"),
          sum(col("c")).as("s_all"), count(lit(1)).as("n_all")) ++
        (0 until NPerm).flatMap { p =>
          Seq(sum(when(inA(p), col("c")).otherwise(0L)).as(s"s_$p"),
            sum(when(inA(p), 1L).otherwise(0L)).as(s"n_$p"))
        }
      val one = e.agg(aggs.head, aggs.tail: _*)
      // T ∝ s_A·n_B − s_B·n_A (common denominator n_A·n_B); compare
      // |T_p|·(n_Ao·n_Bo) >= |T_o|·(n_Ap·n_Bp) in decimal(38,0)
      def tNum(sA: Column, nA: Column): Column = {
        val sB = col("s_all") - sA
        val nB = col("n_all") - nA
        abs(sA.cast(dec) * nB.cast(dec) - sB.cast(dec) * nA.cast(dec))
      }
      def den(nA: Column): Column =
        (nA * (col("n_all") - nA)).cast(dec)
      val obsT = tNum(col("s_obs"), col("n_obs"))
      val geCount = (0 until NPerm).map { p =>
        when(tNum(col(s"s_$p"), col(s"n_$p")) * den(col("n_obs")) >=
          obsT * den(col(s"n_$p")), 1L).otherwise(0L)
      }.reduce(_ + _)
      one.select(col("n_all"), col("n_obs"), col("s_obs"),
        lit(NPerm.toLong).as("n_perms"),
        geCount.as("n_ge"),
        r6((geCount + 1L).cast("double") / (NPerm + 1L)).as("p_value"))
    }),

    // O30: storage-encoding advisor — per bucket and column, choose
    // RLE vs dictionary vs plain from exact run/distinct counts (the
    // decision every columnar writer makes; o27/o28 measure, this
    // DECIDES). Rules, integer-decided with fixed precedence:
    // RLE if 3·runs <= rows, else DICT if 8·distinct <= rows, else
    // PLAIN. Bucket-partitioned lag windows only (bounded partitions),
    // duplicate-rid-safe tiebreak as in o28.
    "o30_encoding_advisor" -> ((s, dir) => {
      val li = lineitem(s, dir).select(
        (col("l_orderkey") * 8L + col("l_linenumber")).as("rid"),
        col("l_returnflag").as("v_flag"),
        lattice(col("l_quantity"), 100).cast("string")
          .as("v_qty"))
        .withColumn("bucket",
          ((col("rid") - pmod(col("rid"), lit(8192L))) / 8192L).cast("long"))
      def audit(vc: String, name: String): DataFrame = {
        val w = Window.partitionBy("bucket").orderBy("rid", vc)
        li.withColumn("brk",
            when(lag(col(vc), 1).over(w).isNull ||
              lag(col(vc), 1).over(w) =!= col(vc), 1L).otherwise(0L))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"), sum("brk").as("runs"),
            countDistinct(col(vc)).as("n_distinct"))
          .select(lit(name).as("column_name"), col("bucket"), col("n_rows"),
            col("runs"), col("n_distinct"),
            when(col("runs") * 3L <= col("n_rows"), "rle")
              .when(col("n_distinct") * 8L <= col("n_rows"), "dict")
              .otherwise("plain").as("advice"))
      }
      audit("v_flag", "returnflag").union(audit("v_qty", "quantity"))
    }),

    // A79: Laplace-noised counts — the differential-privacy release
    // mechanism (epsilon = 1/2, sensitivity 1 → scale b = 2), with a
    // DETERMINISTIC lattice noise draw per source so the release is
    // auditable and engine-portable (documented: a production release
    // needs a cryptographic source; the MECHANISM — inverse-CDF
    // Laplace, u from a hash, error accounting — is what's under
    // test). noise = −b·sgn(u−½)·ln(1−2|u−½|): one ln, mirrored
    // token-for-token; |u−½| ≤ 0.4999995 keeps the argument ≥ 1e-6.
    "a79_dp_counts" -> ((s, dir) => {
      val g = documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("true_count"))
      val h = pmod(Text.polyHash(col("source")) * 1103515245L + 12345L,
        lit(1000000L))
      val u = (h.cast("double") + 0.5) / 1000000.0
      val noise = lit(-2.0) *
        when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5))
      g.select(col("source"), col("true_count"),
        r6(noise).as("noise"),
        r6(col("true_count") + noise).as("noisy_count"),
        r6(abs(noise)).as("abs_err"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "t_textrank" ->
      s"""WITH $TokCte,
         |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tok),
         |dfq AS (SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |kept AS (SELECT dt.doc_id, dt.term FROM dt
         | JOIN dfq USING (term) CROSS JOIN nn WHERE df * 10 <= n * 9),
         |prs AS (SELECT a.term AS t1, b.term AS t2,
         |  count(*)::BIGINT AS cooc
         | FROM kept a JOIN kept b ON a.doc_id = b.doc_id
         |  AND a.term < b.term
         | GROUP BY 1, 2 HAVING count(*) >= 5),
         |e AS (SELECT ${polyHashSql("t1")} AS src, ${polyHashSql("t2")} AS dst
         |  FROM prs
         | UNION ALL SELECT ${polyHashSql("t2")}, ${polyHashSql("t1")} FROM prs),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes),
         |${GraphQ.rankRounds(3)},
         |voc AS (SELECT DISTINCT term FROM
         |  (SELECT t1 AS term FROM prs UNION ALL SELECT t2 FROM prs)),
         |vh AS (SELECT term, ${polyHashSql("term")} AS node FROM voc)
         |SELECT term, r AS rank6 FROM vh JOIN r3 USING (node)
         |ORDER BY rank6 DESC, term LIMIT 50""".stripMargin,

    "a78_perm_test" -> {
      def inASql(p: Int) =
        s"((event_id % 720720) * ${1103515245L + 2L * p} + ${12345 + p}) % 1000 < 500"
      val permSums = (0 until NPerm).map(p =>
        s"sum(CASE WHEN ${inASql(p)} THEN c ELSE 0 END)::BIGINT AS s_$p,\n" +
        s"  sum(CASE WHEN ${inASql(p)} THEN 1 ELSE 0 END)::BIGINT AS n_$p")
        .mkString(",\n  ")
      def tNum(sA: String, nA: String) =
        s"abs($sA::HUGEINT * (n_all - $nA) - (s_all - $sA)::HUGEINT * $nA)"
      val ge = (0 until NPerm).map(p =>
        s"CASE WHEN ${tNum(s"s_$p", s"n_$p")} * (n_obs::HUGEINT * (n_all - n_obs))\n" +
        s"  >= ${tNum("s_obs", "n_obs")} * (n_$p::HUGEINT * (n_all - n_$p))\n" +
        s"  THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT event_id,
         |  ${latticeSql("value", 100)} AS c,
         |  (event_type = 'click')::BIGINT AS obs_a FROM events),
         |agg AS (SELECT
         |  sum(CASE WHEN obs_a = 1 THEN c ELSE 0 END)::BIGINT AS s_obs,
         |  sum(obs_a)::BIGINT AS n_obs,
         |  sum(c)::BIGINT AS s_all, count(*)::BIGINT AS n_all,
         |  $permSums
         | FROM e)
         |SELECT n_all, n_obs, s_obs, $NPerm::BIGINT AS n_perms,
         | ($ge)::BIGINT AS n_ge,
         | round((($ge) + 1)::DOUBLE / ${NPerm + 1}, 6) AS p_value
         |FROM agg""".stripMargin
    },

    "o30_encoding_advisor" -> {
      def auditSql(vExpr: String, name: String) =
        s"""SELECT '$name' AS column_name, bucket::BIGINT AS bucket,
           | count(*)::BIGINT AS n_rows, sum(brk)::BIGINT AS runs,
           | max(nd)::BIGINT AS n_distinct,
           | CASE WHEN sum(brk) * 3 <= count(*) THEN 'rle'
           |  WHEN max(nd) * 8 <= count(*) THEN 'dict'
           |  ELSE 'plain' END AS advice
           |FROM (SELECT bucket, v,
           |  CASE WHEN lag(v) OVER (PARTITION BY bucket ORDER BY rid, v)
           |    IS DISTINCT FROM v THEN 1 ELSE 0 END AS brk,
           |  count(DISTINCT v) OVER (PARTITION BY bucket) AS nd
           | FROM (SELECT l_orderkey * 8 + l_linenumber AS rid,
           |    (l_orderkey * 8 + l_linenumber) // 8192 AS bucket,
           |    $vExpr AS v FROM lineitem))
           |GROUP BY bucket""".stripMargin
      auditSql("l_returnflag", "returnflag") + "\nUNION ALL\n" +
        auditSql(s"CAST(${latticeSql("l_quantity", 100)} AS VARCHAR)",
          "quantity")
    },

    "a79_dp_counts" ->
      s"""WITH g AS (SELECT source, count(*)::BIGINT AS true_count
         | FROM documents GROUP BY source),
         |n AS (SELECT source, true_count,
         |  -2.0 * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
         |    * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
         | FROM (SELECT source, true_count,
         |   (((${polyHashSql("source")} * 1103515245 + 12345) % 1000000)
         |     ::DOUBLE + 0.5) / 1000000.0 AS u
         |  FROM g))
         |SELECT source, true_count, round(noise, 6) AS noise,
         | round(true_count + noise, 6) AS noisy_count,
         | round(abs(noise), 6) AS abs_err
         |FROM n""".stripMargin)
}
