package graft

import graft.ops.Ops
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date

class OpsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def datesDf = (1 to 28).map(i => Date.valueOf(f"2024-01-$i%02d")).toDF("d")

  test("P3 dateZone direction 0: inclusive past window [today-n, today]") {
    val got = datesDf.filter(Ops.dateZone($"d", Date.valueOf("2024-01-10"), 3, 0))
      .collect().map(_.getDate(0).toString).sorted
    assert(got === Array("2024-01-07", "2024-01-08", "2024-01-09", "2024-01-10"))
  }

  test("P3 dateZone direction 1: inclusive future window [today, today+n]") {
    val got = datesDf.filter(Ops.dateZone($"d", Date.valueOf("2024-01-10"), 2, 1))
      .collect().map(_.getDate(0).toString).sorted
    assert(got === Array("2024-01-10", "2024-01-11", "2024-01-12"))
  }

  test("P4 dateLoopFilter: past gap clamped to loop bounds") {
    // gap=5 around today=01-10, loop [01-08, 01-20] -> [max(01-08, 01-05), min(01-10, 01-20)]
    val got = datesDf.filter(Ops.dateLoopFilter($"d", 5,
        Date.valueOf("2024-01-08"), Date.valueOf("2024-01-20"), Date.valueOf("2024-01-10")))
      .collect().map(_.getDate(0).toString).sorted
    assert(got === Array("2024-01-08", "2024-01-09", "2024-01-10"))
  }

  test("A1 distinctUsersPerDay: one row per (date, userId)") {
    val clicks = Seq(
      (1L, 10L, Date.valueOf("2024-01-01"), 1),
      (1L, 11L, Date.valueOf("2024-01-01"), 1), // same user same day
      (1L, 10L, Date.valueOf("2024-01-02"), 1),
      (2L, 10L, Date.valueOf("2024-01-01"), 1)).toDF("userId", "newsId", "date", "count")
    val got = Ops.distinctUsersPerDay(clicks).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toSet
    assert(got === Set(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-02", 1L)))
  }

  test("asOfJoin: latest right row at-or-before left time per key, inner semantics") {
    val trades = Seq(
      (1L, "2024-01-01 10:00:00", 100L),
      (1L, "2024-01-01 12:00:00", 101L),
      (2L, "2024-01-01 09:00:00", 200L), // before any quote for key 2
      (3L, "2024-01-01 10:00:00", 300L)  // key with no quotes at all
    ).toDF("k", "t", "trade_id")
      .withColumn("t", to_timestamp($"t"))
    val quotes = Seq(
      (1L, "2024-01-01 09:30:00", 9.5),
      (1L, "2024-01-01 10:00:00", 10.0), // equal-time: matches the 10:00 trade
      (1L, "2024-01-01 11:00:00", 11.0),
      (2L, "2024-01-01 09:30:00", 2.0)
    ).toDF("qk", "qt", "price")
      .withColumn("qt", to_timestamp($"qt"))

    val got = Ops.asOfJoin(trades, "k", "t", quotes, "qk", "qt", Seq("price"))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(got === Map(
      100L -> 10.0, // equal timestamp matched (>= semantics)
      101L -> 11.0  // latest earlier quote
      // 200 (no earlier quote) and 300 (no quotes) dropped: inner as-of
    ))
  }

  test("asOfJoin: null right value columns carry as one row (no cross-row mixing)") {
    // DuckDB ASOF semantics: the matched right ROW is carried whole. A null
    // in one value column must not pull that column from an older row, and a
    // null in the first value column must not drop the match.
    val trades = Seq(
      (1L, "2024-01-01 10:00:00", 100L),
      (1L, "2024-01-01 12:00:00", 101L)
    ).toDF("k", "t", "trade_id")
      .withColumn("t", to_timestamp($"t"))
    val quotes = Seq(
      (1L, "2024-01-01 09:00:00", Some(9.0), Some(90L)),
      (1L, "2024-01-01 09:30:00", None, Some(95L)),    // null price: still the match for 10:00
      (1L, "2024-01-01 11:00:00", Some(11.0), None)    // null size: still the match for 12:00
    ).toDF("qk", "qt", "price", "qsize")
      .withColumn("qt", to_timestamp($"qt"))

    val got = Ops.asOfJoin(trades, "k", "t", quotes, "qk", "qt", Seq("price", "qsize"))
      .collect()
      .map(r => r.getLong(2) ->
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
         Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(got === Map(
      100L -> (None, Some(95L)),     // whole 09:30 row — price NOT taken from 09:00
      101L -> (Some(11.0), None)     // whole 11:00 row — size NOT taken from 09:30
    ))
  }

  test("sessionize: gap >= threshold starts a new session (session_window merge rule)") {
    val ts0 = 1700000000000000L // epoch micros
    val gap = 1800L // seconds
    val ev = Seq(
      (1L, 10L, ts0),                          // s1
      (1L, 11L, ts0 + 1799L * 1000000L),       // +1799s  < gap  -> s1
      (1L, 12L, ts0 + 3599L * 1000000L),       // +1800s == gap  -> s2 (strict <)
      (1L, 13L, ts0 + 7200L * 1000000L),       // +3601s         -> s3
      (2L, 20L, ts0)                           // other key      -> own s1
    ).toDF("k", "id", "us")
      .withColumn("t", timestamp_micros($"us")).drop("us")
    val got = graft.ops.Sessionize.sessionize(ev, "k", "t", "id", gap)
      .select($"id", $"session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 13L -> 3L, 20L -> 1L))

    val stats = graft.ops.Sessionize.sessionStats(ev, "k", "t", "id", gap)
      .filter($"k" === 1 && $"session_id" === 1)
      .select($"n_events").collect()
    assert(stats.head.getLong(0) === 2L)
  }

  test("property: topKPerGroup == per-group sorted prefix (T1-T3 contract)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 4)
        v <- Gen.choose(-100, 100)
        id <- Gen.choose(0, 1000000)
      } yield (g, v, id))
      k <- Gen.choose(1, 5)
    } yield (rows.distinctBy(_._3), k)

    val prop = Prop.forAll(gen) { case (rows, k) =>
      val df = rows.toDF("g", "v", "id")
      val got = Ops.topKPerGroup(df, Seq("g"), Seq(col("v").desc, col("id").asc), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toList
      val expected = rows.groupBy(_._1).toList.flatMap { case (g, grp) =>
        grp.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
          .map { case ((_, v, id), i) => (g, v, id, i + 1) }
      }
      got.sortBy(t => (t._1, t._4)) == expected.sortBy(t => (t._1, t._4))
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, result.status.toString)
  }

  test("exact rational/cent rounding resolves grid half-points the double path misses") {
    import spark.implicits._
    // U=101 hundredths over n=200 rows: avg·10⁴ = 50.5, an exact half-point.
    // The double path round(avg, 4) sees 0.005049999...  → 0.0050; the
    // integer identity half_up gives the deterministic 0.0051 both engines
    // agree on.
    val df = Seq((101L, 200L)).toDF("u", "n")
    val r = df.select(Ops.ratioHalfUp(col("u") * 100, col("n"), 4).as("v"))
      .as[Double].head()
    assert(r === 0.0051)
    // and a non-tie value matches plain rounding
    val r2 = df.select(Ops.ratioHalfUp(lit(123L) * 100, col("n"), 4).as("v"))
      .as[Double].head()
    assert(r2 === 0.0062) // 123*100/200 = 61.5 → ALSO a tie → 62; pick non-tie:
    val r3 = df.select(Ops.ratioHalfUp(lit(124L) * 100, col("n"), 4).as("v"))
      .as[Double].head()
    assert(r3 === 0.0062) // 124*100/200 = 62 exact
    // centsHalfUpFromUnits: 12345 ten-thousandths = 1.2345 → half-up 1.23;
    // 12350 = 1.235 → the half-cent tie rounds UP to 1.24 deterministically
    val c = Seq(12345L, 12350L).toDF("u")
      .select(Ops.centsHalfUpFromUnits(col("u")).as("v"))
      .as[Double].collect().toList
    assert(c === List(1.23, 1.24))
  }

  test("cumHistogram rank selection == row_number selection (randomized)") {
    // The q57/q118/q145/q149 scale path: selecting sorted position k from
    // the cumulative value histogram must pick EXACTLY the value the
    // corpus-sized row_number window would have picked, for every k and
    // under heavy ties. Randomized over seeds; ties guaranteed by a small
    // value domain.
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(400)((s"g${rnd.nextInt(3)}", rnd.nextInt(12).toDouble))
      val df = rows.toDF("g", "v")
      val hist = Ops.cumHistogram(df, Seq("g"), "v")
      for (k <- Seq(1, 3, 7)) {
        val fromHist = hist.filter(Ops.containsRank(lit(k)) && col("_n") >= k)
          .select(col("g"), col("v"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val w = Window.partitionBy("g").orderBy(col("v").asc)
        val fromRows = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") === k)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(fromHist === fromRows, s"seed $seed k $k")
      }
      // weighted: crossing value of 2·cumw >= totw equals the per-row form
      val wdf = rows.map { case (g, v) => (g, v, 1 + rnd.nextInt(5)) }.toDF("g", "v", "wt")
      val wh = Ops.cumHistogram(wdf, Seq("g"), "v", weight = Some("wt"))
        .groupBy("g").agg(min(when(col("_cum") * 2 >= col("_n"), col("v"))).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val wRows = wdf
        .withColumn("cumw", sum(col("wt")).over(
          Window.partitionBy("g").orderBy(col("v").asc)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("totw", sum(col("wt")).over(Window.partitionBy("g")))
        .groupBy("g").agg(min(when(col("cumw") * 2 >= col("totw"), col("v"))).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(wh === wRows, s"seed $seed weighted")
    }
  }
}
