package graft

import graft.functions.TopKAggregator
import graft.ops.Ops
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

class TopKAggSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("TopK aggregator == window topKPerGroup ordered ids (partial-agg path)") {
    val gen = for {
      n <- Gen.choose(0, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 3)
        v <- Gen.choose(-50, 50).map(_.toDouble)
        id <- Gen.choose(0L, 100000L)
      } yield (g, v, id))
      k <- Gen.choose(1, 4)
    } yield (rows.distinctBy(_._3), k)

    val prop = Prop.forAll(gen) { case (rows, k) =>
      val df = rows.toDF("g", "score", "id").repartition(4) // force partial merge
      val agg = df.groupBy($"g")
        .agg(TopKAggregator.topK(k)($"score", $"id").as("ids"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val win = Ops.topKPerGroup(df, Seq("g"), Seq($"score".desc, $"id".asc), k)
        .collect().map(r => (r.getInt(0), r.getLong(2), r.getInt(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      agg == win
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status.toString)
  }

  test("MinKByKey aggregator == window row_number over (key asc, id asc) (partial-agg path)") {
    val gen = for {
      n <- Gen.choose(0, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 3)
        key <- Gen.oneOf("aa", "ab", "ba", "bb", "ca") // few values: force ties
        id <- Gen.choose(0L, 30L)
      } yield (g, key, id))
      k <- Gen.choose(1, 4)
    } yield (rows.distinctBy(r => (r._1, r._3)), k)

    val prop = Prop.forAll(gen) { case (rows, k) =>
      val df = rows.toDF("g", "key", "id").repartition(4) // force partial merge
      val agg = df.groupBy($"g")
        .agg(TopKAggregator.minKByKey(k)($"key", $"id").as("ids"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val win = df.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"g")
            .orderBy($"key".asc, $"id".asc)))
        .filter($"rk" <= k)
        .collect().map(r => (r.getInt(0), r.getLong(2), r.getInt(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      agg == win
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status.toString)
  }

  test("TopK aggregator keeps only k rows, tie-broken id-asc") {
    val df = Seq((1, 5.0, 10L), (1, 5.0, 7L), (1, 9.0, 99L), (1, 1.0, 1L))
      .toDF("g", "score", "id")
    val got = df.groupBy($"g")
      .agg(TopKAggregator.topK(2)($"score", $"id").as("ids"))
      .collect().head.getSeq[Long](1)
    assert(got === Seq(99L, 7L))
  }
}
