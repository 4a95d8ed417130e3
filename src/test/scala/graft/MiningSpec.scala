package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the analytics-mining surface (queries.MiningQueries):
  * chunking coverage/overlap laws, bigram-LM hand trace, item-CF cosine,
  * NDCG boundary cases. End-to-end oracle coverage lives in the driver's
  * DuckDB compare; these pin semantics on hand-auditable inputs.
  */
class MiningSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("q164/q177: plan construction schedules no Spark job (N rides the aggregate, no count scan)") {
    val sf = "/root/testdata/sf0.001"
    // warm file listing + parquet schema caches so only a genuine driver
    // action (the old `docs.count()` shape) could start a job below
    graft.runtime.Stage.newQueryScope()
    SparkEntry.queries("q164_chi_square")(spark, sf)
    SparkEntry.queries("q177_benford")(spark, sf)
    // parquet schema-inference jobs ("parquet at ...") are expected per
    // read; what must NOT appear is an ACTION during construction — the old
    // shape ran `docs.count()` while building the plan.
    val actionJobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        if (Seq("count at", "head at", "collect at", "take at")
            .exists(site.contains)) { actionJobs.add(site); () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val chi = SparkEntry.queries("q164_chi_square")(spark, sf)
      val ben = SparkEntry.queries("q177_benford")(spark, sf)
      // listener bus is async; block until every posted event is delivered
      // (a fixed sleep can miss a late-posted job or flake under load)
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext, 30000L)
      assert(actionJobs.isEmpty,
        s"building the plans must not run driver actions, saw: $actionJobs")
      // and the lazily-built plans still evaluate correctly
      assert(chi.collect().length === 1)
      assert(ben.collect().length === 9)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q165/q210/q97/q104: no count() driver action during construction (totals ride the bin collect / broadcast agg)") {
    val sf = "/root/testdata/sf0.001"
    // warm caches, then listen: the rank machinery's two collect jobs are
    // the design; what must NOT appear is a separate `count at` job (the
    // old gaps.count()/delta.count()/prices.count() shapes).
    graft.runtime.Stage.newQueryScope()
    SparkEntry.queries("q165_time_to_convert")(spark, sf)
    val countJobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        if (site.contains("count at")) { countJobs.add(site); () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      for (q <- Seq("q165_time_to_convert", "q210_incremental_dedup",
                    "q97_winsorize", "q104_equidepth")) {
        graft.runtime.Stage.newQueryScope()
        val df = SparkEntry.queries(q)(spark, sf)
        assert(df.collect().nonEmpty, s"$q must still evaluate")
      }
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext, 30000L)
      // the queries' own final collect above IS a "collect", never a
      // "count"; any `count at` job means a scalar driver count survived
      assert(countJobs.isEmpty,
        s"no construction-time count() actions expected, saw: $countJobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q110/q112/q83/q184/q101: no scalar driver actions in query code (counts ride the broadcast agg / lazy triangle agg)") {
    val sf = "/root/testdata/sf0.001"
    // warm caches, then listen. The retired class is a count()/head() job
    // whose callsite is OUR query code (the old hi.count()/docs.count()/
    // edges.count()/nodes.count()/wedges.head() shapes); checkpoint-eager
    // actions land in Dataset.scala and are the iteration design, so the
    // pin matches on the source file of the callsite.
    graft.runtime.Stage.newQueryScope()
    SparkEntry.queries("q110_triangles")(spark, sf).collect()
    val badJobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        val isScalar = Seq("count at", "head at", "take at").exists(site.contains)
        val inQueryCode = Seq("ScaleQueries.scala", "MiningQueries.scala", "Graph.scala")
          .exists(site.contains)
        if (isScalar && inQueryCode) { badJobs.add(site); () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      for (q <- Seq("q110_triangles", "q112_mi_contingency", "q83_pmi_cooccur",
                    "q184_clustering_coeff", "q101_pagerank")) {
        graft.runtime.Stage.newQueryScope()
        assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, s"$q must still evaluate")
      }
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext, 30000L)
      assert(badJobs.isEmpty,
        s"no scalar driver actions expected from query code, saw: $badJobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("nullSafeJoinGuarded: high-null key fails loudly before the join; bounded bucket passes") {
    import graft.ops.Ops
    val left = spark.range(0, 100)
      .select(when(col("id") < 40, lit(null).cast("bigint"))
        .otherwise(col("id")).as("lk"), col("id").as("lv"))
    val right = spark.range(0, 50)
      .select(when(col("id") < 20, lit(null).cast("bigint"))
        .otherwise(col("id") + 60).as("rk"), col("id").as("rv"))
    // 40 × 20 = 800 null-bucket pairs > budget 100 → loud failure, and the
    // message names the projected pair count
    val e = intercept[IllegalArgumentException] {
      Ops.nullSafeJoinGuarded(left, col("lk"), right, col("rk"), maxNullPairs = 100L)
    }
    assert(e.getMessage.contains("40 × 20"))
    assert(e.getMessage.contains("cross join"))
    // within budget: the join runs and the null bucket is exactly the cross
    val ok = Ops.nullSafeJoinGuarded(left, col("lk"), right, col("rk"), maxNullPairs = 800L)
    assert(ok.filter(col("lk").isNull).count() === 800L)
    // the split execution (equi-join ∪ broadcast-cross bucket, round 11)
    // is row-identical to the plain <=> join — multiset compare
    val plain = left.join(right, col("lk") <=> col("rk"))
    assert(ok.exceptAll(plain).isEmpty && plain.exceptAll(ok).isEmpty)
    // and both smaller-side orientations agree: flip which side is
    // null-heavy so the broadcast picks the LEFT branch too
    val ok2 = Ops.nullSafeJoinGuarded(right, col("rk"), left, col("lk"), maxNullPairs = 800L)
    val plain2 = right.join(left, col("rk") <=> col("lk"))
    assert(ok2.exceptAll(plain2).isEmpty && plain2.exceptAll(ok2).isEmpty)
  }

  private def chunks(tokens: Seq[String], chunk: Int, stride: Int): Seq[Seq[String]] = {
    val df = Seq((1L, tokens.mkString(" "))).toDF("doc_id", "text")
      .select(col("doc_id"), graft.text.Tokenizer.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), floor((size(col("tk")) - 1) / stride).cast("long")))
          .as("i"),
        col("tk"))
      .select(col("i"), slice(col("tk"), (col("i") * stride + 1).cast("int"), lit(chunk)).as("ck"))
    df.orderBy("i").as[(Long, Seq[String])].collect().map(_._2).toSeq
  }

  test("q122 chunking: full coverage, stride overlap, bounded size") {
    // alphabetic tokens: the tokenizer splits on non-letters, so "w1" would
    // collapse to "w"
    val toks = (1 to 150).map(i =>
      s"t${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val cks = chunks(toks, 64, 48)
    // starts at 0, 48, 96; 144 < 150 so a fourth suffix chunk exists
    assert(cks.length === 4)
    assert(cks.forall(_.length <= 64))
    // every token appears in at least one chunk, order preserved
    assert(cks.flatten.toSet === toks.toSet)
    // consecutive chunks overlap by chunk-stride = 16 tokens
    assert(cks(0).takeRight(16) === cks(1).take(16))
    assert(cks(0) === toks.slice(0, 64))
    assert(cks(1) === toks.slice(48, 112))
    assert(cks(3) === toks.slice(144, 150)) // short tail chunk
  }

  test("q122 chunking: single short doc = one chunk, exact content") {
    val cks = chunks(Seq("a", "b", "c"), 64, 48)
    assert(cks === Seq(Seq("a", "b", "c")))
  }

  test("q123 bigram LM: add-one smoothed scores match the hand computation") {
    // corpus: doc1 = "a b a b", doc2 = "a b c"
    // bigrams: d1: (a,b) (b,a) (a,b); d2: (a,b) (b,c)
    // c2: (a,b)=3, (b,a)=1, (b,c)=1 ; c1: a=3, b=2 ; V=3
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val tk = docs.select(col("doc_id"), graft.text.Tokenizer.tokens(col("text")).as("tk"))
    val bg = tk.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk)-1), i -> struct(element_at(tk, i) AS w1, element_at(tk, i+1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = tk.select(explode(col("tk")).as("w")).distinct().count().toDouble
    assert(v === 3.0)
    val out = bg.join(c2, Seq("w1", "w2")).join(c1, "w1")
      .select(col("doc_id"),
        log((col("c2") + 1).cast("double") / (col("c1") + lit(v))).as("lp"))
      .groupBy("doc_id").agg(avg(col("lp")).as("avg_logp"))
      .as[(Long, Double)].collect().toMap
    val d1 = (2 * math.log(4.0 / 6.0) + math.log(2.0 / 5.0)) / 3
    val d2 = (math.log(4.0 / 6.0) + math.log(2.0 / 5.0)) / 2
    assert(math.abs(out(1L) - d1) < 1e-12)
    assert(math.abs(out(2L) - d2) < 1e-12)
  }

  test("q121 item-CF: cosine over co-click incidence on a hand graph") {
    // users: u1 {A,B}, u2 {A,B}, u3 {A,C}
    // n: A=3, B=2, C=1; co(A,B)=2, co(A,C)=1
    // cos(A,B) = 2/sqrt(6); cos(A,C) = 1/sqrt(3)
    val sets = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (3L, "A"), (3L, "C"))
      .toDF("userId", "newsId")
    val ni = sets.groupBy("newsId").agg(count(lit(1)).as("n"))
    val co = sets.select(col("userId"), col("newsId").as("a"))
      .join(sets.select(col("userId"), col("newsId").as("b")), "userId")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("co"))
    val sym = co.union(co.select(col("b").as("a"), col("a").as("b"), col("co")))
    val scored = sym
      .join(ni.select(col("newsId").as("a"), col("n").as("na")), "a")
      .join(ni.select(col("newsId").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"), (col("co") / sqrt(col("na") * col("nb"))).as("cos"))
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(scored(("A", "B")) - 2.0 / math.sqrt(6)) < 1e-12)
    assert(math.abs(scored(("B", "A")) - 2.0 / math.sqrt(6)) < 1e-12) // symmetric
    assert(math.abs(scored(("A", "C")) - 1.0 / math.sqrt(3)) < 1e-12)
    assert(!scored.contains(("B", "C"))) // no co-click, no pair
  }

  test("q125 NDCG boundaries: perfect ranking = 1, no hits = 0, scale-invariant to m<=10") {
    // idcg over m relevant = sum_{i=1..min(m,10)} 1/log2(i+1)
    def idcg(m: Int): Double =
      (1 to math.min(m, 10)).map(i => 1.0 / (math.log(i + 1) / math.log(2))).sum
    // user clicked 3 news, all ranked at the top 3 positions -> dcg = idcg(3)
    val dcgTop3 = (1 to 3).map(p => 1.0 / (math.log(p + 1) / math.log(2))).sum
    assert(math.abs(dcgTop3 / idcg(3) - 1.0) < 1e-12)
    // the Spark-side idcg expression agrees with the Scala closed form
    val out = Seq(3, 10, 15).toDF("m")
      .select(expr(
        "aggregate(sequence(1, least(CAST(m AS INT), 10)), CAST(0.0 AS DOUBLE), (acc, i) -> acc + 1.0/log2(CAST(i+1 AS DOUBLE)))")
        .as("idcg"))
      .as[Double].collect()
    assert(math.abs(out(0) - idcg(3)) < 1e-12)
    assert(math.abs(out(1) - idcg(10)) < 1e-12)
    assert(math.abs(out(2) - idcg(10)) < 1e-12) // capped at 10
  }

  test("q127 merge laws: delete drops, update rewrites, insert lands, rest pass through") {
    val tgt = Seq((10L, "A", 100.0), (11L, "B", 200.0), (13L, "C", 300.0), (19L, "D", 400.0))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
    val chg = tgt.select(col("c_custkey").as("k"),
        when(col("c_custkey") % 10 === 0, lit("D"))
          .when(col("c_custkey") % 10 <= 3, lit("U"))
          .otherwise(lit(null)).as("op"),
        round(col("c_acctbal") * 1.1, 2).as("new_bal"))
      .filter(col("op").isNotNull)
      .union(tgt.filter(col("c_custkey") % 10 === 4)
        .select((col("c_custkey") + 1000000).as("k"), lit("I").as("op"),
          lit(0.0).as("new_bal")))
    val out = tgt.join(chg, col("c_custkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("c_custkey"), col("k")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("NEW")).as("segment"),
        round(when(col("op") === "U", col("new_bal"))
          .when(col("op") === "I", col("new_bal"))
          .otherwise(col("c_acctbal")), 2).as("acctbal"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (11L, "B", 220.0),  // %10=1 -> updated 1.1x
      (13L, "C", 330.0),  // %10=3 -> updated 1.1x
      (19L, "D", 400.0))) // %10=9 -> untouched pass-through; 10 deleted, no %10=4 key -> no insert
  }

  test("q129 null-safe join: NULL keys match each other, plain join drops them") {
    val l = Seq(Some(1L), None, Some(2L)).toDF("uk")
    val r = Seq(Some(1L), None, Some(3L)).toDF("ck")
    val nullSafe = l.join(r, col("uk") <=> col("ck")).count()
    val plain = l.join(r, col("uk") === col("ck")).count()
    assert(nullSafe === 2) // 1=1 and NULL<=>NULL
    assert(plain === 1)    // NULL=NULL is not true
  }

  test("q131/q132 plans: static partition pruning and dynamic partition pruning reach the scan") {
    val d = "/root/testdata/sf0.001"
    val pruned = graft.queries.MiningQueries.queries("q131_partitioned_layout")(spark, d)
    val planP = pruned.queryExecution.executedPlan.toString
    assert(planP.contains("PartitionFilters") &&
      planP.contains("day") && planP.contains("2024-01-10"),
      s"expected static partition filters in:\n$planP")
    val dpp = graft.queries.MiningQueries.queries("q132_dpp")(spark, d)
    val planD = dpp.queryExecution.executedPlan.toString
    assert(planD.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery filter in:\n$planD")
  }

  test("q130 transformWithState: state accumulates across micro-batches") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val dir = new java.io.File(tempDir("tws_spec"))
    dir.deleteOnExit()
    // three single-row files -> three micro-batches for the same user
    Seq((1L, 100L, 0), (1L, 50L, 1), (1L, 200L, 0)).zipWithIndex.foreach {
      case ((uid, ts, day), i) =>
        Seq((uid, ts, day)).toDF("userId", "tsUs", "dayOrd")
          .coalesce(1).write.parquet(s"$dir/f$i")
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema("userId LONG, tsUs LONG, dayOrd INT")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/f*")
        .select(col("userId"), col("dayOrd"), col("tsUs"))
        .as[graft.streaming.StreamingTws.Ev]
      implicit val enc: org.apache.spark.sql.Encoder[graft.streaming.StreamingTws.UserActivity] =
        org.apache.spark.sql.Encoders.product
      val out = stream.groupByKey(_.userId)
        .transformWithState(new graft.streaming.StreamingTws.ActivityProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF().writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("tws_spec").start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.table("tws_spec")
        .orderBy(col("n_events"))
        .as[(Long, Long, Int, Long, Long)].collect()
      // one emission per micro-batch; the last has the fully folded state
      assert(rows.length >= 2, s"expected multiple micro-batch emissions, got ${rows.length}")
      assert(rows.last === ((1L, 3L, 2, 50L, 200L)),
        "final state must fold counts, distinct days, min/max across batches")
    } finally spark.conf.unset(providerKey)
  }

  test("q134 average precision: running-hit window matches the hand formula") {
    // hits at rec positions 2 and 5, m = 3 relevant items
    // AP = (prec@2 + prec@5) / min(m,10) = (1/2 + 2/5) / 3 = 0.3
    val hits = Seq(("d1", 7L, 2), ("d1", 7L, 5)).toDF("date", "userId", "p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("date", "userId").orderBy("p")
    val sumprec = hits.withColumn("r", row_number().over(w))
      .groupBy("date", "userId")
      .agg(sum(col("r").cast("double") / col("p")).as("sumprec"))
      .as[(String, Long, Double)].collect().head._3
    assert(math.abs(sumprec / math.min(3, 10) - 0.3) < 1e-12)
  }

  test("q136 posexplode_outer: empty entities keep a null-position row, inner explode drops them") {
    val df = Seq((1L, Seq(10.0, 20.0)), (2L, Seq.empty[Double]))
      .toDF("user_id", "vals")
    val outer = df.select(col("user_id"), posexplode_outer(col("vals")).as(Seq("pos", "value")))
      .as[(Long, Option[Int], Option[Double])].collect().sortBy(r => (r._1, r._2))
    assert(outer.toSeq === Seq((1L, Some(0), Some(10.0)), (1L, Some(1), Some(20.0)),
      (2L, None, None)))
    val inner = df.select(col("user_id"), posexplode(col("vals")).as(Seq("pos", "value")))
      .select(col("user_id")).distinct().as[Long].collect()
    assert(inner.toSeq === Seq(1L))
  }

  test("q138 recursive CTE: hop-guarded walks on a hand graph (diamond + cycle)") {
    // 0->1, 0->2, 1->3, 2->3, 3->0 (cycle back). Walks from 0, hops<3:
    // hop0: {0}; hop1: 1,2; hop2: 3(x2); hop3: 0(x2) — n_walks counts walks.
    Seq((0, 1), (0, 2), (1, 3), (2, 3), (3, 0)).toDF("src", "dst")
      .createOrReplaceTempView("spec_edges")
    val out = spark.sql(
      """WITH RECURSIVE r(n, hops) AS (
        |  SELECT 0, 0
        |  UNION ALL
        |  SELECT e.dst, r.hops + 1 FROM r JOIN spec_edges e ON e.src = r.n
        |  WHERE r.hops < 3)
        |SELECT n, min(hops) AS min_hops, count(*) AS n_walks
        |FROM r GROUP BY n""".stripMargin)
      .as[(Int, Int, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((0, 0, 3L), (1, 1, 1L), (2, 1, 1L), (3, 2, 2L)))
  }

  test("q157 runtime filter: InjectRuntimeFilter plants a bloom on the probe side") {
    val d = "/root/testdata/sf0.001"
    import graft.queries.MiningQueries
    val plan = MiningQueries.withRuntimeFilterConfs(spark) {
      MiningQueries.runtimeFilterJoin(spark, d).queryExecution.optimizedPlan.toString
    }
    assert(plan.contains("might_contain") || plan.contains("bloom"),
      s"expected a bloom runtime filter in the optimized plan:\n$plan")
  }

  test("q180 join hint: .hint(\"merge\") forces a SortMergeJoin") {
    val d = "/root/testdata/sf0.001"
    val df = graft.queries.MiningQueries.queries("q180_join_hints")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected SortMergeJoin under the merge hint:\n$plan")
  }

  test("q191 bucket pruning: key-equality filter selects a bucket subset") {
    val d = "/root/testdata/sf0.001"
    val plan = graft.queries.MiningQueries.withBucketedScan(spark) {
      val (orders, _) = graft.io.Bucketed.ordersLineitem(spark, d)
      orders.filter(col("o_orderkey").isin(42L, 4242L))
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("SelectedBucketsCount"),
      s"expected bucket pruning (SelectedBucketsCount) in:\n$plan")
    assert(plan.matches("(?s).*SelectedBucketsCount: [12] out of 8.*"),
      s"expected at most 2 of 8 buckets selected in:\n$plan")
  }

  test("q122 chunking edge: token count exactly at chunk and stride boundaries") {
    def alpha(i: Int) = s"t${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    // exactly CHUNK tokens -> one full chunk, then a suffix chunk from
    // position 49 (48 < 64 means a second window starts inside the first)
    val at64 = chunks((1 to 64).map(alpha), 64, 48)
    assert(at64.length === 2 && at64.head.length === 64 && at64(1).length === 16)
    // exactly STRIDE tokens -> one chunk only (next start = 48 >= n_tok)
    val at48 = chunks((1 to 48).map(alpha), 64, 48)
    assert(at48.length === 1 && at48.head.length === 48)
    // STRIDE+1 tokens -> second chunk of exactly 1 token
    val at49 = chunks((1 to 49).map(alpha), 64, 48)
    assert(at49.length === 2 && at49(1) === Seq(alpha(49)))
  }

  test("q149 weighted median edge: single row and all-equal weights") {
    val single = Seq(("en", 1L, 100L)).toDF("lang", "doc_id", "n_chars")
      .withColumn("wt", col("n_chars") % 7 + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    def wmed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("cumw", sum(col("wt")).over(w))
      .withColumn("totw", sum(col("wt")).over(wp))
      .groupBy("lang")
      .agg(min(when(col("cumw") * 2 >= col("totw"), col("n_chars"))).as("wm"))
      .as[(String, Long)].collect().toMap
    assert(wmed(single)("en") === 100L)
    // equal weights over 1..4 -> cumw*2 >= totw first at element 2
    val four = (1L to 4L).map(i => ("en", i, i * 10)).toDF("lang", "doc_id", "n_chars")
      .withColumn("wt", lit(1L))
    assert(wmed(four)("en") === 20L)
  }

  test("q169 sweep line edge: identical start/end timestamps count overlap correctly") {
    // two sessions: [10, 20] and [20, 30] — at t=20 the convention counts
    // the starting session before the ending one closes -> peak 2
    val deltas = Seq((20L, 1, 2L), (10L, 1, 1L), (20L, -1, 1L), (30L, -1, 2L))
      .toDF("t", "delta", "sid")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("t").asc, col("delta").desc, col("sid").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val peak = deltas.select(sum(col("delta")).over(w).as("open"))
      .agg(max(col("open"))).as[Long].collect().head
    assert(peak === 2L)
  }

  test("q120 multiway join plan: date filter pushed to the orders scan, constant dims broadcast") {
    val d = "/root/testdata/sf0.001"
    val df = graft.queries.MiningQueries.queries("q120_multiway_join")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"expected the orders date filter pushed to the parquet scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for the constant dims:\n$plan")
    // projection pruning: the lineitem scan must not read unused wide columns
    assert(!plan.contains("l_comment") && plan.contains("l_extendedprice"))
  }

  test("q124 rolling z-score: hand series, trailing frame excludes today") {
    val daily = Seq(
      ("a", "2024-01-01", 10.0), ("a", "2024-01-02", 12.0),
      ("a", "2024-01-03", 11.0), ("a", "2024-01-04", 9.0),
      ("a", "2024-01-05", 30.0) // spike day
    ).toDF("k", "day", "c").withColumn("day", to_date(col("day")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("day").rowsBetween(-7, -1)
    val out = daily.select(col("day").cast("string"),
        count(col("c")).over(w).as("n_prior"),
        ((col("c") - avg(col("c")).over(w)) / stddev_samp(col("c")).over(w)).as("z"))
      .filter(col("n_prior") >= 3)
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq("2024-01-04", "2024-01-05"))
    // day 5: priors 10,12,11,9 -> mu=10.5, sd=sqrt((0.25+2.25+0.25+2.25)/3)
    val sd = math.sqrt(5.0 / 3.0)
    assert(math.abs(out(1)._3 - (30.0 - 10.5) / sd) < 1e-12)
    assert(out(1)._3 > 2.0) // flagged as spike
  }
}
