package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stress-data generator: replicates the driver's sf0.1 tables `factor`×
  * with disjoint key offsets, producing a larger-decade dataset (sf1 for
  * factor=10) WITHOUT touching /root/testdata. Referential integrity is
  * preserved per replica — fact foreign keys are offset by the same stride
  * as their dimension's primary key, so joins fan out exactly as a larger
  * corpus would (10× users, 10× docs, 10× orders; dims region/nation stay
  * fixed like real reference data). Document text is replicated verbatim:
  * that makes every doc a 10-way exact duplicate, which is the WORST case
  * for the dedup/blocking lanes — precisely what a skew stress run wants.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor> [mode]
  *
  * mode = `exact` (default): document text replicates VERBATIM — every doc
  * becomes a factor-way exact duplicate, the worst case for exact-dedup
  * collapse and blocking.
  * mode = `neardup`: replica i>0 of each document MUTATES its text
  * deterministically — every ~16th token (keyed by hash(doc_id, i, pos),
  * no RNG state) is prefixed with a replica tag (pure letters, so the
  * engine tokenizer keeps it one token). Texts are byte-distinct, so the
  * exact-collapse pre-pass (sharedRepMap) collapses NOTHING and the
  * MinHash/LSH candidate + jaccard stages carry the full load — the real
  * 100 TB crawl profile AFTER exact dedup, where what remains is mutated
  * near-duplication (template pages, syndicated edits), not byte copies.
  * Measured shape at ~50 tokens/doc: original↔replica jaccard ≈ 0.6–0.8
  * (above the 0.5 cluster threshold), replica↔replica ≈ 0.4–0.55
  * (straddling it) — clusters form via the original, and the LSH band
  * join produces group-quadratic candidate pairs that exact-collapse
  * cannot shortcut.
  *
  * `events.ts` mirrors the source layout: the round-6+ µs TIMESTAMP_NTZ
  * source passes through unchanged (Spark writes NTZ natively), while the
  * legacy TIMESTAMP(NANOS) source (read as long under nanosAsLong) needs a
  * post-step — python3 tools/nanosify_events.py <outDir> — because Spark
  * cannot write nanos itself. This is a test harness utility (like
  * Bench/Verify), not a query lane.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val mode = if (args.length > 3) args(3) else "exact"
    require(mode == "exact" || mode == "neardup",
      s"ScaleUp: unknown mode '$mode' (expected exact|neardup)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.runtime.GraftScale.session(src, cpus)

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // Key strides: one power-of-ten above each table's max id, so replica
    // key ranges are disjoint and ids stay readable (replica i of key k is
    // i*stride + k).
    def stride(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key)).cast("long").as("mx")).head()
      require(!row.isNullAt(0),
        s"ScaleUp: key column '$key' has no non-null values (empty source " +
          "table?) — cannot derive a replica stride")
      val mx = row.getLong(0)
      require(mx >= 0, s"ScaleUp: key column '$key' has negative max $mx — " +
        "replica key ranges would overlap")
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    def replicate(df: DataFrame, offsets: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        offsets.foldLeft(df) { case (acc, (c, st)) =>
          acc.withColumn(c, col(c) + lit(i * st))
        }
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val custS = stride(t("customer"), "c_custkey")
    val suppS = stride(t("supplier"), "s_suppkey")
    val partS = stride(t("part"), "p_partkey")
    val ordS  = stride(t("orders"), "o_orderkey")
    val evtS  = stride(t("events"), "event_id")
    val userS = stride(t("events"), "user_id")
    val docS  = stride(t("documents"), "doc_id")
    val vecS  = stride(t("embeddings"), "vec_id")

    // dimensions shared by every replica (like real reference data)
    write(t("region"), "region")
    write(t("nation"), "nation")
    write(replicate(t("customer"), Map("c_custkey" -> custS)), "customer")
    write(replicate(t("supplier"), Map("s_suppkey" -> suppS)), "supplier")
    write(replicate(t("part"), Map("p_partkey" -> partS)), "part")
    write(replicate(t("orders"),
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    write(replicate(t("lineitem"),
      Map("l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)),
      "lineitem")
    // events needs TWO layout properties the other tables don't:
    //  - `ts` as a real timestamp: a round-6+ µs TIMESTAMP_NTZ source
    //    passes through unchanged; a legacy TIMESTAMP(NANOS) source reads
    //    as a raw long (nanosAsLong), and writing the long back would
    //    leave DuckDB oracles unable to CAST(ts AS TIMESTAMP) — convert
    //    to µs and (if nanos parity matters) re-nanosify post-hoc;
    //  - a SINGLE FILE named events.parquet (the streaming lanes discover
    //    input via pathGlobFilter=events.parquet, which matches leaf file
    //    names — a directory of part files would stream zero rows).
    val ev = replicate(t("events"), Map("event_id" -> evtS, "user_id" -> userS))
    val evTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => ev
    }
    evTs.coalesce(1).write.mode("overwrite").parquet(s"$out/_events_tmp")
    val tmp = new java.io.File(s"$out/_events_tmp")
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val tgt = new java.io.File(s"$out/events.parquet")
    if (tgt.exists()) { def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }; rm(tgt) }
    require(part.renameTo(tgt), s"rename ${part} -> $tgt failed")
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    println(s"[scaleup] events: ${spark.read.parquet(s"$out/events.parquet").count()} rows (single file, µs ts)")
    // documents: replica 0 is always verbatim; neardup mode mutates the
    // text of replicas i>0 (deterministic token prefixing — see header).
    // n_chars is recomputed so downstream byte audits stay consistent.
    val docsOut =
      if (mode == "exact") replicate(t("documents"), Map("doc_id" -> docS))
      else (0 until factor).map { i =>
        val base = t("documents").withColumn("doc_id", col("doc_id") + lit(i * docS))
        if (i == 0) base
        else {
          // replica tag in pure letters (digits would split under the
          // engine tokenizer): i -> "z" + two base-26 letters.
          val tag = "z" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
          // pos 0 ALWAYS mutates so every replica is byte-distinct from its
          // original and from sibling replicas (short texts could otherwise
          // draw zero mutated positions and stay exact copies).
          base.withColumn("text",
              array_join(transform(split(col("text"), " "), (tok, pos) =>
                when(pos === 0 ||
                     pmod(hash(col("doc_id"), lit(i), pos), lit(16)) === 0,
                  concat(lit(tag), tok)).otherwise(tok)), " "))
            .withColumn("n_chars", length(col("text")).cast(
              t("documents").schema("n_chars").dataType))
        }
      }.reduce(_ unionByName _)
    write(docsOut, "documents")
    write(replicate(t("embeddings"), Map("vec_id" -> vecS)), "embeddings")

    spark.stop()
  }
}
