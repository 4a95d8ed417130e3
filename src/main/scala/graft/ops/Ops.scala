package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable operator library (SURVEY.md §7 module 5).
  *
  * Everything here is plain Column-expression composition so Catalyst can push
  * predicates below joins/aggregates and keep the whole pipeline inside
  * whole-stage codegen. Nothing collects to the driver.
  */
object Ops {

  /** Per-group top-k (reference T1-T3: `groupBy(..).sortGroup(.., DESCENDING)
    * .reduceGroup` with a count-bounded iterator, /root/reference/TextRank.java:280-299,
    * HotTopics.java:41-46). Window `row_number` compiles to a single
    * shuffle-on-keys + in-partition sort; at scale this is the standard
    * skew-safe pattern (no per-group materialization).
    *
    * Callers must pass a total order (include a unique tie-break column) so
    * results are deterministic across engines.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String], order: Seq[Column],
                   k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Day-window membership, the reference's `DateZoneFilter(today, numDays,
    * direction)` (construction sites /root/reference/TextRank.java:86,236,
    * HotTopics.java:68; impl absent — bounds frozen here as the spec):
    * direction 0 = past window [today-numDays, today], direction 1 = future
    * window [today, today+numDays], both inclusive.
    *
    * Kept as a Column predicate (never a UDF) so it pushes down to the
    * parquet scan (SURVEY.md §4 design rule). Its bounds are literals, which
    * is right for a day fixed in the query (the pushed filter prunes row
    * groups). A caller that reruns one plan shape with a new day in the same
    * session writes its bounds with [[graft.functions.BoundDate]] instead, as
    * the loop-day pipelines do: a literal day compiles new classes for every
    * day, a bound day reuses them but does not push into the scan.
    */
  def dateZone(dateCol: Column, today: java.sql.Date, numDays: Int, direction: Int): Column =
    if (direction == 0) dateCol.between(date_sub(lit(today), numDays), lit(today))
    else dateCol.between(lit(today), date_add(lit(today), numDays))

  /** The reference's `DateLoopFilter(gap, from, to, today)` (constructed
    * /root/reference/TF_IDF.java:131,164; applied only at TF_IDF.java:133-138;
    * impl absent). Frozen spec: membership in [max(from, today-gap),
    * min(to, today)] — a past-gap window clamped to the loop bounds.
    * Literal bounds that push into the parquet scan; for a day that changes
    * between calls, see the [[dateZone]] note on [[graft.functions.BoundDate]].
    */
  def dateLoopFilter(dateCol: Column, gap: Int, from: java.sql.Date, to: java.sql.Date,
                     today: java.sql.Date): Column = {
    val lo = greatest(date_sub(lit(today), gap), lit(from))
    val hi = least(lit(today), lit(to))
    dateCol.between(lo, hi)
  }

  /** Degree-capped edge set: drop every row whose `keyCol` value appears in
    * more than `cap` rows. This is THE guard for self-join wedge explosions
    * on power-law graphs: a key with degree d contributes d² pairs to an
    * equi-self-join, so one hub key can dominate the whole shuffle (the
    * distributed rebirth of the reference's all-pairs cross,
    * /root/reference/TextRank.java:258-280). Capping bounds every key's
    * contribution at cap² rows — the skew ceiling becomes a constant.
    *
    * Shape: one count aggregate on the key + an equi-join of the ≤-cap key
    * set back onto the edges. Both are key-partitioned; nothing is
    * collected. Callers own the semantic decision that over-cap keys are
    * EXCLUDED (GraphSAGE-style neighbor capping), and must mirror the bound
    * in any cross-engine oracle.
    */
  def degreeCappedEdges(edges: DataFrame, keyCol: String, cap: Int): DataFrame = {
    val ok = edges.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") <= cap)
      .select(col(keyCol))
    edges.join(ok, keyCol)
  }

  /** Null-safe (`<=>`) equi-join with a null-bucket budget and SPLIT
    * execution. The null bucket of a null-safe join is a semantic CROSS —
    * every null-key left row pairs with every null-key right row — and it
    * carries TWO scale hazards: the pair count is quadratic in null rates
    * (data-dependent, invisible in the plan), and under a plain `<=>`
    * hash join every null row lands on ONE hash key = one task, so even
    * an in-budget bucket serializes onto a single core (measured at sf1:
    * the q129 bucket is ~94k × 1.5k ≈ 1.41e8 pairs — minutes single-task,
    * seconds spread over the cluster; the figure MiningQueries' q129
    * budget note cites).
    *
    * This wrapper (a) projects the pair count with ONE tiny column-pruned
    * probe job BEFORE launching anything (both null counts as a cross of
    * two single-row aggregates) and fails loudly over budget, and (b)
    * executes in two branches with a positional union: non-null keys as a
    * plain equi-join, the null bucket as a broadcast nested-loop cross of
    * the SMALLER null side against the larger — row-identical to `<=>`
    * (OpsSpec pins it), but the pair generation is spread across every
    * partition of the big side instead of one hash bucket. Work stays
    * pair-count-proportional — that is the semantics — so the budget is
    * the real contract; the split removes only the artificial skew.
    * Callers that already track their null counts can pass
    * `knownNullCounts` and skip the probe; callers that have proven their
    * null rates can call `<=>` directly.
    */
  def nullSafeJoinGuarded(left: DataFrame, leftKey: Column,
                          right: DataFrame, rightKey: Column,
                          maxNullPairs: Long = 100000000L,
                          knownNullCounts: Option[(Long, Long)] = None): DataFrame = {
    val (ln, rn) = knownNullCounts.getOrElse {
      val row = left.filter(leftKey.isNull).agg(count(lit(1)).as("ln"))
        .crossJoin(right.filter(rightKey.isNull).agg(count(lit(1)).as("rn")))
        .head()
      (row.getLong(0), row.getLong(1))
    }
    require(ln * rn <= maxNullPairs,
      s"null-safe join: the null bucket would produce $ln × $rn = " +
        s"${ln * rn} pairs (budget $maxNullPairs). A null-heavy key makes " +
        "<=> a cross join at scale — pre-filter nulls or join them " +
        "separately with bounded semantics.")
    val eq = left.filter(leftKey.isNotNull)
      .join(right.filter(rightKey.isNotNull), leftKey === rightKey)
    val nullBucket =
      if (rn <= ln)
        left.filter(leftKey.isNull)
          .crossJoin(broadcast(right.filter(rightKey.isNull)))
      else
        // broadcast the smaller (left) side but KEEP left++right column
        // order so the positional union with `eq` lines up
        broadcast(left.filter(leftKey.isNull))
          .crossJoin(right.filter(rightKey.isNull))
    // both branches emit left-columns ++ right-columns — positional union
    eq.union(nullBucket)
  }

  /** Σ price·(1−discount) in EXACT integer ten-thousandths of a currency
    * unit (price and discount carry ≤ 2 decimals by the TPC-H-style data
    * contract, so price·100 and discount·100 are integers and the product
    * is exact). Summing longs is exact and associative — no float-reorder
    * noise — which is what makes the final cent rounding tie-free across
    * engines. The sf1 stress run caught the double-path version landing on
    * a half-cent tie (x.xx5) where Spark and DuckDB legally round apart.
    */
  def discountedRevenueUnits(price: Column, disc: Column): Column =
    sum(round(price * 100).cast("long") *
      (lit(100L) - round(disc * 100).cast("long")))

  /** Integer-exact half-up cent rounding of a 1e-4-unit long: (u+50) div
    * 100 cents, as dollars with ≤ 2 decimals. pmod-floor division (the
    * linearInterpMicro idiom) keeps the arithmetic exact for |u| ≤ 2^53;
    * beyond that (full 100 TB global sums) switch the cast to
    * decimal(38,0) — group-level sums stay far below the bound.
    */
  def centsHalfUpFromUnits(u: Column): Column = {
    val x = u + lit(50L)
    (x - pmod(x, lit(100L))) / lit(100L) / lit(100.0)
  }

  /** `round(sum(price·(1−disc)), 2)` in exact integer arithmetic — the
    * drop-in tie-free replacement for the double-sum form. Mirror with
    * `SqlFragments.discountedRevenueSql` in DuckDB oracles.
    */
  def discountedRevenue(price: Column, disc: Column): Column =
    centsHalfUpFromUnits(discountedRevenueUnits(price, disc))

  /** Exact half-up rational rounding: half_up(num/den) / 10^outScale for
    * positive integer-valued `num`/`den` columns (longs). Integer identity
    * half_up(a/b) = (2a+b) div (2b), computed with the pmod-floor idiom —
    * the avg()-sibling of [[centsHalfUpFromUnits]] for `round(avg(x), p)`
    * over fixed-decimal inputs, where the double path can land on the
    * rounding grid's half-points. Callers pre-scale `num` so num/den is
    * the target value × 10^outScale (e.g. Σx·100 × 100 / n for a 2-decimal
    * input averaged to 4 decimals).
    */
  def ratioHalfUp(num: Column, den: Column, outScale: Int): Column = {
    val y = num * 2 + den
    round((y - pmod(y, den * 2)) / (den * 2)) / math.pow(10, outScale.toDouble)
  }

  /** Tie-free `round(avg(x), outScale)` for a fixed-decimal input column
    * with `inScale` decimals — the aggregate packaging of [[ratioHalfUp]]
    * (num = Σ round(x·10^inScale) · 10^(outScale−inScale), den = n), so
    * every avg-of-money/avg-of-count site shares ONE arithmetic instead of
    * re-deriving the pre-scaling. Mirror with `SqlFragments.avgFixedSql`
    * (DuckDB) / `SqlFragments.avgFixedSparkSql` (spark.sql lanes).
    * Input column must be non-null (den is count(*), matching avg over a
    * non-null column — same contract as the q1 flagship usage).
    */
  def avgFixedHalfUp(c: Column, inScale: Int, outScale: Int): Column = {
    require(outScale >= inScale,
      s"avgFixedHalfUp: outScale $outScale must be >= inScale $inScale")
    val units = sum(round(c * math.pow(10, inScale.toDouble)).cast("long"))
    val mult = math.pow(10, (outScale - inScale).toDouble).toLong
    ratioHalfUp(units * lit(mult), count(lit(1)), outScale)
  }

  /** Per-group cumulative VALUE HISTOGRAM — the scale path for exact
    * nearest-rank statistics (median / percentiles / MAD) when the group
    * count is small: a `row_number` window partitioned by a 3-value column
    * sorts the whole corpus with parallelism = |groups| at any scale,
    * while the equivalent selection over the value histogram shuffles and
    * window-sorts only DISTINCT (group, value) rows — domain-bounded
    * (rounded money has finitely many cents), not corpus-bounded; the
    * corpus-sized work is one fully-parallel map-side-combined aggregate.
    *
    * Returns one row per distinct (groupCols..., valueCol) with `_cnt`
    * (occurrences — or Σ `weight` when the input rows themselves carry
    * counts), `_cum` (running Σ `_cnt` in valueCol ascending order) and
    * `_n` (group total). The sorted-position-k element of the RAW data is
    * the unique histogram row with `_cum - _cnt < k <= _cum`
    * ([[containsRank]]) — bit-identical to `row_number() = k` selection,
    * ties collapse into one histogram row.
    */
  def cumHistogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   weight: Option[String] = None): DataFrame = {
    val gc = groupCols.map(col)
    val cnt = weight.map(w => sum(col(w))).getOrElse(count(lit(1)))
    val w = Window.partitionBy(gc: _*).orderBy(col(valueCol).asc)
    val wn = Window.partitionBy(gc: _*)
    df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(cnt.as("_cnt"))
      .withColumn("_cum", sum(col("_cnt")).over(w))
      .withColumn("_n", sum(col("_cnt")).over(wn))
  }

  /** Predicate over a [[cumHistogram]] row: this row contains the raw
    * data's sorted position `k` (1-based, per group).
    */
  def containsRank(k: Column): Column =
    (col("_cum") - col("_cnt") < k) && (k <= col("_cum"))

  /** Size-capped blocking for candidate-pair generation (fuzzy dedup /
    * record linkage): assigns each row the composite block id
    * `<blockKey>#<ordinal/cap>`, deterministically splitting any block
    * larger than `cap` rows into ≤-cap sub-blocks (ordinal = row_number by
    * `orderCol` within the raw block). A block equi-join on the result has
    * a HARD quadratic ceiling of cap² pairs per block — a corpus where
    * millions of documents share a boilerplate prefix can no longer
    * degenerate to block². Pairs straddling a sub-block split are lost;
    * that recall trade-off is the standard price of bounded blocking and
    * must be mirrored verbatim in any cross-engine oracle (the split is
    * deterministic, so both engines lose exactly the same pairs).
    *
    * Cost shape: one window (shuffle on the raw key + in-partition sort)
    * before the join — linear in |rows|, skew-bounded by the sort (the hot
    * raw block sorts within one partition but never self-joins whole).
    */
  def cappedBlocks(df: DataFrame, blockKey: Column, orderCol: String,
                   cap: Int, blkName: String = "blk"): DataFrame = {
    val w = Window.partitionBy(col("_blk0")).orderBy(col(orderCol))
    df.withColumn("_blk0", blockKey)
      .withColumn(blkName, concat_ws("#", col("_blk0"),
        floor((row_number().over(w) - 1) / cap).cast("long").cast("string")))
      .drop("_blk0")
  }

  /** Linear gap-fill interpolation in exact integer micro-units (q231's
    * production arithmetic, factored so tests exercise the shipped formula,
    * not a lookalike). The rational (nv-pv)·k/m is computed over
    * micro-integers with a pmod floor division: plain double division lands
    * exactly on half-micro rounding ties (m = 2, 4, ... day gaps) where
    * Spark's BigDecimal rounding and DuckDB's scaled-double rounding
    * disagree. Micro-integers divided by 1e6 carry ≤ 6 decimals, so a
    * 6-place display round is tie-free.
    *
    * @param pv previous observed value, @param nv next observed value,
    * @param pd previous observed day,   @param nd next observed day,
    * @param day the grid day being filled (pd < day < nd).
    */
  def linearInterpMicro(pv: Column, nv: Column, pd: Column, nd: Column,
                        day: Column): Column = {
    val pvU = round(pv * 1e6).cast("long")
    val nvU = round(nv * 1e6).cast("long")
    val num = (nvU - pvU) * datediff(day, pd)
    val den = datediff(nd, pd).cast("long")
    (pvU.cast("double") + (num - pmod(num, den)).cast("double") / den) / 1e6
  }

  /** As-of join: for each left row, the latest right row with
    * `rightTime <= leftTime` on the same key (DuckDB/kdb ASOF JOIN
    * semantics, inner variant). Spark lacks the operator; rather than a
    * custom SparkPlan, this composes built-ins the scale-correct way
    * (spark_guide preference (a)): union both sides tagged, one window
    * sort per key carrying the right columns forward with
    * `last(ignoreNulls)`, keep left rows. One shuffle on the key, an
    * in-partition sort — no range join, no per-row subquery.
    *
    * Requirements: left/right column names disjoint; at most one right row
    * per (key, time) (pre-aggregate otherwise — ties at equal time are
    * matched, right-before-left). Right value columns may be null: the whole
    * right row is carried as ONE struct (a single `last(ignoreNulls)`), so a
    * null in any individual value column can neither mix columns from
    * different right rows nor drop a genuine match.
    *
    * @param valueCols right columns to carry onto matching left rows
    */
  def asOfJoin(left: DataFrame, leftKey: String, leftTime: String,
               right: DataFrame, rightKey: String, rightTime: String,
               valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rStruct = struct(valueCols.map(col): _*)
    val lSel = left.select(
      Seq(col(leftKey).as("_k"), col(leftTime).cast("timestamp").as("_t"), lit(1).as("_tag"),
        lit(null).cast(right.select(rStruct).schema.head.dataType).as("_r")) ++
        leftCols.map(col): _*)
    val rSel = right.select(
      Seq(col(rightKey).as("_k"), col(rightTime).cast("timestamp").as("_t"), lit(0).as("_tag"),
        rStruct.as("_r")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lSel.unionByName(rSel)
      .withColumn("_f", last(col("_r"), ignoreNulls = true).over(w))
    filled.filter(col("_tag") === 1 && col("_f").isNotNull)
      .select(leftCols.map(col) ++ valueCols.map(c => col("_f")(c).as(c)): _*)
  }

  /** Round-robin repartition to the session's default parallelism — put
    * BEFORE a CPU-heavy per-row stage (digest/power-iteration UDFs).
    *
    * Why: a small parquet file is one row group = ONE scan partition, so
    * without this the expensive map stage runs on a single core no matter
    * how many executors exist. On a real multi-file 100 TB table the scan
    * fans out naturally and this becomes a cheap no-op-ish rebalance; on a
    * single-row-group input it is the difference between 1× and N× cores.
    * The shuffle moves only the raw input rows (small), never the expensive
    * stage's output.
    */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Per-date distinct user set (reference A1 `generateUniqueUsers`:
    * groupBy(date) + manual contains-dedup into a list,
    * /root/reference/TextRank.java:321-340). Normalized form — one row per
    * (date, userId) — so downstream joins are real equi-joins instead of the
    * reference's cross + `List.contains` (SURVEY.md §2.3 J1).
    */
  def distinctUsersPerDay(clicks: DataFrame): DataFrame =
    clicks.select(col("date"), col("userId")).dropDuplicates("date", "userId")
}
