package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-shuffled) table layout — the storage-level answer to "this
  * join shuffles 100 TB every run". Writing both fact tables bucketed and
  * sorted by the join key pays the shuffle ONCE at ingest; every subsequent
  * join/aggregation on that key reads co-located buckets and plans a
  * SortMergeJoin with NO Exchange on either side (bucket count must match;
  * Catalyst reads the bucket spec from the catalog). This is the batch
  * analogue of the reference's staged intermediate files
  * (/root/reference/TF_IDF.java:109,127 re-reads keyword artifacts per day) —
  * materialize the expensive organization, reuse it across every downstream
  * query.
  *
  * Tables are registered as EXTERNAL tables (explicit filesystem path), so
  * no Hive metastore or warehouse directory is involved; the in-memory
  * catalog of the running session holds the bucket spec.
  */
object Bucketed {

  val BUCKETS = 8

  /** orders + lineitem bucketed by their join key, built once per
    * (session, dataset) under /tmp and memoized via the stage registry.
    */
  def ordersLineitem(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.runtime.Stage.shared(s, s"bucketed-orders-lineitem:$BUCKETS:$d") {
      val tag = graft.runtime.Scratch.tag(d)
      val root = graft.runtime.Scratch.dir("bucketed", d)
      val oname = s"graft_bk_orders_$tag"
      val lname = s"graft_bk_lineitem_$tag"
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/orders").saveAsTable(oname)
      Tables.lineitem(s, d).write.mode("overwrite")
        .bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/lineitem").saveAsTable(lname)
      (s.table(oname), s.table(lname))
    }
}
