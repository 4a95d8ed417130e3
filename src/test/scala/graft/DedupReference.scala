package graft

import graft.ext.Dedup.{shingles, tauSizePredicate}
import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The exploded-row exact Jaccard — the parity reference that ExtSpec pins
  * `Dedup.jaccardOnArrays` (the shipped scorer) against. One row per
  * (doc, distinct shingle) and the intersection as an equi-join + group
  * count: the textbook form, slower than the array form but easy to trust.
  */
object DedupReference {

  /** Exploded DISTINCT shingle rows (_id, _s) per document. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: Column,
                  shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("_id"),
      explode(array_distinct(shingles(Tokenizer.tokens(textCol), shingleSize))).as("_s"))

  /** Exact Jaccard size prefilter as two size-table joins: keeps only pairs
    * whose shingle-set sizes pass `Dedup.tauSizePredicate` (the same
    * predicate `jaccardOnArrays` folds in as its `tau` filter).
    */
  def jaccardSizePrefilter(pairs: DataFrame, sh: DataFrame,
                           tauNum: Int, tauDen: Int): DataFrame = {
    val sizes = sh.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    pairs
      .join(sizes.withColumnRenamed("_id", "doc_a").withColumnRenamed("_n", "_na"), "doc_a")
      .join(sizes.withColumnRenamed("_id", "doc_b").withColumnRenamed("_n", "_nb"), "doc_b")
      .filter(tauSizePredicate(col("_na"), col("_nb"), tauNum, tauDen))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Jaccard over a shingle-row table from [[shingleRows]]. */
  def jaccardOnShingles(pairs: DataFrame, sh: DataFrame, roundTo: Int = 6): DataFrame = {
    val sizes = sh.groupBy("_id").agg(count(lit(1)).as("_n"))
    // Shingle equality is part of the join condition (hash join on
    // (doc, shingle)) — NOT a post-join filter, which would cross every
    // shingle of a with every shingle of b per candidate pair.
    val shB = sh.select(col("_id").as("doc_b"), col("_s"))
    val inter = pairs
      .join(sh.withColumnRenamed("_id", "doc_a"), "doc_a")
      .join(shB, Seq("doc_b", "_s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("_inter"))
      .join(sizes.withColumnRenamed("_id", "doc_a").withColumnRenamed("_n", "_na"), "doc_a")
      .join(sizes.withColumnRenamed("_id", "doc_b").withColumnRenamed("_n", "_nb"), "doc_b")
      .withColumn("jaccard", round(col("_inter").cast("double")
        / (col("_na") + col("_nb") - col("_inter")), roundTo))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
