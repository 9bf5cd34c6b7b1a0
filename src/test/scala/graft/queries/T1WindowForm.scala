package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The exploded window form of T1 language identification: the
  * differential reference for [[TextStats.t1LangId]]'s per-row kernel.
  * Same output; its plan shuffles the full counted gram multiset, so
  * only the specs run it. */
object T1WindowForm {
  def apply(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ng = docs.select(col("doc_id"), col("lang"), explode(
        when(length(col("text")) >= 3,
          transform(sequence(lit(1), length(col("text")) - 2),
            i => col("text").substr(i, lit(3))))
          .otherwise(array().cast("array<string>"))).as("ng"))
    val langProf = ng.groupBy("lang", "ng").agg(count(lit(1)).as("c"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("ng").asc)))
      .filter(col("lrank") <= 100)
      .select(col("lang").as("pl_lang"), col("ng").as("lng"), col("lrank"))
    val docProf = ng.groupBy("doc_id", "ng").agg(count(lit(1)).as("c"))
      .withColumn("drank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("ng").asc)))
      .filter(col("drank") <= 100)
      .select("doc_id", "ng", "drank")
    val langs = langProf.select(col("pl_lang").as("cand")).distinct()
    val dist = docProf
      .crossJoin(broadcast(langs))
      .join(broadcast(langProf), col("lng") === col("ng") && col("pl_lang") === col("cand"), "left")
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(coalesce(abs(col("drank") - col("lrank")), lit(100))).as("dist"))
    val pred = dist.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("dist").asc, col("cand").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand").as("pred_lang"))
    docs.select(col("doc_id"), col("lang").as("true_lang"))
      .join(pred, "doc_id")
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }
}
