package graft

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.multimodal.Multimodal
import graft.queries.{CapQueries, Dedup, Relational, Similarity, TextStats}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2) to DataFrame builders over
  * an sf directory; `oracleSql` holds the DuckDB-equivalent SQL for the
  * driver's correctness compare. Column names are aliased identically on
  * both sides (the compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.b2HashAgg(spark, "/root/testdata/sf0.001")

  /** All (name, builder, oracleSql) triples; oracleSql "" = no oracle. */
  private def oracled: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Relational.queries ++ Dedup.queries ++ TextStats.queries ++ Similarity.queries ++
      Multimodal.queries ++ CapQueries.queries ++ graft.streaming.StreamQueries.queries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    oracled.map { case (name, fn, _) => name -> fn }.toMap

  /** The builders every main runs, in natural (numeric-aware) name
    * order, b2 before b10, keeping only the names `only` finds a match
    * in (all of them for `None`). */
  def select(only: Option[Regex]): IndexedSeq[(String, (SparkSession, String) => DataFrame)] = {
    val digits = "\\d+".r
    queries.toIndexedSeq
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .sortBy { case (name, _) => digits.replaceAllIn(name, m => f"${m.matched.toInt}%06d") }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracled.collect { case (name, _, sql) if sql.nonEmpty => name -> sql }.toMap
}
