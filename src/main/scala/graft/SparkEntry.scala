package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.battery._
import graft.functions.City

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql`. Each query
  * and its oracle are one [[battery.Query]] in its family's file under
  * `battery/`; this object assembles the families into one registry.
  *
  * Design notes for 100 TB scale are on each query; all plans are
  * declarative DataFrame trees so Catalyst handles pushdown/pruning,
  * and dimension joins are explicitly broadcast.
  */
object SparkEntry {
  import Common.t

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Zone-style congestion report: events bucketed by hour + type with
    * congestion classification — the reference batch job's A1 shape. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = t(spark, dir, "events")
    ev.withColumn("congestion", City.congestionOccupancy(col("value") / 100.0))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"), col("congestion"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
  }

  /** The families' queries as one registry. A `Map` keeps only the last
    * of two equal keys, so a name defined twice fails here instead of
    * silently dropping a query. */
  private[graft] def assemble(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"battery query names defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  private val registry: Seq[Query] = assemble(CityQueries.all, DedupQueries.all,
    ArchiveQueries.all, CorpusQueries.all, GraphQueries.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
