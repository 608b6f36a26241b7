package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a query reads, which decides how harnesses may run it. */
sealed trait Layer

object Layer {
  /** Reads the parquet fixtures only: safe to run at any scale factor in
    * any session, so Bench warms it at sf0.001 before timing sf0.1.
    */
  case object Plain extends Layer

  /** Reads or writes through the sharing layer (the shared-table
    * registry, the local REST server, Delta tables built per scale
    * factor). Its layer caches are keyed per table registration, so it
    * runs only at the session's own scale factor.
    */
  case object Fixture extends Layer

  /** A Fixture query that drains a Structured Streaming query while its
    * frame is built; the declared result is a batch frame over the sink.
    */
  case object Streaming extends Layer
}

/** One operator query: the engine frame built over the fixtures in `dir`,
  * and the DuckDB SQL that must produce the same rows over the same
  * fixtures. Column names match exactly (results are compared after
  * sorting columns by name).
  */
final case class QuerySpec(
    name: String,
    layer: Layer,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** Every operator query, gathered from the family files. To add a query,
  * append a [[QuerySpec]] to its family's `specs`; nothing else lists it.
  */
object QueryRegistry {
  /** All specs in name order. */
  lazy val all: Seq[QuerySpec] = Seq(
    RelationalQueries.specs, SharingQueries.specs, DedupQueries.specs,
    TextQueries.specs, QualityQueries.specs, VectorQueries.specs,
    GraphQueries.specs, CrawlQueries.specs, CurationQueries.specs
  ).flatten.sortBy(_.name)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
