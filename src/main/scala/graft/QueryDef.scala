package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.round

/** One verifiable capability: a Spark implementation plus (usually) an
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables. Column names must match between the two exactly; every
  * query is made row-deterministic (explicit full ORDER BY, unique
  * tie-breakers) so hash comparison is stable.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

trait QueryModule {
  def queries: Seq[QueryDef]

  protected def q(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle.stripMargin.trim), fn)

  protected def qNoOracle(name: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, None, fn)

  /** Money-column output boundary. Sums are computed exactly in the
    * decimal domain (partition-order free at any scale); the OUTPUT is
    * rounded to 4 dp and emitted as DOUBLE. Rationale: the verifier's
    * DuckDB client materializes DECIMAL results as float64, so a
    * decimal output can never byte-compare; after rounding to scale 4
    * the unscaled value fits in 2^53, making decimal→double exactly
    * one correctly-rounded IEEE op in both engines → bit-identical.
    * SQL oracles use the matching `CAST(round(expr, 4) AS DOUBLE)`. */
  protected def moneyOut(c: Column): Column = round(c, 4).cast("double")
}

/** Assembles every module's queries; SparkEntry delegates here. */
object Registry {
  def modules: Seq[QueryModule] = Seq(
    graft.operators.RelationalQueries,
    graft.operators.ApiQueries,
    graft.functions.ScalarQueries,
    graft.streaming.StreamQueries,
    graft.pipeline.Dedup,
    graft.pipeline.Similarity,
    graft.pipeline.TextAnalysis,
    graft.pipeline.CorpusStats,
    graft.pipeline.Quality,
    graft.pipeline.LangModel,
    graft.pipeline.Multimodal,
    graft.cep.CepQueries,
    graft.table.TableQueries,
    graft.sources.SourceQueries,
    graft.operators.ScaleQueries,
    graft.operators.TpchQueries
  )

  lazy val all: Seq[QueryDef] = {
    val qs = modules.flatMap(_.queries)
    val dup = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    qs
  }

  /** The registered queries `names` names, in that order. A name the
    * registry lacks throws, listing every such name, so a typo fails
    * the run instead of silently thinning it. */
  def named(names: Seq[String]): Seq[QueryDef] = {
    val byName = all.map(d => d.name -> d).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"unknown query name(s), not in Registry.all: ${unknown.mkString(", ")}")
    names.map(byName)
  }
}
