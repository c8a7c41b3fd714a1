package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 appears as a `queries` entry;
  * SQL-expressible ones carry a DuckDB oracle in `oracleSql` with column
  * names aliased identically on both sides (the driver sorts columns by name
  * before hashing). All queries are deterministic: explicit ORDER BY on a
  * unique key, doubles rounded to 2 decimals (the reference's F2 output,
  * `/root/reference/D/Program.cs:483`).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's one query (donation total by state,
    * `/root/reference/D/Program.cs:273-344`) transposed onto the fixtures:
    * total order value by nation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Relational.totalByNation(
      Tables.orders(spark, dir), Tables.customer(spark, dir), Tables.nation(spark, dir))
  }

  /** The query families, one object each under graft/queries/. */
  private val families: Seq[QueryFamily] = Seq(
    RelationalQueries, DedupQueries, SimilarityQueries, TextQueries, CurationQueries,
    EventsQueries, SamplingQueries, ScaleQueries, GovernanceQueries,
    MultimodalQueries, ExtendedQueries, InferenceQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val m = families.map(_.queries).reduce(_ ++ _)
    require(m.size == families.map(_.queries.size).sum,
      "duplicate query keys across family files")
    m
  }

  lazy val oracleSql: Map[String, String] = {
    val m = families.map(_.oracleSql).reduce(_ ++ _)
    require(m.size == families.map(_.oracleSql.size).sum,
      "duplicate oracle keys across family files")
    require(m.keySet == queries.keySet,
      "queries/oracleSql key sets diverge across family files")
    m
  }

  /** The dev-only query subset (the driver never sets it):
    * SPARK_GRAFT_QUERIES, comma-separated full query names, read by
    * Bench, Verify and Profile. None when unset; a name that is not
    * registered fails loudly.
    */
  def querySubset(): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_QUERIES").map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** The registered query names in numeric qNN order (diffs line up with
    * the numbering), cut to `querySubset()` when it is set.
    */
  def selectedQueries(): Seq[String] = {
    val subset = querySubset()
    queries.keys.toSeq.filter(n => subset.forall(_.contains(n)))
      .sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
  }
}

/** One family's slice of the query surface: the driver-contract entries
  * plus their DuckDB oracles (keys must match 1:1).
  *
  * Oracle strategy: every hash primitive is md5-based and every formula is
  * exact integer / deterministic double arithmetic, so DuckDB reproduces
  * results bit-for-bit. Where Spark runs the scalable algorithm (LSH) the
  * oracle runs the exact small-data equivalent (all-pairs) — recall of the
  * LSH path at the chosen thresholds is 1 minus ~5e-8, so outputs match.
  */
private[graft] trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
