package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Aggregators

/** Typed Dataset surface (SURVEY.md §1.4: case-class `Encoder`s where type
  * safety helps): the reference pipeline re-expressed over `Dataset[T]`
  * with a typed Aggregator — compile-time field checks, same physical plan
  * family as the untyped form.
  */
object Typed {

  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double)

  /** KMV distinct-count sketch per return flag (typed Aggregator path):
    * deterministic k-minimum-values over md5(l_partkey), estimate exactly
    * reproducible by the DuckDB oracle (see Aggregators.KMVSketchOf), with
    * the exact distinct count alongside for accuracy inspection.
    */
  def kmvDistinct(spark: SparkSession, lineitem: DataFrame): DataFrame = {
    val k = 64
    import org.apache.spark.sql.Encoders
    implicit val pairEnc: org.apache.spark.sql.Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val sketch = lineitem
      .select(col("l_returnflag"), md5(col("l_partkey").cast("string")).as("h"))
      .as[(String, String)]
      .groupByKey(_._1)(Encoders.STRING)
      .agg(new Aggregators.KMVSketchOf[(String, String)](_._2, k).toColumn.name("kmv"))
      .toDF("l_returnflag", "kmv")
      .select(col("l_returnflag"), col("kmv.kth_hash").as("kth_hash"),
        round(col("kmv.distinct_estimate"), 4).as("distinct_estimate"))
    val exact = lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    sketch.join(exact, "l_returnflag").orderBy(col("l_returnflag"))
  }

  /** groupByKey + typed TwoLevelSumOf (the reference's partial+final sum as
    * an Aggregator) — output canonicalized for the oracle.
    */
  def statusTotals(spark: SparkSession, orders: DataFrame): DataFrame = {
    import spark.implicits.newProductEncoder
    val ds: Dataset[Order] = orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .as[Order]
    ds.groupByKey(_.o_orderstatus)(org.apache.spark.sql.Encoders.STRING)
      .agg(new Aggregators.TwoLevelSumOf[Order](_.o_totalprice).toColumn.name("raw_total"))
      .toDF("o_orderstatus", "raw_total")
      .select(col("o_orderstatus"), round(col("raw_total"), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }
}
