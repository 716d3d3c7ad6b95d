package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch table readers over the engine's canonical parquet layout.
  *
  * Mirrors the reference's source stage (wallaroo `Wallaroo.source`,
  * /root/reference/lib/wallaroo/application.pony:40) for batch inputs:
  * each named table is one scan whose filters/projections Catalyst pushes
  * into the parquet reader. Streaming sources live in [[graft.streaming]].
  *
  * Every canonical table is read with its declared schema ([[schemas]]),
  * so opening one lists its files but reads no Parquet footer and starts
  * no Spark job (schema inference runs a one-task job per read). The
  * declared schemas are the ones Spark infers from the canonical files:
  * `events.ts`, `o_orderdate` and `l_shipdate` are `TIMESTAMP_NTZ` (the
  * session time zone is pinned to UTC, so NTZ and instant semantics
  * coincide for this data) and `embedding` is `ARRAY<FLOAT>`. A column
  * stored with a type the Parquet reader cannot convert to the declared
  * one fails at read; a file missing a declared column reads that column
  * as nulls.
  */
object Sources {
  private val declared: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val tableNames: Seq[String] = declared.map(_._1)

  /** The declared schema of each table in [[tableNames]]. */
  val schemas: Map[String, StructType] =
    declared.map { case (t, ddl) => t -> StructType.fromDDL(ddl) }.toMap

  /** Reads canonical table `name` from `dir/name.parquet` with its
    * declared schema; any other name is refused.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = schemas.getOrElse(name, throw new IllegalArgumentException(
      s"unknown table '$name'; the canonical tables are ${tableNames.mkString(", ")}"))
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")
  }

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
