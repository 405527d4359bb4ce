package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a hash of (row id, seed,
  * column), so the same seed gives the same rows however Spark
  * partitions the generation. */
object Data {
  private def h(id: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(Long.MaxValue))

  /** TPC-H lineitem shape: four lines per order, orders in key order. */
  def lineitem(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val id = col("id")
    val qty = (h(id, seed, 3) % 50 + 1).cast("double")
    spark.range(rows).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (h(id, seed, 1) % (rows / 3) + 1).as("l_partkey"),
      (h(id, seed, 2) % 1000 + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + h(id, seed, 4) % 100000 / 100.0), 2)
        .as("l_extendedprice"),
      ((h(id, seed, 5) % 11) / 100.0).as("l_discount"),
      ((h(id, seed, 6) % 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h(id, seed, 7) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (h(id, seed, 8) % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694310400L) +
        (h(id, seed, 9) % 2500) * 86400L).as("l_shipdate"))
  }
}
