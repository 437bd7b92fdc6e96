package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed row models for the tables where compile-time field checks pay
  * off (SURVEY §4: Dataset[T] where a case class models the row;
  * DataFrame where schema is dynamic). Encoders come from
  * spark.implicits at the call site.
  */
object Schema {
  case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Timestamp)
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp,
      o_orderpriority: String)

  def lineitemDs(s: SparkSession, d: String): Dataset[Lineitem] = {
    import s.implicits._
    Tables.lineitem(s, d).as[Lineitem]
  }
  def ordersDs(s: SparkSession, d: String): Dataset[Order] = {
    import s.implicits._
    Tables.orders(s, d).as[Order]
  }
}
