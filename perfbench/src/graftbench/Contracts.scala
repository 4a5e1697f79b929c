package graftbench

/** Contract case classes of the benchmark's workloads. */
object Contracts {

  // ---- contract_etl: orders with a nested struct and an optional string
  final case class Addr(city: String, zip: Option[Int], country: String)
  final case class Order(
      order_id: Long,
      cust_id: Long,
      status: String,
      qty: Int,
      price: Double,
      discount: Double,
      note: Option[String],
      addr: Addr,
      ts: Long
  )
  final case class OrderNet(
      order_id: Long,
      cust_id: Long,
      status: String,
      net: Double,
      note: Option[String],
      addr: Addr,
      ts: Long
  )
  final case class CustStatus(cust_id: Long, status: String, orders: Long, net: Double)
  // Backward sink contract: one optional field more than the producer has
  final case class CustStatusSink(cust_id: Long, status: String, orders: Long, net: Double, region: Option[String])

  // ---- ContractProbe: a 3-level nested, 6-field contract family
  final case class Geo(lat: Double, lon: Double)
  final case class Address(street: String, city: String, zip: Option[Int], geo: Geo)
  final case class Event(kind: String, at: Long, tags: List[Option[String]], attrs: Map[String, String])
  final case class Profile(
      id: Long,
      email: String,
      age: Option[Int],
      address: Address,
      events: List[Event],
      metrics: Map[String, Option[Int]]
  )
  final case class Scored(
      id: Long,
      email: String,
      age: Option[Int],
      address: Address,
      events: List[Event],
      metrics: Map[String, Option[Int]],
      score: Double
  )
  // Backward/Forward sink contract: Scored plus one optional field
  final case class ScoredSink(
      id: Long,
      email: String,
      age: Option[Int],
      address: Address,
      events: List[Event],
      metrics: Map[String, Option[Int]],
      score: Double,
      segment: Option[String]
  )
  // drifts from Scored: `age` changes type and `metrics` is missing
  final case class ScoredDrift(
      id: Long,
      email: String,
      age: Option[String],
      address: Address,
      events: List[Event],
      score: Double
  )
}
