package graft.contracts

/** Test-input shapes reused verbatim from the reference suite — see
  * /root/repo/FIXTURES.md (citing reference PipelineBuilderSpec.scala,
  * RuntimeSchemaBenchmark.scala:24-34, SparkRuntimeSpec.scala:345-417).
  */
object ContractFixtures {

  // F1 — customer family
  case class CustomerContract(id: Long, email: String, age: Option[Int] = None)
  case class CustomerProducer(id: Long, email: String, age: Option[Int], segment: String)
  case class CustomerNext(id: Long, email: String, age: Option[Int])

  // F2 — nested benchmark contract
  case class Geo(lat: Double, lon: Double)
  case class Address(street: String, city: String, zip: Option[Int], geo: Geo)
  case class Event(kind: String, at: Long, tags: List[Option[String]], attrs: Map[String, String])
  case class Contract(
      id: Long,
      email: String,
      age: Option[Int],
      address: Address,
      events: List[Event],
      metrics: Map[String, Option[Int]]
  )

  // F3 — deep-nesting accept/reject pair
  case class Leaf(code: Int)
  case class BadLeaf(code: String)
  case class Middle(payload: Map[String, Option[Leaf]])
  case class BadMiddle(payload: Map[String, Option[BadLeaf]])
  case class ContractRoot(items: List[Middle])
  case class ProducerRoot(items: Vector[Middle])
  case class BadRoot(items: List[BadMiddle])

  // F4 — order/collection contract (Set conforms to Seq)
  case class LineItem(sku: String, qty: Int, attrs: Map[String, String])
  case class ShipAddress(street: String, zip: String)
  case class OrderOut(id: Long, items: List[LineItem], shipTo: Option[ShipAddress], tags: Set[String])
  case class OrderContract(id: Long, items: Seq[LineItem], shipTo: Option[ShipAddress], tags: Seq[String] = Nil)

  // F5 — schema-derivation unit shapes
  case class Payload(id: Long, tags: List[Option[Int]], metrics: Map[String, Option[Int]], notes: Option[String])
  case class StrictPayload(values: List[Int], metrics: Map[String, Int])
  case class DefaultPayload(id: Long, notes: Option[String], region: String = "IN")

  // F6 — negative fixtures
  case class WithUuid(id: java.util.UUID)
  case class WithTuple(pair: (Int, String))
  sealed trait Color
  case class WithTrait(c: Color)
  case class WithBadMapKey(m: Map[Double, String])
  // Option[Option[_]] has no Spark schema: one null per value
  case class OptOptField(id: Long, score: Option[Option[Int]])
  case class OptOptElem(id: Long, scores: Seq[Option[Option[Int]]])
  case class OptOptValue(id: Long, scores: Map[String, Option[Option[Int]]])
  case class OptOptDeep(id: Long, rows: List[OptOptField])

  // leaf-table fixtures
  case class DecimalPair(x: BigDecimal, y: java.math.BigDecimal)
  case class Temporal(
      a: java.sql.Date,
      b: java.time.LocalDate,
      c: java.sql.Timestamp,
      d: java.time.Instant,
      e: java.time.LocalDateTime
  )

  // nested-optionality fixtures
  case class OptTags(tags: List[Option[String]])
  case class ReqTags(tags: List[String])

  case class NoEmail(id: Long)
  case class SlimProducer(id: Long, email: String)

  // policy-direction fixtures
  case class Wide(id: Long, email: String, age: Option[Int], extra: String)
  case class Narrow(id: Long, email: String)
  case class Reordered(email: String, id: Long, age: Option[Int])
  case class CaseTwist(ID: Long, Email: String, AGE: Option[Int])
  case class PositionTwin(a: Long, b: String, c: Option[Int])
  case class BackwardTarget(id: Long, email: String, age: Option[Int] = None, region: String = "IN")

  // F5 — strict leaf-identity twins (round 17): same Spark DataType,
  // different Scala types (reference ContractsCore.scala:158-173 rejects).
  case class SqlDateRow(id: Long, day: java.sql.Date)
  case class LocalDateRow(id: Long, day: java.time.LocalDate)
  case class NestedSqlDateRow(id: Long, days: Seq[Option[java.sql.Date]])
  case class NestedLocalDateRow(id: Long, days: Seq[Option[java.time.LocalDate]])
}
