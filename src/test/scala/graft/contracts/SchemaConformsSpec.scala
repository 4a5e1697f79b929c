package graft.contracts

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import ContractFixtures._
import SchemaPolicy._

/** Mirrors the reference's SchemaConformsSpec + SparkSchemaSpec layers:
  * shape derivation, conformance accept/reject per policy, unsupported-leaf
  * rejection, deep nested drift paths.
  */
class SchemaConformsSpec extends AnyFunSuite {

  private def report[A: ShapeOf, B: ShapeOf](p: SchemaPolicy) =
    SchemaCompare.diff(ShapeOf[A].struct, ShapeOf[B].struct, p)

  private def ok[A: ShapeOf, B: ShapeOf](p: SchemaPolicy): Boolean = report[A, B](p).conforms

  // --- schema derivation (F5, reference SparkSchemaSpec.scala:27-69) ---

  test("derives StructType with nullability and nested optionality preserved") {
    val st = ShapeOf[Payload].struct
    assert(st("id") === StructField("id", LongType, nullable = false, ShapeOf.defaultMetadata(false)))
    assert(st("tags").dataType === ArrayType(IntegerType, containsNull = true))
    assert(st("tags").nullable === false)
    assert(st("metrics").dataType === MapType(StringType, IntegerType, valueContainsNull = true))
    assert(st("notes").dataType === StringType)
    assert(st("notes").nullable === true)
  }

  test("containsNull=false for strict collections") {
    val st = ShapeOf[StrictPayload].struct
    assert(st("values").dataType === ArrayType(IntegerType, containsNull = false))
    assert(st("metrics").dataType === MapType(StringType, IntegerType, valueContainsNull = false))
  }

  test("hasDefault metadata is recorded") {
    val st = ShapeOf[DefaultPayload].struct
    assert(ShapeOf.hasDefault(st("region")))
    assert(!ShapeOf.hasDefault(st("id")))
  }

  test("nested benchmark contract derives 3-level structure (F2)") {
    val st = ShapeOf[Contract].struct
    val addr = st("address").dataType.asInstanceOf[StructType]
    assert(addr("geo").dataType.asInstanceOf[StructType]("lat").dataType === DoubleType)
    val events = st("events").dataType.asInstanceOf[ArrayType]
    val event = events.elementType.asInstanceOf[StructType]
    assert(event("tags").dataType === ArrayType(StringType, containsNull = true))
    assert(st("metrics").dataType === MapType(StringType, IntegerType, valueContainsNull = true))
  }

  test("BigDecimal maps to DecimalType.SYSTEM_DEFAULT") {
    val st = ShapeOf[DecimalPair].struct
    assert(st("x").dataType === DecimalType.SYSTEM_DEFAULT)
    assert(st("y").dataType === DecimalType.SYSTEM_DEFAULT)
  }

  test("temporal leaves map per the leaf table") {
    val st = ShapeOf[Temporal].struct
    assert(st("a").dataType === DateType)
    assert(st("b").dataType === DateType)
    assert(st("c").dataType === TimestampType)
    assert(st("d").dataType === TimestampType)
    assert(st("e").dataType === TimestampNTZType)
  }

  // --- unsupported leaves are rejected (F6) ---

  test("UUID leaf rejected") {
    val e = intercept[UnsupportedContractType](ShapeOf[WithUuid].struct)
    assert(e.getMessage.contains("Unsupported structural leaf type"))
  }

  test("tuple leaf rejected") {
    intercept[UnsupportedContractType](ShapeOf[WithTuple].struct)
  }

  test("sealed trait leaf rejected") {
    intercept[UnsupportedContractType](ShapeOf[WithTrait].struct)
  }

  test("non-atomic map key rejected") {
    val e = intercept[UnsupportedContractType](ShapeOf[WithBadMapKey].struct)
    assert(e.getMessage.contains("Map key"))
  }

  test("Option[Option[T]] is rejected as a field, a Seq element, a Map value and inside a nested record") {
    val messages = Seq(
      intercept[UnsupportedContractType](ShapeOf[OptOptField].struct),
      intercept[UnsupportedContractType](ShapeOf[OptOptElem].struct),
      intercept[UnsupportedContractType](ShapeOf[OptOptValue].struct),
      intercept[UnsupportedContractType](ShapeOf[OptOptDeep].struct),
      intercept[UnsupportedContractType](ShapeOf.strictShape[OptOptElem])
    ).map(_.getMessage)
    messages.foreach(m => assert(m.contains("Option[Option[_]] has no Spark schema"), m))
    assert(messages.head.contains("Option[Option[Int]]"))
  }

  // --- Exact policy (reference SchemaConformsSpec.scala:33-58) ---

  test("Exact accepts identical and ignores field-level optionality flag") {
    assert(ok[CustomerNext, CustomerNext](Exact))
    // CustomerContract has a default on age; shape-wise identical to CustomerNext
    assert(ok[CustomerNext, CustomerContract](Exact))
  }

  test("Exact is unordered and case-insensitive") {
    assert(ok[Reordered, CustomerNext](Exact))
    assert(ok[CaseTwist, CustomerNext](Exact))
  }

  test("Exact rejects extras and missing") {
    val r = report[Wide, CustomerNext](Exact)
    assert(!r.conforms && r.extra.map(_.path) === List("extra"))
    val r2 = report[Narrow, CustomerNext](Exact)
    assert(!r2.conforms && r2.missing.map(_.path) === List("age"))
  }

  test("Set conforms to Seq contract (F4)") {
    assert(ok[OrderOut, OrderContract](Exact))
  }

  test("Vector producer conforms to List contract (F3)") {
    assert(ok[ProducerRoot, ContractRoot](Exact))
  }

  // --- ordered / by-position ---

  test("ExactOrdered rejects reorder with @i(name) path") {
    val r = report[Reordered, CustomerNext](ExactOrdered)
    assert(!r.conforms)
    assert(r.mismatch.exists(_.path.contains("@0(name)")))
  }

  test("ExactOrderedCI accepts case twist in order") {
    assert(ok[CaseTwist, CustomerNext](ExactOrderedCI))
    assert(!ok[CaseTwist, CustomerNext](ExactOrdered))
  }

  test("ExactByPosition ignores names but compares types pairwise") {
    assert(ok[PositionTwin, CustomerNext](ExactByPosition))
    val r = report[Reordered, CustomerNext](ExactByPosition) // types (string, long) vs (long, string)
    assert(!r.conforms)
    assert(r.mismatch.exists(_.path.contains("@0")))
  }

  // --- Backward / Forward / Full (reference SchemaConformsSpec.scala:61-115) ---

  test("Backward allows producer extras and defaulted/optional missing contract fields") {
    assert(ok[Wide, CustomerNext](Backward)) // extra producer field fine
    assert(ok[Narrow, BackwardTarget](Backward)) // age optional, region default
  }

  test("Backward rejects missing required contract field") {
    assert(!ok[NoEmail, CustomerNext](Backward))
  }

  test("Backward is case-sensitive by design") {
    assert(!ok[CaseTwist, CustomerNext](Backward))
  }

  test("Forward requires producer subset of contract") {
    assert(ok[Narrow, CustomerNext](Forward))
    assert(!ok[Wide, CustomerNext](Forward)) // producer extra not in contract
  }

  test("Full accepts everything") {
    assert(ok[Wide, CustomerNext](Full))
    assert(ok[BadRoot, ContractRoot](Full))
    assert(ok[Narrow, Contract](Full))
  }

  // --- deep nesting and path rendering (reference :309-342) ---

  test("deep nested drift path items[].payload<value>.code") {
    val r = report[BadRoot, ContractRoot](Exact)
    assert(!r.conforms)
    assert(r.mismatch.map(_.path) === List("items[].payload<value>.code"))
    assert(r.mismatch.head.expected === "int")
    assert(r.mismatch.head.found === "string")
  }

  test("nested collection optionality is compared") {
    val r = report[OptTags, ReqTags](Exact)
    assert(!r.conforms)
    assert(r.mismatch.exists(m => m.path === "tags[]" && m.found.startsWith("optional")))
  }

  // --- SchemaConforms facade ---

  test("SchemaConforms.require returns evidence when conformant, throws on drift") {
    SchemaConforms.require[CustomerNext, CustomerContract, Exact.type]
    val e = intercept[ContractViolation] {
      SchemaConforms.require[Narrow, CustomerNext, Exact.type]
    }
    assert(e.getMessage.contains("Missing attributes: age"))
    assert(e.report.missing.nonEmpty)
  }

  // --- strict leaf-identity mode (round 17, SURVEY §7.4 closure) ---

  test("strict mode rejects Spark-identical Scala leaf twins; the default keeps data-plane identity") {
    // default: java.sql.Date and java.time.LocalDate both lower to
    // DateType — the swap conforms (the data plane cannot distinguish)
    assert(SchemaConforms.diff[SqlDateRow, LocalDateRow, Exact.type].conforms)
    // strict: the reference's construction-check semantics — rejected,
    // both directions, with the leaf path in the report
    val r = SchemaConforms.diffStrict[SqlDateRow, LocalDateRow, Exact.type]
    assert(!r.conforms)
    assert(r.mismatch.exists(_.path == "day"))
    assert(!SchemaConforms.diffStrict[LocalDateRow, SqlDateRow, Exact.type].conforms)
    // identical strict types still conform; the facade surface matches
    // the default one (check → Left, require → throw)
    SchemaConforms.requireStrict[SqlDateRow, SqlDateRow, Exact.type]
    assert(SchemaConforms.checkStrict[SqlDateRow, LocalDateRow, Exact.type].isLeft)
    intercept[ContractViolation] {
      SchemaConforms.requireStrict[SqlDateRow, LocalDateRow, Exact.type]
    }
    // the strict walk reaches leaves through containers (Seq[Option[_]])
    val nested = SchemaConforms.diffStrict[NestedSqlDateRow, NestedLocalDateRow, Exact.type]
    assert(!nested.conforms && nested.mismatch.exists(_.path == "days[]"))
    assert(SchemaConforms.diff[NestedSqlDateRow, NestedLocalDateRow, Exact.type].conforms)
  }

  test("policy lattice: Exact implies Backward-with-full-fields and Forward") {
    // property-style check over the fixture pairs
    def lattice[A: ShapeOf, B: ShapeOf](): Unit = {
      if (ok[A, B](Exact)) {
        assert(ok[A, B](ExactUnorderedCI))
        assert(ok[A, B](Full))
      }
      ()
    }
    lattice[CustomerNext, CustomerContract]()
    lattice[OrderOut, OrderContract]()
    lattice[ProducerRoot, ContractRoot]()
  }
}
