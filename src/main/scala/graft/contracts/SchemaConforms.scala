package graft.contracts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Thrown when a pipeline boundary drifts from its contract — at pipeline
  * construction (the Scala-2 stand-in for the reference's compile abort,
  * ContractsCore.scala:428-435) or at a runtime pin against an actual
  * `DataFrame` schema (SparkCore.scala:325-340).
  */
final class ContractViolation(val report: SchemaCompare.DriftReport, message: String)
    extends IllegalArgumentException(message)

/** Evidence that `Out` conforms to `Contract` under policy `P`. Where the
  * reference materializes this as a macro-derived given
  * (ContractsCore.scala:81, 106-112), we materialize it eagerly at pipeline
  * *construction* time: `SchemaConforms.check` runs driver-side, O(schema),
  * before any Spark action — a drifting pipeline fails at wiring time. It
  * compares the two contracts' [[ShapeOf]] `StructType`s with the same
  * [[SchemaCompare]] walk the runtime pins use.
  */
final class SchemaConforms[Out, Contract, P <: SchemaPolicy] private[contracts] ()

object SchemaConforms {

  /** Raw diff of two contract types under `P` (no throwing). */
  def diff[Out, Contract, P <: SchemaPolicy with Singleton](implicit
      out: ShapeOf[Out],
      contract: ShapeOf[Contract],
      p: ValueOf[P]
  ): SchemaCompare.DriftReport =
    SchemaCompare.diff(out.struct, contract.struct, p.value)

  /** `Right(evidence)` when conformant, `Left(report)` when drifting. */
  def check[Out, Contract, P <: SchemaPolicy with Singleton](implicit
      out: ShapeOf[Out],
      contract: ShapeOf[Contract],
      p: ValueOf[P]
  ): Either[SchemaCompare.DriftReport, SchemaConforms[Out, Contract, P]] =
    if (SchemaCompare.conforms(out.struct, contract.struct, p.value)) Right(new SchemaConforms[Out, Contract, P])
    else Left(diff[Out, Contract, P])

  /** Summon evidence or throw [[ContractViolation]] with a path-rich drift
    * report — the construction-time fuse.
    */
  def require[Out, Contract, P <: SchemaPolicy with Singleton](implicit
      out: ShapeOf[Out],
      contract: ShapeOf[Contract],
      p: ValueOf[P]
  ): SchemaConforms[Out, Contract, P] =
    check[Out, Contract, P] match {
      case Right(ev) => ev
      case Left(report) =>
        throw new ContractViolation(
          report,
          report.render(outLabel = out.struct.simpleString, contractLabel = contract.struct.simpleString)
        )
    }

  // ---- strict leaf-identity mode (round 17, opt-in) ------------------
  // The default check uses Spark-schema leaf identity (SURVEY §7.4:
  // java.sql.Date ↔ java.time.LocalDate both lower to DateType, so the
  // data plane cannot tell them apart — and a DataFrame pin never will).
  // The reference's CONSTRUCTION check, however, compares Scala types
  // (ContractsCore.scala:158-173) and rejects the swap. These variants
  // close that divergence for type-vs-type checks only, by comparing
  // [[ShapeOf.strictShape]]s (legacy java.* twins as ObjectType leaves).

  /** [[diff]] over strict (reference-parity) leaf identity. */
  def diffStrict[Out, Contract, P <: SchemaPolicy with Singleton](implicit
      out: scala.reflect.runtime.universe.WeakTypeTag[Out],
      contract: scala.reflect.runtime.universe.WeakTypeTag[Contract],
      p: ValueOf[P]
  ): SchemaCompare.DriftReport =
    SchemaCompare.diff(ShapeOf.strictShape[Out], ShapeOf.strictShape[Contract], p.value)

  /** [[check]] over strict (reference-parity) leaf identity. */
  def checkStrict[Out, Contract, P <: SchemaPolicy with Singleton](implicit
      out: scala.reflect.runtime.universe.WeakTypeTag[Out],
      contract: scala.reflect.runtime.universe.WeakTypeTag[Contract],
      p: ValueOf[P]
  ): Either[SchemaCompare.DriftReport, SchemaConforms[Out, Contract, P]] =
    if (SchemaCompare.conforms(ShapeOf.strictShape[Out], ShapeOf.strictShape[Contract], p.value))
      Right(new SchemaConforms[Out, Contract, P])
    else Left(diffStrict[Out, Contract, P])

  /** [[require]] over strict (reference-parity) leaf identity. */
  def requireStrict[Out, Contract, P <: SchemaPolicy with Singleton](implicit
      out: scala.reflect.runtime.universe.WeakTypeTag[Out],
      contract: scala.reflect.runtime.universe.WeakTypeTag[Contract],
      p: ValueOf[P]
  ): SchemaConforms[Out, Contract, P] =
    checkStrict[Out, Contract, P] match {
      case Right(ev) => ev
      case Left(report) =>
        throw new ContractViolation(
          report,
          report.render(
            outLabel = SchemaCompare.render(ShapeOf.strictShape[Out]),
            contractLabel = SchemaCompare.render(ShapeOf.strictShape[Contract])
          )
        )
    }
}

/** Policy-selected runtime comparator over Spark `StructType`s — the
  * defensive pin layer (reference: SparkCore.scala:150-189): the early-exit
  * [[SchemaCompare.conforms]].
  */
trait PolicyRuntime[P <: SchemaPolicy] extends Serializable {
  def policy: SchemaPolicy
  def ok(found: StructType, expected: StructType): Boolean =
    SchemaCompare.conforms(found, expected, policy)
}

object PolicyRuntime {
  implicit def fromPolicy[P <: SchemaPolicy with Singleton](implicit p: ValueOf[P]): PolicyRuntime[P] =
    new PolicyRuntime[P] { val policy: SchemaPolicy = p.value }
}

/** Boolean StructType comparators, named as in the reference (O10-O16) for
  * direct use and for the comparator micro-benchmark
  * (reference: SparkCore.scala:39-64).
  */
object RuntimeSchemaComparator {

  private def conforms(found: StructType, expected: StructType, policy: SchemaPolicy): Boolean =
    SchemaCompare.conforms(found, expected, policy)

  def unordered(found: StructType, expected: StructType, caseInsensitive: Boolean): Boolean =
    conforms(found, expected, if (caseInsensitive) SchemaPolicy.Exact else SchemaPolicy.ExactUnorderedCS)

  def ordered(found: StructType, expected: StructType, caseInsensitive: Boolean): Boolean =
    conforms(found, expected, if (caseInsensitive) SchemaPolicy.ExactOrderedCI else SchemaPolicy.ExactOrdered)

  def byPosition(found: StructType, expected: StructType): Boolean =
    conforms(found, expected, SchemaPolicy.ExactByPosition)

  def backward(found: StructType, expected: StructType): Boolean =
    conforms(found, expected, SchemaPolicy.Backward)

  def forward(found: StructType, expected: StructType): Boolean =
    conforms(found, expected, SchemaPolicy.Forward)

  def duplicateNames(struct: StructType, caseInsensitive: Boolean): List[List[String]] =
    SchemaCompare.duplicateNames(struct.fields, caseInsensitive)
}

/** Runtime pins: assert an actual `DataFrame` schema against a contract.
  * Driver-only, O(schema), zero per-row cost — never on the data path
  * (reference: SparkCore.scala:302-340).
  */
object SchemaCheck {

  /** Default pin: unordered, case-insensitive, field nullability ignored,
    * nested collection optionality preserved.
    */
  def assertMatchesContract[C](df: DataFrame)(implicit sch: ShapeOf[C]): Unit =
    assertMatches(df.schema, sch.struct, SchemaPolicy.Exact, "contract")

  /** Policy-aware pin. */
  def assertMatchesContract[C, P <: SchemaPolicy with Singleton](
      df: DataFrame
  )(implicit sch: ShapeOf[C], p: ValueOf[P]): Unit =
    assertMatches(df.schema, sch.struct, p.value, s"policy ${p.value.name}")

  /** Throw [[ContractViolation]] unless `found` conforms to `expected`; the
    * drift report is built on that failure path only.
    */
  def assertMatches(found: StructType, expected: StructType, policy: SchemaPolicy, what: String): Unit =
    if (!SchemaCompare.conforms(found, expected, policy)) {
      val report = SchemaCompare.diff(found, expected, policy)
      throw new ContractViolation(
        report,
        s"""Runtime schema mismatch against $what.
           |${report.render("found schema", "expected schema")}Found:
           |${found.treeString}
           |Expected:
           |${expected.treeString}
           |""".stripMargin
      )
    }
}
