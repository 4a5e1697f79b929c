package graft.contracts

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests over random `StructType` pairs — field `nullable`,
  * `containsNull`, `valueContainsNull`, `graft.hasDefault` metadata (set,
  * cleared or absent) and case-folded duplicate names all vary:
  *   1. policy lattice — CS-unordered conformance implies Backward ∧
  *      Forward; ordered implies unordered and by-position; Full accepts
  *      everything (SURVEY.md §5).
  *   2. the early-exit `SchemaCompare.conforms` agrees with
  *      `SchemaCompare.diff(...).conforms` on every policy for arbitrary
  *      (including mutated) pairs, and `SchemaCheck.assertMatches` throws
  *      whenever `conforms` is false.
  */
class ConformancePropertiesSpec extends AnyFunSuite {

  /** Deterministic scalacheck sampling (scalatestplus isn't in the offline
    * dependency cache, so Gens are driven manually with a fixed seed).
    */
  private def forAllSampled[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      body(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
      i += 1
    }
  }

  private val leafGen: Gen[DataType] =
    Gen.oneOf(IntegerType, LongType, StringType, DoubleType, BooleanType, DateType)

  private val nameGen: Gen[String] = Gen.oneOf("a", "b", "c", "d", "id", "ID", "x", "y")

  private val nullGen: Gen[Boolean] = Gen.oneOf(true, false)

  private def dataTypeGen(depth: Int): Gen[DataType] =
    if (depth <= 0) leafGen
    else
      Gen.frequency(
        5 -> leafGen,
        2 -> Gen.lzy(dataTypeGen(depth - 1).map(ArrayType(_, containsNull = false))),
        1 -> Gen.lzy(dataTypeGen(depth - 1).map(ArrayType(_, containsNull = true))),
        1 -> Gen.lzy(for { v <- dataTypeGen(depth - 1); n <- nullGen } yield MapType(StringType, v, n)),
        2 -> Gen.lzy(structGen(depth - 1))
      )

  /** `graft.hasDefault` as a contract lowers it (true / false), or absent
    * as on a `DataFrame` schema.
    */
  private val metadataGen: Gen[Metadata] =
    Gen.oneOf(ShapeOf.defaultMetadata(true), ShapeOf.defaultMetadata(false), Metadata.empty)

  private def fieldGen(depth: Int): Gen[StructField] =
    for {
      name <- nameGen
      dt <- dataTypeGen(depth)
      nullable <- nullGen
      metadata <- metadataGen
    } yield StructField(name, dt, nullable, metadata)

  private def structGen(depth: Int): Gen[StructType] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, fieldGen(depth))).map(StructType(_))

  /** Flip the nullability of a field and of its outermost element or value. */
  private def flipNulls(f: StructField): StructField = f.dataType match {
    case ArrayType(e, cn)   => f.copy(dataType = ArrayType(e, !cn), nullable = !f.nullable)
    case MapType(k, v, vcn) => f.copy(dataType = MapType(k, v, !vcn), nullable = !f.nullable)
    case _                  => f.copy(nullable = !f.nullable)
  }

  /** Mutations of a base struct: reorder / drop / rename-case / retype /
    * flip nullability / add a case-folded twin / add — biased toward the
    * interesting near-miss pairs independent sampling rarely produces.
    */
  private def mutate(s: StructType): Gen[StructType] = {
    val fs = s.fields.toList
    def at(g: Int => List[StructField]): Gen[StructType] =
      if (fs.isEmpty) Gen.const(s) else Gen.choose(0, fs.length - 1).map(i => StructType(g(i)))
    val reorder = Gen.const(StructType(fs.reverse))
    val drop = at(i => fs.patch(i, Nil, 1))
    val upcase = at(i => fs.updated(i, fs(i).copy(name = fs(i).name.toUpperCase)))
    val retype = at(i => fs.updated(i, fs(i).copy(dataType = BinaryType)))
    val flip = at(i => fs.updated(i, flipNulls(fs(i))))
    val twin = at(i => fs :+ fs(i).copy(name = fs(i).name.toUpperCase))
    val add = fieldGen(1).map(f => StructType(fs :+ f))
    Gen.oneOf(Gen.const(s), reorder, drop, upcase, retype, flip, twin, add)
  }

  private val pairGen: Gen[(StructType, StructType)] =
    for {
      base <- structGen(2)
      out <- Gen.oneOf(mutate(base), structGen(2))
      contract <- Gen.oneOf(Gen.const(base), mutate(base))
    } yield (out, contract)

  private val allPolicies: List[SchemaPolicy] =
    SchemaPolicy.all :+ SchemaPolicy.ExactUnorderedCS

  test("early-exit conforms agrees with the diff on every policy (random schema pairs)") {
    forAllSampled(pairGen, 500) { pair =>
      val (out, contract) = pair
      allPolicies.foreach { p =>
        val fast = SchemaCompare.conforms(out, contract, p)
        val slow = SchemaCompare.diff(out, contract, p).conforms
        assert(fast == slow, s"policy ${p.name}: conforms=$fast diff=$slow\nout=$out\ncontract=$contract")
      }
    }
  }

  test("SchemaCheck.assertMatches throws ContractViolation exactly when conforms is false") {
    forAllSampled(pairGen, 500) { pair =>
      val (out, contract) = pair
      allPolicies.foreach { p =>
        if (SchemaCompare.conforms(out, contract, p)) SchemaCheck.assertMatches(out, contract, p, "pair")
        else {
          val e = intercept[ContractViolation](SchemaCheck.assertMatches(out, contract, p, "pair"))
          assert(!e.report.conforms, s"policy ${p.name}: thrown with a conforming report\nout=$out\ncontract=$contract")
        }
      }
    }
  }

  /** Deep case-folded duplicate-name presence: ordered/by-position policies
    * tolerate duplicates while the unordered family rejects them, so the
    * lattice implications only hold on dup-free shapes.
    */
  private def hasDupsDeep(dt: DataType): Boolean = dt match {
    case st: StructType =>
      SchemaCompare.duplicateNames(st.fields, caseInsensitive = true).nonEmpty ||
        st.fields.exists(f => hasDupsDeep(f.dataType))
    case ArrayType(e, _)    => hasDupsDeep(e)
    case MapType(_, v, _)   => hasDupsDeep(v)
    case _                  => false
  }

  test("policy lattice: CS-unordered implies Backward and Forward; ordered implies unordered and by-position") {
    forAllSampled(pairGen, 500) { pair =>
      val (out, contract) = pair
      def ok(p: SchemaPolicy) = SchemaCompare.conforms(out, contract, p)
      val dupFree = !hasDupsDeep(out) && !hasDupsDeep(contract)
      if (ok(SchemaPolicy.ExactUnorderedCS)) {
        assert(ok(SchemaPolicy.Backward), s"CS-unordered but not Backward: $out vs $contract")
        assert(ok(SchemaPolicy.Forward), s"CS-unordered but not Forward: $out vs $contract")
      }
      if (ok(SchemaPolicy.ExactOrdered)) {
        if (dupFree)
          assert(ok(SchemaPolicy.ExactUnorderedCS), s"ordered but not CS-unordered: $out vs $contract")
        assert(ok(SchemaPolicy.ExactByPosition), s"ordered but not by-position: $out vs $contract")
        assert(ok(SchemaPolicy.ExactOrderedCI), s"ordered-CS but not ordered-CI: $out vs $contract")
      }
      if (ok(SchemaPolicy.Exact)) assert(ok(SchemaPolicy.ExactUnorderedCI))
    }
  }

  test("Full accepts everything") {
    forAllSampled(pairGen, 300) { pair =>
      val (out, contract) = pair
      assert(SchemaCompare.conforms(out, contract, SchemaPolicy.Full))
      assert(SchemaCompare.diff(out, contract, SchemaPolicy.Full).conforms)
    }
  }

  test("conformance is reflexive for every policy") {
    forAllSampled(pairGen, 300) { pair =>
      val (out, _) = pair
      if (!hasDupsDeep(out)) {
        allPolicies.foreach { p =>
          assert(SchemaCompare.diff(out, out, p).conforms, s"not reflexive under ${p.name}: $out")
        }
      }
    }
  }
}
