package graft.contracts

import org.apache.spark.sql.types._

import java.util.concurrent.ConcurrentHashMap
import scala.reflect.runtime.{universe => ru}

/** A contract definition error: the Scala type cannot model a Spark record
  * (unsupported leaf, non-case-class, non-atomic map key). Raised eagerly the
  * first time a contract is summoned — the Scala-2 stand-in for the
  * reference's compile-time `report.errorAndAbort`
  * (reference: ContractsCore.scala:153-156, SparkCore.scala:252-255).
  */
final class UnsupportedContractType(message: String) extends IllegalArgumentException(message)

/** Typeclass: the Spark `StructType` of a contract case class `T` — the one
  * schema model of the contract layer. Construction checks compare two of
  * them and runtime pins compare a `DataFrame` schema against one, both
  * with [[SchemaCompare]]; readers are handed it as their schema.
  *
  * Lowering: `Option[T]` becomes the field's `nullable`, an array's
  * `containsNull` or a map's `valueContainsNull`; List/Seq/Vector/Array/Set
  * all become `ArrayType`, so a `Set` producer conforms to a `Seq` contract
  * (reference: CtdcPoc.scala:41-55); a Scala default value is recorded as
  * `graft.hasDefault` field metadata for Backward's missing-field
  * allowance (reference: SparkCore.scala:20, 285-290). `Option[Option[T]]`
  * has no Spark schema and is rejected.
  *
  * The reference derives this with a Scala 3 `quotes.reflect` macro
  * (reference: ContractsCore.scala:116-203, SparkCore.scala:200-299). On
  * Scala 2.13 we walk the same type structure with `scala.reflect.runtime`
  * at first summon (driver-side, O(schema), memoized per type) — the
  * documented compile-time ⇒ construction-time mechanism shift.
  */
trait ShapeOf[T] extends Serializable {
  def struct: StructType
}

object ShapeOf {

  def apply[T](implicit ev: ShapeOf[T]): ShapeOf[T] = ev

  /** Metadata key marking contract fields that have a Scala default value. */
  val HasDefaultMetadataKey = "graft.hasDefault"

  def hasDefault(f: StructField): Boolean =
    f.metadata.contains(HasDefaultMetadataKey) && f.metadata.getBoolean(HasDefaultMetadataKey)

  def defaultMetadata(hasDefault: Boolean): Metadata =
    new MetadataBuilder().putBoolean(HasDefaultMetadataKey, hasDefault).build()

  private val cache = new ConcurrentHashMap[String, ShapeOf[_]]()

  // WeakTypeTag rather than TypeTag so derivation also works where a full
  // TypeTag can't materialize; note that method-local case classes reify as
  // free types under Scala 2 runtime reflection and are rejected with an
  // explicit error in `materialize` — contracts must live at a stable
  // (object/package) scope, unlike the reference's compile-time macro which
  // handles local classes.
  implicit def derive[T](implicit tt: ru.WeakTypeTag[T]): ShapeOf[T] = {
    val key = tt.tpe.toString
    cache
      .computeIfAbsent(key, _ => materialize(tt.tpe))
      .asInstanceOf[ShapeOf[T]]
  }

  private def materialize(tpe: ru.Type): ShapeOf[Any] = {
    // Method-local / abstract contract types reify as free types under
    // Scala 2 runtime reflection and cannot be walked — fail with a clear
    // scoping error instead of a misleading "unsupported leaf" one.
    def isFree(s: ru.Symbol): Boolean =
      s.toString.startsWith("free ") || (s != ru.NoSymbol && s.owner == ru.NoSymbol && !s.isClass)
    if (tpe.exists(t => isFree(t.typeSymbol)))
      throw new UnsupportedContractType(
        s"Contract type $tpe is method-local or abstract; Scala 2 runtime " +
          "reflection cannot derive its shape. Define contract case classes " +
          "at a stable (object/package) scope."
      )
    val st = ru.synchronized(structOf(tpe, strict = false)) // runtime reflection: serialize walks defensively
    new ShapeOf[Any] { val struct: StructType = st }
  }

  /** STRICT (reference-parity) schema of `T`, opt-in (round 17): leaf types
    * that collapse to the same Spark `DataType` but are DIFFERENT Scala
    * types — `java.sql.Date` vs `java.time.LocalDate`, `java.sql.Timestamp`
    * vs `java.time.Instant`, `java.math.BigDecimal` vs `BigDecimal` — stay
    * distinct: the legacy `java.*` twin is an `ObjectType(<class>)` leaf
    * so [[SchemaConforms.checkStrict]] rejects the swaps exactly as the
    * reference macro does (reference: ContractsCore.scala:158-173, which
    * compares Scala types, not lowered Spark types). Type-vs-type
    * CONSTRUCTION checks only: on the data plane the twins are genuinely
    * indistinguishable (both lower to `DateType` in the files — SURVEY
    * §7.4), so the default [[derive]] and every `DataFrame` pin keep
    * Spark-schema leaf identity, and a strict schema is never handed to a
    * reader.
    */
  def strictShape[T](implicit tt: ru.WeakTypeTag[T]): StructType = {
    derive[T](tt) // default derivation first: same validation, same errors
    strictCache.computeIfAbsent(tt.tpe.toString, _ => ru.synchronized(structOf(tt.tpe, strict = true)))
  }

  private val strictCache = new ConcurrentHashMap[String, StructType]()

  private val supportedLeafTypes =
    "String, Int, Long, Short, Byte, Double, Float, Boolean, BigDecimal, " +
      "java.math.BigDecimal, java.sql.Date, java.time.LocalDate, " +
      "java.sql.Timestamp, java.time.Instant, java.time.LocalDateTime, " +
      "Array[Byte]"

  /** Leaf table per SURVEY.md §1.2 (reference: SparkCore.scala:238-255).
    * Under `strict` the legacy `java.*` twin of each Spark-identical pair
    * is tagged as `ObjectType` instead of the shared lowered type — see
    * [[strictShape]].
    */
  private def leafDataType(t: ru.Type, strict: Boolean = false): Option[DataType] = {
    import ru._
    if (strict && t =:= typeOf[java.sql.Date]) Some(ObjectType(classOf[java.sql.Date]))
    else if (strict && t =:= typeOf[java.sql.Timestamp]) Some(ObjectType(classOf[java.sql.Timestamp]))
    else if (strict && t =:= typeOf[java.math.BigDecimal]) Some(ObjectType(classOf[java.math.BigDecimal]))
    else if (t =:= typeOf[String]) Some(StringType)
    else if (t =:= typeOf[Int]) Some(IntegerType)
    else if (t =:= typeOf[Long]) Some(LongType)
    else if (t =:= typeOf[Short]) Some(ShortType)
    else if (t =:= typeOf[Byte]) Some(ByteType)
    else if (t =:= typeOf[Double]) Some(DoubleType)
    else if (t =:= typeOf[Float]) Some(FloatType)
    else if (t =:= typeOf[Boolean]) Some(BooleanType)
    else if (t =:= typeOf[BigDecimal] || t =:= typeOf[java.math.BigDecimal])
      Some(DecimalType.SYSTEM_DEFAULT)
    else if (t =:= typeOf[java.sql.Date] || t =:= typeOf[java.time.LocalDate])
      Some(DateType)
    else if (t =:= typeOf[java.sql.Timestamp] || t =:= typeOf[java.time.Instant])
      Some(TimestampType)
    else if (t =:= typeOf[java.time.LocalDateTime]) Some(TimestampNTZType)
    else None
  }

  private def isAtomicKey(t: ru.Type): Boolean = {
    import ru._
    t =:= typeOf[String] || t =:= typeOf[Int] || t =:= typeOf[Long] ||
    t =:= typeOf[Short] || t =:= typeOf[Byte] || t =:= typeOf[Boolean]
  }

  private def isSeqLike(t: ru.Type): Boolean = {
    import ru._
    t <:< typeOf[Seq[_]] || t <:< typeOf[Set[_]] || t <:< typeOf[Array[_]]
  }

  private def isCaseClass(t: ru.Type): Boolean = {
    val sym = t.typeSymbol
    sym.isClass && sym.asClass.isCaseClass
  }

  private def isOption(t: ru.Type): Boolean = t.dealias <:< ru.typeOf[Option[_]]

  /** The top-level walk: `T` must be a case class. */
  private def structOf(tpe: ru.Type, strict: Boolean): StructType = nullableOf(tpe, strict) match {
    case (st: StructType, false) => st
    case (dt, optional) =>
      throw new UnsupportedContractType(
        s"Contract must be a case class, got: $tpe (${SchemaCompare.render(dt, optional)})"
      )
  }

  /** A type where `Option` is allowed — a field, an element, a map value,
    * the top level: its data type, and whether it is an `Option`.
    */
  private def nullableOf(raw: ru.Type, strict: Boolean): (DataType, Boolean) =
    if (!isOption(raw)) (dataTypeOf(raw, strict), false)
    else {
      val inner = raw.dealias.typeArgs.head
      if (isOption(inner))
        throw new UnsupportedContractType(
          s"Unsupported nested Option in contract derivation: $raw. A Spark value is " +
            "null or not, so Option[Option[_]] has no Spark schema; use a single Option."
        )
      (dataTypeOf(inner, strict), true)
    }

  /** `Type => DataType` walk mirroring the reference macro's classification
    * order: (Option, handled by [[nullableOf]]), then sequence family, then
    * Map[atomic, _], then leaf, then nested case class (reference:
    * ContractsCore.scala:176-203).
    */
  private def dataTypeOf(raw: ru.Type, strict: Boolean): DataType = {
    import ru._
    val t = raw.dealias
    // Array[Byte] is BinaryType on the data plane (matches Spark's encoder
    // mapping), NOT ArrayType(ByteType) — checked before the sequence family.
    // This is the multimodal payload leaf (opaque image/audio/video bytes).
    if (t =:= typeOf[Array[Byte]]) BinaryType
    else if (isSeqLike(t)) {
      val elem = t.typeArgs.headOption.getOrElse(
        throw new UnsupportedContractType(s"Missing type arg for sequence in $t")
      )
      val (dt, containsNull) = nullableOf(elem, strict)
      ArrayType(dt, containsNull)
    } else if (t <:< typeOf[Map[_, _]]) {
      t.typeArgs match {
        case k :: v :: Nil =>
          if (!isAtomicKey(k))
            throw new UnsupportedContractType(
              s"Unsupported Map key type for $t. Allowed keys: String, Int, Long, Short, Byte, Boolean."
            )
          val (dt, valueContainsNull) = nullableOf(v, strict)
          MapType(leafDataType(k).get, dt, valueContainsNull) // atomic keys have no strict twins
        case _ =>
          throw new UnsupportedContractType(s"Map requires two type args: $t")
      }
    } else if (leafDataType(t).isDefined) {
      // Leaf before case-class: BigDecimal & friends are case-class-like but atomic.
      leafDataType(t, strict).get
    } else if (isCaseClass(t)) {
      caseClassStruct(t, strict)
    } else {
      throw new UnsupportedContractType(
        s"Unsupported structural leaf type in contract derivation: $t. " +
          s"Supported leaf types: $supportedLeafTypes. Supported container shapes: " +
          "case classes, Option, List/Seq/Vector/Array/Set, and Map[atomic, _]."
      )
    }
  }

  private def caseClassStruct(t: ru.Type, strict: Boolean): StructType = {
    import ru._
    val ctor = t
      .decl(termNames.CONSTRUCTOR)
      .alternatives
      .collectFirst { case m: MethodSymbol if m.isPrimaryConstructor => m }
      .getOrElse(throw new UnsupportedContractType(s"No primary constructor for $t"))
    StructType(ctor.paramLists.flatten.map { p =>
      val (dt, optional) = nullableOf(p.typeSignatureIn(t), strict)
      StructField(p.name.decodedName.toString, dt, optional, defaultMetadata(p.asTerm.isParamWithDefault))
    })
  }
}
