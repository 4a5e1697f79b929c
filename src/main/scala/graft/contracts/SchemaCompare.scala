package graft.contracts

import org.apache.spark.sql.types._

import java.util.Locale
import scala.collection.mutable.ListBuffer

/** The comparator of the contract layer: one walk of a found `StructType`
  * against a contract `StructType` under a [[SchemaPolicy]]. It serves the
  * construction-time check (both sides lowered by [[ShapeOf]]) and the
  * runtime pin (the found side is a `DataFrame` schema) alike — the two
  * comparators the reference keeps apart in its macro
  * (ContractsCore.scala:237-416) and its runtime layer
  * (SparkCore.scala:31-147).
  *
  * The walk has two entry points: [[conforms]] stops at the first finding
  * and builds no path or report; [[diff]] records every finding into a
  * [[DriftReport]]. The policy filter is applied as findings arise, so a
  * finding the policy allows is never recorded, and a path string is built
  * only for a recorded finding.
  *
  * Semantics preserved from the reference:
  *   - field-level nullability is never compared (Spark-lax nullability);
  *   - nested `containsNull` / `valueContainsNull` IS compared — drift
  *     there is a mismatch (SparkCore.scala:137-144);
  *   - Backward allows a missing contract field that is nullable or has a
  *     default (`graft.hasDefault` metadata); Forward allows every missing
  *     field; Backward allows extras; Full allows everything
  *     (ContractsCore.scala:402-416);
  *   - name-resolved policies reject case-folded duplicate field names with
  *     a diagnostic (SparkCore.scala:60-64, 73-78).
  *
  * Paths use the reference's grammar: `items[].payload<value>.code`,
  * `@i(name)` for ordered name drift, `@i` for positional drift.
  */
object SchemaCompare {

  final case class Missing(path: String, field: StructField)
  final case class Extra(path: String, name: String)
  final case class Mismatch(path: String, expected: String, found: String)

  final case class DriftReport(
      policy: SchemaPolicy,
      missing: List[Missing],
      extra: List[Extra],
      mismatch: List[Mismatch],
      duplicates: List[DuplicateNames]
  ) {
    def conforms: Boolean = missing.isEmpty && extra.isEmpty && mismatch.isEmpty

    def render(outLabel: String, contractLabel: String): String = {
      def renderField(f: StructField): String = {
        val opt = if (f.nullable) " (optional)" else ""
        val dflt = if (ShapeOf.hasDefault(f)) " (default)" else ""
        s"${SchemaCompare.render(f.dataType)}$opt$dflt"
      }
      val fmtMissing = missing.map(m => s"${m.path} : ${renderField(m.field)}").mkString(", ")
      val fmtExtra = extra.map(_.path).mkString(", ")
      val fmtMis = mismatch
        .map(x => s"${x.path} expected ${x.expected}, found ${x.found}")
        .mkString("; ")
      val dupBlock =
        if (duplicates.isEmpty) ""
        else duplicates.map(_.render).mkString("\n", "\n", "")
      s"""Contract drift (policy: ${policy.name}).
         |Out: $outLabel vs Contract: $contractLabel
         |Missing attributes: $fmtMissing
         |Extra attributes: $fmtExtra
         |Mismatch attributes: $fmtMis$dupBlock
         |""".stripMargin
    }
  }

  final case class DuplicateNames(side: String, path: String, clusters: List[List[String]]) {
    def render: String = {
      val rendered = clusters.map(_.mkString("[", ", ", "]")).mkString(", ")
      s"$side at '${if (path.isEmpty) "<root>" else path}' has case-insensitive duplicate field names: $rendered"
    }
  }

  /** Does `found` conform to `contract` under `policy`? Stops at the first
    * finding; equal to `diff(found, contract, policy).conforms`.
    */
  def conforms(found: StructType, contract: StructType, policy: SchemaPolicy): Boolean =
    policy.isFull || new Walk(policy, null).struct(null, found, contract)

  /** Every finding of `found` against `contract` that `policy` does not allow. */
  def diff(found: StructType, contract: StructType, policy: SchemaPolicy): DriftReport =
    if (policy.isFull) DriftReport(policy, Nil, Nil, Nil, Nil)
    else {
      val findings = new Findings
      new Walk(policy, findings).struct(null, found, contract)
      val dups = findings.duplicates.result()
      DriftReport(
        policy,
        findings.missing.result(),
        findings.extra.result(),
        findings.mismatch.result() ++ dups.map(dupMismatch),
        dups
      )
    }

  /** A data type in drift-report form: `optional X` for a nullable element
    * or value, `seq[X]`, `map[K -> V]`, `{a: T, ...}`, and Spark's simple
    * string for a leaf (reference: ContractsCore.scala:211-221). Field
    * nullability is not rendered.
    */
  def render(dt: DataType): String = dt match {
    case st: StructType     => st.fields.map(f => s"${f.name}: ${render(f.dataType)}").mkString("{", ", ", "}")
    case ArrayType(e, cn)   => s"seq[${render(e, cn)}]"
    case MapType(k, v, vcn) => s"map[${k.simpleString} -> ${render(v, vcn)}]"
    case leaf               => leaf.simpleString
  }

  private[contracts] def render(dt: DataType, optional: Boolean): String =
    if (optional) s"optional ${render(dt)}" else render(dt)

  /** Duplicate names make a name-resolved match impossible; surface as a
    * mismatch so `conforms` is false (the reference runtime comparator
    * likewise refuses to match: SparkCore.scala:93-127).
    */
  private def dupMismatch(d: DuplicateNames): Mismatch =
    Mismatch(d.path, "unique field names", d.clusters.map(_.mkString("[", ", ", "]")).mkString(", "))

  def duplicateNames(fields: Seq[StructField], caseInsensitive: Boolean): List[List[String]] =
    fields
      .groupBy(f => key(f.name, caseInsensitive))
      .valuesIterator
      .collect { case fs if fs.lengthCompare(1) > 0 => fs.map(_.name).toList.sorted }
      .toList
      .sortBy(_.headOption.getOrElse(""))

  private def key(name: String, ci: Boolean): String =
    if (ci) name.toLowerCase(Locale.ROOT) else name

  private final class Findings {
    val missing = new ListBuffer[Missing]
    val extra = new ListBuffer[Extra]
    val mismatch = new ListBuffer[Mismatch]
    val duplicates = new ListBuffer[DuplicateNames]
  }

  /** Where a finding sits, as links from the root (`null`); turned into
    * text only when a finding is recorded. `pos >= 0` is the positional
    * segment `.@pos`; otherwise `seg` is a field name (`Field`, dotted) or
    * a container hop (`Hop`: `[]`, `<key>`, `<value>`).
    */
  private final class Path(parent: Path, seg: String, pos: Int) {
    private def append(sb: java.lang.StringBuilder): Unit = {
      if (parent != null) parent.append(sb)
      if (pos >= 0) sb.append(".@").append(pos)
      else if (pos == Hop) sb.append(seg)
      else { if (sb.length > 0) sb.append('.'); sb.append(seg) }
    }
    override def toString: String = { val sb = new java.lang.StringBuilder; append(sb); sb.toString }
  }
  private final val Field = -1
  private final val Hop = -2

  private def show(path: Path): String = if (path == null) "" else path.toString

  /** One walk. With `findings == null` every finding answers false at once
    * and no path is linked; otherwise findings are recorded and the walk
    * goes on. Each method returns whether the walk should go on.
    */
  private final class Walk(p: SchemaPolicy, findings: Findings) {

    private def at(parent: Path, seg: String, pos: Int): Path =
      if (findings == null) null else new Path(parent, seg, pos)

    private def mismatch(path: Path, expected: => String, found: => String): Boolean =
      findings != null && { findings.mismatch += Mismatch(show(path), expected, found); true }

    private def missing(path: Path, field: StructField): Boolean =
      p.isForward || (p.isBackward && (field.nullable || ShapeOf.hasDefault(field))) ||
        (findings != null && { findings.missing += Missing(show(path), field); true })

    private def extra(path: Path, name: String): Boolean =
      p.isBackward || (findings != null && { findings.extra += Extra(show(path), name); true })

    def struct(path: Path, found: StructType, contract: StructType): Boolean =
      if (p.byPosition) byPosition(path, found.fields, contract.fields)
      else if (p.orderedByName) ordered(path, found.fields, contract.fields)
      else byName(path, found.fields, contract.fields)

    private def dataType(path: Path, found: DataType, contract: DataType): Boolean = (found, contract) match {
      case (f: StructType, c: StructType) => struct(path, f, c)
      case (f: ArrayType, c: ArrayType) =>
        element(at(path, "[]", Hop), f.elementType, f.containsNull, c.elementType, c.containsNull)
      case (f: MapType, c: MapType) =>
        (f.keyType == c.keyType || mismatch(at(path, "<key>", Hop), c.keyType.simpleString, f.keyType.simpleString)) &&
          element(at(path, "<value>", Hop), f.valueType, f.valueContainsNull, c.valueType, c.valueContainsNull)
      case _ => found == contract || mismatch(path, render(contract), render(found))
    }

    /** An array element or map value: its nullability is compared first. */
    private def element(path: Path, found: DataType, foundNull: Boolean, contract: DataType, contractNull: Boolean): Boolean =
      if (foundNull != contractNull) mismatch(path, render(contract, contractNull), render(found, foundNull))
      else dataType(path, found, contract)

    /** Unordered by-name compare (reference: ContractsCore.scala:237-284):
      * this level's missing fields, then its extras, then the matched
      * fields' types, each in field order. Plain loops: this is the pin
      * path.
      */
    private def byName(path: Path, found: Array[StructField], contract: Array[StructField]): Boolean = {
      val ci = p.caseInsensitive
      val foundByKey = new java.util.HashMap[String, StructField](found.length * 2)
      val contractKeys = new java.util.HashSet[String](contract.length * 2)
      var dups = false
      var i = 0
      while (i < found.length) { dups |= foundByKey.put(key(found(i).name, ci), found(i)) != null; i += 1 }
      i = 0
      while (i < contract.length) { dups |= !contractKeys.add(key(contract(i).name, ci)); i += 1 }
      if (dups) return duplicates(path, found, contract)

      val matched = new Array[StructField](contract.length) // null where missing
      var extras = found.length
      var ok = true
      i = 0
      while (ok && i < contract.length) {
        val c = contract(i)
        matched(i) = foundByKey.get(key(c.name, ci))
        if (matched(i) != null) extras -= 1 else ok = missing(at(path, c.name, Field), c)
        i += 1
      }
      i = 0
      while (ok && extras > 0 && i < found.length) {
        val f = found(i)
        if (!contractKeys.contains(key(f.name, ci))) ok = extra(at(path, f.name, Field), f.name)
        i += 1
      }
      i = 0
      while (ok && i < contract.length) {
        val c = contract(i)
        if (matched(i) != null) ok = dataType(at(path, c.name, Field), matched(i).dataType, c.dataType)
        i += 1
      }
      ok
    }

    /** Case-folded duplicate names on either side: no name-resolved match
      * exists, so the level is reported and not compared further.
      */
    private def duplicates(path: Path, found: Array[StructField], contract: Array[StructField]): Boolean =
      findings != null && {
        for ((side, fields) <- List("Out" -> found, "Contract" -> contract)) {
          val clusters = duplicateNames(fields, p.caseInsensitive)
          if (clusters.nonEmpty) findings.duplicates += DuplicateNames(side, show(path), clusters)
        }
        true
      }

    /** Ordered by-name compare (reference: ContractsCore.scala:286-340). */
    private def ordered(path: Path, found: Array[StructField], contract: Array[StructField]): Boolean = {
      val n = math.min(found.length, contract.length)
      var ok = true
      var i = 0
      while (ok && i < n) {
        val f = found(i)
        val c = contract(i)
        val nameOk = if (p.caseInsensitive) f.name.equalsIgnoreCase(c.name) else f.name == c.name
        ok = (nameOk || mismatch(at(path, s".@$i(name)", Hop), c.name, f.name)) &&
          dataType(at(path, c.name, Field), f.dataType, c.dataType)
        i += 1
      }
      ok && rest(path, n, found, contract, positional = false)
    }

    /** Positional, name-blind compare (reference: ContractsCore.scala:342-381). */
    private def byPosition(path: Path, found: Array[StructField], contract: Array[StructField]): Boolean = {
      val n = math.min(found.length, contract.length)
      var ok = true
      var i = 0
      while (ok && i < n) {
        ok = dataType(at(path, null, i), found(i).dataType, contract(i).dataType)
        i += 1
      }
      ok && rest(path, n, found, contract, positional = true)
    }

    /** The fields past the first `n` of either side: missing contract
      * fields, then extra found fields, each at `.@n` when `positional`,
      * else at its name.
      */
    private def rest(path: Path, n: Int, found: Array[StructField], contract: Array[StructField], positional: Boolean): Boolean = {
      def place(name: String): Path = if (positional) at(path, null, n) else at(path, name, Field)
      var ok = true
      var i = n
      while (ok && i < contract.length) { ok = missing(place(contract(i).name), contract(i)); i += 1 }
      i = n
      while (ok && i < found.length) { ok = extra(place(found(i).name), found(i).name); i += 1 }
      ok
    }
  }
}
