package graft.queries

import graft.contracts._
import graft.model.Tables._
import graft.pipeline.PipelineBuilder
import graft.sources.{TypedIO, TypedSink, TypedSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One driver-verifiable query per contract-engine operator O1–O22
  * (SURVEY.md §2.1). The operator under test is the contract machinery the
  * query routes through — typed scans, pinned transforms, policy sinks,
  * comparators, structural diffs; the row payload is the SQL-expressible
  * oracle handle (reference behavior: SparkCore.scala:346-360, 404-432;
  * ContractsCore.scala:237-435).
  */
object ContractQueries {

  import QueryDef._

  // ---- contracts used by the queries (stable object scope for ShapeOf) ----
  final case class CustomerSlim(c_custkey: Long, c_name: String, c_acctbal: Double)
  final case class SupplierSlim(s_suppkey: Long, s_name: String, s_acctbal: Double)
  final case class SupplierSlimPlus(
      s_suppkey: Long,
      s_name: String,
      s_acctbal: Double,
      s_note: Option[String] = None
  )
  final case class PartTyped(p_partkey: Long, p_brand: String, p_retailprice: Double)
  // Declaration order ≠ select order: the Exact (unordered-CI) pin must accept.
  final case class PartReordered(p_retailprice: Double, p_partkey: Long, p_brand: String)
  final case class NationRenamed(id: Int, name: String, region: Int)
  // o1c: the post-evolution contract — the added column is Option so rows
  // from pre-evolution files (NULL after mergeSchema) conform.
  final case class NationEvolved(n_nationkey: Int, n_name: String, n_regionkey: Option[Int])
  final case class NationPos(key: Int, label: String, reg: Int)
  final case class LineitemKeys(l_orderkey: Long, l_linenumber: Int, l_quantity: Double)
  final case class EventSlim(event_id: Long, user_id: Long, event_type: String)
  final case class DocTokens(doc_id: Long, tokens: Seq[String])

  // o17: one field per supported leaf + each container shape (SURVEY §1.2).
  final case class Inner(x: Int, y: Option[String])
  final case class AllTypes(
      s: String,
      i: Int,
      l: Long,
      sh: Short,
      by: Byte,
      d: Double,
      f: Float,
      b: Boolean,
      dec: BigDecimal,
      dt: java.sql.Date,
      ts: java.sql.Timestamp,
      ldt: java.time.LocalDateTime,
      opt: Option[Int],
      tags: Seq[String],
      attrs: Map[String, Long],
      nested: Inner
  )

  // o18: nested drift mirroring the reference's deep-path fixtures
  // (reference: SchemaConformsSpec.scala:325-342 — items[].payload<value>.code).
  final case class PayloadOut(code: Int, note: String)
  final case class PayloadIn(code: String, level: Option[Int] = None)
  final case class ItemOut(id: Long, payload: Map[String, PayloadOut])
  final case class ItemIn(id: Long, payload: Map[String, PayloadIn])
  final case class DocOut(doc: String, items: Seq[ItemOut])
  final case class DocIn(doc: String, items: Seq[ItemIn], owner: String)

  final case class POut(a: Int, b: String, c: Double)
  final case class PIn(a: Int, c: Double, b: String)
  final case class PosOut(a: Int, b: String)
  final case class PosIn(x: Int, y: Int)
  final case class BOut(req: String, extraCol: Int)
  final case class BIn(req: String, opt: Option[Int], dflt: Int = 5)

  // oref: the reference's OWN conformance-matrix fixtures, transcribed
  // 1:1 from /root/reference SchemaConformsSpec.scala (line refs at each
  // group). Every runtime-expressible accept/reject case in that spec
  // rides through our diff engine; the oracle's VALUES table is
  // hand-authored from the reference's stated expectations, one comment
  // per reference test — nothing in it is generated by this code.
  // SchemaConformsSpec.scala:33-45
  final case class Ref01Contract(id: Long, Email: String, age: Option[Int])
  final case class Ref01Producer(age: Int, email: String, id: Long)
  // SchemaConformsSpec.scala:47-59
  final case class Ref02Contract(id: Long, age: Option[Int])
  final case class Ref02Producer(id: Long, age: Int)
  // SchemaConformsSpec.scala:61-73
  final case class Ref03Contract(id: Long, email: String, age: Option[Int] = None)
  final case class Ref03Producer(id: Long, email: String, region: String)
  // SchemaConformsSpec.scala:75-88
  final case class Ref04LineItem(sku: String, qty: Int, attrs: Map[String, String])
  final case class Ref04Contract(id: Long, items: Seq[Ref04LineItem], tags: Seq[String], note: Option[String] = None)
  final case class Ref04Producer(id: Long, items: List[Ref04LineItem], tags: Set[String], extra: String)
  // SchemaConformsSpec.scala:90-102
  final case class Ref05Row(values: List[Option[Int]])
  // SchemaConformsSpec.scala:104-116
  final case class Ref06Contract(id: Long, email: String, age: Option[Int], note: Option[String] = None)
  final case class Ref06Producer(id: Long, email: String)
  // SchemaConformsSpec.scala:118-132 (also 150-163 by-position)
  final case class Ref07Contract(id: Long, email: String)
  final case class Ref07Producer(email: String, id: Long)
  // SchemaConformsSpec.scala:134-148
  final case class Ref08Producer(EMAIL: String, ID: Long)
  // SchemaConformsSpec.scala:166-179
  final case class Ref10Producer(id: Long)
  // SchemaConformsSpec.scala:181-196
  final case class Ref11Row(id: java.util.UUID)
  // SchemaConformsSpec.scala:198-212
  sealed trait Ref12Contract
  final case class Ref12Producer(id: Long)
  // SchemaConformsSpec.scala:214-227
  final case class Ref13Row(payload: (Int, String))
  // SchemaConformsSpec.scala:229-245
  final case class Ref14Address(zip: String)
  final case class Ref14BadAddress(zip: Int)
  final case class Ref14Contract(id: Long, shipTo: Ref14Address, tags: List[String])
  final case class Ref14Producer(id: Long, shipTo: Ref14BadAddress, tags: List[Int])
  // SchemaConformsSpec.scala:247-261
  final case class Ref15Contract(values: List[Int])
  final case class Ref15Producer(values: List[Option[Int]])
  // SchemaConformsSpec.scala:263-277
  final case class Ref16Contract(values: Map[String, Int])
  final case class Ref16Producer(values: Map[String, Option[Int]])
  // SchemaConformsSpec.scala:279-293
  final case class Ref17Producer(id: Long, email: Int)
  // SchemaConformsSpec.scala:295-307
  final case class Ref18Contract(email: String)
  final case class Ref18Producer(values: List[Int], metadata: Map[String, Long])
  // SchemaConformsSpec.scala:309-323 (accept) and 325-342 (deep reject)
  final case class Ref19Leaf(code: Int)
  final case class Ref19Middle(payload: Map[String, Option[Ref19Leaf]])
  final case class Ref19Contract(items: List[Ref19Middle])
  final case class Ref19Producer(items: Vector[Ref19Middle])
  final case class Ref20BadLeaf(code: String)
  final case class Ref20BadMiddle(payload: Map[String, Option[Ref20BadLeaf]])
  final case class Ref20Producer(items: List[Ref20BadMiddle])
  // oref_strict_leaf fixtures (round 17): Scala-type twin pairs that lower
  // to the SAME Spark DataType — accepted by the default (data-plane)
  // comparators, rejected by the reference's compile-time check
  // (reference: ContractsCore.scala:158-173) and by our strict mode.
  final case class StrictDateProducer(id: Long, day: java.sql.Date)
  final case class StrictDateContract(id: Long, day: java.time.LocalDate)
  final case class StrictTsProducer(id: Long, at: java.sql.Timestamp)
  final case class StrictTsContract(id: Long, at: java.time.Instant)
  final case class StrictDecProducer(id: Long, amt: java.math.BigDecimal)
  final case class StrictDecContract(id: Long, amt: BigDecimal)
  // nested twin: the strict walk must reach leaves through containers
  final case class StrictNestedProducer(id: Long, days: Seq[Option[java.sql.Date]])
  final case class StrictNestedContract(id: Long, days: Seq[Option[java.time.LocalDate]])

  final case class MatrixRow(test_id: String, kind: String, path: String, detail: String)

  // Diagnostic payload rows for o16-o22.
  final case class DiffRow(kind: String, path: String, detail: String)
  final case class ShapeRow(field_name: String, spark_type: String)
  final case class DupRow(dup_cluster: String)
  final case class LineRow(line_no: Int, line: String)

  private def diffRows(report: SchemaCompare.DriftReport): Seq[DiffRow] =
    report.missing.map(m => DiffRow("missing", m.path, SchemaCompare.render(m.field.dataType))) ++
      report.extra.map(e => DiffRow("extra", e.path, e.name)) ++
      report.mismatch.map(x => DiffRow("mismatch", x.path, s"expected ${x.expected}, found ${x.found}"))

  def all: Seq[QueryDef] = Seq(
    // O1 — typed scan: contract schema forced on the reader, default pin.
    QueryDef(
      "o1_typed_scan",
      Some("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"),
      (spark, sf) => TypedIO.readDF(TypedSource[CustomerRow]("parquet", s"$sf/customer.parquet"))(spark, implicitly)
    ),
    // O2 — typed parquet sink: pipeline write + re-read round trip.
    QueryDef(
      "o2_typed_sink",
      Some("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 2 = 0"),
      (spark, sf) => {
        val out = tmpDir("o2")
        val run = PipelineBuilder[Nothing]("o2")
          .addSource(TypedSource[CustomerRow]("parquet", s"$sf/customer.parquet"))
          .transformAs[CustomerRow]("even keys")(_.filter(col("c_custkey") % 2 === 0))
          .addSink[CustomerRow, SchemaPolicy.ExactT](TypedSink[CustomerRow](s"$out/c"))
          .build
        run(spark)
        spark.read.parquet(s"$out/c")
      }
    ),
    // O3 — Dataset read/write helpers: parquet ⇄ Dataset[A] round trip.
    QueryDef(
      "o3_dataset_rw",
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"),
      (spark, sf) => {
        implicit val s: SparkSession = spark
        import spark.implicits._
        val out = tmpDir("o3")
        val ds = TypedIO.read[NationRow](s"$sf/nation.parquet")
        TypedIO.write(ds, TypedSink[NationRow](s"$out/n"))
        TypedIO.read[NationRow](s"$out/n").toDF()
      }
    ),
    // O1b — format breadth for the typed source/sink surface: the same
    // contract rides parquet → JSON → CSV → ORC → back, schema forced on
    // every read (never inferred — the contract IS the schema, so pushdown
    // and pruning survive any format). Values must round-trip losslessly
    // through the two text formats and the second columnar format.
    QueryDef(
      "o1b_format_roundtrip",
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"),
      (spark, sf) => {
        val out = tmpDir("o1b")
        val pq = TypedIO.readDF(TypedSource[NationRow]("parquet", s"$sf/nation.parquet"))(spark, implicitly)
        TypedIO.writeDF[NationRow, SchemaPolicy.ExactT](pq, TypedSink[NationRow](s"$out/j", format = "json"))
        val fromJson = TypedIO.readDF(TypedSource[NationRow]("json", s"$out/j"))(spark, implicitly)
        TypedIO.writeDF[NationRow, SchemaPolicy.ExactT](
          fromJson,
          TypedSink[NationRow](s"$out/c", format = "csv", options = Map("header" -> "true"))
        )
        val fromCsv = TypedIO.readDF(
          TypedSource[NationRow]("csv", s"$out/c", options = Map("header" -> "true"))
        )(spark, implicitly)
        TypedIO.writeDF[NationRow, SchemaPolicy.ExactT](fromCsv, TypedSink[NationRow](s"$out/o", format = "orc"))
        TypedIO.readDF(TypedSource[NationRow]("orc", s"$out/o"))(spark, implicitly)
      }
    ),
    // O1c — schema evolution under contract: a dataset written BEFORE a
    // column existed (even keys, 2 columns) and AFTER (odd keys, 3
    // columns) is read back as one table with mergeSchema, and the merged
    // schema is pinned against the post-evolution contract whose added
    // field is Option — the contract-layer answer to "files evolve,
    // readers must not silently widen". Pre-evolution rows surface the
    // added column as NULL; the oracle replays the split.
    QueryDef(
      "o1c_schema_evolution",
      Some(
        """SELECT n_nationkey, n_name,
          |  CASE WHEN n_nationkey % 2 = 0 THEN NULL ELSE n_regionkey END AS n_regionkey
          |FROM nation""".stripMargin
      ),
      (spark, sf) => {
        val out = tmpDir("o1c")
        val nation = spark.read.parquet(s"$sf/nation.parquet")
        nation
          .filter(col("n_nationkey") % 2 === 0)
          .select("n_nationkey", "n_name") // pre-evolution files: no n_regionkey
          .write.parquet(s"$out/files/v1")
        nation
          .filter(col("n_nationkey") % 2 =!= 0)
          .select("n_nationkey", "n_name", "n_regionkey")
          .write.parquet(s"$out/files/v2")
        val merged = spark.read
          .option("mergeSchema", "true")
          .option("recursiveFileLookup", "true")
          .parquet(s"$out/files")
        // runtime pin: merged schema must conform to the evolved contract
        SchemaCheck.assertMatchesContract[NationEvolved](merged)
        merged.select("n_nationkey", "n_name", "n_regionkey")
      }
    ),
    // O4 — pinned transform: projection declared as a narrower contract.
    QueryDef(
      "o4_pinned_transform",
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer"),
      (spark, sf) => {
        val out = tmpDir("o4")
        PipelineBuilder[Nothing]("o4")
          .addSource(TypedSource[CustomerRow]("parquet", s"$sf/customer.parquet"))
          .transformAs[CustomerSlim]("project")(_.select("c_custkey", "c_name", "c_acctbal"))
          .addSink[CustomerSlim, SchemaPolicy.ExactT](TypedSink[CustomerSlim](s"$out/c"))
          .build(implicitly)(spark)
      }
    ),
    // O5 — noTransform pass-through keeps the source contract.
    QueryDef(
      "o5_no_transform",
      Some("SELECT r_regionkey, r_name FROM region"),
      (spark, sf) => {
        val out = tmpDir("o5")
        PipelineBuilder[Nothing]("o5")
          .addSource(TypedSource[RegionRow]("parquet", s"$sf/region.parquet"))
          .noTransform
          .addSink[RegionRow, SchemaPolicy.ExactT](TypedSink[RegionRow](s"$out/r"))
          .build(implicitly)(spark)
      }
    ),
    // O6 — sink attach + construction-time fuse under Backward: the sink
    // contract's extra optional field is allowed to be absent.
    QueryDef(
      "o6_policy_sink_roundtrip",
      Some("SELECT s_suppkey, s_name, s_acctbal FROM supplier"),
      (spark, sf) => {
        val out = tmpDir("o6")
        val run = PipelineBuilder[Nothing]("o6")
          .addSource(TypedSource[SupplierRow]("parquet", s"$sf/supplier.parquet"))
          .transformAs[SupplierSlim]("project")(_.select("s_suppkey", "s_name", "s_acctbal"))
          .addSink[SupplierSlimPlus, SchemaPolicy.BackwardT](TypedSink[SupplierSlimPlus](s"$out/s"))
          .build
        run(spark)
        spark.read.parquet(s"$out/s")
      }
    ),
    // O7 — pipeline assembly: multi-step fold source→transform→sink.
    QueryDef(
      "o7_pipeline_build",
      Some("SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size > 25"),
      (spark, sf) => {
        val out = tmpDir("o7")
        PipelineBuilder[Nothing]("o7")
          .addSource(TypedSource[PartRow]("parquet", s"$sf/part.parquet"))
          .transformAs[PartTyped]("filter+project")(
            _.filter(col("p_size") > 25).select("p_partkey", "p_brand", "p_retailprice")
          )
          .addSink[PartTyped, SchemaPolicy.ExactT](TypedSink[PartTyped](s"$out/p"))
          .build(implicitly)(spark)
      }
    ),
    // O8 — default pin on an inferred-schema read (unordered CI, nullability
    // ignored, nested optionality compared).
    QueryDef(
      "o8_default_pin",
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders"),
      (spark, sf) => {
        val df = table(spark, sf, "orders")
        SchemaCheck.assertMatchesContract[OrdersRow](df)
        df.select("o_orderkey", "o_custkey", "o_totalprice")
      }
    ),
    // O9 — policy-aware pin: Backward accepts producer extras.
    QueryDef(
      "o9_policy_pin",
      Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 25"),
      (spark, sf) => {
        val df = table(spark, sf, "lineitem")
        SchemaCheck.assertMatchesContract[LineitemKeys, SchemaPolicy.BackwardT](df)
        df.filter(col("l_quantity") >= 25).select("l_orderkey", "l_linenumber", "l_quantity")
      }
    ),
    // O10 — unordered comparator: select order ≠ contract declaration order.
    QueryDef(
      "o10_unordered",
      Some("SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size <= 25"),
      (spark, sf) => {
        val out = tmpDir("o10")
        PipelineBuilder[Nothing]("o10")
          .addSource(TypedSource[PartRow]("parquet", s"$sf/part.parquet"))
          .transformAs[PartReordered]("reordered projection")(
            _.filter(col("p_size") <= 25).select("p_partkey", "p_brand", "p_retailprice")
          )
          .addSink[PartReordered, SchemaPolicy.ExactT](TypedSink[PartReordered](s"$out/p"))
          .build(implicitly)(spark)
      }
    ),
    // O11 — ordered comparator at the sink.
    QueryDef(
      "o11_ordered",
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 3"),
      (spark, sf) => {
        val out = tmpDir("o11")
        PipelineBuilder[Nothing]("o11")
          .addSource(TypedSource[NationRow]("parquet", s"$sf/nation.parquet"))
          .transformAs[NationRow]("filter")(_.filter(col("n_regionkey") < 3))
          .addSink[NationRow, SchemaPolicy.ExactOrderedT](TypedSink[NationRow](s"$out/n"))
          .build(implicitly)(spark)
      }
    ),
    // O12 — by-position comparator: names differ, types line up.
    QueryDef(
      "o12_by_position",
      Some("SELECT n_nationkey AS id, n_name AS name, n_regionkey AS region FROM nation"),
      (spark, sf) => {
        val out = tmpDir("o12")
        PipelineBuilder[Nothing]("o12")
          .addSource(TypedSource[NationRow]("parquet", s"$sf/nation.parquet"))
          .transformAs[NationRenamed]("rename")(
            _.select(
              col("n_nationkey").as("id"),
              col("n_name").as("name"),
              col("n_regionkey").as("region")
            )
          )
          .addSink[NationPos, SchemaPolicy.ExactByPositionT](TypedSink[NationPos](s"$out/n"))
          .build(implicitly)(spark)
      }
    ),
    // O13 — Backward comparator: full producer vs narrower contract.
    QueryDef(
      "o13_backward",
      Some("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_acctbal > 0"),
      (spark, sf) => {
        val df = table(spark, sf, "customer")
        SchemaCheck.assertMatchesContract[CustomerSlim, SchemaPolicy.BackwardT](df)
        df.filter(col("c_acctbal") > 0)
      }
    ),
    // O14 — Forward comparator: producer subset of the contract.
    QueryDef(
      "o14_forward",
      Some("SELECT event_id, user_id, event_type FROM events"),
      (spark, sf) => {
        val df = table(spark, sf, "events").select("event_id", "user_id", "event_type")
        SchemaCheck.assertMatchesContract[EventRow, SchemaPolicy.ForwardT](df)
        df
      }
    ),
    // O15 — deep DataType equality: the pin compares the nested
    // ArrayType(..., containsNull) produced by split() against the contract.
    QueryDef(
      "o15_deep_equality",
      Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents"),
      (spark, sf) => {
        val docs = table(spark, sf, "documents")
        val nested = docs.select(col("doc_id"), split(col("text"), " ").as("tokens"))
        SchemaCheck.assertMatchesContract[DocTokens](nested)
        nested.select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"))
      }
    ),
    // O16 — duplicate-name detector over a deliberately duplicated schema.
    // Independent oracle (round 7): the INPUT field names ride as literals
    // and DuckDB recomputes the clustering itself (case-fold, group,
    // sort-join) — the diff engine's output is recomputed, not echoed.
    QueryDef(
      "o16_duplicate_names",
      Some(
        """WITH f(name) AS (VALUES ('id'), ('ID'))
          |SELECT string_agg(name, ',' ORDER BY name) AS dup_cluster
          |FROM f GROUP BY lower(name) HAVING count(*) > 1""".stripMargin
      ),
      (spark, sf) => {
        val df = table(spark, sf, "customer")
          .select(col("c_custkey").as("id"), col("c_nationkey").as("ID"))
        val clusters = RuntimeSchemaComparator.duplicateNames(df.schema, caseInsensitive = true)
        spark.createDataFrame(clusters.map(c => DupRow(c.mkString(","))))
      }
    ),
    // O17 — shape extraction: full leaf table + container shapes (§1.2).
    // Independent oracle (round 11, closing the round-2 standing caveat):
    // the expected (field, Spark type) pairs are HAND-DERIVED from the
    // public Scala->Catalyst encoder mapping (Spark's ScalaReflection
    // rules: Int->int, Long->bigint, BigDecimal->decimal(38,18),
    // LocalDateTime->timestamp_ntz, Option[T]->T nullable, Seq->array,
    // Map->map, case class->struct) and written as literals — the oracle
    // states the spec; nothing echoes ShapeOf's output.
    QueryDef(
      "o17_shape_extraction",
      Some(
        """SELECT * FROM (VALUES
          |  ('s', 'string'),
          |  ('i', 'int'),
          |  ('l', 'bigint'),
          |  ('sh', 'smallint'),
          |  ('by', 'tinyint'),
          |  ('d', 'double'),
          |  ('f', 'float'),
          |  ('b', 'boolean'),
          |  ('dec', 'decimal(38,18)'),
          |  ('dt', 'date'),
          |  ('ts', 'timestamp'),
          |  ('ldt', 'timestamp_ntz'),
          |  ('opt', 'int'),
          |  ('tags', 'array<string>'),
          |  ('attrs', 'map<string,bigint>'),
          |  ('nested', 'struct<x:int,y:string>')) t(field_name, spark_type)""".stripMargin
      ),
      (spark, _) => {
        val rows = ShapeOf[AllTypes].struct.fields.toSeq.map(f => ShapeRow(f.name, f.dataType.simpleString))
        spark.createDataFrame(rows)
      }
    ),
    // O18 — by-name structural diff with deep container paths.
    // Independent oracle (round 7): both schemas ride as hand-flattened
    // (path, leaf-type) literal tables — DocOut/DocIn spelled out in the
    // diff engine's path grammar — and DuckDB computes the diff itself
    // with outer joins (missing = expected-only, extra = found-only,
    // mismatch = shared path with different leaf type). A hash match now
    // certifies the diff SEMANTICS against a second implementation, not
    // merely the engine's own output replayed.
    QueryDef(
      "o18_diff_by_name",
      Some(
        """WITH exp(path, dtype) AS (VALUES
          |  ('doc', 'string'),
          |  ('items[].id', 'bigint'),
          |  ('items[].payload<key>', 'string'),
          |  ('items[].payload<value>.code', 'string'),
          |  ('items[].payload<value>.level', 'int'),
          |  ('owner', 'string')),
          |fnd(path, dtype) AS (VALUES
          |  ('doc', 'string'),
          |  ('items[].id', 'bigint'),
          |  ('items[].payload<key>', 'string'),
          |  ('items[].payload<value>.code', 'int'),
          |  ('items[].payload<value>.note', 'string'))
          |SELECT 'missing' AS kind, e.path AS path, e.dtype AS detail
          |FROM exp e LEFT JOIN fnd f ON f.path = e.path WHERE f.path IS NULL
          |UNION ALL
          |SELECT 'extra', f.path, regexp_extract(f.path, '([^.<>]+)$', 1)
          |FROM fnd f LEFT JOIN exp e ON e.path = f.path WHERE e.path IS NULL
          |UNION ALL
          |SELECT 'mismatch', e.path, concat('expected ', e.dtype, ', found ', f.dtype)
          |FROM exp e JOIN fnd f ON f.path = e.path WHERE e.dtype <> f.dtype""".stripMargin
      ),
      (spark, _) => spark.createDataFrame(diffRows(SchemaConforms.diff[DocOut, DocIn, SchemaPolicy.ExactT]))
    ),
    // O19 — ordered structural diff: @i(name) paths. Independent oracle:
    // positional literal tables; DuckDB pairs fields BY POSITION and
    // reports name drift at `.@i(name)` plus leaf-type drift at the
    // expected field's name — the ordered-policy semantics recomputed.
    QueryDef(
      "o19_diff_ordered",
      Some(
        """WITH exp(pos, name, dtype) AS (VALUES (0, 'a', 'int'), (1, 'c', 'double'), (2, 'b', 'string')),
          |fnd(pos, name, dtype) AS (VALUES (0, 'a', 'int'), (1, 'b', 'string'), (2, 'c', 'double'))
          |SELECT 'mismatch' AS kind, concat('.@', e.pos, '(name)') AS path,
          |       concat('expected ', e.name, ', found ', f.name) AS detail
          |FROM exp e JOIN fnd f ON f.pos = e.pos WHERE e.name <> f.name
          |UNION ALL
          |SELECT 'mismatch', e.name, concat('expected ', e.dtype, ', found ', f.dtype)
          |FROM exp e JOIN fnd f ON f.pos = e.pos WHERE e.dtype <> f.dtype""".stripMargin
      ),
      (spark, _) => spark.createDataFrame(diffRows(SchemaConforms.diff[POut, PIn, SchemaPolicy.ExactOrderedT]))
    ),
    // O20 — by-position structural diff: @i paths, names ignored.
    // Independent oracle: type-only positional compare in SQL.
    QueryDef(
      "o20_diff_by_position",
      Some(
        """WITH exp(pos, dtype) AS (VALUES (0, 'int'), (1, 'int')),
          |fnd(pos, dtype) AS (VALUES (0, 'int'), (1, 'string'))
          |SELECT 'mismatch' AS kind, concat('.@', e.pos) AS path,
          |       concat('expected ', e.dtype, ', found ', f.dtype) AS detail
          |FROM exp e JOIN fnd f ON f.pos = e.pos WHERE e.dtype <> f.dtype""".stripMargin
      ),
      (spark, _) => spark.createDataFrame(diffRows(SchemaConforms.diff[PosOut, PosIn, SchemaPolicy.ExactByPositionT]))
    ),
    // O21 — policy post-filter: the same drifting pair is fatal under Exact
    // and conformant under Backward (optional/default Missing + Extra dropped).
    // Independent oracle: the schemas ride as literals with a `relaxed`
    // flag (optional-or-default), and DuckDB recomputes BOTH policies —
    // Exact reports every divergence, Backward drops relaxed missing +
    // all extra, and the conforms verdict is derived from the Backward
    // violation count, not echoed.
    QueryDef(
      "o21_policy_filter",
      Some(
        """WITH exp(name, dtype, relaxed) AS (VALUES
          |  ('req', 'string', false), ('opt', 'int', true), ('dflt', 'int', true)),
          |fnd(name, dtype) AS (VALUES ('req', 'string'), ('extraCol', 'int')),
          |bviol AS (
          |  SELECT 'missing' AS kind, e.name AS path, e.dtype AS detail
          |  FROM exp e LEFT JOIN fnd f ON f.name = e.name
          |  WHERE f.name IS NULL AND NOT e.relaxed
          |  UNION ALL
          |  SELECT 'mismatch', e.name, concat('expected ', e.dtype, ', found ', f.dtype)
          |  FROM exp e JOIN fnd f ON f.name = e.name WHERE e.dtype <> f.dtype)
          |SELECT 'Exact:missing' AS kind, e.name AS path, e.dtype AS detail
          |FROM exp e LEFT JOIN fnd f ON f.name = e.name WHERE f.name IS NULL
          |UNION ALL
          |SELECT 'Exact:extra', f.name, f.name
          |FROM fnd f LEFT JOIN exp e ON e.name = f.name WHERE e.name IS NULL
          |UNION ALL
          |SELECT 'Exact:mismatch', e.name, concat('expected ', e.dtype, ', found ', f.dtype)
          |FROM exp e JOIN fnd f ON f.name = e.name WHERE e.dtype <> f.dtype
          |UNION ALL
          |SELECT concat('Backward:', kind), path, detail FROM bviol
          |UNION ALL
          |SELECT 'Backward:conforms', CAST((SELECT count(*) FROM bviol) = 0 AS VARCHAR), ''""".stripMargin
      ),
      (spark, _) => {
        val exact = diffRows(SchemaConforms.diff[BOut, BIn, SchemaPolicy.ExactT])
          .map(r => DiffRow(s"Exact:${r.kind}", r.path, r.detail))
        val backward = diffRows(SchemaConforms.diff[BOut, BIn, SchemaPolicy.BackwardT])
          .map(r => DiffRow(s"Backward:${r.kind}", r.path, r.detail))
        val verdict = DiffRow("Backward:conforms", SchemaConforms.diff[BOut, BIn, SchemaPolicy.BackwardT].conforms.toString, "")
        spark.createDataFrame(exact ++ backward :+ verdict)
      }
    ),
    // O22 — drift report renderer. Independent oracle (round 11, closing
    // the round-2 standing caveat): the two schemas ride as literal
    // (depth, field-index, path, leaf-type, flags) tables and DuckDB
    // recomputes the diff AND renders the report lines itself —
    // missing/extra/mismatch membership from outer joins (as o18), list
    // order from (depth, index) which is exactly SchemaCompare's walk
    // (its by-name step records a level's findings before recursing), and
    // the line format (':'/','/';' separators, (optional)/(default)
    // suffixes, header lines) reassembled in SQL. Nothing in the oracle
    // echoes the Scala renderer's output.
    QueryDef(
      "o22_drift_report",
      Some(
        """WITH exp(lvl, idx, path, dtype, suffix) AS (VALUES
          |  (0, 0, 'doc', 'string', ''),
          |  (1, 0, 'items[].id', 'bigint', ''),
          |  (2, 0, 'items[].payload<key>', 'string', ''),
          |  (3, 0, 'items[].payload<value>.code', 'string', ''),
          |  (3, 1, 'items[].payload<value>.level', 'int', ' (optional) (default)'),
          |  (0, 2, 'owner', 'string', '')),
          |fnd(lvl, idx, path, dtype) AS (VALUES
          |  (0, 0, 'doc', 'string'),
          |  (1, 0, 'items[].id', 'bigint'),
          |  (2, 0, 'items[].payload<key>', 'string'),
          |  (3, 0, 'items[].payload<value>.code', 'int'),
          |  (3, 1, 'items[].payload<value>.note', 'string')),
          |miss AS (SELECT e.lvl, e.idx, concat(e.path, ' : ', e.dtype, e.suffix) AS s
          |         FROM exp e LEFT JOIN fnd f ON f.path = e.path WHERE f.path IS NULL),
          |ext AS (SELECT f.lvl, f.idx, f.path AS s FROM fnd f LEFT JOIN exp e ON e.path = f.path WHERE e.path IS NULL),
          |mis AS (SELECT e.lvl, e.idx, concat(e.path, ' expected ', e.dtype, ', found ', f.dtype) AS s
          |        FROM exp e JOIN fnd f ON f.path = e.path WHERE e.dtype <> f.dtype)
          |SELECT CAST(line_no AS INTEGER) AS line_no, line FROM (VALUES
          |  (0, 'Contract drift (policy: Exact).'),
          |  (1, 'Out: producer vs Contract: contract'),
          |  (2, concat('Missing attributes: ', coalesce((SELECT string_agg(s, ', ' ORDER BY lvl, idx) FROM miss), ''))),
          |  (3, concat('Extra attributes: ', coalesce((SELECT string_agg(s, ', ' ORDER BY lvl, idx) FROM ext), ''))),
          |  (4, concat('Mismatch attributes: ', coalesce((SELECT string_agg(s, '; ' ORDER BY lvl, idx) FROM mis), '')))) t(line_no, line)""".stripMargin
      ),
      (spark, _) => {
        val lines = SchemaConforms.diff[DocOut, DocIn, SchemaPolicy.ExactT]
          .render("producer", "contract").linesIterator.toSeq
        spark.createDataFrame(lines.zipWithIndex.map { case (l, i) => LineRow(i, l) })
      }
    ),
    // OREF — the reference's ENTIRE conformance matrix (all 20 tests of
    // its SchemaConformsSpec.scala, fixtures transcribed 1:1 above)
    // replayed through the runtime diff engine. The oracle is a pure
    // hand-authored VALUES table stating the reference's expected verdict
    // and violation paths per test — each row group carries a comment
    // naming the reference test it encodes, and NOTHING in the oracle is
    // produced by our diff code. This upgrades the o16–o22 gate from
    // "diff output is stable" to "diff semantics independently match the
    // reference's published conformance matrix".
    QueryDef(
      "oref_conformance_matrix",
      Some(refMatrixOracle),
      (spark, _) => {
        def rows[O, C](id: String, p: SchemaPolicy)(implicit o: ShapeOf[O], c: ShapeOf[C]): Seq[MatrixRow] = {
          val r = SchemaCompare.diff(o.struct, c.struct, p)
          MatrixRow(id, "conforms", r.conforms.toString, "") +:
            diffRows(r).map(d => MatrixRow(id, d.kind, d.path, d.detail))
        }
        // The reference rejects these at compile time with a snippet-bearing
        // error (assertTypeFails); our Scala-2 engine rejects at derivation
        // time with UnsupportedContractType — detail records whether the
        // reference's asserted snippet appears in our message.
        def rejects(id: String, label: String, snippet: String)(f: => Any): Seq[MatrixRow] =
          try { f; Seq(MatrixRow(id, "rejects", label, "NOT-REJECTED")) }
          catch {
            case e: UnsupportedContractType =>
              Seq(MatrixRow(id, "rejects", label, e.getMessage.contains(snippet).toString))
          }
        val out: Seq[MatrixRow] =
          rows[Ref01Producer, Ref01Contract]("ref01_exact_unordered_ci", SchemaPolicy.Exact) ++
            rows[Ref02Producer, Ref02Contract]("ref02_exact_option_field", SchemaPolicy.Exact) ++
            rows[Ref03Producer, Ref03Contract]("ref03_backward_relaxed", SchemaPolicy.Backward) ++
            rows[Ref04Producer, Ref04Contract]("ref04_backward_nested", SchemaPolicy.Backward) ++
            rows[Ref05Row, Ref05Row]("ref05_exact_nested_opt_ok", SchemaPolicy.Exact) ++
            rows[Ref06Producer, Ref06Contract]("ref06_forward_subset", SchemaPolicy.Forward) ++
            rows[Ref07Producer, Ref07Contract]("ref07_ordered_reorder", SchemaPolicy.ExactOrdered) ++
            rows[Ref08Producer, Ref07Contract]("ref08_ordered_ci_reorder", SchemaPolicy.ExactOrderedCI) ++
            rows[Ref07Producer, Ref07Contract]("ref09_by_position_reorder", SchemaPolicy.ExactByPosition) ++
            rows[Ref10Producer, Ref07Contract]("ref10_backward_missing_required", SchemaPolicy.Backward) ++
            rejects("ref11_rejects_uuid", "java.util.UUID", "java.util.UUID")(ShapeOf[Ref11Row].struct) ++
            rejects("ref12_rejects_trait", "Ref12Contract", "Ref12Contract")(ShapeOf[Ref12Contract].struct) ++
            rejects("ref13_rejects_tuple", "(Int, String)", "Unsupported structural leaf type")(
              ShapeOf[Ref13Row].struct
            ) ++
            rows[Ref14Producer, Ref14Contract]("ref14_nested_mismatch_paths", SchemaPolicy.Exact) ++
            rows[Ref15Producer, Ref15Contract]("ref15_seq_optionality_drift", SchemaPolicy.Exact) ++
            rows[Ref16Producer, Ref16Contract]("ref16_map_optionality_drift", SchemaPolicy.Exact) ++
            rows[Ref17Producer, Ref07Contract]("ref17_unordered_ci_type_drift", SchemaPolicy.ExactUnorderedCI) ++
            rows[Ref18Producer, Ref18Contract]("ref18_full_unrelated", SchemaPolicy.Full) ++
            rows[Ref19Producer, Ref19Contract]("ref19_deep_nested_ok", SchemaPolicy.Exact) ++
            rows[Ref20Producer, Ref19Contract]("ref20_deep_nested_mismatch", SchemaPolicy.Exact)
        spark.createDataFrame(out)
      }
    ),
    // Strict leaf-identity mode (round 17, closing SURVEY §7.4's one
    // closable divergence): the default comparators use Spark-schema leaf
    // identity — java.sql.Date and java.time.LocalDate both lower to
    // DateType, so the DATA PLANE cannot tell them apart and a swap
    // conforms. The reference's construction check compares SCALA types
    // and rejects it (ContractsCore.scala:158-173). checkStrict compares
    // ShapeOf.strictShape (legacy java.* twins tagged distinct), type-vs-
    // type only. Each twin pair is asserted BOTH ways: default conforms
    // (the data plane genuinely can't distinguish) and strict rejects;
    // identical strict types still conform, and the strict walk reaches
    // leaves through containers.
    QueryDef(
      "oref_strict_leaf",
      Some(strictLeafOracle),
      (spark, _) => {
        import scala.reflect.runtime.{universe => ru}
        def pair[O, C](id: String)(implicit
            ot: ru.WeakTypeTag[O],
            ct: ru.WeakTypeTag[C],
            os: ShapeOf[O],
            cs: ShapeOf[C]
        ): Seq[MatrixRow] = Seq(
          MatrixRow(
            id,
            "default_conforms",
            SchemaCompare.diff(os.struct, cs.struct, SchemaPolicy.Exact).conforms.toString,
            ""
          ),
          MatrixRow(
            id,
            "strict_conforms",
            SchemaConforms.diffStrict[O, C, SchemaPolicy.Exact.type].conforms.toString,
            ""
          )
        )
        val out: Seq[MatrixRow] =
          pair[StrictDateProducer, StrictDateContract]("strict01_date_swap") ++
            pair[StrictDateContract, StrictDateProducer]("strict02_date_swap_reversed") ++
            pair[StrictTsProducer, StrictTsContract]("strict03_timestamp_swap") ++
            pair[StrictDecProducer, StrictDecContract]("strict04_bigdecimal_swap") ++
            pair[StrictNestedProducer, StrictNestedContract]("strict05_nested_date_swap") ++
            pair[StrictDateProducer, StrictDateProducer]("strict06_identical_java_date")
        spark.createDataFrame(out)
      }
    )
  )

  /** Expected strict-vs-default matrix: every twin swap conforms by
    * default (same Spark type on the data plane) and is rejected by
    * strict; identical types conform under both.
    */
  private val strictLeafOracle: String =
    """SELECT * FROM (VALUES
      |  ('strict01_date_swap', 'default_conforms', 'true', ''),
      |  ('strict01_date_swap', 'strict_conforms', 'false', ''),
      |  ('strict02_date_swap_reversed', 'default_conforms', 'true', ''),
      |  ('strict02_date_swap_reversed', 'strict_conforms', 'false', ''),
      |  ('strict03_timestamp_swap', 'default_conforms', 'true', ''),
      |  ('strict03_timestamp_swap', 'strict_conforms', 'false', ''),
      |  ('strict04_bigdecimal_swap', 'default_conforms', 'true', ''),
      |  ('strict04_bigdecimal_swap', 'strict_conforms', 'false', ''),
      |  ('strict05_nested_date_swap', 'default_conforms', 'true', ''),
      |  ('strict05_nested_date_swap', 'strict_conforms', 'false', ''),
      |  ('strict06_identical_java_date', 'default_conforms', 'true', ''),
      |  ('strict06_identical_java_date', 'strict_conforms', 'true', '')
      |) t(test_id, kind, path, detail)""".stripMargin

  /** Hand-authored from the reference spec's stated expectations — one
    * comment per reference test. Paths/details follow OUR documented diff
    * grammar (SchemaCompare scaladoc): `.@i(name)` ordered-name drift,
    * `.@i` positional drift, `[]`/`<key>`/`<value>` container hops,
    * `expected X, found Y` leaf drift, `optional X` nested-nullability
    * rendering.
    */
  private val refMatrixOracle: String =
    """SELECT * FROM (VALUES
      |  -- "Exact accepts unordered case-insensitive field names and ignores nullability" (:33)
      |  ('ref01_exact_unordered_ci', 'conforms', 'true', ''),
      |  -- "Exact treats field-level Option and non-Option as structurally equal" (:47)
      |  ('ref02_exact_option_field', 'conforms', 'true', ''),
      |  -- "Backward accepts extra producer fields and missing optional/default contract fields" (:61)
      |  ('ref03_backward_relaxed', 'conforms', 'true', ''),
      |  -- "Backward accepts nested collections and maps under the same structural shape" (:75)
      |  ('ref04_backward_nested', 'conforms', 'true', ''),
      |  -- "Exact preserves nested optionality inside sequences" (:90)
      |  ('ref05_exact_nested_opt_ok', 'conforms', 'true', ''),
      |  -- "Forward accepts a producer subset of the contract schema" (:104)
      |  ('ref06_forward_subset', 'conforms', 'true', ''),
      |  -- "ExactOrdered rejects reordered fields with an indexed path in the error" (:118)
      |  ('ref07_ordered_reorder', 'conforms', 'false', ''),
      |  ('ref07_ordered_reorder', 'mismatch', '.@0(name)', 'expected id, found email'),
      |  ('ref07_ordered_reorder', 'mismatch', 'id', 'expected bigint, found string'),
      |  ('ref07_ordered_reorder', 'mismatch', '.@1(name)', 'expected email, found id'),
      |  ('ref07_ordered_reorder', 'mismatch', 'email', 'expected string, found bigint'),
      |  -- "ExactOrderedCI rejects reordered fields even when names only drift by case" (:134)
      |  ('ref08_ordered_ci_reorder', 'conforms', 'false', ''),
      |  ('ref08_ordered_ci_reorder', 'mismatch', '.@0(name)', 'expected id, found EMAIL'),
      |  ('ref08_ordered_ci_reorder', 'mismatch', 'id', 'expected bigint, found string'),
      |  ('ref08_ordered_ci_reorder', 'mismatch', '.@1(name)', 'expected email, found ID'),
      |  ('ref08_ordered_ci_reorder', 'mismatch', 'email', 'expected string, found bigint'),
      |  -- "ExactByPosition rejects reordered positions even when field names still exist" (:150)
      |  ('ref09_by_position_reorder', 'conforms', 'false', ''),
      |  ('ref09_by_position_reorder', 'mismatch', '.@0', 'expected bigint, found string'),
      |  ('ref09_by_position_reorder', 'mismatch', '.@1', 'expected string, found bigint'),
      |  -- "Backward rejects missing required fields with a readable field path" (:166)
      |  ('ref10_backward_missing_required', 'conforms', 'false', ''),
      |  ('ref10_backward_missing_required', 'missing', 'email', 'string'),
      |  -- "[A3/D12] SchemaConforms rejects unsupported leaf types" (:181)
      |  ('ref11_rejects_uuid', 'rejects', 'java.util.UUID', 'true'),
      |  -- "[A3/D2] SchemaConforms rejects unsupported non-case-class contracts cleanly" (:198)
      |  ('ref12_rejects_trait', 'rejects', 'Ref12Contract', 'true'),
      |  -- "[A3/D4] SchemaConforms rejects tuple leaves explicitly" (:214)
      |  ('ref13_rejects_tuple', 'rejects', '(Int, String)', 'true'),
      |  -- "Exact surfaces nested mismatch paths for deep structural failures" (:229)
      |  ('ref14_nested_mismatch_paths', 'conforms', 'false', ''),
      |  ('ref14_nested_mismatch_paths', 'mismatch', 'shipTo.zip', 'expected string, found int'),
      |  ('ref14_nested_mismatch_paths', 'mismatch', 'tags[]', 'expected string, found int'),
      |  -- "Exact rejects nested optionality drift in sequences" (:247)
      |  ('ref15_seq_optionality_drift', 'conforms', 'false', ''),
      |  ('ref15_seq_optionality_drift', 'mismatch', 'values[]', 'expected int, found optional int'),
      |  -- "Exact rejects nested optionality drift in map values" (:263)
      |  ('ref16_map_optionality_drift', 'conforms', 'false', ''),
      |  ('ref16_map_optionality_drift', 'mismatch', 'values<value>', 'expected int, found optional int'),
      |  -- "ExactUnorderedCI rejects structural type drift" (:279)
      |  ('ref17_unordered_ci_type_drift', 'conforms', 'false', ''),
      |  ('ref17_unordered_ci_type_drift', 'mismatch', 'email', 'expected string, found int'),
      |  -- "Full accepts unrelated producer and contract shapes at compile time" (:295)
      |  ('ref18_full_unrelated', 'conforms', 'true', ''),
      |  -- "Exact handles deep nesting when the structural shape matches" (:309)
      |  ('ref19_deep_nested_ok', 'conforms', 'true', ''),
      |  -- "Exact surfaces deep nested mismatch paths beyond two levels" (:325)
      |  ('ref20_deep_nested_mismatch', 'conforms', 'false', ''),
      |  ('ref20_deep_nested_mismatch', 'mismatch', 'items[].payload<value>.code', 'expected int, found string')
      |) t(test_id, kind, path, detail)""".stripMargin
}
