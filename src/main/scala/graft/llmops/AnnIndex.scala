package graft.llmops

import graft.contracts.{ContractViolation, SchemaCompare, SchemaPolicy}
import graft.functions.NativeMath
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Persisted IVF-PQ index lifecycle — the one IVF-PQ path: fit ONCE
  * over the corpus, write the index tables to storage, `load` in any
  * later session (batch or the scoring side of a stream), and `probe`
  * arbitrary query batches without ever re-reading corpus vectors.
  * [[Similarity.ivfPqTopK]] is [[fitIvfPq]] followed by [[probeIvfPq]]
  * with the corpus as the query batch; because parquet round-trips the
  * fit bit-exact, a save → load → probe round-trip over the same corpus
  * returns the same (qid, nid, rank) rows — spec- and oracle-gated.
  *
  * On-disk layout under `dir` (format v5):
  *   - `meta/`       one row: (version, dim, cells, pq_m, pq_ks, seed)
  *   - `centroids/`  coarse k-means centroids (`__cid`, `__cv`) — cells rows
  *   - `codebooks/`  PQ codewords (`__m`, `__cid`, `__cv`) — ≤ m·ks rows
  *   - `occupancy/`  fit-time per-cell code counts (the [[staleness]] anchor)
  *     These four are the ORIGINAL fit's layers; a generation written by
  *     [[refit]] (or a round-17 [[save]] over an existing index) carries
  *     its own copies INSIDE the generation directory, and readers
  *     resolve the current generation's when present ([[fitRoot]]) — the
  *     root's data is never mutated after the first [[save]] (the one
  *     exception is the version FIELD of the root `meta/` row, bumped as
  *     a tombstone so pre-v5 binaries fail loudly instead of pairing the
  *     stale root fit with a newer generation's codes), so a reader
  *     pinned to any generation keeps a consistent (fit, codes) pair.
  *   - `codes_v<N>/` VERSIONED corpus index generations. Exactly one is
  *     current: the highest N carrying BOTH the parquet job's root
  *     `_SUCCESS` and an `_ABSORBED_<hwm>` marker (written last — the
  *     generation's commit record, which doubles as the [[append]]
  *     high-water mark a post-compact replay no-ops against). Each
  *     generation holds index rows
  *     (`__nid`, `__codes`) laid out as
  *     `__batch=<id>/__cid=<cell>/part-*.parquet`:
  *       - `__batch` — the ingest generation: −1 for the rows written by
  *         [[save]] (and for everything [[compact]] rewrites), the
  *         caller's batch id for every [[append]]. The level exists so a
  *         REPLAYED append (at-least-once streaming delivery) overwrites
  *         its own directory instead of double-inserting — see [[append]].
  *       - `__cid` — m small ints per vector (m bytes at ks ≤ 256): the
  *         ~30× compression vs float32 that makes a 100 TB corpus a ~3 TB
  *         index, partition-laid-out so a probe of `nprobe` cells prunes
  *         to `nprobe/cells` of the index files. A small online query
  *         batch is served by [[probeIvfPqPruned]]: its cells are ranked
  *         on the driver, the codes scan filters `__cid IN (...)` for
  *         static partition pruning and keeps a bounded shortlist per
  *         query in one job, and the rerank fetches the shortlisted
  *         vectors by id in a second; the registered batch query keeps
  *         the join form ([[probeIvfPq]]: dynamic pruning / AQE
  *         territory) because its query side is corpus-sized.
  *
  * Version discipline: readers [[load]] the current generation, read
  * its fit on the driver and hold lazy codes scans of THAT directory
  * only; [[compact]] writes a NEW generation and never mutates or
  * unlinks the one open readers hold (crash-safe by construction: an
  * incomplete generation has no `_SUCCESS` and is never selected). [[vacuum]] reclaims superseded generations, retaining a
  * configurable serving window of recent ones for long-held readers.
  * [[delete]] is the one in-place mutation (it rewrites only
  * the touched `(__batch, __cid)` partitions of the current generation);
  * run it quiesced or re-[[load]] readers after — same contract as any
  * non-transactional parquet rewrite. All five mutation ops ([[save]],
  * [[compact]], [[refit]], [[delete]], [[vacuum]]) enforce the
  * single-maintainer contract with an advisory lease (round 17 — see the
  * lease notes below): a second concurrent maintainer fails loudly
  * before writing anything.
  *
  * Everything persisted is engine-portable parquet: doubles round-trip
  * bit-exact, so a loaded index probes identically to the in-memory fit.
  */
object AnnIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A fitted (or loaded) IVF-PQ index. `centroids` and `codebooks` are
    * local relations held on the driver — the fit's outputs after
    * [[fitIvfPq]], snapshots read at load time after [[load]]; `codes` is
    * lazy — after [[load]] a contract-pinned parquet scan of the
    * generation that was current at load time. `fit` is the same fit in
    * the forms the kernels read ([[Similarity.FitTables]]): every encode
    * and probe of the handle reads it from there, so none of them plans a
    * centroid or codebook scan or aggregate. It is filled when the handle
    * is made, not on first use, so a loaded handle's first probe needs no
    * fit job.
    * It is derived from `centroids` and `codebooks`; a `copy` keeps it,
    * so a copy must not replace those two.
    *
    * `generation` (round 18) is the `codes_v<N>` number this handle is
    * pinned to when it came from [[load]], and [[UnsavedGeneration]] (−1)
    * for an in-memory fit that was never loaded from disk. It exists so
    * an OPERATOR can answer "is anything still serving codes_vN?" with
    * evidence before an aggressive `vacuum(keepGenerations = K)`: the
    * vacuum keeps only the last K+1 entries of [[retainedGenerations]],
    * so it is safe iff every live handle's `generation` is in that
    * SUFFIX (for K = 0: every handle equals the current, last entry —
    * mere membership in the pre-vacuum list proves nothing). The cheap
    * inspection point for the count-window-vs-long-reader gap
    * ([[vacuum]] retains N maintenance cycles, not "until my reader is
    * done").
    */
  final case class IvfPqIndex(
      dim: Int,
      cells: Int,
      pqM: Int,
      pqKs: Int,
      seed: Long,
      centroids: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      fit: Similarity.FitTables,
      generation: Int = UnsavedGeneration
  )

  /** [[IvfPqIndex.generation]] of a handle that did not come from
    * [[load]] — an in-memory fit is pinned to no on-disk generation.
    */
  val UnsavedGeneration: Int = -1

  /** v5 (round 16) makes the FIT layers generation-scoped so [[refit]]
    * can migrate the index to a fresh quantizer without mutating anything
    * a pinned reader holds: a generation written by [[refit]] carries its
    * own `meta/`, `centroids/`, `codebooks/`, and `occupancy/` subdirs,
    * and every reader resolves the fit layers from the CURRENT generation
    * when present, falling back to the index root (the original [[save]]'s
    * fit) otherwise; [[compact]] carries per-generation fit layers forward
    * into the generation it writes. v4 (round 15) added two commit
    * refinements to the v3 generation layout: (a) a generation is
    * committed only when it carries BOTH the parquet job's root `_SUCCESS`
    * and an `_ABSORBED_<hwm>` high-water marker recording the largest
    * [[append]] batch id folded into its fit layer (−1 when none) —
    * [[append]] no-ops for batch ids at or below it, so a streaming replay
    * of a PRE-compact batch cannot double-insert into the post-compact
    * generation; (b) every reader resolves only COMMITTED `__batch` layers
    * (the fit layer rides the root `_SUCCESS`; an append layer must hold
    * its own `_SUCCESS`), so a crashed append's partial files are
    * invisible until the replay lands. v3 (round 14) replaced the single
    * mutable `codes/` directory with committed `codes_v<N>/` generations
    * carrying a `__batch` partition level — the layout that makes
    * [[append]] replay-idempotent and [[compact]] crash-safe. v2
    * (round 13) added `occupancy/`.
    *
    * Round 17 adds three BACKWARD-COMPATIBLE pieces (still v5 — every
    * v5 reader handles their absence): the `_MAINTAINER` lease files,
    * the optional `_absorbed_batches/` replay-fingerprint sidecar
    * ([[AbsorbedBatchesName]]), and the v4-root-meta tombstone
    * ([[tombstoneV4RootMeta]] — the version FIELD bump that makes
    * pre-v5 binaries fail loudly on an index whose current generation
    * carries its own fit layers).
    */
  private val FormatVersion = 5

  /** The `__batch` partition value for fit-time ([[save]]) and
    * [[compact]]-rewritten rows; [[append]] batch ids must be ≥ 0.
    */
  private[llmops] val FitBatchId = -1

  private def hadoopFs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------------
  // Table contracts. Every index table is read through a fixed schema,
  // checked against one data file's footer on the driver before any row
  // is read: a foreign or corrupt table fails at the read with a
  // ContractViolation naming it (never deep inside a probe), and no read
  // pays Spark's schema-inference job. Nullability is not part of a
  // contract (Spark reads every file column as nullable anyway). The
  // bounded-small fit tables are then read and written on the driver
  // ([[readRows]], [[writeRows]]); the codes stay a lazy Spark scan
  // ([[readCodes]]) and are written by Spark jobs ([[writeCodesLayer]]).
  // ------------------------------------------------------------------

  /** The fit tables' schemas under one format version. */
  private final case class FitContracts(meta: StructType, centroids: StructType, codebooks: StructType)

  private def fields(fs: (String, DataType)*): StructType = StructType(fs.map { case (n, t) => StructField(n, t) })

  private val Vector = ArrayType(DoubleType, containsNull = true)

  /** v4 and v5 write the same three tables with the same columns — v5
    * changed where the fit layers live ([[fitRoot]]), not what they hold.
    */
  private val FitContractsByVersion: Map[Int, FitContracts] = {
    val v5 = FitContracts(
      meta = fields(
        "version" -> IntegerType,
        "dim" -> IntegerType,
        "cells" -> IntegerType,
        "pq_m" -> IntegerType,
        "pq_ks" -> IntegerType,
        "seed" -> LongType
      ),
      centroids = fields("__cid" -> IntegerType, "__cv" -> Vector),
      codebooks = fields("__m" -> IntegerType, "__cid" -> IntegerType, "__cv" -> Vector)
    )
    Map(4 -> v5, 5 -> v5)
  }

  private val OccupancyContract = fields("__cid" -> IntegerType, "fit_n" -> LongType)

  /** The schemas [[writeRows]] records for `meta` and `occupancy`: those of
    * the frames Spark wrote them from before, a row of non-null knobs and a
    * count per (nullable) cell.
    */
  private val MetaWritten = StructType(FitContractsByVersion(FormatVersion).meta.map(_.copy(nullable = false)))
  private val OccupancyWritten = StructType(Seq(StructField("__cid", IntegerType), StructField("fit_n", LongType, nullable = false)))

  /** The codes layers' partition columns; their data columns are the
    * caller-typed `__nid` and `__codes` ([[codesDataContract]]).
    */
  private val BatchColumn = StructField("__batch", IntegerType)
  private val CellColumn = StructField("__cid", IntegerType)

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Spark's own skip rule for files and directories a parquet scan
    * ignores (`_SUCCESS`, `_temporary`, `.crc`; `__cid=3` is a partition).
    */
  private def isHidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The data files under `dir`, depth-first by name, listed lazily. */
  private def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir)
      .filterNot(st => isHidden(st.getPath.getName))
      .sortBy(_.getPath.getName)
      .iterator
      .flatMap(st => if (st.isDirectory) dataFiles(fs, st.getPath) else Iterator.single(st))

  /** The first data file under `dir` (depth-first, by name), if any. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] = dataFiles(fs, dir).nextOption()

  /** The footer of the listed parquet file `file`. Read from its status
    * with `conf`: no second stat, and no fresh Hadoop `Configuration`
    * (whose XML defaults cost more than the footer read).
    */
  private def footer(conf: Configuration, file: FileStatus): ParquetMetadata =
    ParquetFileReader.readFooter(conf, file)

  /** The Spark schema a parquet file's footer records: the Spark row
    * metadata when Spark's writer wrote it, else the converted parquet
    * schema. Driver-side, no Spark job.
    */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val meta = footer(spark.sparkContext.hadoopConfiguration, file).getFileMetaData
    Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
  }

  private def nullable(dt: DataType): DataType = dt match {
    case st: StructType   => StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _)  => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other            => other
  }

  /** Throw a [[ContractViolation]] naming `table` unless `found`, the
    * footer schema of its data file `file`, matches `contract` exactly (by
    * name, case-insensitively, ignoring nullability).
    */
  private def checkContract(table: String, file: Path, found: StructType, contract: StructType): Unit =
    checkSchema(table, s"file $file", "not written by this index format, or corrupt", found, contract)

  private def checkSchema(table: String, where: String, cause: String, found: StructType, contract: StructType): Unit = {
    val report = SchemaCompare.diff(nullable(found).asInstanceOf[StructType], contract, SchemaPolicy.Exact)
    if (!report.conforms)
      throw new ContractViolation(
        report,
        s"AnnIndex table $table does not match its contract — $cause ($where).\n" +
          report.render(found.simpleString, contract.simpleString)
      )
  }

  /** The Hadoop conf of a driver-side read of `schema` by Spark's parquet
    * row reader: the requested schema and the SQL settings its schema
    * converter reads, as Spark's parquet scan sets them.
    */
  private def parquetReadConf(spark: SparkSession, schema: StructType): Configuration = {
    val sql = spark.sessionState.conf
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key, sql.parquetReaderRespectUnknownTypeAnnotation)
    conf
  }

  /** Every row of the fit-layer table `table` under `root` — `meta`,
    * `centroids`, `codebooks` or `occupancy`: 1, `cells`, ≤ m·ks and
    * `cells` rows by construction — read on the driver through its
    * contract. The first data file's footer is checked
    * ([[checkContract]]); then every data file is decoded by Spark's own
    * parquet row reader (`ParquetReadSupport`, the record path of Spark's
    * parquet scan) and its rows are copied. Each file is opened from its
    * listed status under the one read conf, so no read re-parses Hadoop's
    * XML defaults. No Spark job, no broadcast. [[writeRows]] is the
    * write twin.
    */
  private def readRows(spark: SparkSession, root: String, table: String, contract: StructType): Seq[InternalRow] = {
    val dir = new Path(root, table)
    val conf = parquetReadConf(spark, contract)
    val files = dataFiles(dir.getFileSystem(conf), dir).toSeq
    val first = files.headOption.getOrElse(
      throw new java.io.FileNotFoundException(s"AnnIndex table $table at $dir holds no data file")
    )
    checkContract(table, first.getPath, footerSchema(spark, first), contract)
    val toUnsafe = UnsafeProjection.create(contract)
    val corrected = RebaseSpec(LegacyBehaviorPolicy.CORRECTED)
    files.flatMap { file =>
      val reader = new ParquetReader.Builder[InternalRow](HadoopInputFile.fromStatus(file, conf), new HadoopParquetConfiguration(conf)) {
        override protected def getReadSupport(): ReadSupport[InternalRow] =
          new ParquetReadSupport(None, false, corrected, corrected)
      }.build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(toUnsafe(_).copy()).toVector
      finally reader.close()
    }
  }

  /** Write `rows` (Catalyst rows of `schema`) as the whole fit-layer
    * table `table` under `root`, on the driver: the write twin of
    * [[readRows]], for the bounded-small tables (`meta`, `centroids`,
    * `codebooks`, `occupancy`). The rows go through Spark's own parquet
    * output writer (`ParquetFileFormat.prepareWrite`), so the file carries
    * what a Spark write of a frame of `schema` would: the session's codec,
    * and Spark's row metadata and parquet schema with `schema`'s
    * nullability — the footer [[checkContract]] reads. The file is
    * written under a hidden name, then the table's earlier data files
    * are removed and it is renamed into place; a reader landing in
    * between sees no data file and fails with FileNotFound, the
    * transient miss [[retryTransientRead]] absorbs. No Spark job.
    */
  private def writeRows(spark: SparkSession, root: String, table: String, schema: StructType, rows: Seq[InternalRow]): Unit = {
    val dir = new Path(root, table)
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${writers.getFileExtension(ctx)}"
    val tmp = new Path(dir, s".$name.tmp")
    val out = writers.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(out.write)
    finally out.close()
    val fs = dir.getFileSystem(job.getConfiguration)
    dataFiles(fs, dir).foreach(st => fs.delete(st.getPath, false))
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"AnnIndex table $table: could not rename $tmp into place")
  }

  /** A fit-layer table read through its contract ([[readRows]]), as a
    * local relation: a snapshot of the table when this runs.
    */
  private def readTable(spark: SparkSession, root: String, table: String, contract: StructType): DataFrame =
    GraftSqlShim.localRelation(spark, contract, readRows(spark, root, table, contract))

  /** The one `meta` row under `root` ([[readRows]]). Retried across the
    * transient miss a concurrent [[tombstoneV4RootMeta]] swap can cause:
    * listing, footer and read all sit inside the retry.
    */
  private def readMeta(spark: SparkSession, root: String): Row = {
    val contract = FitContractsByVersion(FormatVersion).meta
    val rows = retryTransientRead(s"$root/meta")(readRows(spark, root, "meta", contract))
    val row = rows.headOption.getOrElse(throw new IllegalStateException(s"AnnIndex table meta at $root/meta holds no row"))
    CatalystTypeConverters.createToScalaConverter(contract)(row).asInstanceOf[Row]
  }

  /** The codes layers' data columns: `__nid` in the type the footer of
    * the first file under `layers` records (the caller's id type), and
    * `__codes` as array<int>, checked against that footer.
    */
  private def codesDataContract(spark: SparkSession, layers: Seq[Path]): StructType = {
    val fs = layers.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = layers.iterator.flatMap(firstDataFile(fs, _)).nextOption().getOrElse(
      throw new java.io.FileNotFoundException(s"AnnIndex codes at ${layers.head.getParent} hold no data file")
    )
    val found = footerSchema(spark, first)
    val nid = found.find(_.name.equalsIgnoreCase("__nid")).map(_.dataType).getOrElse(NullType)
    val contract = fields("__nid" -> nid, "__codes" -> ArrayType(IntegerType, containsNull = true))
    checkContract("codes", first.getPath, found, contract)
    contract
  }

  /** Codes `layers` under `base` read through the codes contract, with the
    * partition columns `partitions` (`__cid`, and `__batch` when `base` is
    * a generation).
    */
  private def readCodes(spark: SparkSession, base: Path, layers: Seq[Path], partitions: Seq[StructField]): DataFrame =
    spark.read
      .schema(StructType(codesDataContract(spark, layers).fields ++ partitions))
      .option("basePath", base.toString)
      .parquet(layers.map(_.toString): _*)

  /** Retry `body` on the TRANSIENT read miss a concurrent
    * [[tombstoneV4RootMeta]] meta swap can cause (round 18): the one-file
    * `meta/` overwrite deletes-then-writes, so a read landing exactly in
    * the gap sees FileNotFound / path-does-not-exist. Bounded (default 3
    * attempts, short linear backoff) and NARROW — only a missing-file
    * shape retries; any other failure, and the final miss, propagate
    * unchanged. The swap is a two-smallfile window, so one retry
    * virtually always lands; the bound keeps a genuinely deleted index
    * failing loudly instead of spinning.
    */
  private[llmops] def retryTransientRead[A](what: String, attempts: Int = 3, backoffMs: Long = 50L)(
      body: => A
  ): A = {
    def isTransientMiss(t: Throwable): Boolean =
      Iterator
        .iterate(t)(_.getCause)
        .takeWhile(_ != null)
        .take(8)
        .exists {
          case _: java.io.FileNotFoundException => true
          case a: org.apache.spark.sql.AnalysisException =>
            a.getMessage.contains("PATH_NOT_FOUND") || a.getMessage.contains("does not exist")
          case _ => false
        }
    var attempt = 1
    while (true) {
      try return body
      catch {
        case t: Throwable if attempt < attempts && isTransientMiss(t) =>
          log.warn(s"transient read miss on $what (attempt $attempt/$attempts, likely a concurrent meta swap) — retrying", t)
          Thread.sleep(backoffMs * attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable") // while(true) above always returns or throws
  }

  // ------------------------------------------------------------------
  // Maintenance lease (round 17): the single-maintainer contract the
  // mutation ops used to carry only as scaladoc ("do not run
  // concurrently"), enforced. [[save]], [[compact]], [[refit]],
  // [[delete]] and [[vacuum]] each acquire an ADVISORY lease before
  // touching anything and release it when they return: a `_MAINTAINER`
  // marker under `dir`, created with the filesystem's create-exclusive
  // primitive, carrying an owner tag and an integer epoch. The epoch
  // high-water record `_MAINTAINER_EPOCH` is written BEFORE the
  // exclusive create, so it is always >= every epoch a lease file has
  // ever carried — losers of the create race may inflate it, which only
  // widens the gap (epochs can skip, never regress). A second
  // maintainer arriving while the lease is held FAILS LOUDLY before any
  // write — the racing compact+append-era failure (a committed append
  // layer silently stranded in a superseded generation) becomes an
  // exception naming the holder. Readers ([[load]], [[probeIvfPq]],
  // [[staleness]], [[maintenancePolicy]]) never touch the lease;
  // [[append]] is the streaming-ingest side and deliberately stays
  // outside it (its own idempotence contract covers replays; its
  // documented exclusion zone is an in-flight compact, which the lease
  // now makes detectable: quiesce ingest, take the lease, maintain,
  // release).
  //
  // Crash recovery is an OPERATOR decision, not wall-clock magic: a
  // maintainer that dies mid-op leaves its lease behind (its writes are
  // uncommitted — marker-last — so the index is intact). The operator
  // inspects [[maintainerLease]], confirms the holder is dead
  // OUT-OF-BAND (the lease file's fs modification time is the documented
  // hint, never part of the semantics), and retries the op with
  // `breakLeaseEpoch = Some(<that epoch>)`: the takeover deletes the
  // stale lease ONLY if it still carries exactly that epoch (a lease
  // that changed hands since inspection is refused — re-inspect), the
  // new grant's epoch lands strictly above both the record and the
  // broken epoch, and release verifies the lease still carries the
  // releaser's own epoch before deleting, so a zombie of the broken
  // maintainer fails loudly at its release instead of unlocking the new
  // holder.
  //
  // Honest limits — this is an ADVISORY lease over plain files, not a
  // lock service: (a) exclusivity rides create-no-overwrite, which is
  // atomic on HDFS and POSIX filesystems but CHECK-THEN-PUT on S3A-style
  // object stores — two simultaneous acquirers there can both "succeed";
  // the acquire therefore read-back-verifies its own epoch+owner line
  // after the create (round 18), so the overwritten loser detects the
  // usurpation and fails BEFORE any index write. That shrinks the
  // double-grant window from the whole op to the create race itself;
  // the residual (both read-backs observing their own write under
  // eventual consistency) still needs an external mutex on such stores
  // if two live maintainers are possible at all. (b) The takeover's epoch-match
  // delete and release's verify-then-delete are check-then-act: a
  // holder that is in fact ALIVE during a takeover (operator error by
  // definition — takeover requires confirming death) can interleave in
  // the gap. The lease turns the silent multi-writer corruption class
  // into loud failures on real filesystems and narrows it everywhere
  // else; it does not replace operational discipline.
  // ------------------------------------------------------------------

  private val LeaseName = "_MAINTAINER"
  private val LeaseEpochName = "_MAINTAINER_EPOCH"
  private val LeaseContentRe = "epoch=(-?\\d+) owner=(.*)".r

  /** The maintenance lease currently held under `dir`, if any, as
    * (epoch, owner) — the operator-facing inspection point for stale-
    * lease takeover (see the lease notes above). `None` = no maintainer
    * holds the index.
    */
  def maintainerLease(spark: SparkSession, dir: String): Option[(Long, String)] = {
    val fs = hadoopFs(spark, dir)
    val p = new Path(dir, LeaseName)
    if (!fs.exists(p)) None
    else readSmallFile(fs, p) match {
      case LeaseContentRe(e, o) => Some((e.toLong, o))
      case other => Some((-1L, s"<unparseable lease content: $other>")) // mid-write racer or corruption: still held
    }
  }

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0).foreach(bytes.write(buf, 0, _))
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeSmallFile(fs: FileSystem, p: Path, content: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The lease-epoch high-water record under `dir` (0 when none): an
    * upper bound that is >= every epoch any lease file has ever carried,
    * because every acquirer writes its candidate epoch here BEFORE
    * attempting the exclusive create (losers inflate it — harmless,
    * epochs may skip but never regress). A concurrent overwrite can
    * leave a torn read; that fails LOUDLY here with the recovery named,
    * never silently as a regressed epoch.
    */
  private[llmops] def lastGrantedEpoch(spark: SparkSession, dir: String): Long = {
    val fs = hadoopFs(spark, dir)
    val p = new Path(dir, LeaseEpochName)
    if (!fs.exists(p)) 0L
    else {
      val raw = readSmallFile(fs, p).trim
      try raw.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalStateException(
            s"$p is unreadable ('$raw') — torn by a concurrent acquire or corrupted; if no maintainer " +
              "is live, delete the file (epochs restart above any held lease via breakLeaseEpoch) and retry"
          )
      }
    }
  }

  private[llmops] def acquireLease(
      spark: SparkSession,
      dir: String,
      op: String,
      owner: String,
      breakLeaseEpoch: Option[Long],
      createDir: Boolean
  ): Long = {
    require(
      owner.nonEmpty && owner.length <= 128 && owner.forall(c => c >= ' ' && c != 0x7f),
      s"leaseOwner must be 1-128 printable characters without newlines (got ${owner.take(160)})"
    )
    val fs = hadoopFs(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) {
      // only save may create the directory — a typo'd path handed to
      // compact/refit/delete/vacuum must fail before ANY write, not
      // leave a junk directory with lease bookkeeping in it
      if (!createDir)
        throw new IllegalArgumentException(s"$dir does not exist — not a saved AnnIndex")
      fs.mkdirs(root)
    }
    val leaseP = new Path(dir, LeaseName)
    breakLeaseEpoch.foreach { e =>
      maintainerLease(spark, dir) match {
        case Some((cur, own)) if cur == e =>
          log.warn(s"$op at $dir: breaking maintenance lease epoch=$e owner=$own (operator takeover)")
          fs.delete(leaseP, false)
        case Some((cur, own)) =>
          throw new IllegalStateException(
            s"$op at $dir: cannot break lease epoch $e — the lease is now epoch=$cur owner=$own, " +
              "it changed hands since it was inspected; re-read maintainerLease() and confirm the new " +
              "holder is dead before retrying the takeover"
          )
        case None => // released since inspection: fall through to a normal acquire
      }
    }
    val epoch = math.max(lastGrantedEpoch(spark, dir), breakLeaseEpoch.getOrElse(0L)) + 1
    // high-water record FIRST, lease second: the record is always >= any
    // epoch a lease file can carry, so a later takeover's
    // max(record, broken)+1 grant can never duplicate a granted epoch —
    // even when this acquirer stalls or loses the create race below
    writeSmallFile(fs, new Path(dir, LeaseEpochName), epoch.toString, overwrite = true)
    val granted = s"epoch=$epoch owner=$owner"
    try writeSmallFile(fs, leaseP, granted, overwrite = false)
    catch {
      case e: java.io.IOException if fs.exists(leaseP) =>
        val held = maintainerLease(spark, dir)
          .map { case (ep, ow) => s"epoch=$ep owner=$ow" }
          .getOrElse("just released — retry")
        throw new IllegalStateException(
          s"$op at $dir: another maintainer holds the lease ($held). save/compact/refit/delete/vacuum " +
            "are single-maintainer ops — wait for the holder to finish; if its process is DEAD " +
            "(uncommitted writes are invisible, the index is intact), confirm via maintainerLease() " +
            "and retry with breakLeaseEpoch = Some(<its epoch>)",
          e
        )
    }
    // read-back verify (round 18): on HDFS/POSIX the exclusive create IS
    // the grant and this re-read trivially confirms it; on an S3A-style
    // object store where create-no-overwrite is check-then-put, two
    // simultaneous acquirers can BOTH "succeed" with last-write-wins —
    // re-reading and requiring exactly our own line makes the loser
    // detect the usurpation and fail BEFORE any index write, shrinking
    // the double-grant window from the whole maintenance op to the
    // create race itself (the residual window — both writes landing and
    // both read-backs seeing their own content — is store-consistency
    // physics no file protocol closes; front maintenance with an
    // external mutex there if two live maintainers are possible at all).
    val readBack = readSmallFile(fs, leaseP)
    if (readBack != granted)
      throw new IllegalStateException(
        s"$op at $dir: lost the lease create race — wrote '$granted' but the lease file now reads " +
          s"'$readBack': a concurrent maintainer's create overwrote ours (non-atomic " +
          "create-no-overwrite, e.g. an object store). Nothing was written; the winner holds the " +
          "index — wait for it to finish and retry"
      )
    epoch
  }

  private def releaseLease(spark: SparkSession, dir: String, epoch: Long): Unit = {
    val fs = hadoopFs(spark, dir)
    maintainerLease(spark, dir) match {
      case Some((e, _)) if e == epoch => fs.delete(new Path(dir, LeaseName), false)
      case other =>
        throw new IllegalStateException(
          s"maintenance lease at $dir is no longer epoch=$epoch (found $other): this maintainer's " +
            "lease was broken by a takeover while it ran — its writes may have interleaved with the " +
            "new maintainer's; inspect the index before any further maintenance"
        )
    }
  }

  /** Run `body` under the maintenance lease; released on BOTH return and
    * in-process failure (a failed op's writes are uncommitted and the
    * caller regains control — only a process death leaves the lease for
    * operator takeover).
    */
  private def withLease[A](
      spark: SparkSession,
      dir: String,
      op: String,
      owner: String,
      breakLeaseEpoch: Option[Long],
      createDir: Boolean = false
  )(body: => A): A = {
    val epoch = acquireLease(spark, dir, op, owner, breakLeaseEpoch, createDir)
    try {
      val r = body
      releaseLease(spark, dir, epoch)
      r
    } catch {
      case t: Throwable =>
        try releaseLease(spark, dir, epoch)
        catch { case s: Throwable if s ne t => t.addSuppressed(s) }
        throw t
    }
  }

  private val CodesVersionRe = "codes_v(\\d+)".r

  /** All code generations under `dir`, committed or not, as (N, path). */
  private[llmops] def codesVersions(spark: SparkSession, dir: String): Seq[(Int, Path)] = {
    val root = new Path(dir)
    val fs = hadoopFs(spark, dir)
    if (!fs.exists(root)) Seq.empty
    else
      fs.listStatus(root)
        .toSeq
        .filter(_.isDirectory)
        .flatMap(st =>
          st.getPath.getName match {
            case CodesVersionRe(n) => Some(n.toInt -> st.getPath)
            case _                 => None
          }
        )
        .sortBy(_._1)
  }

  private val AbsorbedMarkerRe = "_ABSORBED_(-?\\d+)".r

  /** The generation's append high-water mark: the largest batch id its fit
    * layer has absorbed (via [[compact]]), [[FitBatchId]] for a fresh
    * [[save]]. Recorded as an `_ABSORBED_<n>` marker file — underscore-
    * prefixed, so parquet readers ignore it — whose presence doubles as
    * the generation's commit record (see [[currentCodesPath]]).
    */
  private[llmops] def absorbedHwm(spark: SparkSession, gen: Path): Long = {
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(gen)
      .iterator
      .map(_.getPath.getName)
      .collectFirst { case AbsorbedMarkerRe(n) => n.toLong }
      .getOrElse(FitBatchId.toLong)
  }

  /** The high-water mark a NEW generation absorbing `cur`'s committed
    * layers must carry: the larger of `cur`'s own absorbed hwm and every
    * committed append layer's batch id — shared by [[compact]] and
    * [[refit]] so the two commit paths can never diverge on the rule.
    */
  private def carriedHwm(spark: SparkSession, cur: Path): Long =
    (absorbedHwm(spark, cur) +:
      committedLayerPaths(spark, cur).map(_.getName.stripPrefix("__batch=").toLong)).max

  private def writeAbsorbedMarker(spark: SparkSession, gen: Path, hwm: Long): Unit = {
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(gen, s"_ABSORBED_$hwm"), true).close()
  }

  /** Whether the generation at `p` is COMMITTED: its parquet job's root
    * `_SUCCESS` and its `_ABSORBED_<hwm>` marker (written last — the true
    * commit point) both exist.
    */
  private def isCommitted(fs: FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, "_SUCCESS")) &&
      fs.listStatus(p).exists(st => AbsorbedMarkerRe.pattern.matcher(st.getPath.getName).matches())

  /** All COMMITTED generations under `dir`, ascending by N. */
  private def committedVersions(spark: SparkSession, dir: String): Seq[(Int, Path)] = {
    val fs = hadoopFs(spark, dir)
    codesVersions(spark, dir).filter { case (_, p) => isCommitted(fs, p) }
  }

  /** The committed generation numbers currently on disk under `dir`,
    * ascending — the last is the one a fresh [[load]] would pin
    * (round 18). The operator-facing inspection point paired with
    * [[IvfPqIndex.generation]]: `vacuum(keepGenerations = K)` retains
    * only the LAST K+1 of these, so before running it check that every
    * live handle's `generation` lies in that suffix (for K = 0: equals
    * the current, last entry — mere membership in the pre-vacuum list
    * proves nothing) — a pinned reader's generation missing from this
    * list after a vacuum means its files are gone. One fs listing, no
    * scan.
    */
  def retainedGenerations(spark: SparkSession, dir: String): Seq[Int] =
    committedVersions(spark, dir).map(_._1)

  /** The CURRENT code generation: the highest-numbered `codes_v<N>` whose
    * root `_SUCCESS` job-commit marker AND `_ABSORBED_<hwm>` high-water
    * marker both exist (the marker, written last, is the true commit
    * point). An interrupted [[compact]] leaves an uncommitted (markerless)
    * higher generation behind, which is skipped here — readers keep
    * resolving the last committed one.
    */
  private[llmops] def currentCodesPath(spark: SparkSession, dir: String): Path = {
    val committed = committedVersions(spark, dir)
    require(
      committed.nonEmpty,
      s"$dir holds no committed codes_v<N> generation (root _SUCCESS + _ABSORBED_<hwm> marker) — " +
        "not a saved AnnIndex, or a pre-v4 layout"
    )
    committed.last._2
  }

  /** The generation's COMMITTED `__batch` layers: the fit layer (its
    * commit record is the generation root `_SUCCESS` that
    * [[currentCodesPath]] already required) plus every append layer
    * carrying its own `_SUCCESS` (each [[append]] is its own parquet job
    * rooted at the layer directory). A crashed append's partial layer has
    * no marker and is skipped — invisible to every reader until the
    * at-least-once replay lands and commits it.
    */
  private[llmops] def committedLayerPaths(spark: SparkSession, gen: Path): Seq[Path] = {
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(gen)
      .toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("__batch="))
      .filter(p => p.getName == s"__batch=$FitBatchId" || fs.exists(new Path(p, "_SUCCESS")))
      .sortBy(_.getName)
  }

  /** Root holding generation `gen`'s FIT layers (`meta/`, `centroids/`,
    * `codebooks/`, `occupancy/`): the generation directory itself when a
    * [[refit]] wrote per-generation fit layers into it, else the index
    * root (the original [[save]]'s fit — generations written by [[save]]
    * and by [[compact]]-of-an-unrefit-index carry none of their own).
    */
  private[llmops] def fitRoot(spark: SparkSession, dir: String, gen: Path): String = {
    val fs = hadoopFs(spark, dir)
    if (fs.exists(new Path(gen, "centroids"))) gen.toString else dir
  }

  /** Scan of the generation's committed index rows, partition columns
    * (`__batch`, `__cid`) preserved via `basePath` — the one read shape
    * every consumer ([[load]], [[staleness]], [[compact]], [[delete]])
    * shares, so none of them can see a half-written append layer. Read
    * through the codes contract ([[codesDataContract]]).
    */
  private def committedCodes(spark: SparkSession, gen: Path): DataFrame = {
    val layers = committedLayerPaths(spark, gen)
    require(layers.nonEmpty, s"$gen holds no committed __batch layer — corrupt generation")
    readCodes(spark, gen, layers, Seq(BatchColumn, CellColumn))
  }

  /** Per-absorbed-batch replay fingerprints, carried by generations that
    * folded append layers away ([[compact]]/[[refit]]): one line
    * `<batch_id>\t<rows>\t<id_hash>` per batch the generation's fit
    * layer has absorbed, where `id_hash` = Σ xxhash64(__nid) in
    * decimal(38,0) — over IDS only, so it is invariant under a
    * [[refit]]'s re-encode. A marker-style TEXT file inside the
    * generation (underscore-prefixed so parquet readers ignore it;
    * deliberately NOT a parquet table — Spark's hidden-path filter
    * refuses to read underscore-named directories even when addressed
    * explicitly, and the record is bounded by the absorbed-batch count),
    * written before and therefore covered by the generation's
    * marker-last commit. [[append]]'s below-hwm no-op uses it to certify
    * a TRUE at-least-once replay with one batch-sized aggregate instead
    * of a per-replay index scan — the restart-burst cost the v4 evidence
    * path paid (N column-pruned index scans to decide to do nothing N
    * times).
    */
  private[llmops] val AbsorbedBatchesName = "_ABSORBED_BATCHES"

  /** (rows, Σ xxhash64(id) as decimal-string) of an id column — the
    * fit-independent half of [[contentFingerprint]], shared by the
    * sidecar writer and [[append]]'s replay check so the two sides can
    * never diverge on the hash rule.
    */
  private def idFingerprint(ids: DataFrame, idCol: String): (Long, String) = {
    val r = ids
      .select(
        count(lit(1)).as("n"),
        coalesce(
          sum(xxhash64(col(idCol)).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")
        ).as("h")
      )
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Entry bound of [[absorbedBatchesCache]]. */
  private[llmops] val AbsorbedCacheMaxEntries = 64

  /** Driver-side cache of parsed sidecars, keyed by file path and
    * validated by (modificationTime, length): a generation's sidecar is
    * immutable once its commit marker lands, but [[append]] consults it
    * on EVERY call (both the below-hwm certification and the post-resave
    * carried-record check), and a long-lived index under periodic
    * compaction accumulates one line per batch ever absorbed — without
    * the cache each micro-batch would re-read and re-parse the whole
    * record (a full GET per micro-batch on an object store). With it, a
    * serving driver pays one metadata stat per append and one full read
    * per generation it ever touches. The stamp validation keeps an
    * out-of-band wipe-and-recreate of the same path from serving stale
    * records.
    *
    * LRU, bounded at [[AbsorbedCacheMaxEntries]] (round 19, VERDICT r18
    * #8): the former clear-all-at-65 wiped every hot generation's record
    * whenever a 65th distinct generation was touched — correct (the next
    * read re-parses) but O(all-hot-paths re-read) on exactly the
    * long-lived multi-index drivers the cache exists for. Access-ordered
    * LinkedHashMap evicts only the coldest entry; all access goes through
    * the map's own synchronized wrapper (reads mutate LRU order, so a
    * ConcurrentHashMap would not be safe here anyway).
    */
  private[llmops] val absorbedBatchesCache: java.util.Map[String, ((Long, Long), Seq[(Long, Long, String)])] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, ((Long, Long), Seq[(Long, Long, String)])](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, ((Long, Long), Seq[(Long, Long, String)])]
        ): Boolean = size() > AbsorbedCacheMaxEntries
      }
    )

  private[llmops] def readAbsorbedBatches(spark: SparkSession, gen: Path): Seq[(Long, Long, String)] = {
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(gen, AbsorbedBatchesName)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    val stamp = (st.getModificationTime, st.getLen)
    val key = p.toString
    val cached = absorbedBatchesCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val rows = readSmallFile(fs, p).linesIterator.filter(_.nonEmpty).map { line =>
        val Array(b, n, h) = line.split('\t')
        (b.toLong, n.toLong, h)
      }.toSeq
      absorbedBatchesCache.put(key, (stamp, rows))
      rows
    }
  }

  /** The sidecar rows a NEW generation absorbing `cur`'s committed layers
    * must carry: `cur`'s own carried sidecar (batches folded by EARLIER
    * compactions/refits — their layers are gone, only the record
    * remains) plus a fingerprint of every committed append layer being
    * folded now. Collected driver-side: bounded by the absorbed-batch
    * count, the same cardinality as the `__batch=` directory listing.
    */
  private def absorbedBatchRows(spark: SparkSession, cur: Path): Seq[(Long, Long, String)] = {
    val appendLayers = committedLayerPaths(spark, cur).filter(_.getName != s"__batch=$FitBatchId")
    val fresh: Seq[(Long, Long, String)] =
      if (appendLayers.isEmpty) Seq.empty
      else
        readCodes(spark, cur, appendLayers, Seq(BatchColumn, CellColumn))
          .groupBy(col("__batch").cast("long").as("batch_id"))
          .agg(
            count(lit(1)).as("rows"),
            coalesce(sum(xxhash64(col("__nid")).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
              .as("h")
          )
          .collect()
          .toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).toBigInteger.toString))
    // distinct: a record carried across several folds must not accumulate
    // duplicate lines (same id REUSED with different content keeps both —
    // both incarnations were genuinely absorbed)
    (readAbsorbedBatches(spark, cur) ++ fresh).distinct
  }

  private def writeAbsorbedBatches(spark: SparkSession, gen: String, rows: Seq[(Long, Long, String)]): Unit =
    if (rows.nonEmpty) {
      val genP = new Path(gen)
      val fs = genP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val content = rows.map { case (b, n, h) => s"$b\t$n\t$h" }.mkString("\n")
      writeSmallFile(fs, new Path(genP, AbsorbedBatchesName), content, overwrite = true)
    }

  /** The recorded fingerprints of an absorbed batch — possibly several:
    * an id absorbed pre-resave and then legitimately REUSED for new data
    * post-resave carries one record per incarnation after the next fold
    * (both are genuinely absorbed, and a replay of either must certify).
    */
  private def recordedBatchFingerprints(spark: SparkSession, cur: Path, batchId: Long): Seq[(Long, String)] =
    readAbsorbedBatches(spark, cur).collect { case (b, n, h) if b == batchId => (n, h) }

  /** Fit the index: coarse k-means ([[Similarity.kmeansCentroids]]) +
    * per-subspace PQ codebooks ([[Similarity.pqCodebooks]]), then ONE
    * assignment pass producing the codes-only corpus index (nearest cell
    * + m code ids per vector). The two fits are independent and run at
    * once: the PQ fit on a daemon thread that carries the caller's active
    * session, job tags and job group (so listeners attribute its jobs to
    * the caller), the k-means fit on the calling thread. Each fit runs
    * the same plans as alone; their small jobs overlap instead of
    * queueing. The call returns only after both fits are done; a failure
    * of either rethrows its own exception, the k-means one first. Both
    * fits come back as local relations held on the driver, so [[save]]
    * writes them and the handle's [[Similarity.FitTables]], which the
    * assignment pass reads, is built from them without a further job. At
    * 100 TB fit on a sample via the underlying `fitSamplePercent` knobs'
    * discipline and pass the full corpus here only for the
    * assignment/encode pass — a map-only pass, no corpus shuffle.
    */
  def fitIvfPq(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cells: Int = 16,
      iters: Int = 2,
      seed: Long = 42L,
      pqM: Int = 4,
      pqKs: Int = 8,
      pqIters: Int = 2,
      dim: Int = Similarity.AutoDim
  ): IvfPqIndex = {
    val d = Similarity.resolveDim(df.select(col(idCol).as("__id"), col(vecCol).as("__v")), dim)
    val (centroids, cb) = concurrently(df.sparkSession)(Similarity.kmeansCentroids(df, idCol, vecCol, cells, iters, seed))(
      Similarity.pqCodebooks(df, idCol, vecCol, d, pqM, pqKs, pqIters, seed)
    )
    val fit = Similarity.FitTables(centroids, cb, pqKs)
    IvfPqIndex(
      dim = d,
      cells = cells,
      pqM = pqM,
      pqKs = pqKs,
      seed = seed,
      centroids = centroids,
      codebooks = cb,
      // ONE fused map-side pass (round 18): nearest cell and the m code
      // ids are pure per-row functions of the fit — the pre-r18 shape
      // computed them as two corpus passes equi-joined on vector id (two
      // corpus-sized shuffle sides for zero information)
      codes = Similarity.assignAndEncode(df, idCol, vecCol, fit, d, pqM),
      fit = fit
    )
  }

  /** `(a, b)`, with `b` run on a new daemon thread while `a` runs on the
    * calling thread. The thread carries the caller's active session and
    * local properties ([[GraftSqlShim.withThreadLocalCaptured]]). Returns
    * or throws only after both are done and the thread has ended; a
    * failure rethrows the original exception, `a`'s first (with `b`'s
    * added as suppressed).
    */
  private def concurrently[A, B](spark: SparkSession)(a: => A)(b: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-fit")
      t.setDaemon(true)
      t
    }
    try {
      val fb = GraftSqlShim.withThreadLocalCaptured(spark, pool)(b)
      val ra = try Right(a) catch { case t: Throwable => Left(t) }
      val rb = try Right(fb.get()) catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
      (ra, rb) match {
        case (Right(x), Right(y)) => (x, y)
        case (Left(ta), _) =>
          rb.left.foreach(tb => if (tb ne ta) ta.addSuppressed(tb))
          throw ta
        case (_, Left(tb)) => throw tb
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
    }
  }

  /** Persist the index under `dir`. Two shapes, both committed by the
    * `_ABSORBED_` marker written LAST (after `occupancy/`, so the commit
    * point covers everything a reader needs — [[staleness]] can never
    * see a committed generation with a missing `occupancy/`):
    *
    *   - FRESH `dir` (no committed generation — uncommitted leftovers of
    *     a crashed first save are absorbed): fit tables at the index
    *     root + `codes_v1`. A crash anywhere before the marker leaves a
    *     loud 'not a saved index', never a stale generation under new
    *     fit tables — there was nothing to lose.
    *   - `dir` already holds a COMMITTED index (round 17): the
    *     replacement is written as the NEXT generation `codes_v<N+1>`
    *     CARRYING ITS OWN fit layers ([[refit]]'s v5 layout and commit
    *     discipline) — the existing index stays committed and loadable
    *     until the new generation's marker lands, so a crash mid-save
    *     can no longer destroy a working index (the pre-r17 ordering
    *     deleted the old generations first: loud loss, but avoidable
    *     loss). The superseded generation is reclaimed by [[vacuum]].
    *     Overwriting RESETS the append high-water mark to −1: a re-save
    *     is a fresh index, the documented remedy for restarting a
    *     stream's batch-id space against a compacted index. The
    *     superseded generation's absorbed-batch fingerprint record IS
    *     carried, though (round 18, ids-only — refit-invariant), plus a
    *     fingerprint of every committed append layer being superseded:
    *     a post-resave at-least-once REPLAY of an old batch is
    *     fingerprint-detected in [[append]] and no-ops instead of
    *     silently re-inserting rows the fresh corpus may already carry,
    *     while id REUSE for new data (mismatching id set) still inserts.
    *     The record is IDS-ONLY by necessity (it must survive
    *     re-encodes), so two shapes remain indistinguishable from a
    *     replay/reuse: (1) a reused id carrying the SAME id set with
    *     re-embedded vectors no-ops as a replay — re-embedded vectors
    *     mean the corpus changed, which is a [[refit]]/re-save, never an
    *     append; (2) a batch partially [[delete]]d before the re-save
    *     records its surviving subset, so a full replay of its ORIGINAL
    *     content mismatches and inserts. After re-saving a delete-bearing
    *     index, start new batch ids fresh (or run `strictReplay`, which
    *     refuses the ambiguous insert).
    *
    * Codes land under the fit layer `__batch=-1`, partitioned by cell id
    * — the probe-side pruning layout documented on the object — one file
    * per cell ([[writeCodesLayer]]): the save's only Spark jobs, one
    * shuffle and one write. The fit tables (`meta/`, `centroids/`,
    * `codebooks/`) and the `occupancy/` snapshot are written on the
    * driver ([[writeRows]]); occupancy (per-cell code counts, the
    * fit-time reference [[staleness]] diffs against after [[append]]s)
    * is counted from the footers of the codes files just written
    * ([[writeOccupancy]]), the physical truth, without a re-scan.
    * Single-maintainer: takes the maintenance lease.
    */
  def save(
      index: IvfPqIndex,
      dir: String,
      leaseOwner: String = "save",
      breakLeaseEpoch: Option[Long] = None
  ): Unit = {
    val spark = index.centroids.sparkSession
    withLease(spark, dir, "save", leaseOwner, breakLeaseEpoch, createDir = true) {
      val fs = hadoopFs(spark, dir)
      if (committedVersions(spark, dir).isEmpty) {
        // fresh index: nothing committed exists, so nothing can be lost —
        // clear crashed-first-save leftovers and write the v1 layout
        codesVersions(spark, dir).foreach { case (_, p) => fs.delete(p, true) }
        writeFitTables(index, dir)
        writeCodesLayer(index.codes.withColumn("__batch", lit(FitBatchId)), s"$dir/codes_v1", "__batch", "__cid")
        writeOccupancy(spark, new Path(s"$dir/codes_v1"), dir)
        // a fresh fit has absorbed no append batches
        writeAbsorbedMarker(spark, new Path(s"$dir/codes_v1"), FitBatchId.toLong)
      } else {
        // overwrite of a committed index: next generation, self-contained
        // fit layers, marker-last — the old index is untouched until the
        // replacement is fully committed (and pinned readers keep probing
        // what they loaded, as with compact/refit). The superseded
        // generation's absorbed-batch record is CARRIED (round 18, ids-only
        // so it survives the new fit's re-encode), including a fingerprint
        // of each committed append layer being superseded: the hwm resets
        // to −1 (a re-save is a fresh index — low batch ids are usable for
        // NEW data again), but a post-resave at-least-once replay of an OLD
        // batch must no-op instead of silently re-inserting rows the fresh
        // fit's corpus may already contain — append fingerprint-detects it
        // against this record (see the pre-hwm check there).
        val cur = currentCodesPath(spark, dir)
        val next = codesVersions(spark, dir).map(_._1).max + 1
        writeGeneration(spark, dir, index, next, FitBatchId.toLong, absorbed = absorbedBatchRows(spark, cur))
      }
    }
  }

  /** Write a complete SELF-CONTAINED generation `codes_v<n>`: codes (one
    * file per cell, [[writeCodesLayer]]; its shuffle and write are the
    * only Spark jobs), then the generation's own fit layers and occupancy
    * snapshot (written on the driver, [[writeFitTables]] and
    * [[writeOccupancy]]) and absorbed-batch sidecar, then the
    * `_ABSORBED_<hwm>` marker LAST (the
    * commit point — a crash anywhere earlier leaves an uncommitted
    * generation no reader selects). Shared by [[refit]] and the
    * overwrite arm of [[save]] so the two commit paths cannot diverge.
    * The v4-root tombstone is written BEFORE the marker: a crash between
    * the two leaves a v4 binary failing loudly on a still-valid v4 index
    * (safe direction), where tombstone-after-marker would leave the
    * committed self-contained generation silently mispaired with the
    * stale root fit on pre-v5 binaries.
    */
  private def writeGeneration(
      spark: SparkSession,
      dir: String,
      idx: IvfPqIndex,
      n: Int,
      hwm: Long,
      absorbed: Seq[(Long, Long, String)]
  ): Unit = {
    val gen = s"$dir/codes_v$n"
    // overwrite absorbs an uncommitted leftover of the same number
    writeCodesLayer(idx.codes.withColumn("__batch", lit(FitBatchId)), gen, "__batch", "__cid")
    writeFitTables(idx, gen)
    writeOccupancy(spark, new Path(gen), gen)
    writeAbsorbedBatches(spark, gen, absorbed)
    tombstoneV4RootMeta(spark, dir)
    // the commit point — everything above is invisible until this lands
    writeAbsorbedMarker(spark, new Path(gen), hwm)
  }

  /** When a generation carrying its own fit layers is about to commit
    * onto an index whose ROOT meta still says v4: rewrite the root
    * meta's version field to [[FormatVersion]]. A pre-v5 reader binary
    * checks the ROOT meta only — against a v4 root it would happily pair
    * the stale root centroids/codebooks with the new generation's codes
    * and probe SILENTLY WRONG under deployment skew; the bumped version
    * is the tombstone it trips on, turning the mixed-binary read into a
    * loud version error. Runs BEFORE the new generation's commit marker
    * (see [[writeGeneration]]) so a crash between the two fails v4
    * binaries loudly on a still-valid index — the safe direction.
    * Readers: v5 loads of the new generation resolve the generation's
    * own meta ([[fitRoot]]), never the root's; already-pinned readers
    * collected their meta row at load time. The one narrow race — a
    * [[load]] or [[maintenancePolicy]] resolving a root-fit generation
    * exactly while the one-file overwrite swaps `meta/` — is transient
    * (FileNotFound, never silent wrongness) and absorbed by the bounded
    * [[retryTransientRead]] both readers wrap the meta read in.
    */
  private def tombstoneV4RootMeta(spark: SparkSession, dir: String): Unit = {
    val fs = hadoopFs(spark, dir)
    if (!fs.exists(new Path(dir, "meta"))) return
    val m = readMeta(spark, dir)
    if (m.getAs[Int]("version") < FormatVersion)
      writeMeta(spark, dir, m.getAs[Int]("dim"), m.getAs[Int]("cells"), m.getAs[Int]("pq_m"), m.getAs[Int]("pq_ks"), m.getAs[Long]("seed"))
  }

  /** The one `meta` row under `root`, at [[FormatVersion]] ([[writeRows]]). */
  private def writeMeta(spark: SparkSession, root: String, dim: Int, cells: Int, pqM: Int, pqKs: Int, seed: Long): Unit =
    writeRows(spark, root, "meta", MetaWritten, Seq(InternalRow(FormatVersion, dim, cells, pqM, pqKs, seed)))

  /** Write index-shaped rows (`__cid`, `__nid`, `__codes`, plus `__batch`
    * when it is a partition column) to `path`, partitioned by
    * `partitions`, with ONE file per touched cell: the rows are first
    * hash-repartitioned on `__cid`, so each cell's rows sit in one task.
    * Without it every upstream task writes its own fragment into every
    * cell's partition (tasks × cells small files, each paying parquet
    * writer setup). The width is explicit
    * ([[Similarity.probeParallelism]]): a width-less repartition is
    * coalesced by AQE to one task at small sizes and writes every cell
    * serially. Overwrites `path`. The one codes writer of [[save]],
    * [[writeGeneration]], [[append]] and [[compact]].
    */
  private def writeCodesLayer(codes: DataFrame, path: String, partitions: String*): Unit =
    codes
      .repartition(Similarity.probeParallelism(codes), col("__cid"))
      .write
      .mode("overwrite")
      .partitionBy(partitions: _*)
      .parquet(path)

  /** The fit tables (`meta/`, `centroids/`, `codebooks/`) under `root` —
    * shared by [[save]] (index root) and [[refit]] (generation-scoped).
    * All three are tiny (1, `cells`, ≤ m·ks rows), written on the driver
    * ([[writeRows]]): no job for the local relations a fit or a [[load]]
    * holds. A centroid or codebook table whose columns do not match the
    * format's contract fails here, before anything is written.
    */
  private def writeFitTables(index: IvfPqIndex, root: String): Unit = {
    val spark = index.centroids.sparkSession
    val contracts = FitContractsByVersion(FormatVersion)
    // the frame's own schema is recorded, as a Spark write of it would
    def table(name: String, df: DataFrame, contract: StructType): (StructType, Seq[InternalRow]) = {
      val c = df.select(contract.fieldNames.toIndexedSeq.map(col): _*)
      checkSchema(name, s"writing $root/$name", "the index handle's fit has the wrong columns", c.schema, contract)
      (c.schema, Similarity.collectRows(c))
    }
    val (centroidSchema, centroids) = table("centroids", index.centroids, contracts.centroids)
    val (codebookSchema, codebooks) = table("codebooks", index.codebooks, contracts.codebooks)
    writeMeta(spark, root, index.dim, index.cells, index.pqM, index.pqKs, index.seed)
    writeRows(spark, root, "centroids", centroidSchema, centroids)
    writeRows(spark, root, "codebooks", codebookSchema, codebooks)
  }

  /** Snapshot `occupancy/` under `root`: per-cell code counts of the
    * fresh generation `gen`, counted from the footers of the codes files
    * the same save has just written (the physical truth; one file per
    * touched cell, [[writeCodesLayer]]) — the fit-time reference
    * [[staleness]] diffs against after [[append]]s and [[delete]]s. The
    * `__HIVE_DEFAULT_PARTITION__` cell (vectors with no cell) counts under
    * a null `__cid`. Driver-side: one listing and one footer per cell, no
    * Spark job.
    */
  private def writeOccupancy(spark: SparkSession, gen: Path, root: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val layer = new Path(gen, s"__batch=$FitBatchId")
    val fs = layer.getFileSystem(conf)
    val counts = fs.listStatus(layer).toSeq.filter(st => st.isDirectory && st.getPath.getName.startsWith("__cid=")).map { cell =>
      val v = ExternalCatalogUtils.unescapePathName(cell.getPath.getName.stripPrefix("__cid="))
      val cid = if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else Integer.valueOf(v.toInt)
      (cid, dataFiles(fs, cell.getPath).map(footer(conf, _).getBlocks.asScala.map(_.getRowCount).sum).sum)
    }
    val rows = counts.sortBy { case (cid, _) => Option(cid).map(_.intValue) }.map { case (cid, n) => InternalRow(cid, n) }
    writeRows(spark, root, "occupancy", OccupancyWritten, rows)
  }

  /** Encode a NEW batch against the FROZEN fit — nearest frozen centroid
    * (cell id) + per-subspace nearest frozen codeword (m code ids) —
    * producing index-shaped rows (`__cid`, `__nid`, `__codes`). It is
    * [[Similarity.assignAndEncode]], the one map-side projection that
    * [[fitIvfPq]] and [[append]] also run, reading the handle's
    * driver-side fit ([[Similarity.FitTables]]) as a broadcast value:
    * building it launches no job, and at 100 TB an arriving batch costs
    * O(batch · (cells + m·ks)) comparisons and touches neither the
    * corpus nor the existing index files. A corpus row's code is a pure
    * function of (vector, centroids, codebooks), so encoding the corpus
    * itself through this path reproduces the fit-time index rows exactly
    * — the property the `llm_ann_index_append` oracle is built on.
    */
  def encodeAgainst(
      index: IvfPqIndex,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = Similarity.assignAndEncode(batch, idCol, vecCol, index.fit, index.dim, index.pqM)

  /** Incremental index maintenance: encode `batch` against the persisted
    * index's frozen centroids/codebooks ([[encodeAgainst]]) and write the
    * rows into the current generation's `__batch=<batchId>` layer — ONE
    * new file per touched cell ([[writeCodesLayer]]), inside that layer;
    * the fit is read on the driver ([[loadFit]]: no job, no codes
    * listing), so an append costs one shuffle and one write;
    * existing layers, the centroids, codebooks, and the fit-time
    * `occupancy/` snapshot are untouched. Probing the appended index is
    * identical to probing a fresh index built from corpus ∪ batch under
    * the same frozen fit (oracle-gated by `llm_ann_index_append`).
    *
    * IDEMPOTENT under replay: the write targets the deterministic
    * per-batch directory `__batch=<batchId>/`, so re-delivering a batch
    * (foreachBatch is at-least-once — a crash between this write and the
    * streaming checkpoint commit replays the batch) re-lands on its own
    * layer instead of double-inserting. Three replay shapes, all handled:
    *   - layer absent (crash before any write): written normally;
    *   - layer present but UNCOMMITTED (crash mid-write — no layer
    *     `_SUCCESS`; readers never saw it, see [[committedLayerPaths]]):
    *     overwritten;
    *   - layer present and COMMITTED: the existing layer's content
    *     fingerprint (row count + order-free row hash) is compared against
    *     the arriving encode — identical means an exact replay and append
    *     NO-OPS (one batch-sized layer scan, zero writes). On a mismatch,
    *     a strict-SUBSET check runs (existing ⊆ arriving — rare path, one
    *     unhinted anti-join, never a forced broadcast of the unbounded
    *     batch): a [[delete]] that removed some of this batch's rows
    *     AFTER it committed leaves exactly that shape, and the late
    *     at-least-once replay must NO-OP (re-writing would resurrect the
    *     deleted rows) — logged at WARN, because id reuse with a SUPERSET
    *     of new data leaves the identical signature (the extra rows are
    *     absent from the whole index either way) and its new rows are
    *     being dropped. Any other mismatch is batch-id REUSE with
    *     different data, and append FAILS LOUDLY instead of silently
    *     replacing rows that probes may already have answered from.
    *   - batchId at or below the current generation's [[absorbedHwm]]:
    *     NO-OP (logged at WARN) — a [[compact]] already folded this batch
    *     into the fit layer, so a post-compact streaming restart replaying
    *     pre-compact batches cannot double-insert them. HAZARD: the no-op
    *     is keyed on the batch id ALONE, so a stream restarted with a
    *     FRESH CHECKPOINT after a compact that reuses low batch ids for
    *     genuinely NEW data lands here and that data is dropped. The
    *     path DETECTS the shape with evidence — it counts arriving ids
    *     absent from the index (one codes-only scan, rare path) and
    *     escalates the warning when any exist — but cannot throw, because
    *     a [[delete]] since the compact leaves a legitimate replay with
    *     the same signature. When resetting a checkpoint against a
    *     compacted index, either re-[[save]] the index too, or start the
    *     new stream's batch ids above the logged high-water mark.
    *
    * Callers owe only what any idempotent sink is owed: a stable batch id
    * per logical batch (Structured Streaming's foreachBatch id), distinct
    * ids across DIFFERENT logical batches, and batch ids ≥ 0 (negative
    * layers belong to [[save]]/[[compact]]). Do not run appends
    * CONCURRENTLY with a [[compact]] (the hwm protects replays that
    * arrive after the compact committed, not writes in flight during it).
    *
    * Id discipline: batch ids must also be disjoint from already-indexed
    * row ids (append never dedups — a row id indexed by two DIFFERENT
    * batches is returned twice by probes, like any multi-writer parquet
    * sink). Staleness — how far cell occupancy has drifted from the fit —
    * is priced by [[staleness]]; refit when the drift ledger says the
    * frozen centroids no longer describe the data.
    */
  def append(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      batchId: Long,
      strictReplay: Boolean = false
  ): Unit = {
    require(batchId >= 0, s"batchId must be >= 0 (got $batchId; negative layers are reserved for the fit/compact rows)")
    val cur = currentCodesPath(spark, dir)
    val hwm = absorbedHwm(spark, cur)
    if (batchId <= hwm) {
      // already folded into the fit layer by a compact/refit — but the
      // no-op is keyed on the id alone, so a fresh-checkpoint restart
      // reusing low ids for NEW data lands here too. Certify cheaply
      // first (round 17): generations written by compact/refit carry a
      // per-absorbed-batch (rows, Σ xxhash64(id)) sidecar — if the
      // arriving batch matches its recorded fingerprint it IS the
      // original batch (one batch-sized aggregate, no index scan), and
      // the no-op is correct even under strictReplay and even if a
      // delete() has since removed some of its rows.
      val recorded = recordedBatchFingerprints(spark, cur, batchId)
      if (recorded.nonEmpty && recorded.contains(idFingerprint(batch, idCol))) {
        log.warn(
          s"append batchId=$batchId <= absorbed high-water mark $hwm at $dir: no-op " +
            "(fingerprint-verified post-compact replay of the original batch)"
        )
        return
      }
      // no sidecar record (pre-r17 generation) or fingerprint mismatch:
      // fall back to evidence — count arriving ids the index has never
      // seen (one codes-only __nid column scan, paid only on this rare
      // path). A true replay has zero unless a delete() removed some of
      // its rows since — which is why the default warns with data
      // instead of throwing; strictReplay opts into the throw for
      // topologies that never delete() and never reuse ids, turning the
      // silent-drop hazard into a hard failure.
      val unseen = batch
        .select(col(idCol).as("__nid"))
        .join(committedCodes(spark, cur).select("__nid"), Seq("__nid"), "left_anti")
        .limit(1000)
        .count()
      if (unseen > 0) {
        val msg =
          s"append batchId=$batchId <= absorbed high-water mark $hwm at $dir: no-op, but " +
            s"${if (unseen >= 1000) ">=1000" else unseen.toString} arriving ids are NOT in the index -- " +
            "either a fresh-checkpoint restart is reusing absorbed batch ids for NEW data (that data " +
            s"is being dropped; restart with batch ids above $hwm or re-save the index), or this is a " +
            "replay of a batch whose rows were since delete()d (then the no-op is correct)"
        if (strictReplay)
          throw new IllegalStateException(msg + " [strictReplay: refusing the ambiguous no-op]")
        log.warn(msg)
      } else
        log.warn(
          s"append batchId=$batchId <= absorbed high-water mark $hwm at $dir: no-op " +
            "(post-compact replay; every arriving id is already indexed)"
        )
      return
    }
    val layer = new Path(cur, s"__batch=$batchId")
    val fs = hadoopFs(spark, dir)
    if (fs.exists(new Path(layer, "_SUCCESS"))) {
      // committed layer already holds this batch id — replay or misuse?
      // the encode is materialized here, so the fit's broadcast can go
      val f = loadFit(spark, dir, cur)
      val arrivingDf =
        try Similarity.assignAndEncode(batch, idCol, vecCol, f.fit, f.dim, f.pqM).localCheckpoint(true)
        finally f.fit.destroy()
      val existingDf = readCodes(spark, layer, Seq(layer), Seq(CellColumn))
      val existing = contentFingerprint(existingDf)
      val arriving = contentFingerprint(arrivingDf)
      if (existing == arriving) return // exact replay of a committed batch
      // existing ⊂ arriving: a delete() removed some of this batch's rows
      // AFTER it committed, and this is the at-least-once replay arriving
      // late — re-writing the full batch would RESURRECT the deleted rows,
      // so the replay no-ops and the committed survivor layer stands.
      // Rare path: one layer-vs-batch anti-join, NO broadcast hint — the
      // arriving batch is unbounded (a forced broadcast would hit Spark's
      // 8 GB hard limit on exactly the replay this path exists to
      // tolerate); Spark/AQE picks the join strategy from actual sizes.
      def rowKeys(df: DataFrame): DataFrame = df.select(
        col("__cid").cast("int").as("__kc"),
        col("__nid").as("__kn"),
        xxhash64(col("__codes").cast("array<int>")).as("__kh")
      )
      val notInArriving = rowKeys(existingDf)
        .join(rowKeys(arrivingDf), Seq("__kc", "__kn", "__kh"), "left_anti")
        .limit(1)
        .count()
      if (notInArriving == 0L) {
        // the same subset shape also fits batch-id REUSE whose payload is
        // a SUPERSET of the committed batch (fresh-checkpoint misuse) —
        // content cannot distinguish the two (the extra rows are absent
        // from the whole index either way), so this no-op warns with the
        // evidence instead of staying silent or re-breaking the
        // replay-after-delete tolerance by throwing; strictReplay opts
        // into the throw (a no-delete topology has no legitimate way to
        // reach this shape)
        val msg =
          s"append batchId=$batchId: committed layer is a strict subset of the arriving batch " +
            s"(existing (rows, hash) = $existing, arriving = $arriving): no-op. This is correct for " +
            "an at-least-once replay of a batch partially delete()d since; if instead this batch id " +
            "was REUSED for a superset of new data, the extra rows are being dropped -- use a fresh " +
            "batch id for new data"
        if (strictReplay)
          throw new IllegalStateException(msg + " [strictReplay: refusing the ambiguous no-op]")
        log.warn(msg)
        return
      }
      throw new IllegalStateException(
        s"append batchId=$batchId is already committed with DIFFERENT content " +
          s"(existing (rows, hash) = $existing, arriving = $arriving, and the existing layer is " +
          "not a subset of the arriving batch, so this is not a replay-after-delete) — batch ids " +
          "must be stable per logical batch and distinct across different batches; overwriting " +
          "would silently lose the earlier batch's rows"
      )
    }
    // No committed layer holds this id, and batchId is above the hwm —
    // but it can still be an already-absorbed batch: save() over a
    // committed index resets the hwm to −1 while CARRYING the superseded
    // generation's absorbed-batch fingerprints (round 18), so a
    // post-resave at-least-once replay of a pre-resave batch arrives here
    // with a carried sidecar record. An exact id-fingerprint match
    // certifies the replay (one batch-sized aggregate, no index scan) and
    // NO-OPS — re-inserting would duplicate rows the re-save's corpus may
    // already contain, and if the corpus intentionally dropped them,
    // resurrect them. The record is IDS-ONLY (it must survive re-encodes),
    // so a reused id carrying the SAME id set with re-embedded vectors
    // reads as a replay and is dropped too — re-embedded vectors mean the
    // whole corpus changed, which is a refit/re-save, never an append. A
    // MISMATCHING record is ambiguous: id reuse for NEW data (legitimate —
    // the re-save IS the documented fresh-checkpoint remedy, so the
    // default warns with the evidence and inserts) vs a full replay of a
    // batch partially delete()d BEFORE the re-save (its record
    // fingerprints the surviving subset — the insert then re-adds rows
    // sharing already-indexed ids); strictReplay refuses the ambiguity, as
    // everywhere else. This check runs ONLY when no committed layer holds
    // the id: a committed layer's content comparison above is strictly
    // stronger evidence (codes included), and consulting the carried
    // record first would mis-handle an exact replay of a post-resave
    // REUSED layer as "ambiguous".
    val carried = recordedBatchFingerprints(spark, cur, batchId)
    if (carried.nonEmpty) {
      if (carried.contains(idFingerprint(batch, idCol))) {
        log.warn(
          s"append batchId=$batchId at $dir: no-op (fingerprint-verified replay of a batch " +
            "absorbed by a generation superseded by a re-save — the carried sidecar record matches)"
        )
        return
      }
      val msg =
        s"append batchId=$batchId at $dir: this batch id was absorbed before a re-save but the " +
          s"arriving content MISMATCHES its carried fingerprint(s) (recorded (rows, hash) = " +
          s"${carried.mkString(", ")}) — inserting as NEW data (the post-resave id-reuse remedy). " +
          "If this is instead a replay of a batch partially delete()d before the re-save, the " +
          "insert duplicates its surviving ids — use fresh batch ids after a re-save of a " +
          "delete-bearing index"
      if (strictReplay)
        throw new IllegalStateException(msg + " [strictReplay: refusing the ambiguous insert]")
      log.warn(msg)
    }
    // the fit is broadcast for this one write: drop it after, instead of
    // leaving it to the ContextCleaner; the overwrite absorbs an
    // uncommitted partial layer of the same id
    val f = loadFit(spark, dir, cur)
    try writeCodesLayer(Similarity.assignAndEncode(batch, idCol, vecCol, f.fit, f.dim, f.pqM), layer.toString, "__cid")
    finally f.fit.destroy()
  }

  /** Order-free content fingerprint of index-shaped rows: (row count,
    * Σ xxhash64(cell, id, codes)) in one aggregate pass. The sum runs in
    * decimal(38,0) so it cannot overflow under ANSI arithmetic at any
    * realistic batch size; collisions need an adversarial 64-bit-hash-sum
    * match, far beyond the accidental batch-id-reuse misuse this guards.
    */
  private def contentFingerprint(codes: DataFrame): (Long, String) = {
    val r = codes
      .select(
        count(lit(1)).as("n"),
        coalesce(
          sum(
            xxhash64(col("__cid").cast("int"), col("__nid"), col("__codes").cast("array<int>"))
              .cast("decimal(38,0)")
          ),
          lit(0).cast("decimal(38,0)")
        ).as("h")
      )
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Compact the codes layout: every [[append]] lands one parquet file
    * per touched cell ([[writeCodesLayer]]) in its own batch layer, so a
    * long-lived index under
    * streaming ingest accumulates small files and probe cost grows with
    * FILE count while row count stands still. One codes-only pass reads
    * the current generation and writes a NEW `codes_v<N+1>` generation
    * with every batch layer collapsed into the fit layer and each cell in
    * a single file ([[writeCodesLayer]]). Logically the identity —
    * probing a compacted index is bit-identical to probing the fragmented
    * one (spec- and oracle-gated) — and NOT a refit: centroids,
    * codebooks, meta, and the fit-time `occupancy/` snapshot are
    * untouched, so [[staleness]] reads the same drift before and after
    * (spec-asserted invariant). A generation that carries its own fit
    * layers (written by [[refit]]) has them copied into the new one on
    * the driver ([[readRows]] → [[writeRows]]), so the codes shuffle and
    * write are compaction's only jobs beyond the absorbed-batch
    * fingerprint of folded append layers.
    *
    * Crash-safe and reader-safe by construction: the new generation's
    * root `_SUCCESS` marker IS the commit — a crash mid-write leaves an
    * uncommitted directory that [[load]] never selects (and the next
    * compact numbers past), and the superseded generation is NOT removed,
    * so readers loaded before the swap keep probing their pinned files;
    * no step here renames or deletes anything, which also makes the
    * sequence object-store-safe (no atomic-rename dependency). New
    * [[load]]s resolve the new generation; [[vacuum]] reclaims old ones
    * when no reader needs them. Only COMMITTED layers are absorbed (a
    * crashed append's partial layer was never readable and stays that
    * way), and the new generation's `_ABSORBED_<hwm>` marker — its commit
    * record, written last — records the largest batch id folded in, so a
    * post-compact replay of any absorbed batch no-ops in [[append]]
    * instead of double-inserting. Single-maintainer: takes the
    * maintenance lease, so a racing compact/refit/delete fails loudly;
    * quiesce in-flight [[append]]s first (ingest is outside the lease —
    * the hwm covers replays after the compact commits, not writes racing
    * it).
    */
  def compact(
      spark: SparkSession,
      dir: String,
      leaseOwner: String = "compact",
      breakLeaseEpoch: Option[Long] = None
  ): Unit = withLease(spark, dir, "compact", leaseOwner, breakLeaseEpoch) {
    val cur = currentCodesPath(spark, dir)
    val next = codesVersions(spark, dir).map(_._1).max + 1
    val hwm = carriedHwm(spark, cur)
    // fingerprint the append layers being folded (plus the carried
    // record of earlier folds) BEFORE rewriting — append's below-hwm
    // no-op certifies true replays against this instead of scanning
    val absorbed = absorbedBatchRows(spark, cur)
    // drops the __batch layer column; the overwrite absorbs an
    // uncommitted leftover of the same number
    writeCodesLayer(
      committedCodes(spark, cur).select("__cid", "__nid", "__codes").withColumn("__batch", lit(FitBatchId)),
      s"$dir/codes_v$next",
      "__batch",
      "__cid"
    )
    // a generation written by refit() owns its fit layers — carry them
    // into the compacted generation so readers keep resolving the refit
    // quantizer (tiny tables read and written on the driver, no job);
    // compaction of an unrefit index keeps falling back to the index
    // root's fit
    val curFitRoot = fitRoot(spark, dir, cur)
    val fitContracts = FitContractsByVersion(FormatVersion)
    if (curFitRoot != dir)
      Seq(
        "meta" -> fitContracts.meta,
        "centroids" -> fitContracts.centroids,
        "codebooks" -> fitContracts.codebooks,
        "occupancy" -> OccupancyContract
      ).foreach { case (sub, contract) =>
        writeRows(spark, s"$dir/codes_v$next", sub, contract, readRows(spark, curFitRoot, sub, contract))
      }
    writeAbsorbedBatches(spark, s"$dir/codes_v$next", absorbed)
    writeAbsorbedMarker(spark, new Path(s"$dir/codes_v$next"), hwm)
  }

  /** Re-fit the quantizer on the CURRENT corpus and migrate the index to
    * a fresh generation — the operator the [[staleness]] drift ledger and
    * the drift-recall histogram point at when the frozen fit no longer
    * describes the data (and the escape hatch the delete-all refusal
    * names). Runs [[fitIvfPq]] from scratch over `corpus` (new coarse
    * centroids, new PQ codebooks, fresh encode of every row) and writes
    * the result as `codes_v<N+1>` CARRYING ITS OWN FIT LAYERS (`meta/`,
    * `centroids/`, `codebooks/`, `occupancy/` inside the generation dir —
    * the v5 layout), under the same commit discipline as [[compact]]: the
    * `_ABSORBED_<hwm>` marker is written LAST and is the commit point, a
    * crash anywhere before it leaves an uncommitted generation no reader
    * selects, the superseded generation (and the index root's original
    * fit layers) are never mutated, so pinned readers keep probing
    * exactly what they loaded; [[vacuum]] reclaims old generations later.
    * The carried hwm covers every committed batch layer, so a post-refit
    * streaming replay of a pre-refit batch no-ops in [[append]].
    *
    * The index stores codes, not vectors, so the caller supplies the
    * current logical corpus as (id, vector) — rows indexed today but
    * absent from `corpus` are DROPPED by the refit (this is also the
    * bulk-delete path for removals too large for [[delete]]'s
    * partition-local rewrite), and `corpus` rows not yet indexed are
    * added. Post-refit, a [[load]]+probe is bit-identical to probing a
    * fresh [[fitIvfPq]] of `corpus` at the same knobs (oracle-gated by
    * `llm_ann_index_refit`), and [[staleness]] reads zero drift — the
    * occupancy snapshot is re-anchored to the new fit. Single-maintainer:
    * takes the maintenance lease, so a racing refit/compact fails loudly
    * (quiesce [[append]]s first — ingest is outside the lease).
    */
  def refit(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cells: Int = 16,
      iters: Int = 2,
      seed: Long = 42L,
      pqM: Int = 4,
      pqKs: Int = 8,
      pqIters: Int = 2,
      dim: Int = Similarity.AutoDim,
      leaseOwner: String = "refit",
      breakLeaseEpoch: Option[Long] = None
  ): Unit = withLease(spark, dir, "refit", leaseOwner, breakLeaseEpoch) {
    val cur = currentCodesPath(spark, dir)
    // a refit of NOTHING is the delete-all misuse wearing a different
    // hat (delete() refuses it and points here): fail before any fit
    // work with the actual problem, not a k-means init error
    require(
      !corpus.isEmpty,
      s"refit of $dir with an EMPTY corpus — an index over nothing is not representable; " +
        "to retire the index, remove its directory instead"
    )
    val hwm = carriedHwm(spark, cur)
    // fingerprint the layers being folded BEFORE the new fit exists —
    // over ids only, so the record survives the re-encode (see
    // AbsorbedBatchesName) and a post-refit replay can be certified
    val absorbed = absorbedBatchRows(spark, cur)
    val next = codesVersions(spark, dir).map(_._1).max + 1
    val idx = fitIvfPq(corpus, idCol, vecCol, cells, iters, seed, pqM, pqKs, pqIters, dim)
    // writeGeneration also tombstones a v4-era root meta (before its
    // commit marker): a pre-v5 reader binary would otherwise pair the
    // stale ROOT fit with this generation's codes and rank silently wrong
    writeGeneration(spark, dir, idx, next, hwm, absorbed)
  }

  /** Reclaim superseded code generations. `keepGenerations` (round 17)
    * is the serving retention window: the N most recent COMMITTED
    * superseded generations are retained alongside the current one, so
    * the load-once-probe-for-a-while reader (the T12 serving pattern)
    * has a guaranteed window of at least N maintenance cycles before its
    * pinned files can disappear — "run when no reader still holds" was
    * pure caller judgment before. `keepGenerations = 0` is the full
    * reclaim (only the current generation survives). Uncommitted
    * leftovers of crashed compactions/refits are always removed — they
    * were never readable, and the lease this op holds guarantees none of
    * them is a write in flight. Single-maintainer: takes the maintenance
    * lease.
    */
  def vacuum(
      spark: SparkSession,
      dir: String,
      keepGenerations: Int = 1,
      leaseOwner: String = "vacuum",
      breakLeaseEpoch: Option[Long] = None
  ): Unit = withLease(spark, dir, "vacuum", leaseOwner, breakLeaseEpoch) {
    require(keepGenerations >= 0, s"keepGenerations must be >= 0 (got $keepGenerations)")
    val cur = currentCodesPath(spark, dir)
    val fs = hadoopFs(spark, dir)
    // committed ascending by N; the current generation is the last —
    // retain it plus the keepGenerations most recent superseded ones
    val retained = committedVersions(spark, dir).map(_._2).takeRight(keepGenerations + 1).toSet + cur
    codesVersions(spark, dir).foreach { case (_, p) => if (!retained(p)) fs.delete(p, true) }
  }

  /** Remove rows from the index by id — the decontamination /
    * right-to-be-forgotten path an append-only index cannot serve. One
    * codes-only pass finds the `(__batch, __cid)` partitions holding any
    * of `ids` and rewrites ONLY those (anti-join on `__nid`), via dynamic
    * partition overwrite into the current generation; partitions left
    * empty are unlinked. Untouched partitions' files are never rewritten
    * — at 100 TB deleting D documents costs O(partitions-holding-D), not
    * an index rewrite (use [[compact]]-then-[[vacuum]] if a delete is so
    * large that rewriting everything is cheaper).
    *
    * The fit-time `occupancy/` snapshot is deliberately untouched:
    * [[staleness]] prices removals the same way it prices appends —
    * `now_n < fit_n` and `added` goes negative for cells that shrank
    * (spec-asserted).
    *
    * In-place mutation: probes planned BEFORE a delete may hold the
    * rewritten files' names — re-[[load]] after, or run deletes quiesced
    * (the same contract as any non-transactional parquet rewrite, and the
    * one place the versioned layout does not shield readers; a delete
    * IS observable mutation, unlike compaction). Idempotent: re-running
    * with the same ids rewrites already-clean partitions to themselves.
    *
    * Interaction with in-flight [[append]] replays: a delete that removes
    * rows of an already-committed batch leaves that batch's layer a strict
    * subset of what a late at-least-once replay re-delivers — [[append]]
    * detects the subset shape and no-ops instead of resurrecting the
    * deleted rows, so pending replays need not drain before deleting.
    * Single-maintainer: takes the maintenance lease.
    */
  def delete(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String,
      leaseOwner: String = "delete",
      breakLeaseEpoch: Option[Long] = None
  ): Unit = withLease(spark, dir, "delete", leaseOwner, breakLeaseEpoch) {
    deleteImpl(spark, dir, ids, idCol)
  }

  private def deleteImpl(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String
  ): Unit = {
    val curPath = currentCodesPath(spark, dir)
    val cur = curPath.toString
    // snapshot the id set: it feeds the partition discovery AND the
    // anti-join, and must not be re-derived mid-delete
    val del = ids.select(col(idCol).as("__nid")).distinct().localCheckpoint(true)
    val codes = committedCodes(spark, curPath) // partition cols __batch, __cid ride along
    val touched = codes
      .join(del, Seq("__nid"), "left_semi")
      .select(col("__batch").cast("long").as("__batch"), col("__cid").cast("int").as("__cid"))
      .distinct()
      .localCheckpoint(true) // bounded by the partition count, read 3×
    val touchedKeys = touched.collect().map(r => (r.getLong(0), r.getInt(1)))
    if (touchedKeys.isEmpty) return // nothing indexed under these ids
    // survivors of the touched partitions, materialized BEFORE the
    // overwrite (localCheckpoint breaks the read-your-own-output lineage
    // the in-place rewrite would otherwise trip on)
    val kept = codes
      .join(broadcast(touched), Seq("__batch", "__cid"), "left_semi")
      .join(del, Seq("__nid"), "left_anti")
      .select("__batch", "__cid", "__nid", "__codes")
      .localCheckpoint(true)
    val keptKeys = kept
      .select(col("__batch").cast("long"), col("__cid").cast("int"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toSet
    // a delete must not EMPTY the index: the generation would become an
    // unreadable parquet dir (no files to infer a schema from) and every
    // later load/staleness would fail with an unrelated error. Detected
    // from the fs listing (no extra scan) BEFORE any mutation — deleting
    // the whole index means the fit no longer describes anything; refit
    // instead.
    if (keptKeys.isEmpty) {
      val fsCheck = hadoopFs(spark, dir)
      val touchedSet = touchedKeys.toSet
      val allDataKeys = committedLayerPaths(spark, curPath).flatMap { layer =>
        val b = layer.getName.stripPrefix("__batch=").toLong
        fsCheck
          .listStatus(layer)
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("__cid=") => (b, n.stripPrefix("__cid=").toInt) }
      }
      if (allDataKeys.forall(touchedSet))
        throw new IllegalStateException(
          s"delete would remove EVERY row of the index at $dir — an emptied generation is not " +
            "representable (and the frozen fit would describe nothing); refit instead of deleting all"
        )
    }
    if (keptKeys.nonEmpty)
      kept.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic") // only the partitions present in `kept`
        .partitionBy("__batch", "__cid")
        .parquet(cur)
    // dynamic overwrite cannot express an emptied partition (no rows to
    // write for it) — unlink those directly
    val fs = hadoopFs(spark, dir)
    touchedKeys.filterNot(keptKeys).foreach { case (b, c) =>
      fs.delete(new Path(s"$cur/__batch=$b/__cid=$c"), true)
    }
  }

  /** Staleness ledger: per-cell occupancy NOW (one codes-only scan of the
    * current generation) vs the fit-time `occupancy/` snapshot.
    * `added` > 0 marks cells grown by [[append]]s since the fit (and
    * < 0 cells shrunk by [[delete]]s); a cell whose occupancy has
    * multiplied is the refit signal (its probe cost grows linearly with
    * occupancy, and the frozen centroid that used to describe it may no
    * longer — `llm_ann_index_drift_recall` prices the answer-quality side
    * of that drift). Cells that gained their FIRST rows post-fit appear
    * with fit_n = 0.
    */
  def staleness(spark: SparkSession, dir: String): DataFrame = {
    val gen = currentCodesPath(spark, dir)
    occupancyLedger(spark, gen, fitRoot(spark, dir, gen))
      .select(col("cell"), col("fit_n"), col("now_n"), (col("now_n") - col("fit_n")).as("added"))
  }

  /** The per-cell occupancy ledger both [[staleness]] and
    * [[maintenancePolicy]] read: generation `gen`'s fit-time `occupancy/`
    * snapshot (under the fit root `root`) full-outer-joined with one
    * codes-only aggregate of its committed layers, as (`cell`, `fit_n`,
    * `now_n`, `layers`) with an absent side counted as 0. `layers` is the
    * number of distinct committed `__batch` layers holding the cell's rows;
    * a caller that does not select it leaves it pruned from the aggregate.
    */
  private def occupancyLedger(spark: SparkSession, gen: Path, root: String): DataFrame = {
    val fit = readTable(spark, root, "occupancy", OccupancyContract)
      .select(col("__cid").as("cell"), col("fit_n"))
    val now = committedCodes(spark, gen)
      .groupBy(col("__cid").cast("int").as("cell"))
      .agg(count(lit(1)).as("now_n"), count_distinct(col("__batch")).as("layers"))
    fit
      .join(now, Seq("cell"), "full_outer")
      .select(
        col("cell"),
        coalesce(col("fit_n"), lit(0L)).as("fit_n"),
        coalesce(col("now_n"), lit(0L)).as("now_n"),
        coalesce(col("layers"), lit(0L)).as("layers")
      )
  }

  /** Maintenance-decision ledger: the [[staleness]] drift numbers joined
    * with per-cell LAYER fragmentation and folded through integer
    * threshold rules into a `compact`/`refit`/`ok` decision per cell —
    * the operational question ("which maintenance op does this index need
    * now?") as a queryable DataFrame instead of judgment. One codes-only
    * scan of the current generation plus the tiny occupancy anchor.
    *
    * Per cell: `fit_n` (fit-time occupancy), `now_n` (current), `layers`
    * (distinct committed `__batch` layers holding the cell's rows — the
    * logical fragmentation [[append]] leaves behind: probe cost grows
    * with layer/file count while rows stand still), `added`
    * (`now_n − fit_n`), and `decision`:
    *   - `refit` when drift dominates — the cell gained its FIRST rows
    *     post-fit (`fit_n = 0`, the frozen centroids never saw any of its
    *     mass) AND carries at least the minimum mass
    *     `now_n · cells · minMassDen ≥ total_now · minMassNum`, i.e. at
    *     least `minMassNum/minMassDen` of the MEAN cell occupancy
    *     (`total_now / cells`, with `cells` from the fit meta) — the
    *     round-17 floor that keeps ONE stray row appended into a
    *     previously-empty cell from flagging a whole-index refit; a
    *     below-floor empty cell falls through to the fragmentation rule —
    *     or it grew past the threshold:
    *     `added · refitDen ≥ fit_n · refitNum` with `added > 0` AND
    *     `fit_n > 0` (relative growth from a zero base is the empty-cell
    *     rule's job — without the `fit_n > 0` guard the growth rule is
    *     vacuously true for every post-fit cell and the mass floor would
    *     be dead code; integer cross-multiplications throughout — no
    *     floating-point boundary, same contract as every auto-knob rule
    *     in this library. The two-term growth products stay inside long
    *     range (rows ≤ 1e12 · den ≤ 1e2 = 1e14 < 2^63), but the
    *     THREE-term mass-floor product does NOT — 1e12 rows · 1e5 cells
    *     · 1e2 den = 1e19 > 2^63 ≈ 9.2e18, and non-ANSI Spark wraps long
    *     overflow SILENTLY — so the floor comparison runs in
    *     decimal(38,0), round 18, where the reference overflow bound is
    *     1e38);
    *   - `compact` when fragmentation dominates: `layers ≥ minLayers`;
    *   - `ok` otherwise (cells shrunk by [[delete]] report negative
    *     `added` and stay `ok` — removals do not invalidate a fit that
    *     described the remaining mass).
    * Defaults: refit at ≥ 25% growth (1/4), compact at 2+ layers,
    * empty-cell refit floor at 1/20 of the mean cell occupancy.
    *
    * Deliberately NOT an input here: the drift-RECALL metric. Pricing
    * answer quality requires a second complete fit (the
    * `llm_ann_index_drift_recall` / `llm_ann_index_refit_recall`
    * ledgers), which would make every policy evaluation
    * verification-tier; the intended loop is to calibrate
    * `refitNum/refitDen` offline against those ledgers once per corpus
    * regime, then let this operator decide from the cheap signals every
    * occupancy scan already pays for.
    */
  def maintenancePolicy(
      spark: SparkSession,
      dir: String,
      refitNum: Int = 1,
      refitDen: Int = 4,
      minLayers: Int = 2,
      minMassNum: Int = 1,
      minMassDen: Int = 20
  ): DataFrame = {
    require(refitNum > 0 && refitDen > 0, s"refit threshold must be a positive ratio (got $refitNum/$refitDen)")
    require(
      minMassNum >= 0 && minMassDen > 0,
      s"empty-cell mass floor must be a non-negative ratio (got $minMassNum/$minMassDen; 0/1 disables the floor)"
    )
    val gen = currentCodesPath(spark, dir)
    val root = fitRoot(spark, dir, gen)
    // plan literal, like every other knob: the configured cell count of
    // the fit that anchors the ledger (one tiny meta read; retried across
    // a concurrent tombstone's transient swap window, like load)
    val cells = readMeta(spark, root).getAs[Int]("cells")
    // the whole-frame total rides a window over the ≤cells-row ledger —
    // one exchange of a tiny frame, never a second codes scan
    val totalNow = sum(col("now_n")).over(org.apache.spark.sql.expressions.Window.partitionBy())
    occupancyLedger(spark, gen, root)
      .withColumn("added", col("now_n") - col("fit_n"))
      .withColumn(
        "decision",
        when(
          col("fit_n") === 0 && col("now_n") > 0 &&
            // decimal(38,0), not long: the three-term product overflows
            // int64 at realistic bounds (1e12 rows · 1e5 cells · 1e2 den
            // = 1e19 > 2^63) and non-ANSI long arithmetic wraps silently
            // — a hot cell would read a negative product and miss its
            // refit flag
            col("now_n").cast("decimal(38,0)") * lit(cells.toLong) * lit(minMassDen.toLong) >=
            totalNow.cast("decimal(38,0)") * lit(minMassNum.toLong),
          lit("refit")
        )
          .when(
            col("fit_n") > 0 && col("added") > 0 && col("added") * refitDen >= col("fit_n") * refitNum,
            lit("refit")
          )
          .when(col("layers") >= minLayers, lit("compact"))
          .otherwise(lit("ok"))
      )
  }

  /** Load a persisted index, pinned to the generation that is current
    * NOW: a [[compact]] committed after this load does not move the handle
    * (re-load to pick up the new generation). Every table is read through
    * its format contract — one footer per table, checked on the driver —
    * so a foreign or corrupt table fails here with a [[ContractViolation]]
    * naming it, not inside a later probe. The fit ([[loadFit]]) is read
    * on the driver, so `load` launches no Spark job, and neither the
    * first probe nor an encode needs a fit job. The codes stay a lazy
    * scan: a probe touching `nprobe` cells reads only those code
    * partitions.
    */
  def load(spark: SparkSession, dir: String): IvfPqIndex = {
    val gen = currentCodesPath(spark, dir)
    val f = loadFit(spark, dir, gen)
    IvfPqIndex(
      dim = f.dim,
      cells = f.meta.getAs[Int]("cells"),
      pqM = f.pqM,
      pqKs = f.meta.getAs[Int]("pq_ks"),
      seed = f.meta.getAs[Long]("seed"),
      centroids = f.centroids,
      codebooks = f.codebooks,
      // partition-discovered __cid reads as INT (the contract's type);
      // select the documented column order explicitly, dropping the __batch
      // ingest-layer column (probe semantics are layer-blind); only
      // COMMITTED layers resolve — a half-written append is invisible
      codes = committedCodes(spark, gen).select("__cid", "__nid", "__codes"),
      fit = f.fit,
      generation = gen.getName match { case CodesVersionRe(n) => n.toInt }
    )
  }

  /** The fit of generation `gen`: its `meta` row, `centroids` and
    * `codebooks` (local relations) and their [[Similarity.FitTables]].
    */
  private final case class LoadedFit(meta: Row, centroids: DataFrame, codebooks: DataFrame, fit: Similarity.FitTables) {
    def dim: Int = meta.getAs[Int]("dim")
    def pqM: Int = meta.getAs[Int]("pq_m")
  }

  /** Read generation `gen`'s fit on the driver ([[readRows]]): `meta`,
    * `centroids` and `codebooks` are bounded-small by construction, so
    * this launches no Spark job and lists no codes layer — [[load]]
    * minus the codes, and all an [[append]] encode needs. The fit
    * layers resolve from `gen` when a refit wrote its own, else from the
    * index root ([[fitRoot]]), so a generation's codes always pair with
    * the fit that produced them.
    */
  private def loadFit(spark: SparkSession, dir: String, gen: Path): LoadedFit = {
    val root = fitRoot(spark, dir, gen)
    // bounded retry: a root-fit meta read can land exactly in a
    // concurrent tombstone's one-file overwrite window (see
    // tombstoneV4RootMeta) — transient, never silent wrongness
    val meta = readMeta(spark, root)
    val version = meta.getAs[Int]("version")
    // v4 reads natively under the v5 resolution rules (a v4 index simply
    // has no per-generation fit layers, the exact fallback fitRoot takes),
    // so existing indexes need no re-save; anything else is refused
    require(
      FitContractsByVersion.contains(version),
      s"unsupported AnnIndex format version $version (this reader handles 4 and $FormatVersion)"
    )
    val contracts = FitContractsByVersion(version)
    val centroids = readTable(spark, root, "centroids", contracts.centroids)
    val codebooks = readTable(spark, root, "codebooks", contracts.codebooks)
    LoadedFit(meta, centroids, codebooks, Similarity.FitTables(centroids, codebooks, meta.getAs[Int]("pq_ks")))
  }

  /** Probe the index with a query batch: rank each query's `nprobe`
    * nearest cells against the handle's driver-resident centroid entries
    * (no centroid scan or join), equi-join the codes-only index on cell
    * id, ADC-rank via the broadcast codeword map, and optionally
    * exact-rerank the top-`rerank` shortlist. `rerankFrom` (id → original
    * vector — the corpus, a feature store, ...) supplies the CANDIDATE
    * vectors only; each query's own vector is its `vecCol` in `queries`.
    * A query whose id is missing from `rerankFrom`, or whose copy there
    * differs, is still reranked against its batch vector.
    * `excludeSelf` drops qid = nid matches when the query batch IS the
    * indexed corpus (the [[Similarity.ivfPqTopK]] semantics — that
    * operator is [[fitIvfPq]] + this probe with `excludeSelf`, so fit →
    * save → load → probe over the same corpus returns its rows).
    *
    * `idFilter` is the FILTERED-search predicate (production vector
    * search is almost always "top-k WHERE lang = 'en' AND source = x"):
    * a Column over the index row id `__nid`, applied to the codes scan
    * BEFORE candidate ranking — so every query's k is filled from
    * matching survivors, where post-filtering a plain top-k would
    * silently under-fill it. Because it lands directly on the codes
    * relation, Catalyst pushes it into the parquet scan (and under
    * [[probeIvfPqPruned]] it composes with the cell-pruning IN filter).
    * Metadata predicates resolve to an id predicate/id set caller-side;
    * for a metadata id set too large for an IN list, semi-join the codes
    * instead: `index.copy(codes = index.codes.join(allowedIds,
    * col("__nid") === col(idCol), "left_semi"))` — same semantics, the
    * broadcast-semi-join shape.
    */
  def probeIvfPq(
      index: IvfPqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 2,
      rerank: Int = 0,
      rerankFrom: Option[DataFrame] = None,
      excludeSelf: Boolean = false,
      idFilter: Option[org.apache.spark.sql.Column] = None
  ): DataFrame = {
    require(
      rerank <= k || rerankFrom.nonEmpty,
      "rerank > k needs rerankFrom (id, vector) to fetch originals from"
    )
    // no snapshot needed (round 18): the map-side cell-rank pass is read
    // exactly once here, and it no longer hides a cells× corpus shuffle
    val probed = Similarity
      .cellRanks(
        Similarity.quantizedBase(queries, idCol, vecCol),
        index.fit,
        nprobe
      )
    def vecs(df: DataFrame): DataFrame = df.select(col(idCol).as("__oid"), col(vecCol).as("__ov"))
    val idxCodes = idFilter.map(index.codes.filter).getOrElse(index.codes)
    Similarity.pqAdcRank(
      probed.select(col("__id").as("__qid"), col("__qv"), col("__cid")),
      idxCodes,
      index.fit,
      index.pqM,
      index.pqKs,
      k,
      rerank,
      vecs(rerankFrom.getOrElse(queries)),
      vecs(queries),
      excludeSelf
    )
  }

  /** [[probeIvfPq]] for SMALL query batches — the online-serving shape:
    * one driver pass over the batch and at most two Spark jobs, returning
    * a local relation of the same rows and schema as [[probeIvfPq]] on
    * the same batch.
    *   1. The batch is collected once (no job for a local batch; batch ×
    *      dim values — small by this method's contract). Each vector is
    *      quantized and its `nprobe` cells ranked on the driver with the
    *      same [[graft.functions.NativeMath.quantizeInt8]] and
    *      [[graft.functions.NativeMath.cellTopK]] kernels [[probeIvfPq]]
    *      evaluates in Spark, against the handle's driver-side
    *      [[Similarity.FitTables]] (no `centroids/` or `codebooks/` scan).
    *      The rows of one qid form one query group, as they share one
    *      window partition in the join form. The map from probed cell to
    *      its (group, qid, quantized vector) rows reaches Spark as one
    *      broadcast value, destroyed when the probe returns.
    *   2. Shortlist, one job (execution `probeIvfPqPruned.shortlist`): the
    *      codes scan filtered by a LITERAL cell-id IN list, each index row
    *      reconstructed once and scored against its cell's queries, and a
    *      bounded top max(k, rerank) per group kept per partition
    *      ([[Similarity.adcShortlist]]); the driver merges them.
    *   3. Rerank, one job and only when `rerank > k` (execution
    *      `probeIvfPqPruned.fetch`): the shortlisted ids' vectors are
    *      fetched from `rerankFrom` through a literal id filter and scored
    *      on the driver by the [[graft.functions.NativeMath.cosine]] kernel
    *      `array_cosine` calls. It keeps the join form's inner-join
    *      semantics: an id `rerankFrom` holds twice yields two rows, a
    *      missing one none, and the query vectors come from the batch.
    * `maxProbedCells` caps the IN-list size: the guard fires after the
    * batch is collected and ranked, so it protects plan
    * quality (a huge literal IN list defeats the pruning win), not driver
    * memory — a corpus-sized batch belongs in [[probeIvfPq]]. Because
    * [[save]] partitions the codes by `__cid`, the filter becomes STATIC
    * partition pruning at planning time: the scan touches only the probed
    * cells' files — for a 10-vector batch at nprobe = 2 over 1,024 cells,
    * at most 20/1,024 of a ~3 TB index — where [[probeIvfPq]]'s join form
    * leaves file pruning to runtime (DPP/AQE).
    * `idFilter` is the filtered-search predicate — see [[probeIvfPq]];
    * here it composes with the cell IN list on the same scan, so a
    * filtered online probe still reads only the probed cells' files.
    */
  def probeIvfPqPruned(
      index: IvfPqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 2,
      rerank: Int = 0,
      rerankFrom: Option[DataFrame] = None,
      excludeSelf: Boolean = false,
      maxProbedCells: Int = 4096,
      idFilter: Option[org.apache.spark.sql.Column] = None
  ): DataFrame = {
    require(
      rerank <= k || rerankFrom.nonEmpty,
      "rerank > k needs rerankFrom (id, vector) to fetch originals from — " +
        "a small online batch is almost never a valid rerank vector source"
    )
    val batch = queries.select(col(idCol).as("__oid"), col(vecCol).as("__ov"))
    val idField = batch.schema("__oid")
    lazy val vcode = NativeMath.typeCode(batch.schema("__ov").dataType)
    val keyOf = UnsafeProjection.create(Seq(BoundReference(0, idField.dataType, nullable = true)))
    val groups = Similarity.collectRows(batch).groupBy(r => keyOf(r).copy()).values.toIndexedSeq
    def qid(g: Int): Any = { val r = groups(g).head; if (r.isNullAt(0)) null else r.get(0, idField.dataType) }
    val byCell = scala.collection.mutable.LinkedHashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Any]]
    for ((members, g) <- groups.zipWithIndex; r <- members if !r.isNullAt(1)) {
      val qv = Similarity.quantizedLocal(r.getArray(1), vcode)
      Similarity.cellsLocal(qv, NativeMath.TDouble, index.fit, nprobe).foreach { c =>
        byCell.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty) += new GenericInternalRow(Array[Any](g, qid(g), qv))
      }
    }
    require(
      byCell.size <= maxProbedCells,
      s"batch probes ${byCell.size} cells > maxProbedCells=$maxProbedCells — " +
        "use probeIvfPq (join form) for corpus-sized batches"
    )
    val nidField = index.codes.schema("__nid")
    val shortlists =
      if (byCell.isEmpty) Array.fill(groups.size)(Seq.empty[InternalRow])
      else {
        val cellPruned = index.codes.filter(col("__cid").isin(byCell.keys.map(_.toInt).toSeq: _*))
        val prunedCodes = idFilter.map(cellPruned.filter).getOrElse(cellPruned)
        val probeType = StructType(
          Seq(StructField("__g", IntegerType, nullable = false), idField.copy(name = "__qid"), StructField("__qv", ArrayType(DoubleType)))
        )
        val probesType = MapType(LongType, ArrayType(probeType, containsNull = false), valueContainsNull = false)
        val probes = Similarity.BroadcastRow(
          StructField("__probes", probesType, nullable = false) ->
            new ArrayBasedMapData(
              new GenericArrayData(byCell.keys.toArray[Any]),
              new GenericArrayData(byCell.values.map(ps => new GenericArrayData(ps.toArray)).toArray[Any])
            )
        )
        try Similarity.adcShortlist(prunedCodes, probes, groups.size, index.fit, index.pqM, index.pqKs, math.max(k, rerank), excludeSelf)
        finally probes.destroy()
      }
    val ranked =
      if (rerank <= k) shortlists
      else {
        val candidates = rerankFrom.get.select(col(idCol).as("__oid"), col(vecCol).as("__ov"))
        val nidType = nidField.dataType
        val nids = shortlists.iterator.flatten.filterNot(_.isNullAt(1)).map(_.get(1, nidType)).toSeq.distinct
        val fetched =
          if (nids.isEmpty) Nil
          else
            Similarity.collectRows(
              candidates
                .filter(col("__oid").isin(nids.map(CatalystTypeConverters.convertToScala(_, nidType)): _*))
                .select(col("__oid").cast(nidType), col("__ov")),
              "probeIvfPqPruned.fetch"
            )
        def vec(r: InternalRow): ArrayData = if (r.isNullAt(1)) null else r.getArray(1)
        val vecsOf = fetched.groupBy(_.get(0, nidType)).map { case (nid, rs) => nid -> rs.map(vec) }
        val ocode = NativeMath.typeCode(candidates.schema("__ov").dataType)
        val ord = Similarity.rankOrder(nidType)
        shortlists.zipWithIndex.map { case (shortlist, g) =>
          // the join form joins the query vectors on qid: a null qid drops
          if (qid(g) == null) Seq.empty[InternalRow]
          else {
            val qvs = groups(g).map(vec)
            val scored = for {
              s <- shortlist if !s.isNullAt(1)
              nid = s.get(1, nidType)
              ov <- vecsOf.getOrElse(nid, Nil)
              qv <- qvs
            } yield {
              val exact = if (qv == null || ov == null) null else NativeMath.cosine(qv, ov, vcode, ocode)
              new GenericInternalRow(Array[Any](exact, nid)): InternalRow
            }
            scored.sorted(ord).take(k)
          }
        }
      }
    val rows = for {
      (rs, g) <- ranked.toSeq.zipWithIndex
      (r, i) <- rs.take(k).zipWithIndex
    } yield new GenericInternalRow(Array[Any](qid(g), if (r.isNullAt(1)) null else r.get(1, nidField.dataType), i + 1L)): InternalRow
    GraftSqlShim.localRelation(
      queries.sparkSession,
      StructType(Seq(idField.copy(name = "qid"), nidField.copy(name = "nid"), StructField("rank", LongType, nullable = false))),
      rows
    )
  }
}
