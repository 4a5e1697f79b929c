package graft.llmops

import java.net.URI

import graft.SparkTestSession
import graft.contracts.ContractViolation
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** A deliberately NON-ATOMIC local filesystem for the lease race spec:
  * create-no-overwrite is last-write-wins (the S3A-style check-then-put
  * shape), and a test hook lands a "concurrent acquirer's" lease content
  * right after ours closes — between our create and our read-back, the
  * exact interleaving [[AnnIndex.acquireLease]]'s verify exists to detect.
  */
class LastWinsFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("lastwins:///")

  private def usurpOnClose(f: Path, raw: FSDataOutputStream): FSDataOutputStream =
    if (f.getName != "_MAINTAINER") raw
    else {
      val localPath = pathToFile(f).toPath
      new FSDataOutputStream(
        new java.io.FilterOutputStream(raw) {
          override def close(): Unit = {
            super.close()
            // the simulated concurrent winner: its create lands right after
            // ours committed, before our read-back runs
            LastWinsFileSystem.usurpMaintainerWith.foreach { content =>
              java.nio.file.Files.write(
                localPath,
                content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              )
            }
          }
        },
        null
      )
    }

  // RawLocalFileSystem routes FileSystem.create(Path, boolean) through THIS
  // override (not the FsPermission one) — intercept both to be safe
  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable
  ): FSDataOutputStream =
    // overwrite = false is CHECK-THEN-PUT on this store: the put always lands
    usurpOnClose(f, super.create(f, true, bufferSize, replication, blockSize, progress))

  override def create(
      f: Path,
      permission: FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable
  ): FSDataOutputStream =
    usurpOnClose(f, super.create(f, permission, true, bufferSize, replication, blockSize, progress))
}

object LastWinsFileSystem {
  @volatile var usurpMaintainerWith: Option[String] = None
}

/** Operational hardening of the persisted ANN index: the lease read-back
  * verify for non-atomic stores, the bounded transient-read retry behind
  * the tombstone meta swap, reader-visible generation pinning, the
  * absorbed-batch record carried across a generational save-over, and the
  * table contracts every index read goes through.
  */
class AnnIndexHardeningSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def fixture(n: Int, seedOffset: Int = 0): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(97 + seedOffset)
    (0 until n)
      .map { i =>
        (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
      }
      .toDF("vec_id", "v")
      .localCheckpoint(true)
  }

  test("acquireLease read-back verify: the loser of a non-atomic create race detects the usurpation and throws before any write") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lastwins.impl", classOf[LastWinsFileSystem].getName)
    val localDir = java.nio.file.Files.createTempDirectory("graft_lease_na").toString
    val dir = s"lastwins:$localDir"
    // uncontended acquire through the non-atomic store: the read-back sees
    // our own epoch+owner line and the grant stands
    val epoch = AnnIndex.acquireLease(spark, dir, "test-op", "solo", None, createDir = true)
    assert(epoch == 1L)
    assert(AnnIndex.maintainerLease(spark, dir).contains((1L, "solo")))
    java.nio.file.Files.delete(java.nio.file.Paths.get(localDir, "_MAINTAINER"))
    // contended: a concurrent acquirer's create lands between ours and the
    // read-back (create-no-overwrite is last-write-wins here, so BOTH
    // creates "succeeded" — the pre-r18 silent double grant). The loser
    // must fail BEFORE any index write and leave the winner's lease alone.
    LastWinsFileSystem.usurpMaintainerWith = Some("epoch=99 owner=concurrent-acquirer")
    try {
      val hit = intercept[IllegalStateException] {
        AnnIndex.acquireLease(spark, dir, "compact", "loser", None, createDir = false)
      }
      assert(hit.getMessage.contains("lost the lease create race"))
      assert(hit.getMessage.contains("concurrent-acquirer"))
    } finally LastWinsFileSystem.usurpMaintainerWith = None
    assert(
      AnnIndex.maintainerLease(spark, dir).contains((99L, "concurrent-acquirer")),
      "the usurping winner's lease must stand untouched"
    )
  }

  test("retryTransientRead: bounded retry on missing-file shapes only, everything else propagates immediately") {
    // a transient FileNotFound (the tombstone meta-swap window) retries
    var calls = 0
    val got = AnnIndex.retryTransientRead("t", attempts = 3, backoffMs = 1L) {
      calls += 1
      if (calls < 3) throw new java.io.FileNotFoundException("meta swap window")
      42
    }
    assert(got == 42 && calls == 3)
    // Spark surfaces task-time misses WRAPPED — the cause chain is walked
    var calls2 = 0
    val got2 = AnnIndex.retryTransientRead("t", attempts = 2, backoffMs = 1L) {
      calls2 += 1
      if (calls2 < 2) throw new RuntimeException("outer", new java.io.FileNotFoundException("inner"))
      7
    }
    assert(got2 == 7 && calls2 == 2)
    // attempts exhausted: the final miss propagates unchanged (a genuinely
    // deleted index fails loudly instead of spinning)
    var calls3 = 0
    val out = intercept[java.io.FileNotFoundException] {
      AnnIndex.retryTransientRead("t", attempts = 2, backoffMs = 1L) {
        calls3 += 1
        throw new java.io.FileNotFoundException("gone")
      }
    }
    assert(calls3 == 2 && out.getMessage == "gone")
    // non-transient failures are NEVER retried
    var calls4 = 0
    intercept[IllegalStateException] {
      AnnIndex.retryTransientRead("t", attempts = 3, backoffMs = 1L) {
        calls4 += 1
        throw new IllegalStateException("real failure")
      }
    }
    assert(calls4 == 1)
  }

  test("generation pinning: load exposes its codes_v<N>, retainedGenerations is the pre-vacuum inspection") {
    val df = fixture(60)
    val dir = java.nio.file.Files.createTempDirectory("graft_genpin").toString
    val idx = AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    assert(idx.generation == AnnIndex.UnsavedGeneration, "an in-memory fit is pinned to no on-disk generation")
    AnnIndex.save(idx, dir)
    val pinned = AnnIndex.load(spark, dir) // the long-held serving reader
    assert(pinned.generation == 1)
    assert(AnnIndex.retainedGenerations(spark, dir) == Seq(1))
    AnnIndex.compact(spark, dir)
    AnnIndex.vacuum(spark, dir) // default retention window keeps the superseded generation
    assert(AnnIndex.retainedGenerations(spark, dir) == Seq(1, 2))
    assert(AnnIndex.load(spark, dir).generation == 2)
    // the operator check this API exists for: "is anything still serving
    // codes_vN?" answered with evidence before an aggressive vacuum
    assert(AnnIndex.retainedGenerations(spark, dir).contains(pinned.generation))
    AnnIndex.vacuum(spark, dir, keepGenerations = 0)
    assert(AnnIndex.retainedGenerations(spark, dir) == Seq(2))
    assert(
      !AnnIndex.retainedGenerations(spark, dir).contains(pinned.generation),
      "after the full reclaim the inspection reports the pinned generation gone"
    )
  }

  test("save over a committed index carries the absorbed-batch record: post-resave replays no-op, id reuse still inserts") {
    val df = fixture(54, seedOffset = 1)
    val b0 = (54 until 60).map(i => (i.toLong, Seq.fill(8)(0.5f))).toDF("vec_id", "v").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft_resave_sidecar").toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L)
    assert(AnnIndex.load(spark, dir).codes.count() == 60)
    // re-save over the live index with the UNION corpus (the quiesced
    // ingest shape): the superseded generation's batch-0 layer vanishes;
    // its ids-only fingerprint record must be carried into codes_v2
    val union = df.unionByName(b0)
    AnnIndex.save(
      AnnIndex.fitIvfPq(union, "vec_id", "v", cells = 3, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    assert(AnnIndex.load(spark, dir).codes.count() == 60)
    // (a) an at-least-once replay of the pre-resave batch is fingerprint-
    // detected and NO-OPS — pre-r18 the hwm reset made it silently
    // re-insert 6 rows the fresh corpus already contains; the match is a
    // certified replay, so it no-ops under strictReplay too
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L, strictReplay = true)
    assert(
      AnnIndex.load(spark, dir).codes.count() == 60,
      "a post-resave replay of an absorbed batch must not re-insert"
    )
    // (b) id REUSE for new data under a carried record is ambiguous:
    // strict refuses, the default warns with the evidence and INSERTS (a
    // re-save is the documented remedy for restarting the batch-id space)
    val freshData = Seq((3000L, Seq.fill(8)(3.0f))).toDF("vec_id", "v")
    val strictHit = intercept[IllegalStateException] {
      AnnIndex.append(spark, dir, freshData, "vec_id", "v", batchId = 0L, strictReplay = true)
    }
    assert(strictHit.getMessage.contains("strictReplay"))
    assert(AnnIndex.load(spark, dir).codes.count() == 60, "the strict refusal must not write")
    AnnIndex.append(spark, dir, freshData, "vec_id", "v", batchId = 0L)
    assert(
      AnnIndex.load(spark, dir).codes.count() == 61,
      "mismatching content under a carried id is new data and must insert"
    )
    // (b2) an exact replay of the REUSED committed layer certifies against
    // the LAYER's content fingerprint (codes included — strictly stronger
    // evidence than the carried ids-only record, which mismatches): no-op
    // even under strictReplay — the committed-layer check must run BEFORE
    // the carried-record ambiguity check
    AnnIndex.append(spark, dir, freshData, "vec_id", "v", batchId = 0L, strictReplay = true)
    assert(AnnIndex.load(spark, dir).codes.count() == 61, "an exact replay of the reused layer must certify and no-op")
    // (c) a compact then records BOTH incarnations of batch 0 (the carried
    // pre-resave record and the reused layer's fingerprint) — a replay of
    // EITHER certifies and no-ops, even under strictReplay
    AnnIndex.compact(spark, dir)
    AnnIndex.append(spark, dir, b0, "vec_id", "v", batchId = 0L, strictReplay = true)
    AnnIndex.append(spark, dir, freshData, "vec_id", "v", batchId = 0L, strictReplay = true)
    assert(AnnIndex.load(spark, dir).codes.count() == 61)
  }

  private def savedIndex(df: org.apache.spark.sql.DataFrame, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    AnnIndex.save(
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8),
      dir
    )
    dir
  }

  /** Rewrite the parquet table at `path` as `f` of its current rows. */
  private def rewrite(path: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val next = f(spark.read.parquet(path)).localCheckpoint(true) // snapshot before the in-place overwrite
    next.coalesce(1).write.mode("overwrite").parquet(path)
  }

  test("a foreign or corrupt index table fails at load with a ContractViolation naming it") {
    import org.apache.spark.sql.functions.col
    val df = fixture(45, seedOffset = 2)
    def violation(dir: String): ContractViolation = intercept[ContractViolation](AnnIndex.load(spark, dir))

    val floatCentroids = savedIndex(df, "graft_contract_cv")
    rewrite(s"$floatCentroids/centroids")(_.withColumn("__cv", col("__cv").cast("array<float>")))
    val cv = violation(floatCentroids)
    assert(cv.getMessage.contains("table centroids") && cv.getMessage.contains("__cv"), cv.getMessage)

    val noKs = savedIndex(df, "graft_contract_meta")
    rewrite(s"$noKs/meta")(_.drop("pq_ks"))
    val meta = violation(noKs)
    assert(meta.getMessage.contains("table meta") && meta.getMessage.contains("pq_ks"), meta.getMessage)

    val longCodes = savedIndex(df, "graft_contract_codes")
    val fitLayer = s"$longCodes/codes_v1/__batch=${AnnIndex.FitBatchId}"
    val cells = new java.io.File(fitLayer).listFiles().filter(_.getName.startsWith("__cid=")).map(_.getName)
    cells.foreach(c => rewrite(s"$fitLayer/$c")(_.withColumn("__codes", col("__codes").cast("array<bigint>"))))
    val codes = violation(longCodes)
    assert(codes.getMessage.contains("table codes") && codes.getMessage.contains("__codes"), codes.getMessage)

    // the readers that do not load a handle go through the same contracts
    assert(intercept[ContractViolation](AnnIndex.maintenancePolicy(spark, noKs)).getMessage.contains("table meta"))
    assert(intercept[ContractViolation](AnnIndex.staleness(spark, longCodes)).getMessage.contains("table codes"))
    val intOccupancy = savedIndex(df, "graft_contract_occ")
    rewrite(s"$intOccupancy/occupancy")(_.withColumn("fit_n", col("fit_n").cast("int")))
    for (read <- Seq[String => Any](AnnIndex.staleness(spark, _), AnnIndex.maintenancePolicy(spark, _))) {
      val occ = intercept[ContractViolation](read(intOccupancy))
      assert(occ.getMessage.contains("table occupancy") && occ.getMessage.contains("fit_n"), occ.getMessage)
    }
  }

  /** Sorted string rows of `df`. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("the driver read of a fit table reads every data file and skips _SUCCESS, .crc and _temporary entries") {
    import org.apache.spark.sql.functions.col
    val df = fixture(48, seedOffset = 5)
    val dir = savedIndex(df, "graft_fit_files")
    val before = AnnIndex.load(spark, dir)
    val (cents, words) = (rows(before.centroids), rows(before.codebooks))
    def probe(idx: AnnIndex.IvfPqIndex): Seq[String] =
      rows(AnnIndex.probeIvfPqPruned(idx, df.limit(6), "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df)))
    val answers = probe(before)
    // each table rewritten as two data files: the first and second halves by id
    for ((table, key) <- Seq("centroids" -> "__cid", "codebooks" -> "__cid", "occupancy" -> "__cid")) {
      val path = s"$dir/$table"
      val all = spark.read.parquet(path).localCheckpoint(true)
      val cut = all.agg(org.apache.spark.sql.functions.max(col(key))).head().getInt(0)
      all.filter(col(key) < cut).coalesce(1).write.mode("overwrite").parquet(path)
      all.filter(col(key) >= cut).coalesce(1).write.mode("append").parquet(path)
      val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 2, s"fixture: $table must hold two data files, holds $files")
    }
    // entries a parquet scan ignores: the job marker and checksums Spark
    // wrote, plus a crashed writer's leftovers that are not parquet at all
    val centroids = new java.io.File(s"$dir/centroids")
    assert(centroids.listFiles().exists(_.getName == "_SUCCESS") && centroids.listFiles().exists(_.getName.endsWith(".crc")))
    val leftover = new java.io.File(centroids, "_temporary/0/_temporary/attempt_0/part-00000.parquet")
    leftover.getParentFile.mkdirs()
    java.nio.file.Files.write(leftover.toPath, "not parquet".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(centroids, ".part-00009.parquet.crc").toPath, "not a checksum".getBytes("UTF-8"))

    val (after, m) = graft.QueryMetrics.measure(spark, "load-two-files")(AnnIndex.load(spark, dir))
    assert(m.jobs == 0, s"load launched ${m.jobs} jobs")
    assert(rows(after.centroids) == cents, "every centroid row must load from the two files")
    assert(rows(after.codebooks) == words, "every codeword row must load from the two files")
    assert(probe(after) == answers, "a handle loaded from split fit tables must probe like before")
    assert(AnnIndex.staleness(spark, dir).filter(col("added") =!= 0).count() == 0, "every occupancy row must load")
  }

  /** The fit tables an index root or self-contained generation holds. */
  private val FitLayerTables = Seq("meta", "centroids", "codebooks", "occupancy")

  /** What the footer of the one data file of the table at `path` records:
    * Spark's row metadata (the schema JSON a contract check reads), the
    * parquet schema and the column codecs.
    */
  private def footerOf(path: String): (String, String, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val files = new java.io.File(path).listFiles().filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    assert(files.length == 1, s"$path must hold one data file, holds ${files.map(_.getName).mkString(", ")}")
    val footer = org.apache.parquet.hadoop.ParquetFileReader
      .readFooter(spark.sparkContext.hadoopConfiguration, new Path(files.head.getPath))
    val meta = footer.getFileMetaData
    (
      meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
      meta.getSchema.toString,
      footer.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.toString)).distinct.toSeq
    )
  }

  /** A copy of the index directory `dir` whose fit tables under `sub`
    * (the root, or a generation) are rewritten by Spark jobs the way the
    * index used to write them: `meta` from `idx`'s knobs, `centroids` and
    * `codebooks` from `idx`'s fit, `occupancy` as a count per cell of the
    * codes written under `sub`'s fit layer.
    */
  private def sparkWritten(dir: String, sub: String, idx: AnnIndex.IvfPqIndex): String = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val ref = java.nio.file.Files.createTempDirectory("graft_spark_tables").toString + "/index"
    val conf = spark.sparkContext.hadoopConfiguration
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    org.apache.hadoop.fs.FileUtil.copy(local, new Path(dir), local, new Path(ref), false, conf)
    val root = if (sub.isEmpty) ref else s"$ref/$sub"
    Seq((5, idx.dim, idx.cells, idx.pqM, idx.pqKs, idx.seed))
      .toDF("version", "dim", "cells", "pq_m", "pq_ks", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    idx.centroids.coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    idx.codebooks.coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")
    val gen = if (sub.isEmpty) s"$ref/codes_v1" else root
    spark.read.parquet(s"$gen/__batch=${AnnIndex.FitBatchId}")
      .groupBy(col("__cid").cast("int").as("__cid"))
      .agg(count(lit(1)).as("fit_n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/occupancy")
    ref
  }

  /** Every fit table under `sub` of `dir` equals the one under `sub` of
    * `ref`: the same rows and the same footer.
    */
  private def assertSameTables(dir: String, ref: String, sub: String): Unit =
    FitLayerTables.foreach { t =>
      val (a, b) = (Seq(dir, sub, t).filter(_.nonEmpty).mkString("/"), Seq(ref, sub, t).filter(_.nonEmpty).mkString("/"))
      assert(rows(spark.read.parquet(a)) == rows(spark.read.parquet(b)), s"$sub/$t: rows differ from the Spark-written table")
      assert(footerOf(a) == footerOf(b), s"$sub/$t: footer differs from the Spark-written table")
    }

  /** The staleness and maintenance ledgers `dir` and `ref` answer, and their probes. */
  private def assertSameLedgers(dir: String, ref: String, batch: org.apache.spark.sql.DataFrame): Unit = {
    assert(rows(AnnIndex.staleness(spark, dir)) == rows(AnnIndex.staleness(spark, ref)), "staleness differs")
    assert(rows(AnnIndex.maintenancePolicy(spark, dir)) == rows(AnnIndex.maintenancePolicy(spark, ref)), "maintenancePolicy differs")
    def probe(d: String): Seq[String] =
      rows(AnnIndex.probeIvfPqPruned(AnnIndex.load(spark, d), batch, "vec_id", "v", k = 3, nprobe = 2))
    assert(probe(dir) == probe(ref), "probes of the two indexes differ")
  }

  test("fit tables written on the driver equal Spark's writes of them: save, refit, tombstone and compact, null and emptied cells") {
    import org.apache.spark.sql.functions.{col, lit}
    // three clusters of exact duplicates: five k-means cells keep at most
    // three after a Lloyd round; and one null vector, indexed under a null cell
    val base = (0 until 36).map(i => (i.toLong, Seq.tabulate(8)(j => ((i % 3) * 5 + j % 2).toFloat)))
    val df = (base.map { case (i, v) => (i, Option(v)) } :+ ((36L, None: Option[Seq[Float]]))).toDF("vec_id", "v").localCheckpoint(true)
    def fit(corpus: org.apache.spark.sql.DataFrame, seed: Long): AnnIndex.IvfPqIndex =
      AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 5, iters = 2, seed = seed, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val idx = fit(df, 42L)
    assert(idx.centroids.count() < 5, "fixture: Lloyd's must empty a cell")
    val dir = java.nio.file.Files.createTempDirectory("graft_driver_tables").toString
    val (_, saved) = graft.QueryMetrics.measure(spark, "save")(AnnIndex.save(idx, dir))
    assert(saved.jobs <= 2, s"a fresh save launched ${saved.jobs} jobs, expected at most 2 (the codes shuffle and write)")
    assert(spark.read.parquet(s"$dir/occupancy").filter(col("__cid").isNull).count() == 1, "fixture: a null cell")
    val probes = df.filter(col("vec_id") < 4).localCheckpoint(true)
    val saveRef = sparkWritten(dir, "", idx)
    assertSameTables(dir, saveRef, "")
    assertSameLedgers(dir, saveRef, probes)

    // a refit over a v4 root: the generation's own fit tables, and the
    // root meta's version field tombstoned
    rewrite(s"$dir/meta")(_.withColumn("version", lit(4)))
    val survivors = df.filter(col("vec_id") =!= 0L)
    AnnIndex.refit(spark, dir, survivors, "vec_id", "v", cells = 5, iters = 2, seed = 7L, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val refitRef = sparkWritten(dir, "codes_v2", fit(survivors, 7L))
    assertSameTables(dir, refitRef, "codes_v2")
    assertSameLedgers(dir, refitRef, probes)
    assert(rows(spark.read.parquet(s"$dir/meta")) == rows(spark.read.parquet(s"$saveRef/meta")), "the tombstoned root meta")
    assert(footerOf(s"$dir/meta") == footerOf(s"$saveRef/meta"), "the tombstoned root meta's footer")

    // compact carries the refit generation's fit tables without a job, as
    // Spark wrote the copies it read through their contracts
    val (_, compacted) = graft.QueryMetrics.measure(spark, "compact")(AnnIndex.compact(spark, dir))
    assert(compacted.jobs <= 2, s"compact launched ${compacted.jobs} jobs, expected at most 2 (the codes shuffle and write)")
    val copies = java.nio.file.Files.createTempDirectory("graft_spark_copies").toString
    FitLayerTables.foreach { t =>
      spark.read.parquet(s"$dir/codes_v2/$t").coalesce(1).write.parquet(s"$copies/$t")
      assert(rows(spark.read.parquet(s"$dir/codes_v3/$t")) == rows(spark.read.parquet(s"$dir/codes_v2/$t")), s"compact's $t rows")
      assert(footerOf(s"$dir/codes_v3/$t") == footerOf(s"$copies/$t"), s"compact's $t footer")
    }
    assert(rows(AnnIndex.staleness(spark, dir)) == rows(AnnIndex.staleness(spark, refitRef)), "staleness after compact")
  }

  test("contract-pinned load accepts a v4 root and string or int __nid ids, and probes like the fitted handle") {
    import org.apache.spark.sql.functions.{col, lit}
    val v4 = savedIndex(fixture(45, seedOffset = 3), "graft_contract_v4")
    val v5Handle = AnnIndex.load(spark, v4)
    rewrite(s"$v4/meta")(_.withColumn("version", lit(4)))
    // the v4 root's fit is read on the driver like a v5 one: no job
    val (v4Handle, v4Load) = graft.QueryMetrics.measure(spark, "load-v4")(AnnIndex.load(spark, v4))
    assert(v4Load.jobs == 0, s"loading a v4 root launched ${v4Load.jobs} jobs")
    assert(v4Handle.codes.count() == 45)
    assert(rows(v4Handle.centroids) == rows(v5Handle.centroids) && rows(v4Handle.codebooks) == rows(v5Handle.codebooks))
    for (idType <- Seq("string", "int")) {
      val df = fixture(45, seedOffset = 4).withColumn("vec_id", col("vec_id").cast(idType)).localCheckpoint(true)
      val fitted = AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_contract_$idType").toString
      AnnIndex.save(fitted, dir)
      val loaded = AnnIndex.load(spark, dir)
      assert(loaded.codes.schema("__nid").dataType.simpleString == idType)
      val batch = df.limit(4).localCheckpoint(true)
      def probe(idx: AnnIndex.IvfPqIndex): Seq[String] = AnnIndex
        .probeIvfPqPruned(idx, batch, "vec_id", "v", k = 3, nprobe = 2, rerank = 10, rerankFrom = Some(df))
        .collect()
        .map(_.toString)
        .sorted
        .toSeq
      assert(probe(loaded) == probe(fitted), s"$idType ids: a loaded handle must probe like the fitted one")
    }
  }
}
