package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.{Failure, Try}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.io.TableIO
import graft.model.InputDoc

/** Per-partition checkpoint/resume with lineage + span/char-count metrics
  * (north rule: "a killed run resumes idempotently").
  *
  * Mirrors the reference's cache-first resume (pickle cache per page,
  * src/layout/detector.py:168-205 + src/layout_ocr.py:352-379) lifted to
  * Iceberg-partition granularity: the corpus lives in (or is staged once
  * into) the bucket(doc_id)-partitioned [[TableIO]] layout; each bucket is
  * processed independently from a PRUNED scan (PartitionFilters on the
  * bucket column — the input is read once per bucket, never rescanned in
  * full) and COMMITTED atomically by writing a manifest AFTER its parquet
  * output is complete. On restart, buckets with a manifest are skipped;
  * a bucket without one is rewritten from scratch (overwrite -> output is
  * idempotent, no duplicate or missing spans).
  *
  * Read amplification: one full pass to stage (skipped when the input is
  * already bucket-partitioned, as an Iceberg table would be), then exactly
  * one pruned read per bucket — O(1) total scans of the corpus, vs
  * O(nBuckets) for a naive filter-per-bucket loop over a flat table.
  *
  * On a real cluster the same protocol runs against the object store /
  * Iceberg snapshots; buckets are Iceberg partitions and the manifest is
  * the snapshot commit. Driver-side bookkeeping is O(buckets), not O(docs).
  */
object Checkpoint {

  final case class BucketManifest(bucket: Int, nDocs: Long, spanCount: Long, charCount: Long,
      errorCount: Long)

  def bucketOf(docId: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(docId), lit(nBuckets)).cast("int")

  /** Where `run` stages a non-partitioned input (idempotent, `_SUCCESS`
    * marks completion). A production Iceberg corpus is already laid out
    * this way and skips staging entirely (use [[runPartitioned]]). */
  def stagedCorpusPath(outDir: String): String = s"$outDir/_staged_corpus"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def committedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val f = fs(spark, outDir)
    val commitsDir = new Path(outDir, "_commits")
    if (!f.exists(commitsDir)) return Set.empty
    f.listStatus(commitsDir).toSet[org.apache.hadoop.fs.FileStatus]
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt
      }
  }

  private def writeManifest(spark: SparkSession, outDir: String, m: BucketManifest): Unit = {
    val f = fs(spark, outDir)
    val commitsDir = new Path(outDir, "_commits")
    f.mkdirs(commitsDir)
    val tmp = new Path(commitsDir, s".bucket-${m.bucket}.json.tmp")
    val dst = new Path(commitsDir, s"bucket-${m.bucket}.json")
    val out = f.create(tmp, true)
    val json = s"""{"bucket":${m.bucket},"n_docs":${m.nDocs},"span_count":${m.spanCount},""" +
      s""""char_count":${m.charCount},"error_count":${m.errorCount}}"""
    out.write(json.getBytes("UTF-8"))
    out.close()
    f.rename(tmp, dst) // atomic commit point
  }

  def readManifests(spark: SparkSession, outDir: String): Vector[BucketManifest] = {
    val f = fs(spark, outDir)
    committedBuckets(spark, outDir).toVector.sorted.map { b =>
      val p = new Path(new Path(outDir, "_commits"), s"bucket-$b.json")
      val in = f.open(p)
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      in.close()
      def field(k: String): Long =
        s""""$k":(-?\\d+)""".r.findFirstMatchIn(txt).flatMap(_.group(1).toLongOption)
          .getOrElse(throw new IllegalStateException(
            s"manifest $p: field '$k' is missing or malformed"))
      BucketManifest(b, field("n_docs"), field("span_count"), field("char_count"),
        field("error_count"))
    }
  }

  /** Manifest-metrics strategy (VERDICT_r03 #6, measured in BASELINE.md):
    *  - [[MetricsReadBack]]: after the two writes, re-read the durable
    *    parquet to compute every metric — validates 100% of the written
    *    bytes before the commit point, at the price of one extra full
    *    read of the OUTPUT per bucket.
    *  - [[MetricsObserve]]: metrics ride the write jobs as observe()
    *    aggregates (zero extra scan). Durability is checked on the driver
    *    without a job: the committer's _SUCCESS markers, then the row
    *    counts in the footers of every committed part file
    *    ([[footerRowCount]]) must equal the observed span and error
    *    counts. Falls back to read-back for a bucket whose observation did
    *    not deliver (an entirely empty bucket under AQE — rare, and cheap
    *    to re-read by definition) or whose committer wrote no _SUCCESS
    *    marker (e.g. marksuccessfuljobs=false on object stores). */
  sealed trait MetricsMode
  case object MetricsReadBack extends MetricsMode
  case object MetricsObserve extends MetricsMode

  /** Rows in the parquet part files directly under `dir`, summed from
    * their footers on the driver (no Spark job). Hidden entries
    * (`_SUCCESS`, `_temporary`, `.crc` files) are not part files. */
  def footerRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** `explode` of the struct array `array` as flat columns after `keep`,
    * in encoder order. explode makes the element struct nullable; the
    * encoder's non-nullable fields are coalesced with zero so the parquet
    * footer keeps them `required` (the output schema is the encoder's). */
  private def explodeFields(results: DataFrame, array: String, keep: String*): DataFrame = {
    val elem = results.schema(array).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val fields = elem.fields.toSeq.map { f =>
      val c = col(s"e.${f.name}")
      (if (f.nullable) c else coalesce(c, lit(0).cast(f.dataType))).as(f.name)
    }
    results.select(keep.map(col) :+ explode(col(array)).as("e"): _*)
      .select(keep.map(col) ++ fields: _*)
  }

  /** Extract one bucket's docs, write its span partition AND its
    * conversion-error sidecar, and return the manifest to commit (metrics
    * per `metricsMode` — both modes validate durability before the
    * commit point, at different read-amplification/assurance trades).
    * The results are cached once for the two write jobs, which project
    * them columnarly: spans as `explode(spans)`, errors as `doc_id` plus
    * `explode(errors)` (a scan of two cached columns). */
  private def processBucket(bucketLines: Dataset[(String, Array[String], Array[Int])],
      b: Int, outDir: String, runningHeadThreshold: Double,
      metricsMode: MetricsMode): BucketManifest = {
    val spark = bucketLines.sparkSession
    val results = Extract.runLines(bucketLines, runningHeadThreshold).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val path = s"$outDir/bucket=$b"
      // underscore prefix: partition discovery over $outDir must keep
      // seeing ONE consistent bucket=N layout (spark.read.parquet(outDir)
      // is the downstream contract); _errors is metadata, like _commits
      val errPath = s"$outDir/_errors/bucket=$b"
      val errors = explodeFields(results, "errors", "doc_id")

      def readBack(): BucketManifest = {
        val row = spark.read.parquet(path)
          .agg(count(lit(1)).as("span_count"), sum(length(col("text"))).as("char_count"),
            count_distinct(col("doc_id")).as("n_docs"))
          .head()
        val errorCount = spark.read.parquet(errPath).count()
        BucketManifest(b,
          row.getAs[Long]("n_docs"), row.getAs[Long]("span_count"),
          Option(row.getAs[java.lang.Long]("char_count")).map(_.toLong).getOrElse(0L),
          errorCount)
      }

      metricsMode match {
        case MetricsReadBack =>
          explodeFields(results, "spans").write.mode(SaveMode.Overwrite).parquet(path)
          errors.write.mode(SaveMode.Overwrite).parquet(errPath)
          readBack()
        case MetricsObserve =>
          // metrics ride the write jobs: n_docs counts docs that emit at
          // least one span (== the read-back count_distinct over spans)
          val docsObs = Observation()
          val spansObs = Observation()
          val errObs = Observation()
          explodeFields(results.observe(docsObs,
              sum(when(size(col("spans")) > 0, 1L).otherwise(0L)).as("n_docs")), "spans")
            .observe(spansObs, count(lit(1)).as("span_count"),
              sum(length(col("text"))).as("char_count"))
            .write.mode(SaveMode.Overwrite).parquet(path)
          errors.observe(errObs, count(lit(1)).as("error_count"))
            .write.mode(SaveMode.Overwrite).parquet(errPath)
          val docs = docsObs.get
          val spanAgg = spansObs.get
          val side = errObs.get
          val f = fs(spark, outDir)
          // A committer configured NOT to write markers must not brick
          // the default mode: a missing marker falls back to the full
          // read-back, which validates by reading the durable bytes.
          val markersOk = f.exists(new Path(path, "_SUCCESS")) &&
            f.exists(new Path(errPath, "_SUCCESS"))
          if (!markersOk || docs.isEmpty || spanAgg.isEmpty || side.isEmpty) readBack()
          else {
            val m = BucketManifest(b,
              docs("n_docs").asInstanceOf[Long],
              spanAgg("span_count").asInstanceOf[Long],
              Option(spanAgg("char_count")).collect { case l: java.lang.Long => l.toLong }
                .getOrElse(0L),
              side("error_count").asInstanceOf[Long])
            // durability: every committed part file's footer, exact counts
            for ((dir, rows) <- Seq(path -> m.spanCount, errPath -> m.errorCount)) {
              val durable = footerRowCount(spark, dir)
              require(durable == rows,
                s"durable parquet at $dir holds $durable rows, the write observed $rows")
            }
            m
          }
      }
    } finally results.unpersist()
  }

  /** One bucket's docs, NESTED-SCHEMA-PRUNED to what extraction actually
    * consumes, as a view over a SHARED corpus DataFrame: `bucket` is a
    * partition column, so the filter becomes a PartitionFilter at
    * planning time (asserted in SparkE2ESpec), while the file listing/
    * index is built ONCE for all buckets instead of once per bucket
    * (256 re-listings of a 100-TB table is driver-side pain for
    * nothing). The projection itself lives in [[TableIO.pruneLines]]. */
  def bucketLines(corpus: org.apache.spark.sql.DataFrame, b: Int)
      : Dataset[(String, Array[String], Array[Int])] =
    TableIO.pruneLines(corpus.where(col("bucket") === b))

  /** Bucket count present in a bucket(doc_id)-partitioned layout
    * (max bucket dir value + 1). The LAYOUT is ground truth: trusting a
    * caller's count against a table written with more buckets would
    * silently skip data, so runPartitioned always derives from here. */
  def detectBuckets(spark: SparkSession, path: String): Option[Int] = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) return None
    val vals = f.listStatus(p).toVector
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap(s => s.getPath.getName.stripPrefix("bucket=").toIntOption)
    // non-numeric partition dirs (e.g. __HIVE_DEFAULT_PARTITION__ from a
    // null doc_id) are ignored rather than aborting the run
    if (vals.isEmpty) None else Some(vals.max + 1)
  }

  /** Process all uncommitted buckets of an ALREADY bucket-partitioned
    * corpus (the TableIO layout / an Iceberg bucket(doc_id) table): each
    * bucket is a pruned partition read over one shared file index.
    *
    * `parallelism` > 1 keeps that many buckets in flight (Spark's
    * scheduler interleaves their jobs): a fixed pool of `parallelism`
    * threads takes the next bucket as soon as one finishes, so no bucket
    * waits for the slowest of a batch and one bucket's tail tasks do not
    * idle the cluster. After the first failure no queued bucket starts;
    * every started bucket is still awaited, so no writer outlives this
    * call (a caller's immediate resume never races one on the same
    * paths). Each bucket commits atomically via its own manifest, so
    * kill/rerun semantics do not depend on `parallelism` (buckets in
    * flight at a crash simply lack manifests and are redone).
    * `parallelism` <= 1 is a plain sequential loop.
    *
    * Every job of bucket N carries the description `extract:bucket=N`;
    * the caller's own job description is restored afterwards.
    *
    * `failAtBucket` injects a crash AFTER processing-but-before-commit of
    * the given bucket (test hook for the kill/rerun invariant). */
  def runPartitioned(spark: SparkSession, corpusPath: String, outDir: String,
      cfg: TableIO.Cfg = TableIO.Cfg(), runningHeadThreshold: Double = 0.5,
      failAtBucket: Int = -1, parallelism: Int = 1,
      metricsMode: MetricsMode = MetricsObserve): Vector[BucketManifest] = {
    val done = committedBuckets(spark, outDir)
    val corpus = spark.read.format(cfg.format).load(corpusPath)
    val nBuckets = detectBuckets(spark, corpusPath).getOrElse(cfg.nBuckets)
    val remaining = (0 until nBuckets).filterNot(done.contains)

    def one(b: Int): BucketManifest = {
      val sc = spark.sparkContext
      val callerDescription = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"extract:bucket=$b")
      try {
        val m = processBucket(bucketLines(corpus, b), b, outDir, runningHeadThreshold,
          metricsMode)
        if (b == failAtBucket)
          throw new RuntimeException(s"injected failure before committing bucket $b")
        writeManifest(spark, outDir, m)
        m
      } finally sc.setJobDescription(callerDescription) // null clears it
    }

    if (parallelism <= 1) remaining.map(one).toVector
    else {
      val pool = Executors.newFixedThreadPool(parallelism)
      val failed = new AtomicBoolean(false)
      try {
        val slots = remaining.map(b => pool.submit(new Callable[Option[BucketManifest]] {
          def call(): Option[BucketManifest] =
            if (failed.get) None
            else try Some(one(b)) catch { case e: Throwable => failed.set(true); throw e }
        }))
        val results = slots.map(s => Try(s.get())) // awaits every bucket
        results.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
        results.flatMap(_.get).toVector
      } finally pool.shutdown()
    }
  }

  /** Stage a flat input into the bucket-partitioned layout (one full pass,
    * skipped when already staged — `_SUCCESS` is the completion marker). */
  def stage(docs: Dataset[InputDoc], outDir: String, cfg: TableIO.Cfg): String = {
    val spark = docs.sparkSession
    val staged = stagedCorpusPath(outDir)
    val f = fs(spark, staged)
    if (!f.exists(new Path(staged, "_SUCCESS")))
      TableIO.writeDocs(docs, staged, cfg)
    staged
  }

  /** Checkpointed extraction from a flat Dataset: stages the corpus into
    * the partitioned layout once, then runs the pruned per-bucket loop.
    * Total input scans: 1 (stage) + 1 pruned read per bucket. */
  def run(docs: Dataset[InputDoc], outDir: String, nBuckets: Int = 16,
      runningHeadThreshold: Double = 0.5, failAtBucket: Int = -1,
      parallelism: Int = 1, format: String = "parquet",
      metricsMode: MetricsMode = MetricsObserve): Vector[BucketManifest] = {
    val cfg = TableIO.Cfg(format = format, nBuckets = nBuckets)
    val staged = stage(docs, outDir, cfg)
    runPartitioned(docs.sparkSession, staged, outDir, cfg, runningHeadThreshold, failAtBucket,
      parallelism, metricsMode)
  }
}
