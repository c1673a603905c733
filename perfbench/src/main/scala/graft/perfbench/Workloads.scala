package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Digest
import graft.analyze.Headings
import graft.functions.GraftColumns
import graft.io.TableIO
import graft.model.Heading
import graft.ops.Dedup
import graft.parse.PageParser
import graft.pipeline.{Checkpoint, Extract, ExtractRelational}

/** Order-independent fingerprint of a result: row count plus the sums of
  * the low and high 32 bits of each row's xxhash64 over its columns
  * (sorted by name). Two results with equal column types and equal
  * fingerprints are, up to hash collisions, the same multiset of rows. */
final case class Fp(rows: Long, lo: Long, hi: Long)

/** One timed pass: wall and process-CPU seconds of the engine call only
  * (the output check is outside both), whether the check passed, and the
  * heap in use after a forced GC once the pass is over. */
final case class PassOut(wallS: Double, cpuS: Double, ok: Boolean, heapMb: Double = 0.0)

object Util {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** (result, wall seconds, process CPU seconds) of `body`. */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9)
  }

  def medianOf(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def fpCols(columns: Seq[String]): Seq[Column] = {
    val h = xxhash64(columns.sorted.map(col): _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def fingerprint(df: DataFrame): Fp = {
    val c = fpCols(df.columns.toSeq)
    val r = df.agg(c.head, c.tail: _*).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Write `df` into the noop sink. The fingerprint rides the write job as
    * an observed metric, so checking the output costs no second run. */
  def noop(df: DataFrame): Fp = {
    val o = Observation()
    val c = fpCols(df.columns.toSeq)
    df.observe(o, c.head, c.tail: _*).write.format("noop").mode(SaveMode.Overwrite).save()
    val r = Await.result(o.future, 5.minutes)
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Write `df` into the noop sink with nothing observed (kernel probes). */
  def noopPlain(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** Cast `df`'s columns to the types of the same-named columns of `like`. */
  def castLike(df: DataFrame, like: DataFrame): DataFrame =
    df.select(like.schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach((x: Path) => Files.delete(x))
      finally s.close()
    }
  }
}

import Util._

/** A benchmark workload: its set-up, the expected output from an
  * independent path, one checked pass, and its per-layer metrics read
  * from the recorder after traced passes. */
trait Workload {
  def name: String
  /** Input documents one pass processes. */
  def docs: Long
  /** Set-up: generate the input from the seed and stage it through the
    * engine's own writers (timed as setup_s). */
  def stage(spark: SparkSession, dir: String): Unit
  /** Expected outputs from an independent path (untimed). */
  def prepare(spark: SparkSession, dir: String): Unit
  def pass(spark: SparkSession, dir: String, no: Int, rec: Recorder): PassOut
  /** Per-layer metrics of the traced passes so far, plus layer probes. */
  def layers(spark: SparkSession, dir: String, rec: Recorder, extractProbes: Boolean)
      : Map[String, Double]
  /** Whether this workload's own input feeds the io/parse/analyze/extract probes. */
  def feedsExtractProbes: Boolean
  /** Output checks that failed outside the passes (in layer probes). */
  var checksFailed = 0
  protected def spanName(call: String): String = s"$name:$call"
}

/** `Main extract`: Checkpoint.runPartitioned over a bucket(doc_id)-
  * partitioned corpus, 4 buckets in flight, each pass into a fresh
  * output directory that is checked and then deleted. */
final class ExtractCkpt(seed: Long, nDocs: Long, nBuckets: Int) extends Workload {
  val name = "extract_ckpt"
  def docs: Long = nDocs
  val feedsExtractProbes = true
  private def corpus(dir: String) = s"$dir/corpus"
  private val call = spanName("Checkpoint.runPartitioned")
  private var cols: Seq[String] = Nil
  private var expFp: Fp = _
  private var expSha = ""
  private var expTotals = (0L, 0L, 0L, 0L)
  private var outBytes = 0L

  def stage(spark: SparkSession, dir: String): Unit =
    Inputs.stageCorpus(spark, nDocs, seed, corpus(dir), nBuckets)

  def prepare(spark: SparkSession, dir: String): Unit = {
    val in = TableIO.readDocs(spark, corpus(dir))
    val spans = Extract.spans(in).toDF()
    cols = spans.columns.toSeq
    expFp = fingerprint(spans)
    expSha = Digest.corpusSha(spans, name)._2
    val t = Extract.run(in).toDF().agg(
      sum(when(size(col("spans")) > 0, 1L).otherwise(0L)), coalesce(sum(size(col("spans"))), lit(0L)),
      coalesce(sum(col("char_count")), lit(0L)), coalesce(sum(size(col("errors"))), lit(0L))).head()
    expTotals = (t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3))
  }

  def pass(spark: SparkSession, dir: String, no: Int, rec: Recorder): PassOut = {
    val out = s"$dir/out/pass-$no"
    try {
      val (ms, wall, cpu) = timed(rec.span(call, no)(
        Checkpoint.runPartitioned(spark, corpus(dir), out, parallelism = 4)))
      val totals = (ms.map(_.nDocs).sum, ms.map(_.spanCount).sum, ms.map(_.charCount).sum,
        ms.map(_.errorCount).sum)
      val written = spark.read.parquet(out).select(cols.map(col): _*)
      // the full sha256 digest once (on the warm-up pass), the fingerprint every pass
      val ok = ms.size == nBuckets && totals == expTotals && fingerprint(written) == expFp &&
        (no != 0 || Digest.corpusSha(written, name)._2 == expSha)
      outBytes = dirBytes(out)
      PassOut(wall, cpu, ok)
    } finally deleteDir(out)
  }

  def layers(spark: SparkSession, dir: String, rec: Recorder, extractProbes: Boolean)
      : Map[String, Double] = {
    val passes = rec.named(call)
    val totals = passes.map(rec.totals)
    val runS = medianOf(passes.map(_.seconds))
    val probes = Probes.extract(spark, corpus(dir), rec, name, sampleDocs = 200,
      jvm = extractProbes)
    val idle = passes.zip(totals).map { case (p, c) => 1.0 - c.runMs / 1000.0 / (p.seconds * 4) }
    val inBytes = dirBytes(corpus(dir))
    (if (extractProbes) probes else Map.empty[String, Double]) ++ Map(
      "checkpoint.run_s" -> runS,
      "checkpoint.self_s" -> (runS - probes("extract.dist_s")),
      "checkpoint.jobs" -> totals.last.jobs.toDouble,
      "checkpoint.jobs_per_bucket" -> totals.last.jobs.toDouble / nBuckets,
      "checkpoint.tasks" -> totals.last.tasks.toDouble,
      "checkpoint.executor_cpu_s" -> medianOf(totals.map(_.cpuNs / 1e9)),
      "checkpoint.idle_frac" -> medianOf(idle),
      "checkpoint.out_bytes" -> outBytes.toDouble,
      "checkpoint.out_bytes_per_in_byte" -> outBytes.toDouble / inBytes)
  }
}

/** ExtractRelational.spans with default arguments into the noop sink, over
  * a few dozen very wide documents (hundreds of pages each). */
final class ExtractLongdocRel(seed: Long, nDocs: Long, chunks: Int) extends Workload {
  val name = "extract_longdoc_rel"
  def docs: Long = nDocs
  val feedsExtractProbes = true
  private val nBuckets = 8
  private def corpus(dir: String) = s"$dir/corpus"
  private val call = spanName("ExtractRelational.spans")
  private var expFp: Fp = _

  def stage(spark: SparkSession, dir: String): Unit =
    Inputs.stageLongDocs(spark, nDocs, chunks, seed, corpus(dir), nBuckets)

  def prepare(spark: SparkSession, dir: String): Unit =
    expFp = fingerprint(Extract.spans(TableIO.readDocs(spark, corpus(dir))).toDF())

  def pass(spark: SparkSession, dir: String, no: Int, rec: Recorder): PassOut = {
    val (fp, wall, cpu) = timed(rec.span(call, no)(
      noop(ExtractRelational.spans(TableIO.readDocs(spark, corpus(dir))).toDF())))
    PassOut(wall, cpu, fp == expFp)
  }

  def layers(spark: SparkSession, dir: String, rec: Recorder, extractProbes: Boolean)
      : Map[String, Double] = {
    val passes = rec.named(call)
    val totals = passes.map(rec.totals)
    rec.flush()
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val probes =
      if (extractProbes) Probes.extract(spark, corpus(dir), rec, name, sampleDocs = 3, jvm = true)
      else Map.empty[String, Double]
    probes ++ Map(
      "relational.spans_s" -> medianOf(passes.map(_.seconds)),
      "relational.executor_cpu_s" -> medianOf(totals.map(_.cpuNs / 1e9)),
      "relational.exchanges" -> passes.last.plans.map(Plans.exchanges).maxOption.getOrElse(0).toDouble,
      "relational.shuffle_write_bytes" -> totals.last.shuffleWriteBytes.toDouble,
      "relational.spill_bytes" -> totals.last.spillBytes.toDouble,
      "relational.task_skew" -> medianOf(totals.map(_.widestStageSkew)),
      "relational.cached_bytes_after" -> cached.toDouble)
  }
}

/** The production dedup compositions into the noop sink over a seeded
  * `documents` table. */
final class NearDupDocs(seed: Long, nDocs: Int) extends Workload {
  val name = "neardup_docs"
  def docs: Long = nDocs.toLong
  val feedsExtractProbes = false
  private def table(spark: SparkSession, dir: String) = spark.read.parquet(s"$dir/documents")

  private def lshJaccard(d: DataFrame): DataFrame =
    Dedup.ngramJaccard(d, Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(d, bands = 8, shingleK = 8), maxBucket = 50), n = 3)

  /** (op, span name, composition) in pass order. */
  private val comps: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("exact_groups", "Dedup.exactDupGroups",
      d => Dedup.exactDupGroups(d.withColumn("doc_id", col("doc_id").cast("string")))),
    ("dup_coverage", "Dedup.duplicateCoverage",
      d => Dedup.duplicateCoverage(d, dupSpans(d))),
    ("jaccard", "Dedup.ngramJaccard", lshJaccard),
    ("simhash_pairs", "Dedup.simhashPairs", d => Dedup.simhashPairs(d)))

  /** Ops whose expected output comes from the DuckDB oracle of the frozen
    * harness's query of the same composition. */
  private val oracleQuery = Map(
    "exact_groups" -> "q_dedup_exact", "dup_spans" -> "q_dup_spans", "jaccard" -> "q_lsh_jaccard")

  private def dupSpans(d: DataFrame): DataFrame =
    Dedup.duplicateSpans(d, k = 8, hashFamily = "xxhash64")

  private var expected = Map.empty[String, Fp]
  private var lastFps = Map.empty[String, Fp]

  def stage(spark: SparkSession, dir: String): Unit =
    Inputs.stageDocuments(spark, nDocs, seed, s"$dir/documents")

  def prepare(spark: SparkSession, dir: String): Unit = {
    val d = table(spark, dir)
    val oracleDir = s"$dir/oracle"
    Files.createDirectories(Paths.get(oracleDir))
    oracleQuery.values.foreach { q =>
      Files.writeString(Paths.get(s"$oracleDir/$q.sql"), graft.SparkEntry.oracleSql(q)) }
    val py = new ProcessBuilder("python3", "perfbench/oracle.py", s"$dir/documents", oracleDir)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT).redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    // the uncapped block self-join instead of the capped pair generator
    val simhash = fingerprint(Dedup.simhashPairs(d, maxBucket = Int.MaxValue))
    require(py.waitFor() == 0, "DuckDB oracle failed")
    val like = comps.map { case (op, _, f) => op -> f(d) }.toMap + ("dup_spans" -> dupSpans(d))
    expected = oracleQuery.map { case (op, q) =>
      op -> fingerprint(castLike(spark.read.parquet(s"$oracleDir/$q.parquet"), like(op))) } ++ Map(
      // coverage of the oracle's spans instead of the engine's own
      "dup_coverage" -> fingerprint(Dedup.duplicateCoverage(d,
        castLike(spark.read.parquet(s"$oracleDir/q_dup_spans.parquet"), like("dup_spans")))),
      "simhash_pairs" -> simhash)
  }

  def pass(spark: SparkSession, dir: String, no: Int, rec: Recorder): PassOut = {
    val d = table(spark, dir)
    val (fps, wall, cpu) = timed(comps.map { case (op, call, f) =>
      op -> rec.span(spanName(call), no)(noop(f(d))) }.toMap)
    lastFps = fps
    PassOut(wall, cpu, fps.forall { case (op, fp) => expected.get(op).contains(fp) })
  }

  def layers(spark: SparkSession, dir: String, rec: Recorder, extractProbes: Boolean)
      : Map[String, Double] = {
    val d = table(spark, dir)
    val fromPasses = comps.flatMap { case (op, call, _) =>
      val spans = rec.named(spanName(call))
      Seq(s"dedup.$op.s" -> medianOf(spans.map(_.seconds)),
        s"dedup.$op.shuffle_write_bytes" -> rec.totals(spans.last).shuffleWriteBytes.toDouble,
        s"dedup.$op.out_rows" -> lastFps(op).rows.toDouble)
    }
    // the sub-chains of the LSH composition, and the suppression counters
    // through the operators' own `suppressed` Observation
    def chain(op: String, call: String, reps: Int)(f: => DataFrame): Seq[(String, Double)] = {
      val fps = (1 to reps).map(_ => rec.span(spanName(call), -1)(noop(f)))
      if (expected.get(op).exists(e => fps.exists(_ != e))) {
        System.err.println(s"$name: $op output differs from the oracle")
        checksFailed += 1
      }
      val spans = rec.named(spanName(call))
      Seq(s"dedup.$op.s" -> medianOf(spans.map(_.seconds)),
        s"dedup.$op.shuffle_write_bytes" -> rec.totals(spans.last).shuffleWriteBytes.toDouble,
        s"dedup.$op.out_rows" -> fps.last.rows.toDouble)
    }
    val sigs = () => Dedup.minhashSignatures(d, bands = 8, shingleK = 8)
    val spans = chain("dup_spans", "Dedup.duplicateSpans", 2)(dupSpans(d))
    val minhash = chain("minhash", "Dedup.minhashSignatures", 2)(sigs())
    val lsh = chain("lsh_pairs", "Dedup.lshCandidatePairs", 2)(
      Dedup.lshCandidatePairs(sigs(), maxBucket = 50))
    val lshObs = Observation()
    noop(Dedup.lshCandidatePairs(sigs(), maxBucket = 50, suppressed = Some(lshObs)))
    val simObs = Observation()
    noop(Dedup.simhashPairs(d, suppressed = Some(simObs)))
    val candidates = lsh.toMap.apply("dedup.lsh_pairs.out_rows")
    val verified = lshJaccard(d).where(col("jaccard") >= 0.5).count().toDouble
    def kernel(call: String)(c: Column): Double = {
      (1 to 2).foreach(_ => rec.span(spanName(call), -1)(noopPlain(d.select(c.as("k")))))
      medianOf(rec.named(spanName(call)).map(_.seconds))
    }
    val textBytes = d.agg(sum(octet_length(col("text")))).head().getLong(0)
    (fromPasses ++ spans ++ minhash ++ lsh).toMap ++ Map(
      "dedup.lsh_candidates" -> candidates,
      "dedup.lsh_verified" -> verified,
      "dedup.lsh_precision" -> (if (candidates > 0) verified / candidates else 0.0),
      "dedup.lsh_suppressed_rows" -> lshObs.get("suppressed_rows").asInstanceOf[Long].toDouble,
      "dedup.simhash_suppressed_rows" -> simObs.get("suppressed_rows").asInstanceOf[Long].toDouble,
      "functions.window_hashes_s" ->
        kernel("GraftColumns.windowHashes")(GraftColumns.windowHashes(col("text"), 8, "xxhash64")),
      "functions.minhash_sigs_s" ->
        kernel("GraftColumns.minhashSigs")(GraftColumns.minhashSigs(col("text"), 8, 8, "md5")),
      "functions.hashed_bytes" -> 2.0 * textBytes)
  }
}

/** Layer probes of the extraction path, on one staged corpus: the pruned
  * scan (io), the per-document JVM core on a sample, single thread, with
  * ThreadMXBean allocation counts (parse, analyze, extract), and the
  * distributed per-doc extract (Extract.runLines into the noop sink). */
object Probes {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** (us, KiB allocated) per doc of one run of `body` over `n` docs. */
  private def perDoc(n: Int)(body: => Unit): (Double, Double) = {
    val a0 = mx.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e3 / n, (mx.getCurrentThreadAllocatedBytes - a0) / 1024.0 / n)
  }

  def extract(spark: SparkSession, corpus: String, rec: Recorder, tag: String, sampleDocs: Int,
      jvm: Boolean): Map[String, Double] = {
    import spark.implicits._
    val table = spark.read.parquet(corpus)
    val scanCall = s"$tag:TableIO.pruneLines"
    (1 to 3).foreach(_ => rec.span(scanCall, -1)(noopPlain(TableIO.pruneLines(table).toDF())))
    val scans = rec.named(scanCall)
    val distCall = s"$tag:Extract.runLines"
    val outSpans = (1 to 3).map(_ => rec.span(distCall, -1)(
      noop(Extract.runLines(TableIO.pruneLines(table)).flatMap(_.spans).toDF()))).last.rows
    val dist = Map(
      "io.scan_s" -> medianOf(scans.map(_.seconds)),
      "io.scan_in_bytes" -> rec.totals(scans.last).inputBytes.toDouble,
      "extract.dist_s" -> medianOf(rec.named(distCall).map(_.seconds)),
      "extract.out_spans" -> outSpans.toDouble)
    if (!jvm) return dist

    val sample = TableIO.pruneLines(table).orderBy($"doc_id").limit(sampleDocs).collect()
      .map { case (id, texts, offsets) =>
        (id, offsets.zip(texts).sortBy(_._1).map(_._2).toIndexedSeq) }
    val parsed = sample.map { case (_, lines) => PageParser.parseDocument(lines) }
    var sink = 0L
    val n = sample.length
    // parse, analyze and extract timed back to back in each repetition;
    // the first two repetitions warm the JIT and are dropped
    val reps = (1 to 9).map { _ =>
      val parse = perDoc(n)(
        sample.foreach { case (_, lines) => sink += PageParser.parseDocument(lines).pages.length })
      val analyze = perDoc(n)(parsed.foreach { p =>
        val hs = p.pages.flatMap(_.elements).collect { case h: Heading => h }
        val a = Headings.detectRunningHead(Headings.analyze(hs), p.pages.length)
        sink += Headings.applyReadAloudRules(hs, a).length
      })
      val extract = perDoc(n)(
        sample.foreach { case (id, lines) => sink += Extract.extractLines(id, lines).spans.length })
      (parse, analyze, extract)
    }.drop(2)
    require(sink > 0)
    def med(f: ((Double, Double), (Double, Double), (Double, Double)) => Double): Double =
      medianOf(reps.map(f.tupled))
    dist ++ Map(
      "parse.us_per_doc" -> med((p, _, _) => p._1), "parse.alloc_kb_per_doc" -> med((p, _, _) => p._2),
      "analyze.us_per_doc" -> med((_, a, _) => a._1),
      "analyze.alloc_kb_per_doc" -> med((_, a, _) => a._2),
      "extract.us_per_doc" -> med((_, _, e) => e._1),
      "extract.alloc_kb_per_doc" -> med((_, _, e) => e._2),
      "extract.emit_self_us_per_doc" -> med((p, a, e) => e._1 - p._1 - a._1))
  }
}

object Workloads {
  val names = Seq("extract_ckpt", "extract_longdoc_rel", "neardup_docs")

  /** `probe` is the reduced scale a traced run of another workload uses to
    * report this workload's layers. */
  def make(name: String, seed: Long, probe: Boolean = false): Workload = name match {
    case "extract_ckpt" => new ExtractCkpt(seed, if (probe) 400L else 1000L, nBuckets = 8)
    case "extract_longdoc_rel" =>
      new ExtractLongdocRel(seed, if (probe) 8L else 48L, chunks = if (probe) 20 else 30)
    case "neardup_docs" => new NearDupDocs(seed, if (probe) 500 else 2000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }
}
