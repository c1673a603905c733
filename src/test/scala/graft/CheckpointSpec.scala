package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{SyntheticCorpus, TableIO}
import graft.pipeline.Checkpoint

/** Checkpoint commit protocol: the output schema of the two write jobs,
  * the footer-count durability check, job labels and manifest parsing. */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def stagedCorpus(nDocs: Long, nBuckets: Int): String = {
    val dir = tmp("graft_corpus")
    TableIO.writeDocs(SyntheticCorpus.docs(spark, nDocs, partitions = 4), dir,
      TableIO.Cfg(nBuckets = nBuckets))
    dir
  }

  private def partFiles(dir: String): Vector[Path] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toVector
      .map(_.getPath).filter(_.getName.startsWith("part-"))
  }

  private def footerSchema(file: Path): String = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
  }

  test("part-file footer schema of spans and errors: names, order, types, required") {
    val out = tmp("graft_ckpt")
    Checkpoint.runPartitioned(spark, stagedCorpus(30, 4), out)
    val spans =
      """message spark_schema {
        |  optional binary doc_id (STRING);
        |  required int32 offset;
        |  optional binary kind (STRING);
        |  optional binary text (STRING);
        |  optional binary media_ref (STRING);
        |  optional binary page_no (STRING);
        |  required int32 level;
        |  required boolean read_aloud;
        |  optional binary attrs (STRING);
        |}
        |""".stripMargin
    val errors =
      """message spark_schema {
        |  optional binary doc_id (STRING);
        |  optional binary error_type (STRING);
        |  optional binary message (STRING);
        |  optional binary page_number (STRING);
        |  required int32 line_number;
        |}
        |""".stripMargin
    for (b <- 0 until 4) {
      val spanFiles = partFiles(s"$out/bucket=$b")
      val errFiles = partFiles(s"$out/_errors/bucket=$b")
      assert(spanFiles.nonEmpty && errFiles.nonEmpty)
      spanFiles.foreach(f => assert(footerSchema(f) == spans, f))
      errFiles.foreach(f => assert(footerSchema(f) == errors, f))
    }
  }

  test("footerRowCount: exact total over a multi-file directory, short after a deletion") {
    val dir = tmp("graft_footer")
    spark.range(1000).repartition(4).write.mode("overwrite").parquet(dir)
    val files = partFiles(dir)
    assert(files.size > 1)
    assert(Checkpoint.footerRowCount(spark, dir) == 1000L)
    val fs = files.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(files.maxBy(f => fs.getFileStatus(f).getLen), false)
    val remaining = spark.read.parquet(dir).count()
    assert(remaining < 1000L)
    assert(Checkpoint.footerRowCount(spark, dir) == remaining)
  }

  test("a span partition missing a part file after its write is not committed") {
    val corpus = stagedCorpus(30, 4)
    val out = tmp("graft_ckpt")
    val key = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(key, classOf[DropPartFileCommitProtocol].getName)
    val e = try intercept[IllegalArgumentException](Checkpoint.runPartitioned(spark, corpus, out))
      finally spark.conf.unset(key)
    assert(e.getMessage.contains("bucket=1"), e.getMessage)
    assert(Checkpoint.committedBuckets(spark, out) == Set(0))
    // the resume rewrites bucket 1 and the totals equal a clean run's
    Checkpoint.runPartitioned(spark, corpus, out)
    val clean = tmp("graft_ckpt")
    Checkpoint.runPartitioned(spark, corpus, clean)
    assert(Checkpoint.readManifests(spark, out) == Checkpoint.readManifests(spark, clean))
  }

  test("every bucket write job carries extract:bucket=N; the caller's description is kept") {
    val corpus = stagedCorpus(30, 4)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos.map(_.name).mkString(","),
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try for (parallelism <- Seq(1, 2)) {
      jobs.clear()
      Checkpoint.runPartitioned(spark, corpus, tmp("graft_ckpt"), parallelism = parallelism)
      ListenerBusDrain(sc)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      import scala.jdk.CollectionConverters._
      val writes = jobs.asScala.toVector.filter(_._1.startsWith("parquet at Checkpoint.scala"))
      assert(writes.map(_._2).sorted ==
        (0 until 4).flatMap(b => Seq.fill(2)(s"extract:bucket=$b")).toVector, jobs)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("readManifests throws on a manifest missing a field, naming file and field") {
    val out = tmp("graft_ckpt")
    val commits = new java.io.File(out, "_commits")
    commits.mkdirs()
    Files.writeString(new java.io.File(commits, "bucket-0.json").toPath,
      """{"bucket":0,"n_docs":3,"span_count":40,"char_count":900,"error_count":1}""")
    assert(Checkpoint.readManifests(spark, out) ==
      Vector(Checkpoint.BucketManifest(0, 3, 40, 900, 1)))
    Files.writeString(new java.io.File(commits, "bucket-1.json").toPath,
      """{"bucket":1,"n_docs":3,"char_count":900,"error_count":1}""")
    val e = intercept[IllegalStateException](Checkpoint.readManifests(spark, out))
    assert(e.getMessage.contains("bucket-1.json") && e.getMessage.contains("span_count"),
      e.getMessage)
  }
}
