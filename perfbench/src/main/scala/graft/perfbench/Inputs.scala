package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import graft.io.{SyntheticCorpus, TableIO}
import graft.model.{InputDoc, Span => InSpan}

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees the staged tables. */
object Inputs {

  /** `SyntheticCorpus.docs(seed)` (with its 2% tail of 150-400-page docs)
    * staged bucket(doc_id)-partitioned through `TableIO.writeDocs`. */
  def stageCorpus(spark: SparkSession, nDocs: Long, seed: Long, path: String,
      nBuckets: Int): Unit =
    TableIO.writeDocs(SyntheticCorpus.docs(spark, nDocs, seed, partitions = 4), path,
      TableIO.Cfg(nBuckets = nBuckets))

  /** One very wide document: `chunks` consecutive `genLines` books
    * concatenated, page markers renumbered so the document reads as one
    * book of a few thousand pages. */
  def longDoc(docIdx: Long, seed: Long, chunks: Int): InputDoc = {
    var page = 0
    val lines = (0 until chunks).iterator
      .flatMap(c => SyntheticCorpus.genLines(docIdx * chunks + c, seed))
      .map {
        case ("page", _, media) =>
          page += 1
          ("page", f"--- Page $page (page_$page%04d.png) ---", media)
        case other => other
      }
    val spans = lines.zipWithIndex.map { case ((kind, text, media), i) =>
      InSpan(kind, text, media, i) }.toVector
    InputDoc(f"long_$docIdx%06d", spans)
  }

  def stageLongDocs(spark: SparkSession, nDocs: Long, chunks: Int, seed: Long, path: String,
      nBuckets: Int): Unit = {
    import spark.implicits._
    val docs: Dataset[InputDoc] =
      spark.range(0, nDocs, 1, 4).map(i => longDoc(i, seed, chunks))
    TableIO.writeDocs(docs, path, TableIO.Cfg(nBuckets = nBuckets))
  }

  private val vocab = ("spark line column order small sort fast value scan hash slow group " +
    "batch query merge stream agg data row big a the vector customer window join part " +
    "filter table key").split(" ")
  private val langs = Array("en", "en", "en", "en", "de", "zh", "fr", "es")

  /** The `documents` table of `scripts/gen_sf.py` (bag of words over a small
    * vocabulary, 8-104 words a doc, ~0.3% exact clones with every doc in at
    * most one clone pair), generated from `seed` instead of a fixed one. */
  def documents(spark: SparkSession, nDocs: Int, seed: Long): DataFrame = {
    val r = new SplittableRandom(seed)
    val texts = Array.fill(nDocs) {
      Array.fill(8 + r.nextInt(97))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val used = scala.collection.mutable.Set.empty[Int]
    var cloned = 0
    while (cloned < math.max(1, (nDocs * 0.003).toInt)) {
      val a = r.nextInt(nDocs)
      val b = r.nextInt(nDocs)
      if (a != b && !used(a) && !used(b)) {
        texts(a) = texts(b)
        used ++= Seq(a, b)
        cloned += 1
      }
    }
    val rows = texts.indices.map { i =>
      (i.toLong, texts(i), langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}",
        texts(i).length.toLong)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def stageDocuments(spark: SparkSession, nDocs: Int, seed: Long, path: String): Unit =
    documents(spark, nDocs, seed).repartition(4).write.mode(SaveMode.Overwrite).parquet(path)
}
