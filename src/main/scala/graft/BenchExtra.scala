package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 sub-stage isolation bench (guide §1.4): times the expensive
  * queries' component stages through the noop sink (computes every
  * column, discards the write) so the stage split — not the sink — is
  * what's measured. Separate main by design: Bench.scala is FROZEN for
  * measurement; numbers from here are cited in OPTIMIZATION_r07.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchExtra [name...]"
  * Prints one JSON line: best-of-N per sub-bench, interleaved rounds
  * (same stall discipline as Bench).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = sys.env.getOrElse("BENCH_ROUNDS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def docs(s: SparkSession) = s.read.parquet(s"$sfDir/documents.parquet")

    val subs: Seq[(String, SparkSession => DataFrame)] = Seq(
      // ---- q_dup_spans decomposition ----------------------------------
      "dup_spans_hash" -> { s => // kernel + posexplode, no shuffle
        val d = docs(s).repartition(s.sparkContext.defaultParallelism * 2, col("doc_id"))
        d.select(col("doc_id"),
          posexplode(graft.functions.GraftColumns.windowHashes(col("text"), 8, "xxhash64"))
            .as(Seq("off", "h")))
      },
      "dup_spans_win1" -> { s => // + the hash-partition min/max window
        val d = docs(s).repartition(s.sparkContext.defaultParallelism * 2, col("doc_id"))
        val pos = d.select(col("doc_id"),
          posexplode(graft.functions.GraftColumns.windowHashes(col("text"), 8, "xxhash64"))
            .as(Seq("off", "h")))
          .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("h"))
        val byHash = org.apache.spark.sql.expressions.Window.partitionBy("h")
        pos.withColumn("d_min", min("doc_id").over(byHash))
          .withColumn("d_max", max("doc_id").over(byHash))
          .where(col("d_min") =!= col("d_max"))
          .select("doc_id", "pos")
      },
      "dup_spans_full" -> { s =>
        graft.ops.Dedup.duplicateSpans(docs(s), k = 8, hashFamily = "xxhash64")
      },
      // ---- q_lsh_* decomposition --------------------------------------
      "lsh_sigs_md5" -> { s =>
        graft.ops.Dedup.minhashSignatures(docs(s), bands = 8, shingleK = 8)
      },
      "lsh_sigs_xx64" -> { s =>
        graft.ops.Dedup.minhashSignatures(docs(s), bands = 8, shingleK = 8,
          hashFamily = "xxhash64")
      },
      "lsh_pairs_md5" -> { s =>
        graft.ops.Dedup.lshCandidatePairs(
          graft.ops.Dedup.minhashSignatures(docs(s), bands = 8, shingleK = 8),
          maxBucket = 50)
      },
      "lsh_jaccard_full" -> { s =>
        val d = docs(s)
        val pairs = graft.ops.Dedup.lshCandidatePairs(
          graft.ops.Dedup.minhashSignatures(d, bands = 8, shingleK = 8), maxBucket = 50)
        graft.ops.Dedup.ngramJaccard(d, pairs, n = 3)
      },
      // ---- x_embed_neardup candidates vs scoring ----------------------
      "embed_full" -> { s =>
        graft.ops.Similarity.embeddingNearDups(
          s.read.parquet(s"$sfDir/embeddings.parquet"), dimCount = 64,
          threshold = 0.3, nPlanes = 4)
      },
      // ---- x_simhash_pairs --------------------------------------------
      "simhash_full" -> { s =>
        graft.ops.Dedup.simhashPairs(
          docs(s).withColumn("doc_id", col("doc_id").cast("string")), maxDist = 16)
      },
      "simhash_blocks" -> { s =>
        graft.ops.Dedup.simhashBlocks(
          docs(s).withColumn("doc_id", col("doc_id").cast("string")))
      },
      "simhash_rawpairs" -> { s => // buckets + in-row expansion, no filter/distinct
        val blocks = graft.ops.Dedup.simhashBlocks(
          docs(s).withColumn("doc_id", col("doc_id").cast("string")))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("blk"), col("key"))
        blocks.withColumn("bucket_n", count(lit(1)).over(w))
          .where(col("bucket_n") >= 2 && col("bucket_n") <= 1000)
          .groupBy(col("blk"), col("key"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("members"))
          .select(col("members"), posexplode(col("members")))
          .withColumnRenamed("pos", "i").withColumnRenamed("col", "a")
          .select(col("a"),
            explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as("b"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      },
      // ---- q_dup_spans hash-window floor probes -----------------------
      "dup_spans_exch_only" -> { s => // exchange of the position rows, no sort/window
        val d = docs(s).repartition(s.sparkContext.defaultParallelism * 2, col("doc_id"))
        d.select(col("doc_id"),
          posexplode(graft.functions.GraftColumns.windowHashes(col("text"), 8, "xxhash64"))
            .as(Seq("off", "h")))
          .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("h"))
          .repartition(col("h"))
      },
      "dup_spans_exch_sort" -> { s => // + the within-partition sort the window needs
        val d = docs(s).repartition(s.sparkContext.defaultParallelism * 2, col("doc_id"))
        d.select(col("doc_id"),
          posexplode(graft.functions.GraftColumns.windowHashes(col("text"), 8, "xxhash64"))
            .as(Seq("off", "h")))
          .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("h"))
          .repartition(col("h")).sortWithinPartitions("h")
      },
      // ---- q_dup_spans first-shuffle shape A/B ------------------------
      "dup_spans_win1_agg" -> { s => // groupBy(h) min/max + join-back instead of window
        val d = docs(s).repartition(s.sparkContext.defaultParallelism * 2, col("doc_id"))
        val pos = d.select(col("doc_id"),
          posexplode(graft.functions.GraftColumns.windowHashes(col("text"), 8, "xxhash64"))
            .as(Seq("off", "h")))
          .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("h"))
        val shared = pos.groupBy(col("h"))
          .agg(min("doc_id").as("d_min"), max("doc_id").as("d_max"))
          .where(col("d_min") =!= col("d_max"))
          .select("h")
        pos.join(shared, "h").select("doc_id", "pos")
      }
    )
    val wanted = if (args.isEmpty) subs else subs.filter(p => args.contains(p._1))

    import BenchUtil.time
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup round (codegen/JIT), then interleaved timed rounds
    wanted.foreach { case (n, f) =>
      spark.sparkContext.setJobDescription(s"warmup:$n"); noop(f(spark))
    }
    val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    (1 to rounds).foreach { _ =>
      wanted.foreach { case (n, f) =>
        spark.sparkContext.setJobDescription(n)
        val sec = time(noop(f(spark)))
        times(n) = times.getOrElse(n, Vector.empty) :+ sec
      }
    }
    val parts = times.map { case (n, v) =>
      f""""$n":{"best":${v.min}%.3f,"med":${BenchUtil.median(v)}%.3f}"""
    }
    println(parts.mkString("{", ",", s""","rounds":$rounds,"sf":"$sfDir"}"""))
    spark.stop()
  }
}
