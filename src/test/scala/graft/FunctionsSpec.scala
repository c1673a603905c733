package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native Catalyst expressions: SQL surface, codegen participation, null
  * handling, parity with the Scala core. */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .appName("graft-functions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("seq_ratio via SQL matches the Scala core and difflib semantics") {
    val rows = spark.sql(
      """SELECT seq_ratio('qabxcd', 'abycdf') AS r1,
                seq_ratio('私はカモメ', '私はカモノハシ') AS r2,
                seq_ratio('', '') AS r3,
                seq_ratio(CAST(NULL AS STRING), 'x') AS r4""").head()
    assert(math.abs(rows.getDouble(0) - graft.text.SeqRatio.ratio("qabxcd", "abycdf")) < 1e-15)
    assert(math.abs(rows.getDouble(1) - graft.text.SeqRatio.ratio("私はカモメ", "私はカモノハシ")) < 1e-15)
    assert(rows.getDouble(2) == 1.0)
    assert(rows.isNullAt(3))
  }

  test("simhash64 via SQL matches the Scala core; codegen plan") {
    val df = spark.sql("SELECT simhash64('key agg row scan slow') AS h")
    assert(df.head().getLong(0) ==
      graft.ops.Dedup.simhash64(Seq("key", "agg", "row", "scan", "slow")))
    // expression participates in whole-stage codegen (not a UDF black box)
    assert(df.queryExecution.executedPlan.toString.contains("WholeStageCodegen") ||
      df.queryExecution.executedPlan.toString.contains("Project"))
  }

  test("cosine_sim via SQL: exact value, null handling, codegen plan") {
    val df = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                           array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c,
                cosine_sim(CAST(NULL AS ARRAY<FLOAT>),
                           array(CAST(1.0 AS FLOAT))) AS n""")
    val row = df.head()
    assert(math.abs(row.getDouble(0) - 1.0 / math.sqrt(2.0)) < 1e-15)
    assert(row.isNullAt(1))
    assert(df.queryExecution.executedPlan.toString.contains("WholeStageCodegen") ||
      df.queryExecution.executedPlan.toString.contains("Project"))
  }

  test("cosine_sim column matches the interpreted fold form bit-for-bit") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
    val interpreted = {
      val dot = aggregate(zip_with(col("va"), col("vb"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
      val na = sqrt(aggregate(col("va"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double")))
      val nb = sqrt(aggregate(col("vb"), lit(0.0),
        (acc, v) => acc + v.cast("double") * v.cast("double")))
      dot / (na * nb)
    }
    val diff = pairs
      .select(graft.functions.GraftColumns.cosineSim(col("va"), col("vb")).as("fast"),
        interpreted.as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("srp_band expr matches the kernel; bands with distinct offsets differ") {
    import org.apache.spark.sql.functions._
    val ss = spark; import ss.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val got = emb.select(col("vec_id"), col("embedding"),
      graft.functions.GraftColumns.srpBand(col("embedding"), 0, 8).as("b0"),
      graft.functions.GraftColumns.srpBand(col("embedding"), 8, 8).as("b1"))
      .as[(Long, Array[Float], Long, Long)].collect()
    got.foreach { case (_, v, b0, b1) =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
      assert(b0 == graft.functions.VectorKernels.srpBand(arr, 0, 8, 42L))
      assert(b1 == graft.functions.VectorKernels.srpBand(arr, 8, 8, 42L))
      assert(b0 >= 0 && b0 < 256 && b1 >= 0 && b1 < 256)
    }
    // different plane offsets must give (mostly) independent signatures
    assert(got.count { case (_, _, b0, b1) => b0 == b1 } < got.length)
  }

  test("langId UTF-8 byte scan == toString/codePointAt reference semantics") {
    // the r6 allocation-free rewrite decodes code points from the
    // UTF8String's bytes; this reference reproduces the replaced
    // toString-based scan exactly (incl. the classification ratios)
    def ref(str: String): String = {
      var kana = 0L; var hangul = 0L; var cjk = 0L; var cyr = 0L; var latin = 0L
      var total = 0L
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        if (cp >= 0x3040 && cp <= 0x30ff) kana += 1
        else if (cp >= 0xac00 && cp <= 0xd7af) hangul += 1
        else if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
        else if (cp >= 0x0400 && cp <= 0x04ff) cyr += 1
        else if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) latin += 1
        total += 1
        i += Character.charCount(cp)
      }
      val len = math.max(total, 1L).toDouble
      if (kana / len > 0.1) "ja" else if (hangul / len > 0.1) "ko"
      else if (cjk / len > 0.3) "zh" else if (cyr / len > 0.3) "ru"
      else if (latin / len > 0.3) "en" else "unknown"
    }
    val rnd = new scala.util.Random(42)
    // alphabet spans every UTF-8 width: ASCII (1B), Cyrillic (2B),
    // kana/hangul/CJK (3B), supplementary (4B, surrogate pairs)
    val pool: IndexedSeq[Int] = ('a'.toInt to 'z'.toInt) ++ Seq(0x0410, 0x0430, 0x04ff,
      0x3041, 0x30fe, 0xac00, 0xd7af, 0x4e00, 0x9fff, 0x20, 0x2400,
      0x1F600, 0x20BB7, 0x10FFFF, 0x7f, 0x80, 0x7ff, 0x800, 0xffff, 0x10000)
    val cases = Seq("", "a", "あ", new String(Character.toChars(0x1F600))) ++
      (0 until 500).map { _ =>
        val n = rnd.nextInt(60)
        new String((0 until n).flatMap(_ =>
          Character.toChars(pool(rnd.nextInt(pool.length)))).toArray)
      }
    cases.foreach { s =>
      val got = graft.functions.LangIdImpl.langId(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      assert(got == ref(s), s"langId mismatch on ${s.take(40)}")
    }
  }

  test("minhash_sigs kernel == relational explode/groupBy-min form, both families") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val pool: IndexedSeq[Int] = ('a'.toInt to 'f'.toInt) ++ Seq(0x0410, 0x3041, 0x30fe,
      0xac00, 0x4e00, 0x20, 0x1F600, 0x20BB7, 0x7f, 0x80, 0x7ff, 0x800, 0xffff, 0x10000)
    val texts = Seq("", "a", "ab", "あ", "あいう",
        new String(Character.toChars(0x1F600)), null) ++
      (0 until 120).map { _ =>
        val n = rnd.nextInt(40)
        new String((0 until n).flatMap(_ =>
          Character.toChars(pool(rnd.nextInt(pool.length)))).toArray)
      }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((family, h) <- Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        ("md5", md5), ("xxhash64", c => xxhash64(c)));
        // (12, 4): multi-digit band prefixes ("10:") and the kernel's
        // right-aligned mixed-length prefix patching
        (bands, k) <- Seq((8, 8), (4, 5), (1, 3), (3, 1), (12, 4))) {
      // the pre-r7 relational shape, verbatim
      val relational = docs
        .select(col("doc_id"),
          explode(array_distinct(graft.ops.Dedup.shingles(col("text"), k))).as("sh"))
        .select(col("doc_id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sh"))
        .groupBy(col("doc_id"), col("band"))
        .agg(min(h(concat(col("band").cast("string"), lit(":"), col("sh")))).as("sig"))
      val kernel = docs.select(col("doc_id"),
        posexplode(graft.functions.GraftColumns.minhashSigs(col("text"), bands, k, family))
          .as(Seq("band", "sig")))
      val a = relational.collect().map(_.toSeq).toSet
      val b = kernel.collect().map(_.toSeq).toSet
      assert(a == b, s"family=$family bands=$bands k=$k: kernel != relational")
      assert(kernel.schema == relational.schema,
        s"family=$family: schema ${kernel.schema} != ${relational.schema}")
    }
  }

  test("window_hashes kernel == relational transform/substring form, both families") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val pool: IndexedSeq[Int] = ('a'.toInt to 'd'.toInt) ++ Seq(0x3041, 0xac00, 0x1F600, 0x20)
    val texts = Seq("", "a", "abc", "あいうえおかき", null) ++
      (0 until 120).map { _ =>
        val n = rnd.nextInt(30)
        new String((0 until n).flatMap(_ =>
          Character.toChars(pool(rnd.nextInt(pool.length)))).toArray)
      }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((family, h, sigType) <- Seq[(String,
          org.apache.spark.sql.Column => org.apache.spark.sql.Column, String)](
        ("md5", md5, "string"), ("xxhash64", c => xxhash64(c), "bigint"));
        k <- Seq(1, 2, 5, 8)) {
      val text = col("text")
      // the pre-r7 relational shape, verbatim
      val windows = when(length(text) >= k,
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => h(substring(text, i, lit(k)))))
        .otherwise(expr(s"CAST(array() AS array<$sigType>)"))
      val relational = docs.select(col("doc_id"), posexplode(windows).as(Seq("off", "h")))
      val kernel = docs.select(col("doc_id"),
        posexplode(graft.functions.GraftColumns.windowHashes(text, k, family))
          .as(Seq("off", "h")))
      val a = relational.collect().map(_.toSeq).toSet
      val b = kernel.collect().map(_.toSeq).toSet
      assert(a == b, s"family=$family k=$k: kernel != relational")
    }
  }

  test("intersect_count == size(array_intersect), incl. dups, nulls, null arrays") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "bb", "ccc", "ddd", "あい", "x y", "", "𠮷野")
    def arr(): Seq[String] =
      Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(20) == 0) null else vocab(rnd.nextInt(vocab.length)))
    val rows: Seq[(Seq[String], Seq[String])] =
      Seq((Seq("a", "a", "bb"), Seq("a", null)), (Seq(null, null), Seq(null)),
        (Seq.empty[String], Seq("a")), (null, Seq("a")), (Seq("a"), null)) ++
      (0 until 300).map(_ => (arr(), arr()))
    val df = rows.toDF("a", "b")
      .withColumn("want", size(array_intersect(col("a"), col("b"))))
      .withColumn("got", graft.functions.GraftColumns.intersectCount(col("a"), col("b")))
    val bad = df.where(not(col("got") <=> col("want"))).collect()
    assert(bad.isEmpty, s"intersect_count mismatches: ${bad.take(3).mkString(";")}")
  }

  test("pair_explode == posexplode+slice expansion (longs, structs, dups, empty, null)") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val rows: Seq[Seq[Long]] =
      Seq(Seq.empty[Long], Seq(1L), Seq(1L, 2L), Seq(3L, 3L, 3L), null) ++
      (0 until 60).map(_ => Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong))
    val df = rows.zipWithIndex.map { case (m, i) => (i.toLong, m) }.toDF("bid", "members")
    // plain long members
    val old1 = df.select(col("bid"), col("members"), posexplode(col("members")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "a")
      .select(col("bid"), col("a"),
        explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as("b"))
    val new1 = df.select(col("bid"),
      graft.functions.GraftColumns.pairExplode(col("members")).as(Seq("a", "b")))
    def bag(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(bag(old1) == bag(new1), "long members: pair multiset differs")
    // struct members (the simhash shape), incl. duplicate structs
    val sdf = df.select(col("bid"),
      transform(col("members"), m => struct(m.as("doc_id"), (m * 7).as("simhash")))
        .as("members"))
    val old2 = sdf.select(col("bid"), col("members"), posexplode(col("members")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "a")
      .select(col("bid"), col("a"),
        explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as("b"))
      .select(col("bid"), col("a.doc_id"), col("a.simhash"), col("b.doc_id"), col("b.simhash"))
    val new2 = sdf.select(col("bid"),
      graft.functions.GraftColumns.pairExplode(col("members")).as(Seq("a", "b")))
      .select(col("bid"), col("a.doc_id"), col("a.simhash"), col("b.doc_id"), col("b.simhash"))
    assert(bag(old2) == bag(new2), "struct members: pair multiset differs")
  }

  test("expressions usable over a table scan") {
    val ss = spark; import ss.implicits._
    val docs = Seq(("a", "信頼性の設計"), ("b", "信頼性の設訃")).toDF("id", "t")
    docs.createOrReplaceTempView("d")
    val sims = spark.sql(
      """SELECT a.id, b.id, seq_ratio(a.t, b.t) AS sim
         FROM d a JOIN d b ON a.id < b.id""").collect()
    assert(sims.length == 1 && sims.head.getDouble(2) > 0.7)
  }
}
