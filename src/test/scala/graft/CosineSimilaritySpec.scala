package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.VectorOps

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (0 until 50).map { i =>
    ((0 until 64).map(d => math.sin(i * 131 + d * 7).toFloat),
      (0 until 64).map(d => math.cos(i * 37 + d * 11).toFloat))
  }.toDF("a", "b")

  test("native expression is bit-identical to the HOF composition") {
    val rows = vecs.select(
      GraftFunctions.cosine_sim(col("a"), col("b")).as("native"),
      VectorOps.cosineD(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null and length-mismatch semantics") {
    val df = Seq(
      (Some(Seq(1.0f, 0.0f)), Some(Seq(1.0f, 0.0f))),
      (None, Some(Seq(1.0f, 0.0f))),
      (Some(Seq(1.0f)), Some(Seq(1.0f, 0.0f))), // length mismatch
    ).toDF("a", "b")
    val out = df.select(GraftFunctions.cosine_sim(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 1.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("SQL registration makes cosine_sim callable from spark.sql") {
    // the shared session has it through GraftExtensions; register must
    // restore it on a session whose registry lacks it
    val s = spark.newSession()
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")
    assert(s.sessionState.functionRegistry.dropFunction(id))
    val q = "SELECT cosine_sim(array(3F, 4F), array(4F, 3F)) AS c"
    intercept[org.apache.spark.sql.AnalysisException](s.sql(q))
    GraftFunctions.register(s)
    val v = s.sql(q).head.getDouble(0)
    assert(math.abs(v - 0.96) < 1e-12)
  }

  test("hash expressions are callable from spark.sql with literal counts") {
    Seq(Tuple1("the quick brown fox jumps")).toDF("text")
      .createOrReplaceTempView("hash_t")
    val r = spark.sql("""
      SELECT size(minhash_sig(shingle_hashes(split(text, ' '), 3), 16)) AS n_sig,
             simhash64(split(text, ' ')) AS sh
      FROM hash_t""").head
    assert(r.getInt(0) == 16)
    assert(r.getLong(1) != 0L)
    // non-literal count argument fails loudly, not silently
    val err = intercept[Exception](
      spark.sql("SELECT minhash_sig(array('a'), CAST(rand() * 4 AS INT)) ").collect())
    assert(err.getMessage.contains("literal INT"))
  }

  test("round-6 expressions are callable from spark.sql") {
    Seq(Tuple1("a b a b a")).toDF("text").createOrReplaceTempView("r6_t")
    val r = spark.sql("""
      SELECT repetition_stats(split(text, ' ')) AS st,
             string_ngrams(split(text, ' '), 2) AS bg,
             ray_cast_crossings(0.5D, 0.5D, array(0D, 1D, 1D, 0D), array(0D, 0D, 1D, 1D)) AS rc
      FROM r6_t""").head
    assert(r.getStruct(0).getInt(0) == 5)    // n_words
    assert(r.getStruct(0).getInt(2) == 3)    // top word 'a' x3
    assert(r.getSeq[String](1) == Seq("a b", "b a", "a b", "b a"))
    assert(r.getInt(2) % 2 == 1)             // center of unit square: inside
    val hh = spark.sql("""
      SELECT heavy_hitters(split(text, ' '), 8) AS sk FROM r6_t""").head
    assert(hh.getSeq[org.apache.spark.sql.Row](0).head.getString(0) == "a")
  }

  test("sign_buckets is bit-equal to the composed lshBucket column form") {
    import graft.operators.Similarity
    val nPlanes = 4; val nTables = 6; val dim = 64
    val planes = Similarity.planeWeights(nTables * nPlanes, dim).map(_.toArray).toArray
    val df = vecs.select(col("a").as("v"))
    val native = df.select(
      GraftFunctions.sign_buckets(col("v"), planes, nPlanes).as("bs"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val composed = df.select(array((0 until nTables).map(t =>
      Similarity.lshBucket(col("v"), nPlanes, dim, t)): _*).as("bs"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(native.toSeq == composed.toSeq)
    // degenerate inputs: zero vector → bucket 0 everywhere; null → null
    val edge = Seq(
      Some((0 until dim).map(_ => 0.0f)), Option.empty[Seq[Float]])
      .toDF("v")
      .select(GraftFunctions.sign_buckets(col("v"), planes, nPlanes).as("bs"))
      .collect()
    assert(edge(0).getSeq[Long](0).forall(_ == 0L))
    assert(edge(1).isNullAt(0))
  }

  test("sign_buckets length-mismatched vectors land in bucket 0, like the HOF path") {
    import graft.operators.Similarity
    val nPlanes = 4; val nTables = 3; val dim = 8
    val planes = Similarity.planeWeights(nTables * nPlanes, dim).map(_.toArray).toArray
    val df = Seq(
      Seq(1.0f, 2.0f, 3.0f),             // short, nonzero: 0 < n < dim
      (0 until dim + 2).map(_.toFloat),  // long: n > dim
      (0 until dim).map(_ => 1.0f),      // exact length: real buckets
    ).toDF("v")
    val native = df.select(
      GraftFunctions.sign_buckets(col("v"), planes, nPlanes)).collect()
      .map(_.getSeq[Long](0).toSeq)
    val composed = df.select(array((0 until nTables).map(t =>
      Similarity.lshBucket(col("v"), nPlanes, dim, t)): _*)).collect()
      .map(_.getSeq[Long](0).toSeq)
    assert(native(0).forall(_ == 0L) && native(1).forall(_ == 0L))
    assert(native.toSeq == composed.toSeq)
  }

  test("repetition_stats skips null elements with filter() adjacency semantics") {
    val r = spark.sql("""
      SELECT repetition_stats(array('a', CAST(NULL AS STRING), 'b', 'a', 'b')) AS st""").head
    val st = r.getStruct(0)
    // filtered array is [a, b, a, b]: 4 words, 2 distinct, top word 2,
    // bigrams [a b, b a, a b] → top bigram 2 (null's neighbors pair up)
    assert(st.getInt(0) == 4 && st.getInt(1) == 2)
    assert(st.getInt(2) == 2 && st.getInt(3) == 2)
    assert(st.getLong(4) == 4L)
  }

  test("heavy_hitters tie-break uses UTF-8 byte order like Spark's sort") {
    // U+FF41 (UTF-16 0xFF41; UTF-8 EF BD 81) vs U+1F600 (UTF-16 leads
    // 0xD83D; UTF-8 F0 9F 98 80): UTF-16 code-unit order puts the emoji
    // first, UTF-8 byte order puts U+FF41 first. Spark/DuckDB sort by
    // UTF-8 bytes, so the sketch must too.
    val bmp = "ａ"; val supp = new String(Character.toChars(0x1F600))
    Seq(Seq(bmp, supp)).toDF("terms").createOrReplaceTempView("hh_tie_t")
    val sk = spark.sql("SELECT heavy_hitters(terms, 8) AS sk FROM hh_tie_t").head
      .getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(sk == Seq(bmp, supp))
  }

  test("expression participates in whole-stage codegen") {
    // a parquet-backed plan: local relations get constant-folded away
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = emb
      .select(GraftFunctions.cosine_sim(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(")) // whole-stage-codegen regions print as *(n)
  }
}
