package graft.functions

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** The kernels' SQL surface: registered names evaluate identically to
  * the Scala Column API, through both the live-session registration and
  * the SparkSessionExtensions injection route.
  */
class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions match the Column API bit for bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", Array(1f, -2f, 3f)),
      (2L, "a b", Array(0.5f, 0.5f, 0.5f))
    ).toDF("id", "text", "vec")
    df.createOrReplaceTempView("t")
    val viaSql = spark.sql(
      """SELECT id,
        |  graft_simhash32(graft_shingles(text, 3)) AS sh,
        |  graft_minhash_sig(graft_shingles(text, 3), 4) AS mh,
        |  graft_vec_dot(vec, vec) AS dot,
        |  graft_vec_norm2(vec) AS nrm,
        |  graft_lsh_sig(vec, 8) AS lsh
        |FROM t""".stripMargin).collect()
    val viaCol = df.select(col("id"),
      Kernels.simhash32(Kernels.shingles(col("text"), 3)).as("sh"),
      Kernels.minhashSig(Kernels.shingles(col("text"), 3), 4).as("mh"),
      Kernels.vecDot(col("vec"), col("vec")).as("dot"),
      Kernels.vecNorm2(col("vec")).as("nrm"),
      Kernels.lshSig(col("vec"), 8).as("lsh")).collect()
    assert(viaSql.map(_.toSeq).toSeq == viaCol.map(_.toSeq).toSeq)
  }

  test("non-literal size parameters are rejected with a clear error") {
    GraftFunctions.register(spark)
    spark.range(1).selectExpr("CAST(id AS STRING) AS text").createOrReplaceTempView("t2")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(text, CAST(length(text) AS INT)) FROM t2").collect()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.contains("fold"),
      s"unexpected error: ${e.getMessage}")
  }

  test("the extensions route injects the same functions into a built session") {
    val prior = spark // SparkSpec session stays active for other suites
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val one = s2.sql(
        "SELECT graft_simhash32(graft_shingles('alpha beta gamma delta', 3)) AS sh").collect()
      assert(one.length == 1 && !one.head.isNullAt(0))
      // the charset kernels inject too: overlong NUL = 2 invalid, 2 high
      val cs = s2.sql(
        "SELECT graft_utf8_invalid(unhex('C080')) AS inv, graft_high_bytes(unhex('C080')) AS high, graft_nul_bytes(unhex('C08000')) AS nul").collect()
      assert(cs.head.getInt(0) == 2 && cs.head.getInt(1) == 2 && cs.head.getInt(2) == 1, cs.head.toString)
      // the subword surface injects too, with its shipped merge table
      val bpe = s2.sql(
        "SELECT graft_bpe_count('the table Customer#000000001') AS n, graft_bpe_pieces('the') AS p").collect()
      // the + table (whole words) + the 3-piece structured id under the
      // 1024-merge production table
      assert(bpe.head.getLong(0) == 5L, bpe.head.toString)
      assert(bpe.head.getSeq[String](1) == Seq("the"), bpe.head.toString)
      // the robots kernel injects too: longest match, tie → allow
      val rb = s2.sql(
        """SELECT graft_robots_allowed(
          |  'User-agent: a' || chr(10) || 'Allow: /p/ok' || chr(10) || 'Disallow: /p/',
          |  'a', '/p/okay') AS ok,
          |graft_robots_allowed(
          |  'User-agent: a' || chr(10) || 'Allow: /p/ok' || chr(10) || 'Disallow: /p/',
          |  'a', '/p/x') AS blocked""".stripMargin).collect()
      assert(rb.head.getBoolean(0) && !rb.head.getBoolean(1), rb.head.toString)
      // the file-parameterized surface loads the SAME shipped table from
      // disk and must agree with the resource-backed default
      val byFile = s2.sql(
        """SELECT graft_bpe_count_file(
          |  '/root/repo/src/main/resources/graft/bpe_merges.txt',
          |  'the table Customer#000000001') AS n""".stripMargin).collect()
      assert(byFile.head.getLong(0) == 5L, byFile.head.toString)
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("fingerprint kernel == HOF column form, empties and code points included") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "plain words here"),
      (2L, ""),
      (3L, " leading and  double  spaces "),
      (4L, "one"),
      (5L, "Fish & chips 'hot' ete\u0301 caf\u00e9"),
      (6L, null.asInstanceOf[String]),
      (7L, ("w" * 7 + " ") * 300)
    ).toDF("id", "t")
    val rows = df.select(
      org.apache.spark.sql.functions.col("id"),
      TextFunctions.fingerprint(org.apache.spark.sql.functions.col("t")).as("k"),
      FingerprintExpr(org.apache.spark.sql.functions.col("t")).as("e")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch at id ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"fingerprint diverges at id ${r.getLong(0)}")
    }
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val d = docs.select(
      TextFunctions.fingerprint(org.apache.spark.sql.functions.col("text")).as("k"),
      FingerprintExpr(org.apache.spark.sql.functions.col("text")).as("e"))
      .where(org.apache.spark.sql.functions.col("k") =!= org.apache.spark.sql.functions.col("e")).count()
    assert(d == 0L, s"$d corpus rows diverge")
  }

  test("int64 dot / hamming kernels == the HOF forms they replace, null and length semantics included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // edges: equal lengths, UNEQUAL lengths (HOF → null via zip_with
    // padding), empty arrays, a null element, a null array, wrapping
    // int64 products, and packed-signature blocks for hamming
    val df = Seq(
      (1L, Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (2L, Array(127L, -127L), Array(-127L, 127L)),
      (3L, Array.empty[Long], Array.empty[Long]),
      (4L, Array(1L, 2L), Array(1L, 2L, 3L)), // length mismatch -> null
      (5L, Array(3037000498L, -3037000498L), Array(3037000498L, 3037000498L)), // near-overflow products
      (6L, null.asInstanceOf[Array[Long]], Array(1L)),
      (7L, Array(0x0F0FL, -1L, 0L), Array(0xF0F0L, 0L, 0L))
    ).toDF("id", "a", "b")
      // a null ELEMENT (Seq of boxed longs keeps containsNull=true)
      .union(Seq((8L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)))
        .toDF("id", "a", "b"))
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val hofHam = aggregate(
      zip_with(col("a"), col("b"), (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (s, x) => s + x)
    val rows = df.select(col("id"),
      Kernels.vecDotLong(col("a"), col("b")).as("kd"), hofDot.as("hd"),
      Kernels.hammingDist(col("a"), col("b")).as("kh"), hofHam.as("hh")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"dot null mismatch at id ${r.getLong(0)}: $r")
      if (!r.isNullAt(1)) assert(r.getLong(1) == r.getLong(2), s"dot diverges at id ${r.getLong(0)}: $r")
      assert(r.isNullAt(3) == r.isNullAt(4), s"hamming null mismatch at id ${r.getLong(0)}: $r")
      if (!r.isNullAt(3)) assert(r.getLong(3) == r.getLong(4), s"hamming diverges at id ${r.getLong(0)}: $r")
    }
    // overflow fails LOUD in both forms (ANSI engine-wide): the HOF
    // raises Spark's ANSI arithmetic error, the kernel Math.*Exact's
    // ArithmeticException — never a silently wrapped score
    val of = Seq((Array(Long.MaxValue, 2L), Array(3L, 1L))).toDF("a", "b")
    intercept[Exception] { of.select(hofDot).collect() }
    intercept[Exception] { of.select(Kernels.vecDotLong(col("a"), col("b"))).collect() }
    // corpus parity on the real quantized vectors (the int8TopK shape)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = graft.operators.Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val diverged = q.as("x").join(q.as("y"), col("x.id") < col("y.id"))
      .select(
        Kernels.vecDotLong(col("x.q"), col("y.q")).as("kd"),
        aggregate(zip_with(col("x.q"), col("y.q"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("hd"))
      .where(!(col("kd") <=> col("hd"))).count()
    assert(diverged == 0L, s"$diverged quantized pairs diverge")
  }
}
