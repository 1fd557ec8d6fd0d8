package graft

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("try_capture is callable from SQL after registration") {
    Graft.register(spark)
    Seq("5", "junk").toDF("s").createOrReplaceTempView("raw_input")
    val rows = spark.sql(
      """SELECT s, c.value AS v, c.error_class AS ec
        |FROM (SELECT s, try_capture(cast(s AS int)) AS c FROM raw_input)
        |ORDER BY s""".stripMargin).collect()
    assert(rows.length == 2)
    val good = rows.find(_.getString(0) == "5").get
    assert(good.getInt(1) == 5 && good.isNullAt(2))
    val bad = rows.find(_.getString(0) == "junk").get
    assert(bad.isNullAt(1) && bad.getString(2) == "org.apache.spark.SparkNumberFormatException")
  }

  test("native dedup/similarity functions are callable from SQL") {
    Graft.register(spark)
    Seq(("a b c a", Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("txt", "va", "vb").createOrReplaceTempView("fn_input")
    val r = spark.sql(
      """SELECT word_ngrams(txt, 2) AS grams,
        |       size(minhash_sig(word_ngrams(txt, 1), 4)) AS n_minhash,
        |       length(simhash_sig(word_ngrams(txt, 1), 16)) AS n_bits,
        |       vector_dot(va, vb) AS dot,
        |       fence(txt) AS fenced
        |FROM fn_input""".stripMargin).collect().head
    assert(r.getAs[scala.collection.Seq[String]]("grams").toSeq == Seq("a b", "b c", "c a"))
    assert(r.getAs[Int]("n_minhash") == 4)
    assert(r.getAs[Int]("n_bits") == 16)
    assert(r.getAs[Double]("dot") == 11.0)
    assert(r.getAs[String]("fenced") == "a b c a")
  }

  test("vector_dot_long is callable from SQL and equals VectorDotLong through the Column API") {
    Graft.register(spark)
    val df = Seq[(Array[Int], Array[Int])](
      (Array(1, -2, 3), Array(4, 5, -6)),
      (Array(127, 127), Array(127, -127, 9)),
      (Array(-128, 100, 7), Array(-128, 100, 7)),
      (Array(1), null)).toDF("a", "b")
    df.createOrReplaceTempView("dot_long_input")
    val viaSql = spark.sql("SELECT vector_dot_long(a, b) AS d FROM dot_long_input")
      .as[Option[Long]].collect().toSeq
    val viaApi = df.select(graft.functions.VectorDotLong($"a", $"b").as("d"))
      .as[Option[Long]].collect().toSeq
    assert(spark.sql("SELECT vector_dot_long(a, b) FROM dot_long_input").schema.head.dataType ==
      org.apache.spark.sql.types.LongType)
    assert(viaSql == viaApi)
    assert(viaSql == Seq(Some(-24L), Some(0L), Some(16384L + 10000L + 49L), None))
  }

  test("simhash_sig tolerates null array elements from SQL callers") {
    Graft.register(spark)
    val r = spark.sql(
      """SELECT simhash_sig(array('a', CAST(NULL AS STRING), 'b'), 8) AS mixed,
        |       simhash_sig(array('a', 'b'), 8) AS clean,
        |       simhash_sig(array(CAST(NULL AS STRING)), 8) AS all_null,
        |       simhash_sig(CAST(NULL AS ARRAY<STRING>), 8) AS null_arr""".stripMargin)
      .collect().head
    // null elements are skipped, so mixed == clean; all-null degrades to
    // null (no fingerprint) instead of throwing
    assert(r.getString(0) == r.getString(1))
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("non-literal size arguments are rejected with a clear message") {
    Graft.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT simhash_sig(array('a'), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("hilbert_index is callable from SQL and matches the static function") {
    Graft.register(spark)
    val r = spark.sql(
      "SELECT hilbert_index(5L, 9L, 21), hilbert_index(1L, 2L, 3L, 21), " +
        "hilbert_index(CAST(NULL AS BIGINT), 2L, 21)").collect().head
    assert(r.getLong(0) ==
      graft.functions.HilbertIndex.index(Array(5L, 9L), 21))
    assert(r.getLong(1) ==
      graft.functions.HilbertIndex.index(Array(1L, 2L, 3L), 21))
    assert(r.isNullAt(2))
    // a non-literal bits argument is rejected at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT hilbert_index(1L, 2L, 1 + 20)").collect()
    }
    assert(e.getMessage.contains("hilbert_index bits") ||
      Option(e.getCause).exists(_.getMessage.contains("hilbert_index bits")))
  }

  test("normalize_text: NFC unifies precomposed and combining forms; NFKC folds compat") {
    Graft.register(spark)
    val r = spark.sql(
      "SELECT normalize_text('a\u0301', 'NFC') = '\u00e1', " + // combining -> composed
        "normalize_text('\ufb01', 'NFKC') = 'fi', " +           // fi ligature folds
        "normalize_text('\ufb01', 'NFC') = '\ufb01', " +       // NFC keeps ligatures
        "normalize_text(CAST(NULL AS STRING), 'NFC')").collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.isNullAt(3))
    // a non-literal form is rejected at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT normalize_text('x', concat('N','FC'))").collect()
    }
    assert(e.getMessage.contains("string literal") ||
      Option(e.getCause).exists(_.getMessage.contains("string literal")))
  }
}
