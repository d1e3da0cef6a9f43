package graft

import graft.functions._
import graft.functions.HashFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FunctionsSpec extends GraftSuite {
  import spark.implicits._

  test("group_concat orders by sort key, respects separator and max length") {
    val df = Seq((1, "b", "bee"), (1, "a", "ay"), (1, "c", "see"),
      (2, "x", "ex")).toDF("g", "k", "v")
    val out = df.groupBy($"g")
      .agg(GroupConcat.groupConcat($"k", $"v", sep = "|").as("gc"))
      .orderBy($"g").collect()
    assert(out(0).getString(1) == "ay|bee|see")
    assert(out(1).getString(1) == "ex")

    val trunc = df.groupBy($"g")
      .agg(GroupConcat.groupConcat($"k", $"v", sep = "|", maxLen = 5).as("gc"))
      .orderBy($"g").collect()
    assert(trunc(0).getString(1) == "ay|be")
  }

  test("group_concat distinct") {
    val df = Seq((1, "a", "dup"), (1, "b", "dup"), (1, "c", "uniq"))
      .toDF("g", "k", "v")
    val out = df.groupBy($"g")
      .agg(GroupConcat.groupConcat($"k", $"v", distinct = true).as("gc"))
      .collect()
    assert(out(0).getString(1) == "dup,uniq")
  }

  test("union normalization promotes across legs like the reference lattice") {
    import UnionNormalize._
    assert(promote(IntegerType, LongType) == LongType)
    assert(promote(LongType, DoubleType) == DoubleType)
    assert(promote(DecimalType(10, 2), IntegerType) == DecimalType(22, 2))
    assert(promote(StringType, DoubleType) == StringType)
    assert(promote(DateType, TimestampType) == TimestampType)
    val legs = Seq(Seq(1).toDF("v"), Seq(2.5).toDF("v"), Seq(3L).toDF("v"))
    val u = unionNormalized(legs)
    assert(u.schema.head.dataType == DoubleType)
    assert(u.count() == 3)
  }

  test("period_add / period_diff match MySQL semantics") {
    val df = Seq((199512L, 3L), (199512L, 1L), (200001L, -1L), (199506L, 18L))
      .toDF("p", "n")
      .select(MySqlFunctions.periodAdd($"p", $"n").as("pa"),
        MySqlFunctions.periodDiff($"p", lit(199501L)).as("pd"))
    val rows = df.collect()
    assert(rows(0).getLong(0) == 199603L) // 199512 + 3
    assert(rows(1).getLong(0) == 199601L) // 199512 + 1 rolls year
    assert(rows(2).getLong(0) == 199912L) // 200001 - 1 rolls back
    assert(rows(3).getLong(0) == 199612L)
    assert(rows(0).getLong(1) == 11L) // 199512 vs 199501
  }

  test("simhash64: identical token sets agree, near-dups are close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines here now"))
      .toDF("id", "text")
      .select($"id", simhash64(split($"text", " ")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    val near = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val far = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16)
  }

  test("hamming64 and fingerprint64 are deterministic") {
    val r = Seq(("abc", "abd")).toDF("a", "b")
      .select(fingerprint64($"a").as("fa"), fingerprint64($"b").as("fb"),
        hamming64(fingerprint64($"a"), fingerprint64($"a")).as("zero"))
      .collect()(0)
    // polynomial hash: ((97*B)+98)*B+99 with B=1000003
    val expected = (('a'.toLong * 1000003L + 'b') * 1000003L + 'c')
    assert(r.getLong(0) == expected)
    assert(r.getLong(0) != r.getLong(1))
    assert(r.getInt(2) == 0)
  }

  test("minhash signature estimates jaccard") {
    val a = (1 to 100).map(i => s"tok$i")
    val b = (51 to 150).map(i => s"tok$i") // true jaccard = 50/150 = 1/3
    val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
      .select($"id", minhashSig($"toks", 128).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val matches = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    val est = matches.toDouble / 128
    assert(math.abs(est - 1.0 / 3.0) < 0.15, s"estimate $est")
  }

  test("mysqlToNumber coerces like MySQL string arithmetic") {
    val rows = Seq("12abc", "abc", "  3.5x", "-2e2yz", ".5", "", "7")
      .toDF("s")
      .select($"s", MySqlFunctions.mysqlToNumber($"s").as("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("12abc") == 12.0)
    assert(rows("abc") == 0.0)
    assert(rows("  3.5x") == 3.5)
    assert(rows("-2e2yz") == -200.0)
    assert(rows(".5") == 0.5)
    assert(rows("") == 0.0)
    assert(rows("7") == 7.0)
  }

  test("group_concat tolerates NULL sort keys (ordered first, MySQL-style)") {
    val out = Seq((1, Option("b"), "bee"), (1, Option.empty[String], "nil"),
      (1, Option("a"), "ay")).toDF("g", "k", "v")
      .groupBy($"g")
      .agg(GroupConcat.groupConcat($"k", $"v").as("gc")).collect()
    assert(out(0).getString(1) == "nil,ay,bee")
  }

  test("mysqlToNumber propagates NULL input") {
    val r = Seq((Option("5x"), Option.empty[String])).toDF("a", "b")
      .select(MySqlFunctions.mysqlToNumber($"a").as("a"),
        MySqlFunctions.mysqlToNumber($"b").as("b")).collect()(0)
    assert(r.getDouble(0) == 5.0)
    assert(r.isNullAt(1))
  }

  test("mysql format translator handles %% escapes and literal letters") {
    import MySqlFunctions.mysqlFormatToJava
    assert(mysqlFormatToJava("%%Y") == "'%Y'")
    assert(mysqlFormatToJava("%Y-%m-%dT%H") == "yyyy-MM-dd'T'HH")
    intercept[IllegalArgumentException](mysqlFormatToJava("%f"))
    val rendered = Seq(java.sql.Timestamp.valueOf("2024-03-05 07:08:09"))
      .toDF("ts")
      .select(MySqlFunctions.dateFormat($"ts", "%Y-%m-%dT%H %% ok")
        .as("s")).collect()(0).getString(0)
    assert(rendered == "2024-03-05T07 % ok")
  }

  test("sql vector functions coerce double arrays and apply defaults") {
    val r = spark.sql("""
      SELECT cosine_sim(array(1.0, 0.0), array(1.0, 0.0)) AS c,
             lsh_bucket(array(0.5, -0.25)) AS b""").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(r.getInt(1) >= 0 && r.getInt(1) < 256)
    val err = intercept[Exception](spark.sql("SELECT hamming64(1)").collect())
    assert(err.getMessage.contains("hamming64"))
  }

  test("language id ties break toward the priority order, not 'zh'") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tie").toString
    Seq((1L, "xyzzy plugh")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fx"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = operators.TextQueries.langId.run(spark, tmp).collect()(0)
    assert(out.getString(2) == "en") // all-zero scores → priority order wins
  }

  test("week/yearweek match MySQL-documented values in every mode") {
    import graft.functions.DateFunctions.{week, yearweek}
    val df = Seq("2008-02-20", "2008-12-31", "2000-01-01", "1987-01-01",
      "2019-12-30", "2024-12-31", "2005-01-01").toDF("s")
      .select($"s", to_date($"s").as("d"))
    val rows = df.select($"s",
      week($"d", 0).as("w0"), week($"d", 1).as("w1"), week($"d", 2).as("w2"),
      week($"d", 3).as("w3"), week($"d", 4).as("w4"), week($"d", 6).as("w6"),
      yearweek($"d", 0).as("yw0"), yearweek($"d", 3).as("yw3"))
      .collect().map(r => r.getString(0) -> r).toMap
    // values from the MySQL reference manual / server behavior
    assert(rows("2008-02-20").getInt(1) == 7)   // WEEK(d,0)
    assert(rows("2008-02-20").getInt(2) == 8)   // WEEK(d,1)
    assert(rows("2008-12-31").getInt(2) == 53)  // WEEK(d,1)
    assert(rows("2000-01-01").getInt(1) == 0)   // WEEK(d,0)
    assert(rows("2000-01-01").getInt(3) == 52)  // WEEK(d,2)
    assert(rows("1987-01-01").getInt(7) == 198652)  // YEARWEEK(d)
    assert(rows("2019-12-30").getInt(4) == 1)   // ISO week 1 of 2020
    assert(rows("2019-12-30").getInt(8) == 202001)  // YEARWEEK(d,3)
    assert(rows("2024-12-31").getInt(4) == 1)
    assert(rows("2005-01-01").getInt(5) == 0)   // WEEK(d,4)
    assert(rows("2005-01-01").getInt(6) == 52)  // WEEK(d,6)
  }

  test("rand(seed) is deterministic for a fixed partition layout, in [0,1)") {
    // the reference registers rand() (utils/funcexp/funcexp.cpp); Spark's
    // rand is seed-deterministic per partition — pin the contract
    def run() = spark.range(0, 100, 1, 1)
      .select(rand(42).as("r")).collect().map(_.getDouble(0))
    val a = run()
    val b = run()
    assert(a.sameElements(b), "rand(42) not reproducible")
    assert(a.forall(v => v >= 0.0 && v < 1.0))
    assert(a.distinct.length > 90, "rand values suspiciously repetitive")
  }

  test("registry tail: crc32 known value, unhex round-trip, maketime edges") {
    import graft.functions.MySqlFunctions.{makeTime, getFormat}
    val r = spark.range(1).select(
      crc32(lit("MySQL")).as("c"),
      decode(unhex(hex(lit("graft"))), "UTF-8").as("rt"),
      makeTime(lit(12), lit(15), lit(30)).as("mt"),
      makeTime(lit(900), lit(0), lit(0)).as("mt_clamp"),
      makeTime(lit(1), lit(61), lit(0)).as("mt_bad"),
      makeTime(lit(-5), lit(10), lit(10)).as("mt_neg"),
      makeTime(lit(-900), lit(1), lit(1)).as("mt_neg_clamp"),
      getFormat("TIME", "USA").as("fmt"),
      getFormat("DATE", "nope").as("fmt_bad")).collect()(0)
    assert(r.getLong(0) == 3259397556L) // MySQL doc: CRC32('MySQL')
    assert(r.getString(1) == "graft")
    assert(r.getString(2) == "12:15:30")
    assert(r.getString(3) == "838:59:59") // saturates to the TIME endpoint
    assert(r.isNullAt(4))
    // reference-faithful deviation from MySQL proper: snprintf %02d counts
    // the sign toward the width (MySQL would print '-05:10:10')
    assert(r.getString(5) == "-5:10:10")
    assert(r.getString(6) == "-838:59:59")
    assert(r.getString(7) == "%h:%i:%s %p")
    assert(r.isNullAt(8))
  }

  test("custom expressions work through SQL and inside lambdas") {
    val r = spark.sql(
      """SELECT fingerprint64('abc') AS fp,
                hamming64(12, 10) AS hd,
                transform(array('x', 'y'), t -> fingerprint64(t)) AS fps,
                mysql_week(DATE '2008-02-20', 1) AS wk,
                mysql_yearweek(DATE '1987-01-01') AS yw""")
      .collect()(0)
    assert(r.getLong(0) == (('a'.toLong * 1000003L + 'b') * 1000003L + 'c'))
    assert(r.getInt(1) == java.lang.Long.bitCount(12L ^ 10L))
    assert(r.getSeq[Long](2).length == 2)
    assert(r.getInt(3) == 8)
    assert(r.getInt(4) == 198652)
  }

  test("ci collation: equality, ordering, and the mysql_strcoll shim") {
    // the reference's latin1_swedish_ci analog: 'ACME' = 'acme' under ci,
    // ordering case-folds, strcoll returns the -1/0/1 sign
    val r = spark.sql(
      """SELECT 'ACME' COLLATE UTF8_LCASE = 'acme' AS eq,
                'ACME' COLLATE UTF8_LCASE = 'acmf' AS ne,
                mysql_strcoll('ACME', 'acme') AS c0,
                mysql_strcoll('apple', 'BANANA') AS cm1,
                mysql_strcoll('Zed', 'apple') AS cp1""").collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getInt(2) == 0 && r.getInt(3) == -1 && r.getInt(4) == 1)
    // ci ORDER BY interleaves cases ('apple' between 'ACME' and 'Zed',
    // where binary order would put both uppercase strings first)
    val ordered = spark.sql(
      """SELECT s FROM VALUES ('apple'), ('ACME'), ('Zed'), ('banana') t(s)
         ORDER BY s COLLATE UTF8_LCASE""").collect().map(_.getString(0))
    assert(ordered.toSeq == Seq("ACME", "apple", "banana", "Zed"),
      ordered.toSeq.toString)
  }

  test("topk aggregate keeps a bounded buffer and orders ties by label") {
    import graft.functions.{TkInput, TopKLabels, TopK}
    val agg = new TopKLabels(3)
    // the 100 TB contract: reduce and merge NEVER grow the buffer past k
    var buf = agg.zero
    for (i <- 1 to 50) {
      buf = agg.reduce(buf, TkInput(i.toDouble, s"r$i"))
      assert(buf.size <= 3, s"buffer grew to ${buf.size} after $i rows")
    }
    val other = (100 to 140).foldLeft(agg.zero)((b, i) =>
      agg.reduce(b, TkInput(i.toDouble, s"m$i")))
    val merged = agg.merge(buf, other)
    assert(merged.size == 3)
    assert(agg.finish(merged) == "m140,m139,m138")
    // ties order by label ascending; null labels are dropped
    val ties = Seq(TkInput(5.0, "b"), TkInput(5.0, "a"), TkInput(5.0, "c"),
      TkInput(9.0, null)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(ties) == "a,b,c")
    // end-to-end through the udaf against a hand-ranked frame
    val df = Seq(("g", 1.0, "low"), ("g", 9.0, "hi"), ("g", 5.0, "mid"),
      ("g", 7.0, "near"), ("h", 2.0, "only"))
      .toDF("g", "v", "name")
    val rows = df.groupBy($"g")
      .agg(TopK.topkLabels($"v", $"name", 3).as("top"))
      .orderBy($"g").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("g", "hi,near,mid"), ("h", "only")))
  }

  test("Prefix.over row numbers are exactly the sequential-scan ranks") {
    // the distributed prefix-scan must produce a PERMUTATION of 1..n that
    // agrees with a driver-side sequential sort — duplicates or gaps mean
    // the two branches (running values / per-partition totals) saw
    // different range-partition boundaries, the bug the barrier in
    // Prefix.over exists to prevent
    val n = 10000
    val df = spark.range(n).select(
      (col("id") * 2654435761L % 997).as("k"), col("id").as("tie"),
      lit(1L).as("one"))
      .repartition(13) // scrambled, many-partition input
    val out = Prefix.over(df, Seq(col("k"), col("tie")),
      Seq(Prefix.rowNumber("rn"),
        Prefix.sumOf(col("one"), "cum"),
        Prefix.sumOf(col("one"), "before", inclusive = false),
        Prefix.minOf(col("tie"), "runmin"),
        Prefix.maxOf(col("tie"), "runmax", inclusive = false)),
      numParts = 7)
      .select(col("k"), col("tie"), col("rn"), col("cum"), col("before"),
        col("runmin"), col("runmax"))
      .collect()
    assert(out.length == n)
    val byKey = out.sortBy(r => (r.getLong(0), r.getLong(1)))
    var minSoFar = Long.MaxValue
    var maxBefore = Long.MinValue
    byKey.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(2) == i + 1, s"rn at sorted pos $i: $r")
      assert(r.getLong(3) == i + 1, s"inclusive cum at pos $i: $r")
      if (i == 0) assert(r.isNullAt(4), s"first exclusive must be null: $r")
      else assert(r.getLong(4) == i, s"exclusive cum at pos $i: $r")
      minSoFar = math.min(minSoFar, r.getLong(1))
      assert(r.getLong(5) == minSoFar, s"running min at pos $i: $r")
      if (i == 0) assert(r.isNullAt(6), s"first excl max must be null: $r")
      else assert(r.getLong(6) == maxBefore, s"excl running max at $i: $r")
      maxBefore = math.max(maxBefore, r.getLong(1))
    }
  }

  test("Prefix.over decimal running sums keep full scale across the merge") {
    // decimal(38,s) + decimal(38,s) adjusts to scale s-1 under Spark's
    // precision-loss rule — without the narrowed-operand merge this test
    // fails in the 12th decimal for every row whose offset is non-null
    val n = 5000
    val df = spark.range(n).select(
      (col("id") * 2654435761L % 997).as("k"), col("id").as("tie"),
      expr("cast(id * cast(0.000000000001 as decimal(14,13)) " +
        "as decimal(28,12))").as("v"))
      .repartition(11)
    val out = Prefix.over(df, Seq(col("k"), col("tie")),
      Seq(Prefix.sumOf(col("v"), "cum")), numParts = 7)
      .select(col("k"), col("tie"), col("v"), col("cum")).collect()
    assert(out.length == n)
    val byKey = out.sortBy(r => (r.getLong(0), r.getLong(1)))
    var acc = java.math.BigDecimal.ZERO
    byKey.zipWithIndex.foreach { case (r, i) =>
      acc = acc.add(r.getDecimal(2))
      assert(r.getDecimal(3).compareTo(acc) == 0,
        s"decimal cum at pos $i: got ${r.getDecimal(3)} want $acc")
    }
  }
}
