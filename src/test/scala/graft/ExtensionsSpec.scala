package graft

/** GraftExtensions: every function in the `GraftFunctions.all` table is
  * injected at session construction, so a GraftSession-built session —
  * and any `newSession()` of it — resolves them from plain SQL and from
  * the Column helpers with no registration call.
  */
import graft.functions._
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("extension-injected functions work from SQL entry") {
    val row = spark.sql(
      """SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                        array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       graft_sorted_int_intersect_count(array(1, 3, 5), array(3, 5, 7)) AS n,
        |       graft_sorted_intersect_count(array('a','b','c'), array('b','x')) AS s
        |""".stripMargin).collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getInt(1) === 2)
    assert(row.getInt(2) === 1)
  }

  test("jaro-winkler matches the textbook values and conventions") {
    val rows = spark.sql(
      """SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS a,
        |       graft_jaro_winkler('DIXON', 'DICKSONX') AS b,
        |       graft_jaro_winkler('JELLYFISH', 'SMELLYFISH') AS c,
        |       graft_jaro_winkler('aaxxxxxx', 'aayyyyyy') AS d,
        |       graft_jaro_winkler('', '') AS e,
        |       graft_jaro_winkler('abc', '') AS f
        |""".stripMargin).collect().head
    assert(math.abs(rows.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(math.abs(rows.getDouble(1) - 0.8133333333333332) < 1e-12)
    assert(math.abs(rows.getDouble(2) - 0.8962962962962964) < 1e-12)
    // boost threshold: jaro 0.5 with a 2-char prefix stays UNboosted
    assert(rows.getDouble(3) === 0.5)
    assert(rows.getDouble(4) === 1.0 && rows.getDouble(5) === 0.0)
  }

  test("lsh signature callable from SQL with and without plane count") {
    val row = spark.sql(
      """SELECT graft_lsh_signature(array(CAST(0.5 AS FLOAT), CAST(-0.2 AS FLOAT))) AS d8,
        |       graft_lsh_signature(array(CAST(0.5 AS FLOAT), CAST(-0.2 AS FLOAT)), 8) AS e8,
        |       graft_lsh_signature(array(CAST(0.5 AS FLOAT), CAST(-0.2 AS FLOAT)), 16) AS p16
        |""".stripMargin).collect().head
    assert(row.getLong(0) === row.getLong(1)) // default = explicit 8
    assert(row.getLong(2) >= 0 && row.getLong(2) < (1L << 16))
    // the 16-plane signature's low 8 bits = the 8-plane signature
    // (plane p's hyperplane depends only on p, not the plane count)
    assert((row.getLong(2) & 0xffL) === row.getLong(0))
  }

  test("expressions handle nulls and empty arrays") {
    val rows = spark.sql(
      """SELECT graft_cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS null_in,
        |       graft_sorted_int_intersect_count(CAST(array() AS ARRAY<INT>), array(1, 2)) AS empty_in
        |""".stripMargin).collect().head
    assert(rows.isNullAt(0))  // null propagates, no NPE
    assert(rows.getInt(1) === 0)
  }

  test("DESCRIBE FUNCTION reports each function's own implementing class") {
    def className(fn: String): String =
      spark.sql(s"DESCRIBE FUNCTION EXTENDED $fn").collect().map(_.getString(0))
        .collectFirst { case l if l.startsWith("Class:") => l.stripPrefix("Class:").trim }
        .get
    assert(className("graft_jaro_winkler") === classOf[JaroWinkler].getName)
    assert(className("graft_fold_text") === classOf[FoldText].getName)
    assert(className("graft_cosine_sim") === classOf[CosineSimilarity].getName)
    assert(className("graft_bloom_agg") === classOf[BloomFilterAggregate].getName)
    assert(className("graft_bloom_might_contain") ===
      classOf[BloomFilterMightContain].getName)
  }

  test("a fresh newSession() resolves all 11 functions with no registration call") {
    val s = TestSpark.spark.newSession()
    import s.implicits._
    import GraftFunctions._
    assert(all.map(_.name).sorted === Seq(
      "graft_array_eq_count", "graft_bloom_agg", "graft_bloom_might_contain",
      "graft_cosine_sim", "graft_fold_text", "graft_jaro_winkler",
      "graft_lsh_signature", "graft_minhash_signature", "graft_simhash64",
      "graft_sorted_int_intersect_count", "graft_sorted_intersect_count"))
    val in = Seq((Seq(1f, 0f), Seq(1f, 1f), Seq("a", "b", "c"), Seq("b", "x"),
        Seq(1, 3, 5), Seq(3, 5, 7), Seq(1L, 2L, 3L), Seq(1L, 0L, 3L),
        "MARTHA", "MARHTA", "  Café  DU Monde "))
      .toDF("v", "u", "s1", "s2", "i1", "i2", "l1", "l2", "w1", "w2", "t")
    val viaColumns = in.select(
      cosineSim(col("v"), col("u")), sortedIntersectCount(col("s1"), col("s2")),
      sortedIntIntersectCount(col("i1"), col("i2")), arrayEqCount(col("l1"), col("l2")),
      simhash64(col("s1")), minhashSignature(col("s1")), lshSignature(col("u")),
      jaroWinkler(col("w1"), col("w2")), foldText(col("t"))).head()
    in.createOrReplaceTempView("ext_in")
    val viaSql = s.sql(
      """SELECT graft_cosine_sim(v, u), graft_sorted_intersect_count(s1, s2),
        |  graft_sorted_int_intersect_count(i1, i2), graft_array_eq_count(l1, l2),
        |  graft_simhash64(s1), graft_minhash_signature(s1), graft_lsh_signature(u),
        |  graft_jaro_winkler(w1, w2), graft_fold_text(t)
        |FROM ext_in""".stripMargin).head()
    assert(viaColumns === viaSql)
    assert(math.abs(viaSql.getDouble(0) - 1 / math.sqrt(2)) < 1e-12)
    assert(viaSql.getInt(1) === 1 && viaSql.getInt(2) === 2 && viaSql.getInt(3) === 2)
    assert(viaSql.getSeq[Long](5).length === 64)
    assert(viaSql.getLong(6) >= 0 && viaSql.getLong(6) < 256)
    assert(math.abs(viaSql.getDouble(7) - 0.9611111111111111) < 1e-12)
    assert(viaSql.getString(8) === "cafe du monde")

    // bloom round trip: every inserted key probes positive, through the
    // Column helpers (filter collected as a literal) and through SQL
    // (filter built by a scalar subquery)
    val evens = s.range(0, 2000, 2)
    val bf = evens.agg(bloomAgg(col("id"), 1000L, 8192L)).head().getAs[Array[Byte]](0)
    assert(evens.filter(bloomMightContain(lit(bf), col("id"))).count() === 1000)
    val sqlHits = s.sql(
      """SELECT count(*) FROM range(0, 2000, 2)
        |WHERE graft_bloom_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(id), 1000L, 8192L) FROM range(0, 2000, 2)),
        |  xxhash64(id))""".stripMargin).head().getLong(0)
    assert(sqlHits === 1000)
  }
}
