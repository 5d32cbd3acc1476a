package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** SQL surface spec: the custom expressions resolve from spark.sql after
  * extension registration, with the same semantics as the column API.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("explode_tar generator explodes the fixture from SQL") {
    GraftExtensions.register(spark)
    spark.read.format("binaryFile").load(graft.queries.TarQueries.FixtureTgz)
      .createOrReplaceTempView("bin")
    val rows = spark.sql(
      """SELECT t.name, t.size, t.typeflag
        |FROM bin LATERAL VIEW explode_tar(path, content) t""".stripMargin)
      .collect()
    assert(rows.length === 205)
    assert(rows.count(_.getString(2) == "5") === 1)
    val viaDs = graft.io.TgzSource.entries(spark, graft.queries.TarQueries.FixtureTgz)
      .collect().map(e => (e.name, e.size)).toSet
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet === viaDs)
  }

  test("local_ip / normalize_ip usable from SQL") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT local_ip('20170315T17:00:00Z_2001:668:1f:1d:::43_0.web100') AS ip,
        |       normalize_ip('2001:4c08:2003:3f:::230') AS n,
        |       local_ip('badname.web100') AS miss,
        |       rolling_hash('hello world') AS rh""".stripMargin).head()
    assert(row.getString(0) === "2001:668:1f:1d::43")
    assert(row.getString(1) === "2001:4c08:2003:3f::230")
    assert(row.getString(2) === "")
    assert(row.getLong(3) === graft.functions.HashFunctions.rollingHash("hello world"))
    // a wrong arity names the function, as the injected builders do
    val e = intercept[IllegalArgumentException] {
      spark.sql("SELECT local_ip('a', 'b')").collect()
    }
    assert(e.getMessage.contains("local_ip expects 1 argument, got 2"))
  }

  test("canonical_ip / md5_prefix usable from SQL") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT canonical_ip('2001:DB8:0:0:0:0:0:1') AS c,
        |       md5_prefix('abc', 4) AS h4,
        |       conv(substring(md5('abc'), 1, 8), 16, 10) AS h4ref""".stripMargin).head()
    assert(row.getString(0) === "2001:db8::1")
    assert(row.getLong(1).toString === row.getString(2))
  }

  test("word_shingle_hashes / char_gram_hashes usable from SQL, match composition") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT word_shingle_hashes(split('a b c d', ' '), 3, 7) AS ws,
        |       array_sort(array_distinct(array(md5_prefix('a b c', 7),
        |                                       md5_prefix('b c d', 7)))) AS wsref,
        |       char_gram_hashes('abcdef', 5, 7) AS cg,
        |       array_sort(array_distinct(array(md5_prefix('abcde', 7),
        |                                       md5_prefix('bcdef', 7)))) AS cgref""".stripMargin).head()
    assert(row.getSeq[Long](0) === row.getSeq[Long](1))
    assert(row.getSeq[Long](2) === row.getSeq[Long](3))
  }

  test("nfc_normalize / strip_accents usable from SQL, Unicode-conformant") {
    GraftExtensions.register(spark)
    // decomposed e+U+0301 composes to U+00E9; folding strips to ASCII
    val row = spark.sql(
      "SELECT length(nfc_normalize('café')) AS ln, " +
        "nfc_normalize('café') = 'café' AS eq, " +
        "strip_accents('café naïve') AS folded, " +
        "strip_accents(nfc_normalize('café')) AS both").head()
    assert(row.getInt(0) === 4)
    assert(row.getBoolean(1))
    assert(row.getString(2) === "cafe naive")
    assert(row.getString(3) === "cafe")
    // pure-model properties: idempotence, code-point-aware mark removal
    import graft.functions.NormalizeFunctions.{nfc, stripAccents}
    assert(nfc(nfc("café")) === nfc("café"))
    assert(stripAccents("éèüñç") === "eeunc")
    // supplementary plane chars pass through untouched
    val emoji = new String(Character.toChars(0x1F984))
    assert(stripAccents("a" + emoji + "b") === "a" + emoji + "b")
  }

  test("md5_prefix / rolling_hash implicitly cast non-string input") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT md5_prefix(123, 4) AS hi,
        |       md5_prefix('123', 4) AS hs,
        |       rolling_hash(123) AS ri,
        |       rolling_hash('123') AS rs""".stripMargin).head()
    assert(row.getLong(0) === row.getLong(1))
    assert(row.getLong(2) === row.getLong(3))
  }
}
