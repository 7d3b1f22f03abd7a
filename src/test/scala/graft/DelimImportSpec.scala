package graft

import graft.sources.DelimImport
import graft.sources.DelimImport.Options
import org.apache.spark.sql.Row

/** Goldens ported from the reference's delim-import tests
 * (test/delim-import-test.mjs): type detection, NA/NaN tolerance, hint
 * surface, delimiter guessing, decimal-comma, parseNumber grammar. */
class DelimImportSpec extends SparkSuite {

  private def rows(csv: String, opts: Options = Options()): Seq[Row] =
    DelimImport.readString(spark, csv, opts).collect().toSeq

  // --- guessDelimiter (delim-import-test.mjs:430-447) ---

  test("guessDelimiter: csv / tsv / pipe / semicolon / fallback") {
    assert(DelimImport.guessDelimiter("a,b\n1,2") == ",")
    assert(DelimImport.guessDelimiter("a\tb\n1,2") == "\t")
    assert(DelimImport.guessDelimiter("a|b\n1,2") == "|")
    assert(DelimImport.guessDelimiter("a;b\n1;2") == ";")
    assert(DelimImport.guessDelimiter("abc") == ",")
  }

  // --- getFieldTypeHints (delim-import-test.mjs:461-490) ---

  test("type hints: names, aliases, + prefix, invalid hints skipped") {
    assert(DelimImport.typeHints(Options(fieldTypes = Seq("fips:string", "count:number", "other"))) ==
      Map("fips" -> "string", "count" -> "number"))
    assert(DelimImport.typeHints(Options(fieldTypes = Seq("fips:s", "count:n", "other:STR"))) ==
      Map("fips" -> "string", "count" -> "number", "other" -> "string"))
    assert(DelimImport.typeHints(Options(fieldTypes = Seq("+count", "+other"))) ==
      Map("count" -> "number", "other" -> "number"))
    assert(DelimImport.typeHints(Options(fieldTypes = Seq("fips", "count", "fips:str"))) ==
      Map("fips" -> "string"))
    assert(DelimImport.typeHints(Options(fieldTypes = Seq("fips:str", "count", "fips"))) ==
      Map("fips" -> "string"))
  }

  // --- numeric detection (delim-import-test.mjs:193-230) ---

  test("detect numeric field when first record is empty") {
    val got = rows("a,b,c\n,\"\",0\n3,4,5")
    assert(got == Seq(Row(null, null, 0.0), Row(3.0, 4.0, 5.0)))
  }

  test("detect numeric field when whitespace is present; strings keep whitespace") {
    assert(rows("a\tb\tc\n 3\t4 \t  5  ") == Seq(Row(3.0, 4.0, 5.0)))
    assert(rows("a,b,c\n\" \", , a ") == Seq(Row(" ", " ", " a ")))
  }

  test("NA / NaN tolerated in numeric fields; all-NA column stays string") {
    val got = rows("a,b,c,d\n  NA,4,NA,NaN\n3,\"NA\",NA,9")
    assert(got == Seq(Row(null, 4.0, "NA", null), Row(3.0, null, "NA", 9.0)))
  }

  test("string field wins when any value fails to parse") {
    assert(rows("a,b\n2,0\n4a,8x") == Seq(Row("2", "0"), Row("4a", "8x")))
  }

  // --- hints applied to data (delim-import-test.mjs:231-247, 493-520) ---

  test("string hints prevent detection; number hints force conversion") {
    assert(rows("a\tb\tc\n3\t4\t5", Options(fieldTypes = Seq("a:str", "b:string"))) ==
      Seq(Row("3", "4", 5.0)))
    assert(rows("a\tb\tc\nfour\t\t5", Options(fieldTypes = Seq("a:num", "b:number"))) ==
      Seq(Row(null, null, 5.0)))
    assert(rows("foo,bar\n001,001", Options(stringFields = Seq("foo"))) ==
      Seq(Row("001", 1.0)))
    assert(rows("foo,bar\n001,001", Options(stringFields = Seq("*"))) ==
      Seq(Row("001", "001")))
  }

  test("csv-fields filter + invalid header names dropped") {
    val df = DelimImport.readString(spark, "a,b,c\n1,2,3",
      Options(csvFields = Seq("a", "c")))
    assert(df.columns.toSeq == Seq("a", "c"))
    val df2 = DelimImport.readString(spark, " ,  ,foo, \na,b,c,d\n")
    assert(df2.columns.toSeq == Seq("foo"))
    assert(df2.collect().toSeq == Seq(Row("c")))
  }

  // --- parseNumber grammar (delim-import-test.mjs:344-407) ---

  test("parseNumber: decimals, signs, spaces, comma groups, sci, hex; rejects") {
    import spark.implicits._
    val in = Seq("-43.2", "+43.2", "-2.0  ", "  0", "3,211", "-2,000,000.0  ",
      "1.3e3", "Alphabet", "0xcc", "", " ", "312 Orchard St", "2013-12-03",
      ",", ".").toDF("s")
    val got = in.select(DelimImport.parseNumberExpr($"s", decimalComma = false))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(Some(-43.2), Some(43.2), Some(-2.0), Some(0.0), Some(3211.0),
      Some(-2e6), Some(1.3e3), None, Some(204.0), None, None, None, None,
      None, None))
  }

  test("decimal-comma: comma decimal, point/space group separators") {
    import spark.implicits._
    val in = Seq("123,10", "1.000.000", "1.000.000,5", "1 000 000,5").toDF("s")
    val got = in.select(DelimImport.parseNumberExpr($"s", decimalComma = true))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(123.10, 1e6, 1000000.5, 1000000.5))
    assert(rows("num\n\"20,1\"\n\"-5,0\"", Options(decimalComma = true)) ==
      Seq(Row(20.1), Row(-5.0)))
  }

  test("guessDelimiter ignores a line-leading candidate (reference regex)") {
    // ^[^\n\r]+<delim> needs a char before the delimiter
    assert(DelimImport.guessDelimiter("|a,b\n1,2") == ",")
    assert(DelimImport.guessDelimiter("|a|b\n1|2") == "|")
  }

  test("number hint beats string-fields=* (reference checks number first)") {
    assert(rows("a,b\n001,002",
      Options(stringFields = Seq("*"), fieldTypes = Seq("b:num"))) ==
      Seq(Row("001", 2.0)))
  }

  test("embedded newline inside a quoted field survives") {
    val got = rows("id,note\n1,\"line one\nline two\"")
    assert(got == Seq(Row(1.0, "line one\nline two")))
  }

  test("NBSP-padded numbers parse (JS trim is Unicode)") {
    assert(rows("a\n\u00A01234\n5") == Seq(Row(1234.0), Row(5.0)))
  }

  test("space delimiter routes to fixed-width parsing (reference semantics)") {
    val content = "NAME      POP\nAlabama   4779736\nAlaska    710231"
    val df = DelimImport.readString(spark, content)
    assert(df.columns.toSeq == Seq("NAME", "POP"))
    assert(df.collect().toSeq == Seq(Row("Alabama", 4779736.0), Row("Alaska", 710231.0)))
    // boundary inference rejects data spanning a header gap
    assert(DelimImport.parseFixedWidthInfo("AA BB\nxxxxxyy").isEmpty)
  }

  // --- file import end-to-end (delim-import-test.mjs:94-128, 526-540) ---

  test("empty_fields2.csv: string-fields protects FIPS, lat/lon numeric with nulls") {
    ReferenceFixture.assumePresent("text/empty_fields2.csv")
    val df = DelimImport.read(spark,
      "/root/reference/test/data/text/empty_fields2.csv",
      Options(stringFields = Seq("Voters_FIPS")))
    val got = df.collect().toSeq
    assert(got == Seq(
      Row("LOS ANGELES", "037", "ALTADENA-0046", 34.1911, -118.158, "GeoMatchRooftop"),
      Row("LOS ANGELES", "037", "ALTADENA-0048", null, null, "")))
  }

  test("BOM handling: utf8 / utf16be / utf16le fixtures parse identically") {
    ReferenceFixture.assumePresent(
      "text/utf8_bom.csv", "text/utf16_be_bom.csv", "text/utf16_le_bom.csv")
    // delim-import-test.mjs:50-70 — same election table in three encodings
    val dfs = Seq("utf8_bom.csv", "utf16_be_bom.csv", "utf16_le_bom.csv").map { f =>
      DelimImport.read(spark, s"/root/reference/test/data/text/$f")
    }
    val cols = dfs.head.columns.toSeq
    assert(cols.head == "election_dt") // BOM stripped from first header
    val heads = dfs.map(df => df.orderBy("polling_place_name").head())
    assert(dfs.forall(_.columns.toSeq == cols))
    assert(heads.tail.forall(_ == heads.head))
    assert(heads.head.getAs[String]("county_name") == "ALAMANCE")
    assert(dfs.map(_.count()).distinct.size == 1)
  }

  test("states.csv: 52 records, FIPS auto-detected numeric, tsv guess") {
    ReferenceFixture.assumePresent("text/states.csv", "text/two_states.tsv")
    val df = DelimImport.read(spark, "/root/reference/test/data/text/states.csv")
    assert(df.count() == 52)
    val first = df.orderBy("STATE_NAME").head()
    assert(first == Row("Alabama", 1.0, "East South Central", "AL", 4779736.0, 92.5))
    val tsv = DelimImport.read(spark, "/root/reference/test/data/text/two_states.tsv")
    assert(tsv.columns.toSeq == Seq("STATE_NAME", "FIPS", "STATE", "LAT", "LONG"))
    assert(tsv.count() == 2)
  }
}
