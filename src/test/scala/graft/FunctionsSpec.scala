package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Functions._
import graft.functions.JsonShape

/** Unit tests for the scalar library, mirroring the reference's inline
  * REPL fixtures (reference trgx.clj:251-263,
  * model/d_bolome_order_show_debut.clj:101-109). */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("convertNull maps the null sentinel, keeps other values") {
    val out = Seq("null", "NULL", "x", null)
      .toDF("c").select(convertNull($"c")).as[String].collect()
    assert(out.toSeq == Seq(null, null, "x", null))
  }

  test("cif/nvl2/cor mirror d_bolome_order_show_debut.clj:101-109") {
    // reference fixture: [[-1 "aa"] [1 "bb"]] through nvl2-style branch
    val out = Seq((-1, "aa"), (1, "bb")).toDF("n", "s")
      .select(cif($"n" > 0, $"s", lit("neg")).as("c"),
              graft.functions.Functions.nvl2($"s", lit("nn"),
                lit("isnull")).as("v"),
              cor(lit(null).cast("string"), $"s").as("o"))
      .as[(String, String, String)].collect().toSeq
    assert(out == Seq(("neg", "nn", "aa"), ("bb", "nn", "bb")))
  }

  test("orTuple pairwise coalesce (trgx.clj:21 fixture)") {
    val df = Seq((Option.empty[String], Some("b"), Some("c"),
                  Option.empty[String])).toDF("a1", "b1", "a2", "b2")
    val m = orTuple($"a1" -> $"b1", $"a2" -> $"b2")
    val Row(x: String, y: String) = df.select(m: _*).head
    assert((x, y) == ("b", "c"))
  }

  test("mark and compareMark flag encoders") {
    val df = Seq(("O", 5), ("F", 10)).toDF("s", "n")
    val ms = mark($"s", Seq("O", "F", "P"))
    val cm = compareMark($"n", lit(7))
    val rows = df.select((ms ++ cm).map(_.cast("int")): _*)
      .collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq(1, 0, 0, 1, 0, 0), Seq(0, 1, 0, 0, 0, 1)))
  }

  test("pad fixes length to n: right-pads short, truncates long " +
       "(trgx.clj:249 `take n (concat coll (repeat v))`)") {
    val df = Seq(Seq("a"), Seq("a", "b", "c", "d")).toDF("xs")
    val out = df.select(pad($"xs", 3, lit("z"))).as[Seq[String]]
      .collect().toSeq
    assert(out == Seq(Seq("a", "z", "z"), Seq("a", "b", "c")))
  }

  test("date library: prev-last-day / prev-last-month / prev-same-month") {
    val df = Seq("2016-03-31", "2016-01-15").toDF("dt")
    val out = df.select(prevLastDay($"dt"), prevLastMonth($"dt"),
        prevSameMonth($"dt"))
      .as[(String, String, String)].collect().toSeq
    assert(out == Seq(
      ("2016-02-29", "2015-12-31", "2015-03-31"),
      ("2015-12-31", "2015-12-31", "2015-01-31")))
  }

  test("dtRebase shifts by the base interval; dtGeGet gates on bound") {
    val out = Seq(("2016-01-10", "v")).toDF("dt", "v")
      .select(dtRebase($"dt", lit("2016-01-01"), lit("2020-06-01")),
        dtGeGet($"dt", lit("2016-01-05"), $"v"),
        dtGeGet($"dt", lit("2016-02-01"), $"v"))
      .as[(String, Option[String], Option[String])].head()
    assert(out == (("2020-06-10", Some("v"), None)))
  }

  test("dtRebaseRange fills the nil side by the base interval length") {
    assert(dtRebaseRange((None, Some("2016-03-10")),
      ("2016-01-01", "2016-01-11")) == (("2016-02-29", "2016-03-10")))
    assert(dtRebaseRange((Some("2016-03-01"), None),
      ("2016-01-01", "2016-01-11")) == (("2016-03-01", "2016-03-11")))
  }

  test("takeTrainDts builds train/test window specs like the reference") {
    // dm window 2016-03-01..2016-03-10 (9 days), warehouse
    // 2016-01-01..2016-12-31, lookbacks 7 and 30 days, step 10
    val (train, test) = takeTrainDts(2, 10,
      ("2016-03-01", "2016-03-10"), ("2016-01-01", "2016-12-31"),
      Seq(7, 30))
    assert(test.size == 1)
    // test y-window = the dm window itself
    assert(test.head.y == (("2016-03-01", "2016-03-10")))
    assert(train.size == 2)
    // first train y ends the day before dm starts, same length
    assert(train.head.y == (("2016-02-20", "2016-02-29")))
    // its x windows end at the rebased history max and step back by
    // the interval lengths
    assert(train.head.xs(7)._2 == train.head.xs(30)._2)
    assert(train.head.xs.keySet == Set(7, 30))
    assert(latestTs().matches(
      "\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}Z"))
  }

  test("mkMonthDts generates month-ends within the range") {
    val out = spark.range(1)
      .select(mkMonthDts(lit("2016-01-31"), lit("2016-04-15")))
      .as[Seq[String]].head()
    assert(out == Seq("2016-01-31", "2016-02-29", "2016-03-31"))
  }

  test("mapToCanonicalString sorts keys") {
    val out = spark.range(1)
      .select(mapToCanonicalString(
        map(lit("b"), lit("2"), lit("a"), lit("1"))))
      .as[String].head()
    assert(out == "a=1,b=2")
  }

  test("pairTreeToJson: metric leaves are JSON fields, numbers " +
       "unquoted (reference cheshire rendering)") {
    import JsonShape._
    val t = Branch("d=1" -> Branch("e=2" -> Leaf("m" -> "1.5",
                                                 "a" -> "x")))
    assert(pairTreeToJson(t) == """{"d=1":{"e=2":{"a":"x","m":1.5}}}""")
  }

  test("pairTreeToJson sorts keys in UTF-8 byte order, not UTF-16 " +
       "code-unit order") {
    import JsonShape._
    // U+1F600 (surrogate pair D83D DE00) sorts BEFORE U+FFFD in Java
    // String order but AFTER in UTF-8 bytes — the DuckDB collation
    val emoji = "😀"; val fffd = "�"
    assert(emoji.compareTo(fffd) < 0, "sanity: Java order is inverted")
    val t = Branch(emoji -> Leaf("m" -> "1"), fffd -> Leaf("m" -> "2"),
                   "z" -> Leaf("m" -> "3"))
    assert(pairTreeToJson(t) ==
      s"""{"z":{"m":3},"$fffd":{"m":2},"$emoji":{"m":1}}""",
      "branch keys must collate by UTF-8 bytes (z < U+FFFD < U+1F600)")
    assert(flatJson(emoji -> "1", fffd -> "2", "z" -> "3") ==
      s"""{"z":"3","$fffd":"2","$emoji":"1"}""")
  }

  test("jsonScalar: RFC 8259 numbers only — leading zeros stay quoted, " +
       "null renders as JSON null") {
    import JsonShape._
    assert(jsonScalar("007") == "\"007\"")
    assert(jsonScalar("00.5") == "\"00.5\"")
    assert(jsonScalar("0") == "0")
    assert(jsonScalar("-0.25") == "-0.25")
    assert(jsonScalar("10.50") == "10.50")
    assert(jsonScalar(null) == "null")
  }

  test("fromRows refuses mixed grain (one path a prefix of another) " +
       "instead of silently dropping metrics") {
    import JsonShape._
    intercept[IllegalArgumentException] {
      fromRows(Seq((Seq("a"), Seq("m" -> "1")),
                   (Seq("a", "b"), Seq("m" -> "2"))))
    }
    intercept[IllegalArgumentException] {
      fromRows(Seq((Seq("a", "b"), Seq("m" -> "2")),
                   (Seq("a"), Seq("m" -> "1"))))
    }
  }

  test("mkDts/mkMonthDts yield an EMPTY array on an inverted range " +
       "(reference take-while semantics), not an exception") {
    val out = spark.range(1).select(
      mkDts(lit("2024-01-02"), lit("2024-01-01")).as("d"),
      mkMonthDts(lit("2024-03-15"), lit("2024-01-15")).as("m"),
      mkDts(lit("2024-01-01"), lit("2024-01-02")).as("ok"))
      .as[(Seq[String], Seq[String], Seq[String])].head()
    assert(out._1 == Seq.empty && out._2 == Seq.empty)
    assert(out._3 == Seq("2024-01-01", "2024-01-02"))
  }

  test("fromRows builds sorted nested tree, last write wins") {
    import JsonShape._
    val t = fromRows(Seq(
      (Seq("b"), Seq("m" -> "1")),
      (Seq("a"), Seq("m" -> "2")),
      (Seq("a"), Seq("m" -> "3"))))
    assert(pairTreeToJson(t) == """{"a":{"m":3},"b":{"m":1}}""")
  }

  test("kvPairsToJson: selector pair lists collapse to k=v strings " +
       "(vars->pair through pair-edn->json)") {
    assert(JsonShape.kvPairsToJson(Seq("period" -> "2016-01-31",
      "bg" -> "X")) == """["period=2016-01-31","bg=X"]""")
  }

  test("urlNormalize: idempotent and invariant-clean over the full " +
      "1536-URL grammar (schemes × hosts × ports × paths × queries × " +
      "fragments)") {
    import graft.functions.UrlNorm._
    val urls = for {
      s <- Seq("http", "HTTP", "https", "HTTPS")
      h <- Seq("Example.COM", "www.Example.COM", "a.b.example.org",
        "WWW.X.Y")
      p <- Seq("", ":80", ":443", ":8080")
      pa <- Seq("", "/", "/A/b")
      q <- Seq("", "?utm_source=x", "?b=2&a=1&ref=r",
        "?z=1&utm_campaign=c&y=2")
      f <- Seq("", "#f")
    } yield s"$s://$h$p$pa$q$f"
    val df = urls.toDF("url")
      .select($"url", urlNormalize($"url").as("n1"))
      .select($"url", $"n1", urlNormalize($"n1").as("n2"),
        urlHost($"n1").as("h"), urlDomain($"n1").as("d"),
        urlKeptQuery($"n1").as("kq"))
    val bad = df.filter(
      $"n1" =!= $"n2" ||                       // idempotence
      $"n1".contains("#") ||                   // fragment dropped
      $"kq".rlike("(^|&)(utm_|ref=|fbclid=|gclid=)") || // tracking gone
      $"h" =!= lower($"h") || $"h".startsWith("www.") || // host rules
      !$"h".endsWith($"d") ||                  // domain is host suffix
      // surviving params stay byte-sorted
      ($"kq" =!= "" && array_join(array_sort(split($"kq", "&")), "&")
        =!= $"kq") ||
      // DEFAULT ports dropped (scheme-matched; https://h:80 is
      // legitimately kept — non-default for https)
      ($"n1".startsWith("http://") &&
        $"n1".rlike("://[^/?#]*:80(/|$)")) ||
      ($"n1".startsWith("https://") &&
        $"n1".rlike("://[^/?#]*:443(/|$)")) ||
      // empty path normalized to /
      !regexp_extract($"n1", "^[a-z]+://[^/?#]*(.*)$", 1)
        .startsWith("/"))
    val offenders = bad.limit(5).collect()
    assert(urls.length == 1536)
    assert(offenders.isEmpty,
      offenders.map(_.toString).mkString("\n"))
  }

  test("urlNormalize applies each rule: case, www, ports, fragment, " +
      "tracking params, param sort, empty path") {
    import graft.functions.UrlNorm._
    val urls = Seq(
      "HTTPS://WWW.Example.COM:443/Path/X?z=2&utm_source=a&a=1#frag",
      "http://news.example.com:8080/",          // nonstandard port kept
      "http://example.com:80/a",                // http default dropped
      "https://sub.shop.example.org/p?ref=x&fbclid=f&gclid=g",
      "https://one.two/",                       // two-label host
      "HTTP://X.Y/q?b=2&a=10&a=2")              // byte sort: a=10 < a=2
      .toDF("url")
    val out = urls.select(
        urlNormalize($"url"), urlHost($"url"), urlDomain($"url"),
        urlKeptQuery($"url"))
      .as[(String, String, String, String)].collect().toSeq
    assert(out == Seq(
      ("https://example.com/Path/X?a=1&z=2", "example.com",
        "example.com", "a=1&z=2"),
      ("http://news.example.com:8080/", "news.example.com",
        "example.com", ""),
      ("http://example.com/a", "example.com", "example.com", ""),
      ("https://sub.shop.example.org/p", "sub.shop.example.org",
        "example.org", ""),
      ("https://one.two/", "one.two", "one.two", ""),
      ("http://x.y/q?a=10&a=2&b=2", "x.y", "x.y", "a=10&a=2&b=2")))
  }

  test("round of a tiny negative is POSITIVE zero (signed-zero pin)") {
    // The r8 oracle-parity incident: DuckDB's round() preserves the
    // sign of a tiny negative rounding to zero (-0.0), Spark's Round
    // (BigDecimal path) never emits a signed zero. Oracles therefore
    // carry a `+ 0.0` guard on every rounded signed-double column;
    // this pin keeps the engine half of that contract honest — if
    // Spark ever starts emitting -0.0 here, the guard convention and
    // scripts/check.py must both be revisited.
    val vals = Seq(-1e-9, -0.0, 0.0, -4.9e-5)
      .toDF("x")
      .select(round($"x", 4).as("r"))
      .as[Double].collect()
    vals.foreach { v =>
      assert(v == 0.0)
      assert(java.lang.Double.doubleToRawLongBits(v) == 0L,
        s"Spark round emitted signed zero: bits=${
          java.lang.Double.doubleToRawLongBits(v)}")
    }
  }
}
