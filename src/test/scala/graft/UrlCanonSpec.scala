package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UrlNorm

/** Parity pins for the native [[graft.functions.UrlCanonParts]] kernel
  * against the retained composed parse_url/HOF baselines in UrlNorm.
  * The url_normalize / url_dedup oracles did NOT move; these tests are
  * the evidence the one-parse rewrite is bit-identical — including the
  * null/unparseable edges (path "/", kept_query "" on a null url) and
  * the ANSI INVALID_URL throw. */
class UrlCanonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Every URL shape the combinators special-case. All parseable by
    * java.net.URI (the throw cases are tested separately). */
  private def edgeUrls: DataFrame = Seq[(Long, String)](
    (1L, "HTTPS://WWW.Example.COM:443/Path/X?z=2&utm_source=a&a=1#frag"),
    (2L, "http://example.com:80/a"),
    (3L, "http://news.example.com:8080/"),
    (4L, "https://h?"),                        // empty query
    (5L, "ftp://h"),                           // empty path, no query
    (6L, "//rel/path"),                        // scheme null, port kept-path
    (7L, "a:b"),                               // opaque: host/path null
    (8L, ""),                                  // everything null/empty
    (9L, "https://[::1]:8443/v6?x=1"),         // IPv6, non-default port
    (10L, "HTTP://U:P@Host.com:8080//x//y/?"), // userinfo, double slash
    (11L, "https://h/p?a=1&a=0&&z"),           // dup keys, empty piece,
                                               //   bare flag param
    (12L, "http://x.y/q?b=2&a=10&a=2"),        // byte sort a=10 < a=2
    (13L, "https://h/p?UTM_SOURCE=x&Ref=h"),   // tracking is case-SENSITIVE
    (14L, "https://h/p?refx=1&utm=2&xref=3"),  // near-misses all kept
    (15L, "https://h/p?utm_=1&ref=2"),         // utm_ bare prefix dropped
    (16L, "http://example.com.:80/"),          // trailing-dot host:
                                               //   domain no-match → ""
    (17L, "https://singlelabel/p"),            // no dot: domain ""
    (18L, "http://h:0443/p"),                  // :0443 != "443" → kept
    (19L, "https://h:443"),                    // default port + empty path
    (20L, "http://xn--bcher-kva.example/p?q=%C3%A4&p=%20"),
    (21L, null.asInstanceOf[String]),          // null url: path "/", kq ""
    (22L, "https://WWW.WWW.example.org/"),     // only FIRST www. stripped
    (23L, "http://h/p?utm_source=1&utm_medium=2&fbclid=f&gclid=g&ref=r"),
                                               // everything stripped → ""
    (24L, "mailto:a@b.c"),                     // opaque with @
    (25L, "https://h/%7Euser/a%2Fb?k=%26amp"), // raw-escaped path/query
    (26L, "http://h/p?=bare&x="),              // empty key / empty value
    (27L, "HtTpS://MiXeD.CaSe.ORG:443/")).toDF("doc_id", "url")

  private def bothForms(df: DataFrame): (Seq[org.apache.spark.sql.Row],
      Seq[org.apache.spark.sql.Row]) = {
    val nu = df.select(col("doc_id"),
        UrlNorm.urlScheme(col("url")).as("s"),
        UrlNorm.urlHost(col("url")).as("h"),
        UrlNorm.urlPortSuffix(col("url")).as("ps"),
        UrlNorm.urlPath(col("url")).as("pa"),
        UrlNorm.urlKeptQuery(col("url")).as("kq"),
        UrlNorm.urlDomain(col("url")).as("d"),
        UrlNorm.urlNormalize(col("url")).as("n"))
      .orderBy("doc_id").collect().toSeq
    val hof = df.select(col("doc_id"),
        UrlNorm.urlSchemeHof(col("url")).as("s"),
        UrlNorm.urlHostHof(col("url")).as("h"),
        UrlNorm.urlPortSuffixHof(col("url")).as("ps"),
        UrlNorm.urlPathHof(col("url")).as("pa"),
        UrlNorm.urlKeptQueryHof(col("url")).as("kq"),
        UrlNorm.urlDomainHof(col("url")).as("d"),
        UrlNorm.urlNormalizeHof(col("url")).as("n"))
      .orderBy("doc_id").collect().toSeq
    (nu, hof)
  }

  test("native == composed parse_url form on the edge corpus") {
    val (nu, hof) = bothForms(edgeUrls)
    nu.zip(hof).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("native == composed form on a 400-URL seeded fuzz grammar") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // parseable-by-construction pieces; adversarial params (tracking
    // prefixes, case variants, empties, %-escapes, byte-order traps)
    val scheme = Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp", "ws")
    val host = Gen.oneOf("Example.COM", "www.Example.COM", "WWW.X.Y",
      "a.b.example.org", "single", "x.y.", "[::1]", "xn--bcher-kva.de")
    val port = Gen.oneOf("", ":80", ":443", ":0443", ":8080", ":65535")
    val path = Gen.oneOf("", "/", "/A/b", "//x//y/", "/%7Eu/a%2Fb")
    val param = Gen.oneOf("a=1", "a=10", "a=2", "z=9", "b=2", "x=",
      "=bare", "flag", "utm_source=s", "utm_=1", "UTM_SOURCE=S",
      "utm=2", "ref=r", "Ref=R", "refx=1", "xref=2", "fbclid=f",
      "gclid=g", "k=%26", "q=%C3%A4", "")
    val query = Gen.frequency(
      1 -> Gen.const(""),
      1 -> Gen.const("?"),
      6 -> Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, param).map("?" + _.mkString("&"))))
    val frag = Gen.oneOf("", "#f", "#sec2")
    val urlGen = for {
      s <- scheme; h <- host; po <- port; pa <- path; q <- query
      f <- frag
    } yield s"$s://$h$po$pa$q$f"
    val urls = (0 until 400).map { i =>
      (i.toLong, urlGen.apply(Gen.Parameters.default,
        Seed(7000L + i)).getOrElse("http://x.y/"))
    }.toDF("doc_id", "url")
    val (nu, hof) = bothForms(urls)
    nu.zip(hof).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
  }

  test("unparseable url: native throws the same INVALID_URL as " +
       "parse_url (ANSI mode)") {
    assume(spark.conf.get("spark.sql.ansi.enabled") == "true")
    for (bad <- Seq("not a url", "http://exa mple.com/p", "a#b#c")) {
      val df = Seq(bad).toDF("url")
      val eNu = intercept[Exception] {
        df.select(UrlNorm.urlNormalize(col("url"))).collect()
      }
      val eHof = intercept[Exception] {
        df.select(UrlNorm.urlNormalizeHof(col("url"))).collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++
          (if (t.getCause eq t) Nil else chain(t.getCause))
      assert(chain(eNu).exists(_.contains("INVALID_URL")),
        s"native: ${chain(eNu)}")
      assert(chain(eHof).exists(_.contains("INVALID_URL")),
        s"hof: ${chain(eHof)}")
    }
  }

  test("non-ANSI mode: unparseable url yields the null-parts row " +
       "(path '/', kept_query '') in BOTH forms") {
    TestSpark.withConf("spark.sql.ansi.enabled" -> "false") {
      // both forms must be CONSTRUCTED under ansi=false — parse_url
      // and UrlCanonParts bake failOnError at Column build time
      val df = Seq((1L, "not a url"), (2L, "http://exa mple.com/p"),
        (3L, "https://ok.example.com/p?a=1&utm_source=x"))
        .toDF("doc_id", "url")
      val (nu, hof) = bothForms(df)
      nu.zip(hof).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
      // and the invalid rows carry the coalesce/isNull-branch values,
      // not a null struct
      assert(nu.head.getString(4) == "/" && nu.head.getString(5) == "" &&
        nu.head.isNullAt(7), s"null-parts row: ${nu.head}")
    }
  }

  test("non-ANSI junk fuzz: native == composed on 300 arbitrary " +
       "strings (valid, malformed, empty, unicode)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    TestSpark.withConf("spark.sql.ansi.enabled" -> "false") {
      val pieceGen: Gen[String] = Gen.frequency(
        6 -> Gen.choose(32, 126).map(_.toChar.toString),
        2 -> Gen.oneOf("://", "http", "www.", "?", "&", "=", "#", ":",
          "/", "%41", "%ZZ", " ", "..", "@"),
        1 -> Gen.choose(0x80, 0x2ff).map(_.toChar.toString),
        1 -> Gen.oneOf("😀", "中", "\t"))
      val strGen = Gen.choose(0, 40).flatMap(n =>
        Gen.listOfN(n, pieceGen).map(_.mkString))
      val rows = (0 until 300).map { i =>
        (i.toLong, strGen.apply(Gen.Parameters.default,
          Seed(9100L + i)).getOrElse(""))
      }.toDF("doc_id", "url")
      val (nu, hof) = bothForms(rows)
      nu.zip(hof).foreach { case (a, b) => assert(a == b, s"\n$a\n$b") }
    }
  }

  test("interpreted eval path matches codegen (factoryMode toggle)") {
    val key = "spark.sql.codegen.factoryMode"
    def run(): Seq[org.apache.spark.sql.Row] = bothForms(edgeUrls)._1
    val gen = TestSpark.withConf(key -> "CODEGEN_ONLY")(run())
    val interp = TestSpark.withConf(key -> "NO_CODEGEN")(run())
    assert(gen == interp)
  }

  test("one-parse plan: a multi-field projection carries no " +
       "ArrayFilter/ArraySort fallbacks") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val plan = edgeUrls.select(
        UrlNorm.urlNormalize(col("url")).as("n"),
        UrlNorm.urlHost(col("url")).as("h"),
        UrlNorm.urlDomain(col("url")).as("d"),
        UrlNorm.urlKeptQuery(col("url")).as("kq"))
      .queryExecution.executedPlan
    val fbs = TestSpark.planNodes(plan).flatMap(_.expressions)
      .flatMap(_.collect { case e: CodegenFallback => e })
    assert(fbs.isEmpty, fbs.map(_.getClass.getSimpleName).mkString(","))
  }
}
