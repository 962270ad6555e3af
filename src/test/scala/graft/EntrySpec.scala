package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage of the driver contract: flagship entry plus a sample
  * of registered queries against the sf0.001 tables. (Full oracle
  * verification runs via graft.Verify + the driver's DuckDB compare.) */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("flagship entry returns report rows") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("seg", "report"))
    assert(df.count() > 0)
  }

  test("every registered query has distinct output column names") {
    // duplicate column names would break the driver's column-sorted hash
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, dir).columns.toSeq
      assert(cols.distinct.size == cols.size,
        s"$name has duplicate columns: $cols")
    }
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("no registration key is duplicated at the SOURCE level in " +
       "EITHER map (a duplicate inside one Map literal silently " +
       "shadows the earlier entry — r14 lost an operator's QUERY to " +
       "this, and a duplicate ORACLE key would silently swap a " +
       "query's oracle)") {
    // exact-occurrence counting over the registry files: every
    // registered key must appear as `"key" ->` exactly twice (query
    // lambda + oracle entry) or once (query without an oracle). This
    // covers all oracle idioms — string literal, s-interpolated, def
    // reference — which the r14 lambda-only regex ("key" -> ((s) did
    // not (ADVICE r14 #2). Scope is pinned to the registry files so
    // an unrelated map keyed by query names in another file cannot
    // inflate counts; a registry moved to a NEW file shows up as count
    // 0 here — loud, and the cue to extend the list.
    val registryFiles = Seq("CoreQueries", "LlmQueries", "RptQueries",
      "CorpusQueries", "SparkEntry")
      .map(n => java.nio.file.Paths.get(s"src/main/scala/graft/$n.scala"))
    val srcs = registryFiles.map { f =>
      assert(java.nio.file.Files.exists(f), s"registry file moved: $f")
      new String(java.nio.file.Files.readAllBytes(f))
    }
    val oracleKeys = SparkEntry.oracleSql.keySet
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { k =>
      val pat = java.util.regex.Pattern
        .compile("\"" + java.util.regex.Pattern.quote(k) + "\"\\s*->")
      val n = srcs.map { s =>
        val m = pat.matcher(s)
        Iterator.continually(m).takeWhile(_.find()).size
      }.sum
      val expected = if (oracleKeys(k)) 2 else 1
      if (n != expected)
        Some(s"""$k: found $n source occurrences of "$k" ->, """ +
          s"expected $expected (1 query + ${expected - 1} oracle)")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("sample queries return rows at sf0.001") {
    // text_bm25 guards against the r14 vacuous-oracle regression (the
    // maxDfFrac default emptied BOTH engines' results, so the hash
    // compare passed on two empty sets)
    Seq("q1_agg", "sliding_scores", "report_shape", "dedup_minhash",
        "embedding_cosine_topk", "row_num_surrogate", "text_bm25")
      .foreach { q =>
        assert(SparkEntry.queries(q)(spark, dir).count() > 0, q)
      }
  }
}
