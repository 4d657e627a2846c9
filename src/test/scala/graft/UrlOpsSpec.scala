package graft

import graft.operators.{Dedup, UrlOps => U}
import org.apache.spark.sql.functions._

/** Unit contracts for URL canonicalization + dedup (the l40/l40b
  * registry rows carry the cross-engine differential over the
  * documents-derived fixture; these pin each canonicalization step and
  * the keep-first/NULL semantics on hand-picked URLs). */
class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(U.canonicalizeUrl($"url")).as[String].collect().toSeq

  test("L43: canonicalization — each documented step") {
    val cases = Seq(
      // scheme+host lowercase; path case preserved
      "HTTP://WWW.Example.COM/Path" -> "http://www.example.com/Path",
      // fragment dropped
      "http://e.com/a#sec-2" -> "http://e.com/a",
      // default ports dropped; non-default kept
      "http://e.com:80/a" -> "http://e.com/a",
      "https://e.com:443/a" -> "https://e.com/a",
      "http://e.com:8080/a" -> "http://e.com:8080/a",
      // tracking params out, other params kept in order
      "http://e.com/a?utm_source=x&id=7&fbclid=z" -> "http://e.com/a?id=7",
      // leading tracking param removed → query re-anchored on '?'
      "http://e.com/a?utm_source=x&id=7" -> "http://e.com/a?id=7",
      // all params tracking → bare '?' dropped
      "http://e.com/a?utm_source=x&gclid=g" -> "http://e.com/a",
      // trailing slash collapsed, incl. before a query; root slash too
      "http://e.com/a/" -> "http://e.com/a",
      "http://e.com/" -> "http://e.com",
      "http://e.com/a/?id=1" -> "http://e.com/a?id=1",
      // whitespace trimmed
      "  http://e.com/a " -> "http://e.com/a",
      // everything at once
      "HTTPS://E.com:443/a/b/?utm_campaign=c&x=1#f" -> "https://e.com/a/b?x=1")
    cases.foreach { case (in, want) =>
      val got = canon(in).head
      assert(got === want, s"canonicalizeUrl($in) = $got, want $want")
    }
  }

  test("L43: hostOf strips scheme and port") {
    val h = Seq("http://sub.example.com:8080/p?q=1").toDF("url")
      .select(U.hostOf(U.canonicalizeUrl($"url"))).as[String].head()
    assert(h === "sub.example.com")
  }

  test("L43: urlDedup keeps min id per canonical URL; NULL urls pass; columns preserved") {
    val df = Seq(
      (5L, "http://E.com/a/", "keep5"),   // same canonical as 3,9
      (3L, "http://e.com/a?utm_source=x", "keep3"),
      (9L, "http://e.com/a#frag", "keep9"),
      (4L, "http://e.com/b", "keep4"),
      (8L, null.asInstanceOf[String], "keep8"))
      .toDF("id", "url", "payload")
    val out = U.urlDedup(df, "url", "id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.keySet === Set(3L, 4L, 8L), s"survivors: ${out.keySet}")
    assert(out(3L) === "keep3" && out(8L) === "keep8",
      "non-url columns must survive intact")
    // idempotent
    val again = U.urlDedup(U.urlDedup(df, "url", "id"), "url", "id")
    assert(again.count() === 3)
  }

  test("L43: hot-key isolation is lossless — a mass-duplicated URL still keeps exactly its min id") {
    val hot = (1L to 50L).map(i => (i, "http://hot.example.com/x"))
    val cold = Seq((100L, "http://cold.example.com/y"))
    val out = U.urlDedup((hot ++ cold).toDF("id", "url"), "url", "id",
      hotOccurrences = 10) // force the hot branch
      .select($"id").as[Long].collect().toSet
    assert(out === Set(1L, 100L), s"survivors: $out")
  }

  test("L43c: url history lifecycle — delta-visible probe, same-id replay, fold, auto-fold trigger, NULL passthrough") {
    val table = "t_url_hist"
    Dedup.UrlHistory.drop(spark, table)
    try {
      val b0 = Seq((1L, "http://a.example.com/x"), (2L, "http://b.example.com/y"))
        .toDF("id", "url")
      Dedup.UrlHistory.ensure(spark, table, b0.schema("id"), 4)
      U.appendUrlHistoryDelta(spark, b0, "url", "id", table, 0)
      def probe(rows: (Long, String)*): Set[Long] =
        U.urlIncrementalDelta(spark, rows.toDF("id", "url"), table, "url", "id")
          .select($"id").as[Long].collect().toSet
      // BEFORE fold the probe must see the delta: a canonical VARIANT
      // of a history url dies, fresh and NULL pass
      assert(probe((10L, "HTTP://A.example.com/x#f"),
        (11L, "http://c.example.com/z"),
        (12L, null.asInstanceOf[String])) === Set(11L, 12L))
      // same-id replay guard: id 1 meeting its own appended hash survives
      assert(probe((1L, "http://a.example.com/x")) === Set(1L))
      // fold, then a folded identity still kills (trailing-slash variant)
      U.appendUrlHistoryDelta(spark,
        Seq((11L, "http://c.example.com/z")).toDF("id", "url"),
        "url", "id", table, 1)
      Dedup.UrlHistory.fold(spark, table)
      assert(probe((20L, "http://c.example.com/z/")) === Set.empty)
      // auto-fold: fires on an unfolded delta, not again after
      U.appendUrlHistoryDelta(spark,
        Seq((30L, "http://d.example.com/w")).toDF("id", "url"),
        "url", "id", table, 2)
      assert(Dedup.UrlHistory.foldIfNeeded(spark, table, 1e-9))
      assert(!Dedup.UrlHistory.foldIfNeeded(spark, table, 1e-9))
    } finally Dedup.UrlHistory.drop(spark, table)
  }

  test("L43: host aggregates count rows, distinct canonical urls, dup rows") {
    val df = Seq(
      (1L, "http://a.com/x"), (2L, "http://A.com/x#f"), // same canonical
      (3L, "http://a.com/y"),
      (4L, "http://b.com/z"),
      (5L, null.asInstanceOf[String]))
      .toDF("id", "url")
    val out = U.hostAggregates(df, "url", "id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map("a.com" -> ((3L, 2L, 1L)), "b.com" -> ((1L, 1L, 0L))))
  }
}
