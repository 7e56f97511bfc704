package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Round-12 operators: the iterated BPE trainer, HTML/boilerplate
  * extraction, URL canonicalization. */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  test("bpeTrain learns the greedy argmax merges on a planted corpus") {
    // "a b a b c" + "a b c d": round 1 merges the 3-count "a b";
    // round 2 the 2-count "a_b c"; round 3 is a 1-1 tie broken
    // lexicographically (space < underscore, so "a_b a_b_c" wins);
    // round 4 merges the last bigram; round 5 finds none and stops.
    val docs = Seq((1L, "a b a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val m = TextOps.bpeTrain(docs, nMerges = 8)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq(
      (1L, "a b", "a_b", 3L),
      (2L, "a_b c", "a_b_c", 2L),
      (3L, "a_b a_b_c", "a_b_a_b_c", 1L),
      (4L, "a_b_c d", "a_b_c_d", 1L)),
      "greedy argmax merge sequence with early stop")
    graft.CacheTracker.drainAll(spark)
  }

  test("bpeTrain merges round-trip: un-merging restores the cleaned corpus") {
    assumeTestdata()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = TextOps.bpeTrain(docs, nMerges = 4).orderBy("merge_rank")
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(merges.nonEmpty)
    // every new_token is its pair with the space replaced by '_', and
    // applying the merges in rank order then flattening '_' back to ' '
    // must reproduce the cleaned text exactly (merges never lose tokens)
    merges.foreach { case (pair, nt) => assert(nt === pair.replace(' ', '_')) }
    val cleaned = docs.select(TextOps.cleanText(col("text")).as("c"))
      .limit(50).collect().map(_.getString(0))
    for (c <- cleaned) {
      // pairs are [a-z_ ] only (cleaned tokens + merge underscores), so
      // the pair string is regex-safe as-is
      val merged = merges.foldLeft(c) { case (txt, (pair, nt)) =>
        txt.replaceAll("\\b" + pair + "\\b", nt)
      }
      assert(merged.replace('_', ' ') === c, s"round-trip failed for: $c")
    }
    graft.CacheTracker.drainAll(spark)
  }

  test("htmlExtract keeps text-dense content and drops boilerplate") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s1", 60L),
      (2L, "short", "en", "s1", 5L)) // < 30 chars: whole doc is dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.htmlExtract(docs).orderBy("doc_id").collect()
    val r1 = out(0)
    // nav (3 links), link farm (3 links), footer (short) all dropped;
    // the <p> content block survives alone, tags and head junk gone
    assert(r1.getAs[String]("content") ===
      "the quick brown fox jumps over the lazy dog again and again")
    assert(r1.getAs[Long]("n_kept") === 1L)
    assert(r1.getAs[Long]("n_blocks") > 1L)
    val r2 = out(1)
    assert(r2.getAs[Long]("n_kept") === 0L, "short text fails the density gate")
    assert(r2.getAs[String]("content") === "")
  }

  test("htmlExtract strips script bodies even when they contain a literal '<'") {
    val docs = Seq((1L, "content words long enough to pass the density gate here",
      "en", "s1", 50L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val c = TextOps.htmlExtract(docs).select("content").head.getString(0)
    assert(!c.contains("var a"), "script body must not leak into content")
    assert(!c.contains("color"), "style body must not leak into content")
    assert(!c.contains("Copyright"), "footer is boilerplate")
    assert(!c.contains("Home"), "nav is boilerplate")
  }

  test("urlDomains canonicalizes scheme/host/port/utm and extracts the domain") {
    val docs = Seq(
      (0L, "t", "en", "news", 1L),   // https + WWW. + :443(7∤0→no) + utm first + #fragment
      (7L, "t", "fr", "blog", 1L),   // HTTP + cdn. + :80 (7|7, odd) + ref&utm_medium
      (12L, "t", "de", "wiki", 1L))  // https + WWW. + utm_medium last + #fragment
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.urlDomains(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    val (_, u0, h0, d0, c0) = out(0)
    // doc 0: 0 % 7 == 0, so the raw URL carries the explicit default :443
    assert(u0.startsWith("https://WWW.news.Example.COM:443/Articles/0?utm_source=feed&ref=en#"))
    assert(h0 === "www.news.example.com" && d0 === "example.com")
    assert(c0 === "https://www.news.example.com/Articles/0?ref=en",
      "utm stripped, ref kept, fragment cut, host lowered, :443 dropped")
    val (_, u7, h7, d7, c7) = out(1)
    assert(u7.startsWith("HTTP://cdn.blog.Example.COM:80/"))
    assert(h7 === "cdn.blog.example.com", "default :80 dropped for http")
    assert(d7 === "example.com")
    assert(c7 === "http://cdn.blog.example.com/Articles/7?ref=fr")
    val (_, _, _, _, c12) = out(2)
    assert(c12 === "https://www.wiki.example.com/Articles/12?ref=de",
      "trailing utm param stripped without a dangling '&'")
  }

  test("bpeApply tokenizes the planted corpus with its learned merges") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = TextOps.bpeApply(docs, nMerges = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // after the 4 learned merges both docs collapse to single tokens
    assert(out.toSet === Set((1L, 1L, "a_b_a_b_c"), (2L, 1L, "a_b_c_d")))
    graft.CacheTracker.drainAll(spark)
  }

  test("intervalJoin: one row per overlapping pair, touching endpoints " +
    "count, multi-bin overlaps never duplicate") {
    val left = Seq((1L, 0L, 25L), (2L, 30L, 35L)).toDF("lid", "ls", "le")
    val right = Seq((10L, 18L, 22L), (20L, 25L, 30L), (30L, 40L, 50L))
      .toDF("rid", "rs", "re")
    val out = Relational.intervalJoin(left, right, "ls", "le", "rs", "re",
        binUs = 10L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // (1,10) overlaps across bins 1 AND 2 — exactly one output row;
    // (1,20) and (2,20) touch at single points (closed intervals);
    // (30) overlaps nothing
    assert(out.sorted.toSeq === Seq((1L, 10L), (1L, 20L), (2L, 20L)))
  }

  test("round-12 operators are total on empty inputs") {
    val noDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(TextOps.bpeTrain(noDocs).count() === 0)
    assert(TextOps.bpeApply(noDocs).count() === 0)
    assert(TextOps.htmlExtract(noDocs).count() === 0)
    assert(TextOps.urlDomains(noDocs).count() === 0)
    val noEvents = Seq.empty[(Long, Long, String, java.sql.Timestamp, Double)]
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    assert(Relational.intervalJoinQuery(noEvents).count() === 0)
    graft.CacheTracker.drainAll(spark)
  }
}
