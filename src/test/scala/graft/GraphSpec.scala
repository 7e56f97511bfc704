package graft

import graft.operators.{Dedup, Graph, LangModel, Relational}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("hitsRounds: edge weights near 1e12 give finite scores equal to a BigDecimal reference") {
    import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
    // one edge of 1e12 already puts a node's weighted in-degree past the
    // ~9.2e9 at which a sum in 1e-9 units overflows a long
    val edges = Seq(("a", "b", 1000000000000L), ("a", "c", 2000000000000L),
      ("b", "c", 3000000000000L), ("c", "a", 1000000000000L),
      ("b", "a", 5000000000000L), ("d", "a", 4000000000000L))
    val iters = 3
    val got = Graph.hitsRounds(edges.toDF("src", "dst", "w"), iters)
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // the same rounds in decimal arithmetic: a(v) = Σ w·h(u) over u→v,
    // normalized by the max and rounded at 9 dp; then h likewise from a
    def r9(x: JBigDecimal) = x.setScale(9, RoundingMode.HALF_UP)
    def norm(raw: Map[String, JBigDecimal]): Map[String, JBigDecimal] = {
      val mx = raw.values.reduce((x, y) => x.max(y))
      raw.map { case (k, v) => k -> r9(v.divide(mx, MathContext.DECIMAL128)) }
    }
    val w = edges.map { case (s, d, x) => (s, d, new JBigDecimal(x)) }
    var h = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(_ -> JBigDecimal.ONE).toMap
    var a = Map.empty[String, JBigDecimal]
    for (_ <- 1 to iters) {
      a = norm(w.filter(e => h.contains(e._1)).groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => r9(e._3.multiply(h(e._1)))).reduce(_ add _) })
      h = norm(w.filter(e => a.contains(e._2)).groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => r9(e._3.multiply(a(e._2)))).reduce(_ add _) })
    }
    assert(got.keySet === Set("a", "b", "c", "d"))
    got.foreach { case (node, (hub, auth)) =>
      assert(!hub.isNaN && !hub.isInfinite && !auth.isNaN && !auth.isInfinite)
      assert(r9(new JBigDecimal(hub)).compareTo(h.getOrElse(node, JBigDecimal.ZERO)) == 0,
        s"hub($node) = $hub, want ${h.get(node)}")
      assert(r9(new JBigDecimal(auth)).compareTo(a.getOrElse(node, JBigDecimal.ZERO)) == 0,
        s"authority($node) = $auth, want ${a.get(node)}")
    }
    assert(got("d")._2 == 0.0 && got("d")._1 > 0.0)
  }

  test("tokenPagerank: hub token outranks leaf tokens; ranks positive and bounded") {
    // star graph: 'hub' co-occurs with every leaf, leaves only with hub
    val d = Seq(
      (1L, "hub alpha"), (2L, "hub beta"), (3L, "hub gamma"),
      (4L, "hub delta"), (5L, "hub epsilon")).toDF("doc_id", "text")
    val r = Graph.tokenPagerank(d).collect()
      .map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(r.size == 6)
    val leaves = r.filter(_._1 != "hub").values
    assert(leaves.forall(r("hub") > _), s"hub must dominate: $r")
    assert(r.values.forall(v => v > 0 && v < 1))
    // leaves are symmetric → identical ranks
    assert(leaves.toSet.size == 1, s"symmetric leaves must tie: $r")
  }

  test("tokenPagerank ranks sum to ~1 on a closed graph (no dangling mass)") {
    val d = Seq((1L, "a b"), (2L, "b c"), (3L, "c a")).toDF("doc_id", "text")
    val total = Graph.tokenPagerank(d).agg(sum("rank")).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-6, s"ranks summed to $total")
  }

  test("docPerplexity: the repetitive doc scores lower NLL than the odd one out") {
    // doc 4's transitions are unique; docs 1-3 share all their bigrams
    val d = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat"),
      (4L, "zebra quantum flux")).toDF("doc_id", "text")
    val r = LangModel.docPerplexity(d).collect()
      .map(x => (x.getLong(0), x.getDouble(3))).toMap
    assert(r(4L) > r(1L), s"rare transitions must surprise the LM: $r")
    assert(r(1L) == r(2L) && r(2L) == r(3L))
  }

  test("editDistancePairs finds the one-word-changed near-dup and gates the rest") {
    // 50 tokens with ONE changed at the tail → 47/49 shingle Jaccard, which
    // deterministically collides in a band (verified against the md5 twin)
    val toks = for (a <- 'a' to 'h'; b <- 'a' to 'g') yield s"$a$b"
    val base = toks.take(50).mkString(" ")
    val variant = (toks.take(49) :+ "zz").mkString(" ")
    val d = Seq(
      (1L, base), (2L, variant),
      (3L, "totally different words about other topics entirely unrelated material herein contained text")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("eventsAnomaly flags only spikes with enough history") {
    // alternating base values: non-zero variance so z is defined
    val base = (1 to 30).map(i =>
      (i.toLong, 100L + i.toLong * 1000000L, if (i % 2 == 0) 5.0 else 7.0))
    val spike = Seq((31L, 200000000L, 400.0))
    val df = (base ++ spike).toDF("event_id", "us_raw", "value")
      .select(col("event_id"), lit(7L).as("user_id"),
        timestamp_micros(col("us_raw")).as("ts"), col("value"))
    val out = Relational.eventsAnomaly(df).collect()
    assert(out.map(_.getLong(0)).toSet == Set(31L),
      s"only the spike should flag: ${out.mkString(",")}")
    assert(math.abs(out.head.getAs[Double]("z")) >= 3.0)
  }
}
