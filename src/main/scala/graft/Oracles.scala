package graft

/** DuckDB oracle SQL for every SQL-expressible query in SparkEntry.
  *
  * Discipline (SURVEY.md §5): identical column names and integer widths as
  * the Spark side, RE2-safe regexes only, every float rounded identically,
  * sequential folds (list_reduce mirrors functions.aggregate) so doubles
  * are bit-identical, ties broken by deterministic keys.
  */
object Oracles {

  /** Mirrors operators.TextOps.cleanText. */
  val clean: String =
    "trim(regexp_replace(lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "text, '(?i)(https?://\\S+|www\\.\\S+)', '', 'g'), '[@#&]\\w+', '', 'g'), " +
      "'\\d+', '', 'g'), '[^a-zA-Z ]', ' ', 'g')), '\\s+', ' ', 'g'))"

  val toks: String = s"list_filter(string_split($clean, ' '), t -> t <> '')"

  /** The unrolled N-round BPE chain shared by bpe_train/bpe_apply:
    * WITH c0 (cleaned corpus) and, per round i, bg_i (whitespace-split
    * bigrams of c_{i-1}), top_i (argmax pair), c_i (merged corpus). */
  private def bpeChainSql(n: Int): String = {
    val steps = (1 to n).map { i =>
      s"""bg$i AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    j -> toks[j] || ' ' || toks[j+1])) AS pair
         |  FROM (SELECT list_filter(string_split(txt, ' '), t -> t <> '') AS toks
         |        FROM c${i - 1}) WHERE len(toks) > 1),
         |top$i AS (SELECT pair, count(*) AS cnt FROM bg$i GROUP BY 1
         |          ORDER BY cnt DESC, pair LIMIT 1),
         |c$i AS (SELECT doc_id, regexp_replace(txt,
         |    '\\b' || split_part(pair, ' ', 1) || ' ' || split_part(pair, ' ', 2) || '\\b',
         |    split_part(pair, ' ', 1) || '_' || split_part(pair, ' ', 2), 'g') AS txt
         |  FROM c${i - 1} CROSS JOIN top$i)""".stripMargin
    }
    s"WITH c0 AS (SELECT doc_id, $clean AS txt FROM documents),\n" +
      steps.mkString(",\n")
  }

  /** Mirrors operators.TextOps.qualityComposite (shared by quality_score
    * and quality_filter so the two entries can never drift apart). */
  val qualitySql: String =
    """round((CASE WHEN length(text) >= 20 THEN 1.0 ELSE CAST(length(text) AS DOUBLE) / 20.0 END)
      |    * (1.0 - CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) / length(text) ELSE 0.0 END)
      |    * (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) > 0
      |       THEN least(1.0, CAST(len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
      |            / len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) * 5.0 + 0.5) ELSE 0.0 END), 6)""".stripMargin

  /** (doc_id, token) exploded tokens. */
  val tokTable: String = s"(SELECT doc_id, unnest($toks) AS token FROM documents)"

  /** Exact incremental dedup — shared by dedup_incremental and its
    * Bloom-prefiltered twin (whose sketch must be result-invisible). */
  val incrementalDedupSql: String =
    s"""WITH h AS (SELECT doc_id, lang, source, n_chars, md5($clean) AS content_hash FROM documents),
       |corpus AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 10 < 8),
       |nb AS (SELECT * FROM h WHERE doc_id % 10 >= 8),
       |fresh AS (SELECT * FROM nb WHERE content_hash NOT IN (SELECT content_hash FROM corpus)),
       |k AS (SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS kid FROM fresh)
       |SELECT doc_id, content_hash, lang, source, n_chars FROM k WHERE doc_id = kid""".stripMargin

  /** Mirrors LangModel.bm25 (k1=1.5, b=0.75) — shared by bm25 and
    * bm25_search so the weighting can never drift between them. */
  val bm25Sql: String =
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
       |dfr AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY 1),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl)
       |SELECT tf.doc_id, tf.token, tf.tf,
       |  round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |    * (CAST(tf.tf AS DOUBLE) * (1.5 + 1.0))
       |    / (CAST(tf.tf AS DOUBLE) + 1.5 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl)), 6) AS bm25
       |FROM tf JOIN dl USING (doc_id) JOIN dfr USING (token) CROSS JOIN nd CROSS JOIN st""".stripMargin

  /** Mirrors ml.LogRegSql.weights (3 unrolled GD rounds, lr=1.0,
    * y = label < 5): per-round CTEs z{k}/e{k}/g{k}/w{k}, built by the
    * same loop shape as the Spark side so the rounding chain (9 dp
    * products, sorted folds, 6 dp sigmoid, 9 dp weights) is identical. */
  val logregWeightCtes: String = {
    val rounds = (1 to 3).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s"""z$k AS (SELECT vec_id, y, list_reduce(list_sort(list(round(w * x, 9))), (a, b) -> a + b) AS z
         |       FROM x JOIN $prev USING (i) GROUP BY 1, 2),
         |e$k AS (SELECT vec_id, round(1.0 / (1.0 + exp(-z)), 6) - y AS e FROM z$k),
         |gs$k AS (SELECT i, vec_id % 1024 AS sb,
         |       list_reduce(list_sort(list(round(e * x, 9))), (a, b) -> a + b) AS sub
         |       FROM x JOIN e$k USING (vec_id) GROUP BY i, sb),
         |g$k AS (SELECT i, round(list_reduce(list_sort(list(sub)), (a, b) -> a + b) / n_vecs, 9) AS g
         |       FROM gs$k CROSS JOIN nd GROUP BY i, n_vecs),
         |w$k AS (SELECT i, round(w - 1.0 * coalesce(g, 0.0), 9) AS w FROM $prev LEFT JOIN g$k USING (i))""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (SELECT vec_id, CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(i AS BIGINT) AS i, CAST(e AS DOUBLE) AS x
       |  FROM (SELECT vec_id, label, unnest(embedding) AS e,
       |        unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
       |nd AS (SELECT count(*) AS n_vecs FROM embeddings),
       |w0 AS (SELECT DISTINCT i, 0.0 AS w FROM x),
       |$rounds""".stripMargin
  }

  /** Exact brute-force cosine top-5 (shared by ann_topk and ann_recall). */
  private val annTopkSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
      |scored AS (SELECT q_id, n_id,
      |  round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)), (a, b) -> a + b)
      |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_transform(n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))), 6) AS cos
      |  FROM q JOIN c ON q_id <> n_id),
      |ranked AS (SELECT q_id, n_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
      |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin

  /** The PQ fit chain (shared by embed_pq and pq_ann_recall so the
    * audited codebook can never drift from the published one): subvector
    * frame v, seed codebook c0, two assign/recenter rounds, final
    * assignment a3 against the final centroids c2. */
  private lazy val pqChainCtes: String = {
    def assign(c: String, a: String) =
      s"""$a AS (SELECT vec_id, sub, e, code, dist FROM (
         |  SELECT vec_id, sub, e, code, dist,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
         |  FROM (SELECT v.vec_id, v.sub, v.e, $c.code,
         |      round(list_reduce(list_transform(range(1, 9),
         |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
         |    FROM v JOIN $c USING (sub))) WHERE rn = 1)""".stripMargin
    def recenter(a: String, m: String, c: String) =
      s"""$m AS (SELECT sub, code, pos,
         |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
         |  FROM (SELECT sub, code, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
         |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
         |        FROM (SELECT vec_id, sub, code, unnest(range(1, 9)) AS pos, unnest(e) AS x FROM $a)
         |        GROUP BY sub, code, pos, sb)
         |  GROUP BY sub, code, pos),
         |$c AS (SELECT sub, code, list(cm ORDER BY pos) AS c FROM $m GROUP BY sub, code)""".stripMargin
    s"""v AS (SELECT vec_id, CAST(s AS BIGINT) AS sub,
       |    list_transform(embedding[(s * 8 + 1):(s * 8 + 8)], x -> CAST(x AS DOUBLE)) AS e
       |  FROM (SELECT vec_id, embedding, unnest(range(0, 8)) AS s FROM embeddings)),
       |c0 AS (SELECT sub, CAST(vec_id AS BIGINT) AS code, e AS c FROM v WHERE vec_id < 4),
       |${assign("c0", "a1")},
       |${recenter("a1", "m1", "c1")},
       |${assign("c1", "a2")},
       |${recenter("a2", "m2", "c2")},
       |${assign("c2", "a3")}""".stripMargin
  }

  /** Sign-LSH bucketed ANN top-5 (shared by ann_ivf and ann_recall). */
  private val annIvfSql: String =
    """WITH b AS (SELECT vec_id, embedding,
      |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
      |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 10),
      |scored AS (SELECT q_id, b.vec_id AS n_id,
      |  round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (p2, q2) -> p2 + q2)
      |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))
      |       * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))), 6) AS cos
      |  FROM q JOIN b ON q.bucket = b.bucket AND q.q_id <> b.vec_id),
      |ranked AS (SELECT q_id, n_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
      |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin

  val termFreq: String =
    s"SELECT doc_id, token, count(*) AS tf FROM $tokTable GROUP BY doc_id, token"

  val docFreq: String =
    "SELECT token, count(*) AS df FROM " +
      s"(SELECT DISTINCT doc_id, token FROM $tokTable) GROUP BY token"

  def idfSql(minDf: Int): String =
    s"SELECT token, df, round(ln(CAST((SELECT count(*) FROM documents) + 1 AS DOUBLE) / (df + 1)), 6) AS idf " +
      s"FROM ($docFreq) WHERE df >= $minDf"

  val tfidf: String =
    s"SELECT tf.doc_id, tf.token, tf.tf, round(tf.tf * i.idf, 6) AS tfidf " +
      s"FROM ($termFreq) tf JOIN (${idfSql(0)}) i USING (token)"

  /** Marker sets mirror TextOps.langId. */
  private val rawToks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
  private def markerScore(ms: Seq[String]): String =
    s"len(list_filter($rawToks, t -> t IN (${ms.map("'" + _ + "'").mkString(",")})))"
  val langPred: String = {
    val en = markerScore(Seq("the", "a", "of", "and", "is", "query", "join"))
    val fr = markerScore(Seq("le", "la", "et", "est", "de", "scan", "batch"))
    val de = markerScore(Seq("der", "die", "das", "und", "ist", "merge", "sort"))
    s"CASE WHEN $en >= $fr AND $en >= $de AND $en > 0 THEN 'en' " +
      s"WHEN $fr >= $de AND $fr > 0 THEN 'fr' WHEN $de > 0 THEN 'de' ELSE 'und' END"
  }

  /** Mirrors Similarity.nearDupPairs (sign-LSH 8-bit blocking, cos >= 0.3);
    * shared by the embed_near_dup check and the dedup_components CTE. */
  /** Sign-LSH topic buckets + top-5 TF-IDF mass per bucket — shared by
    * topic_labels and topic_coherence so the two can never drift. */
  val topicLabelsSql: String =
    s"""WITH t AS ($tfidf),
       |c AS (SELECT doc_id, CAST(dim AS BIGINT) AS dim,
       |      round(tfidf * CASE WHEN ('0x' || substr(md5(token), dim, 1))::BIGINT % 2 = 0
       |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END, 9) AS c
       |      FROM t CROSS JOIN (SELECT unnest(range(1, 5)) AS dim)),
       |v AS (SELECT doc_id, dim, CAST(round(sum(CAST(c AS DECIMAL(38,9))), 6) AS DOUBLE) AS v
       |      FROM c GROUP BY 1, 2),
       |b AS (SELECT doc_id, string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY dim) AS bucket
       |      FROM v GROUP BY 1),
       |m AS (SELECT b.bucket, t.token,
       |      CAST(round(sum(CAST(t.tfidf AS DECIMAL(38,6))), 6) AS DOUBLE) AS score
       |      FROM t JOIN b ON b.doc_id = t.doc_id GROUP BY 1, 2),
       |r AS (SELECT bucket, token, score,
       |      CAST(row_number() OVER (PARTITION BY bucket ORDER BY score DESC, token) AS BIGINT) AS rnk
       |      FROM m)
       |SELECT bucket, token, rnk, score FROM r WHERE rnk <= 5""".stripMargin

  val embedNearDup: String =
    """WITH b AS (SELECT vec_id, embedding,
      |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
      |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) ||
      |  (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) ||
      |  (CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
      |  FROM embeddings),
      |pairs AS (SELECT a.vec_id AS a_id, b2.vec_id AS b_id,
      |  round(list_reduce(list_transform(a.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)), (p, q) -> p + q)
      |    / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))
      |       * sqrt(list_reduce(list_transform(b2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))), 6) AS cos
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
      |SELECT a_id, b_id, cos FROM pairs WHERE cos >= 0.3""".stripMargin

  /** Morton z-key CTE chain (5 magic-mask spread steps mirroring the
    * native expression), ending in `zk(doc_id, x, y, zkey)` — shared by
    * zorder_key and segment_stats. */
  private val zkeyCtes: String =
    s"""b AS (SELECT doc_id, n_chars AS x, CAST(len($toks) AS BIGINT) AS y,
       |      n_chars & 4294967295 AS xs, CAST(len($toks) AS BIGINT) & 4294967295 AS ys
       |      FROM documents),
       |s1 AS (SELECT doc_id, x, y, (xs | (xs << 16)) & 281470681808895 AS xs,
       |       (ys | (ys << 16)) & 281470681808895 AS ys FROM b),
       |s2 AS (SELECT doc_id, x, y, (xs | (xs << 8)) & 71777214294589695 AS xs,
       |       (ys | (ys << 8)) & 71777214294589695 AS ys FROM s1),
       |s3 AS (SELECT doc_id, x, y, (xs | (xs << 4)) & 1085102592571150095 AS xs,
       |       (ys | (ys << 4)) & 1085102592571150095 AS ys FROM s2),
       |s4 AS (SELECT doc_id, x, y, (xs | (xs << 2)) & 3689348814741910323 AS xs,
       |       (ys | (ys << 2)) & 3689348814741910323 AS ys FROM s3),
       |s5 AS (SELECT doc_id, x, y, (xs | (xs << 1)) & 6148914691236517205 AS xs,
       |       (ys | (ys << 1)) & 6148914691236517205 AS ys FROM s4),
       |zk AS (SELECT doc_id, x, y, xs | (ys << 1) AS zkey FROM s5)""".stripMargin

  /** Bradley–Terry MM rounds (d/u/t/p CTE chain per round), built by the
    * same loop shape as the Spark side so the rounding chain matches. */
  private def btRoundsSql(rounds: Int): String =
    (1 to rounds).map { k =>
      val prev = s"p${k - 1}"
      s"""d$k AS (SELECT d.item,
         |  list_reduce(list_sort(list(round(n_ij / (pi.rating + pj.rating), 9))), (a, b) -> a + b) AS denom
         |  FROM dir d JOIN $prev pi ON pi.item = d.item JOIN $prev pj ON pj.item = d.opp GROUP BY 1),
         |u$k AS (SELECT i.item, round(coalesce(w.n_wins, 0) / d$k.denom, 9) AS u
         |  FROM items i LEFT JOIN wins w ON w.item = i.item JOIN d$k ON d$k.item = i.item),
         |t$k AS (SELECT list_reduce(list_sort(list(u)), (a, b) -> a + b) AS tot, count(*) AS ni FROM u$k),
         |p$k AS (SELECT item, round(u * ni / tot, 9) AS rating FROM u$k CROSS JOIN t$k)""".stripMargin
    }.mkString(",\n")

  /** SCD2 interval chain over `src` (shared by scd2_intervals and
    * pit_join): CTEs e/w/r/iv plus ivf, the full interval table. */
  private def scd2CtesSql(src: String): String =
    s"""e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM $src),
       |w AS (SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) = event_type
       |      THEN 0 ELSE 1 END AS changed FROM e),
       |r AS (SELECT user_id, event_type, us,
       |      CAST(sum(changed) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM w),
       |iv AS (SELECT user_id, run_id, event_type, min(us) AS valid_from_us,
       |       count(*) AS n_events FROM r GROUP BY 1, 2, 3),
       |ivf AS (SELECT user_id, run_id, event_type, valid_from_us,
       |  coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id),
       |           253402300799000000) AS valid_to_us,
       |  n_events,
       |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current
       |  FROM iv)""".stripMargin

  val sql: Map[String, String] = Map(
    "clean_text" ->
      s"SELECT doc_id, $clean AS clean FROM documents",

    "token_counts" ->
      s"SELECT doc_id, len($toks)::BIGINT AS n_tokens FROM documents",

    "term_freq" -> termFreq,
    "doc_freq" -> docFreq,
    "idf" -> idfSql(0),
    "idf_min_df5" -> idfSql(5),
    "tfidf" -> tfidf,

    "feature_select_top75" ->
      s"""WITH t AS ($tfidf),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk,
         |             count(*) OVER (PARTITION BY doc_id) AS n_tok FROM t)
         |SELECT doc_id, token, tf, tfidf FROM r WHERE rk <= ceil(n_tok * 0.75)""".stripMargin,

    "train_test_split" ->
      ("SELECT CASE WHEN doc_id % 4 < 3 THEN 'train' ELSE 'test' END AS split, " +
        "count(*) AS n_rows FROM documents GROUP BY 1"),

    "lang_id" ->
      s"SELECT doc_id, $langPred AS pred_lang FROM documents",

    "confusion_matrix" ->
      (s"SELECT lang AS label, $langPred AS prediction, count(*) AS n " +
        "FROM documents GROUP BY 1, 2"),

    "eval_metrics" ->
      s"""WITH pred AS (SELECT lang AS label, $langPred AS prediction FROM documents),
         |cm AS (SELECT label, prediction, count(*) AS n FROM pred GROUP BY 1, 2),
         |tot AS (SELECT sum(n) AS total, sum(CASE WHEN label = prediction THEN n ELSE 0 END) AS correct FROM cm),
         |bylab AS (SELECT label, sum(n) AS support FROM cm GROUP BY 1),
         |bypred AS (SELECT prediction, sum(n) AS predicted FROM cm GROUP BY 1),
         |tp AS (SELECT label, n AS tp FROM cm WHERE label = prediction),
         |per AS (SELECT b.label, b.support, coalesce(tp.tp, 0) AS tp, coalesce(p.predicted, 0) AS predicted
         |        FROM bylab b LEFT JOIN tp ON b.label = tp.label LEFT JOIN bypred p ON b.label = p.prediction),
         |per2 AS (SELECT support,
         |  CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END AS prec,
         |  CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS rec FROM per),
         |per3 AS (SELECT support, prec, rec,
         |  CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1 FROM per2)
         |SELECT round(CAST(correct AS DOUBLE) / total, 6) AS accuracy,
         |  round((SELECT list_reduce(list_sort(list(prec * support / total)), (a, b) -> a + b) FROM per3), 6) AS weighted_precision,
         |  round((SELECT list_reduce(list_sort(list(rec * support / total)), (a, b) -> a + b) FROM per3), 6) AS weighted_recall,
         |  round((SELECT list_reduce(list_sort(list(f1 * support / total)), (a, b) -> a + b) FROM per3), 6) AS weighted_f1
         |FROM tot""".stripMargin,

    // per-candidate score terms sorted-folded (Spark: an exact sum), so
    // the 6 dp score and its argmax do not depend on summation order
    "nb_scratch" ->
      s"""WITH toks AS (SELECT doc_id, lang AS label, unnest($toks) AS token FROM documents),
         |tr AS (SELECT * FROM toks WHERE doc_id % 4 < 3),
         |te AS (SELECT * FROM toks WHERE NOT (doc_id % 4 < 3)),
         |cnt AS (SELECT label, token, count(*) AS cnt FROM tr GROUP BY 1, 2),
         |ct AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS ct FROM cnt GROUP BY 1),
         |voc AS (SELECT count(DISTINCT token) AS v FROM cnt),
         |pri AS (SELECT lang AS label, count(*) AS n_docs,
         |        (SELECT count(*) FROM documents WHERE doc_id % 4 < 3) AS n_train
         |        FROM documents WHERE doc_id % 4 < 3 GROUP BY 1),
         |ttf AS (SELECT doc_id, token, count(*) AS tf FROM te GROUP BY 1, 2),
         |dlen AS (SELECT doc_id, count(*) AS n_d FROM te GROUP BY 1),
         |sc AS (SELECT t.doc_id, l.label AS cand,
         |       list_reduce(list_sort(list(t.tf * ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)))),
         |         (x, y) -> x + y) AS s
         |       FROM ttf t CROSS JOIN (SELECT label FROM pri) l
         |       LEFT JOIN cnt c ON c.label = l.label AND c.token = t.token
         |       GROUP BY 1, 2),
         |scored AS (SELECT sc.doc_id, sc.cand,
         |       round(sc.s - d.n_d * ln(CAST(ct.ct + voc.v AS DOUBLE))
         |             + ln(CAST(p.n_docs AS DOUBLE) / p.n_train), 6) AS score
         |       FROM sc JOIN dlen d USING (doc_id) JOIN ct ON ct.label = sc.cand
         |       CROSS JOIN voc JOIN pri p ON p.label = sc.cand),
         |pred AS (SELECT doc_id, cand AS predicted FROM
         |       (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
         |        FROM scored) WHERE rk = 1)
         |SELECT d.doc_id, d.lang AS label, p.predicted
         |FROM documents d JOIN pred p USING (doc_id) WHERE NOT (d.doc_id % 4 < 3)""".stripMargin,

    // group-aware k-fold NB cross-validation: k models via complement
    // counts (total - fold), scoring/argmax/rounding = nb_scratch's
    "cv_accuracy" ->
      s"""WITH base AS (SELECT doc_id, lang AS label,
         |  ('0x' || substr(md5(source), 1, 8))::BIGINT % 5 AS fold, $toks AS toks
         |  FROM documents),
         |toks AS (SELECT doc_id, label, fold, unnest(toks) AS token FROM base),
         |cntf AS (SELECT fold, label, token, count(*) AS c FROM toks GROUP BY 1, 2, 3),
         |cnta AS (SELECT label, token, CAST(sum(c) AS BIGINT) AS ca FROM cntf GROUP BY 1, 2),
         |folds AS (SELECT DISTINCT fold FROM base),
         |comp AS (SELECT f.fold, a.label, a.token, a.ca - coalesce(cf.c, 0) AS cnt
         |  FROM folds f CROSS JOIN cnta a
         |  LEFT JOIN cntf cf ON cf.fold = f.fold AND cf.label = a.label AND cf.token = a.token
         |  WHERE a.ca - coalesce(cf.c, 0) > 0),
         |ct AS (SELECT fold, label, CAST(sum(cnt) AS BIGINT) AS ct FROM comp GROUP BY 1, 2),
         |voc AS (SELECT fold, count(DISTINCT token) AS v FROM comp GROUP BY 1),
         |ndf AS (SELECT fold, label, count(*) AS nd FROM base GROUP BY 1, 2),
         |pri AS (SELECT f.fold, a.label, a.nda - coalesce(n.nd, 0) AS n_docs
         |  FROM folds f CROSS JOIN (SELECT label, CAST(sum(nd) AS BIGINT) AS nda FROM ndf GROUP BY 1) a
         |  LEFT JOIN ndf n ON n.fold = f.fold AND n.label = a.label
         |  WHERE a.nda - coalesce(n.nd, 0) > 0),
         |ntr AS (SELECT fold, CAST(sum(n_docs) AS BIGINT) AS n_train FROM pri GROUP BY 1),
         |ttf AS (SELECT fold, doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
         |dlen AS (SELECT fold, doc_id, count(*) AS n_d FROM toks GROUP BY 1, 2),
         |sc AS (SELECT t.fold, t.doc_id, l.label AS cand,
         |  list_reduce(list_sort(list(t.tf * ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)))),
         |    (x, y) -> x + y) AS s
         |  FROM ttf t JOIN (SELECT fold, label FROM pri) l ON l.fold = t.fold
         |  LEFT JOIN comp c ON c.fold = t.fold AND c.label = l.label AND c.token = t.token
         |  GROUP BY 1, 2, 3),
         |scored AS (SELECT sc.fold, sc.doc_id, sc.cand,
         |  round(sc.s - d.n_d * ln(CAST(ct.ct + voc.v AS DOUBLE))
         |        + ln(CAST(p.n_docs AS DOUBLE) / ntr.n_train), 6) AS score
         |  FROM sc JOIN dlen d ON d.fold = sc.fold AND d.doc_id = sc.doc_id
         |  JOIN ct ON ct.fold = sc.fold AND ct.label = sc.cand
         |  JOIN voc ON voc.fold = sc.fold
         |  JOIN pri p ON p.fold = sc.fold AND p.label = sc.cand
         |  JOIN ntr ON ntr.fold = sc.fold),
         |pred AS (SELECT fold, doc_id, cand AS predicted FROM
         |  (SELECT *, row_number() OVER (PARTITION BY fold, doc_id ORDER BY score DESC, cand) AS rk
         |   FROM scored) WHERE rk = 1)
         |SELECT b.fold, count(*) AS n_test,
         |  CAST(sum(CASE WHEN b.label = p.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CASE WHEN b.label = p.predicted THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS accuracy
         |FROM base b JOIN pred p ON p.fold = b.fold AND p.doc_id = b.doc_id
         |GROUP BY 1""".stripMargin,

    // Theil T inequality of per-customer spend: 9dp terms, two-level
    // sub-bucketed sorted folds
    "spend_theil" ->
      """WITH pc AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sc
        |  FROM orders GROUP BY 1),
        |mu AS (SELECT count(*) AS n, CAST(sum(sc) AS BIGINT) AS tot FROM pc),
        |terms AS (SELECT o_custkey, n,
        |  CASE WHEN sc > 0 THEN
        |    round((CAST(sc AS DOUBLE) * n / tot) * ln(CAST(sc AS DOUBLE) * n / tot), 9)
        |  ELSE 0.0 END AS t
        |  FROM pc CROSS JOIN mu),
        |sub AS (SELECT n, o_custkey % 1024 AS sb,
        |  list_reduce(list_sort(list(t)), (a, b) -> a + b) AS sub_s
        |  FROM terms GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b) / n, 6) AS theil_t
        |FROM sub GROUP BY n""".stripMargin,

    // Theil within/between decomposition by market segment
    "spend_theil_decomp" ->
      """WITH pc AS (SELECT o.o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sc,
        |  max(c.c_mktsegment) AS segment
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1),
        |seg AS (SELECT segment, count(*) AS n_g, CAST(sum(sc) AS BIGINT) AS tot_g
        |  FROM pc GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(tot_g) AS BIGINT) AS tot FROM seg),
        |terms AS (SELECT pc.segment, pc.o_custkey,
        |  CASE WHEN sc > 0 THEN
        |    round((CAST(sc AS DOUBLE) * n_g / tot_g)
        |      * ln(CAST(sc AS DOUBLE) * n_g / tot_g), 9)
        |  ELSE 0.0 END AS t
        |  FROM pc JOIN seg USING (segment)),
        |sub AS (SELECT segment, o_custkey % 1024 AS sb,
        |  list_reduce(list_sort(list(t)), (a, b) -> a + b) AS sub_s
        |  FROM terms GROUP BY 1, 2),
        |w AS (SELECT segment,
        |  list_reduce(list_sort(list(sub_s)), (a, b) -> a + b) AS s
        |  FROM sub GROUP BY 1)
        |SELECT w.segment, CAST(seg.n_g AS BIGINT) AS n_customers,
        |  round(CAST(tot_g AS DOUBLE) / tot, 6) AS spend_share,
        |  round(s / n_g, 6) AS theil_within,
        |  round((CAST(tot_g AS DOUBLE) / tot)
        |    * ln((CAST(tot_g AS DOUBLE) / n_g) / (CAST(tot AS DOUBLE) / n)), 6)
        |    AS between_term
        |FROM w JOIN seg USING (segment) CROSS JOIN tot""".stripMargin,

    // inverse-propensity offline eval of the uniform policy: per-arm
    // closed-form decomposition from exact counts
    "ips_eval" ->
      """WITH per AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS k FROM per)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / nn, 6) AS p_logged,
        |  round(CAST(nn AS DOUBLE) / (k * n), 6) AS ips_weight,
        |  round(CAST(sc AS DOUBLE) / n / 100.0, 6) AS logged_mean_dollars,
        |  round(CAST(sc AS DOUBLE) / (k * n) / 100.0, 6) AS ips_term_dollars
        |FROM per CROSS JOIN tot""".stripMargin,

    // B296: doubly-robust value of the uniform policy — reward model +
    // propensities fit on even event_ids, evaluated on odd; cell folds
    // sorted by (g, arm), all 9 dp terms mirrored from the Spark side
    "doubly_robust_eval" ->
      """WITH base AS MATERIALIZED (SELECT CAST(user_id % 2 = 0 AS BIGINT) AS g,
        |  event_type AS arm, CAST(round(value * 100) AS BIGINT) AS c,
        |  event_id % 2 = 0 AS is_model FROM events),
        |model AS MATERIALIZED (SELECT g, arm, count(*) AS nm,
        |  CAST(sum(c) AS BIGINT) AS scm FROM base WHERE is_model GROUP BY 1, 2),
        |mg AS (SELECT g, CAST(sum(nm) AS BIGINT) AS nmg FROM model GROUP BY 1),
        |kk AS (SELECT count(DISTINCT arm) AS k FROM model),
        |ev0 AS (SELECT g, arm, count(*) AS ne, CAST(sum(c) AS BIGINT) AS sce
        |  FROM base WHERE NOT is_model GROUP BY 1, 2),
        |ev AS MATERIALIZED (SELECT e.g, e.arm, e.ne, e.sce, m.nm, m.scm, mg.nmg
        |  FROM ev0 e JOIN model m USING (g, arm) JOIN mg USING (g)),
        |neg AS (SELECT g, CAST(sum(ne) AS BIGINT) AS neg FROM ev GROUP BY 1),
        |dmg AS (SELECT m.g, round(neg.neg * list_reduce(
        |    list(round(CAST(m.scm AS DOUBLE) / m.nm, 9) ORDER BY m.arm),
        |    (a, b) -> a + b) / kk.k, 9) AS dm_g
        |  FROM model m JOIN neg ON neg.g = m.g CROSS JOIN kk
        |  GROUP BY m.g, neg.neg, kk.k),
        |gtot AS (SELECT list_reduce(list(dm_g ORDER BY g), (a, b) -> a + b)
        |  AS dm_sum FROM dmg),
        |cells AS (SELECT ev.g, ev.arm,
        |    round((CAST(ev.sce AS DOUBLE)
        |      - ev.ne * round(CAST(ev.scm AS DOUBLE) / ev.nm, 9))
        |      / (kk.k * round(CAST(ev.nm AS DOUBLE) / ev.nmg, 9)), 9) AS corr,
        |    round(CAST(ev.sce AS DOUBLE)
        |      / (kk.k * round(CAST(ev.nm AS DOUBLE) / ev.nmg, 9)), 9) AS ips_t
        |  FROM ev CROSS JOIN kk),
        |ctot AS (SELECT
        |  list_reduce(list(corr ORDER BY g, arm), (a, b) -> a + b) AS corr_sum,
        |  list_reduce(list(ips_t ORDER BY g, arm), (a, b) -> a + b) AS ips_sum
        |  FROM cells),
        |ne AS (SELECT CAST(coalesce(sum(ne), 0) AS BIGINT) AS n_eval FROM ev),
        |nm AS (SELECT count(*) AS n_model FROM base WHERE is_model)
        |SELECT CAST(n_model AS BIGINT) AS n_model, n_eval, CAST(k AS BIGINT) AS k_arms,
        |  round(CASE WHEN n_eval > 0 THEN dm_sum / n_eval / 100.0 END, 6) AS dm_dollars,
        |  round(CASE WHEN n_eval > 0 THEN ips_sum / n_eval / 100.0 END, 6) AS ips_dollars,
        |  round(CASE WHEN n_eval > 0 THEN (dm_sum + corr_sum) / n_eval / 100.0 END, 6)
        |    AS dr_dollars
        |FROM ne CROSS JOIN nm CROSS JOIN kk CROSS JOIN gtot CROSS JOIN ctot""".stripMargin,

    // l-diversity over the k-anonymity grid: distinct sensitive values
    // (source) per (lang, length-bucket) quasi-identifier group
    "l_diversity" ->
      """SELECT lang, n_chars // 100 AS len_bucket, count(*) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT source) < 3 AS violates_l
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "quality_score" ->
      s"""SELECT doc_id,
        |  length(text)::BIGINT AS n_chars_text,
        |  len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))::BIGINT AS n_tokens,
        |  round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS punct_ratio,
        |  round(CASE WHEN len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) > 0
        |    THEN CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) ELSE 0.0 END, 6) AS stop_ratio,
        |  $qualitySql AS quality
        |FROM documents""".stripMargin,

    // C220: the SAME output through SQL-defined scalar functions
    // (macro-expanded at analysis, so the oracle is the Column twin's)
    "quality_score_sqludf" ->
      s"""SELECT doc_id,
        |  length(text)::BIGINT AS n_chars_text,
        |  len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))::BIGINT AS n_tokens,
        |  round(CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) / length(text) ELSE 0.0 END, 6) AS punct_ratio,
        |  round(CASE WHEN len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) > 0
        |    THEN CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |         / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) ELSE 0.0 END, 6) AS stop_ratio,
        |  $qualitySql AS quality
        |FROM documents""".stripMargin,

    "token_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS bpe_tokens,
        |  length(text)::BIGINT AS n_chars_text
        |FROM documents""".stripMargin,

    "doc_fingerprint" ->
      s"""SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform($toks, (t, i) -> (CAST(i AS BIGINT) * ('0x' || substr(md5(t), 1, 8))::BIGINT) % 2147483647)), 0) AS BIGINT) AS fingerprint,
         |  substr(md5($clean), 1, 16) AS content_hash16
         |FROM documents""".stripMargin,

    "text_stats" ->
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang, source""".stripMargin,

    "char_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.25), 4) AS p25,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.75), 4) AS p75,
        |  round(quantile_cont(n_chars, 0.95), 4) AS p95
        |FROM documents GROUP BY lang""".stripMargin,

    "curation_pipeline" ->
      s"""WITH c AS (SELECT doc_id, $clean AS clean, len($toks)::BIGINT AS n_tokens FROM documents),
         |f AS (SELECT * FROM c WHERE n_tokens >= 5)
         |SELECT doc_id, clean, n_tokens FROM
         |  (SELECT *, min(doc_id) OVER (PARTITION BY md5(clean)) AS kid FROM f)
         |WHERE doc_id = kid""".stripMargin,

    "dedup_filtered" ->
      s"""SELECT doc_id, lang, source, n_chars FROM
         |  (SELECT doc_id, lang, source, n_chars,
         |          min(doc_id) OVER (PARTITION BY md5($clean)) AS kid FROM documents)
         |WHERE doc_id = kid""".stripMargin,

    "top_orders" ->
      """WITH j AS (SELECT n_name, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |r AS (SELECT n_name, o_orderkey, price_cents,
        |  row_number() OVER (PARTITION BY n_name ORDER BY price_cents DESC, o_orderkey) AS rnk FROM j)
        |SELECT n_name, o_orderkey, rnk, price_cents FROM r WHERE rnk <= 3""".stripMargin,

    "events_cumulative" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v_cents FROM events)
        |SELECT event_id, user_id, us,
        |  count(*) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS cum_events,
        |  CAST(sum(v_cents) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |FROM e""".stripMargin,

    "dedup_exact" ->
      (s"SELECT md5($clean) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies " +
        "FROM documents GROUP BY 1"),

    "mm_extract" ->
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes, md5(text) AS content_hash,
        |  ('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 AS fake_width,
        |  ('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 AS fake_height
        |FROM documents""".stripMargin,

    // 16-byte patch grid capped at 8 patches; hex lowercased on both
    // engines (bytes agree, hex case conventions do not)
    // DuckDB substring rejects BLOB — slice the hex STRING instead: hex is
    // per-byte, so chars [2p, 2p+32) equal hex(bytes [p, p+16))
    "mm_patches" ->
      """WITH m AS (SELECT doc_id, lower(hex(encode(text))) AS mhex FROM documents
        |           WHERE octet_length(encode(text)) > 0),
        |n AS (SELECT doc_id, mhex,
        |      least(CAST(ceil((length(mhex) / 2) / 16.0) AS BIGINT), 8) AS np FROM m),
        |e AS (SELECT doc_id, mhex, unnest(range(0, np)) AS patch_idx FROM n)
        |SELECT doc_id, CAST(patch_idx AS BIGINT) AS patch_idx,
        |  substring(mhex, CAST(patch_idx * 32 + 1 AS BIGINT), 32) AS patch_hex,
        |  (length(substring(mhex, CAST(patch_idx * 32 + 1 AS BIGINT), 32)) / 2)::BIGINT AS patch_bytes
        |FROM e""".stripMargin,

    "ann_topk" -> annTopkSql,

    "embed_near_dup" -> embedNearDup,

    // transitive closure of the near-dup pair graph by recursive CTE — an
    // independent fixpoint computation checking the Spark label-propagation
    "dedup_components" ->
      s"""WITH RECURSIVE p AS ($embedNearDup),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS id, least(src, min(dst)) AS component
         |FROM reach GROUP BY src""".stripMargin,

    "lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS n_rows,
        |  round(avg(l_quantity), 6) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "orders_join" ->
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |w AS (SELECT user_id, event_id, us,
        |      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |f AS (SELECT user_id, event_id, us,
        |      CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS nsf FROM w),
        |s AS (SELECT user_id, us,
        |      CAST(sum(nsf) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, min(us) AS session_start_us, max(us) AS session_end_us,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // gaps-and-islands run collapse of each user's event_type timeline;
    // open run's valid_to is the SCD2 end-of-time sentinel, never NULL
    "scd2_intervals" ->
      s"""WITH ${scd2CtesSql("events")}
         |SELECT user_id, run_id, event_type, valid_from_us, valid_to_us,
         |  n_events, is_current FROM ivf""".stripMargin,

    // PIT join: purchases probe the click/view SCD2 state table at their
    // own timestamp (inner interval containment; contiguous intervals)
    "pit_join" ->
      s"""WITH ${scd2CtesSql("(SELECT * FROM events WHERE event_type IN ('click', 'view'))")},
         |p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
         |      FROM events WHERE event_type = 'purchase')
         |SELECT p.event_id, p.user_id, p.us, d.event_type AS state, d.valid_from_us
         |FROM p JOIN ivf d ON d.user_id = p.user_id
         |  AND p.us >= d.valid_from_us AND p.us < d.valid_to_us""".stripMargin,

    // incremental merge must equal the full recompute — the oracle IS
    // the recompute (same independent chain as scd2_intervals)
    "scd2_merge" ->
      s"""WITH ${scd2CtesSql("events")}
         |SELECT user_id, run_id, event_type, valid_from_us, valid_to_us,
         |  n_events, is_current FROM ivf""".stripMargin,

    // ClickHouse-style windowFunnel: per view anchor, the deepest
    // view -> click -> purchase chain with every step strictly after the
    // previous and inside the anchor's 6h window; max level per user
    "window_funnel" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT event_id AS anchor_id, user_id, us AS view_us FROM e WHERE event_type = 'view'),
        |c AS (SELECT a.anchor_id, a.user_id, a.view_us, min(c2.us) AS first_click_us
        |      FROM v a JOIN e c2 ON c2.user_id = a.user_id AND c2.event_type = 'click'
        |        AND c2.us > a.view_us AND c2.us <= a.view_us + 21600000000
        |      GROUP BY 1, 2, 3),
        |p AS (SELECT c.anchor_id, min(p2.us) AS first_p_us
        |      FROM c JOIN e p2 ON p2.user_id = c.user_id AND p2.event_type = 'purchase'
        |        AND p2.us > c.first_click_us AND p2.us <= c.view_us + 21600000000
        |      GROUP BY 1)
        |SELECT v.user_id,
        |  CAST(max(CASE WHEN p.anchor_id IS NOT NULL THEN 3
        |           WHEN c.anchor_id IS NOT NULL THEN 2 ELSE 1 END) AS BIGINT) AS level,
        |  count(*) AS n_anchors
        |FROM v LEFT JOIN c ON v.anchor_id = c.anchor_id
        |       LEFT JOIN p ON v.anchor_id = p.anchor_id
        |GROUP BY 1""".stripMargin,

    // CUSUM change-point: integer-cents running total (bit-exact under
    // any order), float work limited to one multiply+subtract per day
    "cusum_changepoint" ->
      """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n_days,
        |    round(CAST(sum(cents) AS DOUBLE) / count(*), 9) AS mean_cents
        |  FROM daily GROUP BY 1),
        |cu AS (SELECT d.event_type, d.day, st.n_days, st.mean_cents,
        |    CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS t,
        |    CAST(sum(d.cents) OVER (PARTITION BY d.event_type ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM daily d JOIN st ON st.event_type = d.event_type),
        |sc AS (SELECT event_type, day, n_days,
        |    round(cum_cents - t * mean_cents, 6) AS cusum,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(round(cum_cents - t * mean_cents, 6)) DESC, day) AS rn
        |  FROM cu)
        |SELECT event_type, day AS cp_day, cusum, n_days FROM sc WHERE rn = 1""".stripMargin,

    // SFT packing with loss-mask spans: sequencePack's greedy policy
    // plus prompt/response split and absolute mask offsets
    "sft_pack" ->
      s"""WITH tk AS (SELECT doc_id, doc_id % 8 AS shard,
         |           CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |f AS (SELECT * FROM tk WHERE n_tokens >= 2),
         |p AS (SELECT doc_id, shard, n_tokens,
         |      least(10, n_tokens // 2) AS prompt_len,
         |      coalesce(CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prefix_tokens
         |  FROM f)
         |SELECT doc_id, shard, prefix_tokens // 256 AS bin, prefix_tokens,
         |  prompt_len, n_tokens - prompt_len AS response_len,
         |  prefix_tokens + prompt_len AS mask_start,
         |  prefix_tokens + n_tokens AS mask_end
         |FROM p""".stripMargin,

    // Bradley-Terry MM: consecutive same-lang docs play, winner = higher
    // quality (ties to the earlier doc = the odd row), 3 unrolled rounds
    "bradley_terry" ->
      s"""WITH q AS (SELECT doc_id, lang, source, $qualitySql AS quality FROM documents),
         |r AS (SELECT doc_id, lang, source, quality,
         |      row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM q),
         |ga AS (SELECT a.source AS src_a, b.source AS src_b,
         |       CASE WHEN a.quality >= b.quality THEN a.source ELSE b.source END AS winner
         |       FROM (SELECT lang, (rn - 1) // 2 AS pair_id, source, quality FROM r WHERE rn % 2 = 1) a
         |       JOIN (SELECT lang, (rn - 1) // 2 AS pair_id, source, quality FROM r WHERE rn % 2 = 0) b
         |         ON a.lang = b.lang AND a.pair_id = b.pair_id
         |       WHERE a.source <> b.source),
         |wins AS (SELECT winner AS item, count(*) AS n_wins FROM ga GROUP BY 1),
         |pc AS (SELECT least(src_a, src_b) AS i, greatest(src_a, src_b) AS j,
         |       count(*) AS n_ij FROM ga GROUP BY 1, 2),
         |dir AS (SELECT i AS item, j AS opp, n_ij FROM pc
         |        UNION ALL SELECT j AS item, i AS opp, n_ij FROM pc),
         |items AS (SELECT DISTINCT item FROM dir),
         |p0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS rating FROM items),
         |${btRoundsSql(3)}
         |SELECT i.item AS source, g.n_games,
         |  CAST(coalesce(w.n_wins, 0) AS BIGINT) AS n_wins,
         |  round(p3.rating, 6) AS rating
         |FROM items i
         |JOIN (SELECT item, CAST(sum(n_ij) AS BIGINT) AS n_games FROM dir GROUP BY 1) g
         |  ON g.item = i.item
         |LEFT JOIN wins w ON w.item = i.item
         |JOIN p3 ON p3.item = i.item""".stripMargin,

    // unbiased pass@k: 1 - prod (n-c-i)/(n-i); init-free list_reduce
    // matches Spark's 1.0-init fold because IEEE 1.0*x = x
    "pass_at_k" ->
      s"""WITH q AS (SELECT lang, source,
         |           CASE WHEN $qualitySql >= 0.5 THEN 1 ELSE 0 END AS pass
         |           FROM documents),
         |g AS (SELECT lang, source, count(*) AS n_samples,
         |      CAST(sum(pass) AS BIGINT) AS n_pass FROM q GROUP BY 1, 2),
         |k AS (SELECT lang, source, n_samples, n_pass,
         |      least(5, n_samples) AS k FROM g)
         |SELECT lang, source, n_samples, n_pass, k,
         |  CASE WHEN n_samples - n_pass < k THEN 1.0
         |       ELSE round(1.0 - list_reduce(
         |         list_transform(range(0, k),
         |           i -> CAST(n_samples - n_pass - i AS DOUBLE) / (n_samples - i)),
         |         (a, b) -> a * b), 6) END AS pass_at_k
         |FROM k""".stripMargin,

    // order-independent shard checksum: XOR-fold of 60 md5 bits per row
    "shard_manifest" ->
      """SELECT doc_id % 64 AS shard, count(*) AS n_docs,
        |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS n_chars_total,
        |  bit_xor(('0x' || substr(md5(coalesce(text, '')), 1, 15))::BIGINT) AS checksum
        |FROM documents GROUP BY 1""".stripMargin,

    // gaps-and-islands over the duplicated-position cover set (same
    // shingle/dup/cover chain as span_dedup)
    "dup_span_mask" ->
      s"""WITH b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
         |      FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |sh AS (SELECT doc_id, i,
         |       md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i
         |             FROM b WHERE n_tokens >= 8)),
         |dup AS (SELECT h FROM
         |        (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
         |        WHERE nd > 1),
         |cover AS (SELECT DISTINCT s.doc_id, s.i + r.u AS pos
         |          FROM sh s JOIN dup USING (h) CROSS JOIN range(0, 8) r(u)),
         |w AS (SELECT doc_id, pos,
         |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM cover),
         |i AS (SELECT doc_id, pos,
         |      CAST(sum(CASE WHEN prev IS NULL OR pos > prev + 1 THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
         |      FROM w)
         |SELECT doc_id, span_id, min(pos) AS span_start,
         |  max(pos) + 1 AS span_end, count(*) AS span_len
         |FROM i GROUP BY 1, 2""".stripMargin,

    // stupid-backoff trigram scoring on the heldout split; 0.4 constants
    // CAST to DOUBLE so DuckDB's decimal literals never enter the chain
    "stupid_backoff" ->
      s"""WITH tk AS (SELECT doc_id, CASE WHEN doc_id % 4 < 3 THEN 'train' ELSE 'test' END AS split,
         |           $toks AS toks FROM documents),
         |tri AS (SELECT doc_id, split, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
         |        FROM (SELECT doc_id, split, toks, unnest(range(1, len(toks) - 1)) AS i
         |              FROM tk WHERE len(toks) >= 3)),
         |bi AS (SELECT doc_id, split, toks[i] AS w2, toks[i+1] AS w3
         |       FROM (SELECT doc_id, split, toks, unnest(range(1, len(toks))) AS i
         |             FROM tk WHERE len(toks) >= 2)),
         |c3g AS (SELECT w1, w2, w3, count(*) AS c123 FROM tri WHERE split = 'train' GROUP BY 1, 2, 3),
         |c3x AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12 FROM c3g GROUP BY 1, 2),
         |c2g AS (SELECT w2, w3, count(*) AS c23 FROM bi WHERE split = 'train' GROUP BY 1, 2),
         |c2x AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS c2 FROM c2g GROUP BY 1),
         |uni AS (SELECT unnest(toks) AS w3 FROM tk WHERE split = 'train'),
         |c1g AS (SELECT w3, count(*) AS c3 FROM uni GROUP BY 1),
         |nv AS (SELECT count(*) AS n_uni, count(DISTINCT w3) AS v FROM uni),
         |sc AS (SELECT t.doc_id,
         |   CASE WHEN c123 IS NOT NULL THEN 0 WHEN c23 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
         |   round(ln(CASE WHEN c123 IS NOT NULL THEN CAST(c123 AS DOUBLE) / c12
         |            WHEN c23 IS NOT NULL THEN CAST(0.4 AS DOUBLE) * c23 / c2
         |            ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) * (coalesce(c3, 0) + 1) / (n_uni + v) END), 9) AS logs
         |   FROM (SELECT * FROM tri WHERE split = 'test') t
         |   LEFT JOIN c3g USING (w1, w2, w3)
         |   LEFT JOIN c3x USING (w1, w2)
         |   LEFT JOIN c2g USING (w2, w3)
         |   LEFT JOIN c2x USING (w2)
         |   LEFT JOIN c1g USING (w3)
         |   CROSS JOIN nv)
         |SELECT doc_id, count(*) AS n_trigrams,
         |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff1,
         |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff2,
         |  round(list_reduce(list_sort(list(logs)), (a, b) -> a + b), 6) AS sum_logs,
         |  round(round(list_reduce(list_sort(list(logs)), (a, b) -> a + b), 6) / count(*), 6) AS mean_logs
         |FROM sc GROUP BY 1""".stripMargin,

    // inter-arrival regularity: whole-second gaps keep moments in
    // BIGINT; variance clamped at 0 so constant gaps never NaN the sqrt
    "bot_score" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT user_id,
        |      (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) // 1000000 AS gap_s
        |      FROM e QUALIFY gap_s IS NOT NULL),
        |m AS (SELECT user_id, count(*) AS n_gaps, CAST(sum(gap_s) AS BIGINT) AS s,
        |      CAST(sum(gap_s * gap_s) AS BIGINT) AS ss FROM g GROUP BY 1),
        |v AS (SELECT user_id, n_gaps,
        |    round(CAST(s AS DOUBLE) / n_gaps, 9) AS mean_gap_s,
        |    greatest(round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_gaps) / n_gaps, 9),
        |             CAST(0.0 AS DOUBLE)) AS var_gap_s
        |  FROM m),
        |c AS (SELECT user_id, n_gaps, mean_gap_s,
        |    CASE WHEN mean_gap_s > 0 THEN round(sqrt(var_gap_s) / mean_gap_s, 6)
        |         ELSE 0.0 END AS cv_gap
        |  FROM v)
        |SELECT user_id, n_gaps, mean_gap_s, cv_gap,
        |  (n_gaps >= 5 AND cv_gap < 0.3) AS is_regular
        |FROM c""".stripMargin,

    // first-view -> first-at-or-after purchase latency percentiles
    "conversion_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY 1),
        |l AS (SELECT (min(p.us) - v.view_us) // 1000000 AS lat_s
        |      FROM e p JOIN v ON v.user_id = p.user_id
        |      WHERE p.event_type = 'purchase' AND p.us >= v.view_us
        |      GROUP BY p.user_id, v.view_us)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(lat_s, 0.25), 4) AS p25_s,
        |  round(quantile_cont(lat_s, 0.5), 4) AS p50_s,
        |  round(quantile_cont(lat_s, 0.75), 4) AS p75_s,
        |  round(quantile_cont(lat_s, 0.9), 4) AS p90_s
        |FROM l""".stripMargin,

    // hourly OHLC bars: open/close picked by the unique (us, event_id)
    // order, values as integer cents
    "events_ohlc" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS us, event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT us // 3600000000 AS hour_idx, event_type, event_id, us, vc FROM e),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY hour_idx, event_type ORDER BY us, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY hour_idx, event_type ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT hour_idx, event_type,
        |  CAST(max(CASE WHEN rn_a = 1 THEN vc END) AS BIGINT) AS open_cents,
        |  CAST(max(vc) AS BIGINT) AS high_cents,
        |  CAST(min(vc) AS BIGINT) AS low_cents,
        |  CAST(max(CASE WHEN rn_d = 1 THEN vc END) AS BIGINT) AS close_cents,
        |  CAST(sum(vc) AS BIGINT) AS volume_cents,
        |  count(*) AS n_events
        |FROM r GROUP BY 1, 2""".stripMargin,

    // per-user time-weighted average value: cents held until the next
    // event, exact BIGINT numerator/denominator, one 6 dp division
    "twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |l AS (SELECT *, lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us FROM e),
        |g AS (SELECT user_id, vc, (next_us - us) // 1000000 AS gap_s FROM l WHERE next_us IS NOT NULL),
        |a AS (SELECT user_id, count(*) AS n_gaps, CAST(sum(gap_s) AS BIGINT) AS span_s,
        |      CAST(sum(vc * gap_s) AS BIGINT) AS weighted_cents FROM g GROUP BY 1)
        |SELECT user_id, n_gaps, span_s,
        |  round(CAST(weighted_cents AS DOUBLE) / span_s, 6) AS twap_cents
        |FROM a WHERE span_s > 0""".stripMargin,

    // session-path regex library; patterns stay in the RE2 ∩ java.regex
    // common subset so both engines agree by construction
    "path_pattern_match" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |n AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session FROM l),
        |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id ORDER BY us, event_id) AS rn FROM s),
        |p AS (SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 20 GROUP BY 1, 2),
        |f AS (SELECT
        |  CASE WHEN regexp_matches(path, '^view(>view)*$') THEN 1 ELSE 0 END AS browse_only,
        |  CASE WHEN regexp_matches(path, 'view.*purchase') THEN 1 ELSE 0 END AS view_to_purchase,
        |  CASE WHEN regexp_matches(path, 'error.*error') THEN 1 ELSE 0 END AS error_retry,
        |  CASE WHEN regexp_matches(path, '^signup') THEN 1 ELSE 0 END AS signup_first
        |  FROM p),
        |a AS (SELECT count(*) AS n_sessions,
        |  CAST(sum(browse_only) AS BIGINT) AS browse_only,
        |  CAST(sum(view_to_purchase) AS BIGINT) AS view_to_purchase,
        |  CAST(sum(error_retry) AS BIGINT) AS error_retry,
        |  CAST(sum(signup_first) AS BIGINT) AS signup_first FROM f)
        |SELECT pattern, n_matched, n_sessions,
        |  round(CAST(n_matched AS DOUBLE) / n_sessions, 6) AS match_rate
        |FROM (
        |  SELECT 'browse_only' AS pattern, browse_only AS n_matched, n_sessions FROM a
        |  UNION ALL SELECT 'view_to_purchase', view_to_purchase, n_sessions FROM a
        |  UNION ALL SELECT 'error_retry', error_retry, n_sessions FROM a
        |  UNION ALL SELECT 'signup_first', signup_first, n_sessions FROM a)""".stripMargin,

    // first-order transition matrix argmax baseline; count ties break
    // lexicographically on the successor type
    "transition_predict" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |tr AS (SELECT event_type AS prev_type,
        |       lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
        |       FROM e QUALIFY next_type IS NOT NULL),
        |c AS (SELECT prev_type, next_type, count(*) AS n FROM tr GROUP BY 1, 2),
        |best AS (SELECT prev_type, next_type AS predicted FROM (
        |  SELECT prev_type, next_type,
        |    row_number() OVER (PARTITION BY prev_type ORDER BY n DESC, next_type) AS rn
        |  FROM c) WHERE rn = 1)
        |SELECT c.prev_type, b.predicted,
        |  CAST(sum(c.n) AS BIGINT) AS n_transitions,
        |  CAST(sum(CASE WHEN c.next_type = b.predicted THEN c.n ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN c.next_type = b.predicted THEN c.n ELSE 0 END) AS DOUBLE)
        |    / sum(c.n), 6) AS accuracy
        |FROM c JOIN best b ON b.prev_type = c.prev_type
        |GROUP BY 1, 2""".stripMargin,

    // FK fanout + referential-integrity audit, one row per relationship
    "join_cardinality_profile" -> {
      def rel(child: String, fk: String, parent: String, pk: String,
          name: String): String =
        s"""SELECT '$name' AS relationship,
           |  CAST(sum(coalesce(fan, 0)) AS BIGINT) AS n_children,
           |  CAST(sum(coalesce(is_p, 0)) AS BIGINT) AS n_parents,
           |  CAST(sum(CASE WHEN is_p IS NULL THEN fan ELSE 0 END) AS BIGINT) AS n_orphan_children,
           |  CAST(sum(CASE WHEN is_p IS NOT NULL AND fan IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_childless_parents,
           |  CAST(coalesce(min(CASE WHEN is_p IS NOT NULL THEN fan END), 0) AS BIGINT) AS min_fanout,
           |  CAST(coalesce(max(CASE WHEN is_p IS NOT NULL THEN fan END), 0) AS BIGINT) AS max_fanout,
           |  CASE WHEN sum(CASE WHEN is_p IS NOT NULL AND fan IS NOT NULL THEN 1 ELSE 0 END) > 0
           |    THEN round(CAST(sum(CASE WHEN is_p IS NOT NULL THEN fan ELSE 0 END) AS DOUBLE)
           |      / sum(CASE WHEN is_p IS NOT NULL AND fan IS NOT NULL THEN 1 ELSE 0 END), 6)
           |    ELSE 0.0 END AS avg_fanout
           |FROM (SELECT f.fan, p.is_p
           |      FROM (SELECT $fk AS k, count(*) AS fan FROM $child GROUP BY 1) f
           |      FULL OUTER JOIN (SELECT DISTINCT $pk AS k, 1 AS is_p FROM $parent) p
           |      USING (k))""".stripMargin
      rel("orders", "o_custkey", "customer", "c_custkey", "orders->customer") +
        "\nUNION ALL\n" +
        rel("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders")
    },

    // degree stats of the df/pair-gated token co-occurrence graph
    "token_degree_stats" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, token FROM $tokTable),
         |q AS (SELECT token FROM (SELECT token, count(*) AS df FROM d GROUP BY 1) WHERE df >= 5),
         |dq AS (SELECT d.doc_id, d.token FROM d JOIN q USING (token)),
         |e AS (SELECT x.token AS a, y.token AS b FROM dq x JOIN dq y
         |      ON x.doc_id = y.doc_id AND x.token < y.token
         |      GROUP BY 1, 2 HAVING count(*) >= 5),
         |deg AS (SELECT token, count(*) AS degree FROM
         |        (SELECT a AS token FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |ne AS (SELECT count(*) AS n_edges FROM e),
         |g AS (SELECT count(*) AS n_nodes,
         |      CAST(min(degree) AS BIGINT) AS min_degree,
         |      CAST(max(degree) AS BIGINT) AS max_degree,
         |      round(avg(degree), 6) AS avg_degree,
         |      round(quantile_cont(degree, 0.9), 4) AS p90_degree FROM deg)
         |SELECT g.n_nodes, ne.n_edges, g.min_degree, g.max_degree,
         |  g.avg_degree, g.p90_degree
         |FROM g CROSS JOIN ne""".stripMargin,

    // seasonal-naive (lag-7) vs naive (lag-1) MAE per event type;
    // positional lags gated on the calendar gap actually matching
    "seasonal_naive_eval" ->
      """WITH daily AS (SELECT event_type, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |               count(*) AS cnt FROM events GROUP BY 1, 2),
        |l AS (SELECT *, lag(day_idx, 1) OVER w AS lag1_day, lag(cnt, 1) OVER w AS lag1_cnt,
        |      lag(day_idx, 7) OVER w AS lag7_day, lag(cnt, 7) OVER w AS lag7_cnt
        |      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)),
        |e AS (SELECT event_type,
        |      CASE WHEN lag1_day = day_idx - 1 THEN abs(cnt - lag1_cnt) END AS e1,
        |      CASE WHEN lag7_day = day_idx - 7 THEN abs(cnt - lag7_cnt) END AS e7 FROM l)
        |SELECT event_type, count(*) AS n_days,
        |  count(e1) AS n_scored1,
        |  CASE WHEN count(e1) > 0 THEN round(CAST(sum(e1) AS DOUBLE) / count(e1), 6)
        |       ELSE 0.0 END AS mae1,
        |  count(e7) AS n_scored7,
        |  CASE WHEN count(e7) > 0 THEN round(CAST(sum(e7) AS DOUBLE) / count(e7), 6)
        |       ELSE 0.0 END AS mae7
        |FROM e GROUP BY 1""".stripMargin,

    // weekly churn: prior-week actives who failed to return; evaluated
    // week must itself be active (inner join on the weekly frame)
    "churn_rate" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |      epoch_ns(ts) // 1000 // 604800000000 AS week_idx FROM events),
        |weekly AS (SELECT week_idx, count(*) AS n_active FROM uw GROUP BY 1),
        |ret AS (SELECT a.week_idx + 1 AS week_idx, count(*) AS n_retained
        |        FROM uw a JOIN uw b ON b.user_id = a.user_id AND b.week_idx = a.week_idx + 1
        |        GROUP BY 1),
        |p AS (SELECT week_idx + 1 AS week_idx, n_active AS n_prev_active FROM weekly)
        |SELECT p.week_idx, CAST(p.n_prev_active AS BIGINT) AS n_prev_active,
        |  CAST(w.n_active AS BIGINT) AS n_active,
        |  CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(p.n_prev_active - coalesce(r.n_retained, 0) AS BIGINT) AS n_churned,
        |  round(CAST(p.n_prev_active - coalesce(r.n_retained, 0) AS DOUBLE)
        |    / p.n_prev_active, 6) AS churn_rate
        |FROM p JOIN weekly w USING (week_idx) LEFT JOIN ret r USING (week_idx)""".stripMargin,

    // daily new-vs-returning split from per-user first-seen day
    "new_vs_returning" ->
      """WITH du AS (SELECT DISTINCT user_id,
        |      epoch_ns(ts) // 1000 // 86400000000 AS day_idx FROM events),
        |f AS (SELECT user_id, CAST(min(day_idx) AS BIGINT) AS first_day FROM du GROUP BY 1)
        |SELECT du.day_idx, count(*) AS n_active,
        |  CAST(sum(CASE WHEN du.day_idx = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(count(*) - sum(CASE WHEN du.day_idx = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
        |  round(CAST(sum(CASE WHEN du.day_idx = f.first_day THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS new_ratio
        |FROM du JOIN f USING (user_id) GROUP BY 1""".stripMargin,

    // schema-free JSON key audit; values stringified identically by
    // both parsers (json number 87 -> '87', json null -> NULL)
    "json_key_profile" ->
      """WITH kv AS (SELECT event_id, unnest(json_keys(props)) AS key, props FROM events),
        |v AS (SELECT event_id, key, json_extract_string(props, '$.' || key) AS value FROM kv),
        |tot AS (SELECT count(*) AS n_events FROM events)
        |SELECT v.key, count(*) AS n_present,
        |  CAST(count(DISTINCT v.value) AS BIGINT) AS n_distinct_values,
        |  CAST(sum(CASE WHEN v.value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_values,
        |  round(CAST(count(*) AS DOUBLE) / tot.n_events, 6) AS presence_ratio
        |FROM v CROSS JOIN tot GROUP BY v.key, tot.n_events""".stripMargin,

    // temperature-scaled mixture weights: sqrt is exactly rounded IEEE,
    // so the T=2 chain is bit-deterministic cross-engine
    "mixture_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c),
        |w AS (SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |      round(CAST(n_docs AS DOUBLE) / total, 9) AS share,
        |      round(sqrt(CAST(n_docs AS DOUBLE) / total), 9) AS w_raw
        |      FROM c CROSS JOIN t),
        |z AS (SELECT list_reduce(list_sort(list(w_raw)), (a, b) -> a + b) AS z FROM w)
        |SELECT source, n_docs, share, round(w_raw / z, 6) AS w_temp,
        |  round(w_raw / z / share, 6) AS boost
        |FROM w CROSS JOIN z""".stripMargin,

    // hourly burst summary: population sigma from exact integer moments,
    // greatest(...,0) clamps float-negative zero variance (NaN semantics
    // differ between engines)
    "burst_hours" ->
      """WITH h AS (SELECT event_type, epoch_ns(ts) // 1000 // 3600000000 AS hour_idx,
        |           count(*) AS cnt FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n_hours, CAST(sum(cnt) AS BIGINT) AS s,
        |      CAST(sum(cnt * cnt) AS BIGINT) AS ss, CAST(max(cnt) AS BIGINT) AS max_cnt
        |      FROM h GROUP BY 1),
        |m2 AS (SELECT event_type, n_hours, max_cnt,
        |       round(CAST(s AS DOUBLE) / n_hours, 9) AS mu,
        |       round(sqrt(greatest(CAST(ss AS DOUBLE) / n_hours
        |         - (CAST(s AS DOUBLE) / n_hours) * (CAST(s AS DOUBLE) / n_hours), 0.0)), 9) AS sigma
        |       FROM m),
        |b AS (SELECT h.event_type,
        |      CAST(sum(CASE WHEN h.cnt > m2.mu + 2.0 * m2.sigma THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours
        |      FROM h JOIN m2 USING (event_type) GROUP BY 1)
        |SELECT m2.event_type, m2.n_hours, round(m2.mu, 6) AS mu,
        |  round(m2.sigma, 6) AS sigma, b.n_burst_hours,
        |  CASE WHEN m2.sigma > 0 THEN round((m2.max_cnt - m2.mu) / m2.sigma, 6)
        |       ELSE 0.0 END AS max_z
        |FROM m2 JOIN b USING (event_type)""".stripMargin,

    // deterministic md5 fold assignment + per-language balance audit
    "stratified_kfold" ->
      """WITH f AS (SELECT lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 5 AS fold
        |  FROM documents),
        |cells AS (SELECT fold, lang, count(*) AS n_docs FROM f GROUP BY 1, 2),
        |pf AS (SELECT fold, CAST(sum(n_docs) AS BIGINT) AS n_fold FROM cells GROUP BY 1),
        |pl AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cells)
        |SELECT c.fold, c.lang, c.n_docs,
        |  round(CAST(c.n_docs AS DOUBLE) / pf.n_fold, 6) AS fold_frac,
        |  round(CAST(pl.n_lang AS DOUBLE) / t.n_total, 6) AS corpus_frac,
        |  round(CAST(c.n_docs AS DOUBLE) / pf.n_fold
        |    - CAST(pl.n_lang AS DOUBLE) / t.n_total, 6) AS deviation
        |FROM cells c JOIN pf USING (fold) JOIN pl USING (lang) CROSS JOIN t""".stripMargin,

    // Markov removal-effect attribution: identical unrolled 8-step
    // vector-chain truncation per variant (base + 4 removals)
    "markov_attribution" -> {
      val steps = 8
      // per-variant transition matrix tag -> relabel expression
      def variantMatrix(tag: String, removed: Option[String]): String = {
        val dstExpr = removed match {
          case Some(c) => s"CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END"
          case None => "dst"
        }
        s"t$tag AS (SELECT src, $dstExpr AS dst, p FROM t0)"
      }
      def chain(tag: String): String = {
        val sb = new StringBuilder
        sb.append(s"v${tag}0 AS (SELECT 'START' AS state, CAST(1.0 AS DOUBLE) AS mass),\n")
        for (i <- 1 to steps) {
          sb.append(
            s"""s$tag$i AS (SELECT dst, round(list_reduce(list_sort(list(m)), (a, b) -> a + b), 9) AS mass
               |  FROM (SELECT t.dst, round(v.mass * t.p, 9) AS m
               |        FROM v$tag${i - 1} v JOIN t$tag t ON t.src = v.state) GROUP BY dst),
               |v$tag$i AS (SELECT dst AS state, mass FROM s$tag$i WHERE dst NOT IN ('CONV', 'NULL')),\n""".stripMargin)
        }
        sb.append(s"g$tag AS (SELECT coalesce(round(list_reduce(list_sort(list(mass)), (a, b) -> a + b), 9), 0.0) AS pconv FROM (")
        sb.append((1 to steps).map(i => s"SELECT mass FROM s$tag$i WHERE dst = 'CONV'")
          .mkString(" UNION ALL "))
        sb.append("))")
        sb.toString
      }
      val channels = Seq("view", "click", "error", "signup")
      val variants = ("B", None) +: channels.map(c => (c.take(2) + "x", Some(c)))
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
         |k AS (SELECT * FROM (SELECT *,
         |      coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY user_id ORDER BY us, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb FROM e)
         |      WHERE pb = 0),
         |wn AS (SELECT *, lead(event_type) OVER w AS next_type, row_number() OVER w AS rn
         |       FROM k WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |tr AS (
         |  SELECT 'START' AS src, event_type AS dst FROM wn WHERE rn = 1
         |  UNION ALL SELECT event_type, next_type FROM wn WHERE next_type IS NOT NULL
         |  UNION ALL SELECT event_type, 'NULL' FROM wn
         |    WHERE next_type IS NULL AND event_type <> 'purchase'),
         |c AS (SELECT src, CASE WHEN dst = 'purchase' THEN 'CONV' ELSE dst END AS dst,
         |      count(*) AS n FROM tr GROUP BY 1, 2),
         |om AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY 1),
         |t0 AS (SELECT c.src, c.dst, round(CAST(c.n AS DOUBLE) / om.n_out, 9) AS p
         |       FROM c JOIN om USING (src)),
         |${variants.map { case (tag, rem) => variantMatrix(tag, rem) }.mkString(",\n")},
         |${variants.map { case (tag, _) => chain(tag) }.mkString(",\n")},
         |rem AS (${channels.map { c =>
                    val tag = c.take(2) + "x"
                    s"SELECT '$c' AS channel, pconv AS removal_pconv FROM g$tag"
                  }.mkString(" UNION ALL ")}),
         |eff AS (SELECT rem.channel, gB.pconv AS base_pconv, rem.removal_pconv,
         |  CASE WHEN gB.pconv > 0 THEN round(1.0 - rem.removal_pconv / gB.pconv, 6)
         |       ELSE 0.0 END AS removal_effect
         |  FROM rem CROSS JOIN gB),
         |se AS (SELECT round(list_reduce(list_sort(list(removal_effect)), (a, b) -> a + b), 9) AS sum_eff FROM eff)
         |SELECT eff.channel, eff.base_pconv, eff.removal_pconv, eff.removal_effect,
         |  CASE WHEN se.sum_eff > 0 THEN round(eff.removal_effect / se.sum_eff, 6)
         |       ELSE 0.0 END AS attribution
         |FROM eff CROSS JOIN se""".stripMargin
    },

    // greedy k-center coreset: unrolled farthest-point rounds, 9 dp
    // index-order distance folds, vec_id ties
    "coreset_select" -> {
      def dmin(sel: String, out: String): String =
        s"""$out AS (SELECT v.vec_id, min(round(list_reduce(list_transform(
           |    range(1, len(v.e) + 1), i -> (v.e[i] - s.e[i]) * (v.e[i] - s.e[i])),
           |    (p, q) -> p + q), 9)) AS dmin
           |  FROM v CROSS JOIN $sel s GROUP BY 1)""".stripMargin
      def step(i: Int): String =
        s"""${dmin(s"s${i - 1}", s"d${i - 1}")},
           |n$i AS (SELECT vec_id FROM d${i - 1} ORDER BY dmin DESC, vec_id LIMIT 1),
           |s$i AS (SELECT * FROM s${i - 1}
           |  UNION ALL SELECT v.vec_id, v.e, CAST($i AS BIGINT) FROM v JOIN n$i USING (vec_id))""".stripMargin
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |s1 AS (SELECT vec_id, e, CAST(1 AS BIGINT) AS selection_rank FROM v
         |       ORDER BY vec_id LIMIT 1),
         |${step(2)},
         |${step(3)},
         |${step(4)},
         |${dmin("s4", "df")},
         |r AS (SELECT round(max(dmin), 6) AS radius2 FROM df)
         |SELECT s4.selection_rank, s4.vec_id, r.radius2 FROM s4 CROSS JOIN r""".stripMargin
    },

    // confident-learning-lite: nearest-label-centroid confusion matrix
    "label_noise" ->
      """WITH x AS (SELECT vec_id, label, vec_id % 1024 AS sb, i AS pos, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
        |        unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
        |s1 AS (SELECT label, pos, sb, count(*) AS sub_n,
        |       list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
        |       FROM x GROUP BY 1, 2, 3),
        |cm AS (SELECT label, pos,
        |       round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
        |       FROM s1 GROUP BY 1, 2),
        |c AS (SELECT label AS cand, list(cm ORDER BY pos) AS c FROM cm GROUP BY 1),
        |v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |      FROM embeddings),
        |d AS (SELECT vec_id, label, cand,
        |      round(list_reduce(list_transform(range(1, len(e) + 1),
        |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
        |      FROM v CROSS JOIN c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cand) AS rn FROM d),
        |p AS (SELECT vec_id, label, cand FROM r WHERE rn = 1),
        |nl AS (SELECT label, count(*) AS n_label FROM p GROUP BY 1),
        |g AS (SELECT p.label, p.cand AS predicted, CAST(count(*) AS BIGINT) AS n_vecs
        |      FROM p GROUP BY 1, 2)
        |SELECT g.label, g.predicted, g.n_vecs,
        |  round(CAST(g.n_vecs AS DOUBLE) / nl.n_label, 6) AS frac
        |FROM g JOIN nl ON nl.label = g.label""".stripMargin,

    // join-key skew diagnostic over the per-key count frame
    "key_skew_profile" ->
      """WITH c AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
        |t1 AS (SELECT k AS top_key, CAST(cnt AS BIGINT) AS top_count FROM c
        |       ORDER BY cnt DESC, k LIMIT 1),
        |s AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |      round(quantile_cont(cnt, 0.5), 4) AS p50_count,
        |      round(quantile_cont(cnt, 0.99), 4) AS p99_count FROM c)
        |SELECT s.n_keys, s.n_rows, t1.top_key, t1.top_count, s.p50_count, s.p99_count,
        |  round(CAST(t1.top_count AS DOUBLE) * s.n_keys / s.n_rows, 6) AS top_key_hotness,
        |  CASE WHEN s.p50_count > 0 THEN round(s.p99_count / s.p50_count, 6)
        |       ELSE 0.0 END AS p99_p50_ratio
        |FROM s CROSS JOIN t1""".stripMargin,

    // Benford first-digit audit; expected probabilities are the SAME
    // 9 dp literals the operator embeds (shared Relational.BenfordP)
    "benford_check" -> {
      val expCase = "CASE digit " + graft.operators.Relational.BenfordP.map {
        case (d, p) => s"WHEN $d THEN CAST($p AS DOUBLE)" }.mkString(" ") + " END"
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |      FROM c WHERE c > 0),
         |obs AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
         |tot AS (SELECT count(*) AS n FROM d),
         |grid AS (SELECT unnest(range(1, 10)) AS digit, n FROM tot),
         |f0 AS (SELECT g.digit AS digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs, g.n
         |       FROM grid g LEFT JOIN obs o ON o.digit = g.digit),
         |f AS (SELECT *, $expCase AS exp_p FROM f0),
         |f2 AS (SELECT *, round((n_obs - n * exp_p) * (n_obs - n * exp_p)
         |       / (n * exp_p), 9) AS chi2_term FROM f),
         |x AS (SELECT round(list_reduce(list_sort(list(chi2_term)), (a, b) -> a + b), 6) AS chi2 FROM f2)
         |SELECT f2.digit, f2.n_obs, round(CAST(f2.n_obs AS DOUBLE) / f2.n, 6) AS obs_p,
         |  f2.exp_p, x.chi2
         |FROM f2 CROSS JOIN x""".stripMargin
    },

    // Pareto revenue concentration: global rank+cumsum order mirrored,
    // exact integer threshold comparison
    "pareto_users" ->
      """WITH s AS (SELECT user_id,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS rnk,
        |      CAST(sum(cents) OVER (ORDER BY cents DESC, user_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
        |      CAST(sum(cents) OVER () AS BIGINT) AS tot_cents FROM s),
        |n AS (SELECT count(*) AS n_users FROM s),
        |p AS (SELECT pct, CAST(min(rnk) AS BIGINT) AS n_users_needed
        |      FROM r CROSS JOIN (SELECT unnest([50, 80, 90, 95, 99]) AS pct)
        |      WHERE cum_cents * 100 >= pct * tot_cents GROUP BY 1)
        |SELECT CAST(p.pct AS BIGINT) AS pct, p.n_users_needed, n.n_users,
        |  round(CAST(p.n_users_needed AS DOUBLE) / n.n_users, 6) AS user_frac
        |FROM p CROSS JOIN n""".stripMargin,

    // audience-overlap Jaccard for every co-occurring event-type pair
    "user_overlap_jaccard" ->
      """WITH du AS (SELECT DISTINCT user_id, event_type FROM events),
        |s AS (SELECT event_type, count(*) AS n_users FROM du GROUP BY 1),
        |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |      FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b,
        |  CAST(sa.n_users AS BIGINT) AS n_a, CAST(sb.n_users AS BIGINT) AS n_b,
        |  CAST(i.n_both AS BIGINT) AS n_both,
        |  round(CAST(i.n_both AS DOUBLE) / (sa.n_users + sb.n_users - i.n_both), 6) AS jaccard
        |FROM i JOIN s sa ON sa.event_type = i.type_a
        |JOIN s sb ON sb.event_type = i.type_b""".stripMargin,

    // per-user arrival-order lateness vs running max event time
    "lateness_profile" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |m AS (SELECT *, max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_us FROM e),
        |l AS (SELECT event_type,
        |      CASE WHEN prev_max_us > us THEN (prev_max_us - us) // 1000000 ELSE 0 END AS late_s FROM m)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS late_ratio,
        |  CAST(max(late_s) AS BIGINT) AS max_late_s,
        |  round(quantile_cont(late_s, 0.99), 4) AS p99_late_s
        |FROM l GROUP BY 1""".stripMargin,

    // order->ship SLA: whole-day BIGINT latencies, exact interpolated
    // percentiles per priority class
    "ship_latency" ->
      """WITH l AS (SELECT l_orderkey,
        |  epoch_ns(l_shipdate) // 1000 // 86400000000 AS ship_day FROM lineitem),
        |o AS (SELECT o_orderkey, o_orderpriority,
        |  epoch_ns(o_orderdate) // 1000 // 86400000000 AS order_day FROM orders)
        |SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(min(ship_day - order_day) AS BIGINT) AS min_days,
        |  CAST(max(ship_day - order_day) AS BIGINT) AS max_days,
        |  round(quantile_cont(ship_day - order_day, 0.5), 4) AS p50_days,
        |  round(quantile_cont(ship_day - order_day, 0.9), 4) AS p90_days,
        |  round(quantile_cont(ship_day - order_day, 0.99), 4) AS p99_days
        |FROM l JOIN o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1""".stripMargin,

    // IVM merge proof: the oracle is the FULL recompute; hash-equality
    // with the standing+delta partial-state merge is the check
    "ivm_agg" ->
      """SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS first_us,
        |  CAST(max(epoch_ns(ts) // 1000) AS BIGINT) AS last_us
        |FROM events GROUP BY 1, 2""".stripMargin,

    // exact rolling COUNT DISTINCT via the bounded x30 contribution
    // explode; integer epoch-day indices; zero-event days absent
    "dau_mau" ->
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 1000 // 86400000000 AS day_idx, user_id FROM events),
        |dau AS (SELECT day_idx, count(*) AS dau FROM du GROUP BY 1),
        |contrib AS (SELECT DISTINCT user_id, day_idx + o AS day_idx
        |            FROM du CROSS JOIN (SELECT unnest(range(30)) AS o)),
        |mau AS (SELECT c.day_idx, count(*) AS mau FROM contrib c
        |        WHERE c.day_idx IN (SELECT day_idx FROM dau) GROUP BY 1)
        |SELECT d.day_idx, d.dau, m.mau,
        |  round(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
        |FROM dau d JOIN mau m ON d.day_idx = m.day_idx""".stripMargin,

    // Welch's t on per-user purchase cents, arms = user_id parity;
    // integer moment sums, one fixed association for the t/df chain
    "ab_ttest" ->
      """WITH sp AS (SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |m AS (SELECT user_id % 2 AS grp, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
        |             CAST(sum(cents * cents) AS BIGINT) AS ss
        |      FROM sp GROUP BY 1),
        |v AS (SELECT grp, n, round(CAST(s AS DOUBLE) / n, 9) AS mean,
        |      round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1), 9) AS variance
        |      FROM m)
        |SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
        |  a.variance AS var_a, b.variance AS var_b,
        |  round((b.mean - a.mean) / sqrt(b.variance / b.n + a.variance / a.n), 6) AS t_stat,
        |  round((b.variance / b.n + a.variance / a.n) * (b.variance / b.n + a.variance / a.n) /
        |    ((b.variance / b.n) * (b.variance / b.n) / (b.n - 1) +
        |     (a.variance / a.n) * (a.variance / a.n) / (a.n - 1)), 6) AS df
        |FROM (SELECT * FROM v WHERE grp = 0) a CROSS JOIN (SELECT * FROM v WHERE grp = 1) b""".stripMargin,

    // DPO preference pairs: i-th best vs i-th worst of ONE total order
    // (quality, doc_id) per (lang, source) stratum, i <= min(5, n/2),
    // margin gate 0.05
    "dpo_pairs" ->
      s"""WITH q AS (SELECT doc_id, lang, source, $qualitySql AS quality FROM documents),
         |n AS (SELECT lang, source, count(*) AS n_grp FROM q GROUP BY 1, 2),
         |ch AS (SELECT lang, source, doc_id, quality,
         |   CAST(row_number() OVER (PARTITION BY lang, source ORDER BY quality DESC, doc_id) AS BIGINT) AS pair_rank FROM q),
         |rj AS (SELECT lang, source, doc_id, quality,
         |   CAST(row_number() OVER (PARTITION BY lang, source ORDER BY quality ASC, doc_id DESC) AS BIGINT) AS pair_rank FROM q)
         |SELECT ch.lang, ch.source, ch.pair_rank,
         |  ch.doc_id AS chosen_doc_id, rj.doc_id AS rejected_doc_id,
         |  ch.quality AS chosen_q, rj.quality AS rejected_q,
         |  round(ch.quality - rj.quality, 6) AS margin
         |FROM ch JOIN rj ON ch.lang = rj.lang AND ch.source = rj.source
         |  AND ch.pair_rank = rj.pair_rank
         |JOIN n ON n.lang = ch.lang AND n.source = ch.source
         |WHERE ch.pair_rank <= least(5, n.n_grp // 2)
         |  AND round(ch.quality - rj.quality, 6) >= 0.05""".stripMargin,

    // preference length-bias audit over the dpo_pairs set: chosen-longer
    // share, mean length gap, mean margin (micro-unit exact sums)
    "preference_length_bias" ->
      s"""WITH q AS (SELECT doc_id, lang, source, $qualitySql AS quality FROM documents),
         |n AS (SELECT lang, source, count(*) AS n_grp FROM q GROUP BY 1, 2),
         |ch AS (SELECT lang, source, doc_id, quality,
         |   CAST(row_number() OVER (PARTITION BY lang, source ORDER BY quality DESC, doc_id) AS BIGINT) AS pair_rank FROM q),
         |rj AS (SELECT lang, source, doc_id, quality,
         |   CAST(row_number() OVER (PARTITION BY lang, source ORDER BY quality ASC, doc_id DESC) AS BIGINT) AS pair_rank FROM q),
         |p AS (SELECT ch.doc_id AS chosen_doc_id, rj.doc_id AS rejected_doc_id,
         |  round(ch.quality - rj.quality, 6) AS margin
         |  FROM ch JOIN rj ON ch.lang = rj.lang AND ch.source = rj.source
         |    AND ch.pair_rank = rj.pair_rank
         |  JOIN n ON n.lang = ch.lang AND n.source = ch.source
         |  WHERE ch.pair_rank <= least(5, n.n_grp // 2)
         |    AND round(ch.quality - rj.quality, 6) >= 0.05),
         |j AS (SELECT p.margin, dc.n_chars AS len_c, dr.n_chars AS len_r
         |  FROM p JOIN documents dc ON dc.doc_id = p.chosen_doc_id
         |  JOIN documents dr ON dr.doc_id = p.rejected_doc_id)
         |SELECT count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN len_c > len_r THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen_longer,
         |  round(CAST(sum(CASE WHEN len_c > len_r THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS frac_chosen_longer,
         |  round(CAST(sum(len_c - len_r) AS DOUBLE) / count(*), 6) AS mean_len_gap,
         |  round(CAST(sum(CAST(round(margin * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6, 6) AS mean_margin
         |FROM j""".stripMargin,

    // GRPO-style group z-score of quality per (lang, source): two-level
    // sub-bucketed sorted folds for mean and population variance, each
    // sum re-rounded to its terms' dp before the divide
    "reward_normalize" ->
      s"""WITH q AS (SELECT doc_id, lang, source, $qualitySql AS quality FROM documents),
         |m1 AS (SELECT lang, source, CAST(sum(sub_n) AS BIGINT) AS n_grp,
         |    round(round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 6) / sum(sub_n), 9) AS mean_q
         |  FROM (SELECT lang, source, doc_id % 1024 AS sb, count(*) AS sub_n,
         |        list_reduce(list_sort(list(quality)), (a, b) -> a + b) AS sub_s
         |        FROM q GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |d AS (SELECT q.doc_id, q.lang, q.source, q.quality, m1.mean_q,
         |    round((q.quality - m1.mean_q) * (q.quality - m1.mean_q), 9) AS d2
         |  FROM q JOIN m1 ON m1.lang = q.lang AND m1.source = q.source),
         |m2 AS (SELECT lang, source,
         |    round(round(list_reduce(list_sort(list(sub_d)), (a, b) -> a + b), 9) / sum(sub_n), 9) AS var_q
         |  FROM (SELECT lang, source, doc_id % 1024 AS sb, count(*) AS sub_n,
         |        list_reduce(list_sort(list(d2)), (a, b) -> a + b) AS sub_d
         |        FROM d GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)
         |SELECT d.doc_id, d.lang, d.source, d.quality,
         |  CASE WHEN m2.var_q > 0 THEN round((d.quality - d.mean_q) / sqrt(m2.var_q), 6)
         |       ELSE 0.0 END AS z_reward
         |FROM d JOIN m2 ON m2.lang = d.lang AND m2.source = d.source""".stripMargin,

    // BFS as set difference, unrolled 3 hops over the df/pair-gated
    // co-occurrence edges; seed = argmax df (tie lexicographic)
    "token_bfs" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, token FROM $tokTable),
         |c AS (SELECT token, count(*) AS df FROM d GROUP BY 1),
         |q AS (SELECT token FROM c WHERE df >= 5),
         |dq AS (SELECT d.doc_id, d.token FROM d JOIN q USING (token)),
         |e AS (SELECT x.token AS a, y.token AS b FROM dq x JOIN dq y
         |      ON x.doc_id = y.doc_id AND x.token < y.token
         |      GROUP BY 1, 2 HAVING count(*) >= 5),
         |eb AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         |seed AS (SELECT token FROM c ORDER BY df DESC, token LIMIT 1),
         |v0 AS (SELECT token, CAST(0 AS BIGINT) AS dist FROM seed),
         |f1 AS (SELECT DISTINCT eb.b AS token FROM seed JOIN eb ON eb.a = seed.token),
         |n1 AS (SELECT token, CAST(1 AS BIGINT) AS dist FROM f1
         |       WHERE token NOT IN (SELECT token FROM v0)),
         |f2 AS (SELECT DISTINCT eb.b AS token FROM n1 JOIN eb ON eb.a = n1.token),
         |n2 AS (SELECT token, CAST(2 AS BIGINT) AS dist FROM f2
         |       WHERE token NOT IN (SELECT token FROM v0 UNION SELECT token FROM n1)),
         |f3 AS (SELECT DISTINCT eb.b AS token FROM n2 JOIN eb ON eb.a = n2.token),
         |n3 AS (SELECT token, CAST(3 AS BIGINT) AS dist FROM f3
         |       WHERE token NOT IN (SELECT token FROM v0 UNION SELECT token FROM n1
         |                           UNION SELECT token FROM n2))
         |SELECT * FROM v0 UNION ALL SELECT * FROM n1
         |UNION ALL SELECT * FROM n2 UNION ALL SELECT * FROM n3""".stripMargin,

    // planted-duplicate recall (B245): type-dropped mutants at three
    // severities, the banded detector over originals ∪ plants, recall
    // per severity against the planted ground truth
    "planted_dup_recall" ->
      s"""WITH ks AS (SELECT unnest([2, 8, 32]) AS k),
         |bases AS (SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0),
         |plants AS (SELECT d.doc_id + ks.k * 10000000 AS doc_id,
         |  array_to_string(list_filter($toks,
         |    t -> ('0x' || substr(md5(t), 1, 4))::BIGINT % ks.k <> 0), ' ') AS text
         |  FROM bases d CROSS JOIN ks),
         |alld AS (SELECT doc_id, text FROM bases
         |         UNION ALL SELECT doc_id, text FROM plants),
         |tk AS (SELECT doc_id, $toks AS toks FROM alld WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |da AS (SELECT doc_id, list_sort(list(token)) AS arr, count(*) AS n FROM dt GROUP BY 1),
         |pairs AS (SELECT a_id, b_id FROM (
         |  SELECT c.a_id, c.b_id,
         |    round(CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE)
         |      / CAST(sa.n + sb.n - len(list_intersect(sa.arr, sb.arr)) AS DOUBLE), 6) AS jac
         |  FROM cand c JOIN da sa ON sa.doc_id = c.a_id JOIN da sb ON sb.doc_id = c.b_id)
         |  WHERE jac >= 0.5),
         |planted AS (SELECT d.doc_id AS a_id, d.doc_id + ks.k * 10000000 AS b_id,
         |  CAST(ks.k AS BIGINT) AS severity FROM bases d CROSS JOIN ks),
         |hits AS (SELECT severity, CAST(count(*) AS BIGINT) AS n_found
         |  FROM planted JOIN pairs USING (a_id, b_id) GROUP BY 1)
         |SELECT p.severity, CAST(count(*) AS BIGINT) AS n_planted,
         |  coalesce(max(h.n_found), 0) AS n_found,
         |  round(CAST(coalesce(max(h.n_found), 0) AS DOUBLE) / count(*), 6) AS recall
         |FROM planted p LEFT JOIN hits h USING (severity) GROUP BY p.severity""".stripMargin,

    // tf-weighted MinHash (B240): exponential-race signatures off md5
    // uniforms; agreement fraction estimates weighted Jaccard
    "dedup_wminhash" ->
      s"""WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM $tokTable GROUP BY 1, 2),
         |race AS (SELECT doc_id, token, tf, h.h,
         |  round(-ln((('0x' || substr(md5(h.h || ':' || token), 1, 6))::BIGINT + 1)
         |    / 16777216.0) / tf, 9) AS p
         |  FROM tf CROSS JOIN (SELECT unnest(range(0, 16)) AS h) h),
         |sw AS (SELECT doc_id, h, token AS tok FROM (
         |  SELECT doc_id, h, token,
         |    row_number() OVER (PARTITION BY doc_id, h ORDER BY p, token) AS rn
         |  FROM race) WHERE rn = 1),
         |sig AS (SELECT doc_id, list(tok ORDER BY h) AS sig FROM sw GROUP BY 1),
         |banded AS (
         |  SELECT doc_id, 0 AS band, md5(array_to_string(sig[1:8], ' ')) AS bh FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, md5(array_to_string(sig[9:16], ' ')) AS bh FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |vg AS (SELECT a_id, b_id,
         |  CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_match
         |  FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id)
         |SELECT a_id, b_id, n_match,
         |  round(CAST(n_match AS DOUBLE) / 16, 6) AS est_wjac
         |FROM vg WHERE n_match >= 15""".stripMargin,

    // ingest-rate spike detector (B243): count vs exact-binary-weight
    // EWMA of the prior 8 present days, per event_type
    "ingest_anomaly" -> {
      val lags = (1 to 8).map(j => s"lag(n_events, $j) OVER w AS l$j").mkString(",\n        |  ")
      val num = (1 to 8).map(j => s"coalesce(CAST(l$j AS DOUBLE), 0.0) * pow(0.5, $j)").mkString(" + ")
      val den = (1 to 8).map(j => s"CASE WHEN l$j IS NOT NULL THEN pow(0.5, $j) ELSE 0.0 END").mkString(" + ")
      s"""WITH daily AS (SELECT event_type, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
         |  count(*) AS n_events FROM events GROUP BY 1, 2),
         |lagged AS (SELECT event_type, day_idx, n_events,
         |  $lags
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)),
         |e AS (SELECT event_type, day_idx, n_events,
         |  ($num) AS num, ($den) AS den FROM lagged),
         |f AS (SELECT event_type, day_idx, CAST(n_events AS BIGINT) AS n_events,
         |  CASE WHEN den > 0 THEN round(num / den, 6) END AS ewma_prev FROM e)
         |SELECT event_type, day_idx, n_events, ewma_prev,
         |  round(n_events / ewma_prev, 6) AS ratio,
         |  CASE WHEN ewma_prev IS NOT NULL
         |       THEN round(n_events / ewma_prev, 6) >= 2.0 ELSE FALSE END AS spike
         |FROM f""".stripMargin
    },

    // margin-criterion pair mining (B242): ratio margin over sign-LSH
    // gated cross-side candidates; scored MATERIALIZED (3 consumers)
    "margin_pairs" ->
      """WITH b AS (SELECT vec_id, embedding, CAST(label AS BIGINT) % 2 = 0 AS side_a,
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM embeddings),
        |scored AS MATERIALIZED (SELECT a.vec_id AS a_id, bb.vec_id AS b_id,
        |  round(list_reduce(list_transform(a.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE)), (p2, q2) -> p2 + q2)
        |    / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))
        |       * sqrt(list_reduce(list_transform(bb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))), 6) AS cos
        |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.side_a AND NOT bb.side_a),
        |sc2 AS (SELECT a_id, b_id, cos, CAST(round(cos * 1000000) AS BIGINT) AS cm FROM scored),
        |mua AS (SELECT a_id, CAST(sum(cm) AS BIGINT) AS sa, count(*) AS ca
        |  FROM (SELECT a_id, b_id, cm,
        |    row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn FROM sc2)
        |  WHERE rn <= 4 GROUP BY a_id),
        |mub AS (SELECT b_id, CAST(sum(cm) AS BIGINT) AS sb, count(*) AS cb
        |  FROM (SELECT a_id, b_id, cm,
        |    row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id) AS rn FROM sc2)
        |  WHERE rn <= 4 GROUP BY b_id),
        |mg AS (SELECT a_id, b_id, cos,
        |  round(CAST(2 * cm * ca * cb AS DOUBLE)
        |    / CAST(sa * cb + sb * ca AS DOUBLE), 6) AS margin
        |  FROM sc2 JOIN mua USING (a_id) JOIN mub USING (b_id)),
        |best AS (SELECT a_id, b_id, cos, margin,
        |  row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rn FROM mg)
        |SELECT a_id, b_id, cos, margin FROM best
        |WHERE rn = 1 AND margin >= 1.02""".stripMargin,

    // Neyman-optimal stratified allocation (B241): quotas by N_h·σ_h
    // with largest-remainder rounding; md5-rank draw fingerprinted
    "neyman_allocation" ->
      """WITH m AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sx,
        |  sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx FROM documents GROUP BY 1),
        |s AS (SELECT lang, n_docs,
        |  sqrt(CAST(sxx AS DOUBLE) / n_docs
        |    - (CAST(sx AS DOUBLE) / n_docs) * (CAST(sx AS DOUBLE) / n_docs)) AS sd_raw FROM m),
        |w AS (SELECT lang, n_docs, sd_raw, round(n_docs * sd_raw, 9) AS w FROM s),
        |t AS (SELECT list_reduce(list_sort(list(w)), (a, b) -> a + b) AS w_tot FROM w),
        |e AS (SELECT lang, n_docs, sd_raw, w, w_tot,
        |  CAST(floor(100.0 * w / w_tot) AS BIGINT) AS base,
        |  100.0 * w / w_tot - floor(100.0 * w / w_tot) AS rem
        |  FROM w CROSS JOIN t),
        |a AS (SELECT *, 100 - sum(base) OVER () AS leftover,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM e),
        |q2 AS (SELECT lang, n_docs, sd_raw, w, w_tot,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota,
        |  CAST(least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n_docs) AS BIGINT) AS n_drawn
        |  FROM a),
        |pre AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang ORDER BY md5(lang || ':' || doc_id), doc_id) AS prk
        |  FROM documents),
        |d AS (SELECT pre.lang,
        |  substr(md5(array_to_string(list_sort(list(pre.doc_id)), ',')), 1, 16) AS sample_hash16
        |  FROM pre JOIN q2 ON q2.lang = pre.lang AND pre.prk <= q2.n_drawn GROUP BY 1)
        |SELECT q2.lang, CAST(n_docs AS BIGINT) AS n_docs, round(sd_raw, 6) AS sd_chars,
        |  round(w / w_tot, 6) AS neyman_share, quota, n_drawn,
        |  coalesce(d.sample_hash16, '') AS sample_hash16
        |FROM q2 LEFT JOIN d USING (lang)""".stripMargin,

    // per-doc shingle census via the SQL table function (C221); the
    // set-hash fingerprint pins the exact shingle SET, not just counts
    "shingle_tvf" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
        |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        |            FROM t WHERE len(toks) >= 3))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct_shingles,
        |  substr(md5(array_to_string(list_sort(list(DISTINCT gram)), '|')), 1, 16)
        |    AS shingle_set_hash16
        |FROM g GROUP BY doc_id""".stripMargin,

    // splice detection (B239): a's last-3 tokens == b's first-3 tokens
    // (win=3 on the query surface — see the SparkEntry note)
    "head_tail_overlap" ->
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         |b8 AS (SELECT doc_id, t FROM base WHERE len(t) >= 3),
         |hd AS (SELECT doc_id AS b_id, md5(array_to_string(t[1:3], ' ')) AS h FROM b8),
         |tl AS (SELECT doc_id AS a_id,
         |       md5(array_to_string(t[len(t) - 2:len(t)], ' ')) AS h FROM b8)
         |SELECT DISTINCT a_id, b_id, substr(h, 1, 16) AS boundary_hash16
         |FROM tl JOIN hd USING (h) WHERE a_id <> b_id""".stripMargin,

    // the SAME BFS as a recursive CTE on BOTH engines (C219): bounded
    // UNION ALL walk enumeration, min(dist) = BFS distance within budget
    "token_bfs_rcte" ->
      s"""WITH RECURSIVE d AS (SELECT DISTINCT doc_id, token FROM $tokTable),
         |c AS (SELECT token, count(*) AS df FROM d GROUP BY 1),
         |q AS (SELECT token FROM c WHERE df >= 5),
         |dq AS (SELECT d.doc_id, d.token FROM d JOIN q USING (token)),
         |e AS (SELECT x.token AS a, y.token AS b FROM dq x JOIN dq y
         |      ON x.doc_id = y.doc_id AND x.token < y.token
         |      GROUP BY 1, 2 HAVING count(*) >= 5),
         |eb AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
         |seed AS (SELECT token FROM c ORDER BY df DESC, token LIMIT 1),
         |walk (token, dist) AS (
         |  SELECT token, CAST(0 AS BIGINT) AS dist FROM seed
         |  UNION ALL
         |  SELECT eb.b AS token, w.dist + 1 FROM walk w JOIN eb ON eb.a = w.token
         |  WHERE w.dist < 3)
         |SELECT token, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY token""".stripMargin,

    // corpus conditional bigram entropy: exact counts, 6 dp contribs,
    // md5-bucketed two-level folds
    "bigram_cond_entropy" ->
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
         |cb AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
         |cw AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         |x AS (SELECT ('0x' || substr(md5(w1 || ' ' || w2), 1, 4))::BIGINT % 1024 AS sb,
         |      c12, round(c12 * ln(CAST(c12 AS DOUBLE) / c1), 6) AS contrib
         |      FROM cb JOIN cw USING (w1)),
         |l1 AS (SELECT sb, CAST(sum(c12) AS BIGINT) AS sub_n, count(*) AS sub_t,
         |       list_reduce(list_sort(list(contrib)), (a, b) -> a + b) AS sub_s
         |       FROM x GROUP BY 1),
         |g AS (SELECT CAST(sum(sub_n) AS BIGINT) AS n_bigrams,
         |      CAST(sum(sub_t) AS BIGINT) AS n_bigram_types,
         |      round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 6) AS s FROM l1)
         |SELECT n_bigrams, n_bigram_types, round(-s / n_bigrams, 6) AS h_cond FROM g""".stripMargin,

    // WIMBD-style top-50 trigrams; global top-k with lexicographic ties
    "trigram_topk" ->
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 3),
         |tri AS (SELECT unnest(list_transform(range(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS trigram FROM t),
         |c AS (SELECT trigram, count(*) AS cnt FROM tri GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |k AS (SELECT trigram, CAST(cnt AS BIGINT) AS cnt FROM c
         |      ORDER BY cnt DESC, trigram LIMIT 50)
         |SELECT trigram, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
         |FROM k CROSS JOIN tot""".stripMargin,

    // Hill tail-index over the top-100 token counts; 6 dp ln-ratio
    // terms, sorted fold, degenerate tails -> 0
    "hill_tail_index" ->
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1),
         |top AS (SELECT token, CAST(cnt AS BIGINT) AS cnt FROM c
         |        ORDER BY cnt DESC, token LIMIT 100),
         |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rk FROM top),
         |kth AS (SELECT CAST(max(rk) AS BIGINT) AS k_used, CAST(min(cnt) AS BIGINT) AS x_k FROM r),
         |t AS (SELECT k_used, x_k, round(ln(CAST(cnt AS DOUBLE) / x_k), 6) AS term
         |      FROM r CROSS JOIN kth WHERE rk < k_used),
         |g AS (SELECT k_used, x_k, count(*) AS n_terms,
         |      round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS s
         |      FROM t GROUP BY 1, 2)
         |SELECT k_used, x_k, n_terms,
         |  CASE WHEN s > 0 THEN round(CAST(n_terms AS DOUBLE) / s, 6) ELSE 0.0 END AS hill_alpha
         |FROM g""".stripMargin,

    // one DoReMi mirror-descent step: 6 dp contribs, two-level
    // md5-bucketed folds, 9 dp loss/update, domain-bounded normalizer
    "doremi_step" ->
      s"""WITH tok AS (SELECT source, unnest($toks) AS token FROM documents),
         |sf AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM sf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |x AS (SELECT source, tf,
         |      ('0x' || substr(md5(token), 1, 4))::BIGINT % 1024 AS sb,
         |      round(tf * ln(CAST(cnt AS DOUBLE) / total), 6) AS contrib
         |      FROM sf JOIN c USING (token) CROSS JOIN tot),
         |l1 AS (SELECT source, sb, CAST(sum(tf) AS BIGINT) AS sub_n,
         |       list_reduce(list_sort(list(contrib)), (a, b) -> a + b) AS sub_s
         |       FROM x GROUP BY 1, 2),
         |d AS (SELECT source, CAST(sum(sub_n) AS BIGINT) AS n_tokens,
         |      round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 6) AS s
         |      FROM l1 GROUP BY 1),
         |d2 AS (SELECT source, n_tokens, round(-s / n_tokens, 9) AS loss FROM d),
         |w AS (SELECT source, n_tokens, loss,
         |      round(CAST(n_tokens AS DOUBLE) / total, 9) AS w0,
         |      round(round(CAST(n_tokens AS DOUBLE) / total, 9) * exp(0.1 * loss), 9) AS w_up
         |      FROM d2 CROSS JOIN tot),
         |z AS (SELECT list_reduce(list_sort(list(w_up)), (a, b) -> a + b) AS z FROM w)
         |SELECT source, n_tokens, round(loss, 6) AS loss, round(w0, 6) AS w0,
         |  round(w_up / z, 6) AS w_new FROM w CROSS JOIN z""".stripMargin,

    // Rényi-2 tokenizer efficiency: exact BIGINT Σc², two ln calls on
    // exact integers, 6 dp
    "renyi_efficiency" ->
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1),
         |a AS (SELECT count(*) AS vocab_size, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |      CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq FROM c)
         |SELECT vocab_size, n_tokens, sum_sq,
         |  round(2.0 * ln(CAST(n_tokens AS DOUBLE)) - ln(CAST(sum_sq AS DOUBLE)), 6) AS h2,
         |  CASE WHEN vocab_size > 1
         |    THEN round((2.0 * ln(CAST(n_tokens AS DOUBLE)) - ln(CAST(sum_sq AS DOUBLE)))
         |      / ln(CAST(vocab_size AS DOUBLE)), 6)
         |    ELSE 0.0 END AS efficiency
         |FROM a""".stripMargin,

    // quality-cutoff retention curve on the fixed 10..90 grid
    "quality_threshold_sweep" ->
      s"""WITH s AS (SELECT $qualitySql AS q, CAST(len($toks) AS BIGINT) AS n_toks FROM documents),
         |t AS (SELECT count(*) AS tot_docs, CAST(sum(n_toks) AS BIGINT) AS tot_tokens FROM s),
         |g AS (SELECT q, n_toks, unnest(range(10, 100, 10)) AS t_pct FROM s),
         |k AS (SELECT t_pct, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM g
         |      WHERE q >= CAST(t_pct AS DOUBLE) / 100.0 GROUP BY 1)
         |SELECT CAST(k.t_pct AS BIGINT) AS t_pct, k.n_docs, k.n_tokens,
         |  round(CAST(k.n_docs AS DOUBLE) / t.tot_docs, 6) AS doc_retention,
         |  round(CAST(k.n_tokens AS DOUBLE) / t.tot_tokens, 6) AS token_retention
         |FROM k CROSS JOIN t""".stripMargin,

    // word-boundary blocklist screening; identical RE2-safe alternation
    // on both engines
    "blocklist_filter" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\b(slow|dup|drop|fake|spam)\b')) AS BIGINT) AS n_hits
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_hits,
        |  round(CASE WHEN n_tokens > 0 THEN CAST(n_hits AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS hit_ratio,
        |  (n_hits * 20 <= n_tokens) AS keep
        |FROM b""".stripMargin,

    // distinct-1 / distinct-2 generation-diversity ratios per source;
    // sources that never reach 2 tokens report zero bigram diversity
    "distinct_ngrams" ->
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
         |u AS (SELECT source, count(*) AS n_unigrams,
         |      count(DISTINCT tok) AS n_distinct_unigrams
         |      FROM (SELECT source, unnest(toks) AS tok FROM t) GROUP BY 1),
         |b AS (SELECT source, count(*) AS n_bigrams,
         |      count(DISTINCT bg) AS n_distinct_bigrams
         |      FROM (SELECT source, unnest(list_transform(range(1, len(toks)),
         |            i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |            FROM t WHERE len(toks) >= 2) GROUP BY 1)
         |SELECT u.source,
         |  CAST(u.n_unigrams AS BIGINT) AS n_unigrams,
         |  CAST(u.n_distinct_unigrams AS BIGINT) AS n_distinct_unigrams,
         |  round(CAST(u.n_distinct_unigrams AS DOUBLE) / u.n_unigrams, 6) AS distinct_1,
         |  CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(b.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
         |  coalesce(round(CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 6), 0.0) AS distinct_2
         |FROM u LEFT JOIN b ON b.source = u.source""".stripMargin,

    // pairwise Cohen's kappa between the three cheap raters; po/pe from
    // exact counts at 9 dp, kappa one 6 dp division
    "rater_agreement" ->
      s"""WITH r AS (SELECT
         |  CASE WHEN $qualitySql >= 0.5 THEN 1 ELSE 0 END AS r_quality,
         |  CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS r_length,
         |  CASE WHEN (CASE WHEN length(text) > 0
         |        THEN CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE) / length(text)
         |        ELSE 0.0 END) >= 0.6 THEN 1 ELSE 0 END AS r_alpha
         |  FROM documents),
         |a AS (SELECT count(*) AS n,
         |  CAST(sum(r_quality) AS BIGINT) AS s_q,
         |  CAST(sum(r_length) AS BIGINT) AS s_l,
         |  CAST(sum(r_alpha) AS BIGINT) AS s_a,
         |  CAST(sum(r_quality * r_length) AS BIGINT) AS b_ql,
         |  CAST(sum(r_quality * r_alpha) AS BIGINT) AS b_qa,
         |  CAST(sum(r_length * r_alpha) AS BIGINT) AS b_la FROM r),
         |k AS (SELECT n,
         |  round(CAST(b_ql * 2 + n - s_q - s_l AS DOUBLE) / n, 9) AS po_ql,
         |  round((CAST(s_q AS DOUBLE) / n) * (CAST(s_l AS DOUBLE) / n)
         |    + (1.0 - CAST(s_q AS DOUBLE) / n) * (1.0 - CAST(s_l AS DOUBLE) / n), 9) AS pe_ql,
         |  round(CAST(b_qa * 2 + n - s_q - s_a AS DOUBLE) / n, 9) AS po_qa,
         |  round((CAST(s_q AS DOUBLE) / n) * (CAST(s_a AS DOUBLE) / n)
         |    + (1.0 - CAST(s_q AS DOUBLE) / n) * (1.0 - CAST(s_a AS DOUBLE) / n), 9) AS pe_qa,
         |  round(CAST(b_la * 2 + n - s_l - s_a AS DOUBLE) / n, 9) AS po_la,
         |  round((CAST(s_l AS DOUBLE) / n) * (CAST(s_a AS DOUBLE) / n)
         |    + (1.0 - CAST(s_l AS DOUBLE) / n) * (1.0 - CAST(s_a AS DOUBLE) / n), 9) AS pe_la
         |  FROM a)
         |SELECT pair, po, pe, kappa, n FROM (
         |  SELECT 'quality_vs_length' AS pair, po_ql AS po, pe_ql AS pe,
         |    CASE WHEN pe_ql = 1.0 THEN 0.0 ELSE round((po_ql - pe_ql) / (1.0 - pe_ql), 6) END AS kappa, n FROM k
         |  UNION ALL SELECT 'quality_vs_alpha', po_qa, pe_qa,
         |    CASE WHEN pe_qa = 1.0 THEN 0.0 ELSE round((po_qa - pe_qa) / (1.0 - pe_qa), 6) END, n FROM k
         |  UNION ALL SELECT 'length_vs_alpha', po_la, pe_la,
         |    CASE WHEN pe_la = 1.0 THEN 0.0 ELSE round((po_la - pe_la) / (1.0 - pe_la), 6) END, n FROM k)""".stripMargin,

    // best-of-n rejection sampling: top-2 per (source, lang) pool above
    // the 0.3 acceptance floor, pool size carried alongside
    "rejection_sample" ->
      s"""WITH s AS (SELECT doc_id, source, lang, $qualitySql AS reward FROM documents),
         |p AS (SELECT source, lang, count(*) AS n_candidates FROM s GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source, lang
         |      ORDER BY reward DESC, doc_id) AS rank
         |      FROM s WHERE reward >= 0.3)
         |SELECT r.source, r.lang, CAST(r.rank AS BIGINT) AS rank, r.doc_id,
         |  r.reward, p.n_candidates
         |FROM r JOIN p ON p.source = r.source AND p.lang = r.lang
         |WHERE r.rank <= 2""".stripMargin,

    // topic labels: sign-LSH bucket from the first 4 hashed-embedding
    // dims (same md5-parity formula as doc_embed_hash), top-5 tokens per
    // bucket by two-level sorted-fold TF-IDF mass
    "topic_labels" -> topicLabelsSql,

    "session_histogram" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |w AS (SELECT user_id, event_id, us,
        |      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |f AS (SELECT user_id, event_id, us,
        |      CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS nsf FROM w),
        |s AS (SELECT user_id, us,
        |      CAST(sum(nsf) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f),
        |g AS (SELECT user_id, session_id, min(us) AS a, max(us) AS b, count(*) AS n_events
        |      FROM s GROUP BY 1, 2)
        |SELECT n_events, CAST((b - a) // 60000000 AS BIGINT) AS duration_min,
        |  count(*) AS n_sessions
        |FROM g GROUP BY 1, 2""".stripMargin,

    "customers_no_orders" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name""".stripMargin,

    "user_spend_rank" ->
      """WITH t AS (SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, total_cents,
        |  row_number() OVER (ORDER BY total_cents DESC, user_id) AS rnk,
        |  round(percent_rank() OVER (ORDER BY total_cents DESC, user_id), 6) AS pct_rank,
        |  CAST(ntile(4) OVER (ORDER BY total_cents DESC, user_id) AS BIGINT) AS quartile
        |FROM t""".stripMargin,

    "rollup_stats" ->
      """SELECT lang, source, grouping_id(lang, source) AS gid, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin,

    "pivot_events" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      "SELECT user_id, " + types.map { t =>
        s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS ${t}_n, " +
          s"CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = '$t'), 0) AS BIGINT) AS ${t}_cents"
      }.mkString(", ") + " FROM events GROUP BY user_id"
    },

    // DuckDB's native ASOF JOIN — an independent implementation of the
    // same point-in-time semantics as operators.AsOf's union+window shape.
    // Clicks are pre-deduped to ONE row per (user_id, click_us) on both
    // sides: DuckDB's pick among equal-timestamp right rows is otherwise
    // unspecified, which would make the hash comparison data-dependent.
    "asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us,
        |             min(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, p.us, c.click_event_id, c.click_us,
        |       p.us - c.click_us AS gap_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.us >= c.click_us""".stripMargin,

    // last-touch attribution: ASOF LEFT JOIN keeps no-click purchases
    // ('organic'); exact-cent revenue per time-to-convert bucket
    "attribution_last_touch" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us,
        |             min(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |a AS (SELECT p.us, p.cents, c.click_us
        |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.click_us)
        |SELECT CASE WHEN click_us IS NULL THEN 'organic'
        |            WHEN us - click_us <= 3600000000 THEN 'click_1h'
        |            WHEN us - click_us <= 86400000000 THEN 'click_24h'
        |            ELSE 'click_older' END AS channel_bucket,
        |  count(*) AS n_purchases, CAST(sum(cents) AS BIGINT) AS attributed_cents
        |FROM a GROUP BY 1""".stripMargin,

    // binned two-sample KS statistic over doc-length ECDFs per source pair
    "ks_source_drift" ->
      """WITH b AS (SELECT source, least(n_chars // 100, 100) AS bucket FROM documents),
        |cnt AS (SELECT source, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |grid AS (SELECT s.source, k.bucket
        |  FROM (SELECT DISTINCT source FROM cnt) s
        |  CROSS JOIN (SELECT DISTINCT bucket FROM cnt) k),
        |ecdf AS (SELECT g.source, g.bucket,
        |    round(CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY g.source ORDER BY g.bucket
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.n, 9) AS f, tot.n
        |  FROM grid g LEFT JOIN cnt c ON g.source = c.source AND g.bucket = c.bucket
        |  JOIN tot ON g.source = tot.source)
        |SELECT a.source AS source_a, b2.source AS source_b,
        |  round(max(abs(a.f - b2.f)), 6) AS ks_d,
        |  max(a.n) AS n_a, max(b2.n) AS n_b
        |FROM ecdf a JOIN ecdf b2 ON a.bucket = b2.bucket AND a.source < b2.source
        |GROUP BY 1, 2""".stripMargin,

    // asymmetric containment over the same 3-gram shingles as
    // ngram_jaccard: common/|A| and common/|B|, keep if either >= 0.6
    "containment_pairs" ->
      s"""WITH s AS (SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM (SELECT doc_id, source, $toks AS toks FROM documents)),
         |f AS (SELECT * FROM s WHERE len(sh) > 0),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6) AS containment_ab,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) AS containment_ba
         |  FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) > 0)
         |SELECT a_id, b_id, containment_ab, containment_ba FROM pairs
         |WHERE containment_ab >= 0.6 OR containment_ba >= 0.6""".stripMargin,

    // structural template id: md5 of the token-length skeleton
    "template_docs" ->
      s"""WITH sig AS (SELECT doc_id,
         |  md5(array_to_string(list_transform($toks, t -> CAST(len(t) AS VARCHAR)), ',')) AS template_id
         |  FROM documents),
         |sz AS (SELECT template_id, count(*) AS template_size FROM sig GROUP BY 1)
         |SELECT doc_id, sig.template_id, template_size
         |FROM sig JOIN sz ON sig.template_id = sz.template_id""".stripMargin,

    // acquisition-cohort LTV: cumulative exact cents per cohort age,
    // normalized by FULL cohort size
    "cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cohort AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
        |sizes AS (SELECT cohort_m, count(*) AS cohort_size FROM cohort GROUP BY 1),
        |rev AS (SELECT cohort_m, CAST(o.m - cohort_m AS BIGINT) AS age,
        |    count(DISTINCT o.o_custkey) AS n_active,
        |    CAST(sum(cents) AS BIGINT) AS age_cents
        |  FROM o JOIN cohort ON o.o_custkey = cohort.o_custkey GROUP BY 1, 2),
        |c AS (SELECT CAST(rev.cohort_m AS BIGINT) AS cohort_m, age, cohort_size, n_active,
        |    CAST(sum(age_cents) OVER (PARTITION BY rev.cohort_m ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM rev JOIN sizes ON rev.cohort_m = sizes.cohort_m)
        |SELECT cohort_m, age, cohort_size, n_active, cum_cents,
        |  round(CAST(cum_cents AS DOUBLE) / cohort_size, 6) AS ltv_cents_per_cust
        |FROM c""".stripMargin,

    // rank-uniform quantile normalization of the composite quality score
    "quality_quantile_norm" ->
      s"""WITH s AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         |r AS (SELECT doc_id, quality,
         |  row_number() OVER (ORDER BY quality, doc_id) AS rnk,
         |  count(*) OVER () AS n FROM s)
         |SELECT doc_id, quality, round((rnk - 0.5) / n, 6) AS q_uniform FROM r""".stripMargin,

    // hourly densify + LOCF forward fill per user, exact cents
    "events_gap_fill" ->
      """WITH hourly AS (SELECT user_id, epoch_ns(ts) // 1000 // 3600000000 AS h,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hour_cents
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(min(h), max(h))) AS h
        |  FROM hourly GROUP BY user_id)
        |SELECT g.user_id, g.h,
        |  coalesce(hourly.n_events, 0) AS n_events,
        |  coalesce(last_value(hourly.hour_cents IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.h ROWS UNBOUNDED PRECEDING), 0) AS cents_filled,
        |  CAST(hourly.hour_cents IS NULL AS BIGINT) AS is_gap
        |FROM grid g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h""".stripMargin,

    // market-basket pairs: exact co-occurrence counts + confidence/lift
    "basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pn AS (SELECT l_partkey, count(*) AS n_part FROM items GROUP BY 1),
        |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
        |pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / na.n_part, 6) AS conf_a_b,
        |  round(CAST(n_ab AS DOUBLE) * n_orders / (na.n_part * nb.n_part), 6) AS lift
        |FROM pairs
        |JOIN pn na ON pairs.part_a = na.l_partkey
        |JOIN pn nb ON pairs.part_b = nb.l_partkey
        |CROSS JOIN no""".stripMargin,

    // linear attribution: equal integer-cent split across 24h-lookback
    // clicks, remainder to the earliest touch; revenue by click hour
    "attribution_linear" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us,
        |             min(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |t AS (SELECT p.event_id, p.cents, c.click_us, c.click_event_id
        |      FROM p JOIN c ON p.user_id = c.user_id
        |       AND c.click_us <= p.us AND c.click_us > p.us - 86400000000),
        |r AS (SELECT event_id, cents, click_us,
        |        count(*) OVER (PARTITION BY event_id) AS n_touch,
        |        row_number() OVER (PARTITION BY event_id ORDER BY click_us, click_event_id) AS tr
        |      FROM t)
        |SELECT (click_us // 3600000000) % 24 AS click_hour,
        |  count(*) AS n_touches,
        |  CAST(sum(cents // n_touch + CASE WHEN tr = 1 THEN cents % n_touch ELSE 0 END) AS BIGINT) AS attributed_cents
        |FROM r GROUP BY 1""".stripMargin,

    // forward twin: DuckDB ASOF flips direction with <=
    "asof_join_forward" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us,
        |             min(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, p.us, c.click_event_id, c.click_us,
        |       c.click_us - p.us AS gap_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.us <= c.click_us""".stripMargin,

    // rank-frequency log-log OLS: 9dp ln terms, sorted folds
    "zipf_slope" ->
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM c),
         |t AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
         |             round(ln(CAST(cnt AS DOUBLE)), 9) AS y FROM r),
         |s AS (SELECT count(*) AS n_tokens,
         |  list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sx,
         |  list_reduce(list_sort(list(y)), (a, b) -> a + b) AS sy,
         |  list_reduce(list_sort(list(round(x * y, 9))), (a, b) -> a + b) AS sxy,
         |  list_reduce(list_sort(list(round(x * x, 9))), (a, b) -> a + b) AS sxx
         |  FROM t)
         |SELECT n_tokens,
         |  round((n_tokens * sxy - sx * sy) / (n_tokens * sxx - sx * sx), 6) AS slope,
         |  round((sy * sxx - sx * sxy) / (n_tokens * sxx - sx * sx), 6) AS intercept
         |FROM s WHERE n_tokens > 1""".stripMargin,

    "kn_bigram" ->
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
         |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM b GROUP BY 1, 2),
         |h AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_w1, count(*) AS n_follow
         |      FROM cb GROUP BY 1),
         |c AS (SELECT w2, count(*) AS n_precede FROM cb GROUP BY 1),
         |ty AS (SELECT count(*) AS n_types FROM cb)
         |SELECT cb.w1, cb.w2, cb.c_bigram, h.c_w1,
         |  round(greatest(CAST(c_bigram AS DOUBLE) - 0.75, 0.0) / c_w1
         |        + 0.75 * n_follow / c_w1 * n_precede / n_types, 6) AS p_kn
         |FROM cb JOIN h USING (w1) JOIN c USING (w2) CROSS JOIN ty""".stripMargin,

    "matryoshka_recall" ->
      s"""WITH bf AS ($annTopkSql),
         |tq AS (SELECT vec_id AS q_id, embedding[1:16] AS q_emb FROM embeddings WHERE vec_id < 10),
         |tc AS (SELECT vec_id AS n_id, embedding[1:16] AS n_emb FROM embeddings),
         |tscored AS (SELECT q_id, n_id,
         |  round(list_reduce(list_transform(tq.q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(tc.n_emb[i] AS DOUBLE)), (a, b) -> a + b)
         |    / (sqrt(list_reduce(list_transform(tq.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
         |       * sqrt(list_reduce(list_transform(tc.n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))), 6) AS cos
         |  FROM tq JOIN tc ON q_id <> n_id),
         |tranked AS (SELECT q_id, n_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM tscored),
         |tr AS (SELECT q_id, n_id FROM tranked WHERE rnk <= 5),
         |hits AS (SELECT bf.q_id, count(*) AS n_hits FROM bf
         |         JOIN tr ON bf.q_id = tr.q_id AND bf.n_id = tr.n_id GROUP BY 1),
         |qs AS (SELECT DISTINCT q_id FROM bf)
         |SELECT q_id, coalesce(n_hits, 0) AS n_hits,
         |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 5, 6) AS recall
         |FROM qs LEFT JOIN hits USING (q_id)""".stripMargin,

    "pack_efficiency" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, len($toks)::BIGINT AS n_tokens FROM documents),
         |p AS (SELECT doc_id, shard, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix_tokens
         |  FROM t),
         |b AS (SELECT shard, n_tokens, CAST(floor(prefix_tokens / 256) AS BIGINT) AS bin FROM p)
         |SELECT shard, count(*)::BIGINT AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(max(bin) + 1 AS BIGINT) AS n_bins,
         |  round(sum(n_tokens)::DOUBLE / ((max(bin) + 1) * 256), 6) AS fill_frac
         |FROM b GROUP BY shard""".stripMargin,

    "quality_drift" ->
      s"""WITH s AS (SELECT source, least(CAST(floor($qualitySql * 20) AS INT), 19) AS bin
         |  FROM documents),
         |ps AS (SELECT source, bin, count(*) AS c FROM s GROUP BY 1, 2),
         |st AS (SELECT source, count(*) AS n_docs FROM s GROUP BY 1),
         |g AS (SELECT bin, count(*) AS gc FROM s GROUP BY 1),
         |gt AS (SELECT count(*) AS gn FROM s),
         |grid AS (SELECT st.source, st.n_docs, b.bin
         |  FROM st CROSS JOIN (SELECT unnest(range(0, 20)) AS bin) b),
         |j AS (SELECT grid.source, grid.n_docs, grid.bin,
         |  coalesce(ps.c, 0) AS c, coalesce(g.gc, 0) AS gc, gt.gn
         |  FROM grid LEFT JOIN ps ON grid.source = ps.source AND grid.bin = ps.bin
         |  LEFT JOIN g ON grid.bin = g.bin CROSS JOIN gt),
         |f AS (SELECT source, n_docs,
         |  CAST(sum(c) OVER (PARTITION BY source ORDER BY bin) AS DOUBLE) / n_docs AS fs,
         |  CAST(sum(gc) OVER (PARTITION BY source ORDER BY bin) AS DOUBLE) / gn AS fg
         |  FROM j)
         |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
         |  round(max(abs(fs - fg)), 6) AS ks_d
         |FROM f GROUP BY source""".stripMargin,

    "simhash_det" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM t),
         |bs AS (SELECT doc_id, j,
         |  sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS j) GROUP BY doc_id, j),
         |fp AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bs GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, q, (simhash >> (q * 8)) & 255 AS key
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS q)),
         |p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  a.simhash AS afp, b.simhash AS bfp
         |  FROM blk a JOIN blk b ON a.q = b.q AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, CAST(bit_count(xor(afp, bfp)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(afp, bfp)) <= 3""".stripMargin,

    "sentiment_lexicon" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |c AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  len(list_filter(toks, t -> t IN ('good','great','love','happy','best',
         |    'awesome','excellent','nice','amazing','wonderful','like','win')))::BIGINT AS n_pos,
         |  len(list_filter(toks, t -> t IN ('bad','hate','worst','sad','terrible',
         |    'awful','horrible','angry','poor','wrong','lose','fail')))::BIGINT AS n_neg
         |  FROM t)
         |SELECT doc_id, n_tokens, n_pos, n_neg,
         |  round((n_pos - n_neg)::DOUBLE / nullif(n_tokens, 0), 6) AS polarity
         |FROM c""".stripMargin,

    "cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) > 0),
         |wb AS (SELECT doc_id, toks,
         |  list_concat(list_concat([CAST(0 AS BIGINT)], bpos),
         |    CASE WHEN len(bpos) = 0 OR bpos[-1] <> len(toks)
         |         THEN [CAST(len(toks) AS BIGINT)] ELSE [] END) AS bounds
         |  FROM (SELECT doc_id, toks,
         |    list_filter(range(8, len(toks) + 1), p ->
         |      ('0x' || substr(md5(array_to_string(toks[p-7:p], ' ')), 1, 8))::BIGINT % 16 = 0)
         |      AS bpos FROM t)),
         |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  CAST(bounds[i] AS BIGINT) AS start_tok,
         |  CAST(bounds[i + 1] - bounds[i] AS BIGINT) AS chunk_len,
         |  md5(array_to_string(toks[bounds[i] + 1:bounds[i + 1]], ' ')) AS chunk_hash
         |  FROM (SELECT doc_id, toks, bounds, unnest(range(1, len(bounds))) AS i FROM wb))
         |SELECT doc_id, chunk_id, start_tok, chunk_len, chunk_hash,
         |  count(*) OVER (PARTITION BY chunk_hash) AS n_copies
         |FROM ch""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE p AS ($embedNearDup),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS id, least(src, min(dst)) AS component
         |         FROM reach GROUP BY src),
         |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY cluster_size""".stripMargin,

    "dedup_survivorship" ->
      s"""WITH k AS (SELECT source,
         |  (doc_id = min(doc_id) OVER (PARTITION BY md5($clean))) AS kept
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS retention
         |FROM k GROUP BY source""".stripMargin,

    "minhash_band_tune" ->
      """WITH g AS (SELECT i // 19 AS i, i % 19 + 1 AS j FROM generate_series(0, 151) t(i)),
        |c AS (SELECT CAST(pow(2, i) AS BIGINT) AS rows_per_band,
        |             (128 // CAST(pow(2, i) AS BIGINT))::BIGINT AS bands,
        |             j / 20.0 AS sim FROM g)
        |SELECT rows_per_band, bands, round(sim, 6) AS sim,
        |  round(1 - pow(1 - pow(sim, rows_per_band), bands), 6) AS p_detect,
        |  round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS s_threshold
        |FROM c""".stripMargin,

    "corpus_shuffle" ->
      """SELECT row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS ord,
        |       doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS skey
        |FROM documents""".stripMargin,

    // Efraimidis–Spirakis priority sample: ln's argument is a power-of-two
    // division of an exact 60-bit integer (bit-identical doubles both
    // sides); skey rounded 6 dp BEFORE ranking, ties broken by doc_id
    "weighted_sample" ->
      """SELECT doc_id, n_chars, skey FROM (
        |  SELECT doc_id, n_chars,
        |    round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS DOUBLE)
        |        / CAST(1152921504606846976 AS DOUBLE))
        |      / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS skey
        |  FROM documents)
        |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,

    "shard_balance" ->
      """WITH per AS (
        |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS shard,
        |         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |               CAST(sum(sum_chars) AS BIGINT) AS t_chars FROM per)
        |SELECT shard, n_docs, sum_chars,
        |  round(CAST(n_docs AS DOUBLE) * 64 / CAST(t_docs AS DOUBLE) - CAST(1.0 AS DOUBLE), 6) AS skew_docs,
        |  round(CAST(sum_chars AS DOUBLE) * 64 / CAST(t_chars AS DOUBLE) - CAST(1.0 AS DOUBLE), 6) AS skew_chars
        |FROM per CROSS JOIN tot""".stripMargin,

    "curriculum_order" ->
      """SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS ord, doc_id, n_chars
        |FROM documents""".stripMargin,

    // stride positions (i - 0.5)/weight use exactly-rounded IEEE division
    // (bit-identical both sides); ties across sources resolved by
    // (source, doc_id) so the global order is total
    "mixture_epoch" ->
      """WITH r AS (SELECT doc_id, source,
        |    CASE WHEN CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 2 = 0
        |         THEN CAST(3.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS weight,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS ord_src
        |  FROM documents),
        |p AS (SELECT doc_id, source, ord_src,
        |    (CAST(ord_src AS DOUBLE) - CAST(0.5 AS DOUBLE)) / weight AS pos FROM r)
        |SELECT row_number() OVER (ORDER BY pos, source, doc_id) AS epoch_pos,
        |  doc_id, source, ord_src, round(pos, 6) AS pos
        |FROM p""".stripMargin,

    // sweep grid explodes over the bounded near-dup PAIR frame; the
    // t/100 compare is exactly-rounded IEEE division on both sides
    "dedup_threshold_sweep" ->
      s"""WITH s AS (SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM (SELECT doc_id, source, $toks AS toks FROM documents)),
         |f AS (SELECT * FROM s WHERE len(sh) > 0),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
         |  FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id),
         |fl AS (SELECT * FROM pairs WHERE jaccard >= 0.1),
         |g AS (SELECT t_pct, unnest([a_id, b_id]) AS d
         |      FROM fl CROSS JOIN (SELECT unnest(range(10, 100, 10)) AS t_pct)
         |      WHERE jaccard >= CAST(t_pct AS DOUBLE) / CAST(100.0 AS DOUBLE))
         |SELECT CAST(t_pct AS BIGINT) AS t_pct,
         |  CAST(count(*) / 2 AS BIGINT) AS n_pairs,
         |  count(DISTINCT d) AS n_docs
         |FROM g GROUP BY 1""".stripMargin,

    "k_anonymity" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket, count(*) AS n_docs
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 5""".stripMargin,

    // text -> hashed embedding -> exact cosine top-k; zero-norm vectors
    // filtered on both sides so no NaN cosine reaches the compare
    "text_ann" ->
      s"""WITH t AS ($tfidf),
         |c0 AS (SELECT doc_id, CAST(dim AS BIGINT) AS dim,
         |      round(tfidf * CASE WHEN ('0x' || substr(md5(token), dim, 1))::BIGINT % 2 = 0
         |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END, 9) AS c
         |      FROM t CROSS JOIN (SELECT unnest(range(1, 17)) AS dim)),
         |vv AS (SELECT doc_id, dim, CAST(round(sum(CAST(c AS DECIMAL(38,9))), 6) AS DOUBLE) AS v
         |      FROM c0 GROUP BY 1, 2),
         |e AS (SELECT doc_id, list(v ORDER BY dim) AS e FROM vv GROUP BY doc_id),
         |f AS (SELECT * FROM e WHERE list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b) > 0),
         |q AS (SELECT doc_id AS q_id, e AS q_e FROM f WHERE doc_id < 10),
         |scored AS (SELECT q_id, f.doc_id AS n_id,
         |  round(list_reduce(list_transform(q_e, (x, i) -> x * f.e[i]), (a, b) -> a + b)
         |    / (sqrt(list_reduce(list_transform(q_e, x -> x * x), (a, b) -> a + b))
         |       * sqrt(list_reduce(list_transform(f.e, x -> x * x), (a, b) -> a + b))), 6) AS cos
         |  FROM q JOIN f ON q_id <> f.doc_id),
         |ranked AS (SELECT q_id, n_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin,

    // sign-random projection of the tf-idf vector: sign d = parity of
    // hex digit d of ONE md5(token); contributions rounded 9 dp, summed
    // exactly in DECIMAL(38,9) (order-independent, mirrors the Spark agg)
    "doc_embed_hash" ->
      s"""WITH t AS ($tfidf),
         |c AS (SELECT doc_id, CAST(dim AS BIGINT) AS dim,
         |      round(tfidf * CASE WHEN ('0x' || substr(md5(token), dim, 1))::BIGINT % 2 = 0
         |            THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END, 9) AS c
         |      FROM t CROSS JOIN (SELECT unnest(range(1, 17)) AS dim))
         |SELECT doc_id, dim, CAST(round(sum(CAST(c AS DECIMAL(38,9))), 6) AS DOUBLE) AS v
         |FROM c GROUP BY 1, 2""".stripMargin,

    // flags coalesced exactly as the Spark side (NULL text => short/
    // quality reject, rep/dup pass); only-counts and rates from one agg
    "filter_attrition" -> {
      val flagAgg = Seq(
        ("short_n", "f_short"), ("short_only", "f_short AND NOT f_quality AND NOT f_rep AND NOT f_dup"),
        ("quality_n", "f_quality"), ("quality_only", "f_quality AND NOT f_short AND NOT f_rep AND NOT f_dup"),
        ("rep_n", "f_rep"), ("rep_only", "f_rep AND NOT f_short AND NOT f_quality AND NOT f_dup"),
        ("dup_n", "f_dup"), ("dup_only", "f_dup AND NOT f_short AND NOT f_quality AND NOT f_rep"),
        ("any_n", "f_short OR f_quality OR f_rep OR f_dup"))
        .map { case (alias, cond) =>
          s"CAST(coalesce(sum(CASE WHEN $cond THEN 1 ELSE 0 END), 0) AS BIGINT) AS $alias"
        }.mkString(",\n    ")
      val rows = Seq(("short", "short_n", "short_only"), ("quality", "quality_n", "quality_only"),
        ("repetition", "rep_n", "rep_only"), ("duplicate", "dup_n", "dup_only"),
        ("any", "any_n", "any_n"))
        .map { case (name, nCol, onlyCol) =>
          s"SELECT '$name' AS filter, $nCol AS n_fail, $onlyCol AS n_fail_only, " +
            s"round(CAST($nCol AS DOUBLE) / nullif(n_docs, 0), 6) AS fail_rate FROM a"
        }.mkString("\n  UNION ALL ")
      s"""WITH f0 AS (SELECT doc_id, n_chars, $qualitySql AS q,
         |    CAST(len($toks) AS DOUBLE) / CAST(nullif(len(list_distinct($toks)), 0) AS DOUBLE) AS rep,
         |    md5($clean) AS ch FROM documents),
         |f1 AS (SELECT *, doc_id <> min(doc_id) OVER (PARTITION BY ch) AS f_dup FROM f0),
         |fl AS (SELECT
         |    coalesce(n_chars < 100, true) AS f_short,
         |    coalesce(q < CAST(0.3 AS DOUBLE), true) AS f_quality,
         |    coalesce(rep > CAST(3.0 AS DOUBLE), false) AS f_rep,
         |    coalesce(f_dup, false) AS f_dup FROM f1),
         |a AS (SELECT count(*) AS n_docs,
         |    $flagAgg
         |  FROM fl)
         |SELECT filter, n_fail, n_fail_only, fail_rate FROM (
         |  $rows)""".stripMargin
    },

    // every stat is an exact integer aggregate with at most one final
    // division — partition-independent with no float summation
    "corpus_summary" ->
      s"""WITH d AS (SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars FROM documents),
         |tk AS (SELECT unnest($toks) AS token FROM documents),
         |cnt AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
         |t AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_tokens,
         |      count(*) AS n_token_types FROM cnt),
         |hd AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS head_cnt
         |       FROM (SELECT cnt FROM cnt ORDER BY cnt DESC, token LIMIT 10)),
         |h AS (SELECT count(DISTINCT md5($clean)) AS n_hashes FROM documents),
         |j AS (SELECT * FROM d CROSS JOIN t CROSS JOIN hd CROSS JOIN h)
         |SELECT stat, value FROM (
         |  SELECT 'n_docs' AS stat, CAST(n_docs AS DOUBLE) AS value FROM j
         |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM j
         |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM j
         |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM j
         |  UNION ALL SELECT 'n_token_types', CAST(n_token_types AS DOUBLE) FROM j
         |  UNION ALL SELECT 'max_chars', CAST(max_chars AS DOUBLE) FROM j
         |  UNION ALL SELECT 'min_chars', CAST(min_chars AS DOUBLE) FROM j
         |  UNION ALL SELECT 'mean_doc_tokens',
         |    round(CAST(n_tokens AS DOUBLE) / nullif(n_docs, 0), 6) FROM j
         |  UNION ALL SELECT 'exact_dup_rate',
         |    round(CAST(1.0 AS DOUBLE) - CAST(n_hashes AS DOUBLE) / nullif(n_docs, 0), 6) FROM j
         |  UNION ALL SELECT 'head10_coverage',
         |    round(CAST(head_cnt AS DOUBLE) / nullif(n_tokens, 0), 6) FROM j)""".stripMargin,

    // head vocab cut is total (count DESC, token ASC) so the rank-topN
    // boundary tie resolves identically on both sides
    "doc_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |cnt AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         |vocab AS (SELECT token FROM cnt ORDER BY cnt DESC, token LIMIT 10),
         |j AS (SELECT doc_id,
         |      CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END AS oov FROM t)
         |SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
         |  round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         |FROM j GROUP BY doc_id""".stripMargin,

    // train-split add-0.5 bigram LM scores the test split; LEFT JOINs
    // coalesce unseen counts to 0 (smoothing stays defined), logp
    // pre-rounded per row, per-doc sums fold over sorted lists
    "heldout_perplexity" ->
      s"""WITH tk AS (SELECT doc_id,
         |      CASE WHEN doc_id % 4 < 3 THEN 'train' ELSE 'test' END AS split,
         |      $toks AS toks FROM documents),
         |b AS (SELECT doc_id, split, toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT doc_id, split, toks, unnest(range(1, len(toks))) AS i
         |            FROM tk WHERE len(toks) >= 2)),
         |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM b WHERE split = 'train' GROUP BY 1, 2),
         |cw AS (SELECT w1, count(*) AS c_w1 FROM b WHERE split = 'train' GROUP BY 1),
         |v AS (SELECT count(DISTINCT token) AS v
         |      FROM (SELECT unnest(toks) AS token FROM tk WHERE split = 'train')),
         |x AS (SELECT doc_id,
         |      round(ln((CAST(coalesce(c_bigram, 0) AS DOUBLE) + 0.5)
         |        / (CAST(coalesce(c_w1, 0) AS DOUBLE) + 0.5 * v)), 6) AS logp,
         |      CASE WHEN coalesce(c_bigram, 0) = 0 THEN 1 ELSE 0 END AS oov
         |      FROM b LEFT JOIN cb USING (w1, w2) LEFT JOIN cw USING (w1) CROSS JOIN v
         |      WHERE split = 'test'),
         |g AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(oov) AS BIGINT) AS n_oov,
         |      round(list_reduce(list_sort(list(logp)), (a, b) -> a + b), 6) AS sum_logp
         |      FROM x GROUP BY 1)
         |SELECT doc_id, n_bigrams, n_oov, sum_logp, round(-sum_logp / n_bigrams, 6) AS nll
         |FROM g""".stripMargin,

    "token_fertility" ->
      """WITH p AS (SELECT lang,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))::BIGINT AS w,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS b,
        |  length(text)::BIGINT AS c FROM documents)
        |SELECT lang, CAST(sum(w) AS BIGINT) AS ws_words, CAST(sum(b) AS BIGINT) AS bpe_tokens,
        |  CAST(sum(c) AS BIGINT) AS chars,
        |  round(sum(b)::DOUBLE / nullif(sum(w), 0), 6) AS fertility,
        |  round(sum(c)::DOUBLE / nullif(sum(b), 0), 6) AS chars_per_token
        |FROM p GROUP BY lang""".stripMargin,

    "stratified_sample" ->
      """SELECT doc_id, lang, source, n_chars, bucket FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < 25""".stripMargin,

    "inverted_index" ->
      ("SELECT token, count(*) AS df, " +
        "array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings " +
        s"FROM (SELECT DISTINCT doc_id, token FROM $tokTable) GROUP BY token"),

    "repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |base AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  len(list_distinct(toks))::BIGINT AS n_distinct,
         |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bigrams FROM t),
         |e AS (SELECT doc_id, unnest(bigrams) AS bg FROM base),
         |c AS (SELECT doc_id, bg, count(*) AS c FROM e GROUP BY 1, 2),
         |m AS (SELECT doc_id, max(c) AS top_bigram_n FROM c GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens, b.n_distinct,
         |  round(CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS distinct_ratio,
         |  CAST(coalesce(m.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
         |  round(CASE WHEN n_tokens > 1 THEN CAST(coalesce(m.top_bigram_n, 0) AS DOUBLE) / (n_tokens - 1) ELSE 0.0 END, 6) AS top_bigram_frac
         |FROM base b LEFT JOIN m USING (doc_id)""".stripMargin,

    "gopher_filter" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |b AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  round(CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) ELSE 0.0 END, 6) AS mean_tok_len,
         |  len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it')))::BIGINT AS stop_count
         |FROM t)
         |SELECT doc_id, n_tokens, mean_tok_len, stop_count,
         |  n_tokens >= 5 AND n_tokens <= 1000 AS ok_len,
         |  mean_tok_len >= 2.0 AND mean_tok_len <= 12.0 AS ok_mean_len,
         |  stop_count >= 1 AS ok_stop,
         |  (n_tokens >= 5 AND n_tokens <= 1000) AND (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0) AND stop_count >= 1 AS kept
         |FROM b""".stripMargin,

    // two-level bit-stable fold (Folds.scala): sorted fold per vec_id%1024
    // sub-bucket, then sorted fold of the sub-totals
    "embed_centroids" ->
      """WITH x AS (SELECT label, vec_id % 1024 AS sb, i AS dim, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT label, vec_id, unnest(embedding) AS x,
        |        unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
        |s AS (SELECT label, dim, sb, count(*) AS sub_n,
        |      list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sub_s
        |      FROM x GROUP BY 1, 2, 3)
        |SELECT label, dim, CAST(sum(sub_n) AS BIGINT) AS n_vecs,
        |  round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b) / sum(sub_n), 6) AS centroid
        |FROM s GROUP BY 1, 2""".stripMargin,

    "sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, len($toks)::BIGINT AS n_tokens FROM documents),
         |p AS (SELECT doc_id, shard, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix_tokens
         |  FROM t)
         |SELECT doc_id, shard, n_tokens, prefix_tokens,
         |  CAST(floor(prefix_tokens / 256) AS BIGINT) AS bin FROM p""".stripMargin,

    "vocab_build" ->
      (s"WITH d AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM $tokTable) GROUP BY token) " +
        "SELECT token, df, CASE WHEN df >= 2 THEN row_number() OVER (ORDER BY df DESC, token) ELSE 0 END AS vocab_id FROM d"),

    "top_tokens_per_lang" ->
      s"""WITH c AS (SELECT lang, token, count(*) AS cnt
         |  FROM (SELECT lang, unnest($toks) AS token FROM documents) GROUP BY 1, 2),
         |r AS (SELECT lang, token, cnt,
         |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rnk FROM c)
         |SELECT lang, token, rnk, cnt FROM r WHERE rnk <= 5""".stripMargin,

    // sparse TF-IDF cosine join: same sorted-fold arithmetic as the Spark
    // side, pairs only through shared tokens within a source block
    "doc_similarity" ->
      s"""WITH t AS ($tfidf),
         |w AS (SELECT t.doc_id, d.source AS blk, t.token, t.tfidf FROM t JOIN documents d USING (doc_id)),
         |n AS (SELECT doc_id, sqrt(list_reduce(list_sort(list(tfidf * tfidf)), (a, b) -> a + b)) AS nrm FROM w GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |      list_reduce(list(a.tfidf * b.tfidf ORDER BY a.token), (x, y) -> x + y) AS dot
         |      FROM w a JOIN w b ON a.blk = b.blk AND a.token = b.token AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS cos
         |FROM p JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
         |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.8""".stripMargin,

    // prefix-filtered twin: candidates via rare tokens (df <= N/2), exact
    // rescore over FULL vectors — same arithmetic as doc_similarity.
    // Adaptive bypass mirrors the Spark side: when rare tokens carry less
    // than 5% of all postings (dense vocabulary) the gate would gut
    // recall while saving nothing, so it widens to every token
    // (candidates = the unpruned shared-token pair set — what the Spark
    // side produces there via its block-pair plan).
    "doc_similarity_pruned" ->
      s"""WITH t AS ($tfidf),
         |w AS (SELECT t.doc_id, d.source AS blk, t.token, t.tfidf FROM t JOIN documents d USING (doc_id)),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |dfs AS (SELECT token, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
         |sel AS (SELECT CAST(sum(CASE WHEN df <= n_docs * 0.5 THEN df ELSE 0 END) AS DOUBLE)
         |          / sum(df) AS rare_frac FROM dfs CROSS JOIN nd),
         |rare AS (SELECT token FROM dfs CROSS JOIN nd CROSS JOIN sel
         |         WHERE df <= n_docs * 0.5 OR rare_frac < 0.05),
         |rw AS (SELECT w.* FROM w JOIN rare USING (token)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM rw a JOIN rw b ON a.blk = b.blk AND a.token = b.token AND a.doc_id < b.doc_id),
         |n AS (SELECT doc_id, sqrt(list_reduce(list_sort(list(tfidf * tfidf)), (a, b) -> a + b)) AS nrm FROM w GROUP BY doc_id),
         |p AS (SELECT c.a_id, c.b_id, list_reduce(list(wa.tfidf * wb.tfidf ORDER BY wa.token), (x, y) -> x + y) AS dot
         |      FROM cand c JOIN w wa ON wa.doc_id = c.a_id
         |      JOIN w wb ON wb.doc_id = c.b_id AND wb.token = wa.token
         |      GROUP BY 1, 2)
         |SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS cos
         |FROM p JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
         |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.8""".stripMargin,

    "ann_ivf" -> annIvfSql,

    // recall@5 of the bucketed ANN against the exact top-k — both sides
    // re-derived from the same oracle CTEs, so the recall is exact
    "ann_recall" ->
      s"""WITH bf AS ($annTopkSql),
         |iv AS ($annIvfSql),
         |hits AS (SELECT bf.q_id, count(*) AS n_hits FROM bf
         |         JOIN iv ON bf.q_id = iv.q_id AND bf.n_id = iv.n_id GROUP BY 1),
         |qs AS (SELECT DISTINCT q_id FROM bf)
         |SELECT q_id, coalesce(n_hits, 0) AS n_hits,
         |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 5, 6) AS recall
         |FROM qs LEFT JOIN hits USING (q_id)""".stripMargin,

    // string-shingle twin of the hashed-shingle Spark implementation:
    // identical jaccard values as long as xxhash64 is collision-free over
    // the per-document shingle sets (astronomically likely)
    "ngram_jaccard" ->
      s"""WITH s AS (SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM (SELECT doc_id, source, $toks AS toks FROM documents)),
         |f AS (SELECT * FROM s WHERE len(sh) > 0),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
         |  FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= 0.3""".stripMargin,

    "csv_ingest" ->
      (s"SELECT * FROM read_csv('${graft.SparkEntry.resourceDir}/tweets_sample.csv', " +
        "header = true, all_varchar = true)"),

    "json_ingest" ->
      s"""SELECT doc_id, lang, text, meta.author AS author, meta.year AS year,
        |  coalesce(array_to_string(tags, ','), '') AS tags_csv, len(tags)::BIGINT AS n_tags
        |FROM read_json('${graft.SparkEntry.resourceDir}/docs_sample.jsonl',
        |  format = 'newline_delimited',
        |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |             meta: 'STRUCT(author VARCHAR, year BIGINT)', tags: 'VARCHAR[]'})""".stripMargin,

    // DuckDB has no ORC reader: the oracle replays the SAME rows from the
    // Avro ingest: cross-format twin of orc_ingest — DuckDB has no Avro
    // reader, so the oracle replays the same rows from the JSONL source
    "avro_ingest" ->
      s"""SELECT doc_id, lang, text, meta.author AS author, meta.year AS year,
        |  coalesce(array_to_string(tags, ','), '') AS tags_csv, len(tags)::BIGINT AS n_tags
        |FROM read_json('${graft.SparkEntry.resourceDir}/docs_sample.jsonl',
        |  format = 'newline_delimited',
        |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |             meta: 'STRUCT(author VARCHAR, year BIGINT)', tags: 'VARCHAR[]'})""".stripMargin,

    // JSONL twin, making orc_ingest a cross-format consistency check
    "orc_ingest" ->
      s"""SELECT doc_id, lang, text, meta.author AS author, meta.year AS year,
        |  coalesce(array_to_string(tags, ','), '') AS tags_csv, len(tags)::BIGINT AS n_tags
        |FROM read_json('${graft.SparkEntry.resourceDir}/docs_sample.jsonl',
        |  format = 'newline_delimited',
        |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |             meta: 'STRUCT(author VARCHAR, year BIGINT)', tags: 'VARCHAR[]'})""".stripMargin,

    // each event belongs to exactly 2 of the 30-min-sliding 1h windows:
    // the one starting at its own 30-min slot and the previous slot
    "events_sliding" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS us, event_type,
        |                  CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |s AS (SELECT us, event_type, v,
        |      unnest([us - us % 1800000000 - 1800000000, us - us % 1800000000]) AS ws FROM e)
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
        |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS sum_value_cents
        |FROM s GROUP BY 1, 2""".stripMargin,

    "events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "customers_with_orders" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name""".stripMargin,

    "cube_stats" ->
      """SELECT lang, source, grouping_id(lang, source) AS gid, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY CUBE(lang, source)""".stripMargin,

    "events_rolling" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |                  CAST(round(value * 100) AS BIGINT) AS v_cents FROM events)
        |SELECT event_id, user_id, us,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(v_cents) OVER w AS BIGINT) AS cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "props_extract" -> {
      // TRY_CAST, not CAST: from_json on the Spark side degrades a
      // mistyped k to NULL; a plain CAST would hard-error in DuckDB on
      // the one input class the operator advertises it tolerates
      val k = "TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)"
      s"""SELECT event_type, count(*) AS n_events,
         |  CAST(sum($k) AS BIGINT) AS sum_k, min($k) AS min_k, max($k) AS max_k,
         |  round(avg($k), 6) AS avg_k
         |FROM events GROUP BY event_type""".stripMargin
    },

    // VariantType path over the same props JSON: missing/mistyped keys
    // degrade to NULL (n_missing), stats match the from_json twin
    "props_variant" -> {
      // TRY_CAST mirrors try_variant_get's NULL degradation on mistyped k
      val k = "TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)"
      s"""SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CASE WHEN $k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
         |  CAST(sum($k) AS BIGINT) AS sum_k, min($k) AS min_k, max($k) AS max_k,
         |  round(avg($k), 6) AS avg_k
         |FROM events GROUP BY event_type""".stripMargin
    },

    // DSv2 generator-table ingest: the same md5 formula over range()
    "hashgen_ingest" ->
      """SELECT i AS id, md5(CAST(i AS VARCHAR)) AS doc,
        |  (['aa', 'bb', 'cc', 'dd', 'ee'])[CAST(i % 5 AS INT) + 1] AS lang
        |FROM range(100, 900) t(i)""".stripMargin,

    // plain BETWEEN join — the declarative twin of Relational.rangeJoin's
    // two-bin bucketed shape; same pairs by construction
    "range_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_event_id, user_id, epoch_ns(ts) // 1000 AS click_us
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.us, c.click_event_id, c.click_us,
        |       p.us - c.click_us AS gap_us
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_us >= p.us - 1800000000 AND c.click_us <= p.us""".stripMargin,

    // binned interval OVERLAP join: per-user daily activity intervals ×
    // 48 synthetic 90-min campaign windows striding 7h from the corpus
    // epoch (2024-01-01T00:00:00Z in micros); exact overlap duration
    "interval_join" ->
      """WITH a AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |                  min(epoch_ns(ts) // 1000) AS a_start,
        |                  max(epoch_ns(ts) // 1000) AS a_end
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT i AS window_id,
        |             1704067200000000 + i * 25200000000 AS w_start,
        |             1704067200000000 + i * 25200000000 + 5400000000 AS w_end
        |      FROM (SELECT unnest(range(48)) AS i))
        |SELECT user_id, day, window_id,
        |  least(a_end, w_end) - greatest(a_start, w_start) AS overlap_us
        |FROM a JOIN w ON a_start <= w_end AND w_start <= a_end""".stripMargin,

    "quality_filter" ->
      s"""WITH q AS (SELECT doc_id, lang, $qualitySql AS quality FROM documents),
         |r AS (SELECT doc_id, lang, quality,
         |      round(percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id), 6) AS pct_rank
         |      FROM q)
         |SELECT doc_id, lang, quality, pct_rank FROM r WHERE pct_rank <= 0.5""".stripMargin,

    // B297: greedy-by-quality prefix under a 10k-token budget; the
    // running sum is monotone in rank, so cum <= budget IS the prefix
    "token_budget_select" ->
      s"""WITH s AS (SELECT doc_id, $qualitySql AS quality,
         |           CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |r AS (SELECT doc_id, quality, n_tokens,
         |      row_number() OVER (ORDER BY quality DESC, doc_id) AS sel_rank,
         |      sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM s)
         |SELECT doc_id, quality, n_tokens, CAST(sel_rank AS BIGINT) AS sel_rank,
         |  CAST(cum AS BIGINT) AS cum_tokens
         |FROM r WHERE cum <= 10000""".stripMargin,

    // B298: the knapsack-density order — quality per token, 9 dp, zero-
    // token docs at density 0
    "token_budget_density" ->
      s"""WITH s AS (SELECT doc_id, $qualitySql AS quality,
         |           CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |d AS (SELECT doc_id, quality, n_tokens,
         |      CASE WHEN n_tokens > 0 THEN round(quality / n_tokens, 9)
         |           ELSE 0.0 END AS density FROM s),
         |r AS (SELECT doc_id, quality, n_tokens, density,
         |      row_number() OVER (ORDER BY density DESC, doc_id) AS sel_rank,
         |      sum(n_tokens) OVER (ORDER BY density DESC, doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM d)
         |SELECT doc_id, quality, n_tokens, density,
         |  CAST(sel_rank AS BIGINT) AS sel_rank, CAST(cum AS BIGINT) AS cum_tokens
         |FROM r WHERE cum <= 10000""".stripMargin,

    // B299: MRL truncation fidelity — cosine over the deterministic
    // (even, successor) pairs at full vs 32-dim prefix width; list_reduce
    // replays the native expression's array-order double accumulation;
    // DuckDB x/0 → NULL matches the Spark NaN→NULL guard
    "embed_truncation_fidelity" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding AS ea FROM embeddings WHERE vec_id % 2 = 0),
        |b AS (SELECT vec_id - 1 AS a_id, embedding AS eb FROM embeddings),
        |p AS (SELECT a_id, a_id + 1 AS b_id,
        |  round(list_reduce(list_transform(ea, (x, i) -> CAST(x AS DOUBLE) * CAST(eb[i] AS DOUBLE)), (s, q) -> s + q)
        |    / (sqrt(list_reduce(list_transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, q) -> s + q))
        |       * sqrt(list_reduce(list_transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, q) -> s + q))), 6) AS cos_full,
        |  round(list_reduce(list_transform(list_slice(ea, 1, 32), (x, i) -> CAST(x AS DOUBLE) * CAST(list_slice(eb, 1, 32)[i] AS DOUBLE)), (s, q) -> s + q)
        |    / (sqrt(list_reduce(list_transform(list_slice(ea, 1, 32), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, q) -> s + q))
        |       * sqrt(list_reduce(list_transform(list_slice(eb, 1, 32), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, q) -> s + q))), 6) AS cos_prefix
        |  FROM a JOIN b USING (a_id))
        |SELECT a_id, b_id, cos_full, cos_prefix,
        |  round(abs(cos_full - cos_prefix), 6) AS abs_delta FROM p""".stripMargin,

    // B300: the four richness statistics from integer spectrum aggregates;
    // Honoré's R is NULL where V1 = V (log-divergent), zero-token docs
    // keep zeroed rows via the left join
    "lexical_richness" ->
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS m
         |  FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |sp AS (SELECT doc_id,
         |  CAST(sum(m) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1_hapax,
         |  CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2_dis,
         |  CAST(sum(m * m) AS BIGINT) AS m2_sum
         |  FROM tf GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(n_tokens, 0) AS n_tokens,
         |  coalesce(vocab, 0) AS vocab,
         |  coalesce(v1_hapax, 0) AS v1_hapax,
         |  coalesce(v2_dis, 0) AS v2_dis,
         |  CASE WHEN coalesce(n_tokens, 0) > 0
         |    THEN round(CAST(vocab AS DOUBLE) / n_tokens, 6) ELSE 0.0 END AS ttr,
         |  CASE WHEN coalesce(n_tokens, 0) > 0
         |    THEN round(10000.0 * (m2_sum - n_tokens) / (n_tokens * n_tokens), 6)
         |    ELSE 0.0 END AS yule_k,
         |  CASE WHEN coalesce(n_tokens, 0) > 0 AND v1_hapax < vocab
         |    THEN round(100.0 * ln(CAST(n_tokens AS DOUBLE))
         |         / (1.0 - CAST(v1_hapax AS DOUBLE) / vocab), 6)
         |    ELSE NULL END AS honore_r,
         |  CASE WHEN coalesce(vocab, 0) > 0
         |    THEN round(CAST(v2_dis AS DOUBLE) / vocab, 6) ELSE 0.0 END AS sichel_s
         |FROM documents d LEFT JOIN sp USING (doc_id)""".stripMargin,

    // B301: each token joins its <=25 covering windows, exact distinct
    // per (doc, window), 9 dp per-window TTR, sorted-fold mean
    "mattr" ->
      s"""WITH g AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)
         |  WHERE len(toks) >= 25),
         |p AS (SELECT doc_id, n, i, toks[i] AS tok
         |      FROM (SELECT doc_id, toks, n, unnest(range(1, n + 1)) AS i FROM g)),
         |cv AS (SELECT doc_id, tok,
         |       unnest(range(greatest(1, i - 24), least(i, n - 24) + 1)) AS s
         |       FROM p),
         |pw AS (SELECT doc_id, s,
         |       round(CAST(count(DISTINCT tok) AS DOUBLE) / 25, 9) AS ttr_w
         |       FROM cv GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |       round(list_reduce(list_sort(list(ttr_w)), (a, b) -> a + b), 9) AS sum_ttr
         |       FROM pw GROUP BY 1),
         |v AS (SELECT doc_id, n AS n_tokens,
         |      CAST(len(list_distinct(toks)) AS BIGINT) AS vocab FROM g)
         |SELECT doc_id, n_tokens, n_windows,
         |  round(sum_ttr / n_windows, 6) AS mattr,
         |  round(CAST(vocab AS DOUBLE) / n_tokens, 6) AS ttr
         |FROM pd JOIN v USING (doc_id)""".stripMargin,

    // B302: 3 HITS rounds on the DIRECTED bigram graph, L-inf normalized
    // (max of 9 dp-rounded values — exactly partial-aggregatable);
    // per-edge products round 9 dp, per-node sums fold sorted
    "hits_scores" -> {
      val iters = (1 to 3).map { k =>
        s"""ar$k AS (SELECT dst AS token,
           |  round(list_reduce(list_sort(list(round(w * h, 9))), (x, y) -> x + y), 9) AS ar
           |  FROM e JOIN h${k - 1} ON e.src = h${k - 1}.token GROUP BY dst),
           |am$k AS (SELECT max(ar) AS m FROM ar$k),
           |a$k AS (SELECT token, round(ar / m, 9) AS a FROM ar$k CROSS JOIN am$k),
           |hr$k AS (SELECT src AS token,
           |  round(list_reduce(list_sort(list(round(w * a, 9))), (x, y) -> x + y), 9) AS hr
           |  FROM e JOIN a$k ON e.dst = a$k.token GROUP BY src),
           |hm$k AS (SELECT max(hr) AS m FROM hr$k),
           |h$k AS (SELECT token, round(hr / m, 9) AS h FROM hr$k CROSS JOIN hm$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT toks[i] AS src, toks[i + 1] AS dst
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM b GROUP BY 1, 2),
         |nodes AS (SELECT src AS token FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT token, CAST(1.0 AS DOUBLE) AS h FROM nodes),
         |$iters
         |SELECT n.token, coalesce(h3.h, 0.0) AS hub, coalesce(a3.a, 0.0) AS authority
         |FROM nodes n LEFT JOIN h3 ON n.token = h3.token
         |LEFT JOIN a3 ON n.token = a3.token""".stripMargin
    },

    // B303: bigram-draft vs trigram-target greedy agreement on held-out
    // trigram contexts; both argmax tables tie-break (count desc, token
    // asc) so the window rank replays exactly
    "speculative_accept" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |  CASE WHEN doc_id % 4 < 3 THEN 'train' ELSE 'test' END AS split,
         |  $toks AS toks FROM documents),
         |bi AS (SELECT doc_id, lang, split, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, lang, split, toks, unnest(range(1, len(toks))) AS i
         |        FROM tk WHERE len(toks) >= 2)),
         |tri AS (SELECT doc_id, lang, split,
         |  toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
         |  FROM (SELECT doc_id, lang, split, toks, unnest(range(1, len(toks) - 1)) AS i
         |        FROM tk WHERE len(toks) >= 3)),
         |draft AS (SELECT w2, nxt AS draft_next FROM (
         |  SELECT w1 AS w2, w2 AS nxt, count(*) AS c,
         |    row_number() OVER (PARTITION BY w1 ORDER BY count(*) DESC, w2) AS rn
         |  FROM bi WHERE split = 'train' GROUP BY w1, w2) WHERE rn = 1),
         |tgt AS (SELECT w1, w2, w3 AS target_next FROM (
         |  SELECT w1, w2, w3, count(*) AS c,
         |    row_number() OVER (PARTITION BY w1, w2 ORDER BY count(*) DESC, w3) AS rn
         |  FROM tri WHERE split = 'train' GROUP BY w1, w2, w3) WHERE rn = 1)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_positions,
         |  CAST(sum(CASE WHEN target_next IS NOT NULL AND draft_next IS NOT NULL
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
         |  CAST(sum(CASE WHEN target_next IS NOT NULL AND draft_next = target_next
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
         |  CASE WHEN sum(CASE WHEN target_next IS NOT NULL AND draft_next IS NOT NULL
         |                     THEN 1 ELSE 0 END) > 0
         |    THEN round(CAST(sum(CASE WHEN target_next IS NOT NULL
         |                             AND draft_next = target_next
         |                             THEN 1 ELSE 0 END) AS DOUBLE)
         |         / sum(CASE WHEN target_next IS NOT NULL AND draft_next IS NOT NULL
         |               THEN 1 ELSE 0 END), 6)
         |    ELSE 0.0 END AS accept_rate
         |FROM tri LEFT JOIN tgt USING (w1, w2) LEFT JOIN draft USING (w2)
         |WHERE split = 'test' GROUP BY lang""".stripMargin,

    // C269: the observe side-channel replays as one plain aggregate scan
    "observed_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(text) >= 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_len,
        |  CAST(sum(n_chars) AS BIGINT) AS tot_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CASE WHEN count(*) > 0 THEN
        |    round(CAST(sum(CASE WHEN length(text) >= 20 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*), 6) ELSE 0.0 END AS pass_ratio
        |FROM documents""".stripMargin,

    // B304: 5 Sinkhorn rounds; every divide rounds 9 dp, every marginal
    // folds sorted, so the SQL replay is bit-exact
    "sinkhorn_balance" -> {
      val steps = (1 to 5).map { k =>
        s"""rs$k AS (SELECT lang,
           |  round(list_reduce(list_sort(list(w)), (a, b) -> a + b), 9) AS rs
           |  FROM w${k - 1} GROUP BY lang),
           |rn$k AS (SELECT lang, source, n_docs, bb, kk, round(w / rs / bb, 9) AS w
           |  FROM w${k - 1} JOIN rs$k USING (lang)),
           |cs$k AS (SELECT source,
           |  round(list_reduce(list_sort(list(w)), (a, b) -> a + b), 9) AS cs
           |  FROM rn$k GROUP BY source),
           |w$k AS (SELECT lang, source, n_docs, bb, kk, round(w / cs / kk, 9) AS w
           |  FROM rn$k JOIN cs$k USING (source))""".stripMargin
      }.mkString(",\n")
      s"""WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1, 2),
         |dims AS (SELECT count(DISTINCT lang) AS bb, count(DISTINCT source) AS kk
         |  FROM cells),
         |w0 AS (SELECT lang, source, n_docs, bb, kk, CAST(n_docs AS DOUBLE) AS w
         |  FROM cells CROSS JOIN dims),
         |$steps
         |SELECT lang, source, n_docs, round(w, 6) AS balanced_w FROM w5""".stripMargin
    },

    // B305: |ECDF_lang - ECDF_corpus| summed over the bounded bucket
    // grid — exact-integer cumsums divided once, 9 dp terms, sorted fold
    "wasserstein_length" ->
      """WITH b AS (SELECT lang, least(n_chars // 100, 100) AS bucket FROM documents),
        |cnt AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM cnt GROUP BY 1),
        |corp AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS c_all FROM cnt GROUP BY 1),
        |na AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM corp),
        |fc AS (SELECT bucket,
        |  round(CAST(sum(c_all) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |    AS DOUBLE) / n_all, 9) AS f_all FROM corp CROSS JOIN na),
        |grid AS (SELECT l.lang, k.bucket
        |  FROM (SELECT DISTINCT lang FROM cnt) l
        |  CROSS JOIN (SELECT DISTINCT bucket FROM cnt) k),
        |e AS (SELECT g.lang, g.bucket, coalesce(c, 0) AS c FROM grid g
        |  LEFT JOIN cnt ON g.lang = cnt.lang AND g.bucket = cnt.bucket),
        |f AS (SELECT e.lang, e.bucket,
        |  round(CAST(sum(c) OVER (PARTITION BY e.lang ORDER BY e.bucket
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_l, 9) AS f_l, n_l
        |  FROM e JOIN tot ON e.lang = tot.lang)
        |SELECT f.lang, max(n_l) AS n_docs,
        |  round(list_reduce(list_sort(list(round(abs(f_l - f_all), 9))),
        |    (a, b) -> a + b), 6) AS w1_buckets,
        |  CAST(100 AS BIGINT) AS bucket_width
        |FROM f JOIN fc ON f.bucket = fc.bucket GROUP BY f.lang""".stripMargin,

    // B306: complete-block Friedman over (lang block, source treatment)
    // cell mean quality (the sum re-rounded to 6 dp before it divides);
    // average ranks on ties, tie-corrected statistic
    "friedman_test" ->
      s"""WITH cm AS (SELECT lang, source,
         |  round(round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 6)
         |    / sum(sub_n), 6) AS mean_q
         |  FROM (SELECT lang, source, doc_id % 1024 AS sb,
         |        CAST(count(*) AS BIGINT) AS sub_n,
         |        round(list_reduce(list_sort(list(q)), (a, b) -> a + b), 9) AS sub_s
         |        FROM (SELECT lang, source, doc_id, $qualitySql AS q FROM documents)
         |        GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         |nl AS (SELECT count(DISTINCT lang) AS b FROM cm),
         |comp AS (SELECT source FROM cm CROSS JOIN nl
         |         GROUP BY source, b HAVING count(*) = b),
         |kept AS (SELECT cm.* FROM cm JOIN comp USING (source)),
         |rk AS (SELECT lang, source, mean_q,
         |  rank() OVER (PARTITION BY lang ORDER BY mean_q DESC) AS min_rank,
         |  count(*) OVER (PARTITION BY lang, mean_q) AS ties
         |  FROM kept),
         |ar AS (SELECT lang, source, mean_q,
         |  CAST(min_rank AS DOUBLE) + (ties - 1) / 2.0 AS avg_rank, ties FROM rk),
         |rj AS (SELECT source, sum(avg_rank) AS r_j, CAST(count(*) AS BIGINT) AS b
         |       FROM ar GROUP BY source),
         |tt AS (SELECT coalesce(CAST(sum(ties * ties * ties - ties) AS BIGINT), 0)
         |         AS tie_sum
         |       FROM (SELECT DISTINCT lang, mean_q, ties FROM ar)),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS k, max(b) AS b,
         |       sum(r_j * r_j) AS r2_sum FROM rj)
         |SELECT b AS b_blocks, k AS k_treatments, k - 1 AS df,
         |  round(12.0 / (b * k * (k + 1)) * r2_sum - 3.0 * b * (k + 1), 6) AS chi2_f,
         |  round(CASE WHEN 1.0 - CAST(tie_sum AS DOUBLE) / (b * k * (k * k - 1)) > 0
         |    THEN (12.0 / (b * k * (k + 1)) * r2_sum - 3.0 * b * (k + 1))
         |         / (1.0 - CAST(tie_sum AS DOUBLE) / (b * k * (k * k - 1)))
         |    ELSE NULL END, 6) AS chi2_corrected
         |FROM st CROSS JOIN tt WHERE k >= 2""".stripMargin,

    "mixture_sample" ->
      """SELECT doc_id, source, bucket, rate FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8))::BIGINT % 100 AS bucket,
        |    CAST(CASE WHEN CAST(regexp_extract(source, '\d+', 0) AS BIGINT) % 2 = 0
        |         THEN 75 ELSE 25 END AS BIGINT) AS rate
        |  FROM documents)
        |WHERE bucket < rate""".stripMargin,

    // integer log2 via binary-digit count, immune to float rounding at
    // exact powers of two (mirrors TextOps.tokenHistogram)
    "token_histogram" ->
      (s"WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY token) " +
        "SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS bucket, " +
        "count(*) AS n_tokens, CAST(sum(cnt) AS BIGINT) AS n_occurrences " +
        "FROM c GROUP BY 1"),

    "pii_redact" -> {
      import graft.operators.TextOps.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH s1 AS (SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_emails,
         |  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS t1 FROM documents),
         |s2 AS (SELECT doc_id, n_emails,
         |  len(regexp_extract_all(t1, '$Ipv4Re'))::BIGINT AS n_ips,
         |  regexp_replace(t1, '$Ipv4Re', '<IP>', 'g') AS t2 FROM s1)
         |SELECT doc_id, regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g') AS redacted,
         |  n_emails, n_ips,
         |  len(regexp_extract_all(t2, '$PhoneRe'))::BIGINT AS n_phones
         |FROM s2""".stripMargin
    },

    // BM25 with k1=1.5, b=0.75 — both constants exactly representable in
    // binary AND decimal, so DuckDB's decimal literals convert to the
    // identical doubles Scala uses; explicit DOUBLE casts force float
    // division where DuckDB would otherwise do decimal arithmetic
    // md5-derived MinHash permutations: sig_i = min md5('i:'||token); 2
    // bands of 8 sigs (S-curve threshold (1/2)^(1/8) ≈ 0.92); candidates
    // share a whole band; exact Jaccard gate
    "minhash_lsh" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |da AS (SELECT doc_id, list_sort(list(token)) AS arr, count(*) AS n FROM dt GROUP BY 1)
         |SELECT a_id, b_id, jac FROM (
         |  SELECT c.a_id, c.b_id,
         |    round(CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE)
         |      / CAST(sa.n + sb.n - len(list_intersect(sa.arr, sb.arr)) AS DOUBLE), 6) AS jac
         |  FROM cand c JOIN da sa ON sa.doc_id = c.a_id JOIN da sb ON sb.doc_id = c.b_id)
         |WHERE jac >= 0.9""".stripMargin,

    "minhash_calibration" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |da AS (SELECT doc_id, list_sort(list(token)) AS arr, count(*) AS n FROM dt GROUP BY 1),
         |est AS (SELECT c.a_id, c.b_id,
         |  round(CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS minhash_est
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
         |  JOIN sig sb ON sb.doc_id = c.b_id AND sa.i = sb.i
         |  GROUP BY c.a_id, c.b_id),
         |j AS (SELECT c.a_id, c.b_id,
         |  round(CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE)
         |    / CAST(sa.n + sb.n - len(list_intersect(sa.arr, sb.arr)) AS DOUBLE), 6) AS jaccard
         |  FROM cand c JOIN da sa ON sa.doc_id = c.a_id JOIN da sb ON sb.doc_id = c.b_id)
         |SELECT e.a_id, e.b_id, e.minhash_est, j.jaccard,
         |  round(abs(e.minhash_est - j.jaccard), 6) AS abs_err
         |FROM est e JOIN j ON e.a_id = j.a_id AND e.b_id = j.b_id""".stripMargin,

    // sign-LSH buckets as deterministic clusters; keeper = max cosine to
    // the bucket's dim-wise mean centroid (sorted-fold means, index-order
    // dots), ties on vec_id
    "semantic_dedup" ->
      """WITH b AS (SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM embeddings),
        |cd1 AS (SELECT bucket, i, vec_id % 1024 AS sb, count(*) AS sub_n,
        |       list_reduce(list_sort(list(CAST(x AS DOUBLE))), (p, q) -> p + q) AS sub_s
        |       FROM (SELECT bucket, vec_id, unnest(embedding) AS x,
        |             unnest(range(1, len(embedding) + 1)) AS i FROM b)
        |       GROUP BY bucket, i, sb),
        |cd AS (SELECT bucket, i,
        |       round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 6) AS c
        |       FROM cd1 GROUP BY bucket, i),
        |cent AS (SELECT bucket, list(c ORDER BY i) AS centroid FROM cd GROUP BY bucket),
        |sc AS (SELECT b.bucket, b.vec_id,
        |  round(list_reduce(list_transform(b.embedding, (x, i) -> CAST(x AS DOUBLE) * centroid[i]), (p, q) -> p + q)
        |    / (sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))
        |       * sqrt(list_reduce(list_transform(centroid, x -> x * x), (p, q) -> p + q))), 6) AS cos_centroid
        |  FROM b JOIN cent USING (bucket)),
        |n AS (SELECT bucket, count(*) AS n_vecs FROM b GROUP BY 1)
        |SELECT s.bucket, s.vec_id AS keeper_id, n.n_vecs, s.cos_centroid
        |FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY cos_centroid DESC, vec_id) AS rn FROM sc) s
        |JOIN n USING (bucket) WHERE s.rn = 1""".stripMargin,

    // DSIR log-likelihood ratio: add-1-smoothed target (lang='en') vs
    // corpus unigram LMs; tf*ln(ratio) rounded 6 dp, sorted-fold per doc
    "importance_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
         |g AS (SELECT token, count(*) AS c_g FROM t GROUP BY 1),
         |tg AS (SELECT token, count(*) AS c_t FROM t WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_g) AS BIGINT) AS tot_g, count(*) AS v FROM g),
         |tt AS (SELECT CAST(coalesce(sum(c_t), 0) AS BIGINT) AS tot_t FROM tg),
         |lm AS (SELECT g.token, g.c_g, coalesce(tg.c_t, 0) AS c_t, tot_g, v, tot_t
         |       FROM g LEFT JOIN tg USING (token) CROSS JOIN tot CROSS JOIN tt),
         |x AS (SELECT tf.doc_id, tf.tf,
         |      round(tf.tf * ln(((CAST(c_t AS DOUBLE) + 1) / CAST(tot_t + v AS DOUBLE))
         |        / ((CAST(c_g AS DOUBLE) + 1) / CAST(tot_g + v AS DOUBLE))), 6) AS contrib
         |      FROM tf JOIN lm USING (token))
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(list_reduce(list_sort(list(contrib)), (p, q) -> p + q), 6) AS log_ratio
         |FROM x GROUP BY doc_id""".stripMargin,

    // winnowing: md5 3-token shingles in order, window-4 minima, distinct
    "winnow_fingerprint" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 6),
         |sh AS (SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS n_sh, i AS pos,
         |       md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |wm AS (SELECT doc_id, n_sh, pos,
         |       min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |       FROM sh),
         |f AS (SELECT doc_id, n_sh, m FROM wm WHERE pos <= n_sh - 4 + 1)
         |SELECT doc_id, CAST(max(n_sh) AS BIGINT) AS n_shingles,
         |  CAST(count(DISTINCT m) AS BIGINT) AS n_fingerprints,
         |  md5(array_to_string(list_sort(list(DISTINCT m)), '|')) AS digest
         |FROM f GROUP BY doc_id""".stripMargin,

    // add-0.5 smoothed bigram conditional log-probs; one ln per row,
    // rounded 6 dp, never summed
    "bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
         |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM b GROUP BY 1, 2),
         |cw AS (SELECT w1, count(*) AS c_w1 FROM b GROUP BY 1),
         |v AS (SELECT count(DISTINCT token) AS v FROM $tokTable)
         |SELECT cb.w1, cb.w2, cb.c_bigram, cw.c_w1,
         |  round(ln((CAST(c_bigram AS DOUBLE) + 0.5) / (CAST(c_w1 AS DOUBLE) + 0.5 * v)), 6) AS logp
         |FROM cb JOIN cw USING (w1) CROSS JOIN v""".stripMargin,

    // per-doc NLL under the self-trained bigram LM — every observed
    // bigram has an LM row, so the inner join loses nothing; logp terms
    // pre-rounded in the LM, per-doc sums fold over sorted lists
    "doc_perplexity" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
         |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM b GROUP BY 1, 2),
         |cw AS (SELECT w1, count(*) AS c_w1 FROM b GROUP BY 1),
         |v AS (SELECT count(DISTINCT token) AS v FROM $tokTable),
         |lm AS (SELECT cb.w1, cb.w2,
         |       round(ln((CAST(c_bigram AS DOUBLE) + 0.5) / (CAST(c_w1 AS DOUBLE) + 0.5 * v)), 6) AS logp
         |       FROM cb JOIN cw USING (w1) CROSS JOIN v),
         |x AS (SELECT doc_id, logp FROM b JOIN lm USING (w1, w2)),
         |g AS (SELECT doc_id, count(*) AS n_bigrams,
         |      round(list_reduce(list_sort(list(logp)), (a, b) -> a + b), 6) AS sum_logp
         |      FROM x GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_logp, round(-sum_logp / n_bigrams, 6) AS nll FROM g""".stripMargin,

    // 5 unrolled PageRank iterations over the undirected token
    // co-occurrence graph; per-edge contributions round to 9 dp, per-node
    // sums fold over sorted lists, damping arithmetic forced to DOUBLE
    // (DuckDB would otherwise compute 1.0 - 0.85 in exact decimal — Spark
    // computes it in binary doubles)
    "token_pagerank" -> {
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT dst AS token,
           |  round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
           |    + round(list_reduce(list_sort(list(round(CAST(0.85 AS DOUBLE) * r * w / outw, 9))), (a, b) -> a + b), 9), 9) AS r
           |  FROM ew JOIN r${k - 1} ON ew.src = r${k - 1}.token CROSS JOIN nn GROUP BY dst, n)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT toks[i] AS src, toks[i + 1] AS dst
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
         |u AS (SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b),
         |e AS (SELECT src, dst, count(*) AS w FROM u GROUP BY 1, 2),
         |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
         |ew AS (SELECT e.src, e.dst, e.w, o.outw FROM e JOIN o USING (src)),
         |nn AS (SELECT count(DISTINCT src) AS n FROM e),
         |r0 AS (SELECT src AS token, CAST(1.0 AS DOUBLE) / n AS r
         |       FROM (SELECT DISTINCT src FROM e) CROSS JOIN nn),
         |$iters
         |SELECT token, r AS rank FROM r5""".stripMargin
    },

    // MinHash band candidates (same construction as minhash_lsh) gated by
    // exact Levenshtein over the cleaned (ASCII-only) text
    "edit_distance_pairs" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |c AS (SELECT doc_id, $clean AS clean FROM documents)
         |SELECT a_id, b_id, lev, max_len, norm_lev FROM (
         |  SELECT a_id, b_id, lev, max_len,
         |    round(CAST(lev AS DOUBLE) / max_len, 6) AS norm_lev
         |  FROM (SELECT a_id, b_id,
         |      CAST(levenshtein(ca.clean, cb.clean) AS BIGINT) AS lev,
         |      CAST(greatest(length(ca.clean), length(cb.clean)) AS BIGINT) AS max_len
         |    FROM cand JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id))
         |WHERE norm_lev <= 0.3""".stripMargin,

    // trailing-20 z-score: count/sum/sum-of-squares as exact longs in one
    // ROWS frame; mean/variance derive with the same expression order on
    // both engines, so the doubles agree bitwise
    "events_anomaly" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
        |w AS (SELECT event_id, user_id, us, v_cents,
        |  count(*) OVER win AS n_prev,
        |  CAST(sum(v_cents) OVER win AS BIGINT) AS s,
        |  CAST(sum(v_cents * v_cents) OVER win AS BIGINT) AS ss
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT event_id, user_id, us, v_cents, n_prev,
        |      CAST(s AS DOUBLE) / n_prev AS mean_c,
        |      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_prev) / n_prev AS var_c
        |      FROM w WHERE n_prev >= 5),
        |z AS (SELECT event_id, user_id, us, v_cents, n_prev,
        |      round((CAST(v_cents AS DOUBLE) - mean_c) / sqrt(var_c), 6) AS z
        |      FROM f WHERE var_c > 0)
        |SELECT event_id, user_id, us, v_cents, n_prev, z FROM z
        |WHERE abs(z) >= 3.0""".stripMargin,

    // strictly-sequenced funnel: each stage's min is conditional on the
    // previous stage's timestamp; missing stages coalesce to -1
    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us >= view_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us >= click_us GROUP BY 1)
        |SELECT v.user_id, view_us,
        |  coalesce(click_us, -1) AS click_us,
        |  coalesce(purchase_us, -1) AS purchase_us,
        |  CAST(CASE WHEN purchase_us IS NOT NULL THEN 3
        |            WHEN click_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,

    // Monday-truncated weeks; offsets are exact integer day arithmetic
    "cohort_retention" ->
      """WITH ew AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
        |f AS (SELECT user_id, min(w) AS cw FROM ew GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, w FROM ew)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        |  CAST(datediff('day', cw, w) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    // per-source ECDF over (quality, doc_id) — every row a distinct frame
    // position, so cume_dist ties are deterministic
    "quality_calibration" ->
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents)
         |SELECT doc_id, source, quality,
         |  round(cume_dist() OVER (PARTITION BY source ORDER BY quality, doc_id), 6) AS quality_pct
         |FROM q""".stripMargin,

    // winnowed-fingerprint inverted index (same construction as
    // winnow_fingerprint), df-capped, pairs sharing >= 2 minima
    "winnow_pairs" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 6),
         |sh AS (SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS n_sh, i AS pos,
         |       md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |wm AS (SELECT doc_id, n_sh, pos,
         |       min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
         |       FROM sh),
         |fp AS (SELECT DISTINCT doc_id, m FROM wm WHERE pos <= n_sh - 4 + 1),
         |rare AS (SELECT m FROM (SELECT m, count(*) AS df FROM fp GROUP BY 1) WHERE df <= 50),
         |keep AS (SELECT doc_id, m FROM fp JOIN rare USING (m))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         |FROM keep a JOIN keep b ON a.m = b.m AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // dim-wise mean/std from the two-level fold (Folds.scala: sorted fold
    // per vec_id%1024 sub-bucket, then of the sub-totals); per-vec summary
    // over the 6 dp-rounded z values keeps the verified output vector-sized
    "embed_standardize" ->
      """WITH xd AS (SELECT vec_id, CAST(dim AS BIGINT) AS dim, CAST(xf AS DOUBLE) AS x
        |  FROM (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
        |        unnest(embedding) AS xf FROM embeddings)),
        |st0 AS (SELECT dim, vec_id % 1024 AS sb, count(*) AS sub_n,
        |       list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sub_s,
        |       list_reduce(list_sort(list(x * x)), (a, b) -> a + b) AS sub_ss
        |       FROM xd GROUP BY 1, 2),
        |st AS (SELECT dim, sum(sub_n) AS n,
        |       list_reduce(list_sort(list(sub_s)), (a, b) -> a + b) AS s,
        |       list_reduce(list_sort(list(sub_ss)), (a, b) -> a + b) AS ss
        |       FROM st0 GROUP BY 1),
        |sd AS (SELECT dim, s / n AS mean, sqrt(ss / n - (s / n) * (s / n)) AS std FROM st),
        |z AS (SELECT vec_id, round((x - mean) / std, 6) AS z
        |      FROM xd JOIN sd USING (dim) WHERE std > 0)
        |SELECT vec_id, count(*) AS n_dims,
        |  round(list_reduce(list_sort(list(z)), (a, b) -> a + b), 6) AS z_sum,
        |  round(sqrt(list_reduce(list_sort(list(z * z)), (a, b) -> a + b)), 6) AS z_norm
        |FROM z GROUP BY 1""".stripMargin,

    // per-doc share of distinct 8-grams with corpus df = 1
    "ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, g FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
         |         i -> array_to_string(toks[i:i+7], ' '))) AS g
         |  FROM t WHERE len(toks) >= 8)),
         |df AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
         |FROM g JOIN df USING (g) GROUP BY 1""".stripMargin,

    // 3-shingle Jaccard between source pairs via the inverted join
    "source_overlap" ->
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
         |ss AS (SELECT DISTINCT source, g FROM (
         |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
         |         i -> array_to_string(toks[i:i+2], ' '))) AS g
         |  FROM t WHERE len(toks) >= 3)),
         |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
         |sh AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |  FROM ss a JOIN ss b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared, na.n AS n_a, nb.n AS n_b,
         |  round(CAST(n_shared AS DOUBLE) / CAST(na.n + nb.n - n_shared AS DOUBLE), 6) AS jaccard
         |FROM sh JOIN sz na ON na.source = src_a JOIN sz nb ON nb.source = src_b""".stripMargin,

    // 5 unrolled power-iteration rounds over the (mirrored) 8x8
    // covariance matrix; products round 9 dp, sums fold sorted, one
    // norm division per round — mirrors Similarity.pcaPower exactly
    "pca_power" -> {
      val rounds = (1 to 5).map { k =>
        s"""w$k AS (SELECT dim_i AS dim,
           |  round(list_reduce(list_sort(list(round(cov * v, 9))), (a, b) -> a + b), 9) AS w
           |  FROM cf JOIN v${k - 1} ON cf.dim_j = v${k - 1}.dim GROUP BY dim_i),
           |n$k AS (SELECT round(sqrt(list_reduce(list_sort(list(w * w)), (a, b) -> a + b)), 9) AS nrm FROM w$k),
           |v$k AS (SELECT dim, round(w / nrm, 9) AS v, nrm AS eig FROM w$k CROSS JOIN n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
         |      CAST(embedding[i] AS DOUBLE) AS x, CAST(embedding[j] AS DOUBLE) AS y
         |      FROM embeddings, range(1, 9) r1(i), range(1, 9) r2(j) WHERE j >= i),
         |cu AS (SELECT dim_i, dim_j,
         |  round(list_reduce(list_sort(list(x * y)), (a, b) -> a + b) / count(*)
         |    - (list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(*))
         |    * (list_reduce(list_sort(list(y)), (a, b) -> a + b) / count(*)), 6) AS cov
         |  FROM p GROUP BY dim_i, dim_j),
         |cf AS (SELECT dim_i, dim_j, cov FROM cu
         |       UNION ALL
         |       SELECT dim_j AS dim_i, dim_i AS dim_j, cov FROM cu WHERE dim_i <> dim_j),
         |v0 AS (SELECT CAST(i AS BIGINT) AS dim,
         |       CAST(1.0 AS DOUBLE) / sqrt(CAST(8.0 AS DOUBLE)) AS v FROM range(1, 9) r(i)),
         |$rounds
         |SELECT dim, v AS loading, eig FROM v5""".stripMargin
    },

    "context_target_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 2)
         |SELECT doc_id, CAST(p AS BIGINT) AS p,
         |  array_to_string(toks[greatest(1, p - 8) : p - 1], ' ') AS context,
         |  toks[p] AS target
         |FROM (SELECT doc_id, toks, unnest(range(2, len(toks) + 1)) AS p FROM t)""".stripMargin,

    // md5 coin on (doc_id, 1-based position) < '4' => 25% mask rate
    "span_corruption" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         |SELECT doc_id,
         |  array_to_string(list_transform(toks, (tk, i) ->
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) < '4'
         |         THEN '<X>' ELSE tk END), ' ') AS corrupted,
         |  coalesce(array_to_string(list_filter(list_transform(toks, (tk, i) ->
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) < '4'
         |         THEN CAST(i AS VARCHAR) || ':' || tk END), x -> x IS NOT NULL), ' '), '') AS targets,
         |  CAST(len(list_filter(toks, (tk, i) ->
         |    substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) < '4')) AS BIGINT) AS n_masked
         |FROM t""".stripMargin,

    "balanced_sample" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('bs:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin,

    // text profiles its LENGTH (raw unicode min/max would hang on
    // collation differences between engines)
    "table_profile" ->
      """WITH a AS (SELECT count(*) AS n_rows FROM documents)
        |SELECT 'doc_id' AS "column", n_rows, count(doc_id) AS n_nonnull,
        |  count(DISTINCT doc_id) AS n_distinct,
        |  CAST(min(doc_id) AS VARCHAR) AS min_val, CAST(max(doc_id) AS VARCHAR) AS max_val
        |FROM documents, a GROUP BY n_rows
        |UNION ALL
        |SELECT 'lang', n_rows, count(lang), count(DISTINCT lang),
        |  CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |FROM documents, a GROUP BY n_rows
        |UNION ALL
        |SELECT 'source', n_rows, count(source), count(DISTINCT source),
        |  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents, a GROUP BY n_rows
        |UNION ALL
        |SELECT 'n_chars', n_rows, count(n_chars), count(DISTINCT n_chars),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents, a GROUP BY n_rows
        |UNION ALL
        |SELECT 'text', n_rows, count(text), count(DISTINCT length(text)),
        |  CAST(min(length(text)) AS VARCHAR), CAST(max(length(text)) AS VARCHAR)
        |FROM documents, a GROUP BY n_rows""".stripMargin,

    // JL sign projection: s_ij from md5("j:i") first hex digit; 9 dp
    // contributions fold sorted per output dim, one √k division
    "random_projection" ->
      """WITH x AS (SELECT vec_id, CAST(i AS BIGINT) AS i, CAST(xf AS DOUBLE) AS x
        |  FROM (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |        unnest(embedding) AS xf FROM embeddings)),
        |c AS (SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  (CASE WHEN substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) < '8'
        |   THEN 1.0 ELSE -1.0 END) * x AS c
        |  FROM x CROSS JOIN range(1, 17) r(j))
        |SELECT vec_id, j,
        |  round(list_reduce(list_sort(list(c)), (a, b) -> a + b) / sqrt(CAST(16.0 AS DOUBLE)), 9) AS y
        |FROM c GROUP BY 1, 2""".stripMargin,

    // deterministic Lloyd's k-means: init = vec_id < 4, three unrolled
    // rounds; distances fold the dim axis in index order (9 dp), ties
    // break on cluster id, centroid means fold sorted lists
    "kmeans_lloyd" -> {
      def assign(c: String, a: String) =
        s"""$a AS (SELECT vec_id, e, cluster, dist FROM (
           |  SELECT vec_id, e, cluster, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 9),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 9)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      s"""WITH v AS (SELECT vec_id, list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 4),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |${recenter("a3", "m3", "c3")},
         |${assign("c3", "a4")}
         |SELECT vec_id, cluster, round(dist, 6) AS dist FROM a4""".stripMargin
    },

    // deterministic KMeans-IVF: 8 cells on the 16-dim slice, two Lloyd
    // rounds (same init/fold/tie discipline as kmeans_lloyd), queries
    // probe their 2 nearest final centroids, cosine top-5 within the
    // probed cells on the FULL embedding
    "ann_ivf_kmeans_det" -> {
      def assign(c: String, a: String) =
        s"""$a AS (SELECT vec_id, embedding, e, cluster FROM (
           |  SELECT vec_id, embedding, e, cluster,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.embedding, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 17),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 17)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      s"""WITH v AS (SELECT vec_id, embedding,
         |           list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 8),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |qp AS (SELECT q_id, q_emb, cluster FROM (
         |  SELECT v.vec_id AS q_id, v.embedding AS q_emb, c2.cluster,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      round(list_reduce(list_transform(range(1, 17),
         |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9), cluster) AS rn
         |  FROM v CROSS JOIN c2 WHERE v.vec_id < 10) WHERE rn <= 2),
         |scored AS (SELECT q_id, a3.vec_id AS n_id,
         |  round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(a3.embedding[i] AS DOUBLE)), (p2, q2) -> p2 + q2)
         |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))
         |       * sqrt(list_reduce(list_transform(a3.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))), 6) AS cos
         |  FROM qp JOIN a3 ON qp.cluster = a3.cluster AND qp.q_id <> a3.vec_id),
         |ranked AS (SELECT q_id, n_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin
    },

    // IVF probe-width sweep (B237): the det-IVF fit probed at widths
    // {1,2,4}, recall@5 against brute force. scored/bf MATERIALIZED —
    // each is referenced per width and plain CTEs inline per reference
    "ann_nprobe_sweep" -> {
      def assign(c: String, a: String) =
        s"""$a AS (SELECT vec_id, embedding, e, cluster FROM (
           |  SELECT vec_id, embedding, e, cluster,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.embedding, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 17),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 17)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      val cos =
        """round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)), (p2, q2) -> p2 + q2)
          |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))
          |       * sqrt(list_reduce(list_transform(n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))), 6)""".stripMargin
      s"""WITH v AS (SELECT vec_id, embedding,
         |           list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 8),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |qp AS (SELECT q_id, q_emb, cluster, rn AS probe_rank FROM (
         |  SELECT v.vec_id AS q_id, v.embedding AS q_emb, c2.cluster,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      round(list_reduce(list_transform(range(1, 17),
         |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9), cluster) AS rn
         |  FROM v CROSS JOIN c2 WHERE v.vec_id < 10) WHERE rn <= 4),
         |scored AS MATERIALIZED (SELECT q_id, probe_rank, n_id, $cos AS cos FROM (
         |  SELECT qp.q_id, qp.probe_rank, qp.q_emb, a3.vec_id AS n_id, a3.embedding AS n_emb
         |  FROM qp JOIN a3 ON qp.cluster = a3.cluster AND qp.q_id <> a3.vec_id)),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |bscored AS (SELECT q_id, n_id, $cos AS cos
         |  FROM bq JOIN (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings) bc
         |  ON q_id <> n_id),
         |bf AS MATERIALIZED (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM bscored) WHERE rnk <= 5),
         |nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries FROM bf),
         |widths AS (SELECT unnest([1, 2, 4]) AS p),
         |iv AS (SELECT p, q_id, n_id FROM (
         |  SELECT w.p, s.q_id, s.n_id,
         |    row_number() OVER (PARTITION BY w.p, s.q_id ORDER BY s.cos DESC, s.n_id) AS rnk
         |  FROM widths w JOIN scored s ON s.probe_rank <= w.p) WHERE rnk <= 5),
         |hm AS (SELECT iv.p, CAST(count(*) AS BIGINT) AS n_hits
         |       FROM iv JOIN bf USING (q_id, n_id) GROUP BY 1)
         |SELECT CAST(w.p AS BIGINT) AS n_probe, nq.n_queries,
         |  CAST(coalesce(hm.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(hm.n_hits, 0) AS DOUBLE) / (nq.n_queries * 5), 6) AS recall
         |FROM widths w LEFT JOIN hm ON hm.p = w.p CROSS JOIN nq""".stripMargin
    },

    // independent Morton interleave: the same 5 magic-mask spread steps
    // as the native expression, unrolled as CTE stages over BIGINT bit ops
    "zorder_key" ->
      s"""WITH $zkeyCtes
         |SELECT doc_id, x, y, zkey FROM zk""".stripMargin,

    // per-segment min/max pruning stats: z-order layout vs natural
    // doc_id order over the same 100-row segments
    "segment_stats" ->
      s"""WITH $zkeyCtes,
         |rz AS (SELECT zk.*, row_number() OVER (ORDER BY zkey, doc_id) AS rnk FROM zk),
         |rn AS (SELECT zk.*, row_number() OVER (ORDER BY doc_id) AS rnk FROM zk),
         |gz AS (SELECT 'zorder' AS layout, (rnk - 1) // 100 AS segment, count(*) AS n_rows,
         |       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |       FROM rz GROUP BY 1, 2),
         |gn AS (SELECT 'natural' AS layout, (rnk - 1) // 100 AS segment, count(*) AS n_rows,
         |       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
         |       FROM rn GROUP BY 1, 2)
         |SELECT layout, segment, n_rows, min_x, max_x, min_y, max_y,
         |  max_x - min_x AS span_x, max_y - min_y AS span_y
         |FROM (SELECT * FROM gz UNION ALL SELECT * FROM gn)""".stripMargin,

    // reciprocal-rank fusion: BM25 ranking for query ('data','table')
    // fused with the quality ranking; <= 2 pre-rounded BM25 terms sum
    // per doc (FP addition of two terms is commutative -> bit-stable)
    "rrf_fusion" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         |dfr AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |bm AS (SELECT tf.doc_id, tf.token,
         |  round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |    * (CAST(tf.tf AS DOUBLE) * (1.5 + 1.0))
         |    / (CAST(tf.tf AS DOUBLE) + 1.5 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl)), 6) AS bm25
         |  FROM tf JOIN dl USING (doc_id) JOIN dfr USING (token) CROSS JOIN nd CROSS JOIN st),
         |bscore AS (SELECT doc_id, sum(bm25) AS bm_score FROM bm
         |           WHERE token IN ('data', 'table') GROUP BY 1),
         |q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         |s AS (SELECT q.doc_id, q.quality, coalesce(b.bm_score, 0.0) AS bm_score
         |      FROM q LEFT JOIN bscore b USING (doc_id)),
         |r AS (SELECT doc_id,
         |      row_number() OVER (ORDER BY bm_score DESC, doc_id) AS r_bm25,
         |      row_number() OVER (ORDER BY quality DESC, doc_id) AS r_quality FROM s)
         |SELECT doc_id, r_bm25, r_quality,
         |  round(1.0 / (60 + r_bm25) + 1.0 / (60 + r_quality), 6) AS rrf
         |FROM r ORDER BY rrf DESC, doc_id LIMIT 50""".stripMargin,

    "bm25" -> bm25Sql,

    // BM25 retrieval: per-doc sum of the query terms' weights, global
    // top-10 with doc_id ties
    "bm25_search" ->
      s"""WITH b AS ($bm25Sql)
         |SELECT doc_id, count(*) AS n_matched,
         |  round(list_reduce(list_sort(list(bm25)), (a, b) -> a + b), 6) AS score
         |FROM b WHERE token IN ('query', 'join', 'scan')
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // pseudo-relevance feedback: top-10 BM25 docs -> top-5 non-query
    // terms by summed BM25 weight across the feedback set
    "query_expansion" ->
      s"""WITH b AS ($bm25Sql),
         |fbs AS (SELECT doc_id,
         |    round(list_reduce(list_sort(list(bm25)), (p, r) -> p + r), 6) AS score
         |  FROM b WHERE token IN ('query', 'join', 'scan')
         |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10),
         |cand AS (SELECT b.token,
         |    round(list_reduce(list_sort(list(bm25)), (p, r) -> p + r), 6) AS rsv
         |  FROM b JOIN fbs USING (doc_id)
         |  WHERE b.token NOT IN ('query', 'join', 'scan')
         |  GROUP BY 1)
         |SELECT token, rsv, rank FROM (
         |  SELECT token, rsv, row_number() OVER (ORDER BY rsv DESC, token) AS rank
         |  FROM cand) WHERE rank <= 5""".stripMargin,

    // retrieval eval: MRR@10 + NDCG@10 of the BM25 ranking, coverage-
    // graded relevance (distinct query terms present), ln discount
    "search_eval" ->
      s"""WITH b AS ($bm25Sql),
         |q(query_id, token) AS (VALUES (CAST(1 AS BIGINT), 'query'), (1, 'join'), (1, 'scan'),
         |                              (2, 'data'), (2, 'table')),
         |qn AS (SELECT query_id, count(DISTINCT token) AS q_n FROM q GROUP BY 1),
         |scores AS (SELECT query_id, b.doc_id,
         |    round(list_reduce(list_sort(list(bm25)), (p, r) -> p + r), 6) AS score
         |  FROM b JOIN q USING (token) GROUP BY 1, 2),
         |t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |relv AS (SELECT query_id, t.doc_id, count(DISTINCT t.token) AS rel
         |  FROM t JOIN q USING (token) GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, score,
         |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
         |  FROM scores),
         |topk AS (SELECT r.query_id, r.doc_id, r.rnk, relv.rel
         |  FROM ranked r JOIN relv USING (query_id, doc_id) WHERE rnk <= 10),
         |dcg AS (SELECT query_id,
         |  round(list_reduce(list_sort(list(
         |    round(CAST(rel AS DOUBLE) / ln(CAST(rnk + 1 AS DOUBLE)), 9))),
         |    (p, r) -> p + r), 6) AS dcg
         |  FROM topk GROUP BY 1),
         |mrr AS (SELECT t2.query_id,
         |  coalesce(round(1.0 / min(CASE WHEN t2.rel = qn.q_n THEN t2.rnk END), 6), 0.0) AS mrr
         |  FROM topk t2 JOIN qn ON t2.query_id = qn.query_id GROUP BY 1),
         |ideal AS (SELECT query_id, rel,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irnk
         |  FROM relv),
         |idcg AS (SELECT query_id,
         |  round(list_reduce(list_sort(list(
         |    round(CAST(rel AS DOUBLE) / ln(CAST(irnk + 1 AS DOUBLE)), 9))),
         |    (p, r) -> p + r), 6) AS idcg
         |  FROM ideal WHERE irnk <= 10 GROUP BY 1)
         |SELECT query_id, mrr.mrr, d.dcg, idcg.idcg,
         |  round(d.dcg / idcg.idcg, 6) AS ndcg
         |FROM dcg d JOIN mrr USING (query_id) JOIN idcg USING (query_id)""".stripMargin,

    // index of dispersion of per-doc tf over containing docs
    "token_burstiness" ->
      s"""WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM $tokTable GROUP BY 1, 2),
         |s AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS s,
         |      CAST(sum(tf * tf) AS BIGINT) AS ss FROM tf GROUP BY 1)
         |SELECT token, df, round(CAST(s AS DOUBLE) / df, 6) AS mean_tf,
         |  round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / df) / df)
         |        / (CAST(s AS DOUBLE) / df), 6) AS burstiness
         |FROM s WHERE df >= 5""".stripMargin,

    // stride-1 rolling 8-token shingles; a shingle is duplicated when its
    // hash occurs in >1 distinct doc; covered positions union via DISTINCT
    "span_dedup" ->
      s"""WITH b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
         |      FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |sh AS (SELECT doc_id, i,
         |       md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i
         |             FROM b WHERE n_tokens >= 8)),
         |dup AS (SELECT h FROM
         |        (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
         |        WHERE nd > 1),
         |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_tokens FROM
         |        (SELECT DISTINCT s.doc_id, s.i + r.u AS pos
         |         FROM sh s JOIN dup USING (h) CROSS JOIN range(0, 8) r(u))
         |        GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens >= 8 THEN b.n_tokens - 7
         |       WHEN b.n_tokens IS NOT NULL THEN CAST(0 AS BIGINT) END AS n_shingles,
         |  CASE WHEN b.n_tokens IS NOT NULL
         |       THEN CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) END AS n_dup_tokens,
         |  CASE WHEN b.n_tokens > 0
         |       THEN round(CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6)
         |       WHEN b.n_tokens IS NOT NULL THEN 0.0 END AS dup_token_frac
         |FROM b LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // incremental twin: dup status for a batch row (doc_id%10>=8) depends
    // on index membership OR >1-distinct-batch-doc occurrence, which is
    // exactly the union-wide nd>1 rule restricted to batch rows — so the
    // oracle IS span_dedup's SQL with the final select filtered to the
    // batch (corpus-internal dup multiplicity cannot affect a batch row)
    "span_dedup_incremental" ->
      s"""WITH b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
         |      FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |sh AS (SELECT doc_id, i,
         |       md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i
         |             FROM b WHERE n_tokens >= 8)),
         |dup AS (SELECT h FROM
         |        (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
         |        WHERE nd > 1),
         |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_tokens FROM
         |        (SELECT DISTINCT s.doc_id, s.i + r.u AS pos
         |         FROM sh s JOIN dup USING (h) CROSS JOIN range(0, 8) r(u)
         |         WHERE s.doc_id % 10 >= 8)
         |        GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens >= 8 THEN b.n_tokens - 7
         |       WHEN b.n_tokens IS NOT NULL THEN CAST(0 AS BIGINT) END AS n_shingles,
         |  CASE WHEN b.n_tokens IS NOT NULL
         |       THEN CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) END AS n_dup_tokens,
         |  CASE WHEN b.n_tokens > 0
         |       THEN round(CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6)
         |       WHEN b.n_tokens IS NOT NULL THEN 0.0 END AS dup_token_frac
         |FROM b LEFT JOIN cov c USING (doc_id)
         |WHERE b.doc_id % 10 >= 8""".stripMargin,

    // the trim half: rebuild text from positions outside every duplicated
    // shingle (ExactSubstr removes ALL copies, not keep-first)
    "span_dedup_trim" ->
      s"""WITH b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
         |      FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |sh AS (SELECT doc_id, i,
         |       md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
         |       FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS i
         |             FROM b WHERE n_tokens >= 8)),
         |dup AS (SELECT h FROM
         |        (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
         |        WHERE nd > 1),
         |cpos AS (SELECT DISTINCT s.doc_id, s.i + r.u AS pos
         |         FROM sh s JOIN dup USING (h) CROSS JOIN range(0, 8) r(u)),
         |posed AS (SELECT doc_id, i - 1 AS pos, toks[i] AS token
         |          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
         |                FROM b)),
         |kept AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(p.token, ' ' ORDER BY p.pos) AS trimmed_text
         |         FROM posed p LEFT JOIN cpos c
         |           ON p.doc_id = c.doc_id AND p.pos = c.pos
         |         WHERE c.pos IS NULL GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens IS NOT NULL
         |       THEN CAST(coalesce(k.n_kept, 0) AS BIGINT) END AS n_kept,
         |  CASE WHEN b.n_tokens IS NOT NULL
         |       THEN coalesce(k.trimmed_text, '') END AS trimmed_text
         |FROM b LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // CCNet-style per-language NLL quartile buckets over the doc_perplexity
    // bigram-LM chain (same CTEs); thresholds rounded to 6 dp on both sides
    "ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 2),
         |b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
         |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM b GROUP BY 1, 2),
         |cw AS (SELECT w1, count(*) AS c_w1 FROM b GROUP BY 1),
         |v AS (SELECT count(DISTINCT token) AS v FROM $tokTable),
         |lm AS (SELECT cb.w1, cb.w2,
         |       round(ln((CAST(c_bigram AS DOUBLE) + 0.5) / (CAST(c_w1 AS DOUBLE) + 0.5 * v)), 6) AS logp
         |       FROM cb JOIN cw USING (w1) CROSS JOIN v),
         |x AS (SELECT doc_id, logp FROM b JOIN lm USING (w1, w2)),
         |g AS (SELECT doc_id, count(*) AS n_bigrams,
         |      round(list_reduce(list_sort(list(logp)), (a, b) -> a + b), 6) AS sum_logp
         |      FROM x GROUP BY 1),
         |sc AS (SELECT g.doc_id, d.lang, round(-sum_logp / n_bigrams, 6) AS nll
         |       FROM g JOIN documents d USING (doc_id)),
         |th AS (SELECT lang, round(quantile_cont(nll, 0.25), 6) AS p25,
         |       round(quantile_cont(nll, 0.75), 6) AS p75 FROM sc GROUP BY 1)
         |SELECT doc_id, sc.lang, nll,
         |  CASE WHEN nll <= p25 THEN 'head' WHEN nll <= p75 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc JOIN th ON sc.lang = th.lang""".stripMargin,

    // cumulative corpus coverage by frequency-ranked vocabulary; the
    // cumulative sum folds exact longs, ties break on the token
    "token_coverage_curve" ->
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS vocab_rank,
         |  token, cnt,
         |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |        / total, 6) AS cum_frac
         |FROM c CROSS JOIN tot""".stripMargin,

    // 2x2 presence-contingency chi-square per (token, lang)
    "chi2_features" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, lang, token
         |    FROM (SELECT doc_id, lang, unnest($toks) AS token FROM documents)),
         |a AS (SELECT token, lang, count(*) AS a FROM d GROUP BY 1, 2),
         |dfr AS (SELECT token, count(*) AS df FROM d GROUP BY 1
         |        HAVING count(*) >= 5 AND count(*) < (SELECT count(*) FROM documents)),
         |ln_ AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT token, lang, a, df,
         |  round(CAST(n_docs AS DOUBLE)
         |    * pow(CAST(a * (n_docs - df - lang_n + a) - (df - a) * (lang_n - a) AS DOUBLE), 2.0)
         |    / (CAST(df AS DOUBLE) * (n_docs - df) * lang_n * (n_docs - lang_n)), 6) AS chi2
         |FROM a JOIN dfr USING (token) JOIN ln_ USING (lang) CROSS JOIN nd""".stripMargin,

    // same-type inter-event gaps per user, percentile summary per type
    "interarrival_stats" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT event_type, us - lag(us) OVER (PARTITION BY user_id, event_type
        |        ORDER BY us, event_id) AS gap_us FROM e)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(CAST(sum(gap_us) AS DOUBLE) / count(*), 4) AS mean_us,
        |  round(quantile_cont(gap_us, 0.5), 4) AS p50_us,
        |  round(quantile_cont(gap_us, 0.9), 4) AS p90_us,
        |  CAST(max(gap_us) AS BIGINT) AS max_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin,

    // RFM quartile codes over the per-customer reduced frame
    "rfm_segments" ->
      """WITH pc AS (SELECT o_custkey, max(o_orderdate) AS lo, count(*) AS frequency,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT o_custkey, strftime(lo, '%Y-%m-%d') AS last_order,
        |  frequency, monetary_cents,
        |  ntile(4) OVER (ORDER BY lo ASC, o_custkey) AS r,
        |  ntile(4) OVER (ORDER BY frequency ASC, o_custkey) AS f,
        |  ntile(4) OVER (ORDER BY monetary_cents ASC, o_custkey) AS m
        |  FROM pc)
        |SELECT o_custkey, last_order, frequency, monetary_cents,
        |  CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
        |  CAST(r * 100 + f * 10 + m AS BIGINT) AS segment FROM t""".stripMargin,

    // PQ: per-subspace deterministic Lloyd rounds, same machinery as
    // kmeans_lloyd with a sub key threaded through every stage
    "embed_pq" ->
      s"""WITH $pqChainCtes
         |SELECT vec_id, sub, code, round(dist, 6) AS err FROM a3""".stripMargin,

    // PQ asymmetric-distance recall@5 vs the exact cosine top-5: LUT
    // distances in nano-unit longs off the shared codebook chain
    "pq_ann_recall" ->
      s"""WITH $pqChainCtes,
         |qs AS (SELECT vec_id AS q_id, sub, e AS qe FROM v WHERE vec_id < 10),
         |lut AS (SELECT q_id, qs.sub, c2.code,
         |  CAST(round(round(list_reduce(list_transform(range(1, 9),
         |    i -> (qe[i] - c[i]) * (qe[i] - c[i])), (p, q) -> p + q), 9) * 1e9) AS BIGINT) AS d_nano
         |  FROM qs JOIN c2 USING (sub)),
         |adc AS (SELECT q_id, a3.vec_id AS n_id, CAST(sum(d_nano) AS BIGINT) AS adc_nano
         |  FROM (SELECT vec_id, sub, code FROM a3) a3 JOIN lut USING (sub, code)
         |  WHERE a3.vec_id <> q_id GROUP BY 1, 2),
         |pq AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc_nano, n_id) AS rnk
         |  FROM adc) WHERE rnk <= 5),
         |bf AS ($annTopkSql),
         |hits AS (SELECT bf.q_id, count(*) AS n_hits FROM bf
         |  JOIN pq ON bf.q_id = pq.q_id AND bf.n_id = pq.n_id GROUP BY 1)
         |SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5, 6) AS recall
         |FROM (SELECT DISTINCT q_id FROM bf) q LEFT JOIN hits h USING (q_id)""".stripMargin,

    // mean 6dp composite quality per ntile(10) length decile; two-level
    // fold (Folds.scala): sorted fold per doc_id%1024 sub-bucket, then of
    // the sub-totals, re-rounded to 6 dp before the mean divides
    "quality_by_length_decile" ->
      s"""WITH q AS (SELECT doc_id, n_chars, $qualitySql AS quality FROM documents),
         |d AS (SELECT *, ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile FROM q),
         |s AS (SELECT decile, doc_id % 1024 AS sb, count(*) AS sub_n,
         |      CAST(min(n_chars) AS BIGINT) AS sub_min, CAST(max(n_chars) AS BIGINT) AS sub_max,
         |      list_reduce(list_sort(list(quality)), (a, b) -> a + b) AS sub_s
         |      FROM d GROUP BY 1, 2)
         |SELECT CAST(decile AS BIGINT) AS decile, CAST(sum(sub_n) AS BIGINT) AS n_docs,
         |  min(sub_min) AS min_chars, max(sub_max) AS max_chars,
         |  round(round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 6) / sum(sub_n), 6) AS mean_quality
         |FROM s GROUP BY 1""".stripMargin,

    // lang x source independence over the FULL margin grid (zero cells
    // contribute their expected count), 6dp terms sorted-folded
    "lang_source_chi2" ->
      """WITH c AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS n_l FROM c GROUP BY 1),
        |rs AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s FROM c GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |g AS (SELECT lang, source, n_l, n_s, coalesce(o, 0) AS o
        |      FROM rl CROSS JOIN rs LEFT JOIN c USING (lang, source)),
        |t AS (SELECT round(pow(CAST(o AS DOUBLE) - CAST(n_l AS DOUBLE) * n_s / n_docs, 2.0)
        |        / (CAST(n_l AS DOUBLE) * n_s / n_docs), 6) AS term
        |      FROM g CROSS JOIN nd)
        |SELECT round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS chi2,
        |  CAST(((SELECT count(*) FROM rl) - 1) * ((SELECT count(*) FROM rs) - 1) AS BIGINT) AS dof
        |FROM t""".stripMargin,

    // Rocchio: argmax over language centroids, ties on lang name
    "nearest_centroid_lang" ->
      s"""WITH t AS ($tfidf),
         |w AS (SELECT t.doc_id, d.lang, t.token, t.tfidf FROM t JOIN documents d USING (doc_id)),
         |nl AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
         |cent AS (SELECT lang AS cand_lang, token,
         |  round(list_reduce(list_sort(list(tfidf)), (a, b) -> a + b) / n_l, 9) AS c
         |  FROM w JOIN nl USING (lang) GROUP BY lang, token, n_l),
         |cn AS (SELECT cand_lang, sqrt(list_reduce(list_sort(list(round(c * c, 9))), (a, b) -> a + b)) AS c_nrm
         |       FROM cent GROUP BY 1),
         |dn AS (SELECT doc_id,
         |  sqrt(list_reduce(list_sort(list(round(tfidf * tfidf, 9))), (a, b) -> a + b)) AS d_nrm
         |  FROM w GROUP BY 1),
         |sc AS (SELECT doc_id, cand_lang,
         |  list_reduce(list_sort(list(round(tfidf * c, 9))), (a, b) -> a + b) AS dot
         |  FROM (SELECT doc_id, token, tfidf FROM w) x JOIN cent USING (token)
         |  GROUP BY 1, 2),
         |r AS (SELECT doc_id, cand_lang, round(dot / (d_nrm * c_nrm), 6) AS cos,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY round(dot / (d_nrm * c_nrm), 6) DESC, cand_lang) AS rn
         |  FROM sc JOIN dn USING (doc_id) JOIN cn USING (cand_lang))
         |SELECT doc_id, d.lang AS true_lang, cand_lang AS pred_lang, cos,
         |  CAST(cand_lang = d.lang AS BIGINT) AS correct
         |FROM r JOIN documents d USING (doc_id) WHERE rn = 1""".stripMargin,

    // sparse doc-vs-language-centroid cosine, 9dp sorted folds
    "doc_lang_coherence" ->
      s"""WITH t AS ($tfidf),
         |w AS (SELECT t.doc_id, d.lang, t.token, t.tfidf FROM t JOIN documents d USING (doc_id)),
         |nl AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
         |cent AS (SELECT lang, token,
         |  round(list_reduce(list_sort(list(tfidf)), (a, b) -> a + b) / n_l, 9) AS c
         |  FROM w JOIN nl USING (lang) GROUP BY lang, token, n_l),
         |cn AS (SELECT lang, sqrt(list_reduce(list_sort(list(round(c * c, 9))), (a, b) -> a + b)) AS c_nrm
         |       FROM cent GROUP BY 1),
         |d AS (SELECT doc_id, lang,
         |  list_reduce(list_sort(list(round(tfidf * c, 9))), (a, b) -> a + b) AS dot,
         |  sqrt(list_reduce(list_sort(list(round(tfidf * tfidf, 9))), (a, b) -> a + b)) AS d_nrm
         |  FROM w JOIN cent USING (lang, token) GROUP BY 1, 2)
         |SELECT doc_id, lang, round(dot / (d_nrm * c_nrm), 6) AS coherence
         |FROM d JOIN cn USING (lang)""".stripMargin,

    // Spearman via dense doc_id-tie-broken ranks, exact long d²
    "quality_length_corr" ->
      s"""WITH q AS (SELECT doc_id, lang, n_chars, $qualitySql AS quality FROM documents),
         |r AS (SELECT lang,
         |  row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rq,
         |  row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rl
         |  FROM q),
         |s AS (SELECT lang, count(*) AS n_docs,
         |  CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS d2 FROM r GROUP BY 1)
         |SELECT lang, n_docs, d2,
         |  round(1.0 - 6.0 * d2 / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) * n_docs - 1.0)), 6)
         |    AS spearman_rho
         |FROM s WHERE n_docs > 1""".stripMargin,

    // skip-gram window pairs aggregated to counts
    "skipgram_pairs" ->
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |p AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
         |pr AS (SELECT toks[i] AS center, unnest(
         |  toks[greatest(1, i - 2):(i - 1)] || toks[(i + 1):least(len(toks), i + 2)]
         |  ) AS context FROM p)
         |SELECT center, context, count(*) AS n_pairs FROM pr GROUP BY 1, 2""".stripMargin,

    // integer micro-unit weights: running/total sums exact at any order
    "neg_sampling_table" ->
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1),
         |m AS (SELECT token, cnt,
         |  CAST(round(pow(CAST(cnt AS DOUBLE), 0.75) * 1e6) AS BIGINT) AS w_micros FROM c),
         |s AS (SELECT *, CAST(sum(w_micros) OVER () AS BIGINT) AS total,
         |  CAST(sum(w_micros) OVER (ORDER BY w_micros DESC, token
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM m)
         |SELECT token, cnt, w_micros,
         |  round(CAST(cum AS DOUBLE) / total, 6) AS cum_share FROM s""".stripMargin,

    // deterministic md5-indexed walks over the symmetrized co-occurrence
    // graph, steps unrolled as CTEs (same hex-decode idiom as
    // mixture_sample; hex of 8 chars is non-negative so % == pmod)
    "token_walks" -> {
      def step(k: Int, prev: String, next: String) = {
        val idx = s"CAST(('0x' || substr(md5(start || ':$k:' || cur), 1, 8))::BIGINT % deg AS INT) + 1"
        s"""$next AS (SELECT start, nbs[$idx] AS cur, path || '>' || nbs[$idx] AS path
           |  FROM $prev JOIN nb ON nb.src = $prev.cur)""".stripMargin
      }
      s"""WITH t AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |p AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t),
         |dir AS (SELECT toks[i] AS src, toks[i + 1] AS dst FROM p GROUP BY 1, 2),
         |e AS (SELECT src, dst FROM dir UNION SELECT dst, src FROM dir),
         |nb AS (SELECT src, list(dst ORDER BY dst) AS nbs, count(*) AS deg FROM e GROUP BY 1),
         |w0 AS (SELECT src AS start, src AS cur, src AS path FROM nb),
         |${step(1, "w0", "w1")},
         |${step(2, "w1", "w2")},
         |${step(3, "w2", "w3")}
         |SELECT start, path, cur AS end_node FROM w3""".stripMargin
    },

    // the salted join must equal the plain join — the oracle IS the
    // plain join
    "salted_join_agg" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // -p·ln p terms rounded then sorted-folded per source
    "source_lang_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs FROM c GROUP BY 1),
        |tm AS (SELECT source, n_docs,
        |  round(-(CAST(cnt AS DOUBLE) / n_docs) * ln(CAST(cnt AS DOUBLE) / n_docs), 6) AS term
        |  FROM c JOIN t USING (source))
        |SELECT source, any_value(n_docs) AS n_docs, count(*) AS n_langs,
        |  round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS entropy
        |FROM tm GROUP BY 1""".stripMargin,

    // Gini by the rank formula over ascending spend, exact long sums
    "spend_gini" ->
      """WITH pc AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT spend_cents,
        |  row_number() OVER (ORDER BY spend_cents, o_custkey) AS i FROM pc),
        |s AS (SELECT count(*) AS n_customers, CAST(sum(spend_cents) AS BIGINT) AS total_cents,
        |  CAST(sum(i * spend_cents) AS BIGINT) AS rank_sum FROM r)
        |SELECT n_customers, total_cents,
        |  round(2.0 * rank_sum / (CAST(n_customers AS DOUBLE) * total_cents)
        |        - CAST(n_customers + 1 AS DOUBLE) / n_customers, 6) AS gini
        |FROM s""".stripMargin,

    // Monday weeks (date_trunc week is ISO in both engines)
    "weekly_revenue_wow" ->
      """WITH w AS (SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM orders GROUP BY 1),
        |l AS (SELECT week, revenue_cents,
        |  lag(revenue_cents) OVER (ORDER BY week) AS prev_cents FROM w)
        |SELECT week, revenue_cents, prev_cents,
        |  round(CAST(revenue_cents - prev_cents AS DOUBLE) / prev_cents, 6) AS wow_change
        |FROM l WHERE prev_cents IS NOT NULL""".stripMargin,

    // 7x24 seasonality grid, ISO Monday=1 on both engines
    "event_heatmap" ->
      """SELECT isodow(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hour,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    // per-user lead() stream, |types|²-bounded transition counts
    "event_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS us FROM events),
        |l AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM l
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, round(CAST(n AS DOUBLE) / n_from, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,

    // per-type [p05, p95] clip at identical 4dp boundaries
    "events_winsorize" ->
      """WITH v AS (SELECT event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
        |b AS (SELECT event_type, round(quantile_cont(v_cents, 0.05), 4) AS lo,
        |      round(quantile_cont(v_cents, 0.95), 4) AS hi FROM v GROUP BY 1)
        |SELECT event_id, event_type, v_cents,
        |  CAST(round(greatest(lo, least(hi, CAST(v_cents AS DOUBLE)))) AS BIGINT) AS clipped_cents,
        |  CAST(v_cents < lo OR v_cents > hi AS BIGINT) AS was_clipped
        |FROM v JOIN b USING (event_type)""".stripMargin,

    // exact distinct users per tumbling hour window
    "window_active_users" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // skyline via the NOT EXISTS dominance definition — deliberately a
    // DIFFERENT derivation than the Spark per-date-frontier reduction
    "order_skyline" ->
      """WITH p AS (SELECT o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders)
        |SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, price_cents
        |FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.o_orderdate >= a.o_orderdate AND b.price_cents >= a.price_cents
        |    AND (b.o_orderdate > a.o_orderdate OR b.price_cents > a.price_cents))""".stripMargin,

    "logreg_weights" ->
      s"""$logregWeightCtes
         |SELECT i, round(w, 6) AS w FROM w3""".stripMargin,

    "logreg_predictions" ->
      s"""$logregWeightCtes,
         |wf AS (SELECT i, round(w, 6) AS w FROM w3),
         |zf AS (SELECT vec_id, y, list_reduce(list_sort(list(round(w * x, 9))), (a, b) -> a + b) AS z
         |       FROM x JOIN wf USING (i) GROUP BY 1, 2)
         |SELECT vec_id, y, round(1.0 / (1.0 + exp(-z)), 6) AS p,
         |  CASE WHEN round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 THEN 1.0 ELSE 0.0 END AS pred
         |FROM zf""".stripMargin,

    // per-term contributions rounded to 6 dp BEFORE the sorted-list fold,
    // so the sum agrees with Spark's exact sum at 6 dp; the mean divides
    // that 6 dp sum, so an ulp of the raw sum never decides a tie
    "unigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
         |c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |x AS (SELECT doc_id, tf, round(tf * ln(CAST(cnt AS DOUBLE) / total), 6) AS contrib
         |      FROM tf JOIN c USING (token) CROSS JOIN tot),
         |g AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |      list_reduce(list_sort(list(contrib)), (a, b) -> a + b) AS s FROM x GROUP BY 1)
         |SELECT doc_id, n_tokens, round(s, 6) AS sum_logprob,
         |  round(round(s, 6) / n_tokens, 6) AS avg_logprob FROM g""".stripMargin,

    // entropy terms written p*ln(n/tf) (all non-negative — never -0.0)
    "token_entropy" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
         |tf2 AS (SELECT doc_id, tf, CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM tf),
         |x AS (SELECT doc_id, n, round((CAST(tf AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / tf), 6) AS contrib FROM tf2)
         |SELECT doc_id, min(n) AS n_tokens, count(*) AS n_distinct,
         |  round(list_reduce(list_sort(list(contrib)), (a, b) -> a + b), 6) AS entropy
         |FROM x GROUP BY doc_id""".stripMargin,

    "lang_kl" ->
      s"""WITH t AS (SELECT lang, unnest($toks) AS token FROM documents),
         |cl AS (SELECT lang, token, count(*) AS cnt_l FROM t GROUP BY 1, 2),
         |tl AS (SELECT lang, CAST(sum(cnt_l) AS BIGINT) AS tot_l FROM cl GROUP BY 1),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |x AS (SELECT lang, tot_l,
         |      round((CAST(cnt_l AS DOUBLE) / tot_l)
         |        * ln((CAST(cnt_l AS DOUBLE) / tot_l) / (CAST(cnt AS DOUBLE) / total)), 6) AS contrib
         |      FROM cl JOIN tl USING (lang) JOIN c USING (token) CROSS JOIN tot)
         |SELECT lang, min(tot_l) AS n_tokens, count(*) AS n_distinct,
         |  round(list_reduce(list_sort(list(contrib)), (a, b) -> a + b), 6) AS kl
         |FROM x GROUP BY lang""".stripMargin,

    "token_pmi" ->
      s"""WITH t AS (SELECT DISTINCT doc_id, token FROM $tokTable),
         |dfr AS (SELECT token, count(*) AS df FROM t GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |p AS (SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_ab
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
         |      GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT token_a, token_b, n_ab,
         |  round(ln(CAST(n_ab * n_docs AS DOUBLE) / CAST(da.df * db.df AS DOUBLE)), 6) AS pmi
         |FROM p JOIN dfr da ON da.token = p.token_a
         |JOIN dfr db ON db.token = p.token_b CROSS JOIN nd""".stripMargin,

    // win=64, stride=48: chunk count = ceil((n-64)/48)+1, >=1 per doc
    "doc_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks, n,
         |      unnest(range(0, CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_id
         |      FROM f)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(chunk_id * 48 AS BIGINT) AS start_tok,
         |  CAST(len(toks[(chunk_id * 48 + 1):(chunk_id * 48 + 64)]) AS BIGINT) AS chunk_len,
         |  array_to_string(toks[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ') AS chunk_text
         |FROM c""".stripMargin,

    "tpch_q3" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin,

    // correlated scalar subquery: prices in exact integer cents, so the
    // per-customer average divides an exact long sum on both engines
    "orders_above_avg" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders)
        |SELECT o_orderkey, o_custkey, price_cents FROM o AS outer_o
        |WHERE price_cents > (SELECT avg(price_cents) FROM o AS i
        |                     WHERE i.o_custkey = outer_o.o_custkey)""".stripMargin,

    // floor(x*scale + 0.5) instead of round() so .5 boundaries resolve
    // identically; 127.0 is exact in binary and decimal
    "embed_quantize" ->
      """WITH b AS (SELECT vec_id, label, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx FROM embeddings),
        |s AS (SELECT vec_id, label, embedding,
        |  CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scale FROM b)
        |SELECT vec_id, label, len(embedding)::BIGINT AS n_dims, round(scale, 6) AS scale,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)), ',') AS q_csv
        |FROM s""".stripMargin,

    // write-back of near-dedup: drop every non-canonical cluster member
    // (component label = min reachable id, from the recursive closure)
    "near_dedup_filtered" ->
      s"""WITH RECURSIVE p AS ($embedNearDup),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS id, least(src, min(dst)) AS component FROM reach GROUP BY src)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM comp WHERE component < id)""".stripMargin,

    "dedup_incremental" -> incrementalDedupSql,

    // the Bloom prefilter must be RESULT-INVISIBLE (no false negatives,
    // false positives exactly re-verified) — the oracle IS the exact path
    "dedup_incremental_bloom" -> incrementalDedupSql,

    // keep-BEST dedup: same hash partition as keep-first, policy is the
    // window order (quality desc, doc_id) over the shared 6dp composite
    "dedup_keep_best" ->
      s"""SELECT doc_id, lang, source, n_chars, quality FROM (
         |  SELECT doc_id, lang, source, n_chars, $qualitySql AS quality,
         |    row_number() OVER (PARTITION BY md5($clean)
         |                       ORDER BY $qualitySql DESC, doc_id) AS rn
         |  FROM documents)
         |WHERE rn = 1""".stripMargin,

    // one BPE merge: global argmax bigram, then leftmost non-overlapping
    // global replace — identical semantics in Java regex and RE2
    "bpe_merge_step" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
         |       i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t WHERE len(toks) > 1),
         |top AS (SELECT pair, count(*) AS cnt FROM bg GROUP BY 1
         |        ORDER BY cnt DESC, pair LIMIT 1)
         |SELECT d.doc_id, top.pair, top.cnt,
         |  regexp_replace($clean,
         |    '\\b' || split_part(pair, ' ', 1) || ' ' || split_part(pair, ' ', 2) || '\\b',
         |    split_part(pair, ' ', 1) || '_' || split_part(pair, ' ', 2), 'g') AS merged
         |FROM documents d CROSS JOIN top""".stripMargin,

    // iterated BPE trainer: the merge-step oracle unrolled N rounds by a
    // generator loop — corpus state c_i re-tokenizes by plain whitespace
    // split (merged tokens carry '_', which $clean would strip), each
    // round's argmax lands in the merges union
    "bpe_train" -> {
      val n = 8
      val sel = (1 to n).map { i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, pair, " +
          s"split_part(pair, ' ', 1) || '_' || split_part(pair, ' ', 2) AS new_token, " +
          s"cnt FROM top$i"
      }.mkString("\nUNION ALL\n")
      bpeChainSql(n) + "\n" + sel
    },

    // BPE application: the same unrolled chain, final state tokenized to
    // (doc_id, pos, token) — the trainer's inference half
    "bpe_apply" -> {
      val n = 8
      bpeChainSql(n) +
        s"""
           |SELECT doc_id, i AS pos, toks[i] AS token
           |FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
           |      FROM (SELECT doc_id, list_filter(string_split(txt, ' '), t -> t <> '') AS toks
           |            FROM c$n))""".stripMargin
    },

    // HTML/boilerplate extraction: deterministic page shell around each
    // doc, then the same RE2-safe strip/split/density chain as TextOps.
    // htmlExtract — script/style removal first (the script body carries a
    // literal '<'), block split on closing tags, keep text-dense blocks
    "html_extract" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Page</title><script type="text/javascript">var a = 1; if (a < 2) { a = a + 1; }</script><style>.nav { color: red; }</style></head><body>'
        |  || '<nav><a href="/">Home</a> | <a href="/about">About</a> | <a href="/contact">Contact</a></nav>'
        |  || '<p>' || text || '</p>'
        |  || '<div><a href="/r1">Related one</a> <a href="/r2">Related two</a> <a href="/r3">More stories</a></div>'
        |  || '<footer>Copyright ' || source || ' <a href="/tos">Terms</a> <a href="/privacy">Privacy</a> all rights reserved</footer></body></html>' AS html
        | FROM documents),
        |s AS (SELECT doc_id, regexp_replace(regexp_replace(html,
        |  '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |  '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS nohead FROM h),
        |sp AS (SELECT doc_id, string_split_regex(nohead, '</p>|</nav>|</div>|</footer>') AS blks FROM s),
        |b AS (SELECT doc_id, i AS pos, blks[i] AS blk
        |      FROM (SELECT doc_id, blks, unnest(range(1, len(blks) + 1)) AS i FROM sp)),
        |t AS (SELECT doc_id, pos,
        |  trim(regexp_replace(regexp_replace(blk, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS btext,
        |  len(string_split(blk, '<a ')) - 1 AS n_links FROM b),
        |k AS (SELECT doc_id, pos, btext,
        |      (length(btext) >= 30 AND n_links <= 1) AS keep FROM t)
        |SELECT doc_id, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep THEN btext END, ' ' ORDER BY pos), '') AS content
        |FROM k GROUP BY doc_id""".stripMargin,

    // URL canonicalization: deterministic synthesized URL per doc, then
    // the same regex chain as TextOps.urlDomains — lowercase scheme/host,
    // default-port drop, utm_* strip (dangling ? cleaned), fragment cut,
    // last-two-label registrable domain
    "url_domains" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END) ||
        |  source || '.Example.COM' ||
        |  (CASE WHEN doc_id % 7 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END) ||
        |  '/Articles/' || CAST(doc_id AS VARCHAR) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=' || lang
        |        WHEN doc_id % 5 = 1 THEN '?utm_campaign=x'
        |        WHEN doc_id % 5 = 2 THEN '?ref=' || lang || '&utm_medium=cpc'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '#section2' ELSE '' END) AS url
        | FROM documents),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^#]*)', 1) AS pathq FROM u),
        |q AS (SELECT doc_id, url, scheme,
        |  CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       ELSE hostport END AS host,
        |  regexp_replace(regexp_replace(regexp_replace(pathq,
        |    'utm_[a-z_]+=[^&#]*&', '', 'g'), '[?&]utm_[a-z_]+=[^&#]*', '', 'g'),
        |    '\?$', '') AS cleanq
        | FROM p)
        |SELECT doc_id, url, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  scheme || '://' || host || cleanq AS canon_url
        |FROM q""".stripMargin,

    // derives mean/variance from EXACT integer power sums — replicates
    // the Spark-side expression order so doubles agree bitwise
    "lang_char_moments" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars * n_chars) AS BIGINT) AS sumsq_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
        |  round((CAST(sum(n_chars * n_chars) AS DOUBLE)
        |         - CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS BIGINT) / count(*))
        |        / count(*), 6) AS var_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "grouping_sets_stats" ->
      """SELECT lang, source, grouping_id(lang, source) AS gid,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY GROUPING SETS ((lang), (source))""".stripMargin,

    "order_seasonality" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        |GROUP BY n_name""".stripMargin,

    "tpch_q7" ->
      """WITH pair AS (SELECT n_nationkey, n_name FROM nation
        |              WHERE n_name IN ('NATION_18', 'NATION_19'))
        |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN pair sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN pair cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |  AND ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        |    OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, n_items, revenue_cents FROM (
        |  SELECT c_custkey, c_name, n_name, count(*) AS n_items,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM orders
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY 1, 2, 3)
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin,

    "tpch_q6" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY 1""".stripMargin,

    "tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,

    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    // both revenue legs are exact cent sums; only the final percentage
    // divides, as DOUBLE on both engines, rounded to 6 dp
    "tpch_q14" ->
      """WITH j AS (SELECT p_type,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS disc_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc_cents ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(disc_cents) AS BIGINT) AS total_cents,
        |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc_cents ELSE 0 END) AS DOUBLE)
        |        / CAST(sum(disc_cents) AS DOUBLE), 6) AS promo_pct
        |FROM j""".stripMargin,

    "tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)""".stripMargin,

    // (part, supplier) association = DISTINCT lineitem pairs (no partsupp
    // in the slim schema); negative balance is the complaint proxy
    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    // quantities are integral doubles → avg is exact, so the 0.2×avg
    // threshold compares identically in both engines
    "tpch_q17" ->
      """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#4'),
        |thr AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thr FROM li GROUP BY l_partkey)
        |SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 700.0, 6) AS avg_yearly
        |FROM li JOIN thr USING (l_partkey)
        |WHERE l_quantity < qty_thr""".stripMargin,

    // threshold = exact cent sum / count, divided ONCE as doubles — the
    // only float in the query, computed identically by both engines
    "tpch_q22" ->
      """WITH thr AS (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*) AS avg_bal_cents
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS n_custs,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
        |FROM customer, thr
        |WHERE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) > avg_bal_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1""".stripMargin,

    // per-part value within one nation vs the nation total; the fraction
    // gate is exact integer arithmetic (value*10000 > total)
    "tpch_q11" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |supn AS (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |         WHERE n_name = 'NATION_12'),
        |v AS (SELECT l_partkey, CAST(sum(cost_cents) AS BIGINT) AS value_cents
        |      FROM ps JOIN supn ON l_suppkey = s_suppkey GROUP BY 1),
        |t AS (SELECT l_partkey, value_cents,
        |      CAST(sum(value_cents) OVER () AS BIGINT) AS total_cents FROM v)
        |SELECT l_partkey, value_cents, total_cents FROM t
        |WHERE value_cents * 10000 > total_cents""".stripMargin,

    // primary supplier per part (max volume, suppkey tiebreak), rolled
    // up per nation — exact-long volumes throughout
    "tpch_q20" ->
      """WITH pq AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
        |  FROM lineitem GROUP BY 1, 2),
        |pr AS (SELECT l_partkey, l_suppkey, pair_qty FROM (
        |  SELECT l_partkey, l_suppkey, pair_qty,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY pair_qty DESC, l_suppkey) AS rn
        |  FROM pq) WHERE rn = 1),
        |supn AS (SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, count(*) AS n_primary_parts,
        |  CAST(sum(pair_qty) AS BIGINT) AS sum_primary_qty
        |FROM pr JOIN supn ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    // partsupp stand-in: min observed price cents per (part, supplier)
    "tpch_q2" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |natr AS (SELECT n_nationkey, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |         WHERE r_name = 'EUROPE'),
        |sup AS (SELECT s_suppkey, s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents, n_name
        |        FROM supplier JOIN natr ON s_nationkey = n_nationkey),
        |cand AS (SELECT p_partkey, s_suppkey, s_name, n_name, bal_cents, cost_cents
        |  FROM ps
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN sup ON l_suppkey = s_suppkey
        |  WHERE p_size = 15 AND p_type = 'SMALL'),
        |mc AS (SELECT p_partkey AS mk, min(cost_cents) AS min_cost FROM cand GROUP BY 1)
        |SELECT p_partkey, s_suppkey, s_name, n_name, bal_cents, cost_cents
        |FROM cand JOIN mc ON p_partkey = mk AND cost_cents = min_cost
        |ORDER BY bal_cents DESC, s_suppkey, p_partkey LIMIT 20""".stripMargin,

    // unit cost = min per-unit price cents per (part, supplier); profit
    // stays in exact integer cents end to end
    "tpch_q9" ->
      """WITH uc AS (SELECT l_partkey AS uc_pk, l_suppkey AS uc_sk,
        |    CAST(min(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)) AS BIGINT) AS unit_cost_cents
        |  FROM lineitem GROUP BY 1, 2),
        |sup AS (SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           - CAST(l_quantity AS BIGINT) * unit_cost_cents) AS BIGINT) AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN sup ON l_suppkey = s_suppkey
        |JOIN uc ON l_partkey = uc_pk AND l_suppkey = uc_sk
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_type = 'STANDARD'
        |GROUP BY 1, 2""".stripMargin,

    // market share: exact cent sums per year, single double division
    "tpch_q8" ->
      """WITH natr AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        |              WHERE r_name = 'ASIA'),
        |j AS (SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS disc_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN natr ON c_nationkey = natr.n_nationkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND p_type = 'PROMO')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_18' THEN disc_cents ELSE 0 END) AS BIGINT) AS nation_cents,
        |  CAST(sum(disc_cents) AS BIGINT) AS total_cents,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_18' THEN disc_cents ELSE 0 END) AS DOUBLE)
        |        / CAST(sum(disc_cents) AS DOUBLE), 6) AS mkt_share
        |FROM j GROUP BY 1""".stripMargin,

    // EXISTS + NOT EXISTS collapsed into one per-order conditional
    // aggregate: >= 2 suppliers, exactly 1 of them late
    "tpch_q21" ->
      """WITH lo AS (SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |per AS (SELECT l_orderkey FROM (
        |    SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |      count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |    FROM lo GROUP BY 1)
        |  WHERE n_supp >= 2 AND n_late = 1),
        |ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM ls JOIN per USING (l_orderkey) JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin,

    "tpch_q19" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity BETWEEN 1 AND 30
        |  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30))""".stripMargin,

    "part_type_revenue" ->
      """SELECT p_type, p_brand, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type, p_brand""".stripMargin,

    "purchase_click_full" ->
      """WITH p AS (SELECT user_id, count(*) AS purchase_n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS purchase_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |c AS (SELECT user_id, count(*) AS click_n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS click_cents
        |  FROM events WHERE event_type = 'click' GROUP BY user_id)
        |SELECT coalesce(p.user_id, c.user_id) AS user_id,
        |  coalesce(purchase_n, 0) AS purchase_n, coalesce(purchase_cents, 0) AS purchase_cents,
        |  coalesce(click_n, 0) AS click_n, coalesce(click_cents, 0) AS click_cents
        |FROM p FULL OUTER JOIN c ON p.user_id = c.user_id""".stripMargin,

    "audience_set_ops" ->
      """WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'view_and_buy' AS segment, user_id FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM b)
        |UNION ALL
        |SELECT 'view_only' AS segment, user_id FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM b)
        |UNION ALL
        |SELECT 'buy_only' AS segment, user_id FROM (SELECT user_id FROM b EXCEPT SELECT user_id FROM v)""".stripMargin,

    "events_lead_lag" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT event_id, user_id, us,
        |  CAST(coalesce(us - lag(us, 1) OVER w, -1) AS BIGINT) AS gap_prev_us,
        |  CAST(coalesce(lead(us, 1) OVER w - us, -1) AS BIGINT) AS gap_next_us,
        |  CAST(us - first_value(us) OVER w2 AS BIGINT) AS since_first_us,
        |  CAST(last_value(us) OVER w2 - us AS BIGINT) AS until_last_us
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id),
        |  w2 AS (PARTITION BY user_id ORDER BY us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    // string-shingle contamination twin (4-grams); benchmark = doc_id%50==0
    "contamination_check" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 2),
         |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS g
         |       FROM t WHERE len(toks) >= 4),
         |b AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 50 = 0),
         |c AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0)
         |SELECT doc_id, count(DISTINCT g) AS n_shared, count(DISTINCT bench_id) AS n_bench_docs
         |FROM c JOIN b USING (g) GROUP BY doc_id""".stripMargin,

    // fixed 8-token windows, global keep-first, ordered reassembly
    // line-frequency boilerplate removal: 8-token windows, drop every
    // occurrence of a window present in >= 3 distinct docs
    "line_freq_filter" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) > 0),
         |c AS (SELECT doc_id, chunk_id,
         |      array_to_string(list_slice(toks, chunk_id * 8 + 1, chunk_id * 8 + 8), ' ') AS chunk_text
         |      FROM (SELECT doc_id, toks,
         |            unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS chunk_id FROM t)),
         |f AS (SELECT md5(chunk_text) AS h, count(DISTINCT doc_id) AS df_docs FROM c GROUP BY 1),
         |k AS (SELECT c.doc_id, c.chunk_id, c.chunk_text, f.df_docs >= 3 AS drp
         |      FROM c JOIN f ON md5(c.chunk_text) = f.h)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN NOT drp THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS filtered_text
         |FROM k GROUP BY doc_id""".stripMargin,

    "domain_cap" ->
      """SELECT source, doc_id, n_chars, rnk FROM (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents) WHERE rnk <= 20""".stripMargin,

    "compression_ratio" ->
      s"""WITH p AS (SELECT source, CAST(length(text) AS DOUBLE) AS len,
         |      CAST(len($toks) AS DOUBLE) AS n_toks,
         |      CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS n_ws
         |      FROM documents),
         |r AS (SELECT source, round(len / n_toks, 6) AS cpt, round(n_ws / len, 6) AS wsr
         |      FROM p WHERE n_toks > 0)
         |SELECT source, count(*) AS n_docs,
         |  round(round(list_reduce(list_sort(list(cpt)), (a, b) -> a + b), 6) / count(*), 6) AS chars_per_token,
         |  round(round(list_reduce(list_sort(list(wsr)), (a, b) -> a + b), 6) / count(*), 6) AS ws_ratio
         |FROM r GROUP BY source""".stripMargin,

    "length_mad" ->
      """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med_chars,
        |           count(*) AS n_docs FROM documents GROUP BY lang)
        |SELECT d.lang, m.n_docs, m.med_chars,
        |       quantile_cont(abs(d.n_chars - m.med_chars), 0.5) AS mad_chars
        |FROM documents d JOIN m USING (lang)
        |GROUP BY d.lang, m.n_docs, m.med_chars""".stripMargin,

    // OLS from exact integer moment sums; floats only in the final division
    "char_token_regression" ->
      s"""WITH s AS (SELECT lang, count(*) AS n,
         |      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |      CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM (SELECT lang, CAST(len($toks) AS BIGINT) AS x,
         |            CAST(n_chars AS BIGINT) AS y FROM documents) GROUP BY lang)
         |SELECT lang, n AS n_docs,
         |  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
         |  round(CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS intercept
         |FROM s""".stripMargin,

    "text_normalize" ->
      "SELECT doc_id, strip_accents(nfc_normalize(lower(text))) AS norm_text FROM documents",

    "paragraph_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) > 0),
         |c AS (SELECT doc_id, chunk_id,
         |      array_to_string(list_slice(toks, chunk_id * 8 + 1, chunk_id * 8 + 8), ' ') AS chunk_text
         |      FROM (SELECT doc_id, toks,
         |            unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS chunk_id FROM t)),
         |k AS (SELECT doc_id, chunk_id, chunk_text,
         |      row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) = 1 AS first_seen
         |      FROM c)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN first_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN first_seen THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS dedup_text
         |FROM k GROUP BY doc_id""".stripMargin,

    // temperature-weighted source mixing: alpha=0.7, budget=1M tokens
    "mixture_weights" ->
      s"""WITH ps AS (SELECT source, count(*) AS n_docs,
         |      CAST(sum(len($toks)) AS BIGINT) AS n_tokens FROM documents GROUP BY source),
         |w AS (SELECT *, round(pow(CAST(n_tokens AS DOUBLE), 0.7), 6) AS w_raw FROM ps),
         |t AS (SELECT list_reduce(list_sort(list(w_raw)), (a, b) -> a + b) AS w_total FROM w)
         |SELECT source, n_docs, n_tokens, round(w_raw / w_total, 6) AS weight,
         |  CAST(floor(w_raw / w_total * 1000000) AS BIGINT) AS alloc_tokens
         |FROM w, t""".stripMargin,

    // upper-triangle covariance over dims 1..8; two-level fold
    // (Folds.scala): sorted fold per vec_id%1024 sub-bucket, then of the
    // sub-totals
    "embed_covariance" ->
      """WITH p AS (SELECT vec_id % 1024 AS sb, CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
        |      CAST(embedding[i] AS DOUBLE) AS x, CAST(embedding[j] AS DOUBLE) AS y
        |      FROM embeddings, range(1, 9) r1(i), range(1, 9) r2(j) WHERE j >= i),
        |s AS (SELECT dim_i, dim_j, sb, count(*) AS sub_n,
        |      list_reduce(list_sort(list(x * y)), (a, b) -> a + b) AS sub_sxy,
        |      list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sub_sx,
        |      list_reduce(list_sort(list(y)), (a, b) -> a + b) AS sub_sy
        |      FROM p GROUP BY 1, 2, 3)
        |SELECT dim_i, dim_j, CAST(sum(sub_n) AS BIGINT) AS n_vecs,
        |  round(list_reduce(list_sort(list(sub_sxy)), (a, b) -> a + b) / sum(sub_n)
        |    - (list_reduce(list_sort(list(sub_sx)), (a, b) -> a + b) / sum(sub_n))
        |    * (list_reduce(list_sort(list(sub_sy)), (a, b) -> a + b) / sum(sub_n)), 6) AS cov
        |FROM s GROUP BY 1, 2""".stripMargin,

    // top-5 cross-label neighbours per query vector (vec_id < 10)
    "hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
        |      FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS n_id, label AS n_label, embedding AS n_emb FROM embeddings),
        |scored AS (SELECT q_id, q_label, n_id, n_label,
        |  round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))), 6) AS cos
        |  FROM q JOIN c ON q_label <> n_label),
        |ranked AS (SELECT q_id, q_label, n_id, n_label, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
        |SELECT q_id, q_label, n_id, n_label, rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin,

    // bottom-decile-per-label cosine-to-own-centroid gate; centroid CTE
    // mirrors embed_centroids' two-level fold
    "embed_outliers" ->
      """WITH cd0 AS (SELECT label, vec_id % 1024 AS sb, i AS dim, count(*) AS sub_n,
        |      list_reduce(list_sort(list(CAST(x AS DOUBLE))), (a, b) -> a + b) AS sub_s
        |      FROM (SELECT label, vec_id, unnest(embedding) AS x,
        |            unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
        |      GROUP BY 1, 2, 3),
        |cd AS (SELECT label, dim,
        |      round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b) / sum(sub_n), 6) AS centroid
        |      FROM cd0 GROUP BY 1, 2),
        |cl AS (SELECT label, list(centroid ORDER BY dim) AS c_emb FROM cd GROUP BY label),
        |s AS (SELECT vec_id, e.label AS label,
        |  round(list_reduce(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * c_emb[i]), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(c_emb, x -> x * x), (a, b) -> a + b))), 6) AS cos_centroid
        |  FROM embeddings e JOIN cl USING (label))
        |SELECT vec_id, label, cos_centroid,
        |  row_number() OVER (PARTITION BY label ORDER BY cos_centroid, vec_id)
        |    <= greatest(1, CAST(floor(count(*) OVER (PARTITION BY label) * 0.1) AS BIGINT)) AS is_outlier
        |FROM s""".stripMargin,

    // 30-min (user, event_type) repeat suppression via lag
    "event_dedup" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS prev_us FROM e)
        |SELECT event_id, user_id, event_type, us,
        |  CAST(coalesce(us - prev_us, -1) AS BIGINT) AS gap_us
        |FROM l WHERE prev_us IS NULL OR us - prev_us > 1800000000""".stripMargin,

    // Q18 shape: pre-aggregated big orders (sum qty > 300), top 100
    // full Q1: exact cents, discount through exact basis points
    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
        |  round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_price_cents,
        |  round(CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE) / count(*) / 10000.0, 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,

    "tpch_q18" ->
      """WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(sum(l_quantity) AS BIGINT) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey LIMIT 100""".stripMargin,

    // CDC apply twin: rebuild the derived change batch, full-outer resolve
    "merge_upsert" ->
      """WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |ch AS (
        |  SELECT doc_id, 'delete' AS op, n_chars, lang, source FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, 'upsert', n_chars + 1000, lang, source FROM documents
        |    WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 'upsert', n_chars, 'new', source FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id,
        |  coalesce(c.lang, b.lang) AS lang,
        |  coalesce(c.source, b.source) AS source,
        |  CAST(coalesce(c.n_chars, b.n_chars) AS BIGINT) AS n_chars,
        |  CASE WHEN c.op IS NULL THEN 'base'
        |       WHEN b.lang IS NULL THEN 'inserted' ELSE 'updated' END AS row_origin
        |FROM base b FULL OUTER JOIN ch c USING (doc_id)
        |WHERE c.op IS NULL OR c.op <> 'delete'""".stripMargin,

    // top-5 TF-IDF keywords per doc, ties broken on token
    "keyword_extract" ->
      s"""WITH t AS ($tfidf),
         |r AS (SELECT doc_id, token, tfidf,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
         |  FROM t)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, tfidf FROM r
         |WHERE rnk <= 5""".stripMargin,

    // sentence segmentation stats: split on [.!?]+ runs, trim, drop empties
    "sentence_stats" ->
      """WITH s AS (SELECT doc_id,
        |  list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |              x -> x <> '') AS sents FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(list_max(list_transform(sents, x -> length(x))) AS BIGINT) AS max_sent_chars,
        |  list_reduce(list_transform(sents, x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS sum_chars,
        |  list_reduce(list_transform(sents,
        |    x -> CAST(len(list_filter(string_split_regex(x, '\s+'), t -> t <> '')) AS BIGINT)),
        |    (a, b) -> a + b) AS sum_words
        |  FROM s WHERE len(sents) > 0)
        |SELECT doc_id, n_sentences, max_sent_chars,
        |  round(CAST(sum_chars AS DOUBLE) / n_sentences, 6) AS avg_sent_chars,
        |  round(CAST(sum_words AS DOUBLE) / n_sentences, 6) AS avg_sent_words
        |FROM f""".stripMargin,

    // Flesch reading ease with the vowel-group syllable proxy
    "readability" ->
      """WITH c AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |           x -> x <> '')) AS BIGINT) AS n_sents,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syllables,
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
        |        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch
        |FROM c WHERE n_words > 0 AND n_sents > 0""".stripMargin,

    // vocab application: dense ids, OOV bucket 0, 1-based positions
    "tokenize_ids" ->
      (s"WITH d AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM $tokTable) GROUP BY token), " +
        "v AS (SELECT token, CASE WHEN df >= 2 THEN row_number() OVER (ORDER BY df DESC, token) ELSE 0 END AS vocab_id FROM d), " +
        s"x AS (SELECT doc_id, unnest($toks) AS token, unnest(range(1, len($toks) + 1)) AS pos FROM documents) " +
        "SELECT doc_id, CAST(pos AS BIGINT) AS pos, token, " +
        "CAST(coalesce(vocab_id, 0) AS BIGINT) AS token_id " +
        "FROM x LEFT JOIN v USING (token)"),

    // triangle participation per token over the df-thresholded
    // co-occurrence graph (a<b<c oriented enumeration)
    "token_triangles" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, token FROM $tokTable),
         |e AS (SELECT a.token AS a, b.token AS b FROM d a JOIN d b USING (doc_id)
         |      WHERE a.token < b.token GROUP BY 1, 2 HAVING count(*) >= 5),
         |tri AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
         |        JOIN e e2 ON e1.b = e2.a
         |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT token, count(*) AS n_triangles FROM (
         |  SELECT a AS token FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |GROUP BY 1""".stripMargin,

    // trailing EWMA, alpha = 1/2: dyadic weights are bit-exact doubles,
    // fold runs in frame order on both engines (DuckDB lambda index is
    // 1-based, same as the Spark zip_with sequence)
    "events_ewma" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v_cents FROM events),
        |w AS (SELECT event_id, user_id, us, v_cents,
        |  list(v_cents) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vs
        |  FROM e)
        |SELECT event_id, user_id, us, v_cents,
        |  CAST(len(vs) AS BIGINT) AS n_win,
        |  round(list_reduce(list_transform(vs,
        |          (x, i) -> CAST(x AS DOUBLE) * pow(0.5, len(vs) - i)),
        |        (a, b) -> a + b)
        |    / (2.0 - pow(0.5, len(vs) - 1)), 6) AS ewma
        |FROM w""".stripMargin,

    // session entry paths: first 3 event types per lag-session
    "session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |n AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session FROM l),
        |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id ORDER BY us, event_id) AS rn FROM s),
        |p AS (SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1""".stripMargin,

    // wide->long unpivot of exact-sum per-language aggregates
    "lang_unpivot" ->
      """WITH a AS (SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, max(n_chars) AS max_chars
        |  FROM documents GROUP BY 1)
        |SELECT lang, metric, value FROM (
        |  SELECT lang, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
        |  UNION ALL
        |  SELECT lang, 'avg_chars', round(CAST(sum_chars AS DOUBLE) / n_docs, 6) FROM a
        |  UNION ALL
        |  SELECT lang, 'max_chars', CAST(max_chars AS DOUBLE) FROM a)""".stripMargin,

    // exact tie-corrected Mann-Whitney AUC of the quality score as an
    // English-ness ranker; numerator kept doubled so it stays integral
    "roc_auc" ->
      s"""WITH s AS (SELECT $qualitySql AS score,
         |  CASE WHEN coalesce(lang = 'en', false) THEN 1 ELSE 0 END AS y FROM documents),
         |c AS (SELECT score, CAST(sum(y) AS BIGINT) AS n_pos,
         |      CAST(count(*) - sum(y) AS BIGINT) AS n_neg FROM s GROUP BY 1),
         |w AS (SELECT *, CAST(sum(n_neg) OVER (ORDER BY score) AS BIGINT) AS cum_neg FROM c),
         |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |      CAST(sum(n_neg) AS BIGINT) AS n_neg, count(*) AS n_scores,
         |      sum(n_pos * (2 * (cum_neg - n_neg) + n_neg)) AS numer2 FROM w)
         |SELECT n_pos, n_neg, n_scores,
         |  round(CAST(numer2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
         |FROM t""".stripMargin,

    // precision/recall at every distinct score threshold (predict
    // positive when score >= t); f1 from exact counts, not rounded p/r
    "pr_curve" ->
      s"""WITH s AS (SELECT $qualitySql AS score,
         |  CASE WHEN coalesce(lang = 'en', false) THEN 1 ELSE 0 END AS y FROM documents),
         |c AS (SELECT score, CAST(sum(y) AS BIGINT) AS n_pos,
         |      CAST(count(*) - sum(y) AS BIGINT) AS n_neg FROM s GROUP BY 1),
         |w AS (SELECT score,
         |      CAST(sum(n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         |      CAST(sum(n_neg) OVER (ORDER BY score DESC) AS BIGINT) AS fp,
         |      CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos FROM c)
         |SELECT score AS threshold, tp, fp, total_pos - tp AS fn,
         |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS "precision",
         |  round(CAST(tp AS DOUBLE) / total_pos, 6) AS recall,
         |  round(2.0 * tp / (2 * tp + fp + total_pos - tp), 6) AS f1
         |FROM w""".stripMargin,

    // McNemar continuity-corrected chi^2 between the stopword-density
    // rule (>=2 hits) and the marker-token rule (any EnMarkers hit)
    "mcnemar_test" ->
      """WITH r AS (SELECT
        |  coalesce(len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |    t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) >= 2, false) AS pred_a,
        |  coalesce(len(list_filter(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
        |    t -> t IN ('the','a','of','and','is','query','join'))) >= 1, false) AS pred_b,
        |  coalesce(lang = 'en', false) AS truth FROM documents),
        |m AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN pred_a = truth THEN 1 ELSE 0 END) AS BIGINT) AS a_correct,
        |  CAST(sum(CASE WHEN pred_b = truth THEN 1 ELSE 0 END) AS BIGINT) AS b_correct,
        |  CAST(sum(CASE WHEN pred_a = truth AND pred_b <> truth THEN 1 ELSE 0 END) AS BIGINT) AS b_cell,
        |  CAST(sum(CASE WHEN pred_a <> truth AND pred_b = truth THEN 1 ELSE 0 END) AS BIGINT) AS c_cell
        |  FROM r)
        |SELECT n, a_correct, b_correct, b_cell, c_cell,
        |  round(CAST(a_correct AS DOUBLE) / n, 6) AS acc_a,
        |  round(CAST(b_correct AS DOUBLE) / n, 6) AS acc_b,
        |  round(CASE WHEN b_cell + c_cell > 0
        |    THEN power(abs(b_cell - c_cell) - 1.0, 2) / CAST(b_cell + c_cell AS DOUBLE)
        |    ELSE 0.0 END, 6) AS chi2
        |FROM m""".stripMargin,

    // reliability bins of the logistic-linked quality score: the one
    // transcendental rounds to 6 dp, then lives as exact micro-units
    "calibration_bins" ->
      s"""WITH p AS (SELECT
         |  CAST(round(round(1.0 / (1.0 + exp(2.0 - 4.0 * $qualitySql)), 6) * 1000000, 0) AS BIGINT) AS p_micro,
         |  CASE WHEN coalesce(lang = 'en', false) THEN 1 ELSE 0 END AS y FROM documents),
         |b AS (SELECT CAST(least(p_micro * 10 // 1000000, 9) AS BIGINT) AS bin, p_micro, y FROM p)
         |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |  round(CAST(sum(p_micro) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_p,
         |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
         |  round(CAST(sum((p_micro - y * 1000000) * (p_micro - y * 1000000)) AS DOUBLE)
         |    / count(*) / 1000000000000.0, 6) AS brier
         |FROM b GROUP BY 1""".stripMargin,

    // isotonic (PAV) calibration fit via the exact minimax closed form
    // over the bins^3 triple frame; range sums off integer prefix sums
    "isotonic_calibration" ->
      s"""WITH p AS (SELECT
         |  CAST(round(round(1.0 / (1.0 + exp(2.0 - 4.0 * $qualitySql)), 6) * 1000000, 0) AS BIGINT) AS p_micro,
         |  CASE WHEN coalesce(lang = 'en', false) THEN 1 ELSE 0 END AS y FROM documents),
         |b AS (SELECT CAST(least(p_micro * 10 // 1000000, 9) AS BIGINT) AS bin, y FROM p),
         |g AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos FROM b GROUP BY 1),
         |c AS (SELECT bin, n, n_pos,
         |  CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         |  CAST(sum(n_pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
         |  FROM g),
         |pref AS (SELECT bin AS pj, cum_n - n AS pn, cum_pos - n_pos AS pp FROM c),
         |suff AS (SELECT bin AS k, cum_n AS kn, cum_pos AS kp FROM c),
         |mn AS (SELECT c.bin, c.n, c.n_pos, pref.pj,
         |  min(CAST(kp - pp AS DOUBLE) / (kn - pn)) AS mn
         |  FROM c JOIN pref ON pref.pj <= c.bin JOIN suff ON suff.k >= c.bin
         |  GROUP BY 1, 2, 3, 4)
         |SELECT bin, n, round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
         |  round(max(mn), 6) AS iso_fit
         |FROM mn GROUP BY bin, n, n_pos""".stripMargin,

    // SQL PIVOT syntax twin: same cells as pivot_events, parser-declared
    "sql_pivot_events" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      "SELECT user_id, " + types.map { t =>
        s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS ${t}_n, " +
          s"CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)) FILTER (event_type = '$t'), 0) AS BIGINT) AS ${t}_cents"
      }.mkString(", ") + " FROM events GROUP BY user_id"
    },

    // SQL UNPIVOT syntax twin: wide per-lang stats melted to rows
    "sql_unpivot_stats" ->
      """WITH w AS (SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |  FROM documents GROUP BY lang)
        |SELECT lang, 'n_docs' AS metric, n_docs AS val FROM w
        |UNION ALL SELECT lang, 'sum_chars', sum_chars FROM w
        |UNION ALL SELECT lang, 'min_chars', min_chars FROM w
        |UNION ALL SELECT lang, 'max_chars', max_chars FROM w""".stripMargin,

    // decontam width sweep (B272): the contamination_check chain at
    // n = 4 / 8 / 13, one summary row per width
    "decontam_ngram_sweep" -> {
      def block(n: Int): String = {
        val gram = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
        s"""SELECT CAST($n AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS n_flagged_docs,
           |  CAST(coalesce(sum(n_shared), 0) AS BIGINT) AS total_shared_grams
           |FROM (
           |  WITH sh AS (SELECT doc_id,
           |      unnest(list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
           |        i -> $gram))) AS g
           |    FROM t WHERE len(toks) >= $n),
           |  b AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 50 = 0),
           |  c AS (SELECT doc_id, g FROM sh WHERE doc_id % 50 <> 0)
           |  SELECT doc_id, count(DISTINCT g) AS n_shared
           |  FROM c JOIN b USING (g) GROUP BY doc_id)""".stripMargin
      }
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         |${block(4)}
         |UNION ALL
         |${block(8)}
         |UNION ALL
         |${block(13)}""".stripMargin
    },

    // lognormal length fit (B273): ln terms 9dp, two-level sorted folds
    "length_lognormal_fit" ->
      """WITH terms AS (SELECT lang, n_chars, doc_id % 1024 AS sb,
        |    round(ln(CAST(n_chars AS DOUBLE)), 9) AS l
        |  FROM documents WHERE n_chars > 0),
        |l1 AS (SELECT lang, sb, count(*) AS c, CAST(sum(n_chars) AS BIGINT) AS sc,
        |    list_reduce(list_sort(list(l)), (a, b) -> a + b) AS sl,
        |    list_reduce(list_sort(list(l * l)), (a, b) -> a + b) AS sl2
        |  FROM terms GROUP BY 1, 2),
        |m AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(sc) AS BIGINT) AS sum_chars,
        |    list_reduce(list_sort(list(sl)), (a, b) -> a + b) AS sl,
        |    list_reduce(list_sort(list(sl2)), (a, b) -> a + b) AS sl2
        |  FROM l1 GROUP BY 1),
        |d AS (SELECT lang, n_docs, sum_chars, CAST(n_docs AS DOUBLE) AS n,
        |    sl / CAST(n_docs AS DOUBLE) AS mu,
        |    sqrt(sl2 / CAST(n_docs AS DOUBLE)
        |      - (sl / CAST(n_docs AS DOUBLE)) * (sl / CAST(n_docs AS DOUBLE))) AS sigma
        |  FROM m)
        |SELECT lang, n_docs, round(mu, 6) AS mu_ln, round(sigma, 6) AS sigma_ln,
        |  round(exp(mu), 6) AS fitted_median,
        |  round(exp(mu + sigma * sigma / 2.0), 6) AS fitted_mean,
        |  round(CAST(sum_chars AS DOUBLE) / n, 6) AS actual_mean,
        |  round((CAST(sum_chars AS DOUBLE) / n) / exp(mu + sigma * sigma / 2.0), 6)
        |    AS mean_ratio
        |FROM d""".stripMargin,

    // inline VALUES dim join (C251): same literal table both engines
    "sql_values_inline" ->
      """SELECT w.category, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT) * w.weight) AS BIGINT)
        |    AS weighted_cents
        |FROM events e
        |JOIN (VALUES ('click', 1, 'engage'), ('view', 1, 'engage'),
        |             ('purchase', 5, 'convert'), ('signup', 3, 'convert'),
        |             ('error', 0, 'noise'))
        |  AS w(event_type, weight, category)
        |  ON e.event_type = w.event_type
        |GROUP BY w.category""".stripMargin,

    // filtered vector search (B270): label equality rides the probe join
    "ann_filtered" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS n_id, embedding AS n_emb, label AS n_label FROM embeddings),
         |scored AS (SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM q JOIN c ON q_id <> n_id AND q_label = n_label),
         |ranked AS (SELECT q_id, n_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
         |SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos FROM ranked WHERE rnk <= 5""".stripMargin,

    // post-filter recall (B271): unfiltered top-20 -> label filter ->
    // keep 5, measured against the true pre-filtered top-5
    "ann_postfilter_recall" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS n_id, embedding AS n_emb, label AS n_label FROM embeddings),
         |su AS (SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM q JOIN c ON q_id <> n_id),
         |ru AS (SELECT q_id, n_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM su),
         |post AS (SELECT ru.q_id, ru.n_id, ru.cos FROM ru
         |  JOIN q ON ru.q_id = q.q_id
         |  JOIN c ON ru.n_id = c.n_id
         |  WHERE ru.rnk <= 20 AND c.n_label = q.q_label),
         |pr AS (SELECT q_id, n_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM post),
         |ptop AS (SELECT q_id, n_id FROM pr WHERE rnk <= 5),
         |sf AS (SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
         |  FROM q JOIN c ON q_id <> n_id AND q_label = n_label),
         |rf AS (SELECT q_id, n_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM sf),
         |truth AS (SELECT q_id, n_id FROM rf WHERE rnk <= 5),
         |h AS (SELECT t.q_id, count(*) AS n_hits FROM truth t
         |  JOIN ptop p ON t.q_id = p.q_id AND t.n_id = p.n_id GROUP BY 1),
         |nt AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_truth FROM truth GROUP BY 1)
         |SELECT nt.q_id, nt.n_truth,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / nt.n_truth, 6) AS recall
         |FROM nt LEFT JOIN h ON nt.q_id = h.q_id""".stripMargin,

    // slop-phrase census (B269): top-20 5-grams by doc spread
    "slop_phrases" ->
      s"""WITH g AS (SELECT doc_id, unnest(list_transform(range(1, len($toks) - 3),
         |    i -> array_to_string(($toks)[i:i+4], ' '))) AS phrase
         |  FROM documents WHERE len($toks) >= 5),
         |st AS (SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_occurrences
         |  FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         |top AS (SELECT * FROM st
         |  ORDER BY n_docs DESC, n_occurrences DESC, phrase LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, n_occurrences DESC, phrase) AS BIGINT) AS rank,
         |  phrase, n_docs, n_occurrences
         |FROM top""".stripMargin,

    // ANSI safety valves (C249): each hazard through DuckDB's own valve
    "ansi_safety_valves" ->
      """SELECT
        |  CAST((10 / nullif(0, 0)) IS NULL AS BIGINT) AS div_by_zero_null,
        |  CAST(TRY_CAST('not a number' AS INTEGER) IS NULL AS BIGINT) AS bad_cast_null,
        |  CAST(TRY_CAST('9223372036854775808' AS BIGINT) IS NULL AS BIGINT) AS overflow_null,
        |  CAST(([1, 2, 3])[9] IS NULL AS BIGINT) AS oob_index_null""".stripMargin,

    // as-of with tolerance (C250): ASOF LEFT JOIN + CASE on the gap
    "asof_join_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us,
        |             min(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, p.us,
        |  CASE WHEN p.us - c.click_us <= 3600000000 THEN c.click_event_id END AS click_event_id,
        |  CASE WHEN p.us - c.click_us <= 3600000000 THEN c.click_us END AS click_us,
        |  CASE WHEN p.us - c.click_us <= 3600000000 THEN p.us - c.click_us END AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.us >= c.click_us""".stripMargin,

    // rank-biased overlap (B268): BM25 top-10 vs plain-TF top-10,
    // truncated RBO@10 at p=0.9; everything past the two top-k's bounded
    "rbo_rankers" ->
      s"""WITH b AS ($bm25Sql),
         |sa AS (SELECT doc_id,
         |    round(list_reduce(list_sort(list(bm25)), (p, r) -> p + r), 6) AS score
         |  FROM b WHERE token IN ('query', 'join', 'scan')
         |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10),
         |ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra FROM sa),
         |tfq AS (SELECT doc_id,
         |    len(list_filter($toks, t -> t IN ('query', 'join', 'scan')))::BIGINT AS tf
         |  FROM documents),
         |sb AS (SELECT doc_id, tf FROM tfq WHERE tf > 0 ORDER BY tf DESC, doc_id LIMIT 10),
         |rb AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS rb FROM sb),
         |j AS (SELECT coalesce(ra.ra, 9223372036854775807) AS ra2,
         |    coalesce(rb.rb, 9223372036854775807) AS rb2
         |  FROM ra FULL OUTER JOIN rb USING (doc_id)),
         |ds AS (SELECT unnest(range(1, 11)) AS d),
         |xd AS (SELECT d, count(*) AS x FROM j, ds WHERE ra2 <= d AND rb2 <= d GROUP BY 1),
         |ad AS (SELECT ds.d, coalesce(x, 0) AS x,
         |    round(pow(0.9, ds.d - 1) * CAST(coalesce(x, 0) AS DOUBLE) / ds.d, 9) AS term
         |  FROM ds LEFT JOIN xd USING (d))
         |SELECT CAST(10 AS BIGINT) AS k,
         |  CAST(max(CASE WHEN d = 10 THEN x END) AS BIGINT) AS overlap_at_k,
         |  round((1.0 - 0.9) * list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS rbo_trunc
         |FROM ad""".stripMargin,

    // bag set ops (C248): identical syntax both engines
    "sql_bag_set_ops" ->
      """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |     v AS (SELECT user_id FROM events WHERE event_type = 'view')
        |SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM v)
        |UNION ALL
        |SELECT 'except_all', CAST(count(*) AS BIGINT)
        |FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM v)
        |UNION ALL
        |SELECT 'intersect_distinct', CAST(count(*) AS BIGINT)
        |FROM (SELECT * FROM c INTERSECT SELECT * FROM v)""".stripMargin,

    // Platt scaling (B267): 8 unrolled Newton steps over per-distinct-
    // score counts; two-level sorted folds, (a, b) rounds 9dp per step
    "platt_scaling" -> {
      val steps = (1 to 8).map { i =>
        s"""tp$i AS (SELECT sb, score, n_pos, n_neg, n,
           |  1.0 / (1.0 + exp(-(ab${i - 1}.a * score + ab${i - 1}.b))) AS p
           |  FROM scb, ab${i - 1}),
           |l1_$i AS (SELECT sb,
           |  list_reduce(list_sort(list(score * (n * p - n_pos))), (x, y) -> x + y) AS ga,
           |  list_reduce(list_sort(list(n * p - n_pos)), (x, y) -> x + y) AS gb,
           |  list_reduce(list_sort(list(n * p * (1.0 - p) * score * score)), (x, y) -> x + y) AS haa,
           |  list_reduce(list_sort(list(n * p * (1.0 - p) * score)), (x, y) -> x + y) AS hab,
           |  list_reduce(list_sort(list(n * p * (1.0 - p))), (x, y) -> x + y) AS hbb
           |  FROM tp$i GROUP BY sb),
           |l2_$i AS (SELECT
           |  list_reduce(list_sort(list(ga)), (x, y) -> x + y) AS ga,
           |  list_reduce(list_sort(list(gb)), (x, y) -> x + y) AS gb,
           |  list_reduce(list_sort(list(haa)), (x, y) -> x + y) AS haa,
           |  list_reduce(list_sort(list(hab)), (x, y) -> x + y) AS hab,
           |  list_reduce(list_sort(list(hbb)), (x, y) -> x + y) AS hbb
           |  FROM l1_$i),
           |ab$i AS (SELECT
           |  round(ab${i - 1}.a - (l.hbb * l.ga - l.hab * l.gb)
           |    / (l.haa * l.hbb - l.hab * l.hab), 9) AS a,
           |  round(ab${i - 1}.b - (l.haa * l.gb - l.hab * l.ga)
           |    / (l.haa * l.hbb - l.hab * l.hab), 9) AS b
           |  FROM l2_$i l, ab${i - 1})""".stripMargin
      }
      s"""WITH sc AS (SELECT $qualitySql AS score,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
         |  FROM documents GROUP BY 1),
         |scb AS (SELECT score, n_pos, n_neg, n_pos + n_neg AS n,
         |  CAST(round(score * 1000000) AS BIGINT) % 1024 AS sb FROM sc),
         |ab0 AS (SELECT 0.0 AS a, 0.0 AS b),
         |${steps.mkString(",\n")},
         |nt AS (SELECT sb,
         |  -(n_pos * ln(1.0 / (1.0 + exp(-(ab8.a * score + ab8.b))))
         |    + n_neg * ln(1.0 - 1.0 / (1.0 + exp(-(ab8.a * score + ab8.b))))) AS t
         |  FROM scb, ab8),
         |n1 AS (SELECT sb, list_reduce(list_sort(list(t)), (x, y) -> x + y) AS s
         |  FROM nt GROUP BY sb),
         |n2 AS (SELECT list_reduce(list_sort(list(s)), (x, y) -> x + y) AS nll FROM n1)
         |SELECT CAST(8 AS BIGINT) AS n_steps, round(ab8.a, 6) AS a,
         |  round(ab8.b, 6) AS b, round(n2.nll, 6) AS nll
         |FROM ab8, n2""".stripMargin
    },

    // ABC classification (C247): window cumsum under the same total order,
    // HUGEINT boundary products mirror decimal(38,0)
    "orders_abc" ->
      """WITH pp AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT l_partkey, revenue_cents,
        |    sum(revenue_cents) OVER (ORDER BY revenue_cents DESC, l_partkey) AS cum,
        |    sum(revenue_cents) OVER () AS total FROM pp),
        |c AS (SELECT CASE WHEN cum::HUGEINT * 100 <= total::HUGEINT * 80 THEN 'A'
        |                  WHEN cum::HUGEINT * 100 <= total::HUGEINT * 95 THEN 'B'
        |                  ELSE 'C' END AS abc_class, revenue_cents, total FROM r)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(revenue_cents) AS BIGINT) AS revenue_cents,
        |  round(CAST(CAST(sum(revenue_cents) AS BIGINT) AS DOUBLE) / max(total), 6) AS revenue_share
        |FROM c GROUP BY 1""".stripMargin,

    // embedding isotropy (B266): mean pairwise unit cosine off the
    // sum-vector identity; 9dp units, two-level sorted folds throughout
    "embed_isotropy" ->
      """WITH u AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE)
        |      / sqrt(list_reduce(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a, b) -> a + b)), 9)) AS u
        |  FROM embeddings
        |  WHERE list_reduce(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a, b) -> a + b) > 0),
        |pd AS (SELECT CAST(d AS BIGINT) AS dim, vec_id % 1024 AS sb, u[d] AS x
        |  FROM u, range(1, 65) r(d)),
        |l1 AS (SELECT dim, sb, list_reduce(list_sort(list(x)), (a, b) -> a + b) AS ss
        |  FROM pd GROUP BY 1, 2),
        |l2 AS (SELECT dim, list_reduce(list_sort(list(ss)), (a, b) -> a + b) AS s
        |  FROM l1 GROUP BY 1),
        |s2 AS (SELECT list_reduce(list_sort(list(s * s)), (a, b) -> a + b) AS norm_s2 FROM l2),
        |dg1 AS (SELECT vec_id % 1024 AS sb,
        |    list_reduce(list_transform(u, x -> x * x), (a, b) -> a + b) AS uu FROM u),
        |dg2 AS (SELECT sb, list_reduce(list_sort(list(uu)), (a, b) -> a + b) AS ss
        |  FROM dg1 GROUP BY 1),
        |dg AS (SELECT list_reduce(list_sort(list(ss)), (a, b) -> a + b) AS q FROM dg2),
        |n AS (SELECT count(*) AS n_vecs FROM u)
        |SELECT CAST(n_vecs AS BIGINT) AS n_vecs, round(norm_s2, 6) AS norm_s2,
        |  CASE WHEN n_vecs > 1 THEN
        |    round((norm_s2 - q) / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE)), 6)
        |  END AS mean_pairwise_cos
        |FROM n, s2, dg""".stripMargin,

    // lateral column alias (C245): same aliased-reference syntax on DuckDB
    "sql_lateral_alias" ->
      """SELECT lang, n_docs, sum_chars,
        |  round(CAST(sum_chars AS DOUBLE) / n_docs, 6) AS avg_chars,
        |  round(round(CAST(sum_chars AS DOUBLE) / n_docs, 6) / 100.0, 6) AS avg_hundreds
        |FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |      FROM documents GROUP BY lang)""".stripMargin,

    // MCC + balanced accuracy per rule classifier (B264): the mcnemar
    // rule predicates, confusion cells exact, marginal products as doubles
    "mcc_score" ->
      """WITH r AS (SELECT
        |  coalesce(len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |    t -> lower(t) IN ('the','a','an','and','or','of','to','in','is','it'))) >= 2, false) AS pred_a,
        |  coalesce(len(list_filter(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
        |    t -> t IN ('the','a','of','and','is','query','join'))) >= 1, false) AS pred_b,
        |  coalesce(lang = 'en', false) AS truth FROM documents),
        |c AS (SELECT 'stopword_rule' AS classifier, pred_a AS p, truth AS t FROM r
        |      UNION ALL SELECT 'marker_rule', pred_b, truth FROM r),
        |m AS (SELECT classifier, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN NOT p AND t THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(sum(CASE WHEN NOT p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM c GROUP BY 1)
        |SELECT classifier, n, tp, fp, fn, tn,
        |  round(CASE WHEN (tp + fp) * (tp + fn) = 0 OR (tn + fp) * (tn + fn) = 0 THEN 0.0
        |    ELSE (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
        |      / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
        |             * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) END, 6) AS mcc,
        |  round((CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END
        |       + CASE WHEN tn + fp > 0 THEN CAST(tn AS DOUBLE) / (tn + fp) ELSE 0.0 END)
        |       / 2.0, 6) AS balanced_acc
        |FROM m""".stripMargin,

    // Wilson 95% CI per lang (B265): z*z spelled as 1.96 * 1.96 so both
    // engines compute the SAME double (the decimal literal 3.8416 parses
    // to a different ulp than the runtime product)
    "quality_wilson_ci" ->
      s"""WITH q AS (SELECT lang,
         |    CASE WHEN $qualitySql >= 0.5 THEN 1 ELSE 0 END AS pass FROM documents),
         |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(pass) AS BIGINT) AS n_pass FROM q GROUP BY 1),
         |d AS (SELECT lang, n_docs, n_pass, CAST(n_docs AS DOUBLE) AS n,
         |    CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p FROM m)
         |SELECT lang, n_docs, n_pass, round(p, 6) AS p_hat,
         |  round((p + (1.96 * 1.96) / (2.0 * n)
         |    - 1.96 * sqrt(p * (1.0 - p) / n + (1.96 * 1.96) / (4.0 * n * n)))
         |    / (1.0 + (1.96 * 1.96) / n), 6) AS ci_lo,
         |  round((p + (1.96 * 1.96) / (2.0 * n)
         |    + 1.96 * sqrt(p * (1.0 - p) / n + (1.96 * 1.96) / (4.0 * n * n)))
         |    / (1.0 + (1.96 * 1.96) / n), 6) AS ci_hi
         |FROM d""".stripMargin,

    // XML ingest (C242): JSONL twin — cross-format consistency, the
    // orc_ingest discipline (DuckDB has no XML reader)
    "xml_ingest" ->
      s"""SELECT doc_id, lang, text, meta.author AS author, meta.year AS year,
        |  coalesce(array_to_string(tags, ','), '') AS tags_csv, len(tags)::BIGINT AS n_tags
        |FROM read_json('${graft.SparkEntry.resourceDir}/docs_sample.jsonl',
        |  format = 'newline_delimited',
        |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
        |             meta: 'STRUCT(author VARCHAR, year BIGINT)', tags: 'VARCHAR[]'})""".stripMargin,

    // collation semantics (C243): lower() is the oracle's spelling of
    // UTF8_LCASE (the fixture alphabet is pure ASCII)
    "collation_semantics" ->
      """WITH s AS (SELECT CASE WHEN (doc_id // 20) % 2 = 0 THEN upper(source) ELSE source END AS src
        |           FROM documents)
        |SELECT CAST(count(DISTINCT lower(src)) AS BIGINT) AS n_sources_ci,
        |  CAST(count(DISTINCT src) AS BIGINT) AS n_sources_cs,
        |  CAST(sum(CASE WHEN lower(src) = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_src1_ci
        |FROM s""".stripMargin,

    // GROUP BY ALL (C244): DuckDB runs the same inferred-grouping syntax
    "sql_groupby_all" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ALL""".stripMargin,

    // Gini over token frequencies (B259): the spend_gini rank formula
    // over the vocabulary
    "vocab_gini" ->
      s"""WITH c AS (SELECT token, count(*) AS c
         |  FROM (SELECT unnest($toks) AS token FROM documents) GROUP BY token),
         |r AS (SELECT c, row_number() OVER (ORDER BY c, token) AS i FROM c),
         |s AS (SELECT count(*) AS n_types, CAST(sum(c) AS BIGINT) AS total_tokens,
         |  sum(i::HUGEINT * c) AS rank_sum FROM r)
         |SELECT CAST(n_types AS BIGINT) AS n_types, total_tokens,
         |  round(2.0 * CAST(rank_sum AS DOUBLE) / (CAST(n_types AS DOUBLE) * total_tokens)
         |        - CAST(n_types + 1 AS DOUBLE) / n_types, 6) AS gini
         |FROM s""".stripMargin,

    // pairwise source win-rate matrix (B260): top-10 quality reps per
    // (lang, source), head-to-head within lang; quality ties score neither
    "pairwise_win_matrix" ->
      s"""WITH q AS (SELECT doc_id, lang, source, $qualitySql AS q FROM documents),
         |r AS (SELECT lang, source, q,
         |  row_number() OVER (PARTITION BY lang, source ORDER BY q DESC, doc_id) AS rnk FROM q),
         |top AS (SELECT lang, source, q FROM r WHERE rnk <= 10)
         |SELECT a.lang, a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a.q > b.q THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
         |  CAST(sum(CASE WHEN b.q > a.q THEN 1 ELSE 0 END) AS BIGINT) AS wins_b,
         |  round(CAST(sum(CASE WHEN a.q > b.q THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS win_rate_a
         |FROM top a JOIN top b ON a.lang = b.lang AND a.source < b.source
         |GROUP BY 1, 2, 3""".stripMargin,

    // Burrows's Delta (B261): z-scored top-20 token relative frequencies,
    // sorted folds throughout, var > 0 gate (no NaN comparisons)
    "burrows_delta" ->
      s"""WITH tk AS (SELECT source, unnest($toks) AS token FROM documents),
         |cnt AS (SELECT source, token, count(*) AS c FROM tk GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
         |top AS (SELECT token FROM (SELECT token, sum(c) AS gc FROM cnt GROUP BY 1)
         |        ORDER BY gc DESC, token LIMIT 20),
         |grid AS (SELECT t.source, p.token,
         |    round(CAST(coalesce(c.c, 0) AS DOUBLE) / t.tot, 9) AS f
         |  FROM tot t CROSS JOIN top p
         |  LEFT JOIN cnt c ON c.source = t.source AND c.token = p.token),
         |st AS (SELECT token, count(*) AS ns,
         |    list_reduce(list_sort(list(f)), (a, b) -> a + b) AS sf,
         |    list_reduce(list_sort(list(f * f)), (a, b) -> a + b) AS sf2
         |  FROM grid GROUP BY 1),
         |sv AS (SELECT token, sf / ns AS mu,
         |    sf2 / ns - (sf / ns) * (sf / ns) AS variance FROM st
         |  WHERE sf2 / ns - (sf / ns) * (sf / ns) > 0.0),
         |z AS (SELECT g.source, g.token, round((g.f - s.mu) / sqrt(s.variance), 6) AS z
         |  FROM grid g JOIN sv s ON g.token = s.token),
         |d AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(round(abs(a.z - b.z) * 1000000) AS BIGINT) AS dzm
         |  FROM z a JOIN z b ON a.token = b.token AND a.source < b.source),
         |g AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_tokens_used,
         |  CAST(sum(dzm) AS BIGINT) AS s FROM d GROUP BY 1, 2)
         |SELECT src_a, src_b, n_tokens_used,
         |  CAST((2 * s + n_tokens_used) // (2 * n_tokens_used) AS DOUBLE) / 1000000.0 AS delta
         |FROM g""".stripMargin,

    // simhash hamming histogram (B262): the simhash_det fingerprint at
    // radius 6 (7 pigeonhole chunks of 32//7 bits), pair counts by distance
    "simhash_hamming_hist" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM t),
         |bs AS (SELECT doc_id, j,
         |  sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS j) GROUP BY doc_id, j),
         |fp AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bs GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, q,
         |  (simhash >> (q * 32 // 7)) & ((1::BIGINT << ((q + 1) * 32 // 7 - q * 32 // 7)) - 1) AS key
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 7)) AS q)),
         |p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  a.simhash AS afp, b.simhash AS bfp
         |  FROM blk a JOIN blk b ON a.q = b.q AND a.key = b.key AND a.doc_id < b.doc_id),
         |hd AS (SELECT CAST(bit_count(xor(afp, bfp)) AS BIGINT) AS hamming FROM p
         |  WHERE bit_count(xor(afp, bfp)) <= 6)
         |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs FROM hd GROUP BY 1""".stripMargin,

    // Spearman rho with average ranks in exact 2x-rank integer space
    // (B263): HUGEINT moments mirror decimal(38,0)
    "spearman_quality_length" ->
      s"""WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len, $qualitySql AS q FROM documents),
         |lv AS (SELECT len, count(*) AS cnt FROM s GROUP BY 1),
         |lr AS (SELECT len, 2 * sum(cnt) OVER (ORDER BY len) - cnt + 1 AS rx FROM lv),
         |qv AS (SELECT q, count(*) AS cnt FROM s GROUP BY 1),
         |qr AS (SELECT q, 2 * sum(cnt) OVER (ORDER BY q) - cnt + 1 AS ry FROM qv),
         |b AS (SELECT rx, ry FROM s JOIN lr USING (len) JOIN qr USING (q)),
         |m AS (SELECT count(*) AS n, sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
         |  sum(rx::HUGEINT * ry) AS sxy, sum(rx::HUGEINT * rx) AS sxx,
         |  sum(ry::HUGEINT * ry) AS syy FROM b)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  round(CAST(n::HUGEINT * sxy - sx * sy AS DOUBLE)
         |    / (sqrt(CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE))
         |       * sqrt(CAST(n::HUGEINT * syy - sy * sy AS DOUBLE))), 6) AS rho_spearman
         |FROM m""".stripMargin,

    // exact rolling distinct via bitmap word partials (C238): bit_or is
    // idempotent, so the raw event stream needs no pre-distinct
    "bitmap_window_distinct" ->
      """WITH w AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day,
        |    user_id // 32 AS word,
        |    CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER) AS bit FROM events),
        |days AS (SELECT DISTINCT day FROM w),
        |daily AS (SELECT day, word, bit_or(bit) AS bits FROM w GROUP BY 1, 2),
        |m AS (SELECT win_day, word, bit_or(bits) AS bits FROM (
        |    SELECT unnest(range(day, day + 7)) AS win_day, word, bits FROM daily)
        |  WHERE win_day IN (SELECT day FROM days) GROUP BY 1, 2),
        |agg AS (SELECT win_day, CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct,
        |    CAST(count(*) AS BIGINT) AS n_words FROM m GROUP BY 1),
        |ex AS (SELECT win_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_true FROM (
        |    SELECT unnest(range(day, day + 7)) AS win_day, user_id
        |    FROM (SELECT DISTINCT epoch_ns(ts) // 1000 // 86400000000 AS day, user_id
        |          FROM events))
        |  WHERE win_day IN (SELECT day FROM days) GROUP BY 1)
        |SELECT agg.win_day, n_distinct, n_true, n_words
        |FROM agg JOIN ex USING (win_day)""".stripMargin,

    // discrete per-type percentiles (C239): value AT rank ceil(p*n) under
    // the total (cents, event_id) order — self-defined, engine-agnostic
    "value_percentiles_disc" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |r AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(min(CASE WHEN rnk = (n + 1) // 2 THEN c END) AS BIGINT) AS p50_cents,
        |  CAST(min(CASE WHEN rnk = (9 * n + 9) // 10 THEN c END) AS BIGINT) AS p90_cents,
        |  CAST(min(CASE WHEN rnk = (99 * n + 99) // 100 THEN c END) AS BIGINT) AS p99_cents
        |FROM r GROUP BY event_type""".stripMargin,

    // join-view IVM (C240): the oracle is the from-scratch join+agg the
    // four-term delta union must equal
    "ivm_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,

    // skew/kurtosis from exact integer power sums (C241): HUGEINT mirrors
    // decimal(38,0); every emitted statistic is an O(1) ratio
    "price_moments" ->
      """WITH s AS (SELECT c_mktsegment, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1,
        |    sum(c::HUGEINT * c) AS s2,
        |    sum(c::HUGEINT * c * c) AS s3,
        |    sum(c::HUGEINT * c * c * c) AS s4
        |  FROM (SELECT c_mktsegment, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |        FROM orders JOIN customer ON o_custkey = c_custkey)
        |  GROUP BY c_mktsegment),
        |d AS (SELECT c_mktsegment, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4 FROM s),
        |mm AS (SELECT c_mktsegment, n, mu,
        |    e2 - mu * mu AS m2,
        |    e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu AS m3,
        |    e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2 - 3.0 * mu * mu * mu * mu AS m4
        |  FROM d)
        |SELECT c_mktsegment, CAST(n AS BIGINT) AS n_orders,
        |  round(mu / 100.0, 6) AS mean_dollars,
        |  round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM mm""".stripMargin,

    // stationary distribution of the event-type Markov chain: 12
    // unrolled power steps, 9dp products folded in from-state order
    "markov_stationary" -> {
      val rounds = (1 to 12).map { i =>
        s"""pi$i AS (SELECT m.t AS s,
           |  round(list_reduce(list(round(pi${i - 1}.pi * m.p, 9) ORDER BY m.f),
           |    (a, b) -> a + b), 9) AS pi
           |  FROM pi${i - 1} JOIN m ON pi${i - 1}.s = m.f GROUP BY m.t)""".stripMargin
      }
      s"""WITH tr AS (SELECT event_type AS f,
         |  lead(event_type) OVER (PARTITION BY user_id
         |    ORDER BY epoch_ns(ts) // 1000, event_id) AS t FROM events),
         |tr2 AS (SELECT f, t FROM tr WHERE t IS NOT NULL),
         |counts AS (SELECT f, t, count(*) AS n FROM tr2 GROUP BY 1, 2),
         |m AS (SELECT c.f, c.t, round(CAST(c.n AS DOUBLE) / s.nf, 9) AS p
         |  FROM counts c JOIN (SELECT f, CAST(sum(n) AS BIGINT) AS nf
         |    FROM counts GROUP BY 1) s USING (f)),
         |states AS (SELECT DISTINCT f AS s FROM m),
         |k AS (SELECT count(*) AS k FROM states),
         |pi0 AS (SELECT s, round(1.0 / k, 9) AS pi FROM states CROSS JOIN k),
         |${rounds.mkString(",\n")}
         |SELECT s AS event_type, round(pi, 6) AS stationary_p FROM pi12""".stripMargin
    },

    // repeated-span profile: longest dyadic shingle length repeating
    // within a document, 5 tagged shingle streams
    "repeat_span_profile" -> {
      val blocks = Seq(2, 4, 8, 16, 32).map { n =>
        s"""SELECT DISTINCT doc_id, CAST($n AS BIGINT) AS span FROM (
           |  SELECT doc_id, array_to_string(toks[i:(i + ${n - 1})], ' ') AS sh
           |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${n - 2})) AS i
           |        FROM tk WHERE len(toks) >= ${n + 1}))
           |GROUP BY doc_id, span, sh HAVING count(*) >= 2""".stripMargin
      }
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
         |rep AS (${blocks.mkString("\nUNION ALL\n")})
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  coalesce(max(r.span), 0) AS max_rep_span
         |FROM tk t LEFT JOIN rep r ON r.doc_id = t.doc_id
         |GROUP BY 1, 2""".stripMargin
    },

    // shard rebalance plan: proportional binning by cumulative size
    "shard_rebalance_plan" ->
      """WITH sh AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |sw AS (SELECT source, bytes,
        |  CAST(sum(bytes) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(bytes) OVER () AS BIGINT) AS total FROM sh),
        |a AS (SELECT source, bytes, total,
        |  least(((cum - bytes) * 4) // total, 3) AS target_file FROM sw)
        |SELECT CAST(target_file AS BIGINT) AS target_file, count(*) AS n_shards,
        |  CAST(sum(bytes) AS BIGINT) AS n_bytes,
        |  round(CAST(sum(bytes) AS DOUBLE) * 4 / max(total), 6) AS balance_ratio
        |FROM a GROUP BY 1""".stripMargin,

    // split-half embedding stability: per-label parity-half centroids,
    // 9dp sorted-fold means, dim-ordered cosine terms
    "embed_label_drift" ->
      """WITH base AS (SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
        |  vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS x
        |  FROM (SELECT label, vec_id, embedding, unnest(range(1, 9)) AS pos
        |        FROM embeddings)),
        |cent AS (SELECT label, half, pos, count(*) AS n,
        |  round(list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(*), 9) AS c
        |  FROM base GROUP BY 1, 2, 3),
        |j AS (SELECT c0.label, c0.pos, c0.n AS rows0, c1.n AS rows1,
        |  round(c0.c * c1.c, 9) AS td, round(c0.c * c0.c, 9) AS t0,
        |  round(c1.c * c1.c, 9) AS t1
        |  FROM (SELECT * FROM cent WHERE half = 0) c0
        |  JOIN (SELECT * FROM cent WHERE half = 1) c1 USING (label, pos))
        |SELECT label, CAST(max(rows0) AS BIGINT) AS n_half0,
        |  CAST(max(rows1) AS BIGINT) AS n_half1,
        |  round(list_reduce(list(td ORDER BY pos), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list(t0 ORDER BY pos), (a, b) -> a + b))
        |       * sqrt(list_reduce(list(t1 ORDER BY pos), (a, b) -> a + b))), 6)
        |    AS drift_cos
        |FROM j GROUP BY label""".stripMargin,

    // GloVe X_ij: forward-window pairs weighted 1/d in exact micro-units
    "glove_cooc" ->
      s"""WITH t0 AS (SELECT $toks AS toks FROM documents),
         |t AS (SELECT toks FROM t0 WHERE len(toks) >= 2),
         |p AS (SELECT toks, unnest(generate_series(1, len(toks))) AS i FROM t),
         |q AS (SELECT toks, i, unnest(generate_series(i + 1, least(i + 5, len(toks)))) AS j FROM p),
         |pr AS (SELECT least(toks[i], toks[j]) AS tok_a, greatest(toks[i], toks[j]) AS tok_b,
         |       1000000 // (j - i) AS w_micro FROM q)
         |SELECT tok_a, tok_b, count(*) AS n_pairs,
         |  round(CAST(sum(w_micro) AS DOUBLE) / 1000000.0, 6) AS weight
         |FROM pr GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // item-item CF cosine over (customer, part) baskets; whale carts
    // capped at 50 items before the per-customer pair expansion
    "item_cf_scores" ->
      """WITH b AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |s AS (SELECT cust, item FROM (
        |        SELECT cust, item, count(*) OVER (PARTITION BY cust) AS basket_n FROM b)
        |      WHERE basket_n <= 50),
        |n AS (SELECT item, count(*) AS n_item FROM s GROUP BY 1),
        |p AS (SELECT a.item AS item_a, b2.item AS item_b, count(*) AS n_co
        |      FROM s a JOIN s b2 ON a.cust = b2.cust AND a.item < b2.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, CAST(na.n_item AS BIGINT) AS n_a,
        |  CAST(nb.n_item AS BIGINT) AS n_b, p.n_co,
        |  round(CAST(p.n_co AS DOUBLE) / sqrt(CAST(na.n_item * nb.n_item AS DOUBLE)), 6) AS cosine
        |FROM p JOIN n na ON na.item = p.item_a JOIN n nb ON nb.item = p.item_b""".stripMargin,

    // Kaplan-Meier over user lifetimes; censored when last activity is
    // within 7 days of the corpus horizon; S(t) via nano-unit ln cumsum
    "survival_curve" ->
      """WITH span AS (SELECT user_id,
        |        min(epoch_ns(ts) // 1000 // 86400000000) AS first_day,
        |        max(epoch_ns(ts) // 1000 // 86400000000) AS last_day
        |      FROM events GROUP BY 1),
        |h AS (SELECT max(last_day) AS max_day FROM span),
        |u AS (SELECT last_day - first_day AS duration_days,
        |        CASE WHEN last_day < max_day - 7 THEN 1 ELSE 0 END AS churned
        |      FROM span CROSS JOIN h),
        |bt AS (SELECT duration_days, count(*) AS n_t,
        |        CAST(sum(churned) AS BIGINT) AS d_t FROM u GROUP BY 1),
        |sw AS (SELECT *, CAST(sum(n_t) OVER (ORDER BY duration_days) AS BIGINT) AS cum_n,
        |        CAST(sum(n_t) OVER () AS BIGINT) AS n_users FROM bt),
        |r AS (SELECT duration_days, d_t, n_t - d_t AS c_t,
        |        n_users - cum_n + n_t AS n_risk FROM sw),
        |l AS (SELECT *, CASE WHEN d_t = n_risk THEN 0
        |        ELSE CAST(round(ln(1.0 - CAST(d_t AS DOUBLE) / n_risk) * 1000000000, 0) AS BIGINT)
        |        END AS ln_nano FROM r),
        |c AS (SELECT *, CAST(sum(ln_nano) OVER (ORDER BY duration_days) AS BIGINT) AS cum_ln FROM l)
        |SELECT duration_days, CAST(n_risk AS BIGINT) AS n_risk, d_t AS n_churned,
        |  CAST(c_t AS BIGINT) AS n_censored,
        |  CASE WHEN d_t = n_risk THEN 0.0
        |    ELSE round(exp(CAST(cum_ln AS DOUBLE) / 1000000000.0), 6) END AS survival
        |FROM c""".stripMargin,

    // CUPED: pooled theta from exact cents moments, rounded ONCE, then
    // the rounded theta adjusts each variant's post-period mean
    "cuped_adjust" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |        CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |b AS (SELECT min(day_idx) AS min_day, max(day_idx) AS max_day FROM e),
        |per AS (SELECT user_id,
        |        CAST(sum(CASE WHEN day_idx < (min_day + max_day + 1) // 2 THEN c ELSE 0 END) AS BIGINT) AS x,
        |        CAST(sum(CASE WHEN day_idx >= (min_day + max_day + 1) // 2 THEN c ELSE 0 END) AS BIGINT) AS y
        |        FROM e CROSS JOIN b GROUP BY 1),
        |v AS (SELECT *, user_id % 2 AS variant FROM per),
        |pool AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        sum(x * y) AS sxy, sum(x * x) AS sxx FROM v),
        |th AS (SELECT n, sx,
        |        CASE WHEN CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) > 0
        |          THEN round((CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
        |            / (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)), 6)
        |          ELSE 0.0 END AS theta FROM pool),
        |bv AS (SELECT variant, count(*) AS n_users, CAST(sum(x) AS BIGINT) AS sxv,
        |        CAST(sum(y) AS BIGINT) AS syv FROM v GROUP BY 1)
        |SELECT variant, n_users,
        |  round(CAST(sxv AS DOUBLE) / n_users, 6) AS mean_x_cents,
        |  round(CAST(syv AS DOUBLE) / n_users, 6) AS mean_y_cents,
        |  theta,
        |  round(CAST(syv AS DOUBLE) / n_users
        |    - theta * (CAST(sxv AS DOUBLE) / n_users - CAST(sx AS DOUBLE) / n), 6) AS mean_y_adj_cents
        |FROM bv CROSS JOIN th""".stripMargin,

    // equi-depth histogram via NTILE over (cents, orderkey) total order
    "equi_depth_histogram" ->
      """WITH c AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |t AS (SELECT c, CAST(ntile(10) OVER (ORDER BY c, o_orderkey) AS BIGINT) AS bucket FROM c)
        |SELECT bucket, count(*) AS n_orders, min(c) AS min_cents, max(c) AS max_cents,
        |  CAST(sum(c) AS BIGINT) AS sum_cents,
        |  round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS avg_cents
        |FROM t GROUP BY 1""".stripMargin,

    // interval-overlap sweep: +1/-1 session deltas, starts-first order,
    // per-day max of the running count at start instants
    "session_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |w AS (SELECT user_id, event_id, us,
        |      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |f AS (SELECT user_id, event_id, us,
        |      CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS nsf FROM w),
        |s AS (SELECT user_id, us,
        |      CAST(sum(nsf) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f),
        |sess AS (SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
        |         FROM s GROUP BY 1, 2),
        |d AS (SELECT user_id, session_id, start_us AS us, CAST(1 AS BIGINT) AS delta FROM sess
        |      UNION ALL
        |      SELECT user_id, session_id, end_us, CAST(-1 AS BIGINT) FROM sess),
        |cs AS (SELECT *, CAST(sum(delta) OVER (ORDER BY us, delta DESC, user_id, session_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent FROM d)
        |SELECT us // 86400000000 AS day_idx, max(concurrent) AS max_concurrent,
        |  count(*) AS n_sessions_started
        |FROM cs WHERE delta = 1 GROUP BY 1""".stripMargin,

    // Jelinek-Mercer interpolated bigram scoring of held-out types;
    // (1.0 - 0.7) stays an expression so both engines use the same bits
    "jm_bigram" ->
      s"""WITH t0 AS (SELECT doc_id, $toks AS toks FROM documents),
         |b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |            FROM t0 WHERE len(toks) >= 2)),
         |cb AS (SELECT w1, w2, count(*) AS c_bigram FROM b WHERE doc_id % 10 < 8 GROUP BY 1, 2),
         |uni AS (SELECT unnest(toks) AS w FROM t0 WHERE doc_id % 10 < 8),
         |cu AS (SELECT w, count(*) AS c_uni FROM uni GROUP BY 1),
         |nv AS (SELECT CAST(sum(c_uni) AS BIGINT) AS n_tokens, count(*) AS v_types FROM cu),
         |hh AS (SELECT w1, w2, count(*) AS n_heldout FROM b WHERE doc_id % 10 >= 8 GROUP BY 1, 2)
         |SELECT hh.w1, hh.w2, hh.n_heldout,
         |  CAST(coalesce(cb.c_bigram, 0) AS BIGINT) AS c_bigram,
         |  CAST(coalesce(u1.c_uni, 0) AS BIGINT) AS c_w1,
         |  CAST(coalesce(u2.c_uni, 0) AS BIGINT) AS c_w2,
         |  round(0.7 * (CASE WHEN coalesce(u1.c_uni, 0) > 0
         |      THEN CAST(coalesce(cb.c_bigram, 0) AS DOUBLE) / u1.c_uni ELSE 0.0 END)
         |    + (1.0 - 0.7) * CAST(coalesce(u2.c_uni, 0) + 1 AS DOUBLE) / (n_tokens + v_types),
         |    6) AS p_jm
         |FROM hh LEFT JOIN cb ON cb.w1 = hh.w1 AND cb.w2 = hh.w2
         |LEFT JOIN cu u1 ON u1.w = hh.w1
         |LEFT JOIN cu u2 ON u2.w = hh.w2
         |CROSS JOIN nv""".stripMargin,

    // Good-Turing frequency-of-frequencies: N_c type counts + adjusted
    // c* = (c+1) N_{c+1} / N_c where the next class exists
    "freq_of_freqs" ->
      s"""WITH cnt AS (SELECT token, count(*) AS c FROM $tokTable GROUP BY 1),
         |cls AS (SELECT c, count(*) AS n_types FROM cnt GROUP BY 1)
         |SELECT a.c, a.n_types,
         |  CASE WHEN b.n_types IS NOT NULL
         |    THEN round(CAST(a.c + 1 AS DOUBLE) * b.n_types / a.n_types, 6) END AS c_star
         |FROM cls a LEFT JOIN cls b ON b.c = a.c + 1""".stripMargin,

    // decile gain/lift table over the quality ranker (NTILE-exact)
    "lift_deciles" ->
      s"""WITH s AS (SELECT doc_id, $qualitySql AS score,
         |  CASE WHEN coalesce(lang = 'en', false) THEN 1 ELSE 0 END AS y FROM documents),
         |t AS (SELECT y, CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS decile FROM s),
         |d AS (SELECT decile, count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos FROM t GROUP BY 1),
         |c AS (SELECT *, CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
         |       CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos,
         |       CAST(sum(n_docs) OVER () AS BIGINT) AS total_docs FROM d)
         |SELECT decile, n_docs, n_pos,
         |  round(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate,
         |  round(CAST(cum_pos AS DOUBLE) / total_pos, 6) AS cum_gain,
         |  round(CAST(n_pos AS DOUBLE) / n_docs / (CAST(total_pos AS DOUBLE) / total_docs), 6) AS lift
         |FROM c""".stripMargin,

    // Heaps' law V = k N^beta by least squares over per-doc-boundary
    // (ln N, ln V) in nano units; intercept in mean form with rounded beta
    "heaps_law_fit" ->
      s"""WITH pd AS (SELECT doc_id, len($toks) AS n_toks FROM documents),
         |fs AS (SELECT first_doc AS doc_id, count(*) AS n_new FROM (
         |        SELECT token, min(doc_id) AS first_doc FROM $tokTable GROUP BY 1)
         |      GROUP BY 1),
         |g AS (SELECT pd.doc_id, pd.n_toks, coalesce(fs.n_new, 0) AS n_new
         |      FROM pd LEFT JOIN fs USING (doc_id)),
         |c AS (SELECT CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
         |       CAST(sum(n_new) OVER (ORDER BY doc_id) AS BIGINT) AS cum_types FROM g),
         |p AS (SELECT CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1000000000, 0) AS BIGINT) AS xn,
         |       CAST(round(ln(CAST(cum_types AS DOUBLE)) * 1000000000, 0) AS BIGINT) AS yn
         |      FROM c WHERE cum_tokens > 0 AND cum_types > 0),
         |m AS (SELECT count(*) AS n, CAST(sum(xn) AS BIGINT) AS sx, CAST(sum(yn) AS BIGINT) AS sy,
         |       sum(CAST(xn AS HUGEINT) * yn) AS sxy, sum(CAST(xn AS HUGEINT) * xn) AS sxx FROM p),
         |b AS (SELECT n, sx, sy,
         |       round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         |         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) AS beta
         |       FROM m),
         |lk AS (SELECT n, beta,
         |       round((CAST(sy AS DOUBLE) / n - beta * (CAST(sx AS DOUBLE) / n)) / 1000000000.0, 6) AS ln_k
         |       FROM b)
         |SELECT n AS n_points, beta, ln_k, round(exp(ln_k), 6) AS k FROM lk""".stripMargin,

    // per-class precision/recall/F1 for the marker-token language-ID;
    // f1 from the UNROUNDED p/r in mirrored operand order
    "class_report" ->
      s"""WITH pred AS (SELECT lang AS label, $langPred AS pred_lang FROM documents),
         |cm AS (SELECT label, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
         |bl AS (SELECT label, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY 1),
         |bp AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS predicted FROM cm GROUP BY 1),
         |tp AS (SELECT label, n AS tp FROM cm WHERE label = pred_lang),
         |per AS (SELECT bl.label, bl.support, CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
         |        CAST(coalesce(bp.predicted, 0) AS BIGINT) AS predicted
         |        FROM bl LEFT JOIN tp ON tp.label = bl.label
         |        LEFT JOIN bp ON bp.pred_lang = bl.label),
         |pr AS (SELECT label, support, tp, predicted,
         |        CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END AS p,
         |        CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS r
         |        FROM per)
         |SELECT label, support, tp, predicted,
         |  round(p, 6) AS "precision", round(r, 6) AS recall,
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
         |FROM pr""".stripMargin,

    // per-week top-3 |WoW delta| movers over exact weekly cents
    "top_movers" ->
      """WITH w AS (SELECT epoch_ns(ts) // 1000 // 604800000000 AS week_idx, event_type,
        |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |      FROM events GROUP BY 1, 2),
        |d AS (SELECT *, lag(rev_cents) OVER (PARTITION BY event_type ORDER BY week_idx) AS prev_cents FROM w),
        |f AS (SELECT *, rev_cents - prev_cents AS delta_cents FROM d WHERE prev_cents IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY week_idx
        |        ORDER BY abs(delta_cents) DESC, event_type) AS BIGINT) AS rank FROM f)
        |SELECT week_idx, rank, event_type, rev_cents, prev_cents, delta_cents
        |FROM r WHERE rank <= 3""".stripMargin,

    // sign-LSH cell occupancy: share + load factor vs uniform over 2^6
    "ivf_cell_balance" ->
      """WITH b AS (SELECT
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS cell
        |  FROM embeddings),
        |c AS (SELECT cell, count(*) AS n_vecs FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total, count(*) AS n_cells_used FROM c)
        |SELECT cell, n_vecs, n_cells_used,
        |  round(CAST(n_vecs AS DOUBLE) / n_total, 6) AS share,
        |  round(CAST(n_vecs AS DOUBLE) * 64 / n_total, 6) AS load_factor
        |FROM c CROSS JOIN t""".stripMargin,

    // PSI between time halves: decile edges from the PRE period, both
    // periods assigned via the same 9 inner edges, add-1 smoothed shares
    "psi_drift" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |        CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |bo AS (SELECT min(day_idx) AS min_day, max(day_idx) AS max_day FROM e),
        |t AS (SELECT event_id, c, day_idx < (min_day + max_day + 1) // 2 AS is_pre
        |      FROM e CROSS JOIN bo),
        |r AS (SELECT event_id, c FROM t WHERE is_pre),
        |rk AS (SELECT c, ntile(10) OVER (ORDER BY c, event_id) AS decile FROM r),
        |ed AS (SELECT list_sort(list(edge)) AS edges FROM (
        |        SELECT decile, max(c) AS edge FROM rk GROUP BY 1) WHERE decile <= 9),
        |bn AS (SELECT is_pre, CAST(len(list_filter(edges, x -> x < c)) + 1 AS BIGINT) AS bin
        |       FROM t CROSS JOIN ed),
        |cnt AS (SELECT bin, CAST(sum(CASE WHEN is_pre THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |        CAST(sum(CASE WHEN is_pre THEN 0 ELSE 1 END) AS BIGINT) AS n_post
        |        FROM bn GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
        |        CAST(sum(n_post) AS BIGINT) AS t_post FROM cnt)
        |SELECT bin, n_ref, n_post,
        |  round(CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10), 6) AS p_ref,
        |  round(CAST(n_post + 1 AS DOUBLE) / (t_post + 10), 6) AS p_post,
        |  round((CAST(n_post + 1 AS DOUBLE) / (t_post + 10) - CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10))
        |    * ln((CAST(n_post + 1 AS DOUBLE) / (t_post + 10)) / (CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10))), 6) AS psi_term
        |FROM cnt CROSS JOIN tt""".stripMargin,

    // pooled retention decay: r_k over at-risk users (bounded k-explode),
    // nano-unit ln least squares; half-life from the rounded lambda
    "retention_decay_fit" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |        epoch_ns(ts) // 1000 // 604800000000 AS week_idx FROM events),
        |f AS (SELECT user_id, min(week_idx) AS first_week FROM uw GROUP BY 1),
        |h AS (SELECT max(week_idx) AS max_week FROM uw),
        |a AS (SELECT DISTINCT uw.user_id, uw.week_idx - f.first_week AS k
        |      FROM uw JOIN f USING (user_id) WHERE uw.week_idx - f.first_week >= 1),
        |bk AS (SELECT k, count(*) AS n_active FROM a GROUP BY 1),
        |rkk AS (SELECT unnest(generate_series(1, max_k)) AS k FROM (
        |        SELECT max_week - first_week AS max_k FROM f CROSS JOIN h) WHERE max_k >= 1),
        |nr AS (SELECT k, count(*) AS n_at_risk FROM rkk GROUP BY 1),
        |rt AS (SELECT bk.k, bk.n_active, nr.n_at_risk,
        |        CAST(round(ln(CAST(bk.n_active AS DOUBLE) / nr.n_at_risk) * 1000000000, 0) AS BIGINT) AS yn
        |       FROM bk JOIN nr USING (k)),
        |m AS (SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sx, CAST(sum(yn) AS BIGINT) AS sy,
        |       sum(CAST(k AS HUGEINT) * yn) AS sxy, sum(CAST(k AS HUGEINT) * k) AS sxx FROM rt),
        |b AS (SELECT n,
        |       round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |         / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |         / 1000000000.0, 6) AS lambda FROM m)
        |SELECT n AS n_points, lambda,
        |  CASE WHEN lambda < 0 THEN round(-ln(2.0) / lambda, 6) END AS half_life_weeks
        |FROM b""".stripMargin,

    // Deequ/dbt-test shape: one aggregate row per rule, no violating
    // rows materialized; orphan rule via NOT EXISTS
    "dq_checks" ->
      """SELECT 'lineitem_quantity_range' AS rule, count(*) AS n_checked,
        |  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6) AS violation_rate
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_discount_range', count(*),
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS BIGINT),
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_orphan_custkey', (SELECT count(*) FROM orders),
        |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |  round(CASE WHEN (SELECT count(*) FROM orders) > 0
        |    THEN CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS DOUBLE)
        |      / (SELECT count(*) FROM orders) ELSE 0.0 END, 6)
        |UNION ALL
        |SELECT 'events_nonneg_value', count(*),
        |  CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6)
        |FROM events
        |UNION ALL
        |SELECT 'documents_nchars_consistent', count(*),
        |  CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT),
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6)
        |FROM documents""".stripMargin,

    // sample-ratio-mismatch gate: chi^2 = (a-b)^2/n over distinct users
    "srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |m AS (SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_users, n_a, n_b,
        |  round(CASE WHEN n_users > 0
        |    THEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / n_users ELSE 0.0 END, 6) AS chi2,
        |  CASE WHEN n_users > 0
        |    THEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / n_users ELSE 0.0 END
        |    > 3.841459 AS srm_detected
        |FROM m""".stripMargin,

    // token position-bias census in exact micro-units; lead = first 20%
    "token_position_bias" ->
      s"""WITH t AS (SELECT $toks AS toks FROM documents),
         |p AS (SELECT toks[i] AS token,
         |        CAST(round((i - 1) * 1000000.0 / (len(toks) - 1)) AS BIGINT) AS rel_micro
         |      FROM (SELECT toks, unnest(generate_series(1, len(toks))) AS i
         |            FROM t WHERE len(toks) >= 2))
         |SELECT token, count(*) AS n,
         |  round(CAST(sum(rel_micro) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_rel_pos,
         |  round(CAST(sum(CASE WHEN rel_micro < 200000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS lead_share
         |FROM p GROUP BY 1 HAVING count(*) >= 5""".stripMargin,

    // exact interpolated per-type percentiles (percentile == quantile_cont)
    "value_percentiles_by_type" ->
      """WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT event_type, count(*) AS n,
        |  round(quantile_cont(c, 0.5), 4) AS p50_cents,
        |  round(quantile_cont(c, 0.9), 4) AS p90_cents,
        |  round(quantile_cont(c, 0.99), 4) AS p99_cents
        |FROM v GROUP BY 1""".stripMargin,

    // variance/mean of the daily count series per type (Poisson = 1)
    "dispersion_index" ->
      """WITH d AS (SELECT event_type, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |        count(*) AS c FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS sc,
        |        sum(CAST(c AS HUGEINT) * c) AS sc2 FROM d GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(CAST(sc AS DOUBLE) / n_days, 6) AS mean_daily,
        |  round(CASE WHEN sc > 0
        |    THEN (CAST(sc2 AS DOUBLE) / n_days - (CAST(sc AS DOUBLE) / n_days) * (CAST(sc AS DOUBLE) / n_days))
        |      / (CAST(sc AS DOUBLE) / n_days) ELSE 0.0 END, 6) AS dispersion,
        |  CASE WHEN sc > 0
        |    THEN (CAST(sc2 AS DOUBLE) / n_days - (CAST(sc AS DOUBLE) / n_days) * (CAST(sc AS DOUBLE) / n_days))
        |      / (CAST(sc AS DOUBLE) / n_days) ELSE 0.0 END > 1.5 AS overdispersed
        |FROM m""".stripMargin,

    // Mann-Whitney U via per-distinct-value cumsum (the AUC machinery
    // with variants as classes); z from the rounded-once u_stat path
    "mannwhitney_u" ->
      """WITH sp AS (SELECT user_id,
        |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
        |      FROM events GROUP BY 1),
        |v AS (SELECT spend, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_a FROM sp),
        |c AS (SELECT spend, CAST(sum(is_a) AS BIGINT) AS n_a,
        |      CAST(count(*) - sum(is_a) AS BIGINT) AS n_b FROM v GROUP BY 1),
        |w AS (SELECT *, CAST(sum(n_b) OVER (ORDER BY spend) AS BIGINT) AS cum_b FROM c),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS m, CAST(sum(n_b) AS BIGINT) AS n,
        |      sum(n_a * (2 * (cum_b - n_b) + n_b)) AS u2 FROM w),
        |z AS (SELECT m, n, round(CAST(u2 AS DOUBLE) / 2.0, 6) AS u_stat,
        |      round((CAST(u2 AS DOUBLE) / 2.0 - CAST(m AS DOUBLE) * n / 2.0)
        |        / sqrt(CAST(m AS DOUBLE) * n * (m + n + 1) / 12.0), 6) AS z FROM t)
        |SELECT m AS n_a, n AS n_b, u_stat, z, abs(z) > 1.959964 AS significant
        |FROM z""".stripMargin,

    // Cliff's delta off the same tie-exact doubled-U sweep; Romano
    // magnitude bands ride along
    "cliffs_delta" ->
      """WITH sp AS (SELECT user_id,
        |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
        |      FROM events GROUP BY 1),
        |v AS (SELECT spend, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_a FROM sp),
        |c AS (SELECT spend, CAST(sum(is_a) AS BIGINT) AS n_a,
        |      CAST(count(*) - sum(is_a) AS BIGINT) AS n_b FROM v GROUP BY 1),
        |w AS (SELECT *, CAST(sum(n_b) OVER (ORDER BY spend) AS BIGINT) AS cum_b FROM c),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS m, CAST(sum(n_b) AS BIGINT) AS n,
        |      sum(n_a * (2 * (cum_b - n_b) + n_b)) AS u2 FROM w),
        |d AS (SELECT m, n,
        |      CAST(u2 - CAST(m AS HUGEINT) * n AS DOUBLE)
        |        / CAST(CAST(m AS HUGEINT) * n AS DOUBLE) AS delta FROM t)
        |SELECT m AS n_a, n AS n_b, round(delta, 6) AS delta,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM d""".stripMargin,

    // Durbin-Watson on the daily-revenue OLS residuals: 9dp rounded
    // slope/intercept from exact moments so residuals match bit-exactly
    "durbin_watson" ->
      """WITH daily AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |      FROM events GROUP BY 1),
        |m AS (SELECT count(*) AS n, CAST(sum(day_idx) AS BIGINT) AS sx,
        |      CAST(sum(cents) AS BIGINT) AS sy,
        |      sum(CAST(day_idx AS HUGEINT) * cents) AS sxy,
        |      sum(CAST(day_idx AS HUGEINT) * day_idx) AS sxx FROM daily),
        |fit AS (SELECT n, slope,
        |      round(CAST(sy AS DOUBLE) / n - slope * (CAST(sx AS DOUBLE) / n), 9) AS intercept
        |      FROM (SELECT n, sx, sy,
        |        round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |          / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 9) AS slope
        |        FROM m)),
        |r AS (SELECT day_idx,
        |      round(CAST(cents AS DOUBLE) - intercept - slope * day_idx, 6) AS e
        |      FROM daily CROSS JOIN fit),
        |r2 AS (SELECT day_idx, e,
        |      lag(e) OVER (ORDER BY day_idx) AS e_prev FROM r),
        |terms AS (SELECT day_idx, round(e * e, 6) AS e2,
        |      CASE WHEN e_prev IS NOT NULL
        |           THEN round((e - e_prev) * (e - e_prev), 6) ELSE 0.0 END AS d2 FROM r2)
        |SELECT n AS n_days, slope, intercept,
        |  round(list_reduce(list(d2 ORDER BY day_idx, e2, d2), (a, b) -> a + b)
        |    / list_reduce(list(e2 ORDER BY day_idx, e2, d2), (a, b) -> a + b), 6) AS dw
        |FROM terms CROSS JOIN fit GROUP BY n, slope, intercept""".stripMargin,

    // Gumbel method-of-moments over daily max purchase, exact moments,
    // 30-day return level closed form
    "gumbel_max" ->
      """WITH mx AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |m AS (SELECT count(*) AS n, CAST(sum(mx) AS BIGINT) AS s1,
        |      sum(CAST(mx AS HUGEINT) * mx) AS s2 FROM mx),
        |f AS (SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
        |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |        / (n - 1)) AS sd FROM m WHERE n > 1),
        |g AS (SELECT n, mean, sd * sqrt(6.0) / pi() AS beta FROM f),
        |h AS (SELECT n, mean, beta, mean - 0.5772156649015329 * beta AS mu FROM g)
        |SELECT n AS n_days, round(mean, 6) AS mean_max, round(mu, 6) AS gumbel_loc,
        |  round(beta, 6) AS gumbel_scale,
        |  round(mu - beta * ln(-ln(1.0 - 1.0 / 30.0)), 6) AS return_level_30d
        |FROM h""".stripMargin,

    // ln(quantity) on discount least squares, micro/nano exact moments,
    // mean-form intercept with the rounded slope
    "discount_elasticity" ->
      """WITH p AS (SELECT CAST(round(l_discount * 1000000, 0) AS BIGINT) AS xn,
        |        CAST(round(ln(l_quantity) * 1000000000, 0) AS BIGINT) AS yn
        |      FROM lineitem WHERE l_quantity > 0),
        |m AS (SELECT count(*) AS n, CAST(sum(xn) AS BIGINT) AS sx, CAST(sum(yn) AS BIGINT) AS sy,
        |      sum(CAST(xn AS HUGEINT) * yn) AS sxy, sum(CAST(xn AS HUGEINT) * xn) AS sxx FROM p),
        |b AS (SELECT n, sx, sy,
        |      round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |        * 1000000 / 1000000000, 6) AS slope FROM m)
        |SELECT n AS n_lines, slope,
        |  round(CAST(sy AS DOUBLE) / n / 1000000000.0
        |    - slope * (CAST(sx AS DOUBLE) / n / 1000000.0), 6) AS intercept
        |FROM b""".stripMargin,

    // 3-round k-core peeling over canonical adjacent-bigram edges
    "token_kcore" ->
      s"""WITH t0 AS (SELECT $toks AS toks FROM documents),
         |bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t0)
         |      WHERE toks[i] <> toks[i + 1]),
         |e0 AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b FROM bi),
         |d0 AS (SELECT token, count(*) AS degree FROM
         |      (SELECT a AS token FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         |a1 AS (SELECT token FROM d0 WHERE degree >= 2),
         |e1 AS (SELECT * FROM e0 WHERE a IN (SELECT token FROM a1) AND b IN (SELECT token FROM a1)),
         |d1 AS (SELECT token, count(*) AS degree FROM
         |      (SELECT a AS token FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
         |a2 AS (SELECT token FROM d1 WHERE degree >= 2),
         |e2 AS (SELECT * FROM e1 WHERE a IN (SELECT token FROM a2) AND b IN (SELECT token FROM a2)),
         |d2 AS (SELECT token, count(*) AS degree FROM
         |      (SELECT a AS token FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
         |a3 AS (SELECT token FROM d2 WHERE degree >= 2),
         |e3 AS (SELECT * FROM e2 WHERE a IN (SELECT token FROM a3) AND b IN (SELECT token FROM a3)),
         |d3 AS (SELECT token, count(*) AS degree FROM
         |      (SELECT a AS token FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1)
         |SELECT d0.token, d0.degree AS degree0,
         |  d0.token IN (SELECT token FROM a3) AS in_core,
         |  d3.degree AS core_degree
         |FROM d0 LEFT JOIN d3 ON d3.token = d0.token""".stripMargin,

    // reconciliation diff over deterministic version slices: per-state
    // counts only, no changed rows materialized
    "snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |        o_orderstatus FROM orders),
        |v1 AS (SELECT o_orderkey, price_cents AS p1, o_orderstatus AS s1
        |       FROM base WHERE o_orderkey % 7 <> 0),
        |v2 AS (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 3 = 0 THEN price_cents * 2 ELSE price_cents END AS p2,
        |        o_orderstatus AS s2 FROM base WHERE o_orderkey % 5 <> 0),
        |j AS (SELECT
        |        CASE WHEN p1 IS NULL THEN 'added' WHEN p2 IS NULL THEN 'removed'
        |          WHEN p1 <> p2 OR s1 <> s2 THEN 'changed' ELSE 'unchanged' END AS status,
        |        CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p1 <> p2 THEN 1 ELSE 0 END AS price_diff,
        |        CASE WHEN s1 IS NOT NULL AND s2 IS NOT NULL AND s1 <> s2 THEN 1 ELSE 0 END AS status_diff
        |      FROM v1 FULL OUTER JOIN v2 USING (o_orderkey))
        |SELECT status, count(*) AS n_keys,
        |  CAST(sum(price_diff) AS BIGINT) AS n_price_changed,
        |  CAST(sum(status_diff) AS BIGINT) AS n_status_changed
        |FROM j GROUP BY 1""".stripMargin,

    // histogram intersection of source token distributions in exact
    // floor-divided micro-unit shares
    "source_token_hist_sim" ->
      s"""WITH c AS (SELECT source, token, count(*) AS c FROM
         |      (SELECT source, unnest($toks) AS token FROM documents) GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS total FROM c GROUP BY 1),
         |s AS (SELECT c.source, token, (c.c * 1000000) // t.total AS share_micro
         |      FROM c JOIN t ON t.source = c.source)
         |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_tokens,
         |  round(CAST(sum(least(a.share_micro, b.share_micro)) AS DOUBLE) / 1000000.0, 6) AS intersection
         |FROM s a JOIN s b ON a.token = b.token AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,

    // Shannon entropy / perplexity of the session-path distribution
    "path_entropy" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ns(ts) // 1000 AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |n AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session FROM l),
        |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id ORDER BY us, event_id) AS rn FROM s),
        |p AS (SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1, 2),
        |pc AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total FROM pc),
        |tm AS (SELECT n_total,
        |        round(-(CAST(n_sessions AS DOUBLE) / n_total)
        |          * ln(CAST(n_sessions AS DOUBLE) / n_total), 6) AS term
        |       FROM pc CROSS JOIN tt),
        |h AS (SELECT n_total AS n_sessions, count(*) AS n_paths,
        |        round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS entropy
        |       FROM tm GROUP BY 1)
        |SELECT n_sessions, n_paths, entropy, round(exp(entropy), 6) AS perplexity
        |FROM h""".stripMargin,

    // Lorenz curve: ascending-spend deciles, cumulative pop/spend shares
    "spend_lorenz" ->
      """WITH pc AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
        |      FROM orders GROUP BY 1),
        |r AS (SELECT spend_cents, CAST(ntile(10) OVER (ORDER BY spend_cents, o_custkey) AS BIGINT) AS decile FROM pc),
        |d AS (SELECT decile, count(*) AS n_customers, CAST(sum(spend_cents) AS BIGINT) AS cents FROM r GROUP BY 1),
        |c AS (SELECT *, CAST(sum(n_customers) OVER (ORDER BY decile) AS BIGINT) AS cum_customers,
        |       CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
        |       CAST(sum(n_customers) OVER () AS BIGINT) AS total_customers,
        |       CAST(sum(cents) OVER () AS BIGINT) AS total_cents FROM d)
        |SELECT decile, n_customers, cents,
        |  round(CAST(cum_customers AS DOUBLE) / total_customers, 6) AS cum_pop_share,
        |  round(CAST(cum_cents AS DOUBLE) / total_cents, 6) AS cum_spend_share
        |FROM c""".stripMargin,

    // assortment health: share of each part type that has ever sold
    "catalog_coverage" ->
      """WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem)
        |SELECT p_type, count(*) AS n_parts,
        |  CAST(sum(CASE WHEN l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sold,
        |  round(CAST(sum(CASE WHEN l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
        |FROM part LEFT JOIN sold ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    // per-source duplicate rate vs the global keep-first keeper
    "dup_rate_by_source" ->
      s"""WITH h AS (SELECT doc_id, source, md5($clean) AS content_hash FROM documents),
         |k AS (SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS keeper FROM h)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  round(CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_rate
         |FROM k GROUP BY 1""".stripMargin,

    // UMass coherence over the topic_labels top-5 terms
    "topic_coherence" ->
      s"""WITH tl AS ($topicLabelsSql),
         |tok0 AS (SELECT DISTINCT token FROM tl),
         |dt AS (SELECT DISTINCT doc_id, token FROM $tokTable
         |       WHERE token IN (SELECT token FROM tok0)),
         |dfr AS (SELECT token, count(*) AS d FROM dt GROUP BY 1),
         |cp AS (SELECT a.token AS w_i, b.token AS w_j, count(*) AS d_ij
         |       FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token <> b.token
         |       GROUP BY 1, 2),
         |pr AS (SELECT a.bucket, a.token AS w_i, b.token AS w_j
         |       FROM tl a JOIN tl b ON a.bucket = b.bucket AND a.rnk < b.rnk),
         |tm AS (SELECT pr.bucket,
         |        round(ln(CAST(coalesce(cp.d_ij, 0) + 1 AS DOUBLE) / dfr.d), 6) AS term
         |       FROM pr LEFT JOIN cp ON cp.w_i = pr.w_i AND cp.w_j = pr.w_j
         |       JOIN dfr ON dfr.token = pr.w_j)
         |SELECT bucket, count(*) AS n_pairs,
         |  round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS coherence
         |FROM tm GROUP BY 1""".stripMargin,

    // vocab-set overlap between the clean whitespace tokenizer and the
    // BPE-ish raw pre-tokenizer
    "tokenizer_vocab_overlap" ->
      s"""WITH a AS (SELECT DISTINCT token FROM (SELECT unnest($toks) AS token FROM documents)),
         |b AS (SELECT DISTINCT token FROM (SELECT
         |      unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS token
         |      FROM documents)),
         |j AS (SELECT a.token IS NOT NULL AS ia, b.token IS NOT NULL AS ib
         |      FROM a FULL OUTER JOIN b ON a.token = b.token)
         |SELECT CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_vocab,
         |  CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_bpe_vocab,
         |  CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  round(CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS jaccard,
         |  round(CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS DOUBLE)
         |    / sum(CASE WHEN ia THEN 1 ELSE 0 END), 6) AS clean_in_bpe,
         |  round(CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS DOUBLE)
         |    / sum(CASE WHEN ib THEN 1 ELSE 0 END), 6) AS bpe_in_clean
         |FROM j""".stripMargin,

    // conversion counts at 1h/6h/24h attribution windows vs the viewer base
    "attribution_window_sweep" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, v.view_us, min(e.us) AS p_us
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.us >= v.view_us GROUP BY 1, 2),
        |l AS (SELECT (p_us - view_us) // 1000000 AS lat_s FROM p),
        |nv AS (SELECT count(*) AS n_viewers FROM v),
        |c AS (SELECT CAST(coalesce(sum(CASE WHEN lat_s <= 3600 THEN 1 ELSE 0 END), 0) AS BIGINT) AS w1,
        |       CAST(coalesce(sum(CASE WHEN lat_s <= 21600 THEN 1 ELSE 0 END), 0) AS BIGINT) AS w6,
        |       CAST(coalesce(sum(CASE WHEN lat_s <= 86400 THEN 1 ELSE 0 END), 0) AS BIGINT) AS w24 FROM l)
        |SELECT window_s, n_viewers, n_converted,
        |  round(CASE WHEN n_viewers > 0 THEN CAST(n_converted AS DOUBLE) / n_viewers
        |    ELSE 0.0 END, 6) AS conversion_rate
        |FROM (
        |  SELECT CAST(3600 AS BIGINT) AS window_s, n_viewers, w1 AS n_converted FROM c CROSS JOIN nv
        |  UNION ALL SELECT 21600, n_viewers, w6 FROM c CROSS JOIN nv
        |  UNION ALL SELECT 86400, n_viewers, w24 FROM c CROSS JOIN nv)""".stripMargin,

    // token types attributed to the source of their first-seen doc
    "vocab_novelty_by_source" ->
      s"""WITH dt AS (SELECT doc_id, source, token FROM
         |      (SELECT doc_id, source, unnest($toks) AS token FROM documents)),
         |fd AS (SELECT token, min(doc_id) AS doc_id FROM dt GROUP BY 1),
         |fs AS (SELECT d.source, count(*) AS n_first_types
         |       FROM fd JOIN documents d ON d.doc_id = fd.doc_id GROUP BY 1),
         |tc AS (SELECT source, count(*) AS n_types_touched FROM
         |       (SELECT DISTINCT source, token FROM dt) GROUP BY 1)
         |SELECT tc.source, tc.n_types_touched,
         |  CAST(coalesce(fs.n_first_types, 0) AS BIGINT) AS n_first_types,
         |  round(CAST(coalesce(fs.n_first_types, 0) AS DOUBLE) / tc.n_types_touched, 6) AS novelty_share
         |FROM tc LEFT JOIN fs ON fs.source = tc.source""".stripMargin,

    // per-doc share of corpus-rare tokens (count <= 2), flagged past 0.5
    "rare_token_share" ->
      s"""WITH dt AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |r AS (SELECT token FROM (SELECT token, count(*) AS c FROM dt GROUP BY 1) WHERE c <= 2)
         |SELECT dt.doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  round(CAST(sum(CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rare_share,
         |  round(CAST(sum(CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) > 0.5 AS flagged
         |FROM dt LEFT JOIN r ON r.token = dt.token
         |GROUP BY 1""".stripMargin,

    // weekly p50/p90 cents trend (percentile == quantile_cont)
    "weekly_value_percentiles" ->
      """WITH v AS (SELECT epoch_ns(ts) // 1000 // 604800000000 AS week_idx,
        |        CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT week_idx, count(*) AS n,
        |  round(quantile_cont(c, 0.5), 4) AS p50_cents,
        |  round(quantile_cont(c, 0.9), 4) AS p90_cents
        |FROM v GROUP BY 1""".stripMargin,

    // exp(-gap/6h) weighted multi-touch split over the 24h lookback
    "attribution_time_decay" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts) // 1000 AS us FROM events),
        |p AS (SELECT event_id, user_id, us, CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, us AS click_us FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |t AS (SELECT p.event_id, p.cents, c.click_us,
        |      round(exp(-((p.us - c.click_us) / 1000000.0) / 21600.0), 9) AS w
        |      FROM p JOIN c ON c.user_id = p.user_id
        |       AND c.click_us > p.us - 86400000000 AND c.click_us <= p.us),
        |d AS (SELECT event_id, round(list_reduce(list_sort(list(w)), (a, b) -> a + b), 9) AS denom
        |      FROM t GROUP BY 1)
        |SELECT (t.click_us // 3600000000) % 24 AS click_hour,
        |  count(*) AS n_touches,
        |  round(list_reduce(list_sort(list(round(t.cents * t.w / d.denom, 4))), (a, b) -> a + b), 4) AS attributed_value
        |FROM t JOIN d USING (event_id) GROUP BY 1""".stripMargin,

    // U-shaped position attribution: 40/20/40 with rank/count windows
    // over the same lookback pairing as time-decay
    "attribution_position" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts) // 1000 AS us FROM events),
        |p AS (SELECT event_id, user_id, us, CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, us AS click_us FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |t AS (SELECT p.event_id, p.cents, c.click_us,
        |      row_number() OVER (PARTITION BY p.event_id ORDER BY c.click_us) AS rn,
        |      count(*) OVER (PARTITION BY p.event_id) AS n
        |      FROM p JOIN c ON c.user_id = p.user_id
        |       AND c.click_us > p.us - 86400000000 AND c.click_us <= p.us),
        |w AS (SELECT event_id, cents, click_us,
        |      CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5
        |           WHEN rn = 1 OR rn = n THEN 0.4
        |           ELSE round(0.2 / (n - 2), 9) END AS w FROM t)
        |SELECT (click_us // 3600000000) % 24 AS click_hour, count(*) AS n_touches,
        |  round(list_reduce(list_sort(list(round(cents * w, 4))), (a, b) -> a + b), 4) AS attributed_value
        |FROM w GROUP BY 1""".stripMargin,

    // piecewise-linear interpolation of the daily revenue series at
    // each event's exact timestamp; NULL past the last day mark
    "interp_join" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |d AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents FROM events GROUP BY 1),
        |x AS (SELECT event_id, event_type, us // 86400000000 AS day_idx,
        |      CAST(us % 86400000000 AS DOUBLE) / 86400000000.0 AS frac FROM e)
        |SELECT event_id, event_type, day_idx, round(frac, 9) AS frac,
        |  round(CAST(d0.cents AS DOUBLE)
        |    + (CAST(d1.cents AS DOUBLE) - CAST(d0.cents AS DOUBLE)) * frac, 6) AS interp_cents
        |FROM x LEFT JOIN d d0 USING (day_idx)
        |LEFT JOIN d d1 ON d1.day_idx = x.day_idx + 1""".stripMargin,

    // calendar-lag autocorrelation of daily revenue, lags 1..7
    "revenue_acf" ->
      """WITH days AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS r FROM events GROUP BY 1),
        |st AS (SELECT count(*) AS n_days, round(CAST(sum(r) AS DOUBLE) / count(*), 9) AS mean_r FROM days),
        |dev AS (SELECT day_idx, r - mean_r AS dev FROM days CROSS JOIN st),
        |den AS (SELECT round(list_reduce(list_sort(list(round(dev * dev, 6))), (a, b) -> a + b), 6) AS den FROM dev),
        |pr AS (SELECT l.k, d1.dev AS dev, d2.dev AS dev_lag
        |       FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS l(k)
        |       JOIN dev d2 ON true
        |       JOIN dev d1 ON d1.day_idx = d2.day_idx + l.k)
        |SELECT k AS lag_days, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CASE WHEN den > 0 THEN
        |    round(round(list_reduce(list_sort(list(round(dev * dev_lag, 6))), (a, b) -> a + b), 6) / den, 6)
        |  ELSE 0.0 END AS acf
        |FROM pr CROSS JOIN den GROUP BY k, den""".stripMargin,

    // median pairwise day-slope + median intercept of daily revenue
    "theil_sen_trend" ->
      """WITH days AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS r FROM events GROUP BY 1),
        |base AS (SELECT day_idx - (SELECT min(day_idx) FROM days) AS d, r FROM days),
        |pairs AS (SELECT (b2.r - b1.r) / (b2.d - b1.d) AS slope
        |          FROM base b1 JOIN base b2 ON b2.d > b1.d),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |      round(quantile_cont(slope, 0.5), 6) AS slope_cents_per_day FROM pairs)
        |SELECT CAST(count(*) AS BIGINT) AS n_days, m.n_pairs, m.slope_cents_per_day,
        |  round(quantile_cont(r - m.slope_cents_per_day * d, 0.5), 4) AS intercept_cents
        |FROM base CROSS JOIN m GROUP BY m.n_pairs, m.slope_cents_per_day""".stripMargin,

    // nearest click in either direction; |gap| argmin, ties backward
    "asof_join_nearest" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us,
        |             min(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |b AS (SELECT p.event_id, p.user_id, p.us, c.click_event_id AS b_id, c.click_us AS b_us
        |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.click_us),
        |f AS (SELECT p.event_id, c.click_event_id AS f_id, c.click_us AS f_us
        |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us <= c.click_us)
        |SELECT event_id, user_id, us, click_event_id, click_us, us - click_us AS gap_us
        |FROM (SELECT b.event_id, b.user_id, b.us,
        |        CASE WHEN b.b_us IS NOT NULL AND (f.f_us IS NULL OR b.us - b.b_us <= f.f_us - b.us)
        |             THEN b.b_id ELSE f.f_id END AS click_event_id,
        |        CASE WHEN b.b_us IS NOT NULL AND (f.f_us IS NULL OR b.us - b.b_us <= f.f_us - b.us)
        |             THEN b.b_us ELSE f.f_us END AS click_us
        |      FROM b JOIN f USING (event_id)
        |      WHERE b.b_us IS NOT NULL OR f.f_us IS NOT NULL)""".stripMargin,

    // exact char-class census per lang (letters/digits/space/other)
    "char_class_profile" ->
      """WITH d AS (SELECT lang, length(text) AS n,
        |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS nl,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
        |  length(text) - length(regexp_replace(text, '\s', '', 'g')) AS ns
        |  FROM documents)
        |SELECT lang, CAST(sum(n) AS BIGINT) AS n_chars,
        |  round(CAST(sum(nl) AS DOUBLE) / sum(n), 6) AS letter_share,
        |  round(CAST(sum(nd) AS DOUBLE) / sum(n), 6) AS digit_share,
        |  round(CAST(sum(ns) AS DOUBLE) / sum(n), 6) AS space_share,
        |  round(CAST(sum(n) - sum(nl) - sum(nd) - sum(ns) AS DOUBLE) / sum(n), 6) AS other_share
        |FROM d GROUP BY 1""".stripMargin,

    // Tukey fences on exact daily revenue
    "revenue_outlier_days" ->
      """WITH days AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |      FROM events GROUP BY 1),
        |f AS (SELECT round(quantile_cont(revenue_cents, 0.25), 4) AS q1,
        |             round(quantile_cont(revenue_cents, 0.75), 4) AS q3 FROM days),
        |f2 AS (SELECT round(q1 - 1.5 * (q3 - q1), 4) AS lo,
        |              round(q3 + 1.5 * (q3 - q1), 4) AS hi FROM f)
        |SELECT day_idx, revenue_cents, lo, hi,
        |  (revenue_cents < lo OR revenue_cents > hi) AS is_outlier
        |FROM days CROSS JOIN f2""".stripMargin,

    // nucleus truncation: smallest count-ranked prefix reaching 0.9 mass
    "vocab_top_p" ->
      s"""WITH tc AS (SELECT lang, token, count(*) AS cnt
         |      FROM (SELECT lang, unnest($toks) AS token FROM documents) GROUP BY 1, 2),
         |r AS (SELECT lang, token, cnt,
         |      sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS cum,
         |      sum(cnt) OVER (PARTITION BY lang) AS tot FROM tc)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
         |  CAST(sum(CASE WHEN cum - cnt < 0.9 * tot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(CAST(sum(CASE WHEN cum - cnt < 0.9 * tot THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_share,
         |  round(CAST(sum(CASE WHEN cum - cnt < 0.9 * tot THEN cnt ELSE 0 END) AS DOUBLE) / max(tot), 6) AS mass_kept
         |FROM r GROUP BY 1""".stripMargin,

    // 2x2 DiD on mean purchase cents; did from the 6dp-rounded means
    "diff_in_diff" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us,
        |      CAST(round(value * 100) AS BIGINT) AS c
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |t AS (SELECT user_id % 2 = 1 AS tr, us >= mid AS post, c FROM e CROSS JOIN m),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN tr AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
        |  CASE WHEN sum(CASE WHEN tr AND NOT post THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN tr AND NOT post THEN c ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN tr AND NOT post THEN 1 ELSE 0 END), 6) ELSE 0.0 END AS mean_treat_pre,
        |  CAST(sum(CASE WHEN tr AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
        |  CASE WHEN sum(CASE WHEN tr AND post THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN tr AND post THEN c ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN tr AND post THEN 1 ELSE 0 END), 6) ELSE 0.0 END AS mean_treat_post,
        |  CAST(sum(CASE WHEN NOT tr AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre,
        |  CASE WHEN sum(CASE WHEN NOT tr AND NOT post THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN NOT tr AND NOT post THEN c ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN NOT tr AND NOT post THEN 1 ELSE 0 END), 6) ELSE 0.0 END AS mean_ctrl_pre,
        |  CAST(sum(CASE WHEN NOT tr AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post,
        |  CASE WHEN sum(CASE WHEN NOT tr AND post THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN NOT tr AND post THEN c ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN NOT tr AND post THEN 1 ELSE 0 END), 6) ELSE 0.0 END AS mean_ctrl_post
        |  FROM t)
        |SELECT *, round(mean_treat_post - mean_treat_pre - mean_ctrl_post + mean_ctrl_pre, 6) AS did_cents
        |FROM a""".stripMargin,

    // one lag pass, three thresholds: session count + mean length per gap
    "session_gap_sweep" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT us, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |a AS (SELECT count(*) AS n_events,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 900000000 THEN 1 ELSE 0 END) AS BIGINT) AS s15,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS s30,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS s60
        |  FROM g)
        |SELECT gap_minutes, n_sessions, n_events,
        |  round(CAST(n_events AS DOUBLE) / n_sessions, 6) AS avg_session_events
        |FROM (SELECT 15 AS gap_minutes, s15 AS n_sessions, n_events FROM a
        |      UNION ALL SELECT 30, s30, n_events FROM a
        |      UNION ALL SELECT 60, s60, n_events FROM a)""".stripMargin,

    // recall@5 per query when probing buckets at hamming distance <= h
    "lsh_probe_sweep" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |  (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END) + (CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END) +
         |  (CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id < 10),
         |scored AS (SELECT q_id, b.vec_id AS n_id, bit_count(xor(q_bucket, b.bucket)) AS hd,
         |  round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (p2, q2) -> p2 + q2)
         |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))
         |       * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p2, q2) -> p2 + q2))), 6) AS cos
         |  FROM q JOIN b ON bit_count(xor(q_bucket, b.bucket)) <= 2 AND q_id <> b.vec_id),
         |lv AS (SELECT l.h, q_id, n_id, cos FROM scored JOIN (VALUES (0),(1),(2)) AS l(h) ON l.h >= hd),
         |ranked AS (SELECT h, q_id, n_id,
         |  row_number() OVER (PARTITION BY h, q_id ORDER BY cos DESC, n_id) AS rnk FROM lv),
         |tk AS (SELECT h, q_id, n_id FROM ranked WHERE rnk <= 5),
         |bf AS ($annTopkSql),
         |hits AS (SELECT tk.h, tk.q_id, count(*) AS n_hits FROM tk
         |         JOIN bf ON tk.q_id = bf.q_id AND tk.n_id = bf.n_id GROUP BY 1, 2),
         |univ AS (SELECT l.h, q_id FROM (VALUES (0),(1),(2)) AS l(h)
         |         CROSS JOIN (SELECT DISTINCT q_id FROM q))
         |SELECT univ.h, univ.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  round(CAST(coalesce(n_hits, 0) AS DOUBLE) / 5, 6) AS recall
         |FROM univ LEFT JOIN hits ON univ.h = hits.h AND univ.q_id = hits.q_id""".stripMargin,

    // weekly new/retained/resurrected/churned + quick ratio
    "growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // 604800000000 AS week_idx FROM events),
        |l AS (SELECT user_id, week_idx,
        |      lag(week_idx) OVER (PARTITION BY user_id ORDER BY week_idx) AS prev_w,
        |      lead(week_idx) OVER (PARTITION BY user_id ORDER BY week_idx) AS next_w FROM uw),
        |act AS (SELECT week_idx, count(*) AS n_active,
        |  CAST(sum(CASE WHEN prev_w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN prev_w = week_idx - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN prev_w IS NOT NULL AND prev_w < week_idx - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM l GROUP BY 1),
        |ch AS (SELECT week_idx + 1 AS week_idx, CAST(count(*) AS BIGINT) AS n_churned
        |       FROM l WHERE next_w IS NULL OR next_w > week_idx + 1 GROUP BY 1)
        |SELECT act.week_idx, act.n_active, act.n_new, act.n_retained, act.n_resurrected,
        |  coalesce(ch.n_churned, 0) AS n_churned,
        |  CASE WHEN coalesce(ch.n_churned, 0) > 0
        |       THEN round(CAST(act.n_new + act.n_resurrected AS DOUBLE) / ch.n_churned, 6)
        |       ELSE 0.0 END AS quick_ratio
        |FROM act LEFT JOIN ch ON ch.week_idx = act.week_idx""".stripMargin,

    // 3 unrolled min-label rounds over the adjacency-bigram graph
    "token_label_prop" ->
      s"""WITH t0 AS (SELECT $toks AS toks FROM documents),
         |bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t0)
         |      WHERE toks[i] <> toks[i + 1]),
         |half AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b FROM bi),
         |e AS (SELECT a, b FROM half UNION ALL SELECT b, a FROM half),
         |l0 AS (SELECT DISTINCT a AS token, a AS label FROM e),
         |l1 AS (SELECT l.token, least(l.label, coalesce(m.nb, l.label)) AS label
         |       FROM l0 l LEFT JOIN (SELECT e.a AS token, min(l0.label) AS nb
         |                            FROM e JOIN l0 ON l0.token = e.b GROUP BY 1) m USING (token)),
         |l2 AS (SELECT l.token, least(l.label, coalesce(m.nb, l.label)) AS label
         |       FROM l1 l LEFT JOIN (SELECT e.a AS token, min(l1.label) AS nb
         |                            FROM e JOIN l1 ON l1.token = e.b GROUP BY 1) m USING (token)),
         |l3 AS (SELECT l.token, least(l.label, coalesce(m.nb, l.label)) AS label
         |       FROM l2 l LEFT JOIN (SELECT e.a AS token, min(l2.label) AS nb
         |                            FROM e JOIN l2 ON l2.token = e.b GROUP BY 1) m USING (token))
         |SELECT label, CAST(count(*) AS BIGINT) AS n_tokens,
         |  min(token) AS min_token, max(token) AS max_token
         |FROM l3 GROUP BY 1""".stripMargin,

    // ALL-CAPS / Capitalized / lowercase raw-token shares per source
    "casing_profile" ->
      """WITH tok AS (SELECT source, t FROM
        |  (SELECT source, unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS t FROM documents)),
        |a AS (SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN regexp_matches(t, '^[A-Z]{2,}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_allcaps,
        |  CAST(sum(CASE WHEN regexp_matches(t, '^[A-Z][a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_cap,
        |  CAST(sum(CASE WHEN regexp_matches(t, '^[a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_lower
        |  FROM tok GROUP BY 1)
        |SELECT source, n_tokens, n_allcaps,
        |  round(CAST(n_allcaps AS DOUBLE) / n_tokens, 6) AS allcaps_share,
        |  round(CAST(n_cap AS DOUBLE) / n_tokens, 6) AS capitalized_share,
        |  round(CAST(n_lower AS DOUBLE) / n_tokens, 6) AS lower_share,
        |  round(CAST(n_allcaps AS DOUBLE) / n_tokens, 6) > 0.1 AS shouty
        |FROM a""".stripMargin,

    // association rules with sessions as baskets (distinct type incidence)
    "session_event_pairs" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT user_id, event_id, event_type, us,
        |      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |si AS (SELECT user_id, event_type,
        |      sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM g),
        |s AS (SELECT DISTINCT user_id, session_id, event_type FROM si),
        |n AS (SELECT count(*) AS n_sessions FROM (SELECT DISTINCT user_id, session_id FROM s)),
        |tn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM s GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
        |      FROM s a JOIN s b ON a.user_id = b.user_id AND a.session_id = b.session_id
        |       AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(CAST(n_ab AS DOUBLE) / ta.n_t, 6) AS conf_a_b,
        |  round(CAST(n_ab AS DOUBLE) * n.n_sessions / (ta.n_t * tb.n_t), 6) AS lift
        |FROM p JOIN tn ta ON ta.event_type = p.type_a
        |JOIN tn tb ON tb.event_type = p.type_b CROSS JOIN n""".stripMargin,

    // keep-first keepers vs dropped copies, exact micro-unit quality means
    "dup_quality_gap" ->
      s"""WITH q AS (SELECT doc_id, md5($clean) AS content_hash,
         |      CAST(round(($qualitySql) * 1000000) AS BIGINT) AS q_micro FROM documents),
         |f AS (SELECT doc_id, q_micro,
         |      doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_keeper FROM q),
         |a AS (SELECT
         |  CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
         |  CAST(sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  CASE WHEN sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) > 0 THEN
         |    round(CAST(sum(CASE WHEN is_keeper THEN q_micro ELSE 0 END) AS DOUBLE)
         |      / sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) / 1000000.0, 6) ELSE 0.0 END AS mean_q_keepers,
         |  CASE WHEN sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) > 0 THEN
         |    round(CAST(sum(CASE WHEN NOT is_keeper THEN q_micro ELSE 0 END) AS DOUBLE)
         |      / sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) / 1000000.0, 6) ELSE 0.0 END AS mean_q_dups
         |  FROM f)
         |SELECT *, round(mean_q_keepers - mean_q_dups, 6) AS quality_gap FROM a""".stripMargin,

    // deflated power iteration: top-2 eigenvalues vs covariance trace.
    // Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and the doubled (deflated) iteration chain would
    // re-expand the covariance subtree exponentially otherwise.
    "pca_explained" -> {
      def rounds(tag: String, mat: String) = (1 to 5).map { k =>
        s"""w$tag$k AS MATERIALIZED (SELECT dim_i AS dim,
           |  round(list_reduce(list_sort(list(round(cov * v, 9))), (a, b) -> a + b), 9) AS w
           |  FROM $mat JOIN v$tag${k - 1} ON $mat.dim_j = v$tag${k - 1}.dim GROUP BY dim_i),
           |n$tag$k AS MATERIALIZED (SELECT round(sqrt(list_reduce(list_sort(list(w * w)), (a, b) -> a + b)), 9) AS nrm FROM w$tag$k),
           |v$tag$k AS MATERIALIZED (SELECT dim, round(w / nrm, 9) AS v, nrm AS eig FROM w$tag$k CROSS JOIN n$tag$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
         |      CAST(embedding[i] AS DOUBLE) AS x, CAST(embedding[j] AS DOUBLE) AS y
         |      FROM embeddings, range(1, 9) r1(i), range(1, 9) r2(j) WHERE j >= i),
         |cu AS MATERIALIZED (SELECT dim_i, dim_j,
         |  round(list_reduce(list_sort(list(x * y)), (a, b) -> a + b) / count(*)
         |    - (list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(*))
         |    * (list_reduce(list_sort(list(y)), (a, b) -> a + b) / count(*)), 6) AS cov
         |  FROM p GROUP BY dim_i, dim_j),
         |cf AS MATERIALIZED (SELECT dim_i, dim_j, cov FROM cu
         |       UNION ALL
         |       SELECT dim_j AS dim_i, dim_i AS dim_j, cov FROM cu WHERE dim_i <> dim_j),
         |vA0 AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS dim,
         |        CAST(1.0 AS DOUBLE) / sqrt(CAST(8.0 AS DOUBLE)) AS v FROM range(1, 9) r(i)),
         |${rounds("A", "cf")},
         |c2 AS MATERIALIZED (SELECT cf.dim_i, cf.dim_j, round(cov - vi.eig * vi.v * vj.v, 9) AS cov
         |       FROM cf JOIN vA5 vi ON vi.dim = cf.dim_i JOIN vA5 vj ON vj.dim = cf.dim_j),
         |vB0 AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS dim,
         |        CAST(1.0 AS DOUBLE) / sqrt(CAST(8.0 AS DOUBLE)) AS v FROM range(1, 9) r(i)),
         |${rounds("B", "c2")},
         |tr AS (SELECT round(list_reduce(list_sort(list(cov)), (a, b) -> a + b), 9) AS trace
         |       FROM cf WHERE dim_i = dim_j),
         |e1 AS (SELECT 1 AS component, max(eig) AS eigenvalue FROM vA5),
         |e2 AS (SELECT 2 AS component, max(eig) AS eigenvalue FROM vB5)
         |SELECT component, eigenvalue, trace,
         |  CASE WHEN trace > 0 THEN round(eigenvalue / trace, 6) ELSE 0.0 END AS explained_ratio
         |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) CROSS JOIN tr""".stripMargin
    },

    // RFM fit per half of the order history, customer-joined matrix
    "rfm_migration" -> {
      def rfmHalf(tag: String, pred: String) =
        s"""pc$tag AS (SELECT o_custkey, max(o_orderdate) AS lo, count(*) AS frequency,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
           |  FROM o WHERE $pred GROUP BY 1),
           |t$tag AS (SELECT o_custkey,
           |  ntile(4) OVER (ORDER BY lo ASC, o_custkey) AS r,
           |  ntile(4) OVER (ORDER BY frequency ASC, o_custkey) AS f,
           |  ntile(4) OVER (ORDER BY monetary_cents ASC, o_custkey) AS m
           |  FROM pc$tag),
           |s$tag AS (SELECT o_custkey, CAST(r * 100 + f * 10 + m AS BIGINT) AS segment FROM t$tag)""".stripMargin
      s"""WITH w AS (SELECT orders.*, epoch_ns(o_orderdate) // 1000 // 86400000000 AS _day FROM orders),
         |b AS (SELECT (min(_day) + max(_day)) // 2 AS mid FROM w),
         |o AS (SELECT w.*, mid FROM w CROSS JOIN b),
         |${rfmHalf("H1", "_day <= mid")},
         |${rfmHalf("H2", "_day > mid")},
         |j AS (SELECT sH1.segment AS segment_h1, sH2.segment AS segment_h2
         |      FROM sH1 JOIN sH2 USING (o_custkey)),
         |tot AS (SELECT count(*) AS n_total FROM j)
         |SELECT segment_h1, segment_h2, CAST(count(*) AS BIGINT) AS n_customers,
         |  round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
         |FROM j CROSS JOIN tot GROUP BY 1, 2, n_total""".stripMargin
    },

    // eta-squared + F of daily revenue by day-of-week bucket
    // (moment formulation; SS values never emitted, only O(1) ratios)
    "seasonality_anova" ->
      """WITH days AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS r FROM events GROUP BY 1),
        |gm AS (SELECT day_idx % 7 AS dow, CAST(count(*) AS BIGINT) AS n_g,
        |       CAST(sum(r) AS BIGINT) AS sg, sum(r * r) AS sg2 FROM days GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k_dow, CAST(sum(n_g) AS BIGINT) AS n_days,
        |  CAST(sum(sg) AS BIGINT) AS s, sum(sg2) AS s2,
        |  list_reduce(list_sort(list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / n_g)), (a, b) -> a + b) AS bsum
        |  FROM gm),
        |ss AS (SELECT n_days, k_dow,
        |  CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_days AS sst,
        |  bsum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_days AS ssb
        |  FROM tot)
        |SELECT n_days, k_dow,
        |  CASE WHEN sst > 0 THEN round(ssb / sst, 6) ELSE 0.0 END AS eta_sq,
        |  CASE WHEN sst - ssb > 0 AND n_days > k_dow
        |       THEN round((ssb / (k_dow - 1)) / ((sst - ssb) / (n_days - k_dow)), 6)
        |       ELSE 0.0 END AS f_stat
        |FROM ss""".stripMargin,

    // p50/p90 gap seconds per adjacent (from_type, to_type) transition
    "transition_latency" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT event_type, us,
        |      lag(event_type) OVER w AS prev_type, lag(us) OVER w AS prev_us
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n,
        |  round(quantile_cont((us - prev_us) // 1000000, 0.5), 4) AS p50_s,
        |  round(quantile_cont((us - prev_us) // 1000000, 0.9), 4) AS p90_s
        |FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // cross-lang doc pairs sharing a corpus-rare bigram (df in [2,3])
    "bitext_candidates" ->
      s"""WITH t0 AS (SELECT doc_id, lang, $toks AS toks FROM documents WHERE len($toks) >= 2),
         |dt AS (SELECT DISTINCT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS bg
         |      FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM t0)),
         |rare AS (SELECT bg FROM
         |      (SELECT bg, count(*) AS df FROM dt GROUP BY 1) WHERE df >= 2 AND df <= 3),
         |r AS (SELECT dt.* FROM dt JOIN rare USING (bg))
         |SELECT a.doc_id AS a_id, a.lang AS lang_a, b.doc_id AS b_id, b.lang AS lang_b,
         |  count(*) AS n_shared_rare
         |FROM r a JOIN r b ON a.bg = b.bg AND a.lang < b.lang
         |GROUP BY 1, 2, 3, 4 HAVING count(*) >= 1""".stripMargin,

    // exact-content collisions across the doc_id % 4 train/test split
    "split_leakage" ->
      s"""WITH h AS (SELECT doc_id, md5($clean) AS content_hash,
         |      CASE WHEN doc_id % 4 < 3 THEN 'train' ELSE 'test' END AS split FROM documents),
         |lk AS (SELECT CAST(count(*) AS BIGINT) AS n_leaked_hashes,
         |       CAST(coalesce(sum(n_te), 0) AS BIGINT) AS n_leaked_test_docs FROM
         |      (SELECT content_hash,
         |         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_tr,
         |         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_te
         |       FROM h GROUP BY 1) WHERE n_tr > 0 AND n_te > 0),
         |t AS (SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |      CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test FROM h)
         |SELECT n_train, n_test, n_leaked_hashes, n_leaked_test_docs,
         |  CASE WHEN n_test > 0 THEN round(CAST(n_leaked_test_docs AS DOUBLE) / n_test, 6)
         |       ELSE 0.0 END AS leaked_test_share
         |FROM t CROSS JOIN lk""".stripMargin,

    // per-customer integer-moment OLS slopes -> growing/shrinking census
    "customer_value_trend" ->
      """WITH o AS (SELECT o_custkey,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS i,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |m AS (SELECT o_custkey, count(*) AS n, CAST(sum(i) AS BIGINT) AS sx,
        |      CAST(sum(i * i) AS BIGINT) AS sxx, CAST(sum(c) AS BIGINT) AS sy,
        |      CAST(sum(i * c) AS BIGINT) AS sxy FROM o GROUP BY 1),
        |f AS (SELECT CAST(round(
        |      (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)) * 1000000) AS BIGINT) AS sm
        |      FROM m WHERE n >= 3 AND n * sxx - sx * sx <> 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_customers_fit,
        |  CAST(sum(CASE WHEN sm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_growing,
        |  CAST(sum(CASE WHEN sm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shrinking,
        |  round(CAST(sum(CASE WHEN sm > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS growing_share,
        |  round(CAST(sum(sm) AS DOUBLE) / count(*) / 1000000.0, 4) AS mean_slope_cents_per_order
        |FROM f""".stripMargin,

    // OLS of token length on ln(frequency): the law-of-abbreviation fit
    "zipf_abbreviation" ->
      s"""WITH c AS (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1),
         |x AS (SELECT round(ln(CAST(cnt AS DOUBLE)), 9) AS x,
         |      CAST(length(token) AS DOUBLE) AS y FROM c),
         |a AS (SELECT count(*) AS n_tokens,
         |  list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sx,
         |  list_reduce(list_sort(list(y)), (p, q) -> p + q) AS sy,
         |  list_reduce(list_sort(list(round(x * y, 9))), (p, q) -> p + q) AS sxy,
         |  list_reduce(list_sort(list(round(x * x, 9))), (p, q) -> p + q) AS sxx
         |  FROM x)
         |SELECT n_tokens,
         |  round((n_tokens * sxy - sx * sy) / (n_tokens * sxx - sx * sx), 6) AS slope_len_per_lnf,
         |  round((sy * sxx - sx * sxy) / (n_tokens * sxx - sx * sx), 6) AS intercept_len
         |FROM a WHERE n_tokens > 1 AND n_tokens * sxx - sx * sx <> 0.0""".stripMargin,

    // consecutive-purchase gap profile + repeat-buyer share
    "repurchase_intervals" ->
      """WITH p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
        |      FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id, us,
        |      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM p),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n_buyers,
        |      CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
        |      FROM (SELECT user_id, count(*) AS n FROM p GROUP BY 1)),
        |x AS (SELECT (us - prev_us) // 86400000000 AS gap_days FROM g WHERE prev_us IS NOT NULL),
        |a AS (SELECT count(*) AS n_gaps,
        |      round(quantile_cont(gap_days, 0.5), 4) AS p50_days,
        |      round(quantile_cont(gap_days, 0.9), 4) AS p90_days FROM x)
        |SELECT n_buyers, n_repeat,
        |  round(CAST(n_repeat AS DOUBLE) / n_buyers, 6) AS repeat_share,
        |  n_gaps, p50_days, p90_days
        |FROM a CROSS JOIN b""".stripMargin,

    // order-to-ship latency profile per order priority
    "priority_leadtime" ->
      """WITH li AS (SELECT l_orderkey AS o_orderkey,
        |      epoch_ns(l_shipdate) // 1000 AS ship_us FROM lineitem),
        |o AS (SELECT o_orderkey, o_orderpriority,
        |      epoch_ns(o_orderdate) // 1000 AS order_us FROM orders),
        |x AS (SELECT o_orderpriority, (ship_us - order_us) // 86400000000 AS lat_days
        |      FROM li JOIN o USING (o_orderkey))
        |SELECT o_orderpriority, count(*) AS n_lines,
        |  round(CAST(sum(lat_days) AS DOUBLE) / count(*), 4) AS mean_days,
        |  round(quantile_cont(lat_days, 0.5), 4) AS p50_days,
        |  round(quantile_cont(lat_days, 0.9), 4) AS p90_days
        |FROM x GROUP BY 1""".stripMargin,

    // customer spend HHI + effective N off exact integer moments
    "spend_hhi" ->
      """WITH pc AS (SELECT o_custkey,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
        |      FROM orders GROUP BY 1),
        |a AS (SELECT count(*) AS n_customers, CAST(sum(r) AS BIGINT) AS s, sum(r * r) AS s2 FROM pc),
        |h AS (SELECT n_customers,
        |      round(CAST(s2 AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9) AS hhi
        |      FROM a)
        |SELECT n_customers, hhi,
        |  CASE WHEN hhi > 0 THEN round(1.0 / hhi, 4) ELSE 0.0 END AS effective_n
        |FROM h""".stripMargin,

    // MRR-style monthly revenue flows (new/repeat/resurrected/churned)
    "revenue_growth_accounting" ->
      """WITH cm AS (SELECT user_id, CAST(year(ts) * 12 + month(ts) AS BIGINT) AS m,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS r
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |l AS (SELECT *, lag(m) OVER w AS prev_m, lead(m) OVER w AS next_m
        |      FROM cm WINDOW w AS (PARTITION BY user_id ORDER BY m)),
        |act AS (SELECT m, CAST(sum(r) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN prev_m IS NULL THEN r ELSE 0 END) AS BIGINT) AS new_cents,
        |  CAST(sum(CASE WHEN prev_m = m - 1 THEN r ELSE 0 END) AS BIGINT) AS repeat_cents,
        |  CAST(sum(CASE WHEN prev_m IS NOT NULL AND prev_m < m - 1 THEN r ELSE 0 END) AS BIGINT) AS resurrected_cents
        |  FROM l GROUP BY 1),
        |ch AS (SELECT m + 1 AS m, CAST(sum(r) AS BIGINT) AS churned_cents
        |       FROM l WHERE next_m IS NULL OR next_m > m + 1 GROUP BY 1),
        |pv AS (SELECT m + 1 AS m, total_cents AS prev_total FROM act)
        |SELECT act.m AS month_idx, act.total_cents, act.new_cents, act.repeat_cents,
        |  act.resurrected_cents, coalesce(ch.churned_cents, 0) AS churned_cents,
        |  CASE WHEN pv.prev_total > 0
        |       THEN round(CAST(act.repeat_cents AS DOUBLE) / pv.prev_total, 6)
        |       ELSE 0.0 END AS revenue_retention
        |FROM act LEFT JOIN ch ON ch.m = act.m LEFT JOIN pv ON pv.m = act.m""".stripMargin,

    // directional who-copies-whom matrix over duplicate 8-token chunks
    "dup_source_matrix" ->
      s"""WITH t AS (SELECT doc_id, source, $toks AS toks FROM documents WHERE len($toks) > 0),
         |c AS (SELECT doc_id, source, chunk_id,
         |      md5(array_to_string(list_slice(toks, chunk_id * 8 + 1, chunk_id * 8 + 8), ' ')) AS ch
         |      FROM (SELECT doc_id, source, toks,
         |            unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS chunk_id FROM t)),
         |k AS (SELECT *, row_number() OVER (PARTITION BY ch ORDER BY doc_id, chunk_id) AS rn FROM c),
         |kp AS (SELECT ch, source AS keeper_source FROM k WHERE rn = 1)
         |SELECT keeper_source, dup_source, CAST(count(*) AS BIGINT) AS n_dups
         |FROM (SELECT ch, source AS dup_source FROM k WHERE rn <> 1) d
         |JOIN kp USING (ch) GROUP BY 1, 2""".stripMargin,

    // Pearson correlation matrix over the first 8 dims + redundancy flag
    "embed_dim_corr" ->
      """WITH p AS (SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
        |      CAST(embedding[i] AS DOUBLE) AS x, CAST(embedding[j] AS DOUBLE) AS y
        |      FROM embeddings, range(1, 9) r1(i), range(1, 9) r2(j) WHERE j >= i),
        |cu AS (SELECT dim_i, dim_j,
        |  round(list_reduce(list_sort(list(x * y)), (a, b) -> a + b) / count(*)
        |    - (list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(*))
        |    * (list_reduce(list_sort(list(y)), (a, b) -> a + b) / count(*)), 6) AS cov
        |  FROM p GROUP BY dim_i, dim_j),
        |sd AS (SELECT dim_i AS dim, sqrt(cov) AS sd FROM cu WHERE dim_i = dim_j)
        |SELECT dim_i, dim_j, corr, abs(corr) >= 0.95 AS redundant FROM (
        |  SELECT c.dim_i, c.dim_j,
        |    CASE WHEN si.sd * sj.sd > 0 THEN round(c.cov / (si.sd * sj.sd), 6) ELSE 0.0 END AS corr
        |  FROM cu c JOIN sd si ON si.dim = c.dim_i JOIN sd sj ON sj.dim = c.dim_j
        |  WHERE c.dim_i < c.dim_j)""".stripMargin,

    // per-source gate failures + survival rate (global dup judgment)
    "filter_attrition_by_source" ->
      s"""WITH f0 AS (SELECT doc_id, source, n_chars, $qualitySql AS q,
         |    CAST(len($toks) AS DOUBLE) / CAST(nullif(len(list_distinct($toks)), 0) AS DOUBLE) AS rep,
         |    md5($clean) AS ch FROM documents),
         |f1 AS (SELECT *, doc_id <> min(doc_id) OVER (PARTITION BY ch) AS f_dup FROM f0),
         |fl AS (SELECT source,
         |    coalesce(n_chars < 100, true) AS f_short,
         |    coalesce(q < CAST(0.3 AS DOUBLE), true) AS f_quality,
         |    coalesce(rep > CAST(3.0 AS DOUBLE), false) AS f_rep,
         |    coalesce(f_dup, false) AS f_dup FROM f1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN f_short THEN 1 ELSE 0 END), 0) AS BIGINT) AS short_n,
         |  CAST(coalesce(sum(CASE WHEN f_quality THEN 1 ELSE 0 END), 0) AS BIGINT) AS quality_n,
         |  CAST(coalesce(sum(CASE WHEN f_rep THEN 1 ELSE 0 END), 0) AS BIGINT) AS rep_n,
         |  CAST(coalesce(sum(CASE WHEN f_dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS dup_n,
         |  CAST(coalesce(sum(CASE WHEN f_short OR f_quality OR f_rep OR f_dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS any_n,
         |  round(CAST(count(*) - sum(CASE WHEN f_short OR f_quality OR f_rep OR f_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS keep_rate
         |FROM fl GROUP BY 1""".stripMargin,

    // greedy argmax walk over the bigram table (bi MATERIALIZED: one
    // probe per unrolled step)
    "bigram_greedy_gen" -> {
      val chain = (1 to 10).map { k =>
        s"""g$k AS (SELECT $k AS step, w2 AS token, cnt FROM bi
           |  WHERE w1 = (SELECT token FROM g${k - 1})
           |  ORDER BY cnt DESC, w2 LIMIT 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS MATERIALIZED (SELECT $toks AS toks FROM documents),
         |uni AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |      FROM (SELECT unnest(toks) AS token FROM t) GROUP BY 1),
         |bi AS MATERIALIZED (SELECT toks[i] AS w1, toks[i + 1] AS w2, CAST(count(*) AS BIGINT) AS cnt
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2)
         |      GROUP BY 1, 2),
         |g0 AS (SELECT 0 AS step, token, cnt FROM uni ORDER BY cnt DESC, token LIMIT 1),
         |$chain
         |${(0 to 10).map(k => s"SELECT * FROM g$k").mkString(" UNION ALL ")}""".stripMargin
    },

    // pre-purchase touch-count histogram over converting journeys
    "touches_to_convert" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |k AS (SELECT * FROM (SELECT *,
        |      coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb FROM e)
        |      WHERE pb = 0),
        |u AS (SELECT user_id,
        |      CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_touches,
        |      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |      FROM k GROUP BY 1),
        |c AS (SELECT n_touches FROM u WHERE conv = 1),
        |tot AS (SELECT count(*) AS n_converting FROM c)
        |SELECT n_touches, CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(count(*) AS DOUBLE) / n_converting, 6) AS share
        |FROM c CROSS JOIN tot GROUP BY 1, n_converting""".stripMargin,

    // Shapley over the exact-coalition lattice; r MATERIALIZED because
    // 64 scalar subqueries reference it (inlining would re-run the
    // per-user aggregation per term)
    "shapley_attribution" -> {
      val channels = Seq("click", "error", "signup", "view")
      val fact = Array(1, 1, 2, 6)
      def vx(s: Seq[String]) =
        s"coalesce((SELECT rate FROM r WHERE set_key = '${s.sorted.mkString(",")}'), 0.0)"
      val selects = channels.map { c =>
        val others = channels.filterNot(_ == c)
        val terms = (0 until (1 << others.length)).map { mask =>
          val s = others.zipWithIndex.collect {
            case (ch, i) if (mask & (1 << i)) != 0 => ch }
          val coef = fact(s.length) * fact(channels.length - 1 - s.length)
          s"$coef * (${vx(s :+ c)} - ${vx(s)}) / 24.0"
        }
        s"SELECT '$c' AS channel, round(${terms.mkString(" + ")}, 6) AS shapley_value"
      }
      s"""WITH e AS MATERIALIZED (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
         |k AS MATERIALIZED (SELECT * FROM (SELECT *,
         |      coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY user_id ORDER BY us, event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb FROM e)
         |      WHERE pb = 0),
         |u AS MATERIALIZED (SELECT user_id,
         |      coalesce(array_to_string(list_sort(list(DISTINCT event_type)
         |        FILTER (event_type <> 'purchase')), ','), '') AS set_key,
         |      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |      FROM k GROUP BY 1),
         |v AS MATERIALIZED (SELECT set_key, count(*) AS n_users, sum(conv) AS n_conv FROM u GROUP BY 1),
         |r AS MATERIALIZED (SELECT set_key, round(CAST(n_conv AS DOUBLE) / n_users, 6) AS rate FROM v)
         |${selects.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // per-supplier order-to-ship latency profile (floor days)
    "supplier_leadtime" ->
      """WITH li AS (SELECT l_orderkey AS o_orderkey, l_suppkey,
        |      epoch_ns(l_shipdate) // 1000 AS ship_us FROM lineitem),
        |o AS (SELECT o_orderkey, epoch_ns(o_orderdate) // 1000 AS order_us FROM orders),
        |x AS (SELECT l_suppkey, (ship_us - order_us) // 86400000000 AS lat_days
        |      FROM li JOIN o USING (o_orderkey))
        |SELECT x.l_suppkey, count(*) AS n_lines,
        |  round(CAST(sum(lat_days) AS DOUBLE) / count(*), 4) AS mean_days,
        |  round(quantile_cont(lat_days, 0.5), 4) AS p50_days,
        |  round(quantile_cont(lat_days, 0.9), 4) AS p90_days,
        |  s_name
        |FROM x JOIN supplier ON s_suppkey = x.l_suppkey GROUP BY 1, s_name""".stripMargin,

    // returned share + exact returned cents per part brand
    "brand_return_rates" ->
      """WITH li AS (SELECT l_partkey, l_returnflag,
        |      CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev FROM lineitem)
        |SELECT p_brand, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN rev ELSE 0 END) AS BIGINT) AS returned_cents,
        |  round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS return_rate
        |FROM li JOIN part ON p_partkey = l_partkey GROUP BY 1""".stripMargin,

    // symmetric JS divergence between every language pair's unigrams
    "lang_js_matrix" ->
      s"""WITH t AS (SELECT lang, unnest($toks) AS token FROM documents),
         |cl AS (SELECT lang, token, count(*) AS cnt FROM t GROUP BY 1, 2),
         |tl AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM cl GROUP BY 1),
         |sh AS (SELECT cl.lang, token, round(CAST(cnt AS DOUBLE) / tot, 9) AS p
         |       FROM cl JOIN tl USING (lang)),
         |pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b FROM tl a JOIN tl b ON a.lang < b.lang),
         |ae AS (SELECT lang_a, lang_b, token, p AS pa FROM pr JOIN sh ON sh.lang = pr.lang_a),
         |be AS (SELECT lang_a, lang_b, token, p AS pb FROM pr JOIN sh ON sh.lang = pr.lang_b),
         |j AS (SELECT lang_a, lang_b, coalesce(pa, 0.0) AS p, coalesce(pb, 0.0) AS q
         |      FROM ae FULL JOIN be USING (lang_a, lang_b, token)),
         |x AS (SELECT lang_a, lang_b, round(
         |   CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END +
         |   CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END, 9) AS contrib
         |   FROM j)
         |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_tokens_union,
         |  round(0.5 * list_reduce(list_sort(list(contrib)), (a, b) -> a + b), 6) AS js
         |FROM x GROUP BY 1, 2""".stripMargin,

    // centroid silhouette over the same 3-round Lloyd fit as kmeans_lloyd
    // (MATERIALIZED: the final centroids are referenced by both the
    // assignment and the all-centroid distance frame)
    "kmeans_silhouette" -> {
      def assign(c: String, a: String) =
        s"""$a AS MATERIALIZED (SELECT vec_id, e, cluster, dist FROM (
           |  SELECT vec_id, e, cluster, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 9),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS MATERIALIZED (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 9)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS MATERIALIZED (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      s"""WITH v AS MATERIALIZED (SELECT vec_id, list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 4),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |${recenter("a3", "m3", "c3")},
         |${assign("c3", "a4")},
         |own AS MATERIALIZED (SELECT vec_id, cluster AS own_cluster FROM a4),
         |dall AS MATERIALIZED (SELECT v.vec_id, c3.cluster,
         |  round(sqrt(round(list_reduce(list_transform(range(1, 9),
         |    i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9)), 9) AS d
         |  FROM v CROSS JOIN c3),
         |x AS MATERIALIZED (SELECT d.vec_id, own_cluster,
         |  min(CASE WHEN d.cluster = own_cluster THEN d.d END) AS a,
         |  min(CASE WHEN d.cluster <> own_cluster THEN d.d END) AS b
         |  FROM dall d JOIN own USING (vec_id) GROUP BY 1, 2),
         |s AS MATERIALIZED (SELECT own_cluster,
         |  CASE WHEN greatest(a, b) > 0 THEN round((b - a) / greatest(a, b), 6) ELSE 0.0 END AS s
         |  FROM x)
         |SELECT own_cluster AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |  round(CAST(sum(CAST(round(s * 1000000) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_silhouette
         |FROM s GROUP BY 1""".stripMargin
    },

    // LSH banding vs exact-jaccard ground truth on the doc_id<200 sample
    "minhash_pr_eval" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents
         |      WHERE doc_id < 200 AND len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |da AS (SELECT doc_id, list_sort(list(token)) AS arr, count(*) AS n FROM dt GROUP BY 1),
         |ap AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |   round(CAST(len(list_intersect(a.arr, b.arr)) AS DOUBLE)
         |     / CAST(a.n + b.n - len(list_intersect(a.arr, b.arr)) AS DOUBLE), 6) AS jac
         |   FROM da a JOIN da b ON a.doc_id < b.doc_id),
         |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM ap WHERE jac >= 0.9),
         |cj AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |       CAST(coalesce(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_tp
         |       FROM cand JOIN ap USING (a_id, b_id))
         |SELECT n_truth, n_candidates, n_tp,
         |  CASE WHEN n_candidates > 0 THEN round(CAST(n_tp AS DOUBLE) / n_candidates, 6)
         |       ELSE 0.0 END AS "precision",
         |  CASE WHEN n_truth > 0 THEN round(CAST(n_tp AS DOUBLE) / n_truth, 6)
         |       ELSE 0.0 END AS recall
         |FROM cj CROSS JOIN tr""".stripMargin,

    // 2^3 vote-pattern census of three independent keep signals
    "filter_vote_patterns" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toks AS toks FROM documents),
         |v AS (SELECT doc_id,
         |   ($qualitySql) >= 0.5 AS q_vote,
         |   (len(toks) >= 5 AND len(toks) <= 1000)
         |     AND (round(CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) ELSE 0.0 END, 6) >= 2.0
         |          AND round(CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) ELSE 0.0 END, 6) <= 12.0)
         |     AND len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) >= 1 AS g_vote,
         |   ($langPred) = lang AS l_vote
         | FROM t)
         |SELECT q_vote, g_vote, l_vote,
         |  (CAST(q_vote AS INT) + CAST(g_vote AS INT) + CAST(l_vote AS INT)) >= 2 AS kept,
         |  count(*) AS n_docs
         |FROM v GROUP BY 1, 2, 3, 4""".stripMargin,

    // sliding 3-grams of event types within sessions, support-counted
    "frequent_paths3" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |si AS (SELECT user_id, event_id, event_type, us,
        |      sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |      FROM g),
        |gr AS (SELECT event_type || '>' || t1 || '>' || t2 AS path3 FROM
        |      (SELECT event_type,
        |         lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2
        |       FROM si WINDOW w AS (PARTITION BY user_id, session_id ORDER BY us, event_id))
        |      WHERE t1 IS NOT NULL AND t2 IS NOT NULL),
        |tot AS (SELECT count(*) AS n_total FROM gr)
        |SELECT path3, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(count(*) AS DOUBLE) / n_total, 6) AS support
        |FROM gr CROSS JOIN tot GROUP BY 1, n_total HAVING count(*) >= 1""".stripMargin,

    // one wide ML feature row per user off a single lag-window pass
    "user_features" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us,
        |      CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |g AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
        |h AS (SELECT max(us) // 86400000000 AS max_day FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(count(DISTINCT us // 86400000000) AS BIGINT) AS n_active_days,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
        |  CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS monetary_cents,
        |  CAST(max_day - max(us) // 86400000000 AS BIGINT) AS recency_days,
        |  CASE WHEN sum(CASE WHEN prev_us IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(sum(CASE WHEN prev_us IS NOT NULL THEN us - prev_us ELSE 0 END) AS DOUBLE)
        |      / sum(CASE WHEN prev_us IS NOT NULL THEN 1 ELSE 0 END) / 1000000.0, 4)
        |  ELSE 0.0 END AS mean_gap_s
        |FROM g CROSS JOIN h GROUP BY user_id, max_day""".stripMargin,

    // H1->H2 revenue delta decomposed into volume/price/mix per part type
    "price_volume_mix" ->
      """WITH li AS (SELECT l_partkey, epoch_ns(l_shipdate) // 1000 // 86400000000 AS _day,
        |      CAST(l_quantity AS BIGINT) AS q,
        |      CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev FROM lineitem),
        |m AS (SELECT (min(_day) + max(_day)) // 2 AS mid FROM li),
        |t AS (SELECT li.*, p_type, mid FROM li CROSS JOIN m JOIN part ON p_partkey = l_partkey),
        |h1 AS (SELECT p_type, CAST(sum(q) AS BIGINT) AS q1, CAST(sum(rev) AS BIGINT) AS rev1
        |       FROM t WHERE _day <= mid GROUP BY 1),
        |h2 AS (SELECT p_type, CAST(sum(q) AS BIGINT) AS q2, CAST(sum(rev) AS BIGINT) AS rev2
        |       FROM t WHERE _day > mid GROUP BY 1)
        |SELECT p_type, q1, q2, rev1 AS rev1_cents, rev2 AS rev2_cents,
        |  rev2 - rev1 AS delta_rev_cents,
        |  round((q2 - q1) * (CAST(rev1 AS DOUBLE) / q1), 4) AS volume_effect,
        |  round((CAST(rev2 AS DOUBLE) / q2 - CAST(rev1 AS DOUBLE) / q1) * q1, 4) AS price_effect,
        |  round((CAST(rev2 AS DOUBLE) / q2 - CAST(rev1 AS DOUBLE) / q1) * (q2 - q1), 4) AS mix_effect
        |FROM h1 JOIN h2 USING (p_type) WHERE q1 > 0 AND q2 > 0""".stripMargin,

    // prefix-cache savings at k in {4,8,16}: shared-first-k-token mass
    "prefix_dedup_stats" -> {
      def level(k: Int) =
        s"""SELECT $k AS k, CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS n_docs_considered,
           |  CAST(coalesce(sum(CASE WHEN n_docs >= 2 THEN n_docs ELSE 0 END), 0) AS BIGINT) AS n_docs_sharing,
           |  CAST(coalesce(sum(CASE WHEN n_docs >= 2 THEN (n_docs - 1) * $k ELSE 0 END), 0) AS BIGINT) AS tokens_saved,
           |  CASE WHEN coalesce(sum(n_docs), 0) > 0 THEN
           |    round(CAST(sum(CASE WHEN n_docs >= 2 THEN (n_docs - 1) * $k ELSE 0 END) AS DOUBLE)
           |      / (sum(n_docs) * $k), 6) ELSE 0.0 END AS savings_share
           |FROM (SELECT array_to_string(toks[1:$k], ' ') AS prefix, count(*) AS n_docs
           |      FROM t WHERE len(toks) >= $k GROUP BY 1)""".stripMargin
      s"""WITH t AS (SELECT $toks AS toks FROM documents)
         |${Seq(4, 8, 16).map(level).mkString(" UNION ALL ")}""".stripMargin
    },

    // deterministic SimCSE-style triples off the chunk pass
    "contrastive_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  array_to_string(toks[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ') AS chunk_text
         |  FROM (SELECT doc_id, toks, n,
         |        unnest(range(0, CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_id
         |        FROM f)),
         |c0 AS (SELECT doc_id, chunk_text FROM ch WHERE chunk_id = 0),
         |bm AS (SELECT doc_id % 64 AS bkt, min(doc_id) AS mn, max(doc_id) AS mx
         |       FROM c0 GROUP BY 1),
         |pos AS (SELECT a.doc_id, a.chunk_id, a.chunk_text AS anchor_text,
         |        p.chunk_text AS positive_text
         |        FROM ch a JOIN ch p ON p.doc_id = a.doc_id AND p.chunk_id = a.chunk_id + 1)
         |SELECT pos.doc_id, pos.chunk_id, anchor_text, positive_text,
         |  neg_doc_id, nc.chunk_text AS negative_text
         |FROM (SELECT pos.*, CASE WHEN pos.doc_id <> bm.mx THEN bm.mx
         |        WHEN bm.mn <> bm.mx THEN bm.mn END AS neg_doc_id
         |      FROM pos JOIN bm ON bm.bkt = pos.doc_id % 64) pos
         |JOIN c0 nc ON nc.doc_id = pos.neg_doc_id""".stripMargin,

    // daily scorecard: events, DAU, purchases, revenue, ARPU in one pass
    "daily_kpis" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |      user_id, event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT day_idx, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS revenue_cents,
        |  round(CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS DOUBLE)
        |    / count(DISTINCT user_id), 4) AS arpu_cents
        |FROM e GROUP BY 1""".stripMargin,

    // round 13: B200-B204 + C179-C183
    // char-trigram language-ID confusion census over a doc_id%2 split
    "lang_id_chargram" ->
      s"""WITH c AS (SELECT doc_id, lang, $clean AS clean FROM documents),
         |cc AS (SELECT doc_id, lang, clean FROM c WHERE length(clean) >= 3),
         |g AS MATERIALIZED (SELECT doc_id, lang, substr(clean, i, 3) AS gram
         |     FROM (SELECT doc_id, lang, clean,
         |           unnest(range(1, length(clean) - 1)) AS i FROM cc)),
         |cg AS (SELECT lang, gram, count(*) AS cnt
         |       FROM g WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |tl AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM cg GROUP BY 1),
         |pr AS (SELECT cg.lang AS plang, gram,
         |       round(ln(CAST(cnt AS DOUBLE) / tot), 9) AS lnp,
         |       row_number() OVER (PARTITION BY cg.lang ORDER BY cnt DESC, gram) AS rnk
         |       FROM cg JOIN tl ON tl.lang = cg.lang),
         |p50 AS (SELECT plang, gram, lnp FROM pr WHERE rnk <= 50),
         |tg AS (SELECT doc_id, lang, gram, count(*) AS cnt
         |       FROM g WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
         |sc AS (SELECT t.doc_id, t.lang, p.plang,
         |       list_reduce(list_sort(list(round(t.cnt * p.lnp, 9))), (a, b) -> a + b) AS score
         |       FROM tg t JOIN p50 p ON p.gram = t.gram GROUP BY 1, 2, 3),
         |best AS (SELECT doc_id, plang,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
         |         FROM sc),
         |td AS (SELECT DISTINCT doc_id, lang FROM g WHERE doc_id % 2 = 1)
         |SELECT td.lang, coalesce(b.plang, 'und') AS predicted,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM td LEFT JOIN (SELECT doc_id, plang FROM best WHERE rn = 1) b
         |  ON b.doc_id = td.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // RAKE: stopword-delimited phrases, deg/freq word scores, top-15
    "rake_keyphrases" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (SELECT doc_id, i AS pos, toks[i] AS token
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tk)),
         |f AS (SELECT doc_id, pos, token,
         |      token IN ('the','a','an','and','or','of','to','in','is','it') AS is_stop FROM p),
         |g AS (SELECT doc_id, pos, token, is_stop,
         |      sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM f),
         |m AS MATERIALIZED (SELECT doc_id, grp, pos, token FROM g WHERE NOT is_stop),
         |ph AS MATERIALIZED (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen,
         |      string_agg(token, ' ' ORDER BY pos) AS phrase
         |      FROM m GROUP BY 1, 2 HAVING count(*) <= 4),
         |ws AS (SELECT token, round(CAST(sum(plen) AS DOUBLE) / count(*), 9) AS wscore
         |       FROM m JOIN ph ON ph.doc_id = m.doc_id AND ph.grp = m.grp GROUP BY 1),
         |ps AS (SELECT m.doc_id, m.grp, ph.phrase, ph.plen,
         |       round(list_reduce(list_sort(list(wscore)), (a, b) -> a + b), 6) AS score
         |       FROM m JOIN ph ON ph.doc_id = m.doc_id AND ph.grp = m.grp
         |       JOIN ws ON ws.token = m.token GROUP BY 1, 2, 3, 4)
         |SELECT phrase, plen AS n_words, CAST(count(*) AS BIGINT) AS n_occurrences, score
         |FROM ps GROUP BY 1, 2, 4
         |ORDER BY score DESC, phrase LIMIT 15""".stripMargin,

    // Monroe informative-Dirichlet log-odds drift between doc_id%2 halves
    "token_drift_logodds" ->
      s"""WITH t AS (SELECT doc_id % 2 = 0 AS h1, unnest($toks) AS token FROM documents),
         |cw AS MATERIALIZED (SELECT token,
         |      CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |      CAST(sum(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
         |      FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM cw),
         |pre AS (SELECT token, c1, c2, c1 + c2 AS a, n1, n2, n1 + n2 AS aa
         |        FROM cw CROSS JOIN tot),
         |sc AS MATERIALIZED (SELECT token, c1, c2,
         |      round((ln(CAST(c1 + a AS DOUBLE) / (n1 + aa - c1 - a))
         |           - ln(CAST(c2 + a AS DOUBLE) / (n2 + aa - c2 - a)))
         |        / sqrt(1.0 / (c1 + a) + 1.0 / (c2 + a)), 6) AS z
         |      FROM pre WHERE n1 + aa - c1 - a > 0 AND n2 + aa - c2 - a > 0)
         |SELECT token, c1, c2, z, 'h1' AS direction
         |  FROM (SELECT * FROM sc ORDER BY z DESC, token LIMIT 10)
         |UNION ALL
         |SELECT token, c1, c2, z, 'h2' AS direction
         |  FROM (SELECT * FROM sc ORDER BY z ASC, token LIMIT 10)""".stripMargin,

    // largest |residual| docs of the per-lang chars~tokens OLS fit
    "quality_residual_outliers" ->
      s"""WITH b AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS x,
         |           n_chars AS y FROM documents),
         |m AS (SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |      sum(x * y) AS sxy, sum(x * x) AS sxx FROM b GROUP BY 1),
         |f AS (SELECT lang,
         |      CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
         |      CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept
         |      FROM m WHERE n * sxx - sx * sx <> 0)
         |SELECT doc_id, b.lang, x AS n_tokens, y AS n_chars,
         |  round(y - (intercept + slope * x), 4) AS resid
         |FROM b JOIN f ON f.lang = b.lang
         |ORDER BY abs(round(y - (intercept + slope * x), 4)) DESC, doc_id
         |LIMIT 10""".stripMargin,

    // Murphy decomposition over the calibration bins' exact sums
    "brier_decomposition" ->
      s"""WITH p AS (SELECT
         |  CAST(round(round(1.0 / (1.0 + exp(2.0 - 4.0 * $qualitySql)), 6) * 1000000, 0) AS BIGINT) AS p_micro,
         |  CASE WHEN coalesce(lang = 'en', false) THEN 1 ELSE 0 END AS y FROM documents),
         |b AS (SELECT CAST(least(p_micro * 10 // 1000000, 9) AS BIGINT) AS bin, p_micro, y FROM p),
         |gb AS MATERIALIZED (SELECT bin, count(*) AS n, CAST(sum(p_micro) AS BIGINT) AS sum_p,
         |     CAST(sum(y) AS BIGINT) AS n_pos,
         |     sum((p_micro - y * 1000000) * (p_micro - y * 1000000)) AS sum_sq
         |     FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n_pos) AS BIGINT) AS pp,
         |      sum(sum_sq) AS ss FROM gb),
         |terms AS (SELECT nn, pp, ss, n,
         |     round(n * pow(CAST(sum_p AS DOUBLE) / n / 1000000.0
         |                   - CAST(n_pos AS DOUBLE) / n, 2), 9) AS rel_term,
         |     round(n * pow(CAST(n_pos AS DOUBLE) / n
         |                   - CAST(pp AS DOUBLE) / nn, 2), 9) AS res_term
         |     FROM gb CROSS JOIN t)
         |SELECT nn AS n, round(CAST(pp AS DOUBLE) / nn, 6) AS base_rate,
         |  round(list_reduce(list_sort(list(rel_term)), (a, b) -> a + b) / nn, 6) AS reliability,
         |  round(list_reduce(list_sort(list(res_term)), (a, b) -> a + b) / nn, 6) AS resolution,
         |  round(CAST(pp AS DOUBLE) / nn * (1.0 - CAST(pp AS DOUBLE) / nn), 6) AS uncertainty,
         |  round(CAST(ss AS DOUBLE) / nn / 1000000000000.0, 6) AS brier
         |FROM terms GROUP BY nn, pp, ss""".stripMargin,

    // exact 7-day rolling median of daily revenue (contribution explode)
    "revenue_rolling_median" ->
      """WITH daily AS (SELECT epoch_ns(o_orderdate) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
        |      FROM orders GROUP BY 1),
        |c AS (SELECT r, day_idx + i AS w_day
        |      FROM (SELECT r, day_idx, unnest(range(0, 7)) AS i FROM daily))
        |SELECT w_day AS day_idx, CAST(count(*) AS BIGINT) AS n_days_in_window,
        |  round(quantile_cont(r, 0.5), 4) AS roll_median_cents
        |FROM c WHERE w_day IN (SELECT day_idx FROM daily)
        |GROUP BY 1""".stripMargin,

    // gaps-and-islands: maximal consecutive-active-day runs per user
    "active_day_islands" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |      epoch_ns(ts) // 1000 // 86400000000 AS day FROM events),
        |g AS (SELECT user_id, day,
        |      day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d)
        |SELECT user_id, min(day) AS start_day, max(day) AS end_day,
        |  CAST(count(*) AS BIGINT) AS n_days
        |FROM g GROUP BY user_id, grp""".stripMargin,

    // distributed PERCENT_RANK / CUME_DIST over the tie-free total order
    "order_price_percentiles" ->
      """WITH o AS (SELECT o_orderkey,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT o_orderkey, cents,
        |      CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rnk,
        |      CAST(count(*) OVER () AS BIGINT) AS n FROM o)
        |SELECT o_orderkey, cents,
        |  round(CAST(rnk - 1 AS DOUBLE) / (n - 1), 6) AS pct_rank,
        |  round(CAST(rnk AS DOUBLE) / n, 6) AS cume_dist
        |FROM r""".stripMargin,

    // customer-nation x supplier-nation exact revenue matrix
    "nation_trade_matrix" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |GROUP BY 1, 2""".stripMargin,

    // semi-additive weekly balance: per-(user, week) LAST value, summed
    "weekly_last_balance" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |      CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |w AS (SELECT user_id, event_id, us, c,
        |      (us - (us % 604800000000)) // 604800000000 AS week FROM e),
        |l AS (SELECT week, c, row_number() OVER (PARTITION BY user_id, week
        |      ORDER BY us DESC, event_id DESC) AS rn FROM w)
        |SELECT week, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(c) AS BIGINT) AS eow_balance_cents
        |FROM l WHERE rn = 1 GROUP BY 1""".stripMargin,

    // per-vector projection onto the pca_explained deflated eigenpair
    "embed_pca_project" -> {
      def rounds(tag: String, mat: String) = (1 to 5).map { k =>
        s"""w$tag$k AS MATERIALIZED (SELECT dim_i AS dim,
           |  round(list_reduce(list_sort(list(round(cov * v, 9))), (a, b) -> a + b), 9) AS w
           |  FROM $mat JOIN v$tag${k - 1} ON $mat.dim_j = v$tag${k - 1}.dim GROUP BY dim_i),
           |n$tag$k AS MATERIALIZED (SELECT round(sqrt(list_reduce(list_sort(list(w * w)), (a, b) -> a + b)), 9) AS nrm FROM w$tag$k),
           |v$tag$k AS MATERIALIZED (SELECT dim, round(w / nrm, 9) AS v, nrm AS eig FROM w$tag$k CROSS JOIN n$tag$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
         |      CAST(embedding[i] AS DOUBLE) AS x, CAST(embedding[j] AS DOUBLE) AS y
         |      FROM embeddings, range(1, 9) r1(i), range(1, 9) r2(j) WHERE j >= i),
         |cu AS MATERIALIZED (SELECT dim_i, dim_j,
         |  round(list_reduce(list_sort(list(x * y)), (a, b) -> a + b) / count(*)
         |    - (list_reduce(list_sort(list(x)), (a, b) -> a + b) / count(*))
         |    * (list_reduce(list_sort(list(y)), (a, b) -> a + b) / count(*)), 6) AS cov
         |  FROM p GROUP BY dim_i, dim_j),
         |cf AS MATERIALIZED (SELECT dim_i, dim_j, cov FROM cu
         |       UNION ALL
         |       SELECT dim_j AS dim_i, dim_i AS dim_j, cov FROM cu WHERE dim_i <> dim_j),
         |vA0 AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS dim,
         |        CAST(1.0 AS DOUBLE) / sqrt(CAST(8.0 AS DOUBLE)) AS v FROM range(1, 9) r(i)),
         |${rounds("A", "cf")},
         |c2 AS MATERIALIZED (SELECT cf.dim_i, cf.dim_j, round(cov - vi.eig * vi.v * vj.v, 9) AS cov
         |       FROM cf JOIN vA5 vi ON vi.dim = cf.dim_i JOIN vA5 vj ON vj.dim = cf.dim_j),
         |vB0 AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS dim,
         |        CAST(1.0 AS DOUBLE) / sqrt(CAST(8.0 AS DOUBLE)) AS v FROM range(1, 9) r(i)),
         |${rounds("B", "c2")},
         |xv AS MATERIALIZED (SELECT vec_id, CAST(i AS BIGINT) AS dim,
         |     CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, range(1, 9) r(i)),
         |pj1 AS (SELECT vec_id,
         |     round(list_reduce(list_sort(list(round(x * v, 9))), (a, b) -> a + b), 6) AS p1
         |     FROM xv JOIN vA5 ON vA5.dim = xv.dim GROUP BY 1),
         |pj2 AS (SELECT vec_id,
         |     round(list_reduce(list_sort(list(round(x * v, 9))), (a, b) -> a + b), 6) AS p2
         |     FROM xv JOIN vB5 ON vB5.dim = xv.dim GROUP BY 1)
         |SELECT pj1.vec_id, pj1.p1, pj2.p2
         |FROM pj1 JOIN pj2 ON pj2.vec_id = pj1.vec_id""".stripMargin
    },

    // per-customer top-3 orders by price (heap-pruned on the Spark side)
    "top_orders_per_customer" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT o_custkey, o_orderkey, cents,
        |      CAST(row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY cents DESC, o_orderkey) AS BIGINT) AS rnk FROM o)
        |SELECT o_custkey, rnk, o_orderkey, cents FROM r WHERE rnk <= 3""".stripMargin,

    // monthly revenue share per market segment + MoM share delta
    "mktsegment_monthly_share" ->
      """WITH rev AS (SELECT
        |      CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS month_idx,
        |      c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |      FROM orders JOIN customer ON c_custkey = o_custkey GROUP BY 1, 2),
        |m AS (SELECT month_idx, CAST(sum(revenue_cents) AS BIGINT) AS mrev
        |      FROM rev GROUP BY 1),
        |s AS (SELECT rev.month_idx, c_mktsegment, n_orders, revenue_cents,
        |      round(CAST(revenue_cents AS DOUBLE) / mrev, 6) AS share
        |      FROM rev JOIN m ON m.month_idx = rev.month_idx)
        |SELECT month_idx, c_mktsegment, n_orders, revenue_cents, share,
        |  round(share - lag(share) OVER (PARTITION BY c_mktsegment ORDER BY month_idx), 6)
        |    AS share_mom_delta
        |FROM s""".stripMargin,

    // per-nation customer balance profile (credit-risk slice)
    "nation_acctbal_profile" ->
      """WITH c AS (SELECT c_nationkey,
        |      CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        |  round(quantile_cont(bal, 0.1), 4) AS p10_cents,
        |  round(quantile_cont(bal, 0.5), 4) AS p50_cents,
        |  round(quantile_cont(bal, 0.9), 4) AS p90_cents,
        |  round(CAST(sum(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |    AS negative_share
        |FROM c JOIN nation ON n_nationkey = c_nationkey GROUP BY 1""".stripMargin,

    // quantity x discount-bp revenue response grid
    "quantity_discount_grid" ->
      """SELECT CAST(l_quantity AS BIGINT) AS quantity,
        |  CAST(round(l_discount * 100) AS BIGINT) AS discount_bp,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*), 4) AS mean_line_cents
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    // char-trigram distribution cosine between source pairs
    "source_chargram_cosine" ->
      s"""WITH c AS (SELECT source, $clean AS clean FROM documents),
         |cc AS (SELECT source, clean FROM c WHERE length(clean) >= 3),
         |g AS MATERIALIZED (SELECT source, gram, count(*) AS cnt FROM
         |     (SELECT source, substr(clean, i, 3) AS gram FROM
         |       (SELECT source, clean, unnest(range(1, length(clean) - 1)) AS i FROM cc))
         |     GROUP BY 1, 2),
         |n AS MATERIALIZED (SELECT source, sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) AS nrm
         |     FROM g GROUP BY 1),
         |d AS (SELECT a.source AS src_a, b.source AS src_b, sum(a.cnt * b.cnt) AS dot
         |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos
         |FROM d JOIN n na ON na.source = d.src_a JOIN n nb ON nb.source = d.src_b""".stripMargin,

    // dedup-rate estimate on the 10% sample vs the exact rate
    "dup_rate_sample_check" ->
      s"""WITH h AS (SELECT doc_id, md5($clean) AS h FROM documents),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |      round(CASE WHEN count(*) > 0
         |        THEN 1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*)
         |        ELSE 0.0 END, 6) AS dup_rate_exact FROM h),
         |sm AS (SELECT CAST(count(*) AS BIGINT) AS n_sample,
         |      round(CASE WHEN count(*) > 0
         |        THEN 1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*)
         |        ELSE 0.0 END, 6) AS dup_rate_sample FROM h WHERE doc_id % 10 = 0)
         |SELECT n_docs, dup_rate_exact, n_sample, dup_rate_sample,
         |  round(abs(dup_rate_exact - dup_rate_sample), 6) AS abs_err
         |FROM e CROSS JOIN sm""".stripMargin,

    // cumulative revenue share by day (temporal Lorenz curve)
    "orders_running_share" ->
      """WITH daily AS (SELECT epoch_ns(o_orderdate) // 1000 // 86400000000 AS day_idx,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
        |      FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(r) AS BIGINT) AS total_r FROM daily)
        |SELECT day_idx, r,
        |  CAST(sum(r) OVER (ORDER BY day_idx) AS BIGINT) AS cum_r,
        |  round(CAST(sum(r) OVER (ORDER BY day_idx) AS DOUBLE) / total_r, 6) AS cum_share
        |FROM daily CROSS JOIN t""".stripMargin,

    // the textual-SQL surface twin of tpch_q6
    "sql_tpch_q6" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    // BLEU-2 between the ngram_jaccard candidate pairs
    "bleu_pairs" ->
      s"""WITH tk AS MATERIALIZED (SELECT doc_id, source, $toks AS toks FROM documents),
         |s AS (SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM tk),
         |f AS (SELECT * FROM s WHERE len(sh) > 0),
         |pairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.3),
         |u AS MATERIALIZED (SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS g FROM tk) GROUP BY 1, 2),
         |bg AS MATERIALIZED (SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i+1])) AS g
         |        FROM tk WHERE len(toks) >= 2) GROUP BY 1, 2),
         |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM tk),
         |c1 AS (SELECT a_id, b_id, CAST(sum(least(ua.c, ub.c)) AS BIGINT) AS clip1
         |  FROM pairs JOIN u ua ON ua.doc_id = a_id
         |  JOIN u ub ON ub.doc_id = b_id AND ub.g = ua.g GROUP BY 1, 2),
         |c2 AS (SELECT a_id, b_id, CAST(sum(least(ba.c, bb.c)) AS BIGINT) AS clip2
         |  FROM pairs JOIN bg ba ON ba.doc_id = a_id
         |  JOIN bg bb ON bb.doc_id = b_id AND bb.g = ba.g GROUP BY 1, 2),
         |pp AS (SELECT p.a_id, p.b_id, la.len AS len_a, lb.len AS len_b,
         |  round(CAST(coalesce(c1.clip1, 0) AS DOUBLE) / la.len, 9) AS p1,
         |  round(CAST(coalesce(c2.clip2, 0) AS DOUBLE) / greatest(la.len - 1, 1), 9) AS p2
         |  FROM pairs p
         |  LEFT JOIN c1 ON c1.a_id = p.a_id AND c1.b_id = p.b_id
         |  LEFT JOIN c2 ON c2.a_id = p.a_id AND c2.b_id = p.b_id
         |  JOIN l la ON la.doc_id = p.a_id JOIN l lb ON lb.doc_id = p.b_id)
         |SELECT a_id, b_id, len_a, len_b, p1, p2,
         |  round((CASE WHEN len_a >= len_b THEN 1.0
         |         ELSE round(exp(1.0 - CAST(len_b AS DOUBLE) / len_a), 9) END)
         |    * sqrt(p1 * p2), 6) AS bleu2
         |FROM pp""".stripMargin,

    // chrF2 (char-3-gram F, beta=2) between the same candidate pairs
    "chrf_pairs" ->
      s"""WITH tk AS (SELECT doc_id, source, $toks AS toks FROM documents),
         |sgl AS (SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM tk),
         |f AS (SELECT * FROM sgl WHERE len(sh) > 0),
         |pairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM f a JOIN f b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.3),
         |cl AS (SELECT doc_id, $clean AS clean FROM documents),
         |cc AS (SELECT doc_id, clean FROM cl WHERE length(clean) >= 3),
         |g AS MATERIALIZED (SELECT doc_id, g, count(*) AS cnt FROM
         |  (SELECT doc_id, substr(clean, i, 3) AS g FROM
         |    (SELECT doc_id, clean, unnest(range(1, length(clean) - 1)) AS i FROM cc))
         |  GROUP BY 1, 2),
         |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS tot FROM g GROUP BY 1),
         |cp AS (SELECT a_id, b_id, CAST(sum(least(ga.cnt, gb.cnt)) AS BIGINT) AS clip
         |  FROM pairs JOIN g ga ON ga.doc_id = a_id
         |  JOIN g gb ON gb.doc_id = b_id AND gb.g = ga.g GROUP BY 1, 2),
         |pp AS (SELECT p.a_id, p.b_id, coalesce(cp.clip, 0) AS clip,
         |  ta.tot AS tot_a, tb.tot AS tot_b,
         |  round(CAST(coalesce(cp.clip, 0) AS DOUBLE) / ta.tot, 9) AS p,
         |  round(CAST(coalesce(cp.clip, 0) AS DOUBLE) / tb.tot, 9) AS r
         |  FROM pairs p
         |  LEFT JOIN cp ON cp.a_id = p.a_id AND cp.b_id = p.b_id
         |  JOIN t ta ON ta.doc_id = p.a_id JOIN t tb ON tb.doc_id = p.b_id)
         |SELECT a_id, b_id, clip, tot_a, tot_b, p, r,
         |  round(CASE WHEN 4.0 * p + r > 0 THEN 5.0 * p * r / (4.0 * p + r)
         |        ELSE 0.0 END, 6) AS chrf2
         |FROM pp""".stripMargin,

    // per-part-type supplier revenue HHI
    "supplier_hhi_by_type" ->
      """WITH r AS (SELECT p_type, l_suppkey,
        |      CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS r
        |      FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1, 2),
        |h AS (SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers,
        |      CAST(sum(r) AS BIGINT) AS s, sum(r * r) AS s2 FROM r GROUP BY 1)
        |SELECT p_type, n_suppliers,
        |  round(CAST(s2 AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9) AS hhi,
        |  CASE WHEN round(CAST(s2 AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9) > 0
        |    THEN round(1.0 / round(CAST(s2 AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9), 4)
        |    ELSE 0.0 END AS effective_suppliers
        |FROM h""".stripMargin,

    // AR-style order aging buckets vs the latest order date
    "order_aging_buckets" ->
      """WITH d AS (SELECT o_orderstatus,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |      epoch_ns(o_orderdate) // 1000 // 86400000000 AS d FROM orders),
        |r AS (SELECT max(d) AS ref_d FROM d)
        |SELECT o_orderstatus,
        |  CASE WHEN ref_d - d < 30 THEN '00-29' WHEN ref_d - d < 60 THEN '30-59'
        |       WHEN ref_d - d < 90 THEN '60-89' ELSE '90+' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(c) AS BIGINT) AS total_cents
        |FROM d CROSS JOIN r GROUP BY 1, 2""".stripMargin,

    // wedge-closure audit of the near-dup pair graph (8-bit sign-LSH)
    "dedup_transitivity" ->
      """WITH b AS (SELECT vec_id, embedding,
        |  (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END) || (CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM embeddings),
        |p AS MATERIALIZED (SELECT a.vec_id AS a_id, b2.vec_id AS b_id
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        |  WHERE round(list_reduce(list_transform(a.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)), (q, w) -> q + w)
        |    / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (q, w) -> q + w))
        |       * sqrt(list_reduce(list_transform(b2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (q, w) -> q + w))), 6) >= 0.3),
        |e AS (SELECT a_id, b_id FROM p UNION ALL SELECT b_id, a_id FROM p),
        |w AS MATERIALIZED (SELECT e1.a_id AS u, e2.b_id AS w
        |  FROM e e1 JOIN e e2 ON e2.a_id = e1.b_id WHERE e1.a_id < e2.b_id),
        |cl AS (SELECT count(*) AS n_closed_wedges FROM w
        |  WHERE EXISTS (SELECT 1 FROM p WHERE p.a_id = w.u AND p.b_id = w.w)),
        |nw AS (SELECT count(*) AS n_wedges FROM w),
        |np AS (SELECT count(*) AS n_pairs FROM p)
        |SELECT CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_wedges AS BIGINT) AS n_wedges,
        |  CAST(n_closed_wedges AS BIGINT) AS n_closed_wedges,
        |  round(CASE WHEN n_wedges > 0 THEN CAST(n_closed_wedges AS DOUBLE) / n_wedges
        |        ELSE 0.0 END, 6) AS closure_rate
        |FROM np CROSS JOIN nw CROSS JOIN cl""".stripMargin,

    // token-mass attrition per curation gate (filter_attrition's twin)
    "token_attrition" ->
      s"""WITH f0 AS (SELECT doc_id, n_chars, $qualitySql AS q,
         |    CAST(len($toks) AS BIGINT) AS nt,
         |    CAST(len($toks) AS DOUBLE) / CAST(nullif(len(list_distinct($toks)), 0) AS DOUBLE) AS rep,
         |    md5($clean) AS ch FROM documents),
         |f1 AS (SELECT *, doc_id <> min(doc_id) OVER (PARTITION BY ch) AS f_dup FROM f0),
         |fl AS (SELECT nt,
         |    coalesce(n_chars < 100, true) AS f_short,
         |    coalesce(q < CAST(0.3 AS DOUBLE), true) AS f_quality,
         |    coalesce(rep > CAST(3.0 AS DOUBLE), false) AS f_rep,
         |    coalesce(f_dup, false) AS f_dup FROM f1),
         |a AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens,
         |    CAST(coalesce(sum(CASE WHEN f_short THEN nt ELSE 0 END), 0) AS BIGINT) AS short_t,
         |    CAST(coalesce(sum(CASE WHEN f_quality THEN nt ELSE 0 END), 0) AS BIGINT) AS quality_t,
         |    CAST(coalesce(sum(CASE WHEN f_rep THEN nt ELSE 0 END), 0) AS BIGINT) AS rep_t,
         |    CAST(coalesce(sum(CASE WHEN f_dup THEN nt ELSE 0 END), 0) AS BIGINT) AS dup_t,
         |    CAST(coalesce(sum(CASE WHEN NOT f_short AND NOT f_quality AND NOT f_rep AND NOT f_dup THEN nt ELSE 0 END), 0) AS BIGINT) AS pass_t
         |  FROM fl)
         |SELECT gate, tokens, round(CAST(tokens AS DOUBLE) / nullif(total_tokens, 0), 6) AS token_share,
         |  total_tokens FROM (
         |  SELECT 'short' AS gate, short_t AS tokens, total_tokens FROM a
         |  UNION ALL SELECT 'quality', quality_t, total_tokens FROM a
         |  UNION ALL SELECT 'repetition', rep_t, total_tokens FROM a
         |  UNION ALL SELECT 'duplicate', dup_t, total_tokens FROM a
         |  UNION ALL SELECT 'pass', pass_t, total_tokens FROM a)""".stripMargin,

    // trailing 1h TIME-RANGE window per user (count + exact cents)
    "events_range_window" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
        |      CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT event_id, user_id, us,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
        |  CAST(sum(c) OVER w AS BIGINT) AS cents_trailing_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // MinHash-LSH vs SimHash pair-set agreement
    "detector_agreement" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |da AS (SELECT doc_id, list_sort(list(token)) AS arr, count(*) AS n FROM dt GROUP BY 1),
         |mh AS MATERIALIZED (SELECT a_id, b_id FROM (
         |  SELECT c.a_id, c.b_id,
         |    round(CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE)
         |      / CAST(sa.n + sb.n - len(list_intersect(sa.arr, sb.arr)) AS DOUBLE), 6) AS jac
         |  FROM cand c JOIN da sa ON sa.doc_id = c.a_id JOIN da sb ON sb.doc_id = c.b_id)
         |  WHERE jac >= 0.9),
         |t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM t),
         |bs AS (SELECT doc_id, j,
         |  sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS j) GROUP BY doc_id, j),
         |fp AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bs GROUP BY doc_id),
         |blk AS (SELECT doc_id, simhash, q, (simhash >> (q * 8)) & 255 AS key
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS q)),
         |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM blk a JOIN blk b ON a.q = b.q AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |nm AS (SELECT count(*) AS n_minhash FROM mh),
         |ns AS (SELECT count(*) AS n_simhash FROM sh),
         |nb AS (SELECT count(*) AS n_both FROM mh
         |  WHERE EXISTS (SELECT 1 FROM sh WHERE sh.a_id = mh.a_id AND sh.b_id = mh.b_id))
         |SELECT CAST(n_minhash AS BIGINT) AS n_minhash, CAST(n_simhash AS BIGINT) AS n_simhash,
         |  CAST(n_both AS BIGINT) AS n_both,
         |  round(CASE WHEN n_minhash + n_simhash - n_both > 0
         |    THEN CAST(n_both AS DOUBLE) / (n_minhash + n_simhash - n_both)
         |    ELSE 0.0 END, 6) AS pair_jaccard
         |FROM nm CROSS JOIN ns CROSS JOIN nb""".stripMargin,

    // per-doc char-level Shannon entropy over cleaned text
    "char_entropy" ->
      s"""WITH c AS (SELECT doc_id, $clean AS clean FROM documents),
         |cc AS (SELECT doc_id, clean FROM c WHERE length(clean) > 0),
         |ch AS (SELECT doc_id, CAST(length(clean) AS BIGINT) AS len,
         |       substr(clean, i, 1) AS ch
         |       FROM (SELECT doc_id, clean, unnest(range(1, length(clean) + 1)) AS i FROM cc)),
         |cnt AS (SELECT doc_id, len, ch, count(*) AS cnt FROM ch GROUP BY 1, 2, 3),
         |t AS (SELECT doc_id, len,
         |      round(-1.0 * (CAST(cnt AS DOUBLE) / len) * ln(CAST(cnt AS DOUBLE) / len), 9) AS term
         |      FROM cnt)
         |SELECT doc_id, len AS n_chars_clean,
         |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
         |  round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS entropy_nats
         |FROM t GROUP BY doc_id, len""".stripMargin,

    // truncation loss over the {128, 512, 2048} context grid
    "truncation_loss" ->
      s"""WITH nt AS (SELECT CAST(len($toks) AS BIGINT) AS nt FROM documents),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |      CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens,
         |      CAST(coalesce(sum(CASE WHEN nt > 128 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o128,
         |      CAST(coalesce(sum(CASE WHEN nt > 128 THEN nt - 128 ELSE 0 END), 0) AS BIGINT) AS l128,
         |      CAST(coalesce(sum(CASE WHEN nt > 512 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o512,
         |      CAST(coalesce(sum(CASE WHEN nt > 512 THEN nt - 512 ELSE 0 END), 0) AS BIGINT) AS l512,
         |      CAST(coalesce(sum(CASE WHEN nt > 2048 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o2048,
         |      CAST(coalesce(sum(CASE WHEN nt > 2048 THEN nt - 2048 ELSE 0 END), 0) AS BIGINT) AS l2048
         |      FROM nt)
         |SELECT max_len, n_docs_truncated, tokens_lost,
         |  round(CAST(tokens_lost AS DOUBLE) / nullif(total_tokens, 0), 6) AS token_share_lost,
         |  n_docs, total_tokens FROM (
         |  SELECT CAST(128 AS BIGINT) AS max_len, o128 AS n_docs_truncated, l128 AS tokens_lost, n_docs, total_tokens FROM a
         |  UNION ALL SELECT 512, o512, l512, n_docs, total_tokens FROM a
         |  UNION ALL SELECT 2048, o2048, l2048, n_docs, total_tokens FROM a)""".stripMargin,

    // chi-square uniformity of the 64-bucket content-hash histogram
    "hash_uniformity_check" ->
      s"""WITH b AS (SELECT ('0x' || substr(md5($clean), 1, 8))::BIGINT % 64 AS bucket
         |      FROM documents),
         |o AS (SELECT bucket, count(*) AS o FROM b GROUP BY 1),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_nonempty_buckets,
         |      CAST(sum(o) AS BIGINT) AS n_docs, sum(o * o) AS oo FROM o)
         |SELECT n_nonempty_buckets, n_docs,
         |  round(64.0 * CAST(oo AS DOUBLE) / n_docs - n_docs, 6) AS chi2,
         |  CAST(63 AS BIGINT) AS df,
         |  (round(64.0 * CAST(oo AS DOUBLE) / n_docs - n_docs, 6) > 126.0) AS skewed
         |FROM a""".stripMargin,

    // schema-evolution merge read (union_by_name over both generations)
    "parquet_schema_merge" ->
      s"""SELECT doc_id, text, lang, stars
        |FROM read_parquet(['${graft.SparkEntry.resourceDir}/docs_schema_v1.parquet',
        |  '${graft.SparkEntry.resourceDir}/docs_schema_v2.parquet'], union_by_name = true)""".stripMargin,

    // binary-presence mutual information per (token, lang) — chi2's
    // margins, MI's fixed-order four-term sum (A, B, C, D), one round
    "mutual_info_features" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, lang, unnest($toks) AS token FROM documents),
         |a AS (SELECT token, lang, count(*) AS a FROM d GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM d GROUP BY 1 HAVING count(*) >= 5),
         |ln_ AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |cells AS (SELECT token, a.lang, a.a, df.df, df.df - a.a AS b,
         |  ln_.lang_n - a.a AS c, n.n_docs - df.df - ln_.lang_n + a.a AS dd,
         |  ln_.lang_n, n.n_docs
         |  FROM a JOIN df USING (token) JOIN ln_ ON a.lang = ln_.lang CROSS JOIN n
         |  WHERE df.df < n.n_docs)
         |SELECT token, lang, CAST(a AS BIGINT) AS a, CAST(df AS BIGINT) AS df,
         |  round(
         |    (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) / n_docs
         |       * ln(CAST(n_docs AS DOUBLE) * a / (CAST(df AS DOUBLE) * lang_n)) ELSE 0.0 END)
         |    + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) / n_docs
         |       * ln(CAST(n_docs AS DOUBLE) * b / (CAST(df AS DOUBLE) * (n_docs - lang_n))) ELSE 0.0 END)
         |    + (CASE WHEN c > 0 THEN CAST(c AS DOUBLE) / n_docs
         |       * ln(CAST(n_docs AS DOUBLE) * c / (CAST(n_docs - df AS DOUBLE) * lang_n)) ELSE 0.0 END)
         |    + (CASE WHEN dd > 0 THEN CAST(dd AS DOUBLE) / n_docs
         |       * ln(CAST(n_docs AS DOUBLE) * dd / (CAST(n_docs - df AS DOUBLE) * (n_docs - lang_n))) ELSE 0.0 END),
         |  6) AS mi
         |FROM cells""".stripMargin,

    // corpus-driven stopword candidates: df-share + language spread
    "stopword_discovery" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, lang, unnest($toks) AS token FROM documents),
         |g AS (SELECT token, count(*) AS df, count(DISTINCT lang) AS n_langs FROM d GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT token, CAST(df AS BIGINT) AS df, CAST(n_langs AS BIGINT) AS n_langs,
         |  round(CAST(df AS DOUBLE) / n_docs, 6) AS df_frac
         |FROM g CROSS JOIN n
         |WHERE df >= n_docs * 0.25 AND n_langs >= 3""".stripMargin,

    // top-5 3-char token suffixes per language (token occurrences, len>=4)
    "suffix_profile" ->
      s"""WITH tk AS (SELECT lang, unnest($toks) AS token FROM documents),
         |sfx AS (SELECT lang, substr(token, length(token) - 2, 3) AS suffix
         |        FROM tk WHERE length(token) >= 4),
         |cnt AS (SELECT lang, suffix, count(*) AS cnt FROM sfx GROUP BY 1, 2),
         |tot AS (SELECT lang, count(*) AS n_tokens FROM sfx GROUP BY 1),
         |rk AS (SELECT lang, suffix, cnt,
         |       row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, suffix) AS rnk
         |       FROM cnt)
         |SELECT rk.lang, CAST(rnk AS BIGINT) AS rnk, suffix, CAST(cnt AS BIGINT) AS cnt,
         |  round(CAST(cnt AS DOUBLE) / n_tokens, 6) AS share
         |FROM rk JOIN tot ON rk.lang = tot.lang WHERE rnk <= 5""".stripMargin,

    // per-source char cross-entropy / entropy / KL under the corpus char LM;
    // char-ordered left fold mirrors the Spark sorted-array aggregate
    "char_lm_xent" ->
      s"""WITH c AS (SELECT source, $clean AS txt FROM documents),
         |p AS (SELECT source, txt, unnest(range(1, length(txt) + 1)) AS i FROM c),
         |chs AS (SELECT source, substr(txt, CAST(i AS INT), 1) AS ch FROM p),
         |bysrc AS (SELECT source, ch, count(*) AS cnt FROM chs GROUP BY 1, 2),
         |corpus AS (SELECT ch, count(*) AS c_cnt FROM chs GROUP BY 1),
         |ctot AS (SELECT count(*) AS c_tot FROM chs),
         |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS s_tot FROM bysrc GROUP BY 1),
         |terms AS (SELECT b.source, s.s_tot, b.ch,
         |  (CAST(b.cnt AS DOUBLE) / s.s_tot) * ln(CAST(co.c_cnt AS DOUBLE) / ct.c_tot) AS xent_t,
         |  (CAST(b.cnt AS DOUBLE) / s.s_tot) * ln(CAST(b.cnt AS DOUBLE) / s.s_tot) AS ent_t
         |  FROM bysrc b JOIN corpus co USING (ch) JOIN stot s ON b.source = s.source
         |  CROSS JOIN ctot ct),
         |folded AS (SELECT source, s_tot,
         |  list(xent_t ORDER BY ch) AS xs, list(ent_t ORDER BY ch) AS es
         |  FROM terms GROUP BY 1, 2)
         |SELECT source, s_tot AS n_chars,
         |  round(-list_reduce(xs, (a, b) -> a + b), 6) AS xent,
         |  round(-list_reduce(es, (a, b) -> a + b), 6) AS entropy,
         |  round(list_reduce(list_transform(range(1, len(xs) + 1),
         |    i -> es[i] - xs[i]), (a, b) -> a + b), 6) AS kl
         |FROM folded""".stripMargin,

    // md5-deterministic percentile bootstrap of mean doc length per lang
    "bootstrap_ci" ->
      s"""WITH pre AS (SELECT lang, doc_id, n_chars,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY md5(lang || ':' || doc_id), doc_id) AS prk
         |  FROM documents),
         |kept AS (SELECT lang, doc_id, n_chars FROM pre WHERE prk <= 100000),
         |ranked AS (SELECT lang, n_chars,
         |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n_l FROM kept),
         |draws AS (SELECT lang, r.r,
         |  ('0x' || substr(md5(lang || ':' || r.r || ':' || rn), 1, 8))::BIGINT % n_l + 1 AS idx
         |  FROM ranked CROSS JOIN (SELECT unnest(range(1, 201)) AS r) r),
         |means AS (SELECT d.lang, d.r,
         |  CAST(sum(k.n_chars) AS DOUBLE) / count(*) AS mean_r
         |  FROM draws d JOIN ranked k ON d.lang = k.lang AND d.idx = k.rn
         |  GROUP BY 1, 2),
         |rk AS (SELECT lang, mean_r,
         |  row_number() OVER (PARTITION BY lang ORDER BY mean_r ASC, r) AS rk_lo,
         |  row_number() OVER (PARTITION BY lang ORDER BY mean_r DESC, r) AS rk_hi
         |  FROM means),
         |ci AS (SELECT lang, min(CASE WHEN rk_lo = 5 THEN mean_r END) AS ci_lo,
         |       min(CASE WHEN rk_hi = 5 THEN mean_r END) AS ci_hi FROM rk GROUP BY 1),
         |pt AS (SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS tot FROM documents GROUP BY 1)
         |SELECT pt.lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  round(CAST(tot AS DOUBLE) / n_docs, 6) AS mean_chars,
         |  round(ci_lo, 6) AS ci_lo, round(ci_hi, 6) AS ci_hi
         |FROM pt JOIN ci ON pt.lang = ci.lang""".stripMargin,

    // centered-7-day-MA decomposition of daily order revenue; detrended
    // series kept in exact x7 cents space until the final divisions
    "seasonal_decompose" ->
      """WITH daily AS (SELECT epoch_ns(o_orderdate) // 1000 // 86400000000 AS day_idx,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day_idx, cents, count(*) OVER win AS n_win,
        |      CAST(sum(cents) OVER win AS BIGINT) AS sum7
        |      FROM daily WINDOW win AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t AS (SELECT day_idx, day_idx % 7 AS dow, cents, sum7, cents * 7 - sum7 AS d7
        |      FROM w WHERE n_win = 7),
        |s AS (SELECT dow, CAST(sum(d7) AS BIGINT) AS sd7, count(*) AS nd FROM t GROUP BY 1)
        |SELECT day_idx, t.dow, cents,
        |  round(CAST(sum7 AS DOUBLE) / 7.0, 2) AS trend_cents,
        |  round(CAST(sd7 AS DOUBLE) / (nd * 7), 2) AS seasonal_cents,
        |  round((CAST(d7 AS DOUBLE) - CAST(sd7 AS DOUBLE) / nd) / 7.0, 2) AS resid_cents
        |FROM t JOIN s ON t.dow = s.dow""".stripMargin,

    // exact-cosine 5-NN majority vote over the first 100 vectors -> the
    // (label, pred_label) confusion census; ties to the smaller label
    "knn_label_vote" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 100),
        |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
        |scored AS (SELECT q_id, n_id,
        |  round(list_reduce(list_transform(q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))), 6) AS cos
        |  FROM q JOIN c ON q_id <> n_id),
        |nn AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk FROM scored)
        |  WHERE rnk <= 5),
        |votes AS (SELECT q_id, CAST(e.label AS BIGINT) AS n_label, count(*) AS v
        |  FROM nn JOIN embeddings e ON nn.n_id = e.vec_id GROUP BY 1, 2),
        |pred AS (SELECT q_id, n_label AS pred_label FROM (SELECT q_id, n_label,
        |  row_number() OVER (PARTITION BY q_id ORDER BY v DESC, n_label) AS rk FROM votes)
        |  WHERE rk = 1)
        |SELECT CAST(e.label AS BIGINT) AS label, pred_label, count(*) AS n
        |FROM pred JOIN embeddings e ON pred.q_id = e.vec_id
        |GROUP BY 1, 2""".stripMargin,

    // windowed audio-style features over the cleaned-char "PCM" payload
    "mm_audio_windows" ->
      s"""WITH c AS (SELECT doc_id, $clean AS txt FROM documents WHERE length($clean) > 0),
         |w AS (SELECT doc_id, txt,
         |      unnest(range(0, least(CAST(ceil(length(txt) / 32.0) AS BIGINT), 8))) AS win_idx
         |      FROM c),
         |s AS (SELECT doc_id, win_idx,
         |      substr(txt, CAST(win_idx * 32 + 1 AS INT), 32) AS w FROM w),
         |p AS (SELECT doc_id, win_idx, w, unnest(range(1, length(w) + 1)) AS i FROM s)
         |SELECT doc_id, win_idx, count(*) AS n_samples,
         |  CAST(sum(ascii(substr(w, CAST(i AS INT), 1))) AS BIGINT) AS energy,
         |  CAST(max(ascii(substr(w, CAST(i AS INT), 1))) AS BIGINT) AS peak,
         |  round(sqrt(CAST(sum(CAST(ascii(substr(w, CAST(i AS INT), 1)) AS BIGINT)
         |    * ascii(substr(w, CAST(i AS INT), 1))) AS DOUBLE) / count(*)), 6) AS rms
         |FROM p GROUP BY 1, 2""".stripMargin,

    // Hilbert layout key: 31 unrolled convert-and-rotate steps
    "hilbert_key" -> hilbertSql,

    // typo-recovery probe: md5-chosen adjacent swap, best-JW match back
    // against the vocabulary via DuckDB's own jaro_winkler_similarity —
    // the oracle for the native JaroWinkler expression
    "typo_recovery" ->
      s"""WITH vocab AS (SELECT token
         |  FROM (SELECT token, count(*) AS cnt FROM $tokTable GROUP BY 1)
         |  WHERE cnt >= 2 AND length(token) >= 4),
         |ty AS (SELECT token,
         |  CAST(('0x' || substr(md5(token), 1, 8))::BIGINT % (length(token) - 1) + 1 AS INT) AS p
         |  FROM vocab),
         |typod AS (SELECT token,
         |  substr(token, 1, p - 1) || substr(token, p + 1, 1)
         |    || substr(token, p, 1) || substr(token, p + 2) AS typo
         |  FROM ty),
         |scored AS (SELECT t.token, t.typo, v.token AS cand,
         |  round(jaro_winkler_similarity(t.typo, v.token), 6) AS jw
         |  FROM typod t JOIN vocab v
         |    ON length(v.token) = length(t.typo)
         |    AND (substr(v.token, 1, 1) = substr(t.typo, 1, 1)
         |      OR substr(v.token, 1, 1) = substr(t.typo, 2, 1))),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY token, typo
         |       ORDER BY jw DESC, cand) AS rk FROM scored)
         |SELECT token, typo, cand AS best_match, jw, cand = token AS recovered
         |FROM rk WHERE rk = 1""".stripMargin,

    // best single-token Gini splits against the language label
    "gini_stump" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, lang, unnest($toks) AS token FROM documents),
         |a AS (SELECT token, lang, count(*) AS a FROM d GROUP BY 1, 2),
         |ln_ AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY 1),
         |consts AS (SELECT CAST(sum(lang_n) AS BIGINT) AS n_docs,
         |           sum(CAST(lang_n AS HUGEINT) * lang_n) AS l2 FROM ln_),
         |pt AS (SELECT token, CAST(sum(a.a) AS BIGINT) AS n1,
         |       sum(CAST(a.a AS HUGEINT) * a.a) AS aa,
         |       sum(CAST(ln_.lang_n AS HUGEINT) * a.a) AS s
         |       FROM a JOIN ln_ ON a.lang = ln_.lang GROUP BY 1
         |       HAVING sum(a.a) >= 5)
         |SELECT token, n1 AS df,
         |  round(1.0
         |    - CAST(aa AS DOUBLE) / (CAST(n1 AS DOUBLE) * n_docs)
         |    - CAST(l2 - 2 * s + aa AS DOUBLE)
         |      / (CAST(n_docs - n1 AS DOUBLE) * n_docs), 6) AS gini
         |FROM pt CROSS JOIN consts
         |WHERE n1 < n_docs
         |ORDER BY gini ASC, token LIMIT 10""".stripMargin,

    // MMR diversified top-5: unrolled greedy rounds over the cosine top-20
    "mmr_rerank" -> mmrSql,

    // Count-Min sketch error census for the top-20 tokens
    "countmin_err" ->
      s"""WITH cnt AS (SELECT token, count(*) AS true_cnt FROM $tokTable GROUP BY 1),
         |hashed AS (SELECT token, true_cnt, r.r,
         |  ('0x' || substr(md5(r.r || ':' || token), 1, 8))::BIGINT % 256 AS bucket
         |  FROM cnt CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r),
         |cells AS (SELECT r, bucket, CAST(sum(true_cnt) AS BIGINT) AS cell
         |          FROM hashed GROUP BY 1, 2),
         |top AS (SELECT token, true_cnt FROM cnt ORDER BY true_cnt DESC, token LIMIT 20),
         |probe AS (SELECT token, true_cnt, r.r,
         |  ('0x' || substr(md5(r.r || ':' || token), 1, 8))::BIGINT % 256 AS bucket
         |  FROM top CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r)
         |SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
         |  CAST(min(cell) AS BIGINT) AS est_cnt,
         |  CAST(min(cell) - true_cnt AS BIGINT) AS overcount
         |FROM probe JOIN cells USING (r, bucket)
         |GROUP BY token, true_cnt""".stripMargin,

    // data-scaling-curve probe (B238): heldout xent of add-one unigram
    // LMs at nested prefixes + the 3-point log-log OLS fit
    "scaling_curve" ->
      s"""WITH base AS (SELECT doc_id, $toks AS toks FROM documents),
         |tt AS (SELECT t.token, mm.m FROM (
         |    SELECT unnest(toks) AS token, CAST(doc_id % 16 AS INT) AS rr
         |    FROM base WHERE doc_id % 16 < 8) t
         |  CROSS JOIN (SELECT unnest([2, 4, 8]) AS m) mm WHERE t.rr < mm.m),
         |cm AS (SELECT m, token, count(*) AS cnt FROM tt GROUP BY 1, 2),
         |tm AS (SELECT m, CAST(sum(cnt) AS BIGINT) AS n_train FROM cm GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
         |       FROM (SELECT unnest(toks) AS token FROM base)),
         |held AS (SELECT token, count(*) AS h_cnt
         |  FROM (SELECT unnest(toks) AS token FROM base WHERE doc_id % 16 >= 14)
         |  GROUP BY 1),
         |ht AS (SELECT CAST(sum(h_cnt) AS BIGINT) AS n_held FROM held),
         |terms AS (SELECT tm.m, tm.n_train,
         |  round((CAST(h_cnt AS DOUBLE) / n_held)
         |    * ln(CAST(tm.n_train + vv.v AS DOUBLE) / (coalesce(cm.cnt, 0) + 1)), 6) AS contrib
         |  FROM held CROSS JOIN ht CROSS JOIN tm CROSS JOIN vv
         |  LEFT JOIN cm ON cm.m = tm.m AND cm.token = held.token),
         |xent AS (SELECT m, n_train,
         |  round(list_reduce(list_sort(list(contrib)), (a, b) -> a + b), 6) AS heldout_xent
         |  FROM terms GROUP BY 1, 2),
         |pts AS (SELECT m, n_train, heldout_xent, ln(CAST(n_train AS DOUBLE)) AS x FROM xent),
         |mom AS (SELECT CAST(count(*) AS DOUBLE) AS kk,
         |  list_reduce(list_sort(list(x)), (a, b) -> a + b) AS sx,
         |  list_reduce(list_sort(list(heldout_xent)), (a, b) -> a + b) AS sy,
         |  list_reduce(list_sort(list(round(x * heldout_xent, 9))), (a, b) -> a + b) AS sxy,
         |  list_reduce(list_sort(list(round(x * x, 9))), (a, b) -> a + b) AS sxx
         |  FROM pts),
         |fit AS (SELECT
         |  round((kk * sxy - sx * sy) / (kk * sxx - sx * sx), 6) AS loglog_slope,
         |  round((sy * sxx - sx * sxy) / (kk * sxx - sx * sx), 6) AS loglog_intercept
         |  FROM mom)
         |SELECT CAST(m AS BIGINT) AS prefix_sixteenths, n_train AS n_train_tokens,
         |  heldout_xent, loglog_slope, loglog_intercept
         |FROM pts CROSS JOIN fit""".stripMargin,

    // merged incremental CMS store readback (C213): the from-scratch
    // batch sketch — per-(row, bucket) SUM is Count-Min's merge algebra,
    // so store-merge equals batch-build bit-for-bit
    "sketch_cms_table" ->
      s"""WITH cnt AS (SELECT token, count(*) AS true_cnt FROM $tokTable GROUP BY 1),
         |hashed AS (SELECT token, true_cnt, r.r,
         |  ('0x' || substr(md5(r.r || ':' || token), 1, 8))::BIGINT % 256 AS bucket
         |  FROM cnt CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r)
         |SELECT CAST(r AS BIGINT) AS r, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(sum(true_cnt) AS BIGINT) AS cell
         |FROM hashed GROUP BY 1, 2""".stripMargin,

    // merged incremental HLL store readback (C214): per-register MAX of
    // rho over the corpus vocabulary — HLL's merge algebra
    "sketch_hll_table" ->
      s"""WITH toks AS (SELECT DISTINCT token FROM $tokTable),
         |h AS (SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM toks),
         |r AS (SELECT h // 16777216 AS reg, h % 16777216 AS w FROM h),
         |rho AS (SELECT reg, CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho FROM r)
         |SELECT CAST(reg AS BIGINT) AS reg, CAST(max(rho) AS BIGINT) AS mx
         |FROM rho GROUP BY 1""".stripMargin,

    // merged incremental Bloom store readback (C215): the distinct set-bit
    // positions over the corpus vocabulary — set union as merge algebra
    "sketch_bloom_table" ->
      s"""WITH members AS (SELECT DISTINCT token FROM $tokTable)
         |SELECT DISTINCT
         |  CAST(('0x' || substr(md5(i.i || ':' || token), 1, 8))::BIGINT % 4096 AS BIGINT) AS pos
         |FROM members CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i""".stripMargin,

    // C263: the committed streaming-agg state read back via the State
    // Data Source must equal the from-scratch batch aggregate — the
    // hash check proves checkpoint-state merge across micro-batches
    "statestore_read" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY event_type""".stripMargin,

    // C264: the C94 seen-hash store's kept-corpus decision set — first
    // micro-batch (doc_id % 3, processed in order) to see a hash wins,
    // lowest doc_id within the batch
    "dedup_store_read" ->
      s"""WITH h AS (SELECT doc_id, doc_id % 3 AS b, md5($clean) AS content_hash
         |           FROM documents),
         |r AS (SELECT doc_id, b, content_hash,
         |        row_number() OVER (PARTITION BY content_hash ORDER BY b, doc_id) AS rn
         |      FROM h)
         |SELECT doc_id, content_hash, CAST(b AS BIGINT) AS batch_id
         |FROM r WHERE rn = 1""".stripMargin,

    // C265: the C121 durable aggregate-view store's published view must
    // equal the from-scratch per-(user, day) recompute — same SQL as
    // ivm_agg (C116), which is the point: store-merge ≡ recompute
    "ivm_store_read" ->
      """SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS first_us,
        |  CAST(max(epoch_ns(ts) // 1000) AS BIGINT) AS last_us
        |FROM events GROUP BY 1, 2""".stripMargin,

    // C266: the C143 DQ-partials store's cumulative report vs the batch
    // eventDqReport recompute
    "dq_store_read" ->
      """SELECT 'events_nonneg_value' AS rule, count(*) AS n_checked,
        |  CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6) AS violation_rate
        |FROM events
        |UNION ALL
        |SELECT 'events_user_present', count(*),
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6)
        |FROM events
        |UNION ALL
        |SELECT 'events_ts_present', count(*),
        |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  round(CASE WHEN count(*) > 0 THEN CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) ELSE 0.0 END, 6)
        |FROM events""".stripMargin,

    // C267: the C99 durable shingle store's per-doc span report — a doc's
    // duplicated positions are covered by shingles seen in an EARLIER
    // micro-batch (doc_id % 3, processed in order; singletons included —
    // the store keeps every distinct batch shingle) or shared by another
    // doc of the SAME batch
    "span_store_read" ->
      s"""WITH b AS (SELECT doc_id, doc_id % 3 AS bid,
         |           CAST(len(toks) AS BIGINT) AS n_tokens, toks
         |      FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |sh AS (SELECT doc_id, bid, i,
         |       md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
         |       FROM (SELECT doc_id, bid, toks, unnest(range(0, len(toks) - 7)) AS i
         |             FROM b WHERE n_tokens >= 8)),
         |agg AS (SELECT h, min(bid) AS minb,
         |        count(DISTINCT CASE WHEN bid = 0 THEN doc_id END) AS nd0,
         |        count(DISTINCT CASE WHEN bid = 1 THEN doc_id END) AS nd1,
         |        count(DISTINCT CASE WHEN bid = 2 THEN doc_id END) AS nd2
         |        FROM sh GROUP BY 1),
         |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_tokens FROM
         |        (SELECT DISTINCT s.doc_id, s.i + r.u AS pos
         |         FROM sh s JOIN agg a USING (h) CROSS JOIN range(0, 8) r(u)
         |         WHERE a.minb < s.bid
         |            OR (CASE s.bid WHEN 0 THEN a.nd0 WHEN 1 THEN a.nd1
         |                ELSE a.nd2 END) > 1)
         |        GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens >= 8 THEN b.n_tokens - 7
         |       WHEN b.n_tokens IS NOT NULL THEN CAST(0 AS BIGINT) END AS n_shingles,
         |  CASE WHEN b.n_tokens IS NOT NULL
         |       THEN CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) END AS n_dup_tokens,
         |  CASE WHEN b.n_tokens > 0
         |       THEN round(CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6)
         |       WHEN b.n_tokens IS NOT NULL THEN 0.0 END AS dup_token_frac,
         |  CAST(b.bid AS BIGINT) AS batch_id
         |FROM b LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // C268: the C107 durable moment store's cumulative report — the
    // batches are time-range slices so per-user event-time order holds
    // and the bridging-gap merge must equal the batch operator exactly:
    // the oracle IS bot_score's SQL, store-merge ≡ batch recompute
    "botscore_store_read" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT user_id,
        |      (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) // 1000000 AS gap_s
        |      FROM e QUALIFY gap_s IS NOT NULL),
        |m AS (SELECT user_id, count(*) AS n_gaps, CAST(sum(gap_s) AS BIGINT) AS s,
        |      CAST(sum(gap_s * gap_s) AS BIGINT) AS ss FROM g GROUP BY 1),
        |v AS (SELECT user_id, n_gaps,
        |    round(CAST(s AS DOUBLE) / n_gaps, 9) AS mean_gap_s,
        |    greatest(round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_gaps) / n_gaps, 9),
        |             CAST(0.0 AS DOUBLE)) AS var_gap_s
        |  FROM m),
        |c AS (SELECT user_id, n_gaps, mean_gap_s,
        |    CASE WHEN mean_gap_s > 0 THEN round(sqrt(var_gap_s) / mean_gap_s, 6)
        |         ELSE 0.0 END AS cv_gap
        |  FROM v)
        |SELECT user_id, n_gaps, mean_gap_s, cv_gap,
        |  (n_gaps >= 5 AND cv_gap < 0.3) AS is_regular
        |FROM c""".stripMargin,

    // Bloom-filter measured vs textbook FPR over the corpus vocabulary
    "bloom_fpr" ->
      s"""WITH members AS (SELECT DISTINCT token FROM $tokTable),
         |mpos AS (SELECT DISTINCT
         |  ('0x' || substr(md5(i.i || ':' || token), 1, 8))::BIGINT % 4096 AS pos
         |  FROM members CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i),
         |ppos AS (SELECT token, i.i,
         |  ('0x' || substr(md5(i.i || ':' || token || '_q'), 1, 8))::BIGINT % 4096 AS pos
         |  FROM members CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i),
         |fp AS (SELECT count(*) AS n_fp FROM (
         |  SELECT token FROM ppos WHERE pos IN (SELECT pos FROM mpos)
         |  GROUP BY token HAVING count(*) = 4)),
         |nm AS (SELECT count(*) AS n_members FROM members),
         |nb AS (SELECT count(*) AS n_bits_set FROM mpos)
         |SELECT CAST(n_members AS BIGINT) AS n_members,
         |  CAST(n_bits_set AS BIGINT) AS n_bits_set,
         |  CAST(n_members AS BIGINT) AS n_probes, CAST(n_fp AS BIGINT) AS n_fp,
         |  round(CAST(n_fp AS DOUBLE) / n_members, 6) AS fpr,
         |  round(pow(1.0 - exp((-4.0 * n_members) / 4096), 4.0), 6) AS theory_fpr
         |FROM nm CROSS JOIN nb CROSS JOIN fp""".stripMargin,

    // deterministic p=8 HyperLogLog vs the exact distinct count; every
    // 2^-rho term is a power of two, so Z is order-independent-exact
    "hll_det" ->
      s"""WITH toks AS (SELECT DISTINCT token FROM $tokTable),
         |h AS (SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM toks),
         |r AS (SELECT h // 16777216 AS reg, h % 16777216 AS w FROM h),
         |rho AS (SELECT reg, CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho FROM r),
         |regs AS (SELECT reg, max(rho) AS mx FROM rho GROUP BY 1),
         |z AS (SELECT count(*) AS n_used, sum(pow(2.0, -mx)) AS z_used FROM regs),
         |nt AS (SELECT count(*) AS n_true FROM toks),
         |e2 AS (SELECT n_true, n_used, 256 - n_used AS v,
         |  (((0.7213 / (1.0 + 1.079 / 256)) * 256) * 256)
         |    / (z_used + CAST(256 - n_used AS DOUBLE)) AS e_raw
         |  FROM z CROSS JOIN nt),
         |e3 AS (SELECT n_true, n_used,
         |  CASE WHEN e_raw <= 2.5 * 256 AND v > 0
         |       THEN 256.0 * ln(256.0 / v) ELSE e_raw END AS estimate FROM e2)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_used AS BIGINT) AS n_registers_used,
         |  round(estimate, 6) AS estimate,
         |  round((round(estimate, 6) - n_true) / n_true, 6) AS rel_err
         |FROM e3""".stripMargin,

    // rolling 7-day distinct users via per-day HLL register partials
    // merged by MAX (C216) vs the exact windowed distinct
    "hll_window_distinct" ->
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 1000 // 86400000000 AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |h AS (SELECT day, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h FROM du),
        |r AS (SELECT day, h // 16777216 AS reg, h % 16777216 AS w FROM h),
        |rho AS (SELECT day, reg, CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho FROM r),
        |daily AS (SELECT day, reg, max(rho) AS mx FROM rho GROUP BY 1, 2),
        |wd AS (SELECT win_day, reg, max(mx) AS mx FROM (
        |  SELECT unnest(range(day, day + 7)) AS win_day, reg, mx FROM daily)
        |  WHERE win_day IN (SELECT day FROM days) GROUP BY 1, 2),
        |z AS (SELECT win_day, count(*) AS n_used, sum(pow(2.0, -mx)) AS z_used FROM wd GROUP BY 1),
        |e2 AS (SELECT win_day, n_used, 256 - n_used AS v,
        |  (((0.7213 / (1.0 + 1.079 / 256)) * 256) * 256)
        |    / (z_used + CAST(256 - n_used AS DOUBLE)) AS e_raw FROM z),
        |e3 AS (SELECT win_day, n_used,
        |  CASE WHEN e_raw <= 2.5 * 256 AND v > 0
        |       THEN 256.0 * ln(256.0 / v) ELSE e_raw END AS estimate FROM e2),
        |ex AS (SELECT win_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_true FROM (
        |  SELECT unnest(range(day, day + 7)) AS win_day, user_id FROM du)
        |  WHERE win_day IN (SELECT day FROM days) GROUP BY 1)
        |SELECT e3.win_day, ex.n_true, CAST(n_used AS BIGINT) AS n_registers_used,
        |  round(estimate, 6) AS estimate,
        |  round((round(estimate, 6) - n_true) / n_true, 6) AS rel_err
        |FROM e3 JOIN ex USING (win_day)""".stripMargin,

    // new users per day by HLL inclusion-exclusion (C217): est(prior ∪
    // today) − est(prior), register merges of the same daily partials
    "hll_new_users" ->
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 1000 // 86400000000 AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |h AS (SELECT day, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h FROM du),
        |r AS (SELECT day, h // 16777216 AS reg, h % 16777216 AS w FROM h),
        |rho AS (SELECT day, reg, CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END AS rho FROM r),
        |daily AS (SELECT day, reg, max(rho) AS mx FROM rho GROUP BY 1, 2),
        |pw AS (SELECT anchor, reg, max(mx) AS mx FROM (
        |  SELECT unnest(range(day + 1, day + 8)) AS anchor, reg, mx FROM daily)
        |  WHERE anchor IN (SELECT day FROM days) GROUP BY 1, 2),
        |bw AS (SELECT anchor, reg, max(mx) AS mx FROM (
        |  SELECT unnest(range(day, day + 8)) AS anchor, reg, mx FROM daily)
        |  WHERE anchor IN (SELECT day FROM days) GROUP BY 1, 2),
        |zp AS (SELECT anchor, count(*) AS n_used, sum(pow(2.0, -mx)) AS z_used FROM pw GROUP BY 1),
        |ep AS (SELECT anchor,
        |  CASE WHEN e_raw <= 2.5 * 256 AND v > 0 THEN 256.0 * ln(256.0 / v) ELSE e_raw END AS est_prior
        |  FROM (SELECT anchor, 256 - n_used AS v,
        |    (((0.7213 / (1.0 + 1.079 / 256)) * 256) * 256)
        |      / (z_used + CAST(256 - n_used AS DOUBLE)) AS e_raw FROM zp)),
        |zb AS (SELECT anchor, count(*) AS n_used, sum(pow(2.0, -mx)) AS z_used FROM bw GROUP BY 1),
        |eb AS (SELECT anchor,
        |  CASE WHEN e_raw <= 2.5 * 256 AND v > 0 THEN 256.0 * ln(256.0 / v) ELSE e_raw END AS est_both
        |  FROM (SELECT anchor, 256 - n_used AS v,
        |    (((0.7213 / (1.0 + 1.079 / 256)) * 256) * 256)
        |      / (z_used + CAST(256 - n_used AS DOUBLE)) AS e_raw FROM zb)),
        |pu AS (SELECT DISTINCT anchor, user_id FROM (
        |  SELECT unnest(range(day + 1, day + 8)) AS anchor, user_id FROM du)
        |  WHERE anchor IN (SELECT day FROM days)),
        |ex AS (SELECT d.day AS anchor, CAST(count(*) AS BIGINT) AS n_true_new
        |  FROM du d LEFT JOIN pu ON pu.anchor = d.day AND pu.user_id = d.user_id
        |  WHERE pu.user_id IS NULL GROUP BY 1)
        |SELECT eb.anchor AS day,
        |  CAST(coalesce(ex.n_true_new, 0) AS BIGINT) AS n_true_new,
        |  round(est_prior, 6) AS est_prior, round(est_both, 6) AS est_both,
        |  round(est_both - est_prior, 6) AS est_new,
        |  CASE WHEN coalesce(ex.n_true_new, 0) > 0
        |       THEN round((round(est_both - est_prior, 6) - ex.n_true_new)
        |                  / ex.n_true_new, 6) END AS rel_err
        |FROM eb JOIN ep USING (anchor) LEFT JOIN ex USING (anchor)""".stripMargin,

    // md5-relabelled permutation test on per-user spend (add-one p-value)
    "permutation_test" ->
      """WITH per AS (SELECT user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
        |  FROM events GROUP BY 1),
        |obs AS (SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |  - CAST(sum(CASE WHEN user_id % 2 = 1 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS diff FROM per),
        |sides AS (SELECT user_id, tot, p.p,
        |  ('0x' || substr(md5(p.p || ':' || user_id), 1, 8))::BIGINT % 2 AS side
        |  FROM per CROSS JOIN (SELECT unnest(range(1, 201)) AS p) p),
        |perms AS (SELECT p,
        |  CAST(sum(CASE WHEN side = 0 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
        |  - CAST(sum(CASE WHEN side = 1 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS pdiff
        |  FROM sides GROUP BY 1),
        |ge AS (SELECT CAST(sum(CASE WHEN abs(pdiff) >= abs(obs.diff) THEN 1 ELSE 0 END) AS BIGINT)
        |       AS n_ge FROM perms CROSS JOIN obs)
        |SELECT CAST(n_users AS BIGINT) AS n_users, round(diff, 6) AS obs_diff,
        |  CAST(200 AS BIGINT) AS n_perms, n_ge,
        |  round(CAST(n_ge + 1 AS DOUBLE) / 201, 6) AS p_value
        |FROM obs CROSS JOIN ge""".stripMargin,

    // heavy-changer census between the doc_id-parity corpus halves
    "token_heavy_change" ->
      s"""WITH tok AS (SELECT (doc_id % 2 = 0) AS old_half, unnest($toks) AS token
         |             FROM documents),
         |tot AS (SELECT CAST(sum(CASE WHEN old_half THEN 1 ELSE 0 END) AS BIGINT) AS tot_a,
         |        CAST(sum(CASE WHEN NOT old_half THEN 1 ELSE 0 END) AS BIGINT) AS tot_b FROM tok),
         |g AS (SELECT token,
         |      CAST(sum(CASE WHEN old_half THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         |      CAST(sum(CASE WHEN NOT old_half THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
         |      FROM tok GROUP BY 1)
         |SELECT token, cnt_a, cnt_b,
         |  round(CAST(cnt_a AS DOUBLE) / tot_a, 6) AS share_a,
         |  round(CAST(cnt_b AS DOUBLE) / tot_b, 6) AS share_b,
         |  round(CAST(cnt_b AS DOUBLE) / tot_b - CAST(cnt_a AS DOUBLE) / tot_a, 6) AS delta
         |FROM g CROSS JOIN tot
         |ORDER BY abs(delta) DESC, token
         |LIMIT 10""".stripMargin,

    // Tukey median polish of the nation x order-year revenue matrix
    "median_polish" ->
      """WITH cells AS (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |re AS (SELECT nation, quantile_cont(cents, 0.5) AS row_eff FROM cells GROUP BY 1),
        |r1 AS (SELECT cells.nation, cells.yr, cells.cents, row_eff,
        |       CAST(cents AS DOUBLE) - row_eff AS res1 FROM cells JOIN re USING (nation)),
        |ce AS (SELECT yr, quantile_cont(res1, 0.5) AS col_eff FROM r1 GROUP BY 1)
        |SELECT nation, r1.yr, cents, round(row_eff, 2) AS row_eff,
        |  round(col_eff, 2) AS col_eff, round(res1 - col_eff, 2) AS resid
        |FROM r1 JOIN ce ON r1.yr = ce.yr""".stripMargin,

    // Shapley split of curation-gate removals (coverage game: each
    // removed doc credits 1/k to each of the k gates flagging it, kept
    // exact in sixths)
    "gate_shapley" ->
      s"""WITH f0 AS (SELECT doc_id, n_chars, $qualitySql AS q,
         |    CAST(len($toks) AS DOUBLE)
         |      / CAST(nullif(len(list_distinct($toks)), 0) AS DOUBLE) AS rep
         |    FROM documents),
         |fl AS (SELECT
         |    coalesce(n_chars < 100, true) AS f_short,
         |    coalesce(q < CAST(0.3 AS DOUBLE), true) AS f_quality,
         |    coalesce(rep > CAST(3.0 AS DOUBLE), false) AS f_rep FROM f0),
         |fk AS (SELECT f_short, f_quality, f_rep,
         |    (CASE WHEN f_short THEN 1 ELSE 0 END
         |     + CASE WHEN f_quality THEN 1 ELSE 0 END
         |     + CASE WHEN f_rep THEN 1 ELSE 0 END) AS k FROM fl),
         |a AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN f_short THEN 1 ELSE 0 END), 0) AS BIGINT) AS short_n,
         |    CAST(coalesce(sum(CASE WHEN f_short THEN 6 // k ELSE 0 END), 0) AS BIGINT) AS short_c,
         |    CAST(coalesce(sum(CASE WHEN f_quality THEN 1 ELSE 0 END), 0) AS BIGINT) AS quality_n,
         |    CAST(coalesce(sum(CASE WHEN f_quality THEN 6 // k ELSE 0 END), 0) AS BIGINT) AS quality_c,
         |    CAST(coalesce(sum(CASE WHEN f_rep THEN 1 ELSE 0 END), 0) AS BIGINT) AS rep_n,
         |    CAST(coalesce(sum(CASE WHEN f_rep THEN 6 // k ELSE 0 END), 0) AS BIGINT) AS rep_c,
         |    CAST(coalesce(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed
         |  FROM fk)
         |SELECT gate, n_flagged, round(CAST(c AS DOUBLE) / 6.0, 6) AS shapley_docs,
         |  n_removed FROM (
         |  SELECT 'short' AS gate, short_n AS n_flagged, short_c AS c, n_removed FROM a
         |  UNION ALL SELECT 'quality', quality_n, quality_c, n_removed FROM a
         |  UNION ALL SELECT 'repetition', rep_n, rep_c, n_removed FROM a)""".stripMargin,

    // bipartite projection: top-20 supplier pairs by shared distinct parts
    "supplier_copart_pairs" ->
      """WITH sp AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |gated AS (SELECT pk FROM (SELECT pk, count(*) AS n_supp FROM sp GROUP BY 1)
        |          WHERE n_supp <= 50),
        |d AS (SELECT sp.pk, sp.sk FROM sp JOIN gated USING (pk))
        |SELECT a.sk AS s_a, b.sk AS s_b, count(*) AS n_shared
        |FROM d a JOIN d b ON a.pk = b.pk AND a.sk < b.sk
        |GROUP BY 1, 2
        |ORDER BY n_shared DESC, s_a, s_b
        |LIMIT 20""".stripMargin,

    // code-switch segmentation: per-window marker votes, islands merge
    "lang_segments" ->
      """WITH lw AS (SELECT doc_id,
        |  unnest(list_transform(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |    (t, i) -> {'w': (CAST(i AS BIGINT) - 1) // 16, 'tok': t})) AS u
        |  FROM documents),
        |tk AS (SELECT doc_id, u.w AS win_idx, u.tok AS token FROM lw),
        |voted AS (SELECT doc_id, win_idx,
        |  sum(CASE WHEN token IN ('the','a','of','and','is','query','join') THEN 1 ELSE 0 END) AS s_en,
        |  sum(CASE WHEN token IN ('le','la','et','est','de','scan','batch') THEN 1 ELSE 0 END) AS s_fr,
        |  sum(CASE WHEN token IN ('der','die','das','und','ist','merge','sort') THEN 1 ELSE 0 END) AS s_de
        |  FROM tk GROUP BY 1, 2),
        |wl AS (SELECT doc_id, win_idx,
        |  CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
        |       WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
        |       WHEN s_de > 0 THEN 'de' ELSE 'und' END AS win_lang FROM voted),
        |isl AS (SELECT doc_id, win_lang, win_idx,
        |  win_idx - row_number() OVER (PARTITION BY doc_id, win_lang ORDER BY win_idx) AS isl
        |  FROM wl)
        |SELECT doc_id, CAST(min(win_idx) AS BIGINT) AS seg_start_win,
        |  win_lang AS lang, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, win_lang, isl""".stripMargin,

    // split-conformal half-width: order statistic of calibration residuals
    "conformal_interval" ->
      s"""WITH base AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS y, n_chars AS x
         |  FROM documents),
         |tr AS (SELECT * FROM base WHERE doc_id % 2 = 0),
         |cal AS (SELECT * FROM base WHERE doc_id % 2 = 1),
         |fit AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
         |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
         |    / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE) AS b,
         |  CAST(sum(y) * sum(x * x) - sum(x) * sum(x * y) AS DOUBLE)
         |    / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE) AS a
         |  FROM tr),
         |resid AS (SELECT doc_id, n_train, a, b,
         |  abs(CAST(y AS DOUBLE) - (a + b * x)) AS r FROM cal CROSS JOIN fit),
         |ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY r ASC, doc_id) AS BIGINT) AS rk,
         |  CAST(count(*) OVER () AS BIGINT) AS n_cal FROM resid),
         |qh AS (SELECT n_train, n_cal, round(a, 6) AS intercept, round(b, 6) AS slope,
         |  round(r, 6) AS q_hat, r AS q_raw FROM ranked
         |  WHERE rk = least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal))
         |SELECT n_train, n_cal, intercept, slope, q_hat,
         |  round(CAST((SELECT sum(CASE WHEN r <= qh.q_raw THEN 1 ELSE 0 END) FROM resid)
         |    AS DOUBLE) / n_cal, 6) AS cover_rate
         |FROM qh""".stripMargin,

    // BH step-up across per-event-type md5-permutation p-values
    "bh_fdr" ->
      """WITH per AS (SELECT event_type, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
        |  FROM events GROUP BY 1, 2),
        |obs AS (SELECT event_type,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |  - CAST(sum(CASE WHEN user_id % 2 = 1 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS obs_diff
        |  FROM per GROUP BY 1),
        |sides AS (SELECT event_type, user_id, tot, p.p,
        |  ('0x' || substr(md5(event_type || ':' || p.p || ':' || user_id), 1, 8))::BIGINT % 2 AS side
        |  FROM per CROSS JOIN (SELECT unnest(range(1, 101)) AS p) p),
        |perms AS (SELECT event_type, p,
        |  CAST(sum(CASE WHEN side = 0 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
        |  - CAST(sum(CASE WHEN side = 1 THEN tot ELSE 0 END) AS DOUBLE)
        |    / sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS pdiff
        |  FROM sides GROUP BY 1, 2),
        |pv AS (SELECT perms.event_type, round(obs.obs_diff, 6) AS obs_diff,
        |  round(CAST(sum(CASE WHEN abs(pdiff) >= abs(obs.obs_diff) THEN 1 ELSE 0 END) + 1
        |        AS DOUBLE) / 101, 6) AS p_value
        |  FROM perms JOIN obs ON perms.event_type = obs.event_type
        |  GROUP BY 1, obs.obs_diff),
        |m AS (SELECT count(*) AS m FROM pv),
        |ranked AS (SELECT pv.*, m.m,
        |  CAST(row_number() OVER (ORDER BY p_value ASC, event_type) AS BIGINT) AS rnk
        |  FROM pv CROSS JOIN m),
        |r2 AS (SELECT *, round(CAST(rnk AS DOUBLE) * 0.1 / m, 6) AS bh_thresh FROM ranked),
        |ks AS (SELECT coalesce(max(CASE WHEN p_value <= bh_thresh THEN rnk END), 0) AS k_star
        |       FROM r2)
        |SELECT event_type, obs_diff, p_value, rnk, bh_thresh,
        |  rnk <= k_star AS rejected
        |FROM r2 CROSS JOIN ks""".stripMargin,

    // exact Mann-Kendall S over calendar-bounded daily revenue
    "mann_kendall" ->
      """WITH daily AS (SELECT epoch_ns(o_orderdate) // 1000 // 86400000000 AS day_idx,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
        |             WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.day_idx < b.day_idx),
        |n AS (SELECT count(*) AS n_days FROM daily),
        |ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
        |  FROM (SELECT count(*) AS t FROM daily GROUP BY cents) WHERE t > 1),
        |v AS (SELECT CAST(n_days AS BIGINT) AS n_days, s_stat,
        |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0 AS var_s
        |  FROM s CROSS JOIN n CROSS JOIN ties)
        |SELECT n_days, s_stat, round(var_s, 2) AS var_s,
        |  round(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |             ELSE 0.0 END, 6) AS z,
        |  CAST(CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END AS BIGINT) AS trend
        |FROM v""".stripMargin,

    // Wald SPRT boundary walk over the treatment arm's conversions
    "sprt_boundary" ->
      """WITH arm AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        |wk AS (SELECT user_id, x, row_number() OVER (ORDER BY user_id) AS n,
        |  sum(x) OVER (ORDER BY user_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv
        |  FROM arm),
        |lr AS (SELECT n, CAST(conv AS DOUBLE) * ln(0.6 / 0.4)
        |  + CAST(n - conv AS DOUBLE) * ln((1.0 - 0.6) / (1.0 - 0.4)) AS llr FROM wk),
        |cr AS (SELECT n, llr,
        |  CASE WHEN llr >= ln((1.0 - 0.05) / 0.05) THEN 'accept_h1'
        |       WHEN llr <= ln(0.05 / (1.0 - 0.05)) THEN 'accept_h0' END AS crossed
        |  FROM lr),
        |fst AS (SELECT crossed AS decision, CAST(n AS BIGINT) AS n_at_decision,
        |  round(llr, 6) AS llr_at_decision FROM cr
        |  WHERE crossed IS NOT NULL ORDER BY n LIMIT 1),
        |tot AS (SELECT count(*) AS n_users, CAST(sum(x) AS BIGINT) AS n_conversions
        |        FROM arm)
        |SELECT CAST(n_users AS BIGINT) AS n_users, n_conversions,
        |  coalesce(decision, 'continue') AS decision, n_at_decision, llr_at_decision
        |FROM tot LEFT JOIN fst ON true""".stripMargin,

    // Newman degree assortativity over the df/pair-gated token graph
    "token_assortativity" ->
      s"""WITH d AS (SELECT DISTINCT doc_id, token FROM $tokTable),
         |q AS (SELECT token FROM (SELECT token, count(*) AS df FROM d GROUP BY 1) WHERE df >= 5),
         |dq AS (SELECT d.doc_id, d.token FROM d JOIN q USING (token)),
         |e AS (SELECT x.token AS a, y.token AS b FROM dq x JOIN dq y
         |      ON x.doc_id = y.doc_id AND x.token < y.token
         |      GROUP BY 1, 2 HAVING count(*) >= 5),
         |deg AS (SELECT token, count(*) AS degree FROM
         |        (SELECT a AS token FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |dir AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |m AS (SELECT count(*) AS mm,
         |  CAST(sum(da.degree) AS BIGINT) AS sx, CAST(sum(db.degree) AS BIGINT) AS sy,
         |  sum(CAST(da.degree AS HUGEINT) * db.degree) AS sxy,
         |  sum(CAST(da.degree AS HUGEINT) * da.degree) AS sxx,
         |  sum(CAST(db.degree AS HUGEINT) * db.degree) AS syy
         |  FROM dir JOIN deg da ON dir.a = da.token JOIN deg db ON dir.b = db.token)
         |SELECT CAST(mm // 2 AS BIGINT) AS n_edges,
         |  CASE WHEN (CAST(sxx AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sx AS DOUBLE) / mm)) > 0.0
         |        AND (CAST(syy AS DOUBLE) / mm - (CAST(sy AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm)) > 0.0
         |       THEN round((CAST(sxy AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm))
         |         / sqrt((CAST(sxx AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sx AS DOUBLE) / mm))
         |              * (CAST(syy AS DOUBLE) / mm - (CAST(sy AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm))), 6)
         |       ELSE NULL END AS assortativity
         |FROM m""".stripMargin,

    // null-safe equality join: the NULL bucket row exists only under
    // IS NOT DISTINCT FROM matching
    "null_safe_join" ->
      """WITH b AS (SELECT event_id,
        |  CASE WHEN value >= 100 THEN CAST(floor(value / 100) AS BIGINT) END AS bucket
        |  FROM events),
        |a AS (SELECT bucket, count(*) AS n_a FROM b WHERE event_id % 2 = 0 GROUP BY bucket),
        |c AS (SELECT bucket, count(*) AS n_b FROM b WHERE event_id % 2 = 1 GROUP BY bucket)
        |SELECT a.bucket, CAST(a.n_a AS BIGINT) AS n_a, CAST(c.n_b AS BIGINT) AS n_b,
        |  a.bucket IS NULL AS is_null_bucket
        |FROM a JOIN c ON a.bucket IS NOT DISTINCT FROM c.bucket""".stripMargin,

    // NOT IN vs NOT EXISTS under a NULL-bearing subquery: the
    // tri-valued-logic pin (any NULL annihilates NOT IN)
    "not_in_semantics" ->
      """WITH sub AS (SELECT CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN NULL ELSE o_custkey END AS k FROM orders)
        |SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM sub))
        |    AS n_not_in,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM sub WHERE sub.k = c.c_custkey)) AS n_not_exists,
        |  (SELECT count(*) FROM customer) AS n_customers""".stripMargin,

    // group-aware k-fold: fold = md5(source) mod 5, per-fold census
    "group_kfold" ->
      """SELECT ('0x' || substr(md5(source), 1, 8))::BIGINT % 5 AS fold,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    // ROUGE-L over the shared MinHash band candidates: token LCS via a
    // recursive-CTE row sweep (prefix-max reformulation: new[j] =
    // max_{k<=j} greatest(old[k], old[k-1] + eq_k), valid because the
    // DP row is non-decreasing), exact integers end to end
    "rouge_l_pairs" ->
      s"""WITH RECURSIVE tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |tp AS (SELECT a_id, b_id, ta.toks AS a_toks, tb.toks AS b_toks
         |       FROM cand JOIN tk ta ON ta.doc_id = a_id JOIN tk tb ON tb.doc_id = b_id),
         |dp AS (
         |  SELECT a_id, b_id, a_toks, b_toks, 0 AS i,
         |    list_transform(range(0, len(b_toks) + 1), x -> CAST(0 AS BIGINT)) AS r
         |  FROM tp
         |  UNION ALL
         |  SELECT a_id, b_id, a_toks, b_toks, i + 1,
         |    list_transform(range(1, len(b_toks) + 2), j ->
         |      CASE WHEN j = 1 THEN CAST(0 AS BIGINT)
         |      ELSE list_max(list_transform(range(2, j + 1), k ->
         |        greatest(r[k], r[k - 1]
         |          + CASE WHEN a_toks[i + 1] = b_toks[k - 1] THEN 1 ELSE 0 END)))
         |      END)
         |  FROM dp WHERE i < len(a_toks)),
         |lc AS (SELECT a_id, b_id, CAST(len(a_toks) AS BIGINT) AS len_a,
         |       CAST(len(b_toks) AS BIGINT) AS len_b, r[len(b_toks) + 1] AS lcs
         |       FROM dp WHERE i = len(a_toks))
         |SELECT a_id, b_id, len_a, len_b, lcs,
         |  round(CAST(lcs AS DOUBLE) / len_a, 6) AS rouge_p,
         |  round(CAST(lcs AS DOUBLE) / len_b, 6) AS rouge_r,
         |  round(2.0 * lcs / (len_a + len_b), 6) AS rouge_f
         |FROM lc""".stripMargin,

    // word error rate over the same band candidates: token-level
    // Levenshtein as a recursive-CTE row sweep with the prefix-MIN
    // reformulation (dp[i][j] = min_{k<=j} (c_k + (j-k)) where
    // c_0 = i and c_k = least(old[k]+1, old[k-1]+sub_k) — valid because
    // the within-row dependency is a +1-per-step chain). NOT DuckDB's
    // built-in levenshtein: that one is BYTE-level (substituting one
    // 2-byte codepoint costs 2), so a token→codepoint encoding cannot
    // reproduce token-level distances. Exact integers end to end.
    "wer_pairs" ->
      s"""WITH RECURSIVE tk AS (SELECT doc_id, $toks AS toks FROM documents WHERE len($toks) >= 3),
         |dt AS (SELECT DISTINCT doc_id,
         |       toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
         |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM tk)),
         |sig AS (SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || ':' || token)) AS sig
         |        FROM dt CROSS JOIN range(16) r(i) GROUP BY 1, 2),
         |band AS (SELECT doc_id, i // 8 AS band, md5(string_agg(sig, '|' ORDER BY i)) AS bh
         |         FROM sig GROUP BY doc_id, i // 8),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
         |         JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |tp AS (SELECT a_id, b_id, ta.toks AS a_toks, tb.toks AS b_toks
         |       FROM cand JOIN tk ta ON ta.doc_id = a_id JOIN tk tb ON tb.doc_id = b_id),
         |dp AS (
         |  SELECT a_id, b_id, a_toks, b_toks, 0 AS i,
         |    list_transform(range(0, len(b_toks) + 1), x -> CAST(x AS BIGINT)) AS r
         |  FROM tp
         |  UNION ALL
         |  SELECT a_id, b_id, a_toks, b_toks, i + 1,
         |    list_transform(range(1, len(b_toks) + 2), l ->
         |      CASE WHEN l = 1 THEN CAST(i + 1 AS BIGINT)
         |      ELSE list_min(list_transform(range(1, l + 1), k ->
         |        (CASE WHEN k = 1 THEN CAST(i + 1 AS BIGINT)
         |         ELSE least(r[k] + 1, r[k - 1]
         |           + CASE WHEN a_toks[i + 1] = b_toks[k - 1] THEN 0 ELSE 1 END)
         |         END) + (l - k)))
         |      END)
         |  FROM dp WHERE i < len(a_toks)),
         |lv AS (SELECT a_id, b_id, CAST(len(a_toks) AS BIGINT) AS len_a,
         |       CAST(len(b_toks) AS BIGINT) AS len_b, r[len(b_toks) + 1] AS word_dist
         |       FROM dp WHERE i = len(a_toks))
         |SELECT a_id, b_id, len_a, len_b, word_dist,
         |  round(CAST(word_dist AS DOUBLE) / len_a, 6) AS wer
         |FROM lv""".stripMargin,

    // external cluster validity off the shared deterministic Lloyd fit:
    // purity + NMI from one (cluster x label) contingency
    "cluster_purity" -> {
      def assign(c: String, a: String) =
        s"""$a AS MATERIALIZED (SELECT vec_id, e, cluster, dist FROM (
           |  SELECT vec_id, e, cluster, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 9),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS MATERIALIZED (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 9)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS MATERIALIZED (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      s"""WITH v AS MATERIALIZED (SELECT vec_id, list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 4),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |${recenter("a3", "m3", "c3")},
         |${assign("c3", "a4")},
         |cells AS MATERIALIZED (SELECT a4.cluster, CAST(e2.label AS BIGINT) AS label,
         |  count(*) AS n_cl FROM a4 JOIN embeddings e2 ON e2.vec_id = a4.vec_id
         |  GROUP BY 1, 2),
         |nn AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cells),
         |best AS (SELECT CAST(sum(nb) AS BIGINT) AS sum_best FROM
         |  (SELECT cluster, max(n_cl) AS nb FROM cells GROUP BY 1)),
         |hc AS (SELECT list_reduce(list(term ORDER BY cluster), (a, b) -> a + b) AS h_cluster
         |  FROM (SELECT cluster,
         |    round(-(CAST(n_k AS DOUBLE) / n) * ln(CAST(n_k AS DOUBLE) / n), 6) AS term
         |    FROM (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_k FROM cells GROUP BY 1)
         |    CROSS JOIN nn)),
         |hl AS (SELECT list_reduce(list(term ORDER BY label), (a, b) -> a + b) AS h_label
         |  FROM (SELECT label,
         |    round(-(CAST(n_k AS DOUBLE) / n) * ln(CAST(n_k AS DOUBLE) / n), 6) AS term
         |    FROM (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_k FROM cells GROUP BY 1)
         |    CROSS JOIN nn)),
         |mi AS (SELECT list_reduce(list(term ORDER BY cluster, label), (a, b) -> a + b) AS mi
         |  FROM (SELECT c.cluster, c.label,
         |    round((CAST(n_cl AS DOUBLE) / n)
         |      * ln(CAST(n AS DOUBLE) * n_cl / (CAST(n_c AS DOUBLE) * n_l)), 6) AS term
         |    FROM cells c
         |    JOIN (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_c FROM cells GROUP BY 1) cc USING (cluster)
         |    JOIN (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cells GROUP BY 1) ll USING (label)
         |    CROSS JOIN nn))
         |SELECT n AS n_vecs, round(CAST(sum_best AS DOUBLE) / n, 6) AS purity,
         |  round(CASE WHEN h_cluster > 0.0 AND h_label > 0.0
         |        THEN mi / sqrt(h_cluster * h_label) END, 6) AS nmi
         |FROM best CROSS JOIN nn CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl""".stripMargin
    },

    // adjusted Rand index off the same deterministic Lloyd chain as
    // cluster_purity: all pair counts exact (HUGEINT cross product),
    // one double ratio at the end
    "adjusted_rand" -> {
      def assign(c: String, a: String) =
        s"""$a AS MATERIALIZED (SELECT vec_id, e, cluster, dist FROM (
           |  SELECT vec_id, e, cluster, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 9),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS MATERIALIZED (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 9)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS MATERIALIZED (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      s"""WITH v AS MATERIALIZED (SELECT vec_id, list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 4),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |${recenter("a3", "m3", "c3")},
         |${assign("c3", "a4")},
         |cells AS MATERIALIZED (SELECT a4.cluster, CAST(e2.label AS BIGINT) AS label,
         |  count(*) AS n_cl FROM a4 JOIN embeddings e2 ON e2.vec_id = a4.vec_id
         |  GROUP BY 1, 2),
         |nn AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cells),
         |idx AS (SELECT CAST(sum(n_cl * (n_cl - 1) // 2) AS BIGINT) AS index_sum FROM cells),
         |ca AS (SELECT CAST(sum(n_c * (n_c - 1) // 2) AS BIGINT) AS comb_a
         |  FROM (SELECT CAST(sum(n_cl) AS BIGINT) AS n_c FROM cells GROUP BY cluster)),
         |cb AS (SELECT CAST(sum(n_l * (n_l - 1) // 2) AS BIGINT) AS comb_b
         |  FROM (SELECT CAST(sum(n_cl) AS BIGINT) AS n_l FROM cells GROUP BY label)),
         |fin AS (SELECT n, index_sum, comb_a, comb_b,
         |  CAST(CAST(comb_a AS HUGEINT) * comb_b AS DOUBLE)
         |    / CAST(n * (n - 1) // 2 AS DOUBLE) AS expected,
         |  CAST(comb_a + comb_b AS DOUBLE) / 2.0 AS max_idx
         |  FROM idx CROSS JOIN nn CROSS JOIN ca CROSS JOIN cb)
         |SELECT n AS n_vecs, index_sum, comb_a, comb_b,
         |  round(expected, 6) AS expected_index,
         |  round(CASE WHEN max_idx <> expected
         |    THEN (CAST(index_sum AS DOUBLE) - expected) / (max_idx - expected) END, 6) AS ari
         |FROM fin""".stripMargin
    },

    // exact tau-b of the decile-bucketed (quality, length) pair: both
    // ntiles over (value, doc_id) total orders, concordant/discordant
    // off the 10x10 grid self-join, tie terms from the margins
    "kendall_tau" ->
      s"""WITH q AS (SELECT doc_id, n_chars, $qualitySql AS quality FROM documents),
         |d AS (SELECT ntile(10) OVER (ORDER BY quality, doc_id) AS dq,
         |             ntile(10) OVER (ORDER BY n_chars, doc_id) AS dl FROM q),
         |cells AS MATERIALIZED (SELECT dq, dl, count(*) AS o FROM d GROUP BY 1, 2),
         |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n_docs FROM cells),
         |cd AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN b.dl > a.dl THEN a.o * b.o END), 0) AS BIGINT) AS concordant,
         |  CAST(coalesce(sum(CASE WHEN b.dl < a.dl THEN a.o * b.o END), 0) AS BIGINT) AS discordant
         |  FROM cells a JOIN cells b ON b.dq > a.dq),
         |tq AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS t_q
         |  FROM (SELECT CAST(sum(o) AS BIGINT) AS m FROM cells GROUP BY dq)),
         |tl AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS t_l
         |  FROM (SELECT CAST(sum(o) AS BIGINT) AS m FROM cells GROUP BY dl))
         |SELECT n_docs, concordant, discordant, t_q, t_l,
         |  round(CAST(concordant - discordant AS DOUBLE)
         |    / sqrt(CAST(n_docs * (n_docs - 1) // 2 - t_q AS DOUBLE)
         |         * CAST(n_docs * (n_docs - 1) // 2 - t_l AS DOUBLE)), 6) AS tau_b
         |FROM cd CROSS JOIN nn CROSS JOIN tq CROSS JOIN tl""".stripMargin,

    // Theil's U both directions from the lang x source contingency;
    // 6dp entropy terms folded in sorted key order
    "theil_u" ->
      """WITH cells AS MATERIALIZED (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n_docs FROM cells),
        |hl AS (SELECT list_reduce(list(term ORDER BY lang), (a, b) -> a + b) AS h_lang
        |  FROM (SELECT lang, round(-(CAST(n_k AS DOUBLE) / n_docs) * ln(CAST(n_k AS DOUBLE) / n_docs), 6) AS term
        |        FROM (SELECT lang, CAST(sum(o) AS BIGINT) AS n_k FROM cells GROUP BY 1) CROSS JOIN nn)),
        |hs AS (SELECT list_reduce(list(term ORDER BY source), (a, b) -> a + b) AS h_source
        |  FROM (SELECT source, round(-(CAST(n_k AS DOUBLE) / n_docs) * ln(CAST(n_k AS DOUBLE) / n_docs), 6) AS term
        |        FROM (SELECT source, CAST(sum(o) AS BIGINT) AS n_k FROM cells GROUP BY 1) CROSS JOIN nn)),
        |hj AS (SELECT list_reduce(list(term ORDER BY lang, source), (a, b) -> a + b) AS h_joint
        |  FROM (SELECT lang, source,
        |        round(-(CAST(o AS DOUBLE) / n_docs) * ln(CAST(o AS DOUBLE) / n_docs), 6) AS term
        |        FROM cells CROSS JOIN nn))
        |SELECT n_docs, round(h_lang, 6) AS h_lang, round(h_source, 6) AS h_source,
        |  round(h_joint, 6) AS h_joint,
        |  round(CASE WHEN h_lang > 0.0 THEN (h_lang + h_source - h_joint) / h_lang END, 6)
        |    AS u_lang_given_source,
        |  round(CASE WHEN h_source > 0.0 THEN (h_lang + h_source - h_joint) / h_source END, 6)
        |    AS u_source_given_lang
        |FROM nn CROSS JOIN hl CROSS JOIN hs CROSS JOIN hj""".stripMargin,

    // Brown-Forsythe: abs deviations from group medians in x2 integer
    // space, per-source 9dp ANOVA terms folded in source order
    "brown_forsythe" ->
      """WITH m AS (SELECT source, CAST(quantile_cont(n_chars, 0.5) * 2 AS BIGINT) AS med2
        |           FROM documents GROUP BY source),
        |per AS MATERIALIZED (SELECT d.source, count(*) AS n_i,
        |  CAST(sum(abs(d.n_chars * 2 - m.med2)) AS BIGINT) AS s1,
        |  sum(CAST(abs(d.n_chars * 2 - m.med2) AS HUGEINT) * abs(d.n_chars * 2 - m.med2)) AS s2
        |  FROM documents d JOIN m USING (source) GROUP BY d.source),
        |g AS (SELECT CAST(sum(n_i) AS BIGINT) AS n_docs, CAST(sum(s1) AS BIGINT) AS s1t,
        |      count(*) AS k_groups FROM per),
        |t AS (SELECT
        |  list_reduce(list(ssb_i ORDER BY source), (a, b) -> a + b) AS ssb,
        |  list_reduce(list(ssw_i ORDER BY source), (a, b) -> a + b) AS ssw
        |  FROM (SELECT source,
        |    round(n_i * (CAST(s1 AS DOUBLE) / (n_i * 2) - CAST(s1t AS DOUBLE) / (n_docs * 2))
        |              * (CAST(s1 AS DOUBLE) / (n_i * 2) - CAST(s1t AS DOUBLE) / (n_docs * 2)), 9) AS ssb_i,
        |    round((CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_i AS DOUBLE)) / 4.0, 9) AS ssw_i
        |    FROM per CROSS JOIN g))
        |SELECT k_groups, n_docs, round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
        |  round(CASE WHEN k_groups > 1 AND ssw > 0.0
        |    THEN (ssb / CAST(k_groups - 1 AS DOUBLE)) / (ssw / CAST(n_docs - k_groups AS DOUBLE)) END, 6)
        |    AS f_stat
        |FROM t CROSS JOIN g""".stripMargin,

    // Cochran's Q across the three binary raters: sufficient statistics
    // only, squares through HUGEINT, one double ratio
    "cochran_q" ->
      s"""WITH r AS (SELECT
         |  CASE WHEN $qualitySql >= 0.5 THEN 1 ELSE 0 END AS r_quality,
         |  CASE WHEN length(text) >= 100 THEN 1 ELSE 0 END AS r_length,
         |  CASE WHEN (CASE WHEN length(text) > 0
         |        THEN CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE) / length(text)
         |        ELSE 0.0 END) >= 0.6 THEN 1 ELSE 0 END AS r_alpha
         |  FROM documents),
         |a AS (SELECT count(*) AS n_docs,
         |  CAST(sum(r_quality) AS BIGINT) AS c_quality,
         |  CAST(sum(r_length) AS BIGINT) AS c_length,
         |  CAST(sum(r_alpha) AS BIGINT) AS c_alpha,
         |  CAST(sum((r_quality + r_length + r_alpha) * (r_quality + r_length + r_alpha)) AS BIGINT) AS sr2
         |  FROM r)
         |SELECT n_docs, c_quality, c_length, c_alpha,
         |  round(CASE WHEN 3 * (c_quality + c_length + c_alpha) - sr2 > 0
         |    THEN CAST(2 * (3 * (CAST(c_quality AS HUGEINT) * c_quality
         |            + CAST(c_length AS HUGEINT) * c_length
         |            + CAST(c_alpha AS HUGEINT) * c_alpha)
         |          - CAST(c_quality + c_length + c_alpha AS HUGEINT)
         |            * (c_quality + c_length + c_alpha)) AS DOUBLE)
         |      / CAST(3 * (c_quality + c_length + c_alpha) - sr2 AS DOUBLE) END, 6) AS q_stat,
         |  CAST(2 AS BIGINT) AS dof
         |FROM a""".stripMargin,

    // V-measure off the same deterministic Lloyd chain: homogeneity =
    // MI/H(label), completeness = MI/H(cluster), V their harmonic mean
    "v_measure" -> {
      def assign(c: String, a: String) =
        s"""$a AS MATERIALIZED (SELECT vec_id, e, cluster, dist FROM (
           |  SELECT vec_id, e, cluster, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM (SELECT v.vec_id, v.e, $c.cluster,
           |      round(list_reduce(list_transform(range(1, 9),
           |        i -> (e[i] - c[i]) * (e[i] - c[i])), (p, q) -> p + q), 9) AS dist
           |    FROM v CROSS JOIN $c)) WHERE rn = 1)""".stripMargin
      def recenter(a: String, m: String, c: String) =
        s"""$m AS MATERIALIZED (SELECT cluster, pos,
           |  round(list_reduce(list_sort(list(sub_s)), (p, q) -> p + q) / sum(sub_n), 9) AS cm
           |  FROM (SELECT cluster, pos, vec_id % 1024 AS sb, count(*) AS sub_n,
           |        list_reduce(list_sort(list(x)), (p, q) -> p + q) AS sub_s
           |        FROM (SELECT vec_id, cluster, unnest(range(1, 9)) AS pos, unnest(e) AS x FROM $a)
           |        GROUP BY cluster, pos, sb)
           |  GROUP BY cluster, pos),
           |$c AS MATERIALIZED (SELECT cluster, list(cm ORDER BY pos) AS c FROM $m GROUP BY cluster)""".stripMargin
      s"""WITH v AS MATERIALIZED (SELECT vec_id, list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |c0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cluster, e AS c FROM v WHERE vec_id < 4),
         |${assign("c0", "a1")},
         |${recenter("a1", "m1", "c1")},
         |${assign("c1", "a2")},
         |${recenter("a2", "m2", "c2")},
         |${assign("c2", "a3")},
         |${recenter("a3", "m3", "c3")},
         |${assign("c3", "a4")},
         |cells AS MATERIALIZED (SELECT a4.cluster, CAST(e2.label AS BIGINT) AS label,
         |  count(*) AS n_cl FROM a4 JOIN embeddings e2 ON e2.vec_id = a4.vec_id
         |  GROUP BY 1, 2),
         |nn AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cells),
         |hc AS (SELECT list_reduce(list(term ORDER BY cluster), (a, b) -> a + b) AS h_cluster
         |  FROM (SELECT cluster,
         |    round(-(CAST(n_k AS DOUBLE) / n) * ln(CAST(n_k AS DOUBLE) / n), 6) AS term
         |    FROM (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_k FROM cells GROUP BY 1)
         |    CROSS JOIN nn)),
         |hl AS (SELECT list_reduce(list(term ORDER BY label), (a, b) -> a + b) AS h_label
         |  FROM (SELECT label,
         |    round(-(CAST(n_k AS DOUBLE) / n) * ln(CAST(n_k AS DOUBLE) / n), 6) AS term
         |    FROM (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_k FROM cells GROUP BY 1)
         |    CROSS JOIN nn)),
         |mi AS (SELECT list_reduce(list(term ORDER BY cluster, label), (a, b) -> a + b) AS mi
         |  FROM (SELECT c.cluster, c.label,
         |    round((CAST(n_cl AS DOUBLE) / n)
         |      * ln(CAST(n AS DOUBLE) * n_cl / (CAST(n_c AS DOUBLE) * n_l)), 6) AS term
         |    FROM cells c
         |    JOIN (SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_c FROM cells GROUP BY 1) cc USING (cluster)
         |    JOIN (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cells GROUP BY 1) ll USING (label)
         |    CROSS JOIN nn)),
         |fin AS (SELECT n, mi,
         |  CASE WHEN h_label > 0.0 THEN mi / h_label END AS homog,
         |  CASE WHEN h_cluster > 0.0 THEN mi / h_cluster END AS compl
         |  FROM nn CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl)
         |SELECT n AS n_vecs, round(mi, 6) AS mi,
         |  round(homog, 6) AS homogeneity, round(compl, 6) AS completeness,
         |  round(CASE WHEN homog + compl > 0.0
         |    THEN 2.0 * homog * compl / (homog + compl) END, 6) AS v_measure
         |FROM fin""".stripMargin
    },

    // Wald-Wolfowitz runs test over the md5-keyed shuffle order;
    // boundaries by rank-aligned self-join, mu/sigma closed forms
    "runs_test" ->
      """WITH sh AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS skey FROM documents),
        |o AS (SELECT doc_id, row_number() OVER (ORDER BY skey, doc_id) AS ord FROM sh),
        |mj AS (SELECT source AS major FROM
        |  (SELECT source, count(*) AS c FROM documents GROUP BY 1 ORDER BY c DESC, source LIMIT 1)),
        |f AS MATERIALIZED (SELECT ord, CAST(d.source = mj.major AS BIGINT) AS m
        |     FROM o JOIN documents d USING (doc_id) CROSS JOIN mj),
        |sw AS (SELECT CAST(coalesce(sum(CASE WHEN a.m <> b.m_next THEN 1 ELSE 0 END), 0) AS BIGINT) AS switches
        |       FROM f a JOIN (SELECT ord - 1 AS ord, m AS m_next FROM f) b USING (ord)),
        |c AS (SELECT count(*) AS n_docs, CAST(sum(m) AS BIGINT) AS n_major FROM f),
        |fin AS (SELECT n_docs, n_major, switches,
        |  2.0 * CAST(n_major AS DOUBLE) * CAST(n_docs - n_major AS DOUBLE) / n_docs + 1.0 AS mu
        |  FROM sw CROSS JOIN c)
        |SELECT n_docs, n_major, switches + 1 AS n_runs,
        |  round(CASE WHEN (mu - 1.0) * (mu - 2.0) / CAST(n_docs - 1 AS DOUBLE) > 0.0
        |    THEN (CAST(switches + 1 AS DOUBLE) - mu)
        |      / sqrt((mu - 1.0) * (mu - 2.0) / CAST(n_docs - 1 AS DOUBLE)) END, 6) AS z_stat
        |FROM fin""".stripMargin,

    // Hill diversity ladder per source: exact integer Simpson, 9dp
    // Shannon terms through the md5-bucketed two-level fold
    "hill_numbers" ->
      s"""WITH cnt AS MATERIALIZED (SELECT source, token, count(*) AS c
         |  FROM (SELECT source, unnest($toks) AS token FROM documents) GROUP BY 1, 2),
         |t AS MATERIALIZED (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS q0, sum(CAST(c AS HUGEINT) * c) AS sc2 FROM cnt GROUP BY 1),
         |h AS (SELECT source, list_reduce(list_sort(list(sub_s)), (a, b) -> a + b) AS h
         |  FROM (SELECT source, ('0x' || substr(md5(token), 1, 4))::BIGINT % 1024 AS sb,
         |        list_reduce(list_sort(list(term)), (a, b) -> a + b) AS sub_s
         |        FROM (SELECT cnt.source, token,
         |          round((CAST(c AS DOUBLE) / n_tokens) * ln(CAST(n_tokens AS DOUBLE) / c), 9) AS term
         |          FROM cnt JOIN t USING (source))
         |        GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT source, n_tokens, q0, round(exp(h), 6) AS hill1,
         |  round(CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE) / CAST(sc2 AS DOUBLE), 6) AS hill2,
         |  round(CASE WHEN q0 > 1 THEN h / ln(CAST(q0 AS DOUBLE)) END, 6) AS pielou_evenness
         |FROM t JOIN h USING (source)""".stripMargin,

    // HITS: 3 unrolled mutual-reinforcement rounds with max-normalized
    // half-steps on the directed weighted bigram graph
    "token_hits" -> {
      def aStep(hPrev: String, raw: String, out: String) =
        s"""$raw AS MATERIALIZED (SELECT dst AS token,
           |  round(list_reduce(list_sort(list(round(w * h, 9))), (p, q) -> p + q), 9) AS a
           |  FROM ew JOIN $hPrev ON $hPrev.token = ew.src GROUP BY dst),
           |$out AS MATERIALIZED (SELECT token, round(a / (SELECT max(a) FROM $raw), 9) AS a FROM $raw)""".stripMargin
      def hStep(aPrev: String, raw: String, out: String) =
        s"""$raw AS MATERIALIZED (SELECT src AS token,
           |  round(list_reduce(list_sort(list(round(w * a, 9))), (p, q) -> p + q), 9) AS h
           |  FROM ew JOIN $aPrev ON $aPrev.token = ew.dst GROUP BY src),
           |$out AS MATERIALIZED (SELECT token, round(h / (SELECT max(h) FROM $raw), 9) AS h FROM $raw)""".stripMargin
      s"""WITH t0 AS (SELECT $toks AS toks FROM documents WHERE len($toks) >= 2),
         |bi AS (SELECT toks[i] AS src, toks[i + 1] AS dst
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t0)),
         |ew AS MATERIALIZED (SELECT src, dst, count(*) AS w FROM bi GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT DISTINCT token FROM
         |  (SELECT src AS token FROM ew UNION ALL SELECT dst FROM ew)),
         |h0 AS (SELECT token, 1.0 AS h FROM nodes),
         |${aStep("h0", "a1r", "a1")},
         |${hStep("a1", "h1r", "h1")},
         |${aStep("h1", "a2r", "a2")},
         |${hStep("a2", "h2r", "h2")},
         |${aStep("h2", "a3r", "a3")},
         |${hStep("a3", "h3r", "h3")}
         |SELECT n.token, coalesce(round(h3.h, 6), 0.0) AS hub,
         |  coalesce(round(a3.a, 6), 0.0) AS authority
         |FROM nodes n LEFT JOIN h3 ON h3.token = n.token
         |LEFT JOIN a3 ON a3.token = n.token""".stripMargin
    },

    // Poisson GLM trend: 4 unrolled Newton steps, 9dp sorted-fold
    // sufficient statistics over the calendar-bounded day frame
    "poisson_trend" -> {
      def step(pPrev: String, s: String, out: String) =
        s"""$s AS (SELECT n_days, b0, b1,
           |  list_reduce(list_sort(list(round(y - exp(b0 + b1 * t), 9))), (a, b) -> a + b) AS g0,
           |  list_reduce(list_sort(list(round(t * (y - exp(b0 + b1 * t)), 9))), (a, b) -> a + b) AS g1,
           |  list_reduce(list_sort(list(round(exp(b0 + b1 * t), 9))), (a, b) -> a + b) AS h00,
           |  list_reduce(list_sort(list(round(t * exp(b0 + b1 * t), 9))), (a, b) -> a + b) AS h01,
           |  list_reduce(list_sort(list(round(t * t * exp(b0 + b1 * t), 9))), (a, b) -> a + b) AS h11
           |  FROM daily CROSS JOIN $pPrev GROUP BY 1, 2, 3),
           |$out AS (SELECT n_days,
           |  round(b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01), 9) AS b0,
           |  round(b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01), 9) AS b1 FROM $s)""".stripMargin
      s"""WITH d0 AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS d, count(*) AS y
         |      FROM events GROUP BY 1),
         |daily AS MATERIALIZED (SELECT d - (SELECT min(d) FROM d0) AS t, y FROM d0),
         |p0 AS (SELECT count(*) AS n_days,
         |  round(ln(CAST(sum(y) AS DOUBLE) / count(*)), 9) AS b0, 0.0 AS b1 FROM daily),
         |${step("p0", "s1", "p1")},
         |${step("p1", "s2", "p2")},
         |${step("p2", "s3", "p3")},
         |${step("p3", "s4", "p4")}
         |SELECT n_days, b0, b1, round(exp(b1), 6) AS daily_growth FROM p4""".stripMargin
    },

    // Huber IRLS trend: 3 unrolled steps, scale re-estimated per step as
    // 1.4826 x the rank-based lower median of |residuals|, 9dp weighted
    // folds in days since the first day, 2x2 re-solve at 6dp
    "huber_trend" -> {
      def step(pPrev: String, i: Int) =
        s"""r$i AS MATERIALIZED (SELECT n, x0, day_idx - x0 AS x, day_idx, cents,
           |  abs(round(CAST(cents AS DOUBLE) - b0 - b1 * day_idx, 6)) AS ae
           |  FROM daily CROSS JOIN $pPrev),
           |sc$i AS MATERIALIZED (SELECT round(ae * 1.4826, 9) AS s FROM
           |  (SELECT ae, n, row_number() OVER (ORDER BY ae, day_idx) AS rn FROM r$i)
           |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)),
           |s$i AS (SELECT n, x0, s,
           |  list_reduce(list_sort(list(w)), (a, b) -> a + b) AS sw,
           |  list_reduce(list_sort(list(round(w * x, 9))), (a, b) -> a + b) AS swx,
           |  list_reduce(list_sort(list(round(w * x * x, 9))), (a, b) -> a + b) AS swxx,
           |  list_reduce(list_sort(list(round(w * cents, 9))), (a, b) -> a + b) AS swy,
           |  list_reduce(list_sort(list(round(w * x * cents, 9))), (a, b) -> a + b) AS swxy
           |  FROM (SELECT n, x0, s, x, cents,
           |        round(CASE WHEN ae <= 1.345 * s THEN 1.0
           |              ELSE 1.345 * s / ae END, 9) AS w
           |        FROM r$i CROSS JOIN sc$i)
           |  GROUP BY 1, 2, 3),
           |p$i AS (SELECT n, x0, b1,
           |  round(round((swy - b1 * swx) / sw, 6) - b1 * x0, 6) AS b0
           |  FROM (SELECT n, x0, sw, swx, swy,
           |    round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6) AS b1
           |    FROM s$i))""".stripMargin
      s"""WITH daily AS MATERIALIZED (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events GROUP BY 1),
         |m AS (SELECT count(*) AS n, min(day_idx) AS x0, CAST(sum(day_idx) AS BIGINT) AS sx,
         |  CAST(sum(cents) AS BIGINT) AS sy,
         |  sum(CAST(day_idx AS HUGEINT) * cents) AS sxy,
         |  sum(CAST(day_idx AS HUGEINT) * day_idx) AS sxx FROM daily),
         |p0 AS (SELECT n, x0, b1,
         |  round(CAST(sy AS DOUBLE) / n - b1 * (CAST(sx AS DOUBLE) / n), 9) AS b0
         |  FROM (SELECT n, x0, sx, sy,
         |    round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 9) AS b1
         |    FROM m)),
         |${step("p0", 1)},
         |${step("p1", 2)},
         |${step("p2", 3)}
         |SELECT n AS n_days, round(s, 6) AS robust_scale,
         |  b0 AS huber_intercept, b1 AS huber_slope
         |FROM p3 CROSS JOIN sc3""".stripMargin
    },

    // odds ratio + Woolf CI over the parity conversion 2x2; HUGEINT
    // cross products, NULL on any empty cell
    "odds_ratio" ->
      """WITH pu AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 - x ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 - x ELSE 0 END) AS BIGINT) AS d
        |  FROM pu),
        |f AS (SELECT a, b, c, d,
        |  CAST(CAST(a AS HUGEINT) * d AS DOUBLE) / CAST(CAST(b AS HUGEINT) * c AS DOUBLE) AS orr,
        |  sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se,
        |  a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok FROM m)
        |SELECT a AS n_conv_a, b AS n_noconv_a, c AS n_conv_b, d AS n_noconv_b,
        |  round(CASE WHEN ok THEN orr END, 6) AS odds_ratio,
        |  round(CASE WHEN ok THEN exp(ln(orr) - 1.959964 * se) END, 6) AS ci_lo,
        |  round(CASE WHEN ok THEN exp(ln(orr) + 1.959964 * se) END, 6) AS ci_hi
        |FROM f""".stripMargin,

    // Mantel-Cox log-rank: O exact long, E and hypergeometric variance
    // as 9dp terms folded in time order over the bounded duration axis
    "logrank_test" ->
      """WITH span AS (SELECT user_id, min(d) AS first_day, max(d) AS last_day,
        |  min(CASE WHEN event_type = 'purchase' THEN d END) AS p_day FROM
        |  (SELECT user_id, event_type, epoch_ns(ts) // 1000 // 86400000000 AS d FROM events)
        |  GROUP BY 1),
        |u AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp_a,
        |      coalesce(p_day, last_day) - first_day AS t,
        |      CASE WHEN p_day IS NOT NULL THEN 1 ELSE 0 END AS churned
        |      FROM span),
        |byt AS (SELECT t, CAST(sum(grp_a) AS BIGINT) AS n_a,
        |      CAST(count(*) - sum(grp_a) AS BIGINT) AS n_b,
        |      CAST(sum(grp_a * churned) AS BIGINT) AS d_a,
        |      CAST(sum((1 - grp_a) * churned) AS BIGINT) AS d_b
        |      FROM u GROUP BY 1),
        |tot AS (SELECT CAST(sum(grp_a) AS BIGINT) AS tot_a,
        |      CAST(count(*) - sum(grp_a) AS BIGINT) AS tot_b FROM u),
        |risk AS (SELECT t, d_a, d_b,
        |      tot_a - CAST(sum(n_a) OVER (ORDER BY t) AS BIGINT) + n_a AS r_a,
        |      tot_b - CAST(sum(n_b) OVER (ORDER BY t) AS BIGINT) + n_b AS r_b,
        |      tot_a, tot_b
        |      FROM byt CROSS JOIN tot),
        |terms AS (SELECT tot_a, tot_b, d_a, t,
        |      round((d_a + d_b) * (CAST(r_a AS DOUBLE) / (r_a + r_b)), 9) AS e1_t,
        |      CASE WHEN r_a + r_b > 1 THEN
        |        round((d_a + d_b) * (CAST(r_a AS DOUBLE) / (r_a + r_b))
        |          * (1.0 - CAST(r_a AS DOUBLE) / (r_a + r_b))
        |          * ((r_a + r_b) - (d_a + d_b)) / ((r_a + r_b) - 1), 9)
        |      ELSE 0.0 END AS v_t
        |      FROM risk),
        |agg AS (SELECT tot_a, tot_b, CAST(sum(d_a) AS BIGINT) AS o1,
        |      list_reduce(list(e1_t ORDER BY t, e1_t, v_t), (a, b) -> a + b) AS e1,
        |      list_reduce(list(v_t ORDER BY t, e1_t, v_t), (a, b) -> a + b) AS v
        |      FROM terms GROUP BY 1, 2)
        |SELECT tot_a AS n_users_a, tot_b AS n_users_b, o1, round(e1, 6) AS e1,
        |  round(CASE WHEN v > 0.0 THEN (o1 - e1) * (o1 - e1) / v END, 6) AS chi2,
        |  CAST(1 AS BIGINT) AS dof
        |FROM agg""".stripMargin,

    // Ruzicka via the min-only identity: sum(max) = Na + Nb - sum(min)
    "source_ruzicka" ->
      s"""WITH c AS MATERIALIZED (SELECT source, token, count(*) AS c
         |  FROM (SELECT source, unnest($toks) AS token FROM documents) GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tok FROM c GROUP BY 1),
         |i AS (SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(sum(least(a.c, b.c)) AS BIGINT) AS s_min
         |  FROM c a JOIN c b ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, ta.n_tok AS n_a, tb.n_tok AS n_b, s_min,
         |  round(CAST(s_min AS DOUBLE) / (ta.n_tok + tb.n_tok - s_min), 6) AS ruzicka
         |FROM i JOIN t ta ON ta.source = source_a
         |JOIN t tb ON tb.source = source_b""".stripMargin,

    // Chao1-bc richness + Good-Turing unseen mass from the type counts
    "vocab_coverage_est" ->
      s"""WITH c AS (SELECT source, token, count(*) AS c
         |  FROM (SELECT source, unnest($toks) AS token FROM documents) GROUP BY 1, 2),
         |a AS (SELECT source, count(*) AS q0, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM c GROUP BY 1)
         |SELECT source, n_tokens, q0, f1, f2,
         |  round(q0 + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)), 6) AS chao1,
         |  round(CAST(f1 AS DOUBLE) / n_tokens, 6) AS unseen_mass,
         |  round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS coverage
         |FROM a""".stripMargin,

    // pooled vs per-lang OLS slope sign flips (the aggregation trap)
    "simpsons_paradox" ->
      s"""WITH pts AS MATERIALIZED (SELECT lang, CAST(n_chars AS BIGINT) AS x,
         |  CAST(round(($qualitySql) * 1000000, 0) AS BIGINT) AS q FROM documents),
         |o AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |  CAST(sum(q) AS BIGINT) AS sq, sum(CAST(x AS HUGEINT) * q) AS sxq,
         |  sum(CAST(x AS HUGEINT) * x) AS sxx FROM pts),
         |po AS (SELECT n AS n_docs,
         |  round(CAST(CAST(n AS HUGEINT) * sxq - CAST(sx AS HUGEINT) * sq AS DOUBLE)
         |    / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |    / 1000000.0, 9) AS pooled_slope FROM o),
         |pg AS (SELECT lang, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |  CAST(sum(q) AS BIGINT) AS sq, sum(CAST(x AS HUGEINT) * q) AS sxq,
         |  sum(CAST(x AS HUGEINT) * x) AS sxx FROM pts GROUP BY 1 HAVING count(*) > 1),
         |pl AS (SELECT lang,
         |  round(CAST(CAST(n AS HUGEINT) * sxq - CAST(sx AS HUGEINT) * sq AS DOUBLE)
         |    / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |    / 1000000.0, 9) AS g_slope FROM pg)
         |SELECT n_docs, count(*) AS n_groups, pooled_slope,
         |  CAST(sum(CASE WHEN sign(g_slope) <> sign(pooled_slope) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sign_flips,
         |  sum(CASE WHEN sign(g_slope) <> sign(pooled_slope) THEN 1 ELSE 0 END) = count(*)
         |    AS full_paradox
         |FROM pl CROSS JOIN po GROUP BY n_docs, pooled_slope""".stripMargin,

    // VaR/CVaR of day-over-day revenue deltas: explicit rank-based
    // lower-empirical quantile, exact-integer tail mean
    "revenue_var" ->
      """WITH daily AS (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT day_idx, cents, lag(cents) OVER (ORDER BY day_idx) AS prev FROM daily),
        |dl AS (SELECT CAST(cents - prev AS BIGINT) AS delta FROM d2 WHERE prev IS NOT NULL),
        |r AS (SELECT delta, row_number() OVER (ORDER BY delta) AS rn FROM dl),
        |nn AS (SELECT count(*) AS n_deltas FROM dl),
        |v AS (SELECT n_deltas, delta AS var95 FROM r CROSS JOIN nn
        |      WHERE rn = CAST(ceil(n_deltas * 0.05) AS BIGINT))
        |SELECT n_deltas, var95, CAST(count(*) AS BIGINT) AS n_tail_days,
        |  round(CAST(sum(delta) AS DOUBLE) / count(*), 6) AS cvar95
        |FROM dl CROSS JOIN v WHERE delta <= var95 GROUP BY 1, 2""".stripMargin,

    // Jarque-Bera over 9dp ln terms, two-level doc_id-bucketed folds,
    // central-moment algebra written identically to the Spark side
    "jarque_bera" ->
      """WITH t AS (SELECT lang, round(ln(CAST(n_chars AS DOUBLE)), 9) AS l,
        |  doc_id % 1024 AS sb FROM documents WHERE n_chars > 0),
        |l1 AS (SELECT lang, sb, count(*) AS c,
        |  list_reduce(list_sort(list(l)), (a, b) -> a + b) AS s1,
        |  list_reduce(list_sort(list(l * l)), (a, b) -> a + b) AS s2,
        |  list_reduce(list_sort(list(l * l * l)), (a, b) -> a + b) AS s3,
        |  list_reduce(list_sort(list(l * l * l * l)), (a, b) -> a + b) AS s4
        |  FROM t GROUP BY 1, 2),
        |m AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
        |  list_reduce(list_sort(list(s1)), (a, b) -> a + b) AS s1,
        |  list_reduce(list_sort(list(s2)), (a, b) -> a + b) AS s2,
        |  list_reduce(list_sort(list(s3)), (a, b) -> a + b) AS s3,
        |  list_reduce(list_sort(list(s4)), (a, b) -> a + b) AS s4
        |  FROM l1 GROUP BY 1 HAVING sum(c) > 3),
        |f AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) AS n,
        |  s1 / CAST(n_docs AS DOUBLE) AS mu, s2, s3, s4 FROM m),
        |g AS (SELECT lang, n_docs, n, mu,
        |  s2 / n - mu * mu AS m2,
        |  s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu AS m3,
        |  s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n)
        |    - 3.0 * mu * mu * mu * mu AS m4 FROM f),
        |h AS (SELECT lang, n_docs, n, m2,
        |  m3 / sqrt(m2 * m2 * m2) AS skew, m4 / (m2 * m2) - 3.0 AS exk FROM g)
        |SELECT lang, n_docs, round(skew, 6) AS skewness,
        |  round(exk, 6) AS ex_kurtosis,
        |  round(CASE WHEN m2 > 0.0
        |    THEN n / 6.0 * (skew * skew + exk * exk / 4.0) END, 6) AS jb_stat
        |FROM h""".stripMargin,

    // unbiased linear-kernel MMD^2: per-label vector sums / norm sums
    // via 9dp two-level folds, closed form assembled identically
    "embed_mmd" ->
      """WITH base AS MATERIALIZED (SELECT CAST(label AS BIGINT) AS label, vec_id,
        |  unnest(range(1, 9)) AS pos,
        |  unnest(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings),
        |sums AS MATERIALIZED (SELECT label, pos,
        |  round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 9) AS s
        |  FROM (SELECT label, pos, vec_id % 1024 AS sb,
        |        list_reduce(list_sort(list(round(x, 9))), (a, b) -> a + b) AS sub_s
        |        FROM base GROUP BY 1, 2, 3) GROUP BY 1, 2),
        |qn AS (SELECT label, round(list_reduce(list_sort(list(sub_q)), (a, b) -> a + b), 9) AS q
        |  FROM (SELECT label, vec_id % 1024 AS sb,
        |        list_reduce(list_sort(list(round(x * x, 9))), (a, b) -> a + b) AS sub_q
        |        FROM base GROUP BY 1, 2) GROUP BY 1),
        |counts AS (SELECT CAST(label AS BIGINT) AS label, count(*) AS n FROM embeddings GROUP BY 1),
        |dots AS MATERIALIZED (SELECT a.label AS label_a, b.label AS label_b,
        |  list_reduce(list(round(a.s * b.s, 9) ORDER BY a.pos), (x, y) -> x + y) AS dot
        |  FROM sums a JOIN sums b ON a.pos = b.pos AND a.label <= b.label
        |  GROUP BY 1, 2),
        |slf AS (SELECT label_a AS label, dot AS s2 FROM dots WHERE label_a = label_b),
        |st AS MATERIALIZED (SELECT label, n, q, s2
        |  FROM counts JOIN qn USING (label) JOIN slf USING (label))
        |SELECT d.label_a, d.label_b, sa.n AS n_a, sb2.n AS n_b,
        |  round((sa.s2 - sa.q) / (CAST(sa.n AS DOUBLE) * (sa.n - 1.0))
        |      + (sb2.s2 - sb2.q) / (CAST(sb2.n AS DOUBLE) * (sb2.n - 1.0))
        |      - 2.0 * d.dot / (CAST(sa.n AS DOUBLE) * sb2.n), 6) AS mmd2
        |FROM dots d JOIN st sa ON sa.label = d.label_a
        |JOIN st sb2 ON sb2.label = d.label_b
        |WHERE d.label_a < d.label_b AND sa.n > 1 AND sb2.n > 1""".stripMargin,

    // NB method-of-moments per source: exact integer moments, NULL on
    // underdispersion
    "negbin_fit" ->
      s"""WITH m AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(x) AS BIGINT) AS s1, sum(CAST(x AS HUGEINT) * x) AS s2
         |  FROM (SELECT source, CAST(len($toks) AS BIGINT) AS x FROM documents)
         |  GROUP BY 1 HAVING count(*) > 1),
         |f AS (SELECT source, n_docs, CAST(s1 AS DOUBLE) / n_docs AS mean,
         |  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_docs)
         |    / (n_docs - 1) AS variance FROM m)
         |SELECT source, n_docs, round(mean, 6) AS mean_tokens,
         |  round(variance, 6) AS var_tokens,
         |  round(variance / mean, 6) AS dispersion_ratio,
         |  round(CASE WHEN variance > mean THEN mean * mean / (variance - mean) END, 6) AS nb_r,
         |  round(CASE WHEN variance > mean THEN mean / variance END, 6) AS nb_p
         |FROM f""".stripMargin,

    // Mood's median test: grand median in x2 integer space, 2xk grid
    // with 6dp (o-e)^2/e terms folded in (source, side) order
    "mood_median" ->
      """WITH md AS (SELECT CAST(quantile_cont(n_chars, 0.5) * 2 AS BIGINT) AS med2 FROM documents),
        |cells AS (SELECT source, count(*) AS n_i,
        |  CAST(sum(CASE WHEN n_chars * 2 > med2 THEN 1 ELSE 0 END) AS BIGINT) AS a_i
        |  FROM documents CROSS JOIN md GROUP BY 1),
        |g AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(a_i) AS BIGINT) AS a,
        |      count(*) AS k_groups FROM cells),
        |t AS (SELECT source, side, o, e FROM (
        |  SELECT source, 1 AS side, a_i AS o,
        |    CAST(n_i AS DOUBLE) * a / n AS e FROM cells CROSS JOIN g
        |  UNION ALL
        |  SELECT source, 0 AS side, n_i - a_i AS o,
        |    CAST(n_i AS DOUBLE) * (n - a) / n AS e FROM cells CROSS JOIN g)),
        |s AS (SELECT round(list_reduce(
        |  list(round(pow(CAST(o AS DOUBLE) - e, 2.0) / e, 6) ORDER BY source, side),
        |  (x, y) -> x + y), 6) AS chi2 FROM t)
        |SELECT n AS n_docs, k_groups, chi2, k_groups - 1 AS dof
        |FROM s CROSS JOIN g""".stripMargin,

    // token-mass-weighted length percentiles: window cumsum over the
    // (n_chars, doc_id) total order, integer cross-multiplied crossing
    "token_mass_percentiles" ->
      s"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(len($toks) AS BIGINT) AS toks FROM documents),
         |r AS (SELECT n_chars, sum(toks) OVER (ORDER BY n_chars, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks,
         |      sum(toks) OVER () AS tot_toks FROM d),
         |t AS (SELECT count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens FROM d),
         |x AS (SELECT n_chars, cum_toks, tot_toks,
         |      unnest([25, 50, 75, 90, 99]) AS pct FROM r)
         |SELECT CAST(pct AS BIGINT) AS pct, min(n_chars) AS chars_at_pct,
         |  n_docs, n_tokens
         |FROM x CROSS JOIN t WHERE cum_toks * 100 >= pct * tot_toks
         |GROUP BY 1, 3, 4""".stripMargin,

    // 2-D skyline: per-quality max length, frontier by exclusive running
    // max over quality DESC (the distinct-quality frame is value-bounded)
    "skyline_docs" ->
      s"""WITH q AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  $qualitySql AS quality FROM documents),
         |g AS (SELECT quality, max(n_chars) AS glen FROM q GROUP BY 1),
         |p AS (SELECT quality, glen, max(glen) OVER (ORDER BY quality DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM g),
         |f AS (SELECT quality, glen FROM p WHERE prevmax IS NULL OR glen > prevmax)
         |SELECT doc_id, q.quality, n_chars
         |FROM q JOIN f ON q.quality = f.quality AND q.n_chars = f.glen""".stripMargin,

    // Newman modularity over the label-prop partition: exact long edge /
    // degree counts off the same unrolled chain, 9dp bucketed fold
    "community_modularity" ->
      s"""WITH t0 AS (SELECT $toks AS toks FROM documents),
         |bi AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t0)
         |      WHERE toks[i] <> toks[i + 1]),
         |half AS MATERIALIZED (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b FROM bi),
         |e AS MATERIALIZED (SELECT a, b FROM half UNION ALL SELECT b, a FROM half),
         |l0 AS MATERIALIZED (SELECT DISTINCT a AS token, a AS label FROM e),
         |l1 AS MATERIALIZED (SELECT l.token, least(l.label, coalesce(m.nb, l.label)) AS label
         |       FROM l0 l LEFT JOIN (SELECT e.a AS token, min(l0.label) AS nb
         |                            FROM e JOIN l0 ON l0.token = e.b GROUP BY 1) m USING (token)),
         |l2 AS MATERIALIZED (SELECT l.token, least(l.label, coalesce(m.nb, l.label)) AS label
         |       FROM l1 l LEFT JOIN (SELECT e.a AS token, min(l1.label) AS nb
         |                            FROM e JOIN l1 ON l1.token = e.b GROUP BY 1) m USING (token)),
         |l3 AS MATERIALIZED (SELECT l.token, least(l.label, coalesce(m.nb, l.label)) AS label
         |       FROM l2 l LEFT JOIN (SELECT e.a AS token, min(l2.label) AS nb
         |                            FROM e JOIN l2 ON l2.token = e.b GROUP BY 1) m USING (token)),
         |mm AS (SELECT count(*) AS m FROM half),
         |dc AS (SELECT l3.label, CAST(sum(deg) AS BIGINT) AS d_c
         |  FROM (SELECT a, count(*) AS deg FROM e GROUP BY 1) d
         |  JOIN l3 ON l3.token = d.a GROUP BY 1),
         |ec AS (SELECT la.label, count(*) AS e_c FROM half h
         |  JOIN l3 la ON la.token = h.a JOIN l3 lb ON lb.token = h.b
         |  WHERE la.label = lb.label GROUP BY 1),
         |terms AS (SELECT ('0x' || substr(md5(dc.label), 1, 4))::BIGINT % 1024 AS sb,
         |  round(CAST(coalesce(e_c, 0) AS DOUBLE) / m
         |    - (CAST(d_c AS DOUBLE) / (m * 2)) * (CAST(d_c AS DOUBLE) / (m * 2)), 9) AS term
         |  FROM dc LEFT JOIN ec USING (label) CROSS JOIN mm),
         |qq AS (SELECT round(list_reduce(list_sort(list(sub_s)), (a, b) -> a + b), 6) AS modularity
         |  FROM (SELECT sb, list_reduce(list_sort(list(term)), (a, b) -> a + b) AS sub_s
         |        FROM terms GROUP BY 1)),
         |c AS (SELECT count(*) AS n_nodes,
         |  CAST(count(DISTINCT label) AS BIGINT) AS n_communities FROM l3)
         |SELECT n_nodes, m AS n_edges, n_communities, modularity
         |FROM qq CROSS JOIN mm CROSS JOIN c""".stripMargin,

    // bitmap word-algebra overlap matrix: the oracle is SET semantics —
    // the bitmap BIT_OR/AND/popcount path must reproduce it exactly
    "bitmap_overlap_matrix" ->
      """WITH du AS (SELECT DISTINCT user_id, event_type FROM events),
        |s AS (SELECT event_type, count(*) AS n_users FROM du GROUP BY 1),
        |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |      FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b,
        |  CAST(sa.n_users AS BIGINT) AS n_a, CAST(sb.n_users AS BIGINT) AS n_b,
        |  CAST(i.n_both AS BIGINT) AS n_both,
        |  round(CAST(i.n_both AS DOUBLE) / (sa.n_users + sb.n_users - i.n_both), 6) AS jaccard
        |FROM i JOIN s sa ON sa.event_type = i.type_a
        |JOIN s sb ON sb.event_type = i.type_b""".stripMargin,

    // self-BLEU over the per-lang 16-doc sample: full ordered pair grid
    // (zero-overlap pairs included), bleu_pairs' exact clipped-count
    // machinery, per-lang mean of sorted 6dp terms (the sum re-rounded to
    // 6 dp before it divides)
    "self_bleu" ->
      s"""WITH tk AS MATERIALIZED (SELECT lang, doc_id, $toks AS toks FROM documents
         |  WHERE len($toks) >= 2),
         |sm AS MATERIALIZED (SELECT lang, doc_id, toks FROM (
         |  SELECT lang, doc_id, toks,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM tk)
         |  WHERE rn <= 16),
         |lens AS MATERIALIZED (SELECT lang, doc_id, CAST(len(toks) AS BIGINT) AS len FROM sm),
         |g1 AS MATERIALIZED (SELECT lang, doc_id, g, count(*) AS c FROM
         |  (SELECT lang, doc_id, unnest(toks) AS g FROM sm) GROUP BY 1, 2, 3),
         |g2 AS MATERIALIZED (SELECT lang, doc_id, g, count(*) AS c FROM
         |  (SELECT lang, doc_id, toks[i] || ' ' || toks[i + 1] AS g
         |   FROM (SELECT lang, doc_id, toks, unnest(range(1, len(toks))) AS i FROM sm))
         |  GROUP BY 1, 2, 3),
         |cl1 AS (SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip1
         |  FROM g1 a JOIN g1 b ON a.lang = b.lang AND a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2, 3),
         |cl2 AS (SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip2
         |  FROM g2 a JOIN g2 b ON a.lang = b.lang AND a.g = b.g AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2, 3),
         |grid AS (SELECT la.lang, la.doc_id AS a_id, lb.doc_id AS b_id,
         |  la.len AS len_a, lb.len AS len_b
         |  FROM lens la JOIN lens lb ON la.lang = lb.lang AND la.doc_id <> lb.doc_id),
         |p AS (SELECT grid.lang, a_id, b_id, len_a, len_b,
         |  round(CAST(coalesce(clip1, 0) AS DOUBLE) / len_a, 9) AS p1,
         |  round(CAST(coalesce(clip2, 0) AS DOUBLE) / greatest(len_a - 1, 1), 9) AS p2
         |  FROM grid LEFT JOIN cl1 USING (lang, a_id, b_id)
         |  LEFT JOIN cl2 USING (lang, a_id, b_id)),
         |bl AS (SELECT lang, a_id, b_id,
         |  round((CASE WHEN len_a >= len_b THEN 1.0
         |    ELSE round(exp(1.0 - CAST(len_b AS DOUBLE) / len_a), 9) END)
         |    * sqrt(p1 * p2), 6) AS bleu2 FROM p)
         |SELECT lang, count(*) AS n_pairs,
         |  round(round(list_reduce(list(bleu2 ORDER BY a_id, b_id, bleu2), (a, b) -> a + b), 6)
         |    / count(*), 6) AS self_bleu
         |FROM bl GROUP BY lang""".stripMargin,

    // stride frame sampling over the hex spelling of the media bytes
    // (DuckDB substring rejects BLOB; md5 takes VARCHAR only — the hash
    // is of the lowercase hex on both engines)
    "mm_video_frames" ->
      """WITH m AS (SELECT doc_id, lower(hex(encode(text))) AS mhex FROM documents
        |           WHERE octet_length(encode(text)) > 0),
        |n AS (SELECT doc_id, mhex,
        |      CAST(ceil((length(mhex) / 2) / 32.0) AS BIGINT) AS nf FROM m),
        |n2 AS (SELECT doc_id, mhex, nf,
        |      least(CAST(ceil(nf / 2.0) AS BIGINT), 4) AS ns FROM n),
        |e AS (SELECT doc_id, mhex, nf, unnest(range(0, ns)) AS s FROM n2),
        |f AS (SELECT doc_id, CAST(s * 2 AS BIGINT) AS frame_idx, nf,
        |      substring(mhex, CAST(s * 2 * 64 + 1 AS BIGINT), 64) AS fhex FROM e)
        |SELECT doc_id, frame_idx, nf AS n_frames_total,
        |  (length(fhex) / 2)::BIGINT AS frame_bytes,
        |  md5(fhex) AS frame_hash
        |FROM f""".stripMargin,

    // maximum drawdown of daily revenue: running peak, worst
    // peak-to-trough ratio, peak day back-resolved
    "revenue_drawdown" ->
      """WITH daily AS (SELECT epoch_ns(o_orderdate) // 1000 // 86400000000 AS day_idx,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |dd AS (SELECT day_idx, cents,
        |  max(cents) OVER (ORDER BY day_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |tr AS (SELECT day_idx AS trough_day, peak AS peak_cents, cents AS trough_cents,
        |  CAST(peak - cents AS DOUBLE) / peak AS dd
        |  FROM dd ORDER BY dd DESC, trough_day ASC LIMIT 1)
        |SELECT min(d.day_idx) AS peak_day, tr.trough_day, tr.peak_cents,
        |  tr.trough_cents, round(tr.dd, 6) AS max_drawdown
        |FROM tr JOIN daily d ON d.cents = tr.peak_cents AND d.day_idx <= tr.trough_day
        |GROUP BY tr.trough_day, tr.peak_cents, tr.trough_cents, tr.dd""".stripMargin,

    // Hampel filter: positional medians in x2 / x4 integer space over
    // the +-3-day neighborhood, one double compare for the outlier gate
    "hampel_filter" ->
      """WITH daily AS (SELECT epoch_ns(o_orderdate) // 1000 // 86400000000 AS day_idx,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |contrib AS (SELECT cents AS cj,
        |  unnest(range(day_idx - 3, day_idx + 4)) AS day_idx FROM daily),
        |wins AS (SELECT c.day_idx, list_sort(list(c.cj)) AS vals
        |  FROM contrib c JOIN (SELECT day_idx FROM daily) p USING (day_idx)
        |  GROUP BY 1),
        |sc AS (SELECT w.day_idx, d.cents, len(vals) AS n, vals
        |  FROM wins w JOIN daily d USING (day_idx)),
        |m1 AS (SELECT day_idx, cents, n, vals,
        |  CASE WHEN n % 2 = 1 THEN 2 * vals[(n + 1) // 2]
        |       ELSE vals[n // 2] + vals[n // 2 + 1] END AS med2 FROM sc),
        |m2 AS (SELECT day_idx, cents, n, med2,
        |  list_sort(list_transform(vals, v -> abs(2 * v - med2))) AS dev2s FROM m1),
        |m3 AS (SELECT day_idx, cents, med2,
        |  CASE WHEN n % 2 = 1 THEN 2 * dev2s[(n + 1) // 2]
        |       ELSE dev2s[n // 2] + dev2s[n // 2 + 1] END AS mad4 FROM m2),
        |f AS (SELECT day_idx, cents, med2, mad4,
        |  2.0 * CAST(abs(2 * cents - med2) AS DOUBLE)
        |    > (3.0 * 1.4826) * CAST(mad4 AS DOUBLE) AS is_outlier FROM m3)
        |SELECT day_idx, cents, CAST(med2 AS DOUBLE) / 2.0 AS med_cents,
        |  CAST(mad4 AS DOUBLE) / 4.0 AS mad_cents, is_outlier,
        |  CASE WHEN is_outlier THEN CAST(med2 AS DOUBLE) / 2.0
        |       ELSE CAST(cents AS DOUBLE) END AS repaired_cents
        |FROM f""".stripMargin,

    // two-proportion power analysis off the observed parity experiment
    "power_analysis" ->
      """WITH pu AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |  FROM events GROUP BY 1),
        |m AS (SELECT
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS c_a,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) AS BIGINT) AS c_b
        |  FROM pu),
        |p AS (SELECT n_a, n_b,
        |  CAST(c_a AS DOUBLE) / n_a AS p1, CAST(c_b AS DOUBLE) / n_b AS p2,
        |  CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pbar FROM m),
        |s AS (SELECT n_a, n_b, p1, p2,
        |  abs(p2 - p1) AS delta,
        |  1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
        |    + 0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)) AS zsum FROM p)
        |SELECT n_a, n_b, round(p1, 6) AS p_a, round(p2, 6) AS p_b,
        |  round(delta, 6) AS delta,
        |  CASE WHEN delta > 0.0
        |       THEN CAST(ceil((zsum * zsum) / (delta * delta)) AS BIGINT)
        |       END AS n_per_arm_req
        |FROM s""".stripMargin,

    // caliper matching: bucket-gated 1-NN on pre-period spend, ATT over
    // matched post-period differences
    "caliper_match" ->
      """WITH base AS (SELECT user_id,
        |  epoch_ns(ts) // 1000 // 86400000000 AS day_idx,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |d0 AS (SELECT min(day_idx) AS d0 FROM base),
        |sp AS (SELECT user_id,
        |  CAST(sum(CASE WHEN day_idx < d0 + 15 THEN c ELSE 0 END) AS BIGINT) AS pre,
        |  CAST(sum(CASE WHEN day_idx >= d0 + 15 THEN c ELSE 0 END) AS BIGINT) AS post
        |  FROM base CROSS JOIN d0 GROUP BY 1),
        |tr AS (SELECT user_id AS t_id, pre AS t_pre, post AS t_post FROM sp
        |  WHERE user_id % 2 = 1),
        |ct AS (SELECT user_id AS c_id, pre AS c_pre, post AS c_post,
        |  pre // 20000 AS bucket FROM sp WHERE user_id % 2 = 0),
        |cand AS (SELECT t.t_id, c.c_id, abs(t.t_pre - c.c_pre) AS dist,
        |  t.t_post, c.c_post
        |  FROM tr t JOIN ct c
        |    ON c.bucket IN (t.t_pre // 20000 - 1, t.t_pre // 20000, t.t_pre // 20000 + 1)
        |  WHERE abs(t.t_pre - c.c_pre) <= 20000),
        |mt AS (SELECT t_id, dist, t_post - c_post AS diff FROM (
        |  SELECT *, row_number() OVER (PARTITION BY t_id ORDER BY dist, c_id) AS rn
        |  FROM cand) WHERE rn = 1),
        |nt AS (SELECT count(*) AS n_treated FROM sp WHERE user_id % 2 = 1)
        |SELECT CAST(n_treated AS BIGINT) AS n_treated,
        |  CAST(count(*) AS BIGINT) AS n_matched,
        |  round(CAST(sum(diff) AS DOUBLE) / count(*) / 100.0, 6) AS att_dollars,
        |  round(CAST(sum(dist) AS DOUBLE) / count(*) / 100.0, 6) AS avg_match_dist_dollars
        |FROM mt CROSS JOIN nt GROUP BY n_treated""".stripMargin,

    // Kruskal-Wallis H across languages: tie-averaged ranks in x2
    // integer space, HUGEINT squares, sorted-language term fold
    "kruskal_wallis" ->
      """WITH vals AS (SELECT n_chars, count(*) AS t FROM documents GROUP BY 1),
        |sw AS (SELECT n_chars, t,
        |  sum(t) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
        |  sum(t) OVER () AS n_total FROM vals),
        |r AS (SELECT n_chars, CAST(2 * cum_t - t + 1 AS BIGINT) AS r2,
        |  CAST(n_total AS BIGINT) AS n_total FROM sw),
        |pl AS (SELECT lang, n_chars, count(*) AS n_lv FROM documents GROUP BY 1, 2),
        |ph AS (SELECT lang, CAST(sum(n_lv) AS BIGINT) AS n_h,
        |  CAST(sum(n_lv * r2) AS BIGINT) AS rr2, max(n_total) AS n_total
        |  FROM pl JOIN r USING (n_chars) GROUP BY 1),
        |terms AS (SELECT n_total, lang,
        |  CAST(CAST(rr2 AS HUGEINT) * rr2 AS DOUBLE) / (4.0 * n_h) AS term FROM ph),
        |sf AS (SELECT max(n_total) AS n_total, CAST(count(*) AS BIGINT) AS n_groups,
        |  list_reduce(list_prepend(0.0, list(term ORDER BY lang)), (a, b) -> a + b) AS s_sum
        |  FROM terms),
        |ties AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tie_term
        |  FROM vals WHERE t > 1),
        |h AS (SELECT n_total, n_groups,
        |  12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0)) * s_sum
        |    - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h_stat,
        |  1.0 - CAST(tie_term AS DOUBLE)
        |    / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        |       - CAST(n_total AS DOUBLE)) AS c_corr
        |  FROM sf CROSS JOIN ties)
        |SELECT n_total AS n_docs, n_groups, n_groups - 1 AS df,
        |  round(h_stat, 6) AS h_stat,
        |  round(CASE WHEN c_corr > 0.0 THEN h_stat / c_corr END, 6) AS h_corrected
        |FROM h""".stripMargin,

    // Adamic-Adar link prediction over the bigram-adjacency graph:
    // nano-unit neighbor weights summed per open wedge, existing edges
    // anti-joined away; relative edge gate (count >= 0.005 * n_docs)
    "adamic_adar" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
         |big AS (SELECT toks[i] AS a0, toks[i + 1] AS b0
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk
         |        WHERE len(toks) >= 2)),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |e AS (SELECT least(a0, b0) AS a, greatest(a0, b0) AS b
         |  FROM big, nd WHERE a0 <> b0
         |  GROUP BY 1, 2, nd.n_docs
         |  HAVING CAST(count(*) AS DOUBLE) >= 0.005 * nd.n_docs),
         |deg AS (SELECT token, count(*) AS degree FROM
         |        (SELECT a AS token FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |wz AS (SELECT token AS z,
         |  CAST(round(round(1.0 / ln(degree), 9) * 1e9) AS BIGINT) AS w_nano
         |  FROM deg WHERE degree >= 2),
         |dir AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |wedge AS (SELECT x.a, y.b, w.w_nano
         |  FROM dir x JOIN wz w ON x.b = w.z
         |  JOIN dir y ON y.a = x.b AND x.a < y.b),
         |g AS (SELECT a, b, count(*) AS n_common, CAST(sum(w_nano) AS BIGINT) AS aa_nano
         |  FROM wedge GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT g.a, g.b, CAST(g.n_common AS BIGINT) AS n_common,
         |  round(CAST(aa_nano AS DOUBLE) / 1e9, 6) AS aa_score
         |FROM g LEFT JOIN e ON g.a = e.a AND g.b = e.b
         |WHERE e.a IS NULL""".stripMargin
  )

  /** Rounded cosine between two list columns (the annTopkSql fold shape,
    * parametrized on the column names). */
  private def cosSql(x: String, y: String): String =
    s"""round(list_reduce(list_transform($x, (u, i) -> CAST(u AS DOUBLE) * CAST($y[i] AS DOUBLE)), (p, q) -> p + q)
       |    / (sqrt(list_reduce(list_transform($x, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE)), (p, q) -> p + q))
       |       * sqrt(list_reduce(list_transform($y, u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE)), (p, q) -> p + q))), 6)""".stripMargin

  /** MMR greedy rounds unrolled: sel1 = argmax λ·cosq; sel_i adds the
    * argmax of λ·cosq − (1−λ)·max-sim-to-selected over the remaining
    * candidates. Mirrors Similarity.mmrRerank (λ = 0.7, 20 candidates,
    * 5 picks; every similarity rounded 6 dp at creation, ties → smaller
    * id). */
  private lazy val mmrSql: String = {
    val steps = (2 to 5).map { i =>
      s"""r$i AS (SELECT c.n_id, c.e, c.cosq,
         |  (SELECT max(${cosSql("c.e", "s.e")}) FROM sel${i - 1} s) AS ms
         |  FROM cand c WHERE c.n_id NOT IN (SELECT n_id FROM sel${i - 1})),
         |s$i AS (SELECT CAST($i AS BIGINT) AS rnk, n_id, e,
         |  round(0.7 * cosq - (1.0 - 0.7) * ms, 6) AS score
         |  FROM r$i ORDER BY round(0.7 * cosq - (1.0 - 0.7) * ms, 6) DESC, n_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
       |c0 AS (SELECT vec_id AS n_id, embedding AS e,
       |  ${cosSql("embedding", "q_emb")} AS cosq
       |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
       |cand AS (SELECT n_id, e, cosq FROM c0 ORDER BY cosq DESC, n_id LIMIT 20),
       |s1 AS (SELECT CAST(1 AS BIGINT) AS rnk, n_id, e, round(0.7 * cosq, 6) AS score
       |       FROM cand ORDER BY round(0.7 * cosq, 6) DESC, n_id LIMIT 1),
       |sel1 AS (SELECT * FROM s1),
       |${steps.mkString(",\n")}
       |SELECT rnk, n_id, score FROM sel5""".stripMargin
  }

  /** Hilbert xy→d oracle: the [[graft.functions.HilbertIndex]] walk
    * unrolled as one CTE per level (31 levels, top bit down). The
    * reflection is the full-width flip (2^31-1 − v), exactly the
    * expression the native compute() uses. */
  private lazy val hilbertSql: String = {
    val order = 31
    val n1 = (1L << order) - 1L
    val steps = (1 to order).map { i =>
      val s = 1L << (order - i)
      val s2 = s * s
      s"""h$i AS (SELECT doc_id, xx, yy,
         |  d + $s2 * xor(3 * rx, ry) AS d,
         |  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $n1 - y ELSE y END) ELSE x END AS x,
         |  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $n1 - x ELSE x END) ELSE y END AS y
         |  FROM (SELECT doc_id, xx, yy, x, y, d,
         |    CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h${i - 1}))""".stripMargin
    }
    s"""WITH h0 AS (SELECT doc_id, n_chars AS xx, CAST(len($toks) AS BIGINT) AS yy,
       |  n_chars AS x, CAST(len($toks) AS BIGINT) AS y, CAST(0 AS BIGINT) AS d
       |  FROM documents),
       |${steps.mkString(",\n")}
       |SELECT doc_id, xx AS x, yy AS y, d AS hkey FROM h$order""".stripMargin
  }
}
