package graft

/** DuckDB oracle SQL — one entry per [[Queries]] key, same column
  * names/aliases, same deterministic ORDER BY, same arithmetic shapes
  * (integer-cents money, per-row rounding, string timestamps) so the
  * driver's hash compare is bit-stable. See Queries' determinism notes.
  */
object Oracles {

  import graft.functions.TweetFunctions

  /** Synthetic tweet-shaped columns shared by the q48-q51 oracles —
    * must mirror the derivations in Queries exactly. */
  private val LOC_SYNTH =
    """CASE WHEN doc_id % 8 = 0 THEN NULL
      |  WHEN doc_id % 8 = 1 THEN 'Unknown'
      |  WHEN doc_id % 8 = 2 THEN '#' || source
      |  WHEN doc_id % 8 = 3 THEN 'http://' || source
      |  WHEN doc_id % 8 = 4 THEN 'NY'
      |  WHEN doc_id % 8 = 5 THEN 'Rio'
      |  WHEN doc_id % 8 = 6 THEN 'Wallet City'
      |  ELSE source || ' city' END""".stripMargin

  private val STREAM_BLACKLIST_IN = TweetFunctions.StreamingLocationBlacklist
    .map(s => s"'$s'").mkString("(", ", ", ")")
  private val BATCH_KEYWORD_FILTERS = TweetFunctions.BatchLocationKeywords
    .map(k => s"AND NOT contains(lc, '$k')").mkString("\n")
  private val SPAM_REGEX = TweetFunctions.SpamKeywords
    .map(k => s"(?i)$k").mkString("|")
  private val BOT_REGEX = TweetFunctions.KnownBots
    .map(_.toLowerCase).mkString("|")

  /** Shared PQ trajectory CTEs (q161/q162): 1e-4 floor quantization,
    * 8 subspaces × 16-codeword one-iteration Lloyd codebooks, integer
    * codes + query sub-vectors on the 1e-6 grid. Ends with
    * `pq_codes` (vec_id, j, cent_id), `pq_cb1` (j, cent_id, cv), and
    * `pq_qs` (query_id, j, qv6). No leading WITH. */
  private val PQ_CTES =
    """pqv AS (SELECT vec_id, list_transform(
      |  CAST(embedding AS DOUBLE[]),
      |  x -> CAST(floor(x * 10000) AS BIGINT)) AS qv FROM embeddings),
      |pq_js AS (SELECT unnest(range(0, 8)) AS j),
      |pq_subs AS (SELECT vec_id, j,
      |  qv[CAST(j*8+1 AS INT):CAST(j*8+8 AS INT)] AS sv
      |  FROM pqv CROSS JOIN pq_js),
      |pq_cb0 AS (SELECT j, vec_id AS cent_id,
      |  list_transform(sv, x -> x * 100) AS cv
      |  FROM pq_subs WHERE vec_id < 16),
      |pq_a1 AS (SELECT vec_id, j, cent_id FROM (
      |  SELECT s.vec_id, s.j, c.cent_id, row_number() OVER (
      |    PARTITION BY s.vec_id, s.j ORDER BY
      |    list_sum(list_transform(range(1, 9), i ->
      |      (s.sv[CAST(i AS INT)]*100 - c.cv[CAST(i AS INT)])
      |      * (s.sv[CAST(i AS INT)]*100 - c.cv[CAST(i AS INT)]))),
      |    c.cent_id) AS rk
      |  FROM pq_subs s JOIN pq_cb0 c USING (j)) WHERE rk = 1),
      |pq_dims AS (SELECT a.j, a.cent_id, d.i AS pos,
      |  s.sv[CAST(d.i AS INT)] AS x
      |  FROM pq_a1 a JOIN pq_subs s
      |    ON s.vec_id = a.vec_id AND s.j = a.j
      |  CROSS JOIN (SELECT unnest(range(1, 9)) AS i) d),
      |pq_cm AS (SELECT j, cent_id, pos,
      |  CAST(round(CAST(sum(x) AS DOUBLE) * 100 / count(*)) AS BIGINT)
      |    AS c
      |  FROM pq_dims GROUP BY 1, 2, 3),
      |pq_cb1 AS (SELECT j, cent_id, list(c ORDER BY pos) AS cv
      |  FROM pq_cm GROUP BY 1, 2),
      |pq_codes AS (SELECT vec_id, j, cent_id FROM (
      |  SELECT s.vec_id, s.j, c.cent_id, row_number() OVER (
      |    PARTITION BY s.vec_id, s.j ORDER BY
      |    list_sum(list_transform(range(1, 9), i ->
      |      (s.sv[CAST(i AS INT)]*100 - c.cv[CAST(i AS INT)])
      |      * (s.sv[CAST(i AS INT)]*100 - c.cv[CAST(i AS INT)]))),
      |    c.cent_id) AS rk
      |  FROM pq_subs s JOIN pq_cb1 c USING (j)) WHERE rk = 1),
      |pq_qs AS (SELECT vec_id AS query_id, j,
      |  list_transform(sv, x -> x * 100) AS qv6
      |  FROM pq_subs WHERE vec_id < 8)""".stripMargin

  /** q41's IVF probe, shared verbatim with q134: the saved-index probe
    * must EQUAL the in-memory compose (same centroids vec_id%250=0,
    * queries vec_id<8, k=5, nprobe=2) — that equality IS the persisted
    * lifecycle's contract, so both keys carry one oracle. */
  private val IVF_PROBE_CTES =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cent AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id % 250 = 0),
      |assigned AS (SELECT vec_id AS neighbor_id, e AS cv, cent_id FROM (
      |SELECT v.vec_id, v.e, c.cent_id,
      |row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |  round(list_dot_product(v.e, c.ce)
      |   /(sqrt(list_dot_product(v.e, v.e))*sqrt(list_dot_product(c.ce, c.ce))), 6)
      |  DESC, c.cent_id) AS crank
      |FROM v CROSS JOIN cent c) WHERE crank = 1),
      |probed AS (SELECT vec_id AS query_id, e AS qv, cent_id FROM (
      |SELECT v.vec_id, v.e, c.cent_id,
      |row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |  round(list_dot_product(v.e, c.ce)
      |   /(sqrt(list_dot_product(v.e, v.e))*sqrt(list_dot_product(c.ce, c.ce))), 6)
      |  DESC, c.cent_id) AS crank
      |FROM v CROSS JOIN cent c WHERE v.vec_id < 8) WHERE crank <= 2)""".stripMargin

  private val IVF_PROBE_SQL =
    s"""$IVF_PROBE_CTES,
       |s AS (SELECT DISTINCT p.query_id, a.neighbor_id,
       |round(list_dot_product(p.qv, a.cv)
       | /(sqrt(list_dot_product(p.qv, p.qv))*sqrt(list_dot_product(a.cv, a.cv))), 4) AS sim
       |FROM probed p JOIN assigned a ON p.cent_id = a.cent_id
       |WHERE p.query_id <> a.neighbor_id)
       |SELECT query_id, "rank", neighbor_id, sim FROM (
       |SELECT query_id, neighbor_id, sim,
       |row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS "rank"
       |FROM s) WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin

  /** Portable tokenizer mirror of TextFunctions.tokens. */
  private val TOKS =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)"""

  // PII patterns interpolated from the single source of truth (they
  // live in the java.util.regex ∩ RE2 subset, so the same string runs
  // in both engines; SQL single-quoted strings pass `\` through).
  private val PII_EMAIL = graft.functions.TextFunctions.EmailPattern
  private val PII_URL = graft.functions.TextFunctions.UrlPattern
  private val PII_DIGITS = graft.functions.TextFunctions.LongDigitPattern

  /** Mirror of Queries.saltedPiiText — the deterministic PII salt.
    * Single-line: it is interpolated into stripMargin blocks, which
    * would otherwise eat the leading `|` of a line-initial `||`. */
  private val SALTED_PII =
    "text || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0 THEN ' see https://www.site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/page' ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' ref ' || lpad(CAST(doc_id AS VARCHAR), 8, '0') ELSE '' END"

  private def cents(x: String): String =
    s"CAST(sum(CAST(round(($x)*100) AS BIGINT)) AS DOUBLE)/100.0"
  private def centsAvg(x: String): String =
    s"round(${cents(x)}/count(*), 4)"

  /** Rolling-hash winnowing mirror (w=8, t=4, base 131, mod 2^31-1) of
    * `TextKernels.winnowFingerprints`, row-based: one row per codepoint,
    * window hash = sum of c*131^(7-j) mod M (every intermediate fits a
    * BIGINT), sliding 4-min, distinct per doc. Ends with CTE `fps`
    * (doc_id, fp); `d` (doc_id, text) stays visible for verification
    * joins. */
  private val WINNOW_CTES = {
    val M = 2147483647L
    val pows = Iterator.iterate(1L)(p => p * 131 % M).take(8).toSeq
    val pwVals = (0 until 8)
      .map(j => s"($j, CAST(${pows(7 - j)} AS BIGINT))").mkString(", ")
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |chars AS (SELECT doc_id, unnest(range(1, length(text)+1)) AS p, text FROM d),
       |c2 AS (SELECT doc_id, CAST(p AS INT) AS p,
       |  CAST(unicode(text[CAST(p AS INT)]) AS BIGINT) AS c FROM chars),
       |pw AS (SELECT * FROM (VALUES $pwVals) AS t(j, m)),
       |win AS (
       |  SELECT a.doc_id, a.p AS wp,
       |    CAST(sum((b.c * o.m) % 2147483647) % 2147483647 AS BIGINT) AS h
       |  FROM c2 a JOIN c2 b ON b.doc_id = a.doc_id AND b.p - a.p BETWEEN 0 AND 7
       |  JOIN pw o ON o.j = b.p - a.p
       |  GROUP BY a.doc_id, a.p HAVING count(*) = 8),
       |mins AS (
       |  SELECT doc_id, wp,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY wp
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    max(wp) OVER (PARTITION BY doc_id) AS mx
       |  FROM win),
       |fps AS (SELECT DISTINCT doc_id, fp FROM mins WHERE wp <= mx - 3)""".stripMargin
  }

  /** Shared shingle CTE body (word 3-grams, distinct, non-empty). */
  private val SHINGLE_CTES =
    s"""WITH tok AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |sh0 AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
       |    ELSE list_transform(range(1, len(tk)-1),
       |      i -> array_to_string(tk[i:i+2], ' ')) END) AS sh FROM tok),
       |ss AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh0 WHERE len(sh) > 0)
       |""".stripMargin

  /** q22's capped posting join over [[SHINGLE_CTES]]' `ss`: postings,
    * the stop-shingle cap (df <= 1000), the capped postings `fp` and
    * the candidate pairs `pairs` with their shared-shingle counts. */
  private def cappedPairCtes(fp: String, pairs: String): String =
    s"""post AS (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM ss),
       |keep AS (SELECT shingle FROM post GROUP BY shingle HAVING count(*) <= 1000),
       |$fp AS (SELECT p.doc_id, p.n_sh, p.shingle FROM post p JOIN keep k ON p.shingle = k.shingle),
       |$pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  a.n_sh AS na, b.n_sh AS nb, count(*) AS shared
       |FROM $fp a JOIN $fp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, 3, 4)""".stripMargin

  /** `jp`, the candidates of `pairs` with rounded jaccard >= 0.2, and
    * their symmetric edge list `edges`. */
  private def jaccardEdgeCtes(pairs: String): String =
    s"""jp AS (SELECT id_a, id_b FROM $pairs
       |  WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2),
       |${edgesCte("edges", "jp")}""".stripMargin

  /** The symmetric edge list `name` of the canonical (id_a < id_b) pair
    * CTE `pairs`; `m` is "" or " MATERIALIZED". */
  private def edgesCte(name: String, pairs: String, m: String = ""): String =
    s"""$name AS$m (SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION ALL SELECT id_b, id_a FROM $pairs)""".stripMargin

  /** Connected components of `edges` as a recursive closure (the query
    * needs WITH RECURSIVE): `lab` maps each node to its min reachable
    * id, the fixpoint label of Spark's min-label propagation. */
  private val CLOSURE_CTES =
    """reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.id),
      |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Shingles -> capped candidates (CTE `pairs`) -> jaccard edges ->
    * closure labels `lab`. */
  private def textClosureCtes(pairs: String): String =
    s"""${SHINGLE_CTES.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${cappedPairCtes("fpp", pairs)},
       |${jaccardEdgeCtes(pairs)},
       |$CLOSURE_CTES""".stripMargin

  /** The shared pair-mining + transitive-closure CTE chain the q109-
    * q113 pipeline oracles all start from: word-3-gram posting list →
    * stop-shingle cap → candidate pairs (`prs`) → jaccard ≥ 0.2 pairs
    * (`jp`) → symmetric edges (`edges`) → recursive min-reachable-id
    * labels (`lab`). Identical closures to the independent
    * q71/q85/q91/q93 oracles; unreferenced tail CTEs are inlined away
    * by DuckDB, so every stage pays only for what it reads. */
  private val PAIR_CLOSURE_CTES = textClosureCtes("prs")

  /** Per-cluster sizes over `lab` (q71/q81/q92). */
  private val CLUSTER_SIZES =
    """SELECT cluster_id, count(*) AS n_members, max(doc_id) AS max_member
      |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q71/q92: the text closure's cluster sizes. */
  private val TEXT_CLUSTERS_SQL =
    s"""${textClosureCtes("pairs")}
       |$CLUSTER_SIZES""".stripMargin

  /** Cluster sizes plus per-cluster edge counts over `lab` and the pair
    * CTE `pairs` (q110/q118). */
  private def clusterEdgeRollup(pairs: String): String =
    s"""sz AS (SELECT cluster_id, count(*) AS n_members,
       |  max(doc_id) AS max_member FROM lab GROUP BY cluster_id),
       |pc AS (SELECT l.cluster_id, count(*) AS n_pairs
       |  FROM $pairs p JOIN lab l ON p.id_a = l.doc_id GROUP BY 1)
       |SELECT sz.cluster_id, sz.n_members, sz.max_member, pc.n_pairs
       |FROM sz JOIN pc ON sz.cluster_id = pc.cluster_id
       |ORDER BY sz.cluster_id""".stripMargin

  /** q22's mined pair set (q109/q116). */
  private val PIPELINE_MINE_SQL =
    s"""${PAIR_CLOSURE_CTES}
       |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard
       |FROM prs
       |WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  /** q85's golden-record merge per closure cluster (q85/q111). */
  private val SURVIVOR_SQL =
    s"""${PAIR_CLOSURE_CTES}
       |SELECT lab.cluster_id, count(*) AS n_members,
       |CAST(max(length(documents.text)) AS BIGINT) AS best_text_len,
       |array_to_string(list_sort(list(DISTINCT documents.source)), ',')
       |  AS merged_sources
       |FROM lab JOIN documents ON lab.doc_id = documents.doc_id
       |GROUP BY lab.cluster_id ORDER BY lab.cluster_id""".stripMargin

  /** q91's drop ladder per (source, decision): exact dup -> near dup
    * (closure `lab`) -> quality < 0.62 -> keep (q91/q112). */
  private val CLEAN_EXPORT_SQL =
    s"""${PAIR_CLOSURE_CTES},
       |bse AS (SELECT doc_id, source,
       |  md5(array_to_string($TOKS, ' ')) AS fp,
       |  round((CASE WHEN len($TOKS)=0 THEN 0.0
       |    ELSE CAST(len(list_distinct($TOKS)) AS DOUBLE)/len($TOKS) END)*0.5
       |   + (1.0-(CASE WHEN len($TOKS)=0 THEN 0.0
       |    ELSE CAST(len(list_filter($TOKS, x -> list_contains(['the','a'], x))) AS DOUBLE)/len($TOKS) END))*0.3
       |   + least(CAST(len($TOKS) AS DOUBLE)/100.0, 1.0)*0.2, 4) AS q
       |FROM documents),
       |kf AS (SELECT fp, min(doc_id) AS keep_id FROM bse GROUP BY fp),
       |dec AS (SELECT b.source,
       |  CASE WHEN b.doc_id <> kf.keep_id THEN 'drop_exact_dup'
       |       WHEN lab.cluster_id IS NOT NULL
       |         AND lab.cluster_id <> b.doc_id THEN 'drop_near_dup'
       |       WHEN b.q < 0.62 THEN 'drop_low_quality'
       |       ELSE 'keep' END AS decision
       |FROM bse b JOIN kf ON b.fp = kf.fp
       |LEFT JOIN lab ON b.doc_id = lab.doc_id)
       |SELECT source, decision, count(*) AS n
       |FROM dec GROUP BY source, decision ORDER BY source, decision""".stripMargin

  /** q93's PageRank over `edges`, replayed move-for-move in integer
    * arithmetic: `//` (DuckDB floor div) == Spark `div` on the
    * non-negative values used here; sums CAST to BIGINT (DuckDB sum ->
    * HUGEINT) (q93/q113). */
  private val PAGERANK_SQL =
    """deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      |nn AS (SELECT count(*) AS n, 1000000000000 // count(*) AS base,
      |  (15 * (1000000000000 // count(*))) // 100 AS tele FROM deg),
      |r0 AS (SELECT src AS id, base AS r FROM deg, nn),
      |c1 AS (SELECT e.dst AS id, CAST(sum(r.r // dg.d) AS BIGINT) AS s
      |  FROM edges e JOIN deg dg ON e.src = dg.src JOIN r0 r ON r.id = e.src GROUP BY e.dst),
      |r1 AS (SELECT d.src AS id, CAST(tele + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
      |  FROM deg d CROSS JOIN nn LEFT JOIN c1 c ON c.id = d.src),
      |c2 AS (SELECT e.dst AS id, CAST(sum(r.r // dg.d) AS BIGINT) AS s
      |  FROM edges e JOIN deg dg ON e.src = dg.src JOIN r1 r ON r.id = e.src GROUP BY e.dst),
      |r2 AS (SELECT d.src AS id, CAST(tele + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
      |  FROM deg d CROSS JOIN nn LEFT JOIN c2 c ON c.id = d.src),
      |c3 AS (SELECT e.dst AS id, CAST(sum(r.r // dg.d) AS BIGINT) AS s
      |  FROM edges e JOIN deg dg ON e.src = dg.src JOIN r2 r ON r.id = e.src GROUP BY e.dst),
      |r3 AS (SELECT d.src AS id, CAST(tele + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
      |  FROM deg d CROSS JOIN nn LEFT JOIN c3 c ON c.id = d.src)
      |SELECT r3.id AS doc_id, d.d AS out_deg, r3.r AS rank_fp
      |FROM r3 JOIN deg d ON d.src = r3.id
      |ORDER BY rank_fp DESC, doc_id""".stripMargin

  /** The near-dup embedding graph's 2-probe IVF assignment (q54's
    * mining): vectors `v`, the vec_id % 100 centroids `cent` and each
    * vector's 2 nearest centroids `assigned` (6-dp cosine, centroid-id
    * tie-break). `m` is "" or " MATERIALIZED". */
  private def embedAssignCtes(m: String): String =
    s"""v AS$m (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cent AS$m (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id % 100 = 0),
       |assigned AS$m (SELECT vec_id, e, cent_id FROM (
       |SELECT v.vec_id, v.e, c.cent_id,
       |row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |  round(list_dot_product(v.e, c.ce)
       |   /(sqrt(list_dot_product(v.e, v.e))*sqrt(list_dot_product(c.ce, c.ce))), 6)
       |  DESC, c.cent_id) AS crank
       |FROM v CROSS JOIN cent c) WHERE crank <= 2)""".stripMargin

  /** [[embedAssignCtes]] plus the graph's canonical edges `pairs`:
    * same-bucket pairs with 4-dp cosine >= `t`. */
  private def embedGraphCtes(pairs: String, t: String, m: String = ""): String =
    s"""${embedAssignCtes(m)},
       |$pairs AS$m (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM assigned a JOIN assigned b
       |  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.e, b.e)
       |   /(sqrt(list_dot_product(a.e, a.e))*sqrt(list_dot_product(b.e, b.e))), 4) >= $t)""".stripMargin

  /** q102's wedge + closing-edge join over the canonical pairs `jp`:
    * each triangle once. */
  private val TRIANGLES_CTE =
    """tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      |  FROM jp e1 JOIN jp e2 ON e1.id_b = e2.id_a
      |  JOIN jp e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)""".stripMargin

  /** q31's 30-minute sessionization: `g` flags a new session when the
    * gap to the user's previous event exceeds 1800 s, `s` numbers the
    * sessions (`sid`) by a running sum. `gCols`/`sCols` lead the two
    * select lists; `sEnd` closes `s`. No leading WITH. */
  private def sessionCtes(gCols: String, sCols: String,
      sEnd: String = " FROM g)"): String =
    s"""g AS (SELECT $gCols
       |CASE WHEN lag(ts) OVER w IS NULL
       |  OR date_diff('second', lag(ts) OVER w, ts) > 1800
       |  THEN 1 ELSE 0 END AS new_session
       |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (SELECT $sCols
       |sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |  ROWS UNBOUNDED PRECEDING) AS sid$sEnd""".stripMargin

  /** [[sessionCtes]] plus `sess`, each session's [st, en] epoch-second
    * span (q207/q209). */
  private val SESSION_SPAN_CTES =
    s"""${sessionCtes("user_id, ts, event_id,", "user_id, ts,")},
       |sess AS (SELECT user_id, sid,
       |  CAST(min(floor(epoch(ts))) AS BIGINT) AS st,
       |  CAST(max(floor(epoch(ts))) AS BIGINT) AS en
       |  FROM s GROUP BY 1, 2)""".stripMargin

  /** q123's retention sweep over the threshold-expanded pair set `e`
    * (threshold_bp, id_a, id_b): pairs, docs touched, keep-lowest-id
    * drops and retention against the row count of `corpus`. */
  private def retentionSweep(corpus: String): String =
    s"""a1 AS (SELECT threshold_bp, count(*) AS n_pairs,
       |  count(DISTINCT id_b) AS n_dropped FROM e GROUP BY 1),
       |ex AS (SELECT threshold_bp, id_a AS did FROM e
       |  UNION ALL SELECT threshold_bp, id_b FROM e),
       |a2 AS (SELECT threshold_bp, count(DISTINCT did) AS n_docs_touched
       |  FROM ex GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM $corpus)
       |SELECT a1.threshold_bp, a1.n_pairs, a2.n_docs_touched,
       |a1.n_dropped,
       |round(1.0e0 - CAST(a1.n_dropped AS DOUBLE)/n_total, 4) AS retention
       |FROM a1 JOIN a2 USING (threshold_bp) CROSS JOIN tot
       |ORDER BY threshold_bp""".stripMargin

  /** One deterministic k-means assignment as CTE `out`: each row of
    * `s` to its nearest centroid in `cents` by 6-dp-rounded cosine
    * with centroid-id tie-break; `rank` names the rank column and the
    * rows kept (e.g. "rk = 1", "crank <= 2"). */
  private def kmAssignCte(out: String, cols: String, cents: String,
      s: String = "v", rank: String = "rk = 1", where: String = ""): String =
    s"""$out AS (SELECT $cols FROM (
       |  SELECT $s.id, $s.vv, c.cent_id,
       |  row_number() OVER (PARTITION BY $s.id ORDER BY
       |    round(list_dot_product($s.vv, c.cv)
       |     /(sqrt(list_dot_product($s.vv, $s.vv))*sqrt(list_dot_product(c.cv, c.cv))), 6)
       |    DESC, c.cent_id) AS ${rank.takeWhile(_ != ' ')}
       |  FROM $s CROSS JOIN $cents c$where) WHERE $rank)""".stripMargin

  /** The fixed-point mean `m<i>` of assignment CTE `from` (1e-6 long
    * sums, 64 = fixture embedding dim) and, with `cent`, the centroid
    * list `c<i>`. */
  private def kmMeanCtes(i: Int, from: String, cent: Boolean = true): String =
    s"""m$i AS (SELECT cent_id, CAST(p.pos AS INT) AS pos,
       |  CAST(sum(CAST(round(vv[CAST(p.pos AS INT)+1]*1e6) AS BIGINT)) AS DOUBLE)/1e6/count(*) AS m
       |  FROM $from CROSS JOIN (SELECT unnest(range(64)) AS pos) p
       |  GROUP BY cent_id, p.pos)""".stripMargin +
      (if (cent) s",\nc$i AS (SELECT cent_id, list(m ORDER BY pos) AS cv FROM m$i GROUP BY cent_id)" else "")

  /** q55's two-iteration k=4 fit over `v`, through `m2` (q55/q196). */
  private val KMEANS_FIT2_CTES =
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |c0 AS (SELECT id AS cent_id, vv AS cv FROM v ORDER BY id LIMIT 4),
       |${kmAssignCte("a1", "id, vv, cent_id", "c0")},
       |${kmMeanCtes(1, "a1")},
       |${kmAssignCte("a2", "id, vv, cent_id", "c1")},
       |${kmMeanCtes(2, "a2", cent = false)}""".stripMargin

  /** q131's banded-LSH replay: integer Rademacher signatures of `nBits`
    * hyperplanes (bit i of vec = sign of sum_d sgn(i,d)*round(e[d]*1e6),
    * sgn from the Wang-hash avalanche mix, see
    * SimilarityJoinKernels.hyperplaneSign), `bands` bands of `width`
    * bits, candidates = band-bucket collisions, exact raw-cosine gate
    * `t` (q131/q224/q225). */
  private def bandedSimjoinSql(nBits: Int, width: Int, bands: Int,
      t: String): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |qv AS (SELECT vec_id, e,
       |  list_transform(e, x -> CAST(round(x*1e6) AS BIGINT)) AS q FROM v),
       |sgn AS (SELECT bit, dim,
       |  CASE WHEN ((xor(x4, x4 >> 15) >> 16) & 1) = 1
       |    THEN 1 ELSE -1 END AS s
       |FROM (SELECT bit, dim,
       |    (xor(x2, x2 >> 4) * 668265261) % 4294967296 AS x4
       |  FROM (SELECT bit, dim,
       |      (xor(xor(s0, 61), s0 >> 16) * 9) % 4294967296 AS x2
       |    FROM (SELECT b.i AS bit, d.d AS dim, b.i*1000003 + d.d AS s0
       |      FROM (SELECT unnest(range($nBits)) AS i) b
       |      CROSS JOIN (SELECT unnest(range(64)) AS d) d)))),
       |bit AS (SELECT vec_id, g.bit AS bit,
       |  CASE WHEN sum(g.s * q[CAST(g.dim+1 AS INT)]) > 0
       |  THEN '1' ELSE '0' END AS bv
       |FROM qv CROSS JOIN sgn g
       |GROUP BY vec_id, g.bit),
       |sig AS (SELECT vec_id, string_agg(bv, '' ORDER BY bit) AS bits
       |FROM bit GROUP BY vec_id),
       |banded AS (SELECT vec_id, b.b AS band,
       |  substring(bits, CAST(b.b*$width+1 AS INT), $width) AS bucket
       |FROM sig CROSS JOIN (SELECT unnest(range($bands)) AS b) b),
       |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
       |FROM banded l JOIN banded r
       |  ON l.band = r.band AND l.bucket = r.bucket
       |  AND l.vec_id < r.vec_id),
       |s AS (SELECT c.id_a, c.id_b,
       |  list_dot_product(a.e, b.e)
       |   /(sqrt(list_dot_product(a.e, a.e))*sqrt(list_dot_product(b.e, b.e)))
       |  AS sim
       |FROM cand c JOIN v a ON a.vec_id = c.id_a
       |  JOIN v b ON b.vec_id = c.id_b)
       |SELECT id_a, id_b, round(sim, 4) AS sim FROM s
       |WHERE sim >= $t ORDER BY id_a, id_b""".stripMargin

  /** The suite-drift versions: baseline `v1` (even doc_ids) and next
    * `v2` (odd), no leading WITH (q219/q222/q223); [[DRIFT_CTES]] adds
    * the n_chars-squashed copy `v2d`. */
  private val DOC_HALVES =
    """v1 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |v2 AS (SELECT * FROM documents WHERE doc_id % 2 = 1)""".stripMargin
  private val DRIFT_CTES =
    s"""$DOC_HALVES,
       |v2d AS (SELECT source, text, lang, n_chars // 3 AS n_chars
       |  FROM v2)""".stripMargin

  /** q222's baseline histogram edges: exact nearest-rank edges of `v1`'s
    * n_chars over its distinct-value cumulative counts (`nv` from `b`),
    * then the 8-bin `spine`. */
  private val HIST_EDGE_CTES =
    """cnts AS (SELECT CAST(n_chars AS DOUBLE) AS v,
      |  CAST(count(*) AS BIGINT) AS cnt FROM v1
      |  WHERE n_chars IS NOT NULL GROUP BY 1),
      |cum AS (SELECT v, cnt,
      |  sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM cnts),
      |rk AS (SELECT i, (i * nv + 7) // 8 AS r
      |  FROM (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS i), b),
      |edges AS (SELECT i, min(v) AS e FROM rk JOIN cum
      |  ON rk.r > cum.cum - cum.cnt AND rk.r <= cum.cum GROUP BY i),
      |spine AS (SELECT unnest(range(8)) AS bin)""".stripMargin

  /** Per-bin counts `c` of `src`'s n_chars against `edges`, on the
    * full `spine`, as CTE `out`. */
  private def binCountCte(out: String, c: String, src: String): String =
    s"""$out AS (SELECT spine.bin,
       |  CAST(coalesce(x.$c, 0) AS BIGINT) AS $c FROM spine
       |  LEFT JOIN (SELECT (SELECT count(*) FROM edges
       |      WHERE CAST(t.n_chars AS DOUBLE) >= e) AS bin,
       |      CAST(count(*) AS BIGINT) AS $c
       |    FROM $src t WHERE n_chars IS NOT NULL GROUP BY 1) x
       |  ON spine.bin = x.bin)""".stripMargin

  /** The constraint-report head: per `key`, each constraint's metric
    * against its threshold under its `op`. */
  private def verdictHead(key: String): String =
    s"""SELECT $key, constraint_type, column_name, metric, threshold,
       |  CASE WHEN op = '>=' THEN metric >= threshold
       |    ELSE metric <= threshold END AS passed
       |FROM (""".stripMargin

  /** q160's BM25 CTEs: postings, df, lengths and corpus stats, the five
    * fixed queries, and per (query, doc) `score_fp`, the sum of 1e-6
    * fixed-point per-term scores (q160/q212). */
  private val BM25_CTES =
    s"""WITH toks AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
       |post AS (SELECT term, doc_id, count(*) AS tf
       |  FROM toks GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |  CAST(sum(len) AS BIGINT) AS total_len FROM lens),
       |qs AS (SELECT * FROM (VALUES (1, 'hash join'),
       |  (2, 'window agg sort'), (3, 'spark stream batch'),
       |  (4, 'vector query'), (5, 'slow scan filter'))
       |  AS t(query_id, qtext)),
       |qt AS (SELECT query_id, unnest(list_filter(
       |  string_split_regex(lower(trim(qtext)), '\\s+'),
       |  x -> length(x) > 0)) AS term FROM qs),
       |sc AS (SELECT q.query_id, p.doc_id,
       |  ln(1.0e0 + (s.n_docs - d.df + 0.5e0) / (d.df + 0.5e0)) AS idf,
       |  p.tf * 2.2e0 / (p.tf + 1.2e0 * (0.25e0
       |    + 0.75e0 * l.len * s.n_docs / s.total_len)) AS sat
       |  FROM post p JOIN qt q ON q.term = p.term
       |  JOIN dft d ON d.term = p.term
       |  JOIN lens l ON l.doc_id = p.doc_id
       |  CROSS JOIN stats s),
       |agg AS (SELECT query_id, doc_id,
       |  CAST(sum(CAST(round(idf * sat * 1000000.0e0) AS BIGINT))
       |    AS BIGINT) AS score_fp
       |  FROM sc GROUP BY 1, 2)""".stripMargin

  /** The purchase -> latest-prior-signup as-of join (q26, and q74/q76,
    * whose Spark operators differ but whose semantics must not). */
  private val ASOF_SQL =
    """SELECT p.event_id, p.user_id, s.event_id AS asof_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  /** Per-customer spend in integer cents, `pc` (q198/q203). */
  private val CUSTOMER_SPEND_CTE =
    """pc AS (SELECT o_custkey,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |    AS BIGINT) AS x
      |  FROM orders GROUP BY 1)""".stripMargin

  /** The portable md5-HLL register chain (q107): per (`key`, bucket),
    * the register rank `r` of each hash in `h`'s column `h`, via CTEs
    * `x`, `z`, `r`. */
  private def hllRankCtes(key: String, h: String, x: String, z: String,
      r: String): String =
    s"""$x AS (SELECT $key,
       |  (strpos('0123456789abcdef', h[1]) - 1) * 16
       |    + strpos('0123456789abcdef', h[2]) - 1 AS bucket,
       |  substring(h, 3, 12) AS h12 FROM $h),
       |$z AS (SELECT $key, bucket, h12,
       |  length(regexp_extract(h12, '^(0*)', 1)) AS zc FROM $x),
       |$r AS (SELECT $key, bucket,
       |  CASE WHEN zc = 12 THEN 49 ELSE zc * 4
       |    + CASE substring(h12, zc + 1, 1) WHEN '1' THEN 3
       |      WHEN '2' THEN 2 WHEN '3' THEN 2 WHEN '4' THEN 1
       |      WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
       |      ELSE 0 END + 1 END AS r FROM $z)""".stripMargin

  /** The LinearCounting-corrected HLL estimate `m<i>` per source of the
    * register CTE `g<i>` (q220). */
  private def hllEstimateCtes(i: Int): String =
    s"""s$i AS (SELECT source,
       |  CAST(sum(1::BIGINT << (49 - r)) AS BIGINT) AS s_used,
       |  count(*) AS n_buckets FROM g$i GROUP BY 1),
       |e$i AS (SELECT source, 256 - n_buckets AS v,
       |  0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
       |    / (s_used + (256 - n_buckets) * 562949953421312::BIGINT)
       |    AS raw FROM s$i),
       |m$i AS (SELECT source, round(CASE WHEN v > 0 AND raw <= 640.0e0
       |  THEN 256.0e0 * ln(256.0e0 / v) ELSE raw END, 2) AS est
       |  FROM e$i)""".stripMargin

  /** q19's language-guess scores: per-language keyword hits over `toks`. */
  private val LANG_SCORES =
    """len(list_filter(toks, x -> list_contains(['the','a','fast','slow'], x))) AS s_en,
      |len(list_filter(toks, x -> list_contains(['key','order','table'], x))) AS s_es,
      |len(list_filter(toks, x -> list_contains(['scan','merge','part'], x))) AS s_de,
      |len(list_filter(toks, x -> list_contains(['window','small','hash'], x))) AS s_fr,
      |len(list_filter(toks, x -> list_contains(['join','batch','stream'], x))) AS s_zh""".stripMargin

  /** q19's language guess: the arg-max score, ties to the earlier lang. */
  private val LANG_GUESS =
    """CASE WHEN greatest(s_en,s_es,s_de,s_fr,s_zh)=0 THEN 'unknown'
      | WHEN s_en>=s_es AND s_en>=s_de AND s_en>=s_fr AND s_en>=s_zh THEN 'en'
      | WHEN s_es>=s_de AND s_es>=s_fr AND s_es>=s_zh THEN 'es'
      | WHEN s_de>=s_fr AND s_de>=s_zh THEN 'de'
      | WHEN s_fr>=s_zh THEN 'fr' ELSE 'zh' END AS guess""".stripMargin

  /** q149's cross-doc 4-gram coverage: tokens `tok`, positional grams,
    * grams seen in two docs (`dg`) and the covered positions `cov`. */
  private val GRAM4_COVER_CTES =
    s"""WITH tok AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |gr0 AS (SELECT doc_id,
       |  CASE WHEN len(tk) < 4 THEN []::BIGINT[]
       |    ELSE range(1, len(tk)-2) END AS ps,
       |  CASE WHEN len(tk) < 4 THEN []::VARCHAR[]
       |    ELSE list_transform(range(1, len(tk)-2),
       |      i -> array_to_string(tk[i:i+3], ' ')) END AS gs
       |  FROM tok),
       |gr AS (SELECT doc_id, unnest(ps) AS pos, unnest(gs) AS g FROM gr0),
       |dg AS (SELECT g FROM gr GROUP BY g HAVING min(doc_id) <> max(doc_id)),
       |cov AS (SELECT DISTINCT gr.doc_id, gr.pos + o.o AS cp
       |  FROM gr JOIN dg USING (g)
       |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS o) o)""".stripMargin

  /** q153's removal tail over covered positions `cov`: the kept tokens
    * of `src`'s docs re-join in order and fingerprint as md5. */
  private def spanRemovalSql(src: String): String =
    s"""tp AS (SELECT doc_id, unnest(range(1, len(tk)+1)) AS cp,
       |  unnest(tk) AS tok FROM $src),
       |kept AS (SELECT t.doc_id, t.cp, t.tok FROM tp t
       |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.cp = t.cp
       |  WHERE c.doc_id IS NULL),
       |cl AS (SELECT doc_id, count(*) AS kept_tokens,
       |  md5(string_agg(tok, ' ' ORDER BY cp)) AS cleaned_fp
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |CAST(len(tk) - coalesce(kept_tokens, 0) AS BIGINT)
       |  AS removed_tokens,
       |coalesce(cleaned_fp, md5('')) AS cleaned_fp
       |FROM $src t LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q23's MinHash signatures `sig` over `ss`: 8 md5-seeded mins. */
  private val MINHASH_SIG_CTE =
    """sig AS (SELECT doc_id, sh, n_sh,
      |  list_transform(range(0, 8), s -> list_aggregate(
      |    list_transform(sh, x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min')) AS sig
      |FROM ss)""".stripMargin

  /** q23's LSH pairs replayed (4 bands x 2 rows, rounded jaccard >= 0.2)
    * as CTE `lp`; `m` is "" or " MATERIALIZED" (q192/q200). */
  private def lshPairCtes(m: String): String =
    s"""$MINHASH_SIG_CTE,
       |banded AS (SELECT s.doc_id, t.b AS band,
       |  md5(array_to_string(s.sig[t.b*2+1:t.b*2+2], '#')) AS bucket
       |FROM sig s CROSS JOIN (SELECT unnest(range(4)) AS b) t),
       |lc AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |FROM banded l JOIN banded r ON l.band = r.band
       |  AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       |lp AS$m (SELECT c.id_a, c.id_b FROM lc c
       |  JOIN ss a ON c.id_a = a.doc_id JOIN ss b ON c.id_b = b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh))), 4)
       |    >= 0.2)""".stripMargin

  /** The uncapped posting join: every same-shingle doc pair with its
    * shared count (q135/q136). */
  private val UNCAPPED_PAIR_CTES =
    s"""${SHINGLE_CTES},
       |post AS (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM ss),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  a.n_sh AS na, b.n_sh AS nb, count(*) AS shared
       |FROM post a JOIN post b ON a.shingle = b.shingle
       |  AND a.doc_id < b.doc_id
       |GROUP BY 1, 2, 3, 4)""".stripMargin

  /** q95's token-weighted quality `q` per doc with its `source` and
    * token count `ws` (q95/q96). */
  private val SOURCE_QUALITY_CTES =
    s"""WITH d AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
       |m AS (SELECT doc_id, source, len(toks) AS n,
       |  CAST(len(list_filter(toks, x -> list_contains(['the','a'], x))) AS DOUBLE) AS stop_hits,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) AS uniq_cnt FROM d),
       |q AS (SELECT doc_id, source, n AS ws,
       |  round((CASE WHEN n=0 THEN 0.0 ELSE uniq_cnt/n END)*0.5
       |   + (1.0-(CASE WHEN n=0 THEN 0.0 ELSE stop_hits/n END))*0.3
       |   + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4) AS q FROM m)""".stripMargin


  val all: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |${cents("l_extendedprice")} AS sum_base_price,
         |${cents("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
         |round(avg(l_quantity), 4) AS avg_qty,
         |${centsAvg("l_extendedprice")} AS avg_price,
         |count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_revenue_by_segment" ->
      s"""SELECT c_mktsegment,
         |${cents("l_extendedprice*(1-l_discount)")} AS revenue,
         |count(*) AS n_lines,
         |count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q03_supplier_geo" ->
      s"""SELECT r_name, n_name, count(*) AS n_suppliers,
         |${cents("s_acctbal")} AS total_acctbal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q04_top_orders" ->
      """SELECT o_orderpriority, "rank", o_orderkey, o_totalprice FROM (
        |SELECT o_orderpriority, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey) AS "rank"
        |FROM orders) WHERE "rank" <= 5
        |ORDER BY o_orderpriority, "rank"""".stripMargin,

    "q05_event_pivot" ->
      """SELECT user_id,
        |CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS "click",
        |CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS "error",
        |CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS "purchase",
        |CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS "signup",
        |CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS "view",
        |count(*) AS total,
        |round(CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT)*100.0/count(*), 2) AS purchase_pct
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q06_user_behavior" ->
      s"""SELECT user_id, count(*) AS n_events,
         |CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |${cents("CASE WHEN event_type='purchase' THEN value ELSE 0.0 END")} AS purchase_value,
         |count(DISTINCT event_type) AS n_types,
         |round(CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT)*100.0/count(*), 2) AS error_rate
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q07_event_type_stats" ->
      s"""SELECT event_type, count(*) AS n,
         |count(DISTINCT user_id) AS n_users,
         |${centsAvg("value")} AS avg_value,
         |min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q08_hourly" ->
      """SELECT CAST(hour(ts) AS INT) AS hour_of_day, event_type,
        |count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q09_weekday" ->
      s"""SELECT dayname(ts) AS day_name, count(*) AS n,
         |count(DISTINCT user_id) AS n_users,
         |${cents("value")} AS total_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_heatmap" ->
      """SELECT dayname(ts) AS day_name, CAST(hour(ts) AS INT) AS hour_of_day,
        |count(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_tumbling" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         |event_type, count(*) AS n,
         |${cents("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q12_sliding" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
        |  - t.k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS window_start,
        |event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q13_weekend" ->
      s"""SELECT CASE WHEN dayname(ts) IN ('Saturday', 'Sunday')
         |  THEN 'weekend' ELSE 'weekday' END AS day_kind,
         |event_type, count(*) AS n,
         |${centsAvg("value")} AS avg_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q14_union_funnel" ->
      s"""WITH u AS (
         |SELECT strftime(ts, '%Y-%m-%d') AS "day", 'signup' AS kind, value
         |FROM events WHERE event_type = 'signup'
         |UNION ALL
         |SELECT strftime(ts, '%Y-%m-%d') AS "day", 'purchase' AS kind, value
         |FROM events WHERE event_type = 'purchase')
         |SELECT "day", kind, count(*) AS n,
         |${cents("value")} AS total_value
         |FROM u GROUP BY "day", kind ORDER BY "day", kind""".stripMargin,

    "q15_top_users_pct" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
        |FROM events GROUP BY 1, 2)
        |SELECT event_type, "rank", user_id, cnt, pct_of_total FROM (
        |SELECT event_type, user_id, cnt,
        |row_number() OVER (PARTITION BY event_type
        |  ORDER BY cnt DESC, user_id) AS "rank",
        |round(cnt*100.0/sum(cnt) OVER (PARTITION BY event_type), 2) AS pct_of_total
        |FROM c) WHERE "rank" <= 5 ORDER BY event_type, "rank"""".stripMargin,

    "q16_event_summary" ->
      """SELECT event_type, count(*) AS n,
        |count(DISTINCT user_id) AS n_users,
        |count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
        |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        |strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_first_event" ->
      """SELECT user_id, event_id AS first_event_id,
        |event_type AS first_type, value AS first_value FROM (
        |SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q18_top_tokens" ->
      s"""WITH tok AS (SELECT unnest($TOKS) AS token FROM documents)
         |SELECT token, count(*) AS cnt FROM tok GROUP BY token
         |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "q19_lang_quality" ->
      s"""WITH d AS (SELECT lang, $TOKS AS toks FROM documents),
         |m AS (SELECT lang, len(toks) AS n,
         |CAST(len(list_filter(toks, x -> list_contains(['the','a'], x))) AS DOUBLE) AS stop_hits,
         |CAST(len(list_distinct(toks)) AS DOUBLE) AS uniq_cnt,
         |$LANG_SCORES
         |FROM d),
         |q AS (SELECT lang, n,
         |round((CASE WHEN n=0 THEN 0.0 ELSE uniq_cnt/n END)*0.5
         | + (1.0-(CASE WHEN n=0 THEN 0.0 ELSE stop_hits/n END))*0.3
         | + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4) AS quality,
         |$LANG_GUESS
         |FROM m)
         |SELECT lang, count(*) AS n_docs,
         |round(avg(quality), 4) AS avg_quality,
         |CAST(sum(CASE WHEN guess = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_guess_match,
         |round(avg(n), 2) AS avg_tokens
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q20_sentiment" ->
      s"""WITH d AS (SELECT $TOKS AS toks FROM documents),
         |s AS (SELECT CAST(
         | len(list_filter(toks, x -> list_contains(['fast','big','spark'], x)))*2
         | - len(list_filter(toks, x -> list_contains(['slow','small','dup'], x)))*2 AS INT) AS score FROM d),
         |c AS (SELECT score, CASE WHEN score >= 4 THEN 'strong_positive'
         | WHEN score > 0 THEN 'positive' WHEN score <= -4 THEN 'strong_negative'
         | WHEN score < 0 THEN 'negative' ELSE 'neutral' END AS sentiment_type FROM s)
         |SELECT sentiment_type, count(*) AS n, round(avg(score), 4) AS avg_score,
         |min(score) AS min_score, max(score) AS max_score
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_dedup_exact" -> EXACT_DEDUP_SQL,

    // q146: incremental maintenance must be indistinguishable from a
    // full rebuild — the oracle IS q21's whole-corpus re-dedup.
    "q146_incremental_exact_dedup" -> EXACT_DEDUP_SQL,

    "q22_jaccard_pairs" ->
      s"""${SHINGLE_CTES},
         |${cappedPairCtes("fp", "pairs")}
         |SELECT id_a, id_b, shared, jaccard FROM (
         |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
         |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard FROM pairs)
         |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    // q185: the oracle is the UNCAPPED all-pairs definition — a green
    // row proves prefix filtering loses nothing. The threshold is the
    // UNROUNDED jaccard in exact integers (shared·10⁴ ≥ t_bp·|A∪B|),
    // matching the operator's emit predicate — a rounded comparison
    // here would keep pairs in [t-5e-5, t) that the prefix/positional
    // filters are allowed to prune (rounded j stays display-only).
    "q185_prefix_pairs" ->
      s"""${SHINGLE_CTES},
         |post AS (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM ss),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.n_sh AS na, b.n_sh AS nb, count(*) AS shared
         |FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
         |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard FROM pairs
         |WHERE shared * 10000 >= 6000 * (na + nb - shared)
         |ORDER BY id_a, id_b""".stripMargin,

    "q23_minhash_lsh" ->
      s"""${SHINGLE_CTES},
         |$MINHASH_SIG_CTE,
         |banded AS (SELECT s.doc_id, s.n_sh, t.b AS band,
         |  md5(array_to_string(s.sig[t.b*2+1:t.b*2+2], '#')) AS bucket
         |FROM sig s CROSS JOIN (SELECT unnest(range(4)) AS b) t),
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
         |  AND l.doc_id < r.doc_id),
         |j AS (SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS shared,
         |  a.n_sh AS na, b.n_sh AS nb
         |FROM cand c JOIN ss a ON c.id_a = a.doc_id JOIN ss b ON c.id_b = b.doc_id)
         |SELECT id_a, id_b, shared,
         |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard
         |FROM j WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,

    "q24_source_profile" ->
      s"""WITH d AS (SELECT source, n_chars,
         |md5(array_to_string($TOKS, ' ')) AS fp FROM documents)
         |SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct,
         |round(avg(n_chars), 2) AS avg_chars,
         |min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q25_ann_bruteforce" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id < 8),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |round(list_dot_product(q.e, c.e)
        |  /(sqrt(list_dot_product(q.e, q.e))*sqrt(list_dot_product(c.e, c.e))), 4) AS sim
        |FROM q CROSS JOIN v c WHERE q.vec_id <> c.vec_id)
        |SELECT query_id, "rank", neighbor_id, sim FROM (
        |SELECT query_id, neighbor_id, sim,
        |row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS "rank"
        |FROM s) WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    "q26_asof_join" -> ASOF_SQL,

    "q27_extract_terms" ->
      """WITH m AS (SELECT doc_id,
        |unnest(regexp_extract_all(lower(text), '\bs[a-z]+')) AS term
        |FROM documents)
        |SELECT term, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
        |FROM m GROUP BY term ORDER BY term""".stripMargin,

    // q28_approx_distinct intentionally has no oracle: HLL++ sketches
    // are engine-specific (driver falls back to the rows-only check).

    "q29_alert_union" ->
      """WITH u AS (
        |SELECT event_id, user_id, 'error' AS alert_type,
        |  'medium' AS priority, CAST(NULL AS DOUBLE) AS value
        |FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, user_id, 'high_value' AS alert_type,
        |  CASE WHEN value >= 300.0 THEN 'critical'
        |    WHEN value >= 225.0 THEN 'high' ELSE 'medium' END AS priority,
        |  value
        |FROM events WHERE event_type = 'purchase' AND value >= 150.0)
        |SELECT * FROM u ORDER BY event_id""".stripMargin,

    "q30_cube" ->
      s"""SELECT coalesce(event_type, 'ALL') AS event_type,
         |coalesce(day_name, 'ALL') AS day_name, count(*) AS n,
         |${cents("value")} AS total_value
         |FROM (SELECT event_type, dayname(ts) AS day_name, value FROM events)
         |GROUP BY CUBE(event_type, day_name)
         |ORDER BY 1, 2""".stripMargin,

    "q31_sessions" ->
      s"""WITH ${sessionCtes("user_id, ts, event_id,", "user_id,", "\nFROM g)")},
         |per_sess AS (SELECT user_id, sid, count(*) AS sess_events
         |FROM s GROUP BY user_id, sid)
         |SELECT user_id, count(*) AS n_sessions,
         |CAST(sum(sess_events) AS BIGINT) AS n_events,
         |max(sess_events) AS max_session_events
         |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q32_range_join" ->
      """SELECT p.event_id, p.user_id, count(v.vts) AS n_prior_views
        |FROM (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id AS v_user, ts AS vts FROM events
        |  WHERE event_type = 'view') v
        |ON p.user_id = v.v_user AND v.vts >= p.ts - INTERVAL 1 HOUR
        |  AND v.vts < p.ts
        |GROUP BY p.event_id, p.user_id ORDER BY p.event_id""".stripMargin,

    "q33_user_gaps" ->
      """WITH g AS (SELECT user_id,
        |date_diff('second', lag(ts) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id), ts) AS gap_s
        |FROM events)
        |SELECT user_id, count(gap_s) AS n_gaps,
        |round(avg(gap_s), 2) AS avg_gap_s, max(gap_s) AS max_gap_s
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q34_value_histogram" ->
      """SELECT bucket, n, round(n*100.0/sum(n) OVER (), 2) AS pct FROM (
        |SELECT CAST(floor(value/50.0) AS INT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1) ORDER BY bucket""".stripMargin,

    "q35_props_extract" ->
      """WITH k AS (SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
        |  AS INT) AS k FROM events)
        |SELECT k % 10 AS k_bucket, count(*) AS n, round(avg(k), 4) AS avg_k,
        |min(k) AS min_k, max(k) AS max_k
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // Text bytes are ASCII, so char-indexed substring over VARCHAR
    // equals the engine's byte-indexed substring over BINARY.
    "q36_frame_profile" ->
      """WITH per AS (SELECT source, doc_id, length(text) AS n_bytes,
        |CASE WHEN length(text) < 64 THEN []::VARCHAR[]
        |ELSE list_transform(range(0, CAST(floor((length(text)-64)/128) AS INT)+1),
        |  i -> md5(substring(text, CAST(i*128+1 AS INT), 64))) END AS frames
        |FROM documents),
        |base AS (SELECT source, count(*) AS n_docs,
        |CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |CAST(sum(len(frames)) AS BIGINT) AS total_frames
        |FROM per GROUP BY source),
        |df AS (SELECT source, count(DISTINCT f) AS n_distinct_frames
        |FROM (SELECT source, unnest(frames) AS f FROM per) GROUP BY source)
        |SELECT b.source, b.n_docs, b.total_bytes, b.total_frames,
        |coalesce(df.n_distinct_frames, 0) AS n_distinct_frames
        |FROM base b LEFT JOIN df ON b.source = df.source
        |ORDER BY b.source""".stripMargin,

    "q37_percentiles" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.9), 4) AS p90,
        |round(quantile_cont(value, 0.99), 4) AS p99,
        |count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q38_semi_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |CAST(sum(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        |CAST(sum(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT) AS n_without_orders
        |FROM (SELECT c_mktsegment,
        |EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
        |FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q39_running_revenue" ->
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS "day",
        |sum(CAST(round(value*100) AS BIGINT)) AS cents, count(*) AS n
        |FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT "day", n,
        |CAST(cents AS DOUBLE)/100.0 AS daily_value,
        |CAST(sum(cents) OVER (ORDER BY "day"
        |  ROWS UNBOUNDED PRECEDING) AS DOUBLE)/100.0 AS running_value,
        |round(CAST(sum(cents) OVER w7 AS DOUBLE)
        |  / count(*) OVER w7 / 100.0, 4) AS ma7
        |FROM daily
        |WINDOW w7 AS (ORDER BY "day" ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY "day"""".stripMargin,

    // SimHash bit j = bit (3 - j%4) of hex nibble j/4 of md5(token),
    // i.e. the MSB-first bits of the digest's first 8 bytes — exactly
    // the native SimHashBits derivation.
    "q40_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($TOKS) AS t FROM documents),
         |h AS (SELECT doc_id, substring(md5(t), 1, 16) AS h FROM tok),
         |bits AS (SELECT doc_id, j.j,
         |  CASE WHEN sum(2*(((strpos('0123456789abcdef',
         |    substring(h, CAST(j.j//4+1 AS INT), 1))-1)
         |    >> CAST(3-j.j%4 AS INT)) & 1)-1) > 0
         |  THEN '1' ELSE '0' END AS b
         |FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) j
         |GROUP BY doc_id, j.j),
         |fp AS (SELECT doc_id, string_agg(b, '' ORDER BY j) AS bits
         |FROM bits GROUP BY doc_id),
         |banded AS (SELECT doc_id, bits, b.b AS band,
         |  substring(bits, CAST(b.b*16+1 AS INT), 16) AS bucket
         |FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b) b),
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         |  l.bits AS bits_a, r.bits AS bits_b
         |FROM banded l JOIN banded r ON l.band = r.band
         |  AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
         |SELECT id_a, id_b, hamming FROM (
         |SELECT id_a, id_b, CAST(len(list_filter(range(1, 65),
         |  i -> substring(bits_a, CAST(i AS INT), 1)
         |    != substring(bits_b, CAST(i AS INT), 1))) AS INT) AS hamming
         |FROM cand) WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    "q41_ann_ivf" -> IVF_PROBE_SQL,

    // q134: the saved-index probe must EQUAL the in-memory IVF compose
    // (same centroids, queries, k, nprobe) — that equality IS the
    // persisted-index lifecycle's contract, so the oracle is q41's.
    "q134_ivf_index_probe" -> IVF_PROBE_SQL,

    // q135: the naive jaccard-threshold join after the inverted-index
    // rewrite — oracle is the literal exact pairwise jaccard over
    // shingle sets with NO df cap (the rewrite implements the user's
    // predicate verbatim; contrast q22, whose mining contract caps
    // stop-shingles). Threshold filters the UNROUNDED value, exactly
    // like the Spark predicate; rounding is display-only.
    "q135_jaccard_join" ->
      s"""$UNCAPPED_PAIR_CTES
         |SELECT id_a, id_b,
         |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard
         |FROM pairs WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,

    // q136: the containment twin — same uncapped posting join, score
    // = shared/min(na, nb), threshold on the unrounded value
    "q136_overlap_join" ->
      s"""$UNCAPPED_PAIR_CTES
         |SELECT id_a, id_b,
         |round(CAST(shared AS DOUBLE)/least(na, nb), 4) AS overlap
         |FROM pairs WHERE CAST(shared AS DOUBLE)/least(na, nb) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // q137: replay the deterministic 1-iteration k-means fit (q63's
    // pattern: 6-dp rounded assignment scores, centroid-id tie-break,
    // fixed-point 1e-6 mean) and the SemDeDup keep-policy — a pair
    // member drops iff a strictly-more-central qualifying duplicate
    // exists in its cluster; kept_id = the most central one.
    "q137_semantic_dedup" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |c0 AS (SELECT id AS cent_id, vv AS cv FROM v ORDER BY id LIMIT 6),
         |${kmAssignCte("a1", "id, vv, cent_id", "c0")},
         |${kmMeanCtes(1, "a1")},
         |asg AS (SELECT id, vv, cent_id, cscore FROM (
         |  SELECT v.id, v.vv, c.cent_id,
         |  round(list_dot_product(v.vv, c.cv)
         |   /(sqrt(list_dot_product(v.vv, v.vv))*sqrt(list_dot_product(c.cv, c.cv))), 6) AS cscore,
         |  row_number() OVER (PARTITION BY v.id ORDER BY
         |    round(list_dot_product(v.vv, c.cv)
         |     /(sqrt(list_dot_product(v.vv, v.vv))*sqrt(list_dot_product(c.cv, c.cv))), 6)
         |    DESC, c.cent_id) AS rk
         |  FROM v CROSS JOIN c1 c) WHERE rk = 1),
         |pairs AS (SELECT a.cent_id, a.id AS id_a, b.id AS id_b, b.cscore AS cb,
         |  round(list_dot_product(a.vv, b.vv)
         |   /(sqrt(list_dot_product(a.vv, a.vv))*sqrt(list_dot_product(b.vv, b.vv))), 4) AS sim
         |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.id <> b.id
         |  WHERE b.cscore > a.cscore OR (b.cscore = a.cscore AND b.id < a.id)),
         |q AS (SELECT cent_id, id_a, id_b, sim,
         |  row_number() OVER (PARTITION BY id_a ORDER BY cb DESC, id_b) AS kr
         |  FROM pairs WHERE sim >= 0.35)
         |SELECT cent_id, id_a AS dropped_id, id_b AS kept_id, sim AS drop_sim
         |FROM q WHERE kr = 1 ORDER BY dropped_id""".stripMargin,

    // q138: build(base) + append(increment) must be indistinguishable
    // from build(full) — so the oracle is q41's in-memory IVF compose
    // over the FULL corpus, the same contract q134 pins for the
    // persisted lifecycle.
    "q138_ivf_index_append" -> IVF_PROBE_SQL,

    // q139: the exact-gate threshold is the RAW double compare (the
    // exec's predicate); rounding to 4 dp happens only on the output
    // score, mirroring the Spark side exactly.
    "q139_embed_decontaminate" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, e AS evv FROM v WHERE vec_id % 97 = 0),
        |c AS (SELECT vec_id AS corpus_id, e AS cvv FROM v WHERE vec_id % 97 <> 0),
        |hits AS (SELECT corpus_id, eval_id,
        |  round(list_dot_product(cvv, evv)
        |   /(sqrt(list_dot_product(cvv, cvv))*sqrt(list_dot_product(evv, evv))), 4) AS sim
        |FROM c CROSS JOIN ev
        |WHERE list_dot_product(cvv, evv)
        |  /(sqrt(list_dot_product(cvv, cvv))*sqrt(list_dot_product(evv, evv))) >= 0.35)
        |SELECT corpus_id, eval_id AS nearest_eval_id, sim AS max_sim, n_eval_hits FROM (
        |SELECT corpus_id, eval_id, sim,
        |  count(*) OVER (PARTITION BY corpus_id) AS n_eval_hits,
        |  row_number() OVER (PARTITION BY corpus_id ORDER BY sim DESC, eval_id) AS rk
        |FROM hits) WHERE rk = 1 ORDER BY corpus_id""".stripMargin,

    // q140: the Morton interleave unrolled as 16 shift-or terms per
    // dimension — bit-for-bit the native kernel's spread.
    "q140_zorder_keys" -> {
      val terms = (0 to 15).map(i =>
        s"((((zx >> $i) & 1) << ${2 * i}) | (((zy >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" | ")
      s"""WITH b AS (SELECT event_id,
         |user_id % 65536 AS zx,
         |CAST(round(value*100) AS BIGINT) % 65536 AS zy
         |FROM events),
         |k AS (SELECT event_id, zx, zy, ($terms) AS zkey FROM b)
         |SELECT event_id, zx, zy, zkey,
         |CAST(floor(zkey / 67108864.0) AS BIGINT) AS zfile
         |FROM k ORDER BY event_id""".stripMargin
    },

    // q142: the full 8-step BPE training trajectory as chained CTEs —
    // every chosen merge AND its weighted frequency must match, so the
    // oracle pins the whole training path, not just the final state.
    "q142_bpe_train" -> {
      s"""WITH $bpeCtes
         |SELECT step, merge_pair, pair_freq FROM (
         |${(1 to 8).map(i =>
              s"SELECT $i AS step, pair AS merge_pair, f AS pair_freq FROM b$i")
             .mkString("\nUNION ALL ")})
         |ORDER BY step""".stripMargin
    },

    // q143: encode distinct words under the q142 trajectory, join the
    // per-word token counts onto the corpus token stream, per-lang
    // integer sums (the double division shares exact operands).
    "q143_bpe_token_stats" -> {
      s"""WITH $bpeCtes,
         |enc AS (SELECT word, len(string_split(seq, ' ')) AS nb FROM w8),
         |tok AS (SELECT lang, unnest($TOKS) AS word FROM documents)
         |SELECT lang, count(*) AS n_words,
         |CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |round(CAST(sum(length(word)) AS DOUBLE)
         |  / CAST(sum(nb) AS BIGINT), 4) AS chars_per_token
         |FROM tok JOIN enc USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    // q144: the fit runs on the EXISTING slice only (fixed quantizer),
    // both slices assign under it, and only incoming × existing
    // same-cluster pairs are scored — keep-old policy, best match.
    "q144_semantic_dedup_increment" ->
      s"""WITH ${semFitCtes("id % 10 <> 7")},
         |${semAssignCte("id % 10 <> 7", "asge")},
         |${semAssignCte("id % 10 = 7", "asgi")}
         |SELECT cent_id, incoming_id, matched_id, match_sim FROM (
         |SELECT i.cent_id, i.id AS incoming_id, e.id AS matched_id,
         |  ${semCos("i.vv", "e.vv", 4)} AS match_sim,
         |  row_number() OVER (PARTITION BY i.id
         |    ORDER BY ${semCos("i.vv", "e.vv", 4)} DESC, e.id) AS rk
         |FROM asgi i JOIN asge e ON i.cent_id = e.cent_id
         |WHERE ${semCos("i.vv", "e.vv", 4)} >= 0.35)
         |WHERE rk = 1 ORDER BY incoming_id""".stripMargin,

    // q145: q123's sweep on the semantic pair set — pairs mined once
    // at 0.25, the whole bp grid sweeps pair space.
    "q145_semantic_retention_sweep" ->
      s"""WITH ${semFitCtes("TRUE")},
         |${semAssignCte("TRUE", "asg")},
         |pr AS (SELECT a.cent_id, a.id AS id_a, b.id AS id_b,
         |  ${semCos("a.vv", "b.vv", 4)} AS sim
         |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.id < b.id
         |  WHERE ${semCos("a.vv", "b.vv", 4)} >= 0.25),
         |pb AS (SELECT id_a, id_b, CAST(round(sim*10000) AS INT) AS bp FROM pr),
         |th AS (SELECT unnest([2500, 3000, 3500, 4000, 4500, 5000,
         |  5500, 6000]) AS threshold_bp),
         |e AS (SELECT t.threshold_bp, p.id_a, p.id_b
         |  FROM pb p JOIN th t ON p.bp >= t.threshold_bp),
         |${retentionSweep("embeddings")}""".stripMargin,

    // q147: multi-probe SemDeDup — candidates from the 2-nearest-
    // bucket assignment (boundary pairs meet in shared secondary
    // buckets), keep-policy on the PRIMARY-centroid centrality.
    "q147_semantic_dedup_multiprobe" ->
      s"""WITH ${semFitCtes("TRUE")},
         |ma AS (SELECT id, vv, cent_id FROM (
         |  SELECT s.id, s.vv, c.cent_id,
         |  row_number() OVER (PARTITION BY s.id ORDER BY ${semCos("s.vv", "c.cv", 6)} DESC, c.cent_id) AS rk
         |  FROM sv s CROSS JOIN c1 c) WHERE rk <= 2),
         |p1 AS (SELECT id, cscore FROM (
         |  SELECT s.id, ${semCos("s.vv", "c.cv", 6)} AS cscore,
         |  row_number() OVER (PARTITION BY s.id ORDER BY ${semCos("s.vv", "c.cv", 6)} DESC, c.cent_id) AS rk
         |  FROM sv s CROSS JOIN c1 c) WHERE rk = 1),
         |prs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  ${semCos("a.vv", "b.vv", 4)} AS sim
         |  FROM ma a JOIN ma b ON a.cent_id = b.cent_id AND a.id < b.id
         |  WHERE ${semCos("a.vv", "b.vv", 4)} >= 0.35),
         |cand AS (SELECT id_a AS dropped_id, id_b AS kept_id, sim FROM prs
         |  UNION ALL SELECT id_b, id_a, sim FROM prs),
         |j AS (SELECT c.dropped_id, c.kept_id, c.sim,
         |  pb.cscore AS cb
         |  FROM cand c JOIN p1 pa ON c.dropped_id = pa.id
         |  JOIN p1 pb ON c.kept_id = pb.id
         |  WHERE pb.cscore > pa.cscore
         |    OR (pb.cscore = pa.cscore AND c.kept_id < c.dropped_id))
         |SELECT dropped_id, kept_id, sim AS drop_sim FROM (
         |  SELECT dropped_id, kept_id, sim,
         |  row_number() OVER (PARTITION BY dropped_id ORDER BY cb DESC, kept_id) AS kr
         |  FROM j) WHERE kr = 1 ORDER BY dropped_id""".stripMargin,

    // q141: path-derived provenance must round-trip — the oracle
    // recomputes the shard from the layout formula (doc_id % 8) and
    // replays q21's survivor rule (min doc_id per fingerprint).
    "q141_shard_provenance" ->
      s"""WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
         |md5(array_to_string($TOKS, ' ')) AS fp FROM documents),
         |k AS (SELECT min(doc_id) AS keep_id FROM d GROUP BY fp)
         |SELECT shard, count(*) AS n_docs,
         |CAST(sum(CASE WHEN k.keep_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
         |round((count(*) - sum(CASE WHEN k.keep_id IS NOT NULL THEN 1 ELSE 0 END)) * 10000.0
         |  / count(*), 4) AS dup_rate_bp
         |FROM d LEFT JOIN k ON d.doc_id = k.keep_id
         |GROUP BY shard ORDER BY shard""".stripMargin,

    // q148: the CMS screen is invisible in the result (no false
    // negatives), so the oracle is the NAIVE heavy-hitter query —
    // that equality is the contract.
    "q148_heavy_hitters" ->
      s"""WITH occ AS (SELECT unnest($TOKS) AS tok FROM documents),
         |tot AS (SELECT count(*) AS c FROM occ)
         |SELECT tok, CAST(count(*) AS BIGINT) AS n
         |FROM occ CROSS JOIN tot
         |GROUP BY tok, tot.c
         |HAVING count(*) >= greatest(2, tot.c // 200)
         |ORDER BY n DESC, tok""".stripMargin,

    // q149: positional 4-grams via zipped unnests; cross-doc test is
    // min(doc)<>max(doc); spans by gaps-and-islands. Oracle positions
    // are 1-based vs Spark's 0-based — islands are shift-invariant.
    "q149_dup_spans" ->
      s"""$GRAM4_COVER_CTES,
         |isl AS (SELECT doc_id, cp,
         |  cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS isl
         |  FROM cov),
         |sp AS (SELECT doc_id, isl, count(*) AS sl FROM isl GROUP BY 1, 2),
         |pd AS (SELECT doc_id, count(*) AS n_spans, sum(sl) AS ct,
         |  max(sl) AS ls FROM sp GROUP BY 1)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
         |CAST(coalesce(ct, 0) AS BIGINT) AS covered_tokens,
         |CAST(coalesce(ls, 0) AS BIGINT) AS longest_span,
         |CAST(CASE WHEN len(tk) = 0 THEN 0
         |  ELSE coalesce(ct, 0) * 10000 // len(tk) END AS BIGINT) AS dup_bp
         |FROM tok t LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q153: q149's covered positions, inverted — kept tokens re-join
    // in order (string_agg ORDER BY pos) and fingerprint as md5.
    "q153_dup_span_removal" ->
      s"""$GRAM4_COVER_CTES,
         |${spanRemovalSql("tok")}""".stripMargin,

    // q154: SCD2 build — lag change detection, running-sum version
    // ids, lead range close. version must CAST to BIGINT (DuckDB
    // window sum is HUGEINT).
    "q154_scd2_build" ->
      """WITH l AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts, event_type,
        |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version FROM l),
        |v AS (SELECT user_id, version, min(event_type) AS event_type,
        |  min(ts) AS vf, count(*) AS n_events FROM g GROUP BY 1, 2),
        |f AS (SELECT user_id, version, event_type, vf, n_events,
        |  lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
        |  FROM v)
        |SELECT user_id, version, event_type,
        |strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |n_events, (vt IS NULL) AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin,

    // q156: Monday-truncated weeks in both engines; day gaps are
    // exact multiples of 7; all counts/ratios integer.
    "q156_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |ch AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS cohort_size
        |  FROM ch GROUP BY 1),
        |m AS (SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, u.week) // 7 AS BIGINT)
        |    AS offset_weeks,
        |  count(*) AS n_active
        |  FROM uw u JOIN ch c USING (user_id) GROUP BY 1, 2)
        |SELECT strftime(m.cohort_week, '%Y-%m-%d') AS cohort_week,
        |offset_weeks, CAST(n_active AS BIGINT) AS n_active,
        |CAST(cohort_size AS BIGINT) AS cohort_size,
        |CAST(n_active * 10000 // cohort_size AS BIGINT) AS retention_bp
        |FROM m JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, offset_weeks""".stripMargin,

    // q157: min-based ordered funnel — each step's time is the
    // earliest qualifying event at-or-after the previous step.
    "q157_ordered_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= t2 GROUP BY 1),
        |n AS (
        |  SELECT 1 AS step, 'view' AS step_name,
        |    (SELECT count(*) FROM s1) AS n
        |  UNION ALL SELECT 2, 'click_after_view',
        |    (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase_after_click',
        |    (SELECT count(*) FROM s3))
        |SELECT CAST(step AS BIGINT) AS step, step_name,
        |CAST(n AS BIGINT) AS n,
        |CAST(CASE WHEN lag(n) OVER (ORDER BY step) IS NULL THEN 10000
        |  ELSE n * 10000 // lag(n) OVER (ORDER BY step) END AS BIGINT)
        |  AS conv_bp
        |FROM n ORDER BY step""".stripMargin,

    // q160: identical expression trees to the Spark side (same
    // association order); per-term scores round to 1e-6 fixed point
    // and sum as BIGINTs so multi-term float order cannot matter.
    "q160_bm25_retrieval" ->
      s"""$BM25_CTES,
         |rk AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  score_fp, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_fp DESC, doc_id) AS "rank"
         |  FROM agg)
         |SELECT query_id, "rank", doc_id,
         |CAST(score_fp AS DOUBLE) / 1000000.0e0 AS bm25
         |FROM rk WHERE "rank" <= 10
         |ORDER BY query_id, "rank"""".stripMargin,

    // q161: full PQ trajectory replay — 1e-4 floor quantization,
    // per-subspace one-iteration Lloyd (init = 16 lowest ids, ties by
    // cent_id), means by ONE rounded division onto the 1e-6 grid,
    // integer ADC distances throughout.
    "q161_pq_adc_topk" ->
      s"""WITH $PQ_CTES,
         |sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |  CAST(sum(list_sum(list_transform(range(1, 9), i ->
         |    (q.qv6[CAST(i AS INT)] - b.cv[CAST(i AS INT)])
         |    * (q.qv6[CAST(i AS INT)] - b.cv[CAST(i AS INT)]))))
         |    AS BIGINT) AS adc_d2
         |  FROM pq_codes c JOIN pq_cb1 b USING (j, cent_id)
         |  JOIN pq_qs q USING (j)
         |  WHERE q.query_id <> c.vec_id GROUP BY 1, 2)
         |SELECT query_id, "rank", neighbor_id, adc_d2 FROM (
         |  SELECT query_id, neighbor_id, adc_d2, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_d2, neighbor_id)
         |    AS "rank" FROM sc)
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    // q162: IVF bucket probe (q41's cosine CTEs) restricts the
    // candidate pairs; PQ's integer ADC scores them — the composed
    // serving trajectory replayed end to end.
    "q162_ivf_pq_serve" ->
      s"""WITH ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, e AS ce FROM ve
         |  WHERE vec_id % 250 = 0),
         |assigned AS (SELECT vec_id AS neighbor_id, cent_id FROM (
         |  SELECT v.vec_id, c.cent_id, row_number() OVER (
         |    PARTITION BY v.vec_id ORDER BY
         |    round(list_dot_product(v.e, c.ce)
         |     /(sqrt(list_dot_product(v.e, v.e))
         |       *sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
         |    c.cent_id) AS crank
         |  FROM ve v CROSS JOIN cent c) WHERE crank = 1),
         |probed AS (SELECT vec_id AS query_id, cent_id FROM (
         |  SELECT v.vec_id, c.cent_id, row_number() OVER (
         |    PARTITION BY v.vec_id ORDER BY
         |    round(list_dot_product(v.e, c.ce)
         |     /(sqrt(list_dot_product(v.e, v.e))
         |       *sqrt(list_dot_product(c.ce, c.ce))), 6) DESC,
         |    c.cent_id) AS crank
         |  FROM ve v CROSS JOIN cent c WHERE v.vec_id < 8)
         |  WHERE crank <= 2),
         |cand AS (SELECT DISTINCT p.query_id, a.neighbor_id
         |  FROM probed p JOIN assigned a USING (cent_id)
         |  WHERE p.query_id <> a.neighbor_id),
         |$PQ_CTES,
         |sc AS (SELECT cd.query_id, cd.neighbor_id,
         |  CAST(sum(list_sum(list_transform(range(1, 9), i ->
         |    (q.qv6[CAST(i AS INT)] - b.cv[CAST(i AS INT)])
         |    * (q.qv6[CAST(i AS INT)] - b.cv[CAST(i AS INT)]))))
         |    AS BIGINT) AS adc_d2
         |  FROM cand cd
         |  JOIN pq_codes c ON c.vec_id = cd.neighbor_id
         |  JOIN pq_cb1 b ON b.j = c.j AND b.cent_id = c.cent_id
         |  JOIN pq_qs q ON q.query_id = cd.query_id AND q.j = c.j
         |  GROUP BY 1, 2)
         |SELECT query_id, "rank", neighbor_id, adc_d2 FROM (
         |  SELECT query_id, neighbor_id, adc_d2, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_d2, neighbor_id)
         |    AS "rank" FROM sc)
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    // q164: per-type calendar spine (generate_series ≙ sequence),
    // anti-join for zero-event days.
    "q164_calendar_gaps" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day", count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min("day") AS d0, max("day") AS d1
        |  FROM daily GROUP BY 1),
        |spine AS (SELECT event_type,
        |  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS "day" FROM rng),
        |gaps AS (SELECT s.event_type, s."day" FROM spine s
        |  LEFT JOIN daily d
        |    ON d.event_type = s.event_type AND d."day" = s."day"
        |  WHERE d.event_type IS NULL),
        |sp AS (SELECT event_type, count(*) AS span_days
        |  FROM spine GROUP BY 1),
        |ga AS (SELECT event_type, count(*) AS gap_days,
        |  strftime(min("day"), '%Y-%m-%d') AS first_gap,
        |  strftime(max("day"), '%Y-%m-%d') AS last_gap
        |  FROM gaps GROUP BY 1)
        |SELECT sp.event_type, CAST(span_days AS BIGINT) AS span_days,
        |CAST(coalesce(gap_days, 0) AS BIGINT) AS gap_days,
        |first_gap, last_gap,
        |CAST(coalesce(gap_days, 0) * 10000 // span_days AS BIGINT)
        |  AS gap_bp
        |FROM sp LEFT JOIN ga USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // q163: q31's session break + session-ordered lead trigrams.
    "q163_session_paths" ->
      s"""WITH ${sessionCtes("user_id, ts, event_id, event_type,",
           "user_id, ts, event_id, event_type,")},
         |tri AS (SELECT event_type || '>' || lead(event_type, 1) OVER sw
         |  || '>' || lead(event_type, 2) OVER sw AS path,
         |  CAST(user_id AS VARCHAR) || '#' || CAST(sid AS VARCHAR) AS sess,
         |  lead(event_type, 2) OVER sw AS t3
         |FROM s WINDOW sw AS (PARTITION BY user_id, sid
         |  ORDER BY ts, event_id)),
         |p AS (SELECT path, count(*) AS n,
         |  count(DISTINCT sess) AS n_sessions
         |FROM tri WHERE t3 IS NOT NULL GROUP BY path),
         |r AS (SELECT path, n, n_sessions,
         |  row_number() OVER (ORDER BY n DESC, path) AS "rank" FROM p)
         |SELECT "rank", path, CAST(n AS BIGINT) AS n,
         |CAST(n_sessions AS BIGINT) AS n_sessions
         |FROM r WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,

    // q165: CDC MERGE — same log slices, row_number compaction
    // (seq DESC, op DESC), anti-join+union apply, per-source audit
    // with 48-bit md5-prefix content checksum (hex via '0x' CAST).
    "q165_merge_apply" ->
      """WITH base AS (SELECT * FROM documents WHERE doc_id % 9 <> 8),
        |log AS (
        |  SELECT doc_id, 1 AS seq, 'D' AS op, CAST(NULL AS VARCHAR) AS text,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source,
        |    CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 9 = 3
        |  UNION ALL SELECT doc_id, 1, 'U', text || ' rev2', lang, source,
        |    CAST(length(text || ' rev2') AS BIGINT)
        |  FROM documents WHERE doc_id % 9 IN (1, 5)
        |  UNION ALL SELECT doc_id, 1, 'I', text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 9 = 8
        |  UNION ALL SELECT doc_id, 2, 'D', NULL, NULL, NULL, NULL
        |  FROM documents WHERE doc_id % 9 = 5
        |  UNION ALL SELECT doc_id, 2, 'U', text || ' v3', lang, source,
        |    CAST(length(text || ' v3') AS BIGINT)
        |  FROM documents WHERE doc_id % 9 = 3 OR doc_id % 27 = 8),
        |latest AS (SELECT * FROM (SELECT *, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS rn FROM log)
        |  WHERE rn = 1),
        |merged AS (
        |  SELECT b.doc_id, b.text, b.lang, b.source, b.n_chars
        |  FROM base b WHERE NOT EXISTS (
        |    SELECT 1 FROM latest l WHERE l.doc_id = b.doc_id)
        |  UNION ALL
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM latest WHERE op <> 'D'),
        |cls AS (SELECT coalesce(b.source, l.source) AS source,
        |  CASE WHEN l.op = 'D' AND b.doc_id IS NOT NULL THEN 'deleted'
        |    WHEN l.op <> 'D' AND b.doc_id IS NOT NULL THEN 'updated'
        |    WHEN l.op <> 'D' THEN 'inserted' END AS cls
        |  FROM latest l LEFT JOIN base b USING (doc_id)),
        |ca AS (SELECT source,
        |  CAST(sum(CASE WHEN cls = 'inserted' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inserted,
        |  CAST(sum(CASE WHEN cls = 'updated' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated,
        |  CAST(sum(CASE WHEN cls = 'deleted' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted
        |  FROM cls WHERE cls IS NOT NULL GROUP BY 1),
        |bf AS (SELECT source, count(*) AS rows_before FROM base GROUP BY 1),
        |af AS (SELECT source, count(*) AS rows_after,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_after,
        |  CAST(bit_xor(CAST('0x' || substr(md5(
        |    CAST(doc_id AS VARCHAR) || ':' || text), 1, 12) AS BIGINT))
        |    AS BIGINT) AS text_sum
        |  FROM merged GROUP BY 1)
        |SELECT source,
        |CAST(coalesce(rows_before, 0) AS BIGINT) AS rows_before,
        |CAST(coalesce(rows_after, 0) AS BIGINT) AS rows_after,
        |coalesce(n_inserted, 0) AS n_inserted,
        |coalesce(n_updated, 0) AS n_updated,
        |coalesce(n_deleted, 0) AS n_deleted,
        |chars_after, text_sum
        |FROM bf FULL OUTER JOIN af USING (source)
        |LEFT JOIN ca USING (source)
        |ORDER BY source""".stripMargin,

    // q166: positional phrase match — 1-based DuckDB list positions
    // shifted to the Spark 0-based grid ((p-1) - off).
    "q166_phrase_search" ->
      s"""WITH d AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |pp AS (SELECT doc_id, unnest(range(1, len(tk)+1)) AS p, tk
         |  FROM d),
         |pos AS (SELECT doc_id, p - 1 AS pos,
         |  tk[CAST(p AS INT)] AS term FROM pp),
         |qs AS (SELECT * FROM (VALUES (1, 'hash join'),
         |  (2, 'window merge'), (3, 'slow query'),
         |  (4, 'data stream vector'), (5, 'sort order'))
         |  AS v(query_id, phrase)),
         |qtk AS (SELECT query_id, list_filter(string_split_regex(
         |  lower(trim(phrase)), '\\s+'), x -> length(x) > 0) AS ptk
         |  FROM qs),
         |qp AS (SELECT query_id, len(ptk) AS plen,
         |  unnest(range(1, len(ptk)+1)) AS o, ptk FROM qtk),
         |qterms AS (SELECT query_id, plen, o - 1 AS off,
         |  ptk[CAST(o AS INT)] AS term FROM qp),
         |hits AS (SELECT query_id, doc_id, "start" FROM (
         |  SELECT q.query_id, q.plen, c.doc_id,
         |    c.pos - q.off AS "start"
         |  FROM pos c JOIN qterms q USING (term))
         |  GROUP BY query_id, plen, doc_id, "start"
         |  HAVING count(*) = plen),
         |pd AS (SELECT query_id, doc_id,
         |  CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(min("start") AS BIGINT) AS first_pos
         |  FROM hits GROUP BY 1, 2)
         |SELECT query_id, "rank", doc_id, n_hits, first_pos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY n_hits DESC, doc_id) AS "rank" FROM pd)
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // q167: q102's pair CTEs + degree explode; floor-bp integer cc.
    "q167_clustering_coeff" ->
      s"""WITH ${embedGraphCtes("jp", "0.30")},
         |deg AS (SELECT vec_id, count(*) AS deg FROM (
         |  SELECT id_a AS vec_id FROM jp
         |  UNION ALL SELECT id_b FROM jp) GROUP BY 1),
         |$TRIANGLES_CTE,
         |tc AS (SELECT vec_id, count(*) AS n_triangles FROM (
         |  SELECT unnest([a, b, c]) AS vec_id FROM tri) GROUP BY 1)
         |SELECT d.vec_id, CAST(deg AS BIGINT) AS deg,
         |CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
         |CAST(2 * CAST(coalesce(n_triangles, 0) AS HUGEINT) * 10000
         |  // (CAST(deg AS HUGEINT) * (deg - 1)) AS BIGINT) AS cc_bp
         |FROM deg d LEFT JOIN tc USING (vec_id) WHERE deg >= 2
         |ORDER BY cc_bp DESC, vec_id""".stripMargin,

    // q168: DuckDB's jaro_winkler_similarity IS the reference the
    // Spark-side native expression was fuzz-pinned against; threshold
    // in e-notation (plain decimals parse as DECIMAL in DuckDB).
    "q168_record_linkage" ->
      """WITH an AS MATERIALIZED (SELECT p_name AS a_name,
        |  CAST(min(p_partkey) AS BIGINT) AS min_a_key
        |  FROM part GROUP BY 1),
        |b AS MATERIALIZED (SELECT p_partkey AS b_key,
        |  CASE WHEN p_partkey % 8 = 1 THEN
        |    substr(p_name, 1, CAST(3 + p_partkey % 3 AS INT) - 1)
        |    || substr(p_name, CAST(3 + p_partkey % 3 AS INT) + 1)
        |  WHEN p_partkey % 8 = 3 THEN
        |    substr(p_name, 1, CAST(3 + p_partkey % 3 AS INT))
        |    || substr(p_name, CAST(3 + p_partkey % 3 AS INT))
        |  WHEN p_partkey % 8 = 5 THEN p_name || ' inc'
        |  ELSE p_name END AS b_name
        |  FROM part WHERE p_partkey % 2 = 1),
        |bn AS (SELECT DISTINCT b_name FROM b),
        |ag AS MATERIALIZED (SELECT a_name, min_a_key, unnest(
        |  list_distinct(list_transform(range(1, length(a_name) - 2),
        |    i -> substr(a_name, CAST(i AS INT), 4)))) AS g FROM an),
        |keep AS (SELECT g FROM ag GROUP BY g HAVING count(*) <= 200),
        |bg AS (SELECT b_name, unnest(
        |  list_distinct(list_transform(range(1, length(b_name) - 2),
        |    i -> substr(b_name, CAST(i AS INT), 4)))) AS g FROM bn),
        |cand AS (SELECT DISTINCT bg.b_name, ag.a_name, ag.min_a_key
        |  FROM bg JOIN keep USING (g) JOIN ag USING (g)),
        |sn AS MATERIALIZED (SELECT b_name, a_name, min_a_key,
        |  round(jaro_winkler_similarity(b_name, a_name), 6) AS jw
        |  FROM cand
        |  WHERE round(jaro_winkler_similarity(b_name, a_name), 6)
        |    >= 8.8e-1),
        |s AS (SELECT b.b_key, sn.min_a_key AS a_key, b.b_name,
        |  sn.a_name, sn.jw FROM b JOIN sn USING (b_name))
        |SELECT b_key, a_key, b_name, a_name, jw FROM (
        |  SELECT *, row_number() OVER (PARTITION BY b_key
        |    ORDER BY jw DESC, a_key) AS rn FROM s)
        |WHERE rn = 1 ORDER BY b_key""".stripMargin,

    // q169: exact integer counts; ONE double z expression, rounded
    // once; significance reads the rounded z.
    "q169_ab_experiment" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (SELECT user_id % 2 AS arm, count(*) AS n FROM u
        |  GROUP BY 1),
        |nu AS (SELECT count(*) AS n_users FROM u),
        |pu AS (SELECT event_type, user_id, count(*) AS cu
        |  FROM events GROUP BY 1, 2),
        |pt AS (SELECT event_type, CAST(sum(cu) AS BIGINT) AS st
        |  FROM pu GROUP BY 1),
        |conv AS (SELECT pu.event_type, pu.user_id % 2 AS arm,
        |  count(*) AS c
        |  FROM pu JOIN pt USING (event_type) CROSS JOIN nu
        |  WHERE CAST(pu.cu AS HUGEINT) * nu.n_users > pt.st
        |  GROUP BY 1, 2),
        |wide AS (SELECT event_type,
        |  CAST(sum(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS c0,
        |  CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1
        |  FROM conv JOIN arms USING (arm) GROUP BY 1),
        |z AS (SELECT *,
        |  CAST((CAST(c1 AS HUGEINT) * n0 - CAST(c0 AS HUGEINT) * n1)
        |    * 10000 // nullif(CAST(c0 AS HUGEINT) * n1, 0)
        |    AS BIGINT) AS lift_bp,
        |  CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL ELSE
        |  round((CAST(c1 AS DOUBLE)/n1 - CAST(c0 AS DOUBLE)/n0)
        |    / sqrt((CAST(c0+c1 AS DOUBLE)/(n0+n1))
        |    * (1.0 - CAST(c0+c1 AS DOUBLE)/(n0+n1))
        |    * (1.0/n0 + 1.0/n1)), 4) END AS z
        |  FROM wide)
        |SELECT event_type, n0, c0, n1, c1, lift_bp, z,
        |coalesce(abs(z) >= 1.96, false) AS significant
        |FROM z ORDER BY event_type""".stripMargin,

    // q170: OLS sums as exact integers; slope/fit from one double
    // expression rounded once.
    "q170_daily_trend" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day",
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |anch AS (SELECT event_type, y,
        |  date_diff('day', min("day") OVER (PARTITION BY event_type),
        |    "day") AS x FROM daily),
        |s AS (SELECT event_type, count(*) AS n_days,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy,
        |  CAST(sum(x*x) AS BIGINT) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM anch GROUP BY 1)
        |SELECT event_type, n_days, sy AS total,
        |CAST(round(1e6 * (CAST(n_days * sxy - sx * sy AS DOUBLE)
        |  / (n_days * sxx - sx * sx))) AS BIGINT) AS slope_1e6,
        |CAST(floor(1e4 * (CAST(n_days * sxy - sx * sy AS DOUBLE)
        |  * (n_days * sxy - sx * sy))
        |  / (CAST(n_days * sxx - sx * sx AS DOUBLE)
        |  * (n_days * syy - sy * sy))) AS BIGINT) AS r2_bp
        |FROM s ORDER BY event_type""".stripMargin,

    // q171: q167's pair CTEs; 6 unrolled peel rounds (degree, keep,
    // both-endpoint edge filter) mirror kcoreBounded exactly.
    "q171_kcore" ->
      s"""WITH ${embedGraphCtes("jp", "0.30", " MATERIALIZED")},
         |${edgesCte("e0", "jp", " MATERIALIZED")},
         |d1 AS MATERIALIZED (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
         |k1 AS MATERIALIZED (SELECT src FROM d1 WHERE d >= 3),
         |e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
         |  JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
         |d2 AS MATERIALIZED (SELECT src, count(*) AS d FROM e1 GROUP BY 1),
         |k2 AS MATERIALIZED (SELECT src FROM d2 WHERE d >= 3),
         |e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e
         |  JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
         |d3 AS MATERIALIZED (SELECT src, count(*) AS d FROM e2 GROUP BY 1),
         |k3 AS MATERIALIZED (SELECT src FROM d3 WHERE d >= 3),
         |e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e
         |  JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src),
         |d4 AS MATERIALIZED (SELECT src, count(*) AS d FROM e3 GROUP BY 1),
         |k4 AS MATERIALIZED (SELECT src FROM d4 WHERE d >= 3),
         |e4 AS MATERIALIZED (SELECT e.src, e.dst FROM e3 e
         |  JOIN k4 a ON e.src = a.src JOIN k4 b ON e.dst = b.src),
         |d5 AS MATERIALIZED (SELECT src, count(*) AS d FROM e4 GROUP BY 1),
         |k5 AS MATERIALIZED (SELECT src FROM d5 WHERE d >= 3),
         |e5 AS MATERIALIZED (SELECT e.src, e.dst FROM e4 e
         |  JOIN k5 a ON e.src = a.src JOIN k5 b ON e.dst = b.src),
         |d6 AS MATERIALIZED (SELECT src, count(*) AS d FROM e5 GROUP BY 1),
         |k6 AS MATERIALIZED (SELECT src FROM d6 WHERE d >= 3),
         |e6 AS MATERIALIZED (SELECT e.src, e.dst FROM e5 e
         |  JOIN k6 a ON e.src = a.src JOIN k6 b ON e.dst = b.src),
         |fin AS (SELECT src AS vec_id, count(*) AS core_deg
         |  FROM e6 GROUP BY 1)
         |SELECT vec_id, CAST(core_deg AS BIGINT) AS core_deg
         |FROM fin ORDER BY vec_id""".stripMargin,

    // q172: running-max-end island break over variable-length
    // intervals; epoch seconds keep everything integer.
    "q172_interval_union" ->
      """WITH iv AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |  CAST(floor(epoch(ts)) AS BIGINT) + 60 + event_id % 3600 AS e
        |  FROM events),
        |m AS (SELECT user_id, event_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prev_max_e
        |  FROM iv),
        |b AS (SELECT user_id, event_id, s, e,
        |  CASE WHEN prev_max_e IS NULL OR s > prev_max_e
        |    THEN 1 ELSE 0 END AS brk FROM m),
        |isl AS (SELECT user_id, s, e,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS UNBOUNDED PRECEDING) AS island FROM b),
        |g AS (SELECT user_id, island, min(s) AS i_start,
        |  max(e) AS i_end FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |CAST(sum(i_end - i_start) AS BIGINT) AS covered_sec,
        |CAST(max(i_end - i_start) AS BIGINT) AS longest_sec
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q173: q157's min-chain + nearest-rank percentile picks; floor
    // epoch seconds (DuckDB's epoch cast would round).
    "q173_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3, min(s2.t1) AS t1
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1),
        |lat AS (SELECT user_id,
        |  CAST(floor(epoch(t3)) AS BIGINT)
        |    - CAST(floor(epoch(t1)) AS BIGINT) AS latency FROM s3),
        |r AS (SELECT latency,
        |  row_number() OVER (ORDER BY latency, user_id) AS rn,
        |  count(*) OVER () AS n FROM lat)
        |SELECT CAST(max(n) AS BIGINT) AS n_converted,
        |CAST(max(CASE WHEN rn = (n * 25 + 99) // 100 THEN latency END)
        |  AS BIGINT) AS p25_sec,
        |CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN latency END)
        |  AS BIGINT) AS p50_sec,
        |CAST(max(CASE WHEN rn = (n * 75 + 99) // 100 THEN latency END)
        |  AS BIGINT) AS p75_sec,
        |CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN latency END)
        |  AS BIGINT) AS p90_sec,
        |CAST(max(latency) AS BIGINT) AS max_sec
        |FROM r""".stripMargin,

    // q174: unbiased AMS signed inner product (5-row median) vs the
    // exact sum-of-products; md5 buckets/signs via the '0x' cast.
    "q174_join_cardinality" ->
      """WITH pairs AS (
        |  SELECT 'lineitem_orders' AS join_name, l_orderkey AS k,
        |    'a' AS side FROM lineitem
        |  UNION ALL SELECT 'lineitem_orders', o_orderkey, 'b'
        |  FROM orders
        |  UNION ALL SELECT 'orders_customer', o_custkey, 'a'
        |  FROM orders
        |  UNION ALL SELECT 'orders_customer', c_custkey, 'b'
        |  FROM customer),
        |kc AS MATERIALIZED (SELECT join_name, side, k, count(*) AS c
        |  FROM pairs GROUP BY 1, 2, 3),
        |exact AS (SELECT a.join_name,
        |  CAST(sum(a.c * b.c) AS BIGINT) AS exact_card
        |  FROM kc a JOIN kc b
        |    ON a.join_name = b.join_name AND a.k = b.k
        |    AND a.side = 'a' AND b.side = 'b'
        |  GROUP BY 1),
        |rows5 AS (SELECT unnest([0, 1, 2, 3, 4]) AS j),
        |cells AS MATERIALIZED (SELECT join_name, side, j,
        |  CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|'
        |    || CAST(k AS VARCHAR)), 1, 2) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN CAST('0x' || substr(md5('s|'
        |    || CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 1)
        |    AS BIGINT) % 2 = 0 THEN c ELSE -c END) AS BIGINT) AS sc
        |  FROM kc CROSS JOIN rows5 GROUP BY 1, 2, 3, 4),
        |estr AS (SELECT a.join_name, a.j,
        |  CAST(sum(a.sc * b.sc) AS BIGINT) AS est
        |  FROM cells a JOIN cells b
        |    ON a.join_name = b.join_name AND a.j = b.j AND a.b = b.b
        |    AND a.side = 'a' AND b.side = 'b'
        |  GROUP BY 1, 2),
        |med AS (SELECT join_name, est AS est_card FROM (
        |  SELECT join_name, est, j, row_number() OVER (
        |    PARTITION BY join_name ORDER BY est, j) AS rn FROM estr)
        |  WHERE rn = 3)
        |SELECT join_name, exact_card, est_card,
        |CAST((est_card - exact_card) * 10000 // exact_card AS BIGINT)
        |  AS err_bp
        |FROM exact JOIN med USING (join_name)
        |ORDER BY join_name""".stripMargin,

    // q175: brand-grain baskets; all rule metrics integer
    // fixed-point so the lift ordering is exact.
    "q175_basket_rules" ->
      """WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |  p.p_brand AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM bk),
        |sp AS (SELECT b, count(*) AS s FROM bk GROUP BY 1),
        |pr AS (SELECT a.b AS ante, c.b AS cons,
        |  CAST(count(*) AS BIGINT) AS s_ab
        |  FROM bk a JOIN bk c ON a.ok = c.ok AND a.b <> c.b
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (SELECT ante, cons, s_ab,
        |  CAST(s_ab * 10000 // sa.s AS BIGINT) AS conf_bp,
        |  CAST(CAST(s_ab AS HUGEINT) * n.n_orders * 1000000
        |    // (CAST(sa.s AS HUGEINT) * sb.s) AS BIGINT)
        |    AS lift_1e6
        |  FROM pr JOIN sp sa ON sa.b = pr.ante
        |  JOIN sp sb ON sb.b = pr.cons CROSS JOIN n)
        |SELECT "rank", ante, cons, s_ab, conf_bp, lift_1e6 FROM (
        |  SELECT *, row_number() OVER (ORDER BY lift_1e6 DESC, ante,
        |    cons) AS "rank" FROM sc)
        |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,

    // q176: ntile(5) over fully tie-broken orders (SQL-standard
    // equal-fill buckets agree across engines once the order is
    // total); money as integer cents.
    "q176_rfm_segments" ->
      """WITH md AS (SELECT max(o_orderdate) AS d_max FROM orders),
        |rfm AS (SELECT o_custkey,
        |  date_diff('day', max(o_orderdate), (SELECT d_max FROM md))
        |    AS rec_days,
        |  count(*) AS freq,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS money_c
        |  FROM orders GROUP BY 1),
        |q AS (SELECT o_custkey, rec_days, money_c,
        |  ntile(5) OVER (ORDER BY rec_days, o_custkey) AS r,
        |  ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |  ntile(5) OVER (ORDER BY money_c DESC, o_custkey) AS m
        |  FROM rfm)
        |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers,
        |CAST(sum(money_c) AS DOUBLE)/100.0 AS revenue,
        |CAST(min(rec_days) AS INT) AS min_rec,
        |CAST(max(rec_days) AS INT) AS max_rec
        |FROM q GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin,

    // q177: running cumulative share classification decided by exact
    // integer cross-multiplication.
    "q177_abc_analysis" ->
      """WITH rev AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM rev),
        |run AS (SELECT l_partkey, rev_c,
        |  CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
        |  FROM rev),
        |cls AS (SELECT rev_c,
        |  CASE WHEN CAST(cum_c AS HUGEINT) * 10000
        |      <= CAST(total_c AS HUGEINT) * 8000 THEN 'A'
        |    WHEN CAST(cum_c AS HUGEINT) * 10000
        |      <= CAST(total_c AS HUGEINT) * 9500 THEN 'B'
        |    ELSE 'C' END AS cls, total_c
        |  FROM run CROSS JOIN tot)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
        |CAST(sum(rev_c) AS DOUBLE)/100.0 AS revenue,
        |CAST(CAST(sum(rev_c) AS HUGEINT) * 10000 // max(total_c)
        |  AS BIGINT) AS share_bp
        |FROM cls GROUP BY cls ORDER BY cls""".stripMargin,

    // q178: per-type entropy terms round ONCE from exact integers
    // (1e-6 fixed point), the per-user entropy is an INTEGER sum of
    // rounded terms — no float summation order (q160 ln contract).
    "q178_user_entropy" ->
      """WITH pt AS (SELECT user_id, event_type,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tm AS (SELECT user_id, c,
        |  CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM pt),
        |pu AS (SELECT user_id,
        |  CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CAST(round(1e6 * (c / n) * ln(n / c)) AS BIGINT))
        |    AS BIGINT) AS h_1e6
        |  FROM tm GROUP BY 1 HAVING max(n) >= 20)
        |SELECT "rank", user_id, n_events, n_types, h_1e6 FROM (
        |  SELECT *, row_number() OVER (ORDER BY h_1e6, user_id)
        |    AS "rank" FROM pu)
        |WHERE "rank" <= 100 ORDER BY "rank"""".stripMargin,

    // q179: PSI terms are ONE rounded expression of four exact
    // integers each; the per-type PSI integer-sums rounded terms;
    // the half split is the exact integer epoch midpoint.
    "q179_psi_drift" ->
      """WITH ev AS (SELECT event_type, "value",
        |  CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |md AS (SELECT CAST((min(es) + max(es)) // 2 AS BIGINT)
        |  AS mid FROM ev),
        |bn AS (SELECT event_type,
        |  CASE WHEN es < (SELECT mid FROM md) THEN 'a' ELSE 'b' END
        |    AS half,
        |  LEAST(CAST(floor("value" / 50.0) AS INT), 9) AS bin,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |sp AS (SELECT DISTINCT event_type, unnest(range(0, 10)) AS bin
        |  FROM bn),
        |ha AS (SELECT sp.event_type, sp.bin,
        |  CAST(coalesce(b.c, 0) AS BIGINT) AS ca,
        |  t.na FROM sp
        |  LEFT JOIN (SELECT event_type, bin, c FROM bn
        |    WHERE half = 'a') b
        |  ON b.event_type = sp.event_type AND b.bin = sp.bin
        |  JOIN (SELECT event_type, CAST(sum(c) AS BIGINT) AS na
        |    FROM bn WHERE half = 'a' GROUP BY 1) t
        |  ON t.event_type = sp.event_type),
        |hb AS (SELECT sp.event_type, sp.bin,
        |  CAST(coalesce(b.c, 0) AS BIGINT) AS cb,
        |  t.nb FROM sp
        |  LEFT JOIN (SELECT event_type, bin, c FROM bn
        |    WHERE half = 'b') b
        |  ON b.event_type = sp.event_type AND b.bin = sp.bin
        |  JOIN (SELECT event_type, CAST(sum(c) AS BIGINT) AS nb
        |    FROM bn WHERE half = 'b' GROUP BY 1) t
        |  ON t.event_type = sp.event_type),
        |tm AS (SELECT ha.event_type, ha.na, hb.nb,
        |  CAST(round(1e6 * ((ca + 1) / (na + 10) - (cb + 1) / (nb + 10))
        |    * ln(((ca + 1) * (nb + 10)) / ((cb + 1) * (na + 10))))
        |    AS BIGINT) AS term_1e6
        |  FROM ha JOIN hb
        |  ON hb.event_type = ha.event_type AND hb.bin = ha.bin)
        |SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
        |CAST(max(nb) AS BIGINT) AS n_b,
        |CAST(sum(term_1e6) AS BIGINT) AS psi_1e6,
        |CAST(CASE WHEN sum(term_1e6) >= 10000 THEN 1 ELSE 0 END
        |  AS INT) AS drifted
        |FROM tm GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q180: decay is a pure integer right-shift per 7 days of age —
    // no float power; the fold is an integer sum.
    "q180_decayed_trending" ->
      """WITH daily AS (SELECT user_id,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day",
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |mx AS (SELECT max("day") AS d_max FROM daily),
        |sc AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(n * 1000000 >> LEAST(
        |    date_diff('day', "day", (SELECT d_max FROM mx)) // 7, 62))
        |    AS BIGINT) AS score_1e6
        |  FROM daily GROUP BY 1)
        |SELECT "rank", user_id, n_events, score_1e6 FROM (
        |  SELECT *, row_number() OVER (ORDER BY score_1e6 DESC,
        |    user_id) AS "rank" FROM sc)
        |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,

    // q181: per-conversion credit sums to exactly 10000 bp by
    // largest-remainder construction — all integer.
    "q181_linear_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |p AS (SELECT user_id, event_id AS p_id, es AS p_es FROM ev
        |  WHERE event_type = 'purchase'),
        |tc AS (SELECT user_id, event_id AS t_id,
        |  event_type AS touch_type, es AS t_es FROM ev
        |  WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.p_id, tc.t_id, tc.touch_type, tc.t_es
        |  FROM p JOIN tc ON tc.user_id = p.user_id
        |  AND tc.t_es <= p.p_es AND p.p_es - tc.t_es <= 7 * 86400),
        |cr AS (SELECT p_id, touch_type,
        |  CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS k,
        |  CAST(row_number() OVER (PARTITION BY p_id
        |    ORDER BY t_es DESC, t_id DESC) AS BIGINT) AS rn
        |  FROM j)
        |SELECT touch_type,
        |CAST(sum(10000 // k + CASE WHEN rn <= 10000 % k THEN 1
        |  ELSE 0 END) AS BIGINT) AS credit_bp,
        |CAST(count(*) AS BIGINT) AS n_touches,
        |CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions
        |FROM cr GROUP BY 1 ORDER BY touch_type""".stripMargin,

    // q182: q171's pair CTEs + 4 unrolled synchronous LPA rounds
    // (plurality label, smallest-label tie-break) mirroring
    // Graphs.labelPropagation exactly.
    "q182_label_propagation" -> {
      val rounds = (1 to 4).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.src, l.lbl, count(*) AS c
           |  FROM e0 e JOIN l${i - 1} l ON l.id = e.dst GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT src AS id, lbl FROM (
           |  SELECT src, lbl, row_number() OVER (PARTITION BY src
           |    ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${embedGraphCtes("jp", "0.30", " MATERIALIZED")},
         |${edgesCte("e0", "jp", " MATERIALIZED")},
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e0),
         |$rounds,
         |co AS (SELECT lbl AS community, CAST(count(*) AS BIGINT)
         |  AS n_nodes FROM l4 GROUP BY 1)
         |SELECT "rank", community, n_nodes FROM (
         |  SELECT *, row_number() OVER (ORDER BY n_nodes DESC,
         |    community) AS "rank" FROM co)
         |WHERE "rank" <= 50 ORDER BY "rank"""".stripMargin
    },

    // q183: q163's sessionization; the stationary unroll replays 8
    // integer fixed-point power-iteration rounds (per-term floor,
    // mass leak reproduced exactly).
    "q183_markov_stationary" -> {
      val rounds = (1 to 8).map { i =>
        s"""p$i AS MATERIALIZED (SELECT st.s,
           |  CAST(coalesce(x.pi_in, 0) AS BIGINT) AS pi FROM st
           |  LEFT JOIN (SELECT p.b AS s,
           |    sum(pp.pi * p.p_1e6 // 1000000) AS pi_in
           |    FROM p JOIN p${i - 1} pp ON pp.s = p.a GROUP BY 1) x
           |  ON x.s = st.s)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${sessionCtes("user_id, ts, event_id, event_type,",
           "user_id, ts, event_id, event_type,")},
         |tr AS (SELECT event_type AS a, lead(event_type, 1) OVER sw AS b
         |FROM s WINDOW sw AS (PARTITION BY user_id, sid
         |  ORDER BY ts, event_id)),
         |tc AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS t_ab
         |  FROM tr WHERE b IS NOT NULL GROUP BY 1, 2),
         |tt AS MATERIALIZED (SELECT a, CAST(sum(t_ab) AS BIGINT) AS t_a
         |  FROM tc GROUP BY 1),
         |p AS MATERIALIZED (SELECT tc.a, tc.b,
         |  CAST(CAST(t_ab AS HUGEINT) * 1000000 // t_a AS BIGINT)
         |    AS p_1e6
         |  FROM tc JOIN tt ON tt.a = tc.a),
         |st AS MATERIALIZED (SELECT a AS s, t_a,
         |  (SELECT count(*) FROM tt) AS m FROM tt),
         |p0 AS MATERIALIZED (SELECT s, CAST(1000000 // m AS BIGINT)
         |  AS pi FROM st),
         |$rounds
         |SELECT st.s AS state, st.t_a AS n_out,
         |CAST(coalesce(sf.p_1e6, 0) AS BIGINT) AS p_self_1e6,
         |p8.pi AS pi_1e6
         |FROM st JOIN p8 ON p8.s = st.s
         |LEFT JOIN (SELECT a, p_1e6 FROM p WHERE a = b) sf
         |  ON sf.a = st.s
         |ORDER BY state""".stripMargin
    },

    // q184: 2-D sort-scan skyline via two shared-sort windows; the
    // strictly-cheaper frame is RANGE … 1 PRECEDING on integer cents.
    "q184_skyline" ->
      """WITH p AS (SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
        |  p_size FROM part),
        |m AS (SELECT p_partkey, price_c, p_size,
        |  max(p_size) OVER (ORDER BY price_c
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |  max(p_size) OVER (PARTITION BY price_c) AS m2 FROM p)
        |SELECT p_partkey, CAST(price_c AS DOUBLE) / 100.0 AS price,
        |p_size FROM m
        |WHERE (m1 IS NULL OR m1 < p_size) AND m2 = p_size
        |ORDER BY price, p_partkey""".stripMargin,

    // q186: digit from the integer-cents string head; pinned
    // log10(1+1/d) 1e-6 literals (sum exactly 1e6); chi2 terms are
    // one rounded double expression of exact integers.
    "q186_benford_audit" ->
      """WITH d AS (SELECT * FROM (VALUES (1, 301030), (2, 176091),
        |  (3, 124939), (4, 96910), (5, 79181), (6, 66947),
        |  (7, 57992), (8, 51153), (9, 45757)) t(digit, exp_1e6)),
        |o AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |  AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |  CAST(count(*) AS BIGINT) AS n_d FROM orders GROUP BY 1),
        |n AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM o)
        |SELECT d.digit, CAST(coalesce(o.n_d, 0) AS BIGINT) AS n_d,
        |CAST(coalesce(o.n_d, 0) * 1000000 // n.n AS BIGINT) AS obs_1e6,
        |CAST(d.exp_1e6 AS BIGINT) AS exp_1e6,
        |CAST(round(pow(CAST(coalesce(o.n_d, 0) * 1000000
        |  - n.n * d.exp_1e6 AS DOUBLE), 2)
        |  / (CAST(n.n AS DOUBLE) * d.exp_1e6 * 1000000)) AS BIGINT)
        |  AS chi2_term
        |FROM d LEFT JOIN o ON o.digit = d.digit CROSS JOIN n
        |ORDER BY d.digit""".stripMargin,

    // q187: one wide aggregation, unpivoted; min/max as doubles
    // (comparisons only, no float arithmetic).
    "q187_column_profile" ->
      """WITH w AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS q_distinct,
        |  CAST(min(l_quantity) AS DOUBLE) AS q_min,
        |  CAST(max(l_quantity) AS DOUBLE) AS q_max,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS e_nulls,
        |  CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS e_distinct,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS e_min,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS e_max,
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
        |  CAST(count(DISTINCT l_discount) AS BIGINT) AS d_distinct,
        |  CAST(min(l_discount) AS DOUBLE) AS d_min,
        |  CAST(max(l_discount) AS DOUBLE) AS d_max,
        |  CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
        |  CAST(count(DISTINCT l_tax) AS BIGINT) AS t_distinct,
        |  CAST(min(l_tax) AS DOUBLE) AS t_min,
        |  CAST(max(l_tax) AS DOUBLE) AS t_max
        |  FROM lineitem)
        |SELECT column_name, n_rows, n_nulls, n_distinct, min_v, max_v
        |FROM (
        |  SELECT 'l_quantity' AS column_name, n_rows, q_nulls AS n_nulls,
        |    q_distinct AS n_distinct, q_min AS min_v, q_max AS max_v FROM w
        |  UNION ALL SELECT 'l_extendedprice', n_rows, e_nulls,
        |    e_distinct, e_min, e_max FROM w
        |  UNION ALL SELECT 'l_discount', n_rows, d_nulls, d_distinct,
        |    d_min, d_max FROM w
        |  UNION ALL SELECT 'l_tax', n_rows, t_nulls, t_distinct,
        |    t_min, t_max FROM w)
        |ORDER BY column_name""".stripMargin,

    // q188: q107's register chain, then inclusion-exclusion over
    // the register-max union merge; estimates replay exactly.
    "q188_hll_intersection" ->
      s"""WITH p AS (SELECT DISTINCT event_type, user_id FROM events),
         |hh AS (SELECT event_type, user_id,
         |  md5('hll|' || CAST(user_id AS VARCHAR)) AS h FROM p),
         |${hllRankCtes("event_type", "hh", "hx", "zz", "rk")},
         |regs AS MATERIALIZED (SELECT event_type, bucket, max(r) AS r
         |  FROM rk GROUP BY 1, 2),
         |pt AS (SELECT event_type,
         |  round(0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
         |    / (s_used + (256 - nb) * 562949953421312::BIGINT), 2) AS est
         |  FROM (SELECT event_type,
         |    CAST(sum(1::BIGINT << (49 - r)) AS BIGINT) AS s_used,
         |    count(*) AS nb FROM regs GROUP BY 1)),
         |tp AS (SELECT a.event_type AS ta, b.event_type AS tb
         |  FROM (SELECT DISTINCT event_type FROM regs) a
         |  JOIN (SELECT DISTINCT event_type FROM regs) b
         |  ON a.event_type < b.event_type),
         |ur AS (SELECT ta, tb, bucket, max(r) AS r FROM (
         |  SELECT tp.ta, tp.tb, g.bucket, g.r FROM tp
         |    JOIN regs g ON g.event_type = tp.ta
         |  UNION ALL SELECT tp.ta, tp.tb, g.bucket, g.r FROM tp
         |    JOIN regs g ON g.event_type = tp.tb) GROUP BY 1, 2, 3),
         |eu AS (SELECT ta, tb,
         |  round(0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
         |    / (s_used + (256 - nb) * 562949953421312::BIGINT), 2)
         |    AS est_union
         |  FROM (SELECT ta, tb,
         |    CAST(sum(1::BIGINT << (49 - r)) AS BIGINT) AS s_used,
         |    count(*) AS nb FROM ur GROUP BY 1, 2)),
         |ex AS (SELECT a.event_type AS ta, b.event_type AS tb,
         |  CAST(count(*) AS BIGINT) AS exact_inter
         |  FROM p a JOIN p b ON a.user_id = b.user_id
         |    AND a.event_type < b.event_type GROUP BY 1, 2)
         |SELECT eu.ta, eu.tb, pa.est AS est_a, pb.est AS est_b,
         |eu.est_union,
         |round(pa.est + pb.est - eu.est_union, 2) AS est_inter,
         |ex.exact_inter,
         |round((round(pa.est + pb.est - eu.est_union, 2) - ex.exact_inter)
         |  / nullif(ex.exact_inter, 0), 4) AS rel_err
         |FROM eu JOIN pt pa ON pa.event_type = eu.ta
         |JOIN pt pb ON pb.event_type = eu.tb
         |JOIN ex ON ex.ta = eu.ta AND ex.tb = eu.tb
         |ORDER BY eu.ta, eu.tb""".stripMargin,

    // q189: PAA frames are integer SUMS; tercile symbols by exact
    // nearest-rank cross-multiplication; motifs from lead windows.
    "q189_sax_motifs" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day",
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |fr AS (SELECT event_type,
        |  date_diff('day', min("day") OVER (PARTITION BY event_type),
        |    "day") // 3 AS frame, n FROM daily),
        |pa AS (SELECT event_type, frame, CAST(sum(n) AS BIGINT) AS paa
        |  FROM fr GROUP BY 1, 2),
        |sy AS (SELECT event_type, frame,
        |  CASE WHEN rk * 3 <= nf THEN 'a'
        |    WHEN rk * 3 <= nf * 2 THEN 'b' ELSE 'c' END AS sym
        |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY paa, frame) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS nf FROM pa)),
        |wd AS (SELECT event_type,
        |  sym || lead(sym, 1) OVER ow || lead(sym, 2) OVER ow AS word,
        |  lead(sym, 2) OVER ow AS s3 FROM sy
        |  WINDOW ow AS (PARTITION BY event_type ORDER BY frame)),
        |ct AS (SELECT event_type, word,
        |  CAST(count(*) AS BIGINT) AS n_occurs FROM wd
        |  WHERE s3 IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, "rank", word, n_occurs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY n_occurs DESC, word) AS "rank" FROM ct)
        |WHERE "rank" <= 3 ORDER BY event_type, "rank"""".stripMargin,

    // q190: 5 unrolled greedy rounds — anti-join gain count, top-1
    // by (gain DESC, doc_id), covered-set union — mirroring the
    // Spark rounds exactly.
    "q190_greedy_coverage" -> {
      val rounds = (2 to 5).map { i =>
        s"""g$i AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS gain
           |  FROM tokd t LEFT JOIN c${i - 1} c ON c.tok = t.tok
           |  WHERE c.tok IS NULL GROUP BY 1),
           |w$i AS MATERIALIZED (SELECT $i AS "round", doc_id, gain
           |  FROM g$i ORDER BY gain DESC, doc_id LIMIT 1),
           |c$i AS MATERIALIZED (SELECT tok FROM c${i - 1}
           |  UNION SELECT t.tok FROM tokd t JOIN w$i USING (doc_id))"""
          .stripMargin
      }.mkString(",\n")
      s"""${SHINGLE_CTES},
         |tokd AS MATERIALIZED (SELECT doc_id, unnest(sh) AS tok
         |  FROM ss),
         |g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
         |  FROM tokd GROUP BY 1),
         |w1 AS MATERIALIZED (SELECT 1 AS "round", doc_id, gain
         |  FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
         |c1 AS MATERIALIZED (SELECT DISTINCT t.tok FROM tokd t
         |  JOIN w1 USING (doc_id)),
         |$rounds,
         |ws AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2
         |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
         |  UNION ALL SELECT * FROM w5)
         |SELECT "round", doc_id, gain,
         |CAST(sum(gain) OVER (ORDER BY "round"
         |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered_total
         |FROM ws ORDER BY "round"""".stripMargin
    },

    // q191: Apriori — candidates from F2 self-join + all-subsets
    // pruning; support counted only for candidates.
    "q191_frequent_triples" ->
      """WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
        |  p.p_brand AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM bk),
        |f2 AS MATERIALIZED (SELECT a.b AS pa, c.b AS pb
        |  FROM bk a JOIN bk c ON a.ok = c.ok AND a.b < c.b
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |cd AS (SELECT x.pa AS ba, x.pb AS bb, y.pb AS bc
        |  FROM f2 x JOIN f2 y ON y.pa = x.pb
        |  WHERE EXISTS (SELECT 1 FROM f2 z
        |    WHERE z.pa = x.pa AND z.pb = y.pb)),
        |tri AS (SELECT a.ok, a.b AS ba, b.b AS bb, c.b AS bc
        |  FROM bk a JOIN bk b ON b.ok = a.ok AND a.b < b.b
        |  JOIN bk c ON c.ok = a.ok AND b.b < c.b),
        |sp AS (SELECT tri.ba, tri.bb, tri.bc,
        |  CAST(count(*) AS BIGINT) AS support
        |  FROM tri JOIN cd ON cd.ba = tri.ba AND cd.bb = tri.bb
        |    AND cd.bc = tri.bc
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 5)
        |SELECT "rank", ba, bb, bc, support,
        |CAST(support * 10000 // n_orders AS BIGINT) AS support_bp
        |FROM (SELECT *, row_number() OVER (ORDER BY support DESC,
        |  ba, bb, bc) AS "rank" FROM sp) CROSS JOIN n
        |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,

    // q192: truth = uncapped all-pairs; capped (df <= 50) and LSH
    // (q23's signature replay) scored by exact semi-join recall.
    // The TRUTH threshold is the unrounded integer comparison (the
    // q185 emit predicate); the capped/LSH regimes keep their own
    // operators' rounded comparisons because they mirror q22/q23.
    "q192_mining_recall" ->
      s"""${SHINGLE_CTES},
         |post AS MATERIALIZED (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM ss),
         |tp AS MATERIALIZED (SELECT id_a, id_b
         |  FROM (SELECT a.doc_id, b.doc_id AS doc_id_b, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS shared
         |    FROM post a JOIN post b ON a.shingle = b.shingle
         |      AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2, 3, 4) t(id_a, id_b, na, nb, shared)
         |  WHERE shared * 10000 >= 2000 * (na + nb - shared)),
         |keep AS (SELECT shingle FROM post GROUP BY shingle
         |  HAVING count(*) <= 50),
         |fp AS (SELECT p.doc_id, p.n_sh, p.shingle FROM post p
         |  JOIN keep k ON p.shingle = k.shingle),
         |cp AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na,
         |    b.n_sh AS nb, count(*) AS shared
         |  FROM fp a JOIN fp b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |  WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2),
         |${lshPairCtes(" MATERIALIZED")},
         |nt AS (SELECT count(*) AS n_truth FROM tp),
         |rows_out AS (
         |  SELECT 'capped_df50' AS regime,
         |    (SELECT count(*) FROM cp) AS n_pairs,
         |    (SELECT count(*) FROM cp JOIN tp USING (id_a, id_b))
         |      AS n_hit
         |  UNION ALL SELECT 'exact_prefix',
         |    (SELECT count(*) FROM tp),
         |    (SELECT count(*) FROM tp)
         |  UNION ALL SELECT 'lsh_b4r2',
         |    (SELECT count(*) FROM lp),
         |    (SELECT count(*) FROM lp JOIN tp USING (id_a, id_b)))
         |SELECT regime, CAST(n_pairs AS BIGINT) AS n_pairs,
         |CAST(n_hit AS BIGINT) AS n_hit,
         |CAST(n_hit * 10000 // nt.n_truth AS BIGINT) AS recall_bp
         |FROM rows_out CROSS JOIN nt ORDER BY regime""".stripMargin,

    // q193: weeks-lifetime hazard with right-censoring in the final
    // 7 days; at_risk is a descending running sum.
    "q193_churn_hazard" ->
      """WITH per AS (SELECT o_custkey,
        |  min(CAST(o_orderdate AS DATE)) AS first_d,
        |  max(CAST(o_orderdate AS DATE)) AS last_d
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(last_d) AS m FROM per),
        |u AS (SELECT date_diff('day', first_d, last_d) // 90 AS k,
        |  CASE WHEN last_d > m - INTERVAL 90 DAY THEN 1 ELSE 0 END
        |    AS censored
        |  FROM per CROSS JOIN mx),
        |bk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_ending,
        |  CAST(sum(censored) AS BIGINT) AS n_censored
        |  FROM u GROUP BY 1),
        |r AS (SELECT k, n_ending, n_censored,
        |  n_ending - n_censored AS churned,
        |  CAST(sum(n_ending) OVER (ORDER BY k DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk
        |  FROM bk)
        |SELECT CAST(k AS BIGINT) AS k, at_risk,
        |CAST(churned AS BIGINT) AS churned, n_censored,
        |CAST(churned * 10000 // at_risk AS BIGINT) AS hazard_bp
        |FROM r ORDER BY k""".stripMargin,

    // q194: cumulative distinct users == running sum of daily new
    // counts (first-seen identity) — no distinct-over-window.
    "q194_daily_audience" ->
      """WITH ev AS (SELECT user_id,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day" FROM events),
        |pd AS (SELECT "day", CAST(count(*) AS BIGINT) AS n_events
        |  FROM ev GROUP BY 1),
        |fs AS (SELECT user_id, min("day") AS first_d FROM ev
        |  GROUP BY 1),
        |du AS (SELECT DISTINCT user_id, "day" FROM ev),
        |us AS (SELECT du."day",
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN du."day" = fs.first_d THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new
        |  FROM du JOIN fs USING (user_id) GROUP BY 1)
        |SELECT strftime(us."day", '%Y-%m-%d') AS "day", pd.n_events,
        |us.n_users, us.n_new,
        |CAST(us.n_users - us.n_new AS BIGINT) AS n_returning,
        |CAST(sum(us.n_new) OVER (ORDER BY us."day"
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM us JOIN pd ON pd."day" = us."day"
        |ORDER BY us."day"""".stripMargin,

    // q158: the anomaly FLAG is pure integer algebra over exact
    // window sums — z² ≥ 4 ⟺ (n·k−s1)² ≥ 4·(k·s2−s1²); the reported
    // z derives from the same integers and rounds once.
    "q158_rate_anomaly" ->
      """WITH daily AS (SELECT event_type,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS "day",
        |  count(*) AS n FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, "day", n,
        |  CAST(sum(n) OVER tw AS BIGINT) AS s1,
        |  CAST(sum(n*n) OVER tw AS BIGINT) AS s2,
        |  CAST(count(n) OVER tw AS BIGINT) AS k
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY "day"
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT event_type, "day", n, s1, k,
        |  n*k - s1 AS num, k*s2 - s1*s1 AS den
        |  FROM w WHERE k >= 4)
        |SELECT event_type, "day", n, s1, k,
        |CASE WHEN den = 0 THEN NULL
        |  ELSE round(sign(num) * sqrt(CAST(num*num AS DOUBLE)/den), 4)
        |  END AS z,
        |(den > 0 AND num*num >= den*4) AS is_anomaly
        |FROM f ORDER BY event_type, "day"""".stripMargin,

    // q159: q46's quality expression, per-language nearest-rank
    // bottom-decile quota; averages ride as 1e-4 fixed-point BIGINTs.
    "q159_adaptive_quality_cut" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
         |m AS (SELECT doc_id, lang, len(toks) AS n,
         |CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_filter(toks,
         |  x -> list_contains(['the','a'], x))) AS DOUBLE)/len(toks) END AS stop_r,
         |CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_distinct(toks))
         |  AS DOUBLE)/len(toks) END AS uniq_r
         |FROM d),
         |q AS (SELECT doc_id, lang,
         |round(uniq_r*0.5 + (1.0-stop_r)*0.3
         |  + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4) AS quality
         |FROM m),
         |r AS (SELECT lang, doc_id, quality,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY quality, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY lang) AS n_docs
         |  FROM q),
         |r2 AS (SELECT *, (n_docs + 9) // 10 AS k_cut,
         |  CAST(round(quality * 10000) AS BIGINT) AS qfp FROM r),
         |a AS (SELECT lang,
         |  CAST(max(n_docs) AS BIGINT) AS n_docs,
         |  CAST(max(k_cut) AS BIGINT) AS k_cut,
         |  max(CASE WHEN rk <= k_cut THEN quality END) AS p10_quality,
         |  CAST(sum(CASE WHEN rk <= k_cut THEN qfp END) AS BIGINT) AS cut_fp,
         |  CAST(sum(CASE WHEN rk > k_cut THEN qfp END) AS BIGINT) AS kept_fp
         |  FROM r2 GROUP BY lang)
         |SELECT lang, n_docs, k_cut, p10_quality,
         |round(cut_fp / k_cut / 10000.0, 4) AS avg_cut_quality,
         |CASE WHEN n_docs = k_cut THEN NULL
         |  ELSE round(kept_fp / (n_docs - k_cut) / 10000.0, 4)
         |  END AS avg_kept_quality,
         |CAST(k_cut * 10000 // n_docs AS BIGINT) AS cut_bp
         |FROM a ORDER BY lang""".stripMargin,

    // q155: q153's removal tail driven by the EVAL gram set (q89's
    // doc_id % 50 split) at k=5 — cut contaminated spans, keep docs.
    "q155_decon_span_removal" ->
      s"""WITH tok AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |tr AS (SELECT * FROM tok WHERE doc_id % 50 <> 0),
         |ev AS (SELECT * FROM tok WHERE doc_id % 50 = 0),
         |gr0 AS (SELECT doc_id,
         |  CASE WHEN len(tk) < 5 THEN []::BIGINT[]
         |    ELSE range(1, len(tk)-3) END AS ps,
         |  CASE WHEN len(tk) < 5 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)-3),
         |      i -> array_to_string(tk[i:i+4], ' ')) END AS gs
         |  FROM tr),
         |gr AS (SELECT doc_id, unnest(ps) AS pos, unnest(gs) AS g FROM gr0),
         |eg AS (SELECT DISTINCT g FROM (
         |  SELECT unnest(CASE WHEN len(tk) < 5 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)-3),
         |      i -> array_to_string(tk[i:i+4], ' ')) END) AS g FROM ev)),
         |cov AS (SELECT DISTINCT gr.doc_id, gr.pos + o.o AS cp
         |  FROM gr JOIN eg USING (g)
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS o) o),
         |${spanRemovalSql("tr")}""".stripMargin,

    // q150: signs from md5('rp|j|d') first-nibble parity (strpos over
    // the hex alphabet); all sums are fixed-point BIGINT so the only
    // float op is the final rounded ratio.
    "q150_random_projection" ->
      """WITH v AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |  x -> CAST(floor(x * 10000) AS BIGINT)) AS qv FROM embeddings),
        |js AS (SELECT unnest(range(0, 8)) AS j),
        |ds AS (SELECT unnest(range(0, 64)) AS d),
        |sg AS (SELECT j, d, CASE WHEN (strpos('0123456789abcdef',
        |    substring(md5('rp|' || CAST(j AS VARCHAR) || '|'
        |      || CAST(d AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |  THEN 1 ELSE -1 END AS s FROM js CROSS JOIN ds),
        |dim AS (SELECT vec_id, ds.d AS d, qv[CAST(ds.d + 1 AS INT)] AS q
        |  FROM v CROSS JOIN ds),
        |pr AS (SELECT vec_id, j, CAST(sum(s * q) AS BIGINT) AS p
        |  FROM dim JOIN sg USING (d) GROUP BY 1, 2),
        |pv AS (SELECT vec_id, list(p ORDER BY j) AS pv FROM pr GROUP BY 1),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  a.qv AS qa, b.qv AS qb, pa.pv AS pa, pb.pv AS pb
        |  FROM v a JOIN v b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0
        |  JOIN pv pa ON pa.vec_id = a.vec_id
        |  JOIN pv pb ON pb.vec_id = b.vec_id),
        |d2 AS (SELECT id_a, id_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> (qa[CAST(i AS INT)] - qb[CAST(i AS INT)])
        |       * (qa[CAST(i AS INT)] - qb[CAST(i AS INT)]))) AS BIGINT)
        |    AS orig_d2,
        |  CAST(list_sum(list_transform(range(1, 9),
        |    i -> (pa[CAST(i AS INT)] - pb[CAST(i AS INT)])
        |       * (pa[CAST(i AS INT)] - pb[CAST(i AS INT)]))) AS BIGINT)
        |    AS proj_d2
        |  FROM pairs)
        |SELECT id_a, id_b, orig_d2, proj_d2,
        |round(CAST(proj_d2 AS DOUBLE) / (orig_d2 * 8), 4) AS distortion
        |FROM d2 ORDER BY id_a""".stripMargin,

    // q151: pure integer odds votes — cross-multiplied relative
    // frequencies, no logs, no floats anywhere.
    "q151_domain_relevance" ->
      s"""WITH d AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
         |bg0 AS (SELECT doc_id, source,
         |  CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)),
         |      i -> array_to_string(tk[i:i+1], ' ')) END AS gs FROM d),
         |bg AS (SELECT doc_id, source, unnest(gs) AS g FROM bg0),
         |bb AS (SELECT doc_id, source,
         |  (strpos('0123456789abcdef', substring(md5('f|' || g), 1, 1)) - 1)
         |    * 16
         |  + strpos('0123456789abcdef', substring(md5('f|' || g), 2, 1)) - 1
         |  AS b,
         |  CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t FROM bg),
         |tc AS (SELECT b, count(*) AS tcnt FROM bb WHERE is_t = 1 GROUP BY b),
         |rc AS (SELECT b, count(*) AS rcnt FROM bb WHERE is_t = 0 GROUP BY b),
         |tt AS (SELECT count(*) AS ttotal FROM bb WHERE is_t = 1),
         |rt AS (SELECT count(*) AS rtotal FROM bb WHERE is_t = 0),
         |vt AS (SELECT coalesce(tc.b, rc.b) AS b,
         |  CASE WHEN coalesce(tcnt, 0) * rtotal > coalesce(rcnt, 0) * ttotal
         |    THEN 1
         |  WHEN coalesce(tcnt, 0) * rtotal < coalesce(rcnt, 0) * ttotal
         |    THEN -1 ELSE 0 END AS vote
         |  FROM tc FULL JOIN rc ON tc.b = rc.b
         |  CROSS JOIN tt CROSS JOIN rt),
         |sc AS (SELECT doc_id, CAST(sum(vote) AS BIGINT) AS score
         |  FROM bb JOIN vt USING (b) WHERE is_t = 0 GROUP BY doc_id),
         |rk AS (SELECT doc_id, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc)
         |SELECT r.rk, r.doc_id, dd.source, dd.lang, r.score
         |FROM rk r JOIN documents dd USING (doc_id)
         |WHERE r.rk <= 25 ORDER BY r.rk""".stripMargin,

    // q152: brute-force 5-NN majority vote; sim rounded to 4 dp
    // before ranking (q25's determinism rule), vote ties by label.
    "q152_knn_label_confusion" ->
      """WITH v AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id % 5 = 0),
        |c AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  c.label AS n_label,
        |  round(list_dot_product(q.e, c.e)
        |    / (sqrt(list_dot_product(q.e, q.e))
        |       * sqrt(list_dot_product(c.e, c.e))), 4) AS sim
        |  FROM q CROSS JOIN c),
        |nn AS (SELECT query_id, n_label FROM (
        |  SELECT query_id, n_label, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM s) WHERE rk <= 5),
        |votes AS (SELECT query_id, n_label AS pred_label,
        |  count(*) AS agree FROM nn GROUP BY 1, 2),
        |pred AS (SELECT query_id, pred_label, agree FROM (
        |  SELECT query_id, pred_label, agree, row_number() OVER (
        |    PARTITION BY query_id ORDER BY agree DESC, pred_label) AS vr
        |  FROM votes) WHERE vr = 1)
        |SELECT q.label AS true_label, p.pred_label,
        |CAST(count(*) AS BIGINT) AS n,
        |round(CAST(sum(p.agree) AS DOUBLE) / (5.0 * count(*)), 4)
        |  AS mean_agreement
        |FROM pred p JOIN q ON q.vec_id = p.query_id
        |GROUP BY 1, 2 ORDER BY true_label, pred_label""".stripMargin,

    "q42_tfidf_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, "rank", term, score FROM (
         |SELECT tf.doc_id, tf.term,
         |round(tf.tf/(df.df+1.0), 6) AS score,
         |row_number() OVER (PARTITION BY tf.doc_id
         |  ORDER BY round(tf.tf/(df.df+1.0), 6) DESC, tf.term) AS "rank"
         |FROM tf JOIN df ON tf.term = df.term)
         |WHERE "rank" <= 3 ORDER BY doc_id, "rank"""".stripMargin,

    "q43_rollup" ->
      s"""SELECT coalesce("day", 'ALL') AS "day",
         |coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
         |${cents("value")} AS total_value
         |FROM (SELECT strftime(ts, '%Y-%m-%d') AS "day", event_type, value
         |  FROM events)
         |GROUP BY ROLLUP("day", event_type)
         |ORDER BY 1, 2""".stripMargin,

    "q44_ship_delay" ->
      """SELECT o_orderstatus, count(*) AS n,
        |round(avg(delay_days), 2) AS avg_delay,
        |CAST(min(delay_days) AS INT) AS min_delay,
        |CAST(max(delay_days) AS INT) AS max_delay
        |FROM (SELECT o_orderstatus,
        |date_diff('day', CAST(o_orderdate AS DATE),
        |  CAST(l_shipdate AS DATE)) AS delay_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q45_stratified_sample" ->
      """SELECT lang, sample_rank, doc_id, source, n_chars FROM (
        |SELECT lang, doc_id, source, n_chars,
        |row_number() OVER (PARTITION BY lang
        |  ORDER BY md5('graft-r1' || '|' || CAST(doc_id AS VARCHAR)),
        |  doc_id) AS sample_rank
        |FROM documents) WHERE sample_rank <= 5
        |ORDER BY lang, sample_rank""".stripMargin,

    "q46_quality_filter" ->
      s"""WITH d AS (SELECT lang, $TOKS AS toks FROM documents),
         |m AS (SELECT lang, len(toks) AS n,
         |CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_filter(toks,
         |  x -> list_contains(['the','a'], x))) AS DOUBLE)/len(toks) END AS stop_r,
         |CASE WHEN len(toks)=0 THEN 0.0 ELSE CAST(len(list_distinct(toks))
         |  AS DOUBLE)/len(toks) END AS uniq_r
         |FROM d),
         |q AS (SELECT lang, n, stop_r, uniq_r,
         |round(uniq_r*0.5 + (1.0-stop_r)*0.3
         |  + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4) AS quality
         |FROM m),
         |c AS (SELECT lang, quality,
         |CASE WHEN n < 10 THEN 'drop:too_short'
         |  WHEN stop_r > 0.5 THEN 'drop:stopword_stuffed'
         |  WHEN uniq_r < 0.2 THEN 'drop:repetitive'
         |  WHEN quality < 0.5 THEN 'drop:low_quality'
         |  ELSE 'keep' END AS decision
         |FROM q)
         |SELECT lang, decision, count(*) AS n, round(avg(quality), 4) AS avg_q
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q47_crossmodal" ->
      s"""${SHINGLE_CTES},
         |${cappedPairCtes("fp", "pairs")},
         |j AS (SELECT id_a, id_b,
         |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard
         |FROM pairs WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT j.id_a, j.id_b, j.jaccard,
         |round(list_dot_product(va.e, vb.e)
         |  /(sqrt(list_dot_product(va.e, va.e))*sqrt(list_dot_product(vb.e, vb.e))), 4) AS emb_sim
         |FROM j JOIN v va ON j.id_a = va.vec_id JOIN v vb ON j.id_b = vb.vec_id
         |ORDER BY j.id_a, j.id_b""".stripMargin,

    "q48_location_clean" ->
      s"""WITH d AS (SELECT doc_id, source, $LOC_SYNTH AS loc FROM documents),
         |base AS (SELECT loc FROM d
         |  WHERE loc IS NOT NULL AND loc != '' AND loc != 'Unknown'),
         |s0 AS (SELECT upper(trim(regexp_replace(loc,
         |  '[📍🌍🌎🌏🗺️]', '', 'g'))) AS lc FROM base),
         |s AS (SELECT lc FROM s0 WHERE length(lc) > 2
         |  AND lc NOT IN $STREAM_BLACKLIST_IN
         |  AND NOT contains(lc, 'HTTP') AND NOT contains(lc, 'WWW.')
         |  AND NOT starts_with(lc, '#')),
         |b0 AS (SELECT regexp_replace(trim(lower(loc)),
         |  '[📍🌍🌎🌏🚀💎]', '', 'g') AS lc FROM base),
         |b AS (SELECT lc FROM b0
         |  WHERE NOT starts_with(lc, '[') AND NOT starts_with(lc, '#')
         |  AND NOT regexp_matches(lc, '^\\d{4}-\\d{2}-\\d{2}')
         |  AND NOT regexp_matches(lc, '^\\d{2}:\\d{2}:\\d{2}')
         |  AND length(lc) > 3 AND length(lc) < 100
         |  $BATCH_KEYWORD_FILTERS
         |  AND NOT regexp_matches(lc, '^[0-9]+$$')
         |  AND NOT contains(lc, 'http') AND NOT contains(lc, 'www.')),
         |u AS (
         |  SELECT 'batch' AS variant, count(*) AS n_kept,
         |    count(DISTINCT lc) AS n_distinct FROM b
         |  UNION ALL
         |  SELECT 'streaming', count(*), count(DISTINCT lc) FROM s)
         |SELECT variant, n_kept, n_distinct FROM u ORDER BY variant""".stripMargin,

    "q49_spam_profile" ->
      s"""WITH d AS (SELECT source,
         |  CASE WHEN doc_id % 13 = 0 THEN 'Act now! Win FREE bonus'
         |    WHEN doc_id % 11 = 0 THEN text || ' see https://promo.example/x'
         |    ELSE text END AS tweet
         |  FROM documents),
         |f AS (SELECT source,
         |  regexp_matches(tweet, 'http[s]?://') AS url_f,
         |  regexp_matches(tweet, '$SPAM_REGEX') AS spam_f,
         |  len(string_split_regex(tweet, '\\s+')) AS wc
         |  FROM d),
         |g AS (SELECT source, url_f, spam_f, wc, wc <= 5 AS short_f,
         |  (CASE WHEN url_f THEN 1 ELSE 0 END
         |   + CASE WHEN spam_f THEN 1 ELSE 0 END
         |   + CASE WHEN wc <= 5 THEN 1 ELSE 0 END) AS score
         |  FROM f)
         |SELECT source, count(*) AS n_docs,
         |CAST(sum(CASE WHEN url_f THEN 1 ELSE 0 END) AS BIGINT) AS with_urls,
         |CAST(sum(CASE WHEN spam_f THEN 1 ELSE 0 END) AS BIGINT) AS spam_docs,
         |CAST(sum(CASE WHEN short_f THEN 1 ELSE 0 END) AS BIGINT) AS very_short,
         |round(avg(wc), 2) AS avg_words,
         |CAST(sum(CASE WHEN score >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS high_risk
         |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "q50_device_profile" ->
      s"""WITH d AS (SELECT lang,
         |  CASE WHEN doc_id % 8 = 0 THEN 'Twitter Web App'
         |    WHEN doc_id % 8 = 1 THEN 'Twitter for Android'
         |    WHEN doc_id % 8 = 2 THEN 'Twitter for iPhone'
         |    WHEN doc_id % 8 = 3 THEN 'IFTTT'
         |    WHEN doc_id % 8 = 4 THEN 'crypto feed aggregator'
         |    WHEN doc_id % 8 = 5 THEN 'TweetDeck'
         |    WHEN doc_id % 8 = 6 THEN 'Twitter for Mac'
         |    ELSE 'Mobile Web' END AS src
         |  FROM documents),
         |c AS (SELECT lang, src,
         |  CASE WHEN regexp_matches(lower(src), '$BOT_REGEX')
         |    THEN 'Bots y Automatizacion'
         |  WHEN contains(src, 'Web App') THEN 'PC Web Browser'
         |  WHEN contains(src, 'Android') THEN 'Android'
         |  WHEN contains(src, 'iPhone') OR contains(src, 'iPad')
         |    OR contains(src, 'Mac') THEN 'Apple iOS Mac'
         |  ELSE 'Otras Apps' END AS device_category
         |  FROM d)
         |SELECT lang, device_category, count(*) AS n,
         |count(DISTINCT src) AS n_sources,
         |round(count(*)*100.0/sum(count(*)) OVER (PARTITION BY lang), 2) AS pct
         |FROM c GROUP BY lang, device_category
         |ORDER BY lang, device_category""".stripMargin,

    "q51_mentions" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' @user'
        |    || CAST(doc_id % 25 AS VARCHAR) || ' and @Crypto_Bot99'
        |  ELSE text END AS tweet
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  unnest(regexp_extract_all(tweet, '@([A-Za-z0-9_]+)', 1)) AS mention
        |  FROM d)
        |SELECT mention, count(*) AS mention_count,
        |count(DISTINCT doc_id) AS n_docs
        |FROM m WHERE mention != ''
        |GROUP BY mention ORDER BY mention""".stripMargin,

    // Mirrors the deterministic two-batch replay of the chained
    // topology (see Queries.q52ChainedMetrics): every alert-bearing
    // 5-min/1-min sliding window whose end <= wm = max(ts) - 2 min.
    // The hf detector's per-(60s window, user) alerts carry
    // window_time = end - 1µs; their stage-1 finalization bound is
    // implied by the stage-2 bound.
    "q52_chained_metrics" ->
      """WITH ev AS (SELECT ts, user_id, event_type, value FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 2 MINUTE AS w FROM ev),
        |hf AS (SELECT time_bucket(INTERVAL '60 seconds', ts)
        |    + INTERVAL 60 SECOND - INTERVAL 1 MICROSECOND AS t,
        |  'high_frequency' AS alert_type
        |  FROM ev GROUP BY time_bucket(INTERVAL '60 seconds', ts), user_id
        |  HAVING count(*) >= 3),
        |hv AS (SELECT ts AS t, 'high_value' AS alert_type FROM ev
        |  WHERE event_type = 'purchase' AND value >= 150.0),
        |er AS (SELECT ts AS t, 'error' AS alert_type FROM ev
        |  WHERE event_type = 'error'),
        |al AS (SELECT * FROM hf UNION ALL SELECT * FROM hv
        |  UNION ALL SELECT * FROM er),
        |sw AS (SELECT time_bucket(INTERVAL '1 minute', t)
        |    - k.k * INTERVAL '1 minute' AS ws, alert_type
        |  FROM al CROSS JOIN (SELECT unnest(range(5)) AS k) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |strftime(ws + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
        |alert_type, count(*) AS n_alerts
        |FROM sw WHERE ws + INTERVAL 5 MINUTE <= (SELECT w FROM wm)
        |GROUP BY ws, alert_type
        |ORDER BY window_start, alert_type""".stripMargin,

    "q53_set_ops" ->
      """WITH u AS (
        |SELECT 'purchase_and_signup' AS cohort, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'signup')
        |UNION ALL
        |SELECT 'view_never_error' AS cohort, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error'))
        |SELECT cohort, user_id FROM u ORDER BY cohort, user_id""".stripMargin,

    "q54_embed_neardup" ->
      s"""WITH ${embedAssignCtes("")},
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.e, b.e)
         |   /(sqrt(list_dot_product(a.e, a.e))*sqrt(list_dot_product(b.e, b.e))), 4) AS sim
         |FROM assigned a JOIN assigned b
         |  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,

    // Replays BOTH Lloyd iterations of the deterministic k-means fit:
    // init = 4 lowest-id vectors; assignment = 6-dp-rounded cosine
    // argmax with centroid-id tie-break; mean = fixed-point long sum
    // (order-independent in any engine). 64 = fixture embedding dim.
    "q55_kmeans_fit" ->
      s"""$KMEANS_FIT2_CTES
         |SELECT cent_id, pos, round(m, 6) AS m FROM m2
         |ORDER BY cent_id, pos""".stripMargin,

    // q195: nearest-rank bands; the index ⌈p·n/100⌉ is pure integer;
    // the value at a rank is order-independent under ties.
    "q195_monthly_bands" ->
      """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS "month",
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |r AS (SELECT "month", c,
        |  row_number() OVER (PARTITION BY "month" ORDER BY c) AS rk,
        |  count(*) OVER (PARTITION BY "month") AS n FROM o)
        |SELECT "month", CAST(max(n) AS BIGINT) AS n_orders,
        |CAST(max(CASE WHEN rk = (10 * n + 99) // 100 THEN c END)
        |  AS DOUBLE) / 100.0 AS p10,
        |CAST(max(CASE WHEN rk = (50 * n + 99) // 100 THEN c END)
        |  AS DOUBLE) / 100.0 AS p50,
        |CAST(max(CASE WHEN rk = (90 * n + 99) // 100 THEN c END)
        |  AS DOUBLE) / 100.0 AS p90
        |FROM r GROUP BY 1 ORDER BY "month"""".stripMargin,

    // q196: q55's fixed-point fit chain extended one assignment pass
    // (c2 from m2), then the label-purity rollup.
    "q196_cluster_purity" ->
      s"""$KMEANS_FIT2_CTES,
         |c2 AS (SELECT cent_id, list(m ORDER BY pos) AS cv FROM m2 GROUP BY cent_id),
         |a3 AS (SELECT id, cent_id FROM (
         |  SELECT v.id, c.cent_id,
         |  row_number() OVER (PARTITION BY v.id ORDER BY
         |    round(list_dot_product(v.vv, c.cv)
         |     /(sqrt(list_dot_product(v.vv, v.vv))*sqrt(list_dot_product(c.cv, c.cv))), 6)
         |    DESC, c.cent_id) AS rk
         |  FROM v CROSS JOIN c2 c) WHERE rk = 1),
         |bc AS (SELECT a3.cent_id, e.label,
         |  CAST(count(*) AS BIGINT) AS c
         |  FROM a3 JOIN embeddings e ON e.vec_id = a3.id GROUP BY 1, 2),
         |sz AS (SELECT cent_id, CAST(sum(c) AS BIGINT) AS n_members
         |  FROM bc GROUP BY 1)
         |SELECT t.cent_id, sz.n_members, t.label AS top_label,
         |t.c AS top_n,
         |CAST(t.c * 10000 // sz.n_members AS BIGINT) AS purity_bp
         |FROM (SELECT *, row_number() OVER (PARTITION BY cent_id
         |  ORDER BY c DESC, label) AS rn FROM bc) t
         |JOIN sz USING (cent_id)
         |WHERE t.rn = 1 ORDER BY t.cent_id""".stripMargin,

    // q197: exact integer cross-ratio index; DuckDB dayofweek is
    // 0-based Sunday, Spark's is 1-based — aligned with +1.
    "q197_seasonal_index" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day",
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |dw AS (SELECT event_type, dayofweek("day") + 1 AS dow, n
        |  FROM daily),
        |bd AS (SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS s_dow,
        |  CAST(count(*) AS BIGINT) AS d_dow FROM dw GROUP BY 1, 2),
        |bt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s_total,
        |  CAST(count(*) AS BIGINT) AS d_total FROM daily GROUP BY 1)
        |SELECT bd.event_type, CAST(dow AS INT) AS dow, s_dow, d_dow,
        |CAST(CAST(s_dow AS HUGEINT) * d_total * 10000
        |  // (CAST(s_total AS HUGEINT) * d_dow) AS BIGINT)
        |  AS idx_bp
        |FROM bd JOIN bt USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,

    // q198: every sum exact; ONE rounded double division (numerator
    // is G·n·S-sized, within long range).
    "q198_gini_concentration" ->
      s"""WITH $CUSTOMER_SPEND_CTE,
         |sg AS (SELECT pc.o_custkey, pc.x,
         |  c.c_mktsegment AS segment FROM pc
         |  JOIN customer c ON c.c_custkey = pc.o_custkey),
         |rk AS (SELECT segment, x,
         |  CAST(row_number() OVER (PARTITION BY segment
         |    ORDER BY x, o_custkey) AS BIGINT) AS i FROM sg),
         |ag AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(x) AS BIGINT) AS s,
         |  sum(i * x) AS six FROM rk GROUP BY 1)
         |SELECT segment, n_customers,
         |CAST(s AS DOUBLE) / 100.0 AS revenue,
         |CAST(round(1e6 * (2 * six
         |  - (n_customers + 1) * CAST(s AS HUGEINT))
         |  / (CAST(n_customers AS DOUBLE) * s)) AS BIGINT) AS gini_1e6
         |FROM ag ORDER BY segment""".stripMargin,

    // q199: one wide moment aggregation; each r is one rounded
    // double expression with casts BEFORE the large products
    // (determinism is the contract, not exactness past 2^53).
    "q199_correlation_matrix" -> {
      val pairs = Seq(("d", "p"), ("d", "q"), ("d", "t"),
        ("p", "q"), ("p", "t"), ("q", "t"))
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '${a}_$b' AS pair, n,
           |CAST(round(1e6 * (CAST(n AS DOUBLE) * sp_$a$b
           |  - CAST(s_$a AS DOUBLE) * s_$b)
           |  / (sqrt(CAST(n AS DOUBLE) * ss_$a
           |  - CAST(s_$a AS DOUBLE) * s_$a)
           |  * sqrt(CAST(n AS DOUBLE) * ss_$b
           |  - CAST(s_$b AS DOUBLE) * s_$b))) AS BIGINT) AS r_1e6
           |FROM w""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS q,
         |  CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         |  CAST(round(l_discount * 10000) AS BIGINT) AS d,
         |  CAST(round(l_tax * 10000) AS BIGINT) AS t FROM lineitem),
         |w AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(q) AS BIGINT) AS s_q, CAST(sum(p) AS BIGINT) AS s_p,
         |  CAST(sum(d) AS BIGINT) AS s_d, CAST(sum(t) AS BIGINT) AS s_t,
         |  sum(q*q) AS ss_q, sum(p*p) AS ss_p,
         |  sum(d*d) AS ss_d, sum(t*t) AS ss_t,
         |  sum(d*p) AS sp_dp, sum(d*q) AS sp_dq,
         |  sum(d*t) AS sp_dt, sum(p*q) AS sp_pq,
         |  sum(p*t) AS sp_pt, sum(q*t) AS sp_qt
         |  FROM f)
         |SELECT pair, n, r_1e6 FROM (
         |$rows)
         |ORDER BY pair""".stripMargin
    },

    // q200: the readiness gate composes q21 fingerprints, q23 LSH,
    // q89 13-gram contamination, and q195's rank index; every value
    // integer, every threshold pinned, pass applies the row's op.
    "q200_corpus_scorecard" ->
      s"""${SHINGLE_CTES},
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents),
         |fp AS (SELECT CAST(count(DISTINCT
         |  md5(array_to_string($TOKS, ' '))) AS BIGINT) AS n_fp
         |  FROM documents),
         |shc AS (SELECT CAST(count(*) AS BIGINT) AS n_short
         |  FROM documents WHERE n_chars < 100),
         |en AS (SELECT CAST(count(*) AS BIGINT) AS n_en
         |  FROM documents WHERE lang = 'en'),
         |tok13 AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |g13 AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(tk) < 13 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)-11),
         |      i -> array_to_string(tk[i:i+12], ' ')) END) AS sh
         |  FROM tok13),
         |p13 AS (SELECT doc_id, unnest(sh) AS g FROM g13
         |  WHERE len(sh) > 0),
         |bg13 AS (SELECT DISTINCT g FROM p13 WHERE doc_id % 50 = 0),
         |ctm AS (SELECT CAST(count(*) AS BIGINT) AS n_contam FROM (
         |  SELECT DISTINCT p.doc_id FROM p13 p JOIN bg13 ON p.g = bg13.g
         |  WHERE p.doc_id % 50 <> 0)),
         |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n_train
         |  FROM documents WHERE doc_id % 50 <> 0),
         |${lshPairCtes("")},
         |inv AS (SELECT CAST(count(*) AS BIGINT) AS n_inv FROM (
         |  SELECT DISTINCT u FROM (SELECT unnest([id_a, id_b]) AS u
         |    FROM lp))),
         |med AS (SELECT CAST(v AS BIGINT) AS p50 FROM (
         |  SELECT len($TOKS) AS v,
         |    row_number() OVER (ORDER BY len($TOKS)) AS rk,
         |    count(*) OVER () AS n FROM documents)
         |  WHERE rk = (50 * n + 99) // 100),
         |res AS (
         |  SELECT 'contaminated_bp' AS metric,
         |    CAST(n_contam * 10000 // n_train AS BIGINT) AS value,
         |    '<=' AS op, CAST(1500 AS BIGINT) AS threshold
         |    FROM ctm CROSS JOIN ntr
         |  UNION ALL SELECT 'exact_dup_bp',
         |    CAST((n_docs - n_fp) * 10000 // n_docs AS BIGINT), '<=',
         |    2500 FROM fp CROSS JOIN tot
         |  UNION ALL SELECT 'lang_en_bp',
         |    CAST(n_en * 10000 // n_docs AS BIGINT), '>=', 2000
         |    FROM en CROSS JOIN tot
         |  UNION ALL SELECT 'near_dup_bp',
         |    CAST(n_inv * 10000 // n_docs AS BIGINT), '<=', 2500
         |    FROM inv CROSS JOIN tot
         |  UNION ALL SELECT 'short_doc_bp',
         |    CAST(n_short * 10000 // n_docs AS BIGINT), '<=', 2000
         |    FROM shc CROSS JOIN tot
         |  UNION ALL SELECT 'token_p50', p50, '>=', 10 FROM med)
         |SELECT metric, value, op, threshold,
         |CAST(CASE WHEN op = '<=' THEN value <= threshold
         |  ELSE value >= threshold END AS INT) AS passed
         |FROM res ORDER BY metric""".stripMargin,

    // q201: integer CUSUM (C_k = n·prefix − k·S), integer argmax
    // with (|C|, day) tie-break; side means round once each.
    "q201_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(date_trunc('day', ts) AS DATE) AS "day",
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, "day", x,
        |  CAST(row_number() OVER ow AS BIGINT) AS k,
        |  CAST(count(*) OVER tw AS BIGINT) AS n,
        |  CAST(sum(x) OVER tw AS BIGINT) AS s,
        |  CAST(sum(x) OVER (PARTITION BY event_type ORDER BY "day"
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre_s
        |  FROM daily
        |  WINDOW ow AS (PARTITION BY event_type ORDER BY "day"),
        |    tw AS (PARTITION BY event_type)),
        |ck AS (SELECT *, n * pre_s - k * s AS cusum_scaled FROM c),
        |am AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY abs(cusum_scaled) DESC, "day") AS rn FROM ck)
        |SELECT event_type, strftime("day", '%Y-%m-%d') AS shift_day,
        |CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
        |round(CAST(pre_s AS DOUBLE) / k, 4) AS mean_before,
        |round(CAST(s - pre_s AS DOUBLE) / (n - k), 4) AS mean_after
        |FROM am WHERE rn = 1 AND k < n
        |ORDER BY event_type""".stripMargin,

    // q202: q170's OLS sums, grouped per brand; zero-variance
    // brands emit NULL via nullif identically.
    "q202_discount_elasticity" ->
      """WITH f AS (SELECT p.p_brand,
        |  CAST(l.l_quantity AS BIGINT) AS y,
        |  CAST(round(l.l_discount * 10000) AS BIGINT) AS x
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |s AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x*y) AS BIGINT) AS sxy, sum(x*x) AS sxx,
        |  CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM f GROUP BY 1)
        |SELECT p_brand, n, sy AS total_qty,
        |CAST(round(1e6 * (CAST(n AS DOUBLE) * sxy
        |  - CAST(sx AS DOUBLE) * sy)
        |  / nullif(CAST(n AS DOUBLE) * sxx
        |  - CAST(sx AS DOUBLE) * sx, 0.0e0)) AS BIGINT) AS slope_1e6,
        |CAST(floor(1e4 * (CAST(n AS DOUBLE) * sxy
        |  - CAST(sx AS DOUBLE) * sy)
        |  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |  / nullif((CAST(n AS DOUBLE) * sxx
        |  - CAST(sx AS DOUBLE) * sx)
        |  * (CAST(n AS DOUBLE) * syy
        |  - CAST(sy AS DOUBLE) * sy), 0.0e0)) AS BIGINT) AS r2_bp
        |FROM s ORDER BY p_brand""".stripMargin,

    // q203: deciles by integer cross-multiplication; shares from
    // running integer sums.
    "q203_lorenz_deciles" ->
      s"""WITH $CUSTOMER_SPEND_CTE,
         |sg AS (SELECT pc.o_custkey, pc.x, c.c_mktsegment AS segment
         |  FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey),
         |rk AS (SELECT segment, x,
         |  CAST(row_number() OVER (PARTITION BY segment
         |    ORDER BY x, o_custkey) AS BIGINT) AS i,
         |  CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n,
         |  CAST(sum(x) OVER (PARTITION BY segment) AS BIGINT) AS s
         |  FROM sg),
         |dc AS (SELECT segment, (10 * i + n - 1) // n AS decile,
         |  x, s FROM rk),
         |ag AS (SELECT segment, decile,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(x) AS BIGINT) AS dx, CAST(max(s) AS BIGINT) AS s
         |  FROM dc GROUP BY 1, 2),
         |cm AS (SELECT *, CAST(sum(dx) OVER (PARTITION BY segment
         |  ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |  AS cum_x FROM ag)
         |SELECT segment, CAST(decile AS BIGINT) AS decile, n_customers,
         |CAST(CAST(dx AS HUGEINT) * 10000 // s AS BIGINT) AS share_bp,
         |CAST(CAST(cum_x AS HUGEINT) * 10000 // s AS BIGINT)
         |  AS cum_share_bp
         |FROM cm ORDER BY segment, decile""".stripMargin,

    // q204: VMR exact in integers; zeros handled in closed form.
    // sc2 stays HUGEINT (no BIGINT cast) mirroring the Spark side's
    // decimal(38,0) second moment — the VMR numerator overflows
    // BIGINT for hot terms at corpus scale.
    "q204_term_burstiness" ->
      s"""WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS nn
         |  FROM documents),
         |tc AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |pc AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
         |  FROM tc GROUP BY 1, 2),
         |st AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(c) AS BIGINT) AS sc,
         |  sum(c*c) AS sc2
         |  FROM pc GROUP BY 1 HAVING count(*) >= 20),
         |v AS (SELECT term, df, sc AS total,
         |  CAST((nn * sc2 - CAST(sc AS HUGEINT) * sc) * 10000
         |    // (nn * CAST(sc AS HUGEINT)) AS BIGINT) AS vmr_1e4
         |  FROM st CROSS JOIN tot)
         |SELECT "rank", term, df, total, vmr_1e4 FROM (
         |  SELECT *, row_number() OVER (ORDER BY vmr_1e4 DESC, term)
         |    AS "rank" FROM v)
         |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,

    // q205: q31's sessionization; nearest-rank dwell bands per type.
    "q205_dwell_bands" ->
      s"""WITH ${sessionCtes("user_id, ts, event_id, event_type,",
           "user_id, ts, event_id, event_type,")},
         |dw AS (SELECT event_type,
         |  CAST(floor(epoch(lead(ts, 1) OVER sw)) AS BIGINT)
         |    - CAST(floor(epoch(ts)) AS BIGINT) AS v,
         |  lead(ts, 1) OVER sw AS nxt
         |FROM s WINDOW sw AS (PARTITION BY user_id, sid
         |  ORDER BY ts, event_id)),
         |d2 AS (SELECT event_type, v FROM dw WHERE nxt IS NOT NULL),
         |r AS (SELECT event_type, v,
         |  row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM d2)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n_dwells,
         |CAST(max(CASE WHEN rk = (50 * n + 99) // 100 THEN v END)
         |  AS BIGINT) AS p50_sec,
         |CAST(max(CASE WHEN rk = (90 * n + 99) // 100 THEN v END)
         |  AS BIGINT) AS p90_sec
         |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    // q206: the oracle is the literal all-pairs edit-distance join
    // over the (vocabulary-bounded) frequent-term frame — a green row
    // proves the segment-pigeonhole candidates lose nothing.
    "q206_lev_join" ->
      s"""WITH tk AS (SELECT unnest($TOKS) AS term FROM documents),
         |v AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM tk GROUP BY 1 HAVING count(*) >= 5)
         |SELECT a.term AS term_a, b.term AS term_b,
         |a.df AS df_a, b.df AS df_b,
         |CAST(levenshtein(a.term, b.term) AS BIGINT) AS lev
         |FROM v a JOIN v b
         |ON a.term < b.term AND levenshtein(a.term, b.term) <= 2
         |ORDER BY term_a, term_b""".stripMargin,

    // q207: sweep-line peak concurrency; the oracle's single global
    // running sum must equal the engine's two-phase prefix sum.
    "q207_peak_concurrency" ->
      s"""WITH $SESSION_SPAN_CTES,
         |d AS (SELECT t, CAST(sum(delta) AS BIGINT) AS net FROM (
         |  SELECT st AS t, 1 AS delta FROM sess
         |  UNION ALL SELECT en + 1, -1 FROM sess) GROUP BY t),
         |r AS (SELECT t, t // 86400 AS dday,
         |  sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc
         |  FROM d),
         |p AS (SELECT dday, t, conc,
         |  row_number() OVER (PARTITION BY dday ORDER BY conc DESC, t)
         |    AS rn FROM r)
         |SELECT strftime(make_timestamp(dday * 86400 * 1000000),
         |  '%Y-%m-%d') AS day,
         |CAST(conc AS BIGINT) AS peak_concurrency,
         |strftime(make_timestamp(t * 1000000), '%Y-%m-%d %H:%M:%S')
         |  AS peak_at
         |FROM p WHERE rn = 1 ORDER BY day""".stripMargin,

    // q208: keyed full-outer snapshot diff on md5 content digests.
    "q208_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 37 = 5
        |    THEN text || ' [rev2]' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 41 <> 7
        |  UNION ALL SELECT doc_id + 1000000000, md5(text)
        |  FROM documents WHERE doc_id % 43 = 11),
        |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, h1, h2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT CASE WHEN h1 IS NULL THEN 'added'
        |  WHEN h2 IS NULL THEN 'removed'
        |  WHEN h1 <> h2 THEN 'changed' ELSE 'unchanged' END AS status,
        |CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(min(doc_id) AS BIGINT) AS first_doc,
        |CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin,

    // q209: the oracle is the LITERAL interval-overlap theta join;
    // a green row proves the engine's bin equi-join decomposition
    // is exactly the overlap semantics.
    "q209_incident_impact" ->
      s"""WITH eb AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 600
         |    AS bin, CAST(count(*) AS BIGINT) AS n_errors
         |  FROM events WHERE event_type = 'error' GROUP BY 1),
         |tt AS (SELECT max(CASE WHEN rk = (95 * n + 99) // 100
         |    THEN greatest(n_errors, 2) END) AS t FROM (
         |  SELECT n_errors, bin,
         |    row_number() OVER (ORDER BY n_errors, bin) AS rk,
         |    count(*) OVER () AS n FROM eb)),
         |inc AS (SELECT bin, n_errors FROM eb CROSS JOIN tt
         |  WHERE n_errors >= t),
         |$SESSION_SPAN_CTES,
         |j AS (SELECT i.bin, i.n_errors, se.user_id FROM inc i
         |  JOIN sess se ON se.st < (i.bin + 1) * 600
         |    AND se.en >= i.bin * 600)
         |SELECT strftime(make_timestamp(bin * 600 * 1000000),
         |  '%Y-%m-%d %H:%M:%S') AS incident_start, n_errors,
         |CAST(count(*) AS BIGINT) AS n_sessions,
         |CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM j GROUP BY 1, 2 ORDER BY incident_start""".stripMargin,

    // q210: exact weighted nearest-rank in integers over the q95
    // quality formula; ONE source-partitioned sort serves both cuts.
    "q210_weighted_quality" ->
      s"""WITH d AS (SELECT doc_id, source, $TOKS AS toks FROM documents),
         |m AS (SELECT doc_id, source, len(toks) AS n,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a'], x))) AS DOUBLE) AS stop_hits,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS uniq_cnt FROM d),
         |q AS (SELECT doc_id, source, CAST(n AS BIGINT) AS ws,
         |  CAST(round(round((CASE WHEN n=0 THEN 0.0 ELSE uniq_cnt/n END)*0.5
         |   + (1.0-(CASE WHEN n=0 THEN 0.0 ELSE stop_hits/n END))*0.3
         |   + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4) * 10000)
         |    AS BIGINT) AS q_bp FROM m),
         |r AS (SELECT source, q_bp, ws,
         |  sum(ws) OVER (PARTITION BY source ORDER BY q_bp, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(ws) OVER (PARTITION BY source) AS total FROM q)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(max(total) AS BIGINT) AS total_tokens,
         |CAST(min(CASE WHEN cum * 2 >= total THEN q_bp END) AS BIGINT)
         |  AS p50_q_bp,
         |CAST(min(CASE WHEN cum * 10 >= total * 9 THEN q_bp END)
         |  AS BIGINT) AS p90_q_bp
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // q211: DLT priority sampling — w/u priorities over a 48-bit md5
    // uniform (exact longs into IEEE division: the order is
    // engine-exact); HT estimate summed in per-row-rounded micro-units.
    "q211_priority_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len($TOKS) AS BIGINT) AS ws FROM documents),
         |u AS (SELECT doc_id, source, ws,
         |  CAST('0x' || substring(md5('psample|' || CAST(doc_id AS VARCHAR)),
         |    1, 12) AS BIGINT) + 1 AS uu FROM d),
         |p AS (SELECT source, doc_id, ws,
         |  CAST(ws AS DOUBLE) / CAST(uu AS DOUBLE) AS pri FROM u),
         |r AS (SELECT source, doc_id, ws, pri,
         |  row_number() OVER (PARTITION BY source ORDER BY pri DESC, doc_id)
         |    AS rk,
         |  count(*) OVER (PARTITION BY source) AS n,
         |  CAST(sum(ws) OVER (PARTITION BY source) AS BIGINT) AS total
         |  FROM p),
         |t2 AS (SELECT source, max(CASE WHEN rk = 21 THEN pri END) AS tau
         |  FROM r GROUP BY 1),
         |s AS (SELECT r.source, r.n, r.total,
         |  CAST(sum(CAST(round(greatest(CAST(ws AS DOUBLE),
         |    coalesce(tau, 0.0)) * 1e6) AS BIGINT)) AS BIGINT) AS est_micro
         |  FROM r JOIN t2 USING (source) WHERE rk <= 20 GROUP BY 1, 2, 3)
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |total AS total_tokens,
         |est_micro // 1000000 AS est_total_tokens,
         |CAST(round((est_micro // 1000000 - total) * 1e4 / total)
         |  AS BIGINT) AS err_bp
         |FROM s ORDER BY source""".stripMargin,

    // q212: q160's BM25 CTEs (k = 10) + q25's cosine shape (queries =
    // vec_id 1..5), fused on the 1e12 integer reciprocal grid — the
    // rrf sum is BIGINT arithmetic in both engines.
    "q212_hybrid_fusion" ->
      s"""$BM25_CTES,
         |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  lex_rank FROM (SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_fp DESC, doc_id)
         |    AS lex_rank FROM agg) WHERE lex_rank <= 10),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |qv AS (SELECT * FROM v WHERE vec_id BETWEEN 1 AND 5),
         |sm AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |  round(list_dot_product(q.e, c.e)
         |    /(sqrt(list_dot_product(q.e, q.e))
         |      *sqrt(list_dot_product(c.e, c.e))), 4) AS sim
         |  FROM qv q CROSS JOIN v c WHERE q.vec_id <> c.vec_id),
         |sem AS (SELECT query_id, doc_id, sem_rank FROM (
         |  SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, doc_id)
         |    AS sem_rank FROM sm) WHERE sem_rank <= 10),
         |fused AS (SELECT coalesce(l.query_id, m.query_id) AS query_id,
         |  coalesce(l.doc_id, m.doc_id) AS doc_id,
         |  l.lex_rank, m.sem_rank,
         |  coalesce(1000000000000 // (60 + l.lex_rank), 0)
         |    + coalesce(1000000000000 // (60 + m.sem_rank), 0) AS rrf_fp
         |  FROM lex l FULL OUTER JOIN sem m
         |    ON l.query_id = m.query_id AND l.doc_id = m.doc_id)
         |SELECT query_id, "rank", doc_id, lex_rank, sem_rank, rrf_fp
         |FROM (SELECT query_id, doc_id, lex_rank, sem_rank, rrf_fp,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_fp DESC, doc_id) AS "rank" FROM fused)
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,

    // q214: the packed-pretraining layout replayed from the same
    // per-source running offset — integer div/mod only.
    "q214_sequence_pack" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len($TOKS) AS BIGINT) AS n FROM documents),
         |p AS (SELECT source, n, CAST(coalesce(sum(n) OVER (
         |  PARTITION BY source ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS BIGINT) AS off FROM d WHERE n > 0),
         |g AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN off // 512 < (off + n - 1) // 512
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
         |  FROM p GROUP BY source)
         |SELECT source, n_docs, total_tokens,
         |(total_tokens + 511) // 512 AS n_seqs, n_split_docs,
         |round(CAST(n_docs AS DOUBLE) / ((total_tokens + 511) // 512), 2)
         |  AS avg_docs_per_seq,
         |(CASE WHEN total_tokens % 512 = 0 THEN 512
         |  ELSE total_tokens % 512 END) * 10000 // 512 AS last_fill_bp
         |FROM g ORDER BY source""".stripMargin,

    // q215: the Deequ-style suite replayed as one grouped aggregate +
    // a UNION ALL finalization per constraint — every metric one
    // division of exact longs (or a min/max passthrough), so the
    // doubles hash-match
    "q215_constraint_suite" ->
      s"""WITH s AS (SELECT source,
         |  CAST(count(text) AS BIGINT) AS c0n, CAST(count(*) AS BIGINT) AS c0d,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS c1n,
         |  CAST(count(doc_id) AS BIGINT) AS c1d,
         |  CAST(min(n_chars) AS DOUBLE) AS c2m,
         |  CAST(max(n_chars) AS DOUBLE) AS c3m,
         |  CAST(sum(CASE WHEN regexp_matches(lang, '^(en|de|fr|es)$$')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS c4n,
         |  CAST(count(*) AS BIGINT) AS c4d,
         |  CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS c5n,
         |  CAST(count(*) AS BIGINT) AS c5d
         |  FROM documents GROUP BY source)
         |${verdictHead("source")}
         |  SELECT source, 'completeness' AS constraint_type,
         |    'text' AS column_name,
         |    CAST(c0n AS DOUBLE)/CAST(c0d AS DOUBLE) AS metric,
         |    CAST(0.99 AS DOUBLE) AS threshold, '>=' AS op FROM s
         |  UNION ALL SELECT source, 'unique_ratio', 'doc_id',
         |    CAST(c1n AS DOUBLE)/CAST(c1d AS DOUBLE),
         |    CAST(1.0 AS DOUBLE), '>=' FROM s
         |  UNION ALL SELECT source, 'min_bound', 'n_chars', c2m,
         |    CAST(40.0 AS DOUBLE), '>=' FROM s
         |  UNION ALL SELECT source, 'max_bound', 'n_chars', c3m,
         |    CAST(500.0 AS DOUBLE), '<=' FROM s
         |  UNION ALL SELECT source, 'match_ratio', 'lang',
         |    CAST(c4n AS DOUBLE)/CAST(c4d AS DOUBLE),
         |    CAST(0.9 AS DOUBLE), '>=' FROM s
         |  UNION ALL SELECT source, 'in_set_ratio', 'lang',
         |    CAST(c5n AS DOUBLE)/CAST(c5d AS DOUBLE),
         |    CAST(1.0 AS DOUBLE), '>=' FROM s)
         |ORDER BY source, constraint_type, column_name""".stripMargin,

    // q216: equivalence classes on the quasi-identifier pair, then
    // the class-size histogram with k/l exposure
    "q216_k_anonymity" ->
      """WITH cl AS (SELECT c_nationkey,
        |  CAST(floor(c_acctbal/1000.0) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity
        |  FROM customer GROUP BY 1, 2)
        |SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  class_size < 5 AS at_risk,
        |  CAST(sum(CASE WHEN l_diversity < 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low_diversity
        |FROM cl GROUP BY class_size ORDER BY class_size""".stripMargin,

    // q218: the routing matrix replayed as one UNION ALL branch per
    // row-level constraint (violated-rows branch) plus the all-pass
    // clean branch; null predicate results count as violated via
    // NOT coalesce(cond, false) on both engines
    "q218_expectations" ->
      """WITH d AS (SELECT source, n_chars,
        |  NOT coalesce(n_chars >= 40.0, false) AS v_min,
        |  NOT coalesce(n_chars <= 500.0, false) AS v_max,
        |  NOT coalesce(regexp_matches(lang, '^(en|de|fr|es)$'), false)
        |    AS v_lang,
        |  NOT coalesce(text IS NOT NULL, false) AS v_text
        |  FROM documents),
        |x AS (
        |  SELECT source, 'min_bound(n_chars)' AS disposition, n_chars
        |    FROM d WHERE v_min
        |  UNION ALL SELECT source, 'max_bound(n_chars)', n_chars
        |    FROM d WHERE v_max
        |  UNION ALL SELECT source, 'match_ratio(lang)', n_chars
        |    FROM d WHERE v_lang
        |  UNION ALL SELECT source, 'completeness(text)', n_chars
        |    FROM d WHERE v_text
        |  UNION ALL SELECT source, '(clean)', n_chars
        |    FROM d WHERE NOT v_min AND NOT v_max AND NOT v_lang
        |      AND NOT v_text)
        |SELECT source, disposition, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q219: the suggestion loop replayed — baseline (even doc_ids)
    // profile becomes the thresholds, evaluated per source on the odd
    // half; thresholds are single divisions of exact longs on both
    // engines, so even the derived doubles hash-match
    "q219_suite_drift" ->
      s"""WITH $DOC_HALVES,
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(text) AS BIGINT) AS c_text,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS ud,
         |  CAST(count(doc_id) AS BIGINT) AS un,
         |  CAST(min(n_chars) AS DOUBLE) AS lo,
         |  CAST(max(n_chars) AS DOUBLE) AS hi FROM v1),
         |top3 AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM v1
         |  WHERE lang IS NOT NULL GROUP BY lang
         |  ORDER BY cnt DESC, lang ASC LIMIT 3),
         |bs AS (SELECT CAST(sum(cnt) AS BIGINT) AS in_mass FROM top3),
         |s AS (SELECT source,
         |  CAST(count(text) AS BIGINT) AS c0n,
         |  CAST(count(*) AS BIGINT) AS c0d,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS c1n,
         |  CAST(count(doc_id) AS BIGINT) AS c1d,
         |  CAST(min(n_chars) AS DOUBLE) AS mn,
         |  CAST(max(n_chars) AS DOUBLE) AS mx,
         |  CAST(sum(CASE WHEN lang IN (SELECT lang FROM top3)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS c4n,
         |  CAST(count(*) AS BIGINT) AS c4d
         |  FROM v2 GROUP BY source)
         |${verdictHead("source")}
         |  SELECT s.source, 'completeness' AS constraint_type,
         |    'text' AS column_name,
         |    CAST(c0n AS DOUBLE)/CAST(c0d AS DOUBLE) AS metric,
         |    CAST(b.c_text AS DOUBLE)/CAST(b.n AS DOUBLE) AS threshold,
         |    '>=' AS op FROM s, b
         |  UNION ALL SELECT s.source, 'unique_ratio', 'doc_id',
         |    CAST(c1n AS DOUBLE)/CAST(c1d AS DOUBLE),
         |    CAST(b.ud AS DOUBLE)/CAST(b.un AS DOUBLE), '>=' FROM s, b
         |  UNION ALL SELECT s.source, 'min_bound', 'n_chars', mn,
         |    b.lo, '>=' FROM s, b
         |  UNION ALL SELECT s.source, 'max_bound', 'n_chars', mx,
         |    b.hi, '<=' FROM s, b
         |  UNION ALL SELECT s.source, 'in_set_ratio', 'lang',
         |    CAST(c4n AS DOUBLE)/CAST(c4d AS DOUBLE),
         |    CAST(bs.in_mass AS DOUBLE)/CAST(b.n AS DOUBLE), '>='
         |    FROM s, b, bs)
         |ORDER BY source, constraint_type, column_name""".stripMargin,

    // q217: suppress classes below k, report BOTH sides per segment
    // (totals left-joined with the survivor rollup, integer cents)
    "q217_k_suppression" ->
      """WITH cust AS (SELECT *,
        |  CAST(floor(c_acctbal/1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |keep AS (SELECT c_nationkey, bal_band FROM cust
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |t AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_total
        |  FROM cust GROUP BY 1),
        |k AS (SELECT c.c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS kept_raw,
        |  CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS nations_raw,
        |  CAST(sum(CAST(round(c.c_acctbal*100) AS BIGINT)) AS BIGINT)
        |    AS cents_raw
        |  FROM cust c JOIN keep kp ON c.c_nationkey = kp.c_nationkey
        |    AND c.bal_band = kp.bal_band
        |  GROUP BY 1)
        |SELECT t.c_mktsegment, t.n_total,
        |  coalesce(k.kept_raw, 0) AS n_kept,
        |  t.n_total - coalesce(k.kept_raw, 0) AS n_suppressed,
        |  coalesce(k.nations_raw, 0) AS n_nations,
        |  coalesce(k.cents_raw, 0) AS kept_bal_cents
        |FROM t LEFT JOIN k ON t.c_mktsegment = k.c_mktsegment
        |ORDER BY t.c_mktsegment""".stripMargin,

    // q220: the mergeable uniqueness constraint replayed ONE-SHOT —
    // per-source md5-HLL registers (the q107 chain), fixed-point
    // Σ2^(49−r) with empty registers contributing 2^49, the SAME
    // alpha expression text, and the LinearCounting small-range
    // branch; the hash match vs Spark's two-batch register-max merge
    // proves merge ≡ rebuild inside the constraint framework
    "q220_approx_unique_monitor" ->
      s"""WITH h1 AS (SELECT source,
         |  md5('hll|' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents WHERE doc_id IS NOT NULL),
         |${hllRankCtes("source", "h1", "x1", "z1", "r1")},
         |g1 AS (SELECT source, bucket, max(r) AS r FROM r1 GROUP BY 1, 2),
         |${hllEstimateCtes(1)},
         |h2 AS (SELECT source, md5('hll|' || lang) AS h
         |  FROM documents WHERE lang IS NOT NULL),
         |${hllRankCtes("source", "h2", "x2", "z2", "r2")},
         |g2 AS (SELECT source, bucket, max(r) AS r FROM r2 GROUP BY 1, 2),
         |${hllEstimateCtes(2)},
         |dens AS (SELECT source, CAST(count(doc_id) AS BIGINT) AS den1,
         |  CAST(count(lang) AS BIGINT) AS den2,
         |  CAST(count(text) AS BIGINT) AS c_text,
         |  CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1)
         |${verdictHead("source")}
         |  SELECT d.source, 'approx_unique_ratio' AS constraint_type,
         |    'doc_id' AS column_name,
         |    round(m1.est / CAST(d.den1 AS DOUBLE), 6) AS metric,
         |    CAST(0.8 AS DOUBLE) AS threshold, '>=' AS op
         |  FROM dens d JOIN m1 ON d.source = m1.source
         |  UNION ALL SELECT d.source, 'approx_unique_ratio', 'lang',
         |    round(m2.est / CAST(d.den2 AS DOUBLE), 6),
         |    CAST(0.5 AS DOUBLE), '>='
         |  FROM dens d JOIN m2 ON d.source = m2.source
         |  UNION ALL SELECT source, 'completeness', 'text',
         |    CAST(c_text AS DOUBLE)/CAST(n AS DOUBLE),
         |    CAST(0.9 AS DOUBLE), '>=' FROM dens)
         |ORDER BY source, column_name""".stripMargin,

    // q221: the generalization schedule replayed — one class-stat CTE
    // per round-robin step (nation→region→*, band1000→band5000→*),
    // chosen = first step with min class size >= k (monotone along a
    // genuine-coarsening ladder), else the final step
    "q221_generalize_to_k" ->
      """WITH c AS (SELECT c_custkey, c_acctbal, c_nationkey,
        |  n_regionkey FROM customer JOIN nation
        |  ON c_nationkey = n_nationkey),
        |s0 AS (SELECT c_nationkey AS q1,
        |  floor(c_acctbal/1000.0) AS q2, count(*) AS cs
        |  FROM c GROUP BY 1, 2),
        |s1 AS (SELECT n_regionkey AS q1,
        |  floor(c_acctbal/1000.0) AS q2, count(*) AS cs
        |  FROM c GROUP BY 1, 2),
        |s2 AS (SELECT n_regionkey AS q1,
        |  floor(c_acctbal/5000.0) AS q2, count(*) AS cs
        |  FROM c GROUP BY 1, 2),
        |s3 AS (SELECT -1 AS q1, floor(c_acctbal/5000.0) AS q2,
        |  count(*) AS cs FROM c GROUP BY 1, 2),
        |s4 AS (SELECT -1 AS q1, -1 AS q2, count(*) AS cs
        |  FROM c GROUP BY 1, 2),
        |a AS (
        |  SELECT 0 AS step, 0 AS lvl_qi_nation, 0 AS lvl_qi_band,
        |    CAST(count(*) AS BIGINT) AS n_classes,
        |    CAST(min(cs) AS BIGINT) AS min_class_size,
        |    CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT)
        |      AS n_rows_below_k,
        |    CAST(sum(CASE WHEN cs >= 5 THEN cs ELSE 0 END) AS BIGINT)
        |      AS n_rows_kept FROM s0
        |  UNION ALL SELECT 1, 1, 0, CAST(count(*) AS BIGINT),
        |    CAST(min(cs) AS BIGINT),
        |    CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN cs >= 5 THEN cs ELSE 0 END) AS BIGINT)
        |    FROM s1
        |  UNION ALL SELECT 2, 1, 1, CAST(count(*) AS BIGINT),
        |    CAST(min(cs) AS BIGINT),
        |    CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN cs >= 5 THEN cs ELSE 0 END) AS BIGINT)
        |    FROM s2
        |  UNION ALL SELECT 3, 2, 1, CAST(count(*) AS BIGINT),
        |    CAST(min(cs) AS BIGINT),
        |    CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN cs >= 5 THEN cs ELSE 0 END) AS BIGINT)
        |    FROM s3
        |  UNION ALL SELECT 4, 2, 2, CAST(count(*) AS BIGINT),
        |    CAST(min(cs) AS BIGINT),
        |    CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN cs >= 5 THEN cs ELSE 0 END) AS BIGINT)
        |    FROM s4),
        |sel AS (SELECT coalesce(
        |  min(CASE WHEN min_class_size >= 5 THEN step END),
        |  max(step)) AS cstep FROM a)
        |SELECT step, lvl_qi_nation, lvl_qi_band, n_classes,
        |  min_class_size, n_rows_below_k, n_rows_kept,
        |  step = cstep AS chosen
        |FROM a, sel ORDER BY step""".stripMargin,

    // q222: the suggested histogram-drift constraint replayed — exact
    // nearest-rank edges off the baseline's distinct-value cumulative
    // counts, binning by |{edges <= v}|, q179's fixed-point PSI
    // (per-term round to 1e-6, integer sum), baseline-derived
    // completeness/set thresholds (the q219 pattern)
    "q222_distribution_drift" ->
      s"""WITH $DRIFT_CTES,
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(text) AS BIGINT) AS c_text,
         |  CAST(count(n_chars) AS BIGINT) AS nv FROM v1),
         |top5 AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM v1
         |  WHERE lang IS NOT NULL GROUP BY lang
         |  ORDER BY cnt DESC, lang ASC LIMIT 5),
         |bs AS (SELECT CAST(sum(cnt) AS BIGINT) AS in_mass FROM top5),
         |$HIST_EDGE_CTES,
         |${binCountCte("base8", "cb", "v1")},
         |${binCountCte("cur2", "ca", "v2")},
         |${binCountCte("cur3", "ca", "v2d")},
         |s2 AS (SELECT CAST(count(n_chars) AS BIGINT) AS na,
         |  CAST(count(text) AS BIGINT) AS ct,
         |  CAST(count(*) AS BIGINT) AS nn,
         |  CAST(sum(CASE WHEN lang IN (SELECT lang FROM top5)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS iset FROM v2),
         |s3 AS (SELECT CAST(count(n_chars) AS BIGINT) AS na,
         |  CAST(count(text) AS BIGINT) AS ct,
         |  CAST(count(*) AS BIGINT) AS nn,
         |  CAST(sum(CASE WHEN lang IN (SELECT lang FROM top5)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS iset FROM v2d),
         |psi2 AS (SELECT CAST(sum(CAST(round(1e6 *
         |  ((ca + 1) / (na + 8) - (cb + 1) / (nv + 8))
         |  * ln(((ca + 1) * CAST(nv + 8 AS DOUBLE))
         |    / ((cb + 1) * CAST(na + 8 AS DOUBLE))))
         |  AS BIGINT)) AS DOUBLE) AS psi
         |  FROM cur2 JOIN base8 USING (bin), s2, b),
         |psi3 AS (SELECT CAST(sum(CAST(round(1e6 *
         |  ((ca + 1) / (na + 8) - (cb + 1) / (nv + 8))
         |  * ln(((ca + 1) * CAST(nv + 8 AS DOUBLE))
         |    / ((cb + 1) * CAST(na + 8 AS DOUBLE))))
         |  AS BIGINT)) AS DOUBLE) AS psi
         |  FROM cur3 JOIN base8 USING (bin), s3, b)
         |${verdictHead("version")}
         |  SELECT 'v2' AS version, 'completeness' AS constraint_type,
         |    'text' AS column_name,
         |    CAST(s2.ct AS DOUBLE)/CAST(s2.nn AS DOUBLE) AS metric,
         |    CAST(b.c_text AS DOUBLE)/CAST(b.n AS DOUBLE) AS threshold,
         |    '>=' AS op FROM s2, b
         |  UNION ALL SELECT 'v2', 'in_set_ratio', 'lang',
         |    CAST(s2.iset AS DOUBLE)/CAST(s2.nn AS DOUBLE),
         |    CAST(bs.in_mass AS DOUBLE)/CAST(b.n AS DOUBLE), '>='
         |    FROM s2, b, bs
         |  UNION ALL SELECT 'v2', 'histogram_drift', 'n_chars',
         |    psi, CAST(100000.0 AS DOUBLE), '<=' FROM psi2
         |  UNION ALL SELECT 'v2_drifted', 'completeness', 'text',
         |    CAST(s3.ct AS DOUBLE)/CAST(s3.nn AS DOUBLE),
         |    CAST(b.c_text AS DOUBLE)/CAST(b.n AS DOUBLE), '>='
         |    FROM s3, b
         |  UNION ALL SELECT 'v2_drifted', 'in_set_ratio', 'lang',
         |    CAST(s3.iset AS DOUBLE)/CAST(s3.nn AS DOUBLE),
         |    CAST(bs.in_mass AS DOUBLE)/CAST(b.n AS DOUBLE), '>='
         |    FROM s3, b, bs
         |  UNION ALL SELECT 'v2_drifted', 'histogram_drift', 'n_chars',
         |    psi, CAST(100000.0 AS DOUBLE), '<=' FROM psi3)
         |ORDER BY version, constraint_type, column_name""".stripMargin,

    // q223: the quantile-bound constraint replayed — the q222 edge
    // derivation, per-version binning, exact-integer median rank
    // ((n·5000+9999)//10000), metric = the containing bin's upper
    // edge (a literal edge value), threshold = the baseline p25 edge
    "q223_quantile_bound" ->
      s"""WITH $DRIFT_CTES,
         |b AS (SELECT CAST(count(n_chars) AS BIGINT) AS nv FROM v1),
         |$HIST_EDGE_CTES,
         |${binCountCte("c2", "ca", "v2")},
         |${binCountCte("c3", "ca", "v2d")},
         |cm2 AS (SELECT bin, sum(ca) OVER (ORDER BY bin
         |  ROWS UNBOUNDED PRECEDING) AS cs FROM c2),
         |cm3 AS (SELECT bin, sum(ca) OVER (ORDER BY bin
         |  ROWS UNBOUNDED PRECEDING) AS cs FROM c3),
         |s2 AS (SELECT CAST(count(n_chars) AS BIGINT) AS na,
         |  CAST(count(text) AS BIGINT) AS ct,
         |  CAST(count(*) AS BIGINT) AS nn FROM v2),
         |s3 AS (SELECT CAST(count(n_chars) AS BIGINT) AS na,
         |  CAST(count(text) AS BIGINT) AS ct,
         |  CAST(count(*) AS BIGINT) AS nn FROM v2d),
         |i2 AS (SELECT CAST(count(*) AS INT) AS idx FROM cm2, s2
         |  WHERE cs < (na * 5000 + 9999) // 10000),
         |i3 AS (SELECT CAST(count(*) AS INT) AS idx FROM cm3, s3
         |  WHERE cs < (na * 5000 + 9999) // 10000),
         |m2 AS (SELECT CASE WHEN idx <= 6
         |  THEN (SELECT e FROM edges WHERE i = idx + 1)
         |  ELSE CAST('Infinity' AS DOUBLE) END AS metric FROM i2),
         |m3 AS (SELECT CASE WHEN idx <= 6
         |  THEN (SELECT e FROM edges WHERE i = idx + 1)
         |  ELSE CAST('Infinity' AS DOUBLE) END AS metric FROM i3),
         |th AS (SELECT e AS thr FROM edges WHERE i = 2)
         |${verdictHead("version")}
         |  SELECT 'v2' AS version, 'completeness' AS constraint_type,
         |    'text' AS column_name,
         |    CAST(s2.ct AS DOUBLE)/CAST(s2.nn AS DOUBLE) AS metric,
         |    CAST(0.9 AS DOUBLE) AS threshold, '>=' AS op FROM s2
         |  UNION ALL SELECT 'v2', 'quantile_bound', 'n_chars',
         |    m2.metric, th.thr, '>=' FROM m2, th
         |  UNION ALL SELECT 'v2_drifted', 'completeness', 'text',
         |    CAST(s3.ct AS DOUBLE)/CAST(s3.nn AS DOUBLE),
         |    CAST(0.9 AS DOUBLE), '>=' FROM s3
         |  UNION ALL SELECT 'v2_drifted', 'quantile_bound', 'n_chars',
         |    m3.metric, th.thr, '>=' FROM m3, th)
         |ORDER BY version, constraint_type, column_name""".stripMargin,

    // q224: the SQL-surface large-large banded rewrite — identical
    // replay contract to q131, at the geometry the strategy DERIVES
    // from the join threshold (BandGeometry.derive(0.35) = 16 bands ×
    // 4 bits) instead of q131's explicit 8×8: integer Rademacher
    // signature, band b = bits [b*4+1, 4], candidates = band-bucket
    // collisions, exact raw-cosine gate
    "q224_simjoin_sql_large" -> bandedSimjoinSql(64, 4, 16, "0.35"),

    // q225: q224's replay at the WIDE derived geometry — the
    // signatureBits=256 session budget makes deriveWide(0.4) pick
    // 36 bands × 6 bits (216 hyperplanes; recall 0.904 at the
    // threshold), so the only changes vs q224 are the bit count, the
    // band substring width/count, and the 0.4 gate. Same integer
    // Rademacher hyperplane mix (bit indices just run past 64).
    "q225_simjoin_wide_band" -> bandedSimjoinSql(216, 6, 36, "0.4"),

    "q56_winnow_shared" ->
      s"""$WINNOW_CTES
         |SELECT fp, count(*) AS n_docs FROM fps GROUP BY fp
         |HAVING count(*) >= 2
         |ORDER BY n_docs DESC, fp LIMIT 20""".stripMargin,

    "q57_token_cost" ->
      s"""WITH d AS (SELECT lang,
         |CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')) AS BIGINT) AS bpe,
         |CAST(len($TOKS) AS BIGINT) AS ws FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |round(avg(bpe), 2) AS avg_bpe_per_doc,
         |round(CAST(sum(bpe) AS DOUBLE)/sum(ws), 4) AS fertility
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q58_editdist_pairs" ->
      s"""$WINNOW_CTES,
         |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 5),
         |fk AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep k ON f.fp = k.fp),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  count(*) AS n_shared_fp
         |  FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |v AS (SELECT c.id_a, c.id_b, CAST(c.n_shared_fp AS BIGINT) AS n_shared_fp,
         |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev,
         |  greatest(length(x.text), length(y.text)) AS mx
         |FROM cand c JOIN d x ON c.id_a = x.doc_id JOIN d y ON c.id_b = y.doc_id)
         |SELECT id_a, id_b, n_shared_fp, lev,
         |round(CAST(lev AS DOUBLE)/mx, 4) AS lev_ratio
         |FROM v WHERE lev <= CAST(floor(0.1 * mx) AS BIGINT)
         |ORDER BY id_a, id_b""".stripMargin,

    "q59_split_assign" ->
      s"""WITH d AS (SELECT
         |CASE WHEN substr(md5('split-seed|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f0' THEN 'train'
         |     WHEN substr(md5('split-seed|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f8' THEN 'val'
         |     ELSE 'test' END AS split,
         |CAST(len($TOKS) AS BIGINT) AS ws FROM documents),
         |g AS (SELECT split, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS n_tokens
         |FROM d GROUP BY split)
         |SELECT split, n_docs, n_tokens,
         |round(CAST(n_docs AS DOUBLE)/sum(n_docs) OVER (), 4) AS doc_share
         |FROM g ORDER BY split""".stripMargin,

    "q60_contamination" ->
      s"""$SHINGLE_CTES,
         |post AS (SELECT doc_id, unnest(sh) AS shingle FROM ss),
         |bench AS (SELECT doc_id AS bench_id, shingle FROM post WHERE doc_id % 50 = 0),
         |train AS (SELECT doc_id AS train_id, shingle FROM post WHERE doc_id % 50 <> 0),
         |hits AS (SELECT train_id, bench_id, count(*) AS shared
         |  FROM train JOIN bench USING (shingle) GROUP BY 1, 2)
         |SELECT train_id,
         |CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs,
         |max(shared) AS max_shared,
         |CAST(sum(shared) AS BIGINT) AS total_shared
         |FROM hits GROUP BY train_id HAVING max(shared) >= 2
         |ORDER BY train_id""".stripMargin,

    "q61_bloom_semi" ->
      s"""SELECT l_returnflag, count(*) AS n_lines,
         |${cents("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM lineitem WHERE l_orderkey IN (
         |  SELECT o_orderkey FROM orders WHERE o_totalprice > 490000.0)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q62_grouping_sets" ->
      s"""SELECT coalesce(event_type, 'ALL') AS event_type,
         |coalesce(day_name, 'ALL') AS day_name, count(*) AS n,
         |${cents("value")} AS total_value
         |FROM (SELECT event_type, dayname(ts) AS day_name, value FROM events)
         |GROUP BY GROUPING SETS ((event_type, day_name), (event_type), (day_name))
         |ORDER BY 1, 2""".stripMargin,

    // Replays the SAMPLED k-means fit (25% md5 sample, init = 4
    // lowest-id sampled vectors, one Lloyd iteration with the same
    // fixed-point mean as q55) and then the q41-shaped IVF probe of
    // the FULL corpus against the fitted centroids.
    "q63_sampled_fit" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
         |s AS (SELECT id, vv FROM v
         |  WHERE substr(md5('fit-seed|' || CAST(id AS VARCHAR)), 1, 1) < '4'),
         |c0 AS (SELECT id AS cent_id, vv AS cv FROM s ORDER BY id LIMIT 4),
         |${kmAssignCte("a1", "id, vv, cent_id", "c0", s = "s")},
         |${kmMeanCtes(1, "a1")},
         |${kmAssignCte("assigned", "id AS neighbor_id, vv AS cvv, cent_id", "c1",
             rank = "crank = 1")},
         |${kmAssignCte("probed", "id AS query_id, vv AS qv, cent_id", "c1",
             rank = "crank <= 2", where = " WHERE v.id < 8")},
         |sc AS (SELECT DISTINCT p.query_id, a.neighbor_id,
         |  round(list_dot_product(p.qv, a.cvv)
         |   /(sqrt(list_dot_product(p.qv, p.qv))*sqrt(list_dot_product(a.cvv, a.cvv))), 4) AS sim
         |FROM probed p JOIN assigned a ON p.cent_id = a.cent_id
         |WHERE p.query_id <> a.neighbor_id)
         |SELECT query_id, "rank", neighbor_id, sim FROM (
         |SELECT query_id, neighbor_id, sim,
         |row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS "rank"
         |FROM sc) WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    "q64_shard_assign" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS ws FROM documents),
         |sh AS (SELECT ws, CAST(ntile(8) OVER (
         |  ORDER BY md5('shard-seed|' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS shard
         |FROM d)
         |SELECT shard, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS n_tokens
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "q65_unpivot" ->
      """WITH u AS (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        |SELECT l_returnflag, measure, count(*) AS n,
        |round(CAST(sum(CAST(round(val*10000) AS BIGINT)) AS DOUBLE)/10000.0/count(*), 4) AS avg_val,
        |round(min(val), 4) AS min_val, round(max(val), 4) AS max_val
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q66_repetition_quality" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOKS AS tk FROM documents),
         |m AS (SELECT doc_id, lang, len(tk) AS ws,
         |  len(list_distinct(tk)) AS nd, tk FROM d WHERE len(tk) >= 2),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |  i -> array_to_string(tk[i:i+1], ' '))) AS bg FROM m),
         |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         |tb AS (SELECT doc_id, max(c) AS top_bg FROM bc GROUP BY doc_id),
         |f AS (SELECT m.lang,
         |  CAST(floor(tb.top_bg * 2.0 * 1000000.0 / m.ws) AS BIGINT) AS top_fp,
         |  CAST(floor((m.ws - m.nd) * 1000000.0 / m.ws) AS BIGINT) AS dup_fp
         |FROM m JOIN tb ON m.doc_id = tb.doc_id)
         |SELECT lang, count(*) AS n_docs,
         |CAST(sum(CASE WHEN top_fp >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_bigram,
         |CAST(sum(CASE WHEN dup_fp >= 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup,
         |round(CAST(sum(top_fp) AS DOUBLE)/count(*)/1000000.0, 4) AS avg_top_bigram_frac,
         |round(CAST(sum(dup_fp) AS DOUBLE)/count(*)/1000000.0, 4) AS avg_dup_word_frac
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "q67_redact_profile" ->
      s"""WITH s AS (SELECT lang, $SALTED_PII AS salted FROM documents),
         |r AS (SELECT lang, salted,
         |  regexp_replace(regexp_replace(regexp_replace(salted,
         |    '$PII_EMAIL', '<EMAIL>', 'g'),
         |    '$PII_URL', '<URL>', 'g'),
         |    '$PII_DIGITS', '<NUM>', 'g') AS clean FROM s)
         |SELECT lang, count(*) AS n_docs,
         |CAST(sum(len(regexp_extract_all(salted, '$PII_EMAIL'))) AS BIGINT) AS n_emails,
         |CAST(sum(len(regexp_extract_all(salted, '$PII_URL'))) AS BIGINT) AS n_urls,
         |CAST(sum(len(regexp_extract_all(salted, '$PII_DIGITS'))) AS BIGINT) AS n_digit_runs,
         |CAST(sum(length(salted) - length(clean)) AS BIGINT) AS chars_removed
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q68_domain_profile" ->
      s"""WITH s AS (SELECT doc_id, $SALTED_PII AS salted FROM documents),
         |e AS (SELECT doc_id, unnest(regexp_extract_all(salted,
         |  'https?://([A-Za-z0-9.-]+)', 1)) AS domain FROM s)
         |SELECT domain, count(*) AS n_refs,
         |count(DISTINCT doc_id) AS n_docs
         |FROM e GROUP BY domain ORDER BY domain""".stripMargin,

    "q69_pack_shards" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS ws,
        |  md5('pack-seed|' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |c AS (SELECT substr(h, 1, 1) AS bucket, ws,
        |  CAST(sum(ws) OVER (PARTITION BY substr(h, 1, 1)
        |    ORDER BY h, doc_id) AS BIGINT) AS cum FROM d)
        |SELECT bucket, CAST(floor((cum - ws) / 4000.0) AS INT) AS shard,
        |count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2 ORDER BY bucket, shard""".stripMargin,

    "q70_overlap_pairs" ->
      s"""${SHINGLE_CTES},
         |${cappedPairCtes("fp", "pairs")}
         |SELECT id_a, id_b, na, nb, shared, make_overlap AS overlap FROM (
         |SELECT id_a, id_b, CAST(na AS INT) AS na, CAST(nb AS INT) AS nb,
         |CAST(shared AS BIGINT) AS shared,
         |round(CAST(shared AS DOUBLE)/least(na, nb), 4) AS make_overlap FROM pairs)
         |WHERE make_overlap >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // q22's pair mining, then connected components as a recursive
    // transitive closure (min reachable id per node == the fixpoint
    // label Spark's min-label propagation converges to).
    "q71_dedup_clusters" -> TEXT_CLUSTERS_SQL,

    "q72_incremental_ingest" ->
      s"""WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
         |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
         |inf AS (SELECT doc_id, md5(array_to_string($TOKS, ' ')) AS fp FROM inc),
         |cfp AS (SELECT DISTINCT md5(array_to_string($TOKS, ' ')) AS fp FROM corp),
         |ex AS (SELECT doc_id FROM inf WHERE fp IN (SELECT fp FROM cfp)),
         |${subsetPosting("inc", "inpost", "in_id", "na")},
         |${subsetPosting("corp", "corppost", "corp_id", "nb")},
         |keep AS (SELECT shingle FROM corppost GROUP BY shingle HAVING count(*) <= 1000),
         |cand AS (SELECT in_id, corp_id, na, nb, count(*) AS shared
         |  FROM inpost JOIN (SELECT c.* FROM corppost c JOIN keep k ON c.shingle = k.shingle) cp
         |  ON inpost.shingle = cp.shingle GROUP BY 1, 2, 3, 4),
         |near AS (SELECT DISTINCT in_id AS doc_id FROM cand
         |  WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5),
         |cls AS (SELECT i.doc_id,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'new' END AS decision
         |  FROM inc i LEFT JOIN ex e ON i.doc_id = e.doc_id
         |  LEFT JOIN near n ON i.doc_id = n.doc_id)
         |SELECT decision, count(*) AS n_docs,
         |min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM cls GROUP BY decision ORDER BY decision""".stripMargin,

    // Batch gaps-and-islands sessionization == Spark session_window
    // semantics: merge while diff < gap (an event AT prev_ts+gap is
    // outside the [start, end) window → break on >=); session end =
    // last event + gap; only sessions the 2-min watermark finalized
    // (end <= max(ts) - 2min) are emitted in append mode. The staged
    // clock row (user_id -1, ts = max) never emits: its end is past
    // the watermark by construction.
    "q73_session_replay" ->
      """WITH ev AS (SELECT ts, user_id, value FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 2 MINUTE AS w FROM ev),
        |l AS (SELECT user_id, ts, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM ev),
        |x AS (SELECT user_id, ts, value,
        |  CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 10 MINUTE
        |       THEN 1 ELSE 0 END AS brk FROM l),
        |g AS (SELECT user_id, ts, value, sum(brk) OVER (
        |  PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |FROM x),
        |s AS (SELECT user_id, min(ts) AS ss,
        |  max(ts) + INTERVAL 10 MINUTE AS se, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        |FROM g GROUP BY user_id, sid)
        |SELECT strftime(ss, '%Y-%m-%d %H:%M:%S') AS session_start,
        |strftime(se, '%Y-%m-%d %H:%M:%S') AS session_end,
        |user_id, n_events, total_value
        |FROM s, wm WHERE se <= w
        |ORDER BY session_start, user_id""".stripMargin,

    // identical to q26 — the Spark side differs (custom physical
    // operator vs union-and-carry), the semantics must not
    "q74_asof_exec" -> ASOF_SQL,

    "q75_scd2_join" ->
      s"""WITH iv AS (SELECT event_id AS interval_id, user_id,
         |  ts AS valid_from,
         |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         |FROM events WHERE event_type = 'signup'),
         |p AS (SELECT user_id, ts, value FROM events
         |  WHERE event_type = 'purchase')
         |SELECT interval_id, count(*) AS n_purchases,
         |${cents("value")} AS revenue
         |FROM p JOIN iv ON p.user_id = iv.user_id
         |  AND p.ts >= iv.valid_from
         |  AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
         |GROUP BY interval_id ORDER BY interval_id""".stripMargin,

    // identical to q26/q74 — broadcast-regime implementation
    "q76_asof_broadcast" -> ASOF_SQL,

    "q77_window_family" ->
      """SELECT user_id, event_id, value,
        |CAST(rank() OVER w AS INT) AS rnk,
        |CAST(dense_rank() OVER w AS INT) AS drnk,
        |round(percent_rank() OVER w, 6) AS prnk,
        |round(cume_dist() OVER w, 6) AS cd,
        |nth_value(value, 2) OVER (PARTITION BY user_id
        |  ORDER BY value DESC, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |  AS second_highest
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC)
        |ORDER BY user_id, rnk, event_id""".stripMargin,

    // the corruption rule is structural (event_id % 13 → truncated
    // JSON), so the oracle derives the quarantine side without a
    // permissive parser; valid rows parse with DuckDB's json extension
    "q78_json_quarantine" ->
      """WITH d AS (SELECT event_id,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE CAST(json_extract_string(props, '$.k') AS INT) END AS k
        |FROM events)
        |SELECT CASE WHEN k IS NULL THEN 'quarantine' ELSE 'ok' END AS decision,
        |count(*) AS n_rows,
        |CAST(sum(coalesce(k, 0)) AS BIGINT) AS k_total
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q79_agg_family" ->
      """SELECT event_type, count(*) AS n,
        |count(*) FILTER (WHERE value > 100.0) AS n_high,
        |bool_and(value >= 0.0) AS all_nonneg,
        |bool_or(value > 190.0) AS any_extreme,
        |round(median(value), 4) AS median_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q80_forward_fill" ->
      s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |  ${cents("value")} AS revenue
         |FROM events WHERE user_id < 5 AND event_type = 'purchase'
         |GROUP BY 1, 2),
         |spine AS (SELECT user_id,
         |  unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
         |FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
         |      FROM daily GROUP BY user_id)),
         |j AS (SELECT s.user_id, s.day, d.revenue FROM spine s
         |  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
         |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
         |last_value(revenue IGNORE NULLS) OVER (PARTITION BY user_id
         |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS filled_revenue,
         |revenue IS NOT NULL AS is_observed
         |FROM j ORDER BY user_id, day""".stripMargin,

    // q54's pair mining + recursive-CTE closure (same pattern as q71)
    "q81_embed_clusters" ->
      s"""WITH RECURSIVE ${embedGraphCtes("pairs", "0.35")},
         |${edgesCte("edges", "pairs")},
         |$CLOSURE_CTES
         |$CLUSTER_SIZES""".stripMargin,

    "q82_iqr_outliers" ->
      """WITH f AS (SELECT event_type,
        |  quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |round(f.q1, 4) AS q1, round(f.q3, 4) AS q3,
        |CAST(sum(CASE WHEN e.value < f.q1 - 1.5*(f.q3 - f.q1)
        |  OR e.value > f.q3 + 1.5*(f.q3 - f.q1) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_outliers
        |FROM events e JOIN f ON e.event_type = f.event_type
        |GROUP BY e.event_type, f.q1, f.q3
        |ORDER BY e.event_type""".stripMargin,

    "q83_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
        |o AS (SELECT DISTINCT ev.user_id, fw.cohort_wk,
        |  CAST(floor(date_diff('day', fw.cohort_wk, ev.wk) / 7.0) AS BIGINT)
        |    AS week_offset
        |FROM ev JOIN fw ON ev.user_id = fw.user_id)
        |SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week, week_offset,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM o GROUP BY cohort_wk, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q84_session_funnel" ->
      """WITH l AS (SELECT user_id, event_id, ts, event_type,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |FROM events),
        |x AS (SELECT user_id, ts, event_type,
        |  CASE WHEN prev_ts IS NULL
        |    OR date_diff('second', prev_ts, ts) >= 1800 THEN 1 ELSE 0 END AS brk,
        |  event_id FROM l),
        |g AS (SELECT user_id, ts, event_type, sum(brk) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM x),
        |s AS (SELECT user_id, sid,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
        |FROM g GROUP BY user_id, sid),
        |st AS (SELECT CASE WHEN first_view IS NULL THEN 'no_view'
        |  WHEN first_buy IS NULL THEN 'view_only'
        |  WHEN first_view < first_buy THEN 'converted'
        |  ELSE 'buy_first' END AS funnel_stage FROM s)
        |SELECT funnel_stage, count(*) AS n_sessions
        |FROM st GROUP BY funnel_stage ORDER BY funnel_stage""".stripMargin,

    "q85_survivor_merge" -> SURVIVOR_SQL,

    "q86_star_join" ->
      s"""SELECT n_name, count(*) AS n_lines,
         |${cents("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q87_sql_subqueries" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0
        |  AS total_balance
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the guess CTEs mirror q19's (already hash-verified); q88 reports
    // the full lang × guess matrix, not just the diagonal
    "q88_lang_confusion" ->
      s"""WITH d AS (SELECT lang, $TOKS AS toks FROM documents),
         |m AS (SELECT lang,
         |$LANG_SCORES
         |FROM d),
         |q AS (SELECT lang,
         |$LANG_GUESS
         |FROM m),
         |c AS (SELECT lang, guess, count(*) AS n FROM q GROUP BY 1, 2)
         |SELECT lang, guess, n,
         |round(CAST(n AS DOUBLE)/sum(n) OVER (PARTITION BY lang), 4) AS share
         |FROM c ORDER BY lang, guess""".stripMargin,

    // 13-gram shingles: inclusive slice tk[i:i+12], i <= len-12
    "q89_exact_contamination" ->
      s"""WITH tok AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |sh0 AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(tk) < 13 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)-11),
         |      i -> array_to_string(tk[i:i+12], ' ')) END) AS sh FROM tok),
         |post AS (SELECT doc_id, unnest(sh) AS g FROM sh0 WHERE len(sh) > 0),
         |bg AS (SELECT DISTINCT g FROM post WHERE doc_id % 50 = 0),
         |fl AS (SELECT DISTINCT p.doc_id FROM post p JOIN bg ON p.g = bg.g
         |  WHERE p.doc_id % 50 <> 0)
         |SELECT d.source, count(*) AS n_train,
         |CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_contaminated,
         |round(CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS DOUBLE)/count(*), 4) AS rate
         |FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
         |WHERE d.doc_id % 50 <> 0
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // quality formula mirrors q19's (already hash-verified)
    "q90_corpus_health" ->
      s"""WITH d AS (SELECT source, $TOKS AS toks,
         |  md5(array_to_string($TOKS, ' ')) AS fp FROM documents),
         |m AS (SELECT source, fp, len(toks) AS n,
         |CAST(len(list_filter(toks, x -> list_contains(['the','a'], x))) AS DOUBLE) AS stop_hits,
         |CAST(len(list_distinct(toks)) AS DOUBLE) AS uniq_cnt
         |FROM d),
         |q AS (SELECT source, fp, n,
         |round((CASE WHEN n=0 THEN 0.0 ELSE uniq_cnt/n END)*0.5
         | + (1.0-(CASE WHEN n=0 THEN 0.0 ELSE stop_hits/n END))*0.3
         | + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4) AS quality
         |FROM m)
         |SELECT source, count(*) AS n_docs,
         |CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
         |round(avg(quality), 4) AS avg_quality,
         |round(avg(n), 2) AS avg_tokens
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // composes the verified q21 (exact), q22+q71 (near-dup clusters),
    // and q19-quality rules with drop precedence
    "q91_clean_export" -> CLEAN_EXPORT_SQL,

    // q92 runs a DIFFERENT distributed algorithm (large-star/small-star
    // contraction) against the SAME ground truth: the oracle is q71's
    // transitive-closure clustering verbatim
    "q92_star_clusters" -> TEXT_CLUSTERS_SQL,

    // q93: q22's pairs, their symmetric edges, the integer PageRank
    "q93_pagerank" ->
      s"""${SHINGLE_CTES},
         |${cappedPairCtes("fpp", "prs")},
         |${jaccardEdgeCtes("prs")},
         |$PAGERANK_SQL""".stripMargin,

    // q94: chunk starts are range(0, n, 48) — DuckDB range excludes n,
    // Spark sequence(0, n-1, 48) includes values <= n-1: same set
    "q94_chunk_windows" ->
      s"""WITH tok AS (SELECT doc_id, source, len($TOKS) AS n FROM documents),
         |st AS (SELECT doc_id, source, n, unnest(range(0, n, 48)) AS s
         |  FROM tok WHERE n > 0),
         |ch AS (SELECT doc_id, source, least(64, n - s) AS chunk_toks FROM st)
         |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  CAST(sum(chunk_toks) AS BIGINT) AS chunk_tokens,
         |  round(avg(chunk_toks), 2) AS avg_chunk_toks
         |FROM ch GROUP BY source ORDER BY source""".stripMargin,

    // q95: the draw is the first 5 md5 hex chars vs the quality
    // threshold's zero-padded lowercase hex — pure string compare,
    // identical in both engines
    "q95_weighted_sample" ->
      s"""$SOURCE_QUALITY_CTES,
         |s AS (SELECT source, q, ws,
         |  substring(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 5)
         |    < lpad(lower(to_hex(CAST(round(q*300000) AS BIGINT))), 5, '0') AS sampled
         |  FROM q)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN sampled THEN ws ELSE 0 END) AS BIGINT) AS sampled_tokens,
         |  round(avg(CASE WHEN sampled THEN q END), 4) AS avg_q_sampled
         |FROM s GROUP BY source ORDER BY source""".stripMargin,

    // q96: the 50% cutoff is integer arithmetic (2*(cum-own) < total)
    // over window sums of exact token counts
    "q96_topp_select" ->
      s"""$SOURCE_QUALITY_CTES,
         |w AS (SELECT source, ws,
         |  sum(ws) OVER (PARTITION BY source ORDER BY q DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |  sum(ws) OVER (PARTITION BY source) AS total FROM q),
         |k AS (SELECT source, ws, (cum - ws) * 2 < total AS keep FROM w)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN ws ELSE 0 END) AS BIGINT) AS kept_tokens,
         |  round(CAST(sum(CASE WHEN keep THEN ws ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(ws) AS DOUBLE), 4) AS kept_share
         |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // q97: reconstruction error is fixed-point per ELEMENT
    // (round(d*d*1e12) as BIGINT) before any sum, so list order and
    // engine float-summation order cannot matter
    "q97_quantize_profile" ->
      s"""WITH emb AS (SELECT label,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |s AS (SELECT label, v,
         |  list_max(list_transform(v, x -> abs(x))) AS scale FROM emb),
         |e AS (SELECT label, scale,
         |  CASE WHEN scale = 0 THEN 0 ELSE CAST(list_sum(list_transform(v, x ->
         |    CAST(round(((x - least(greatest(round(x*127/scale), -127), 127)*scale/127)
         |      * (x - least(greatest(round(x*127/scale), -127), 127)*scale/127)) * 1e12) AS BIGINT))) AS BIGINT) END AS err_fp,
         |  CASE WHEN scale = 0 THEN 0 ELSE CAST(len(list_filter(v, x ->
         |    abs(least(greatest(round(x*127/scale), -127), 127)) = 127)) AS BIGINT) END AS n_sat
         |  FROM s)
         |SELECT label, count(*) AS n_vecs, round(avg(scale), 6) AS avg_scale,
         |  CAST(sum(err_fp) AS BIGINT) AS total_err_fp12,
         |  CAST(max(err_fp) AS BIGINT) AS max_err_fp12,
         |  CAST(sum(n_sat) AS BIGINT) AS n_saturated
         |FROM e GROUP BY label ORDER BY label""".stripMargin,

    // q98: sqrt is IEEE-correctly-rounded in both engines; the share
    // denominator is an integer sum of fixed-point weights
    "q98_mixture_weights" ->
      s"""WITH d AS (SELECT source, len($TOKS) AS ws FROM documents),
         |g AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(ws) AS BIGINT) AS n_tokens FROM d GROUP BY source),
         |p AS (SELECT source, n_docs, n_tokens,
         |  CAST(round(sqrt(n_tokens) * 1e6) AS BIGINT) AS p_fp FROM g),
         |t AS (SELECT *, CAST(sum(p_fp) OVER () AS BIGINT) AS total FROM p)
         |SELECT source, n_docs, n_tokens,
         |  round(CAST(p_fp AS DOUBLE) / total, 6) AS mix_share,
         |  CAST(round(p_fp * 10000.0 / total) AS BIGINT) AS docs_per_10k
         |FROM t ORDER BY source""".stripMargin,

    // q99: 8-token prefix fingerprint — DuckDB list[1:8] and Spark
    // slice(arr, 1, 8) both take min(8, len) leading elements
    "q99_cross_source_dups" ->
      s"""WITH f AS (SELECT DISTINCT md5(array_to_string(($TOKS)[1:8], ' ')) AS fp,
         |  source FROM documents)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(DISTINCT a.fp) AS n_shared_fps
         |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q100: lift numerator/denominator are exact BIGINT products
    // before the single double division
    "q100_cooccur_lift" ->
      s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         |tot AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
         |supp AS (SELECT event_type, count(*) AS supp FROM ut GROUP BY 1),
         |co AS (SELECT a.event_type AS et_a, b.event_type AS et_b,
         |  count(*) AS n_co
         |FROM ut a JOIN ut b ON a.user_id = b.user_id
         |  AND a.event_type < b.event_type
         |GROUP BY 1, 2)
         |SELECT et_a, et_b, CAST(n_co AS BIGINT) AS n_co,
         |  CAST(sa.supp AS BIGINT) AS supp_a, CAST(sb.supp AS BIGINT) AS supp_b,
         |  round(CAST(n_co * n_users AS DOUBLE)
         |    / CAST(sa.supp * sb.supp AS DOUBLE), 4) AS lift
         |FROM co JOIN supp sa ON sa.event_type = co.et_a
         |  JOIN supp sb ON sb.event_type = co.et_b
         |  CROSS JOIN tot
         |ORDER BY et_a, et_b""".stripMargin,

    // q101: ntile bucket sizing (first buckets take the remainder) is
    // the same SQL-standard rule in both engines; the window's total
    // order makes bucket assignment deterministic
    "q101_equidepth_hist" ->
      s"""WITH w AS (SELECT l_returnflag, l_extendedprice,
         |  ntile(8) OVER (PARTITION BY l_returnflag
         |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
         |FROM lineitem)
         |SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket,
         |  count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q102: the pair CTE replays q54's IVF cosine mining at 0.30; the
    // canonical a<b orientation makes the wedge+closure join count
    // each triangle exactly once
    "q102_triangles" ->
      s"""WITH ${embedGraphCtes("jp", "0.30")},
         |$TRIANGLES_CTE,
         |nodes AS (SELECT unnest([a, b, c]) AS vec_id FROM tri)
         |SELECT vec_id, count(*) AS n_triangles
         |FROM nodes GROUP BY vec_id
         |ORDER BY n_triangles DESC, vec_id""".stripMargin,

    // q103: snapshot B's edit salt (' v2') is appended BEFORE
    // tokenization, mirroring the Spark concat-then-fingerprint
    "q103_snapshot_diff" ->
      s"""WITH av AS (SELECT doc_id, source,
         |  md5(array_to_string($TOKS, ' ')) AS fp_a
         |  FROM documents WHERE doc_id % 10 <> 0),
         |bsrc AS (SELECT doc_id, source,
         |  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0),
         |bv AS (SELECT doc_id, source,
         |  md5(array_to_string($TOKS, ' ')) AS fp_b FROM bsrc),
         |j AS (SELECT coalesce(av.source, bv.source) AS source,
         |  CASE WHEN fp_a IS NULL THEN 'added'
         |    WHEN fp_b IS NULL THEN 'removed'
         |    WHEN fp_a <> fp_b THEN 'changed'
         |    ELSE 'unchanged' END AS status
         |  FROM av FULL OUTER JOIN bv ON av.doc_id = bv.doc_id)
         |SELECT source, status, count(*) AS n
         |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin,

    // q104: bigrams as space-joined strings then split, mirroring the
    // Spark shingles(tk,2) formulation; tokens cannot contain spaces
    "q104_bigram_lm" ->
      s"""WITH d AS (SELECT $TOKS AS tk FROM documents),
         |bgs AS (SELECT unnest(list_transform(range(1, len(tk)),
         |  i -> tk[i] || ' ' || tk[i+1])) AS bg
         |  FROM d WHERE len(tk) >= 2),
         |hn AS (SELECT string_split(bg, ' ')[1] AS head,
         |  string_split(bg, ' ')[2] AS "next" FROM bgs),
         |cnt AS (SELECT head, "next", count(*) AS n FROM hn GROUP BY 1, 2),
         |heads AS (SELECT head, CAST(sum(n) AS BIGINT) AS head_n
         |  FROM cnt GROUP BY 1 ORDER BY head_n DESC, head LIMIT 10),
         |r AS (SELECT c.head, c."next", c.n, h.head_n,
         |  row_number() OVER (PARTITION BY c.head
         |    ORDER BY c.n DESC, c."next") AS "rank"
         |  FROM cnt c JOIN heads h USING(head))
         |SELECT head, "rank", "next", CAST(n AS BIGINT) AS n, head_n,
         |  round(CAST(n AS DOUBLE) / head_n, 4) AS p
         |FROM r WHERE "rank" <= 3 ORDER BY head, "rank"""".stripMargin,

    // q105: dynamic-gap sessionization — the break test must use the
    // RUNNING MAX of prior (ts + per-event gap) ends, not lag(ts):
    // a 30-min purchase hold can bridge across later short-hold views,
    // and the session end is the max hold end, which an early purchase
    // can own. Tie safety: equal-ts rows can never break on each other
    // (their hold ends exceed their own ts), so the partitioning is
    // order-independent. Same watermark finalization filter as q73;
    // the staged clock row's session end is past the watermark by
    // construction and never emits.
    "q105_dynsession_replay" ->
      """WITH ev AS (SELECT ts, user_id, event_type, value FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 2 MINUTE AS w FROM ev),
        |l AS (SELECT user_id, ts, value,
        |  ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
        |    ELSE INTERVAL 10 MINUTE END AS e FROM ev),
        |x AS (SELECT user_id, ts, value, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM l),
        |b AS (SELECT user_id, ts, value, e,
        |  CASE WHEN pmax IS NULL OR ts >= pmax THEN 1 ELSE 0 END AS brk FROM x),
        |g AS (SELECT user_id, ts, value, e, sum(brk) OVER (
        |  PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |FROM b),
        |s AS (SELECT user_id, min(ts) AS ss, max(e) AS se,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        |FROM g GROUP BY user_id, sid)
        |SELECT strftime(ss, '%Y-%m-%d %H:%M:%S') AS session_start,
        |strftime(se, '%Y-%m-%d %H:%M:%S') AS session_end,
        |user_id, n_events, total_value
        |FROM s, wm WHERE se <= w
        |ORDER BY session_start, user_id""".stripMargin,

    // q106: hex→int without conv(): two strpos lookups over the hex
    // alphabet (md5 output is lowercase in both engines)
    "q106_cms_heavy_hitters" ->
      s"""WITH occ AS (SELECT unnest($TOKS) AS tok FROM documents),
         |tc AS (SELECT tok, count(*) AS exact_n FROM occ GROUP BY tok),
         |hr AS (SELECT unnest([0, 1, 2, 3]) AS hrow),
         |tb AS (SELECT tok, exact_n, hrow,
         |  (strpos('0123456789abcdef',
         |     substring(md5(CAST(hrow AS VARCHAR) || '|' || tok), 1, 1)) - 1) * 16
         |  + strpos('0123456789abcdef',
         |     substring(md5(CAST(hrow AS VARCHAR) || '|' || tok), 2, 1)) - 1
         |  AS bucket FROM tc CROSS JOIN hr),
         |counters AS (SELECT hrow, bucket, CAST(sum(exact_n) AS BIGINT) AS cnt
         |  FROM tb GROUP BY hrow, bucket),
         |top AS (SELECT tok, exact_n,
         |  row_number() OVER (ORDER BY exact_n DESC, tok) AS rk FROM tc
         |  QUALIFY rk <= 20),
         |est AS (SELECT t.tok, t.exact_n, t.rk, min(c.cnt) AS est_n
         |  FROM top t JOIN tb ON tb.tok = t.tok
         |  JOIN counters c ON c.hrow = tb.hrow AND c.bucket = tb.bucket
         |  GROUP BY t.tok, t.exact_n, t.rk)
         |SELECT rk, tok, CAST(exact_n AS BIGINT) AS exact_n, est_n,
         |  est_n - exact_n AS overcount
         |FROM est ORDER BY rk""".stripMargin,

    // q107: the register sum is fixed-point (Σ 2^(49-r) as BIGINT) and
    // the alpha numerator is the SAME expression text as the Spark
    // side, so the raw double estimate is bit-identical
    "q107_portable_hll" ->
      s"""WITH p AS (SELECT DISTINCT event_type, user_id FROM events),
         |hh AS (SELECT event_type, user_id,
         |  md5('hll|' || CAST(user_id AS VARCHAR)) AS h FROM p),
         |${hllRankCtes("event_type", "hh", "hx", "zz", "rk")},
         |regs AS (SELECT event_type, bucket, max(r) AS r
         |  FROM rk GROUP BY 1, 2),
         |sums AS (SELECT event_type,
         |  CAST(sum(1::BIGINT << (49 - r)) AS BIGINT) AS s_used,
         |  count(*) AS n_buckets FROM regs GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         |  FROM p GROUP BY 1),
         |e AS (SELECT s.event_type, n_buckets, exact_users,
         |  round(0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
         |    / (s_used + (256 - n_buckets) * 562949953421312::BIGINT), 2) AS est
         |  FROM sums s JOIN ex USING (event_type))
         |SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
         |  CAST(exact_users AS BIGINT) AS exact_users, est,
         |  round((est - exact_users) / exact_users, 4) AS rel_err
         |FROM e ORDER BY event_type""".stripMargin,

    // q108: 3-hex-char → int via nested strpos (0..4095), mod 1024
    "q108_portable_bloom" ->
      s"""WITH d AS (SELECT doc_id,
         |  md5(array_to_string($TOKS, ' ')) AS fp FROM documents),
         |k AS (SELECT unnest([0, 1, 2]) AS i),
         |mh AS (SELECT substring(md5(CAST(i AS VARCHAR) || '|' || fp), 1, 3) AS h
         |  FROM d CROSS JOIN k WHERE doc_id % 3 = 0),
         |bits AS (SELECT DISTINCT
         |  (((strpos('0123456789abcdef', h[1]) - 1) * 16
         |    + strpos('0123456789abcdef', h[2]) - 1) * 16
         |    + strpos('0123456789abcdef', h[3]) - 1) % 1024 AS mbit FROM mh),
         |ph AS (SELECT doc_id, doc_id % 3 = 0 AS actual,
         |  substring(md5(CAST(i AS VARCHAR) || '|' || fp), 1, 3) AS h
         |  FROM d CROSS JOIN k),
         |pb AS (SELECT doc_id, actual,
         |  (((strpos('0123456789abcdef', h[1]) - 1) * 16
         |    + strpos('0123456789abcdef', h[2]) - 1) * 16
         |    + strpos('0123456789abcdef', h[3]) - 1) % 1024 AS bit FROM ph),
         |cl AS (SELECT doc_id, actual, count(b.mbit) = 3 AS claimed
         |  FROM pb LEFT JOIN bits b ON pb.bit = b.mbit
         |  GROUP BY doc_id, actual),
         |nb AS (SELECT count(*) AS n_bits_set FROM bits)
         |SELECT actual, claimed, count(*) AS n,
         |  CAST(n_bits_set AS BIGINT) AS n_bits_set
         |FROM cl CROSS JOIN nb GROUP BY 1, 2, 4
         |ORDER BY actual, claimed""".stripMargin,

    // ---- q109-q113: the materialized pair-table pipeline. Each stage
    // replays the same closures as the independent queries (q22 pairs,
    // q71 transitive closure, q85/q91/q93 tails) — the Spark side mines
    // the pair table ONCE (graft.operators.PairTable) and derives every
    // stage from it, and each derivation hash-matches its closure.

    "q109_pipeline_mine" -> PIPELINE_MINE_SQL,

    "q110_pipeline_clusters" ->
      s"""${PAIR_CLOSURE_CTES},
         |${clusterEdgeRollup("jp")}""".stripMargin,

    "q111_pipeline_survivors" -> SURVIVOR_SQL,

    "q112_pipeline_export" -> CLEAN_EXPORT_SQL,

    // q93's integer-arithmetic PageRank replay over the closure's edge
    // set (reach/lab go unused here — DuckDB inlines CTEs on use, so
    // the recursive closure costs nothing when unreferenced)
    "q113_pipeline_pagerank" ->
      s"""${PAIR_CLOSURE_CTES},
         |$PAGERANK_SQL""".stripMargin,

    // q114: the merged row here is a ONE-SHOT sketch over the union of
    // raw values, while the Spark side merges the two shard sketches by
    // register-wise max — the hash match proves merge ≡ rebuild.
    "q114_hll_merge" ->
      s"""WITH p AS (
         |  SELECT DISTINCT 'shard_' || CAST(event_id % 2 AS VARCHAR) AS part,
         |    user_id FROM events
         |  UNION ALL
         |  SELECT DISTINCT 'merged' AS part, user_id FROM events),
         |hh AS (SELECT part, user_id,
         |  md5('hll|' || CAST(user_id AS VARCHAR)) AS h FROM p),
         |${hllRankCtes("part", "hh", "hx", "zz", "rk")},
         |regs AS (SELECT part, bucket, max(r) AS r FROM rk GROUP BY 1, 2),
         |sums AS (SELECT part,
         |  CAST(sum(1::BIGINT << (49 - r)) AS BIGINT) AS s_used,
         |  count(*) AS n_buckets FROM regs GROUP BY 1),
         |ex AS (SELECT part, count(DISTINCT user_id) AS exact_users
         |  FROM p GROUP BY 1),
         |e AS (SELECT s.part, n_buckets, exact_users,
         |  round(0.7213e0/(1.0e0+1.079e0/256.0e0)*65536.0e0*562949953421312.0e0
         |    / (s_used + (256 - n_buckets) * 562949953421312::BIGINT), 2) AS est
         |  FROM sums s JOIN ex USING (part))
         |SELECT part, CAST(n_buckets AS BIGINT) AS n_buckets,
         |  CAST(exact_users AS BIGINT) AS exact_users, est,
         |  round((est - exact_users) / exact_users, 4) AS rel_err
         |FROM e ORDER BY part""".stripMargin,

    // q115: q41's IVF assignment/probe + q97's int8 quantization; the
    // gate score is an exact BIGINT dot product over quantized vectors,
    // the rerank is q41's double cosine over the top-20 gate survivors
    "q115_quantized_ann" ->
      s"""$IVF_PROBE_CTES,
         |aq AS (SELECT neighbor_id, cent_id,
         |  CASE WHEN s = 0 THEN list_transform(cv, x -> 0::BIGINT)
         |    ELSE list_transform(cv, x ->
         |      CAST(least(greatest(round(x*127/s), -127), 127) AS BIGINT)) END AS cqv
         |  FROM (SELECT neighbor_id, cent_id, cv,
         |    list_max(list_transform(cv, x -> abs(x))) AS s FROM assigned)),
         |aqn AS (SELECT neighbor_id, cent_id, cqv,
         |  CAST(list_sum(list_transform(cqv, x -> x*x)) AS BIGINT) AS cqn FROM aq),
         |pq AS (SELECT query_id, cent_id,
         |  CASE WHEN s = 0 THEN list_transform(qv, x -> 0::BIGINT)
         |    ELSE list_transform(qv, x ->
         |      CAST(least(greatest(round(x*127/s), -127), 127) AS BIGINT)) END AS qqv
         |  FROM (SELECT query_id, cent_id, qv,
         |    list_max(list_transform(qv, x -> abs(x))) AS s FROM probed)),
         |pqn AS (SELECT query_id, cent_id, qqv,
         |  CAST(list_sum(list_transform(qqv, x -> x*x)) AS BIGINT) AS qqn FROM pq),
         |cands AS (SELECT DISTINCT p.query_id, a.neighbor_id,
         |  CASE WHEN p.qqn = 0 OR a.cqn = 0 THEN 0.0e0
         |    ELSE round(
         |      CAST(list_sum(list_transform(range(1, len(p.qqv)+1),
         |        i -> p.qqv[i]*a.cqv[i])) AS BIGINT)
         |      / sqrt(CAST(p.qqn AS DOUBLE) * a.cqn), 4) END AS sim_q
         |  FROM pqn p JOIN aqn a ON p.cent_id = a.cent_id
         |  WHERE p.query_id <> a.neighbor_id),
         |gate AS (SELECT query_id, neighbor_id, sim_q FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim_q DESC, neighbor_id) AS qrank FROM cands)
         |  WHERE qrank <= 20),
         |rer AS (SELECT g.query_id, g.neighbor_id, g.sim_q,
         |  round(list_dot_product(q.e, c.e)
         |   /(sqrt(list_dot_product(q.e, q.e))*sqrt(list_dot_product(c.e, c.e))), 4) AS sim
         |  FROM gate g JOIN v q ON q.vec_id = g.query_id
         |  JOIN v c ON c.vec_id = g.neighbor_id)
         |SELECT query_id, "rank", neighbor_id, sim, sim_q FROM (
         |SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY sim DESC, neighbor_id) AS "rank" FROM rer)
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    // q116's oracle is the FULL RE-MINE (q109's SQL verbatim): the
    // Spark side computes existing-pairs ∪ incoming-delta, and the
    // hash match proves the incremental maintenance algebra reproduces
    // the from-scratch mine
    "q116_incremental_pairs" -> PIPELINE_MINE_SQL,

    "q117_cluster_split" ->
      s"""${PAIR_CLOSURE_CTES},
         |asg AS (SELECT d.doc_id,
         |  coalesce(lab.cluster_id, d.doc_id) AS grp,
         |  CAST(len($TOKS) AS BIGINT) AS ws
         |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id),
         |spl AS (SELECT doc_id, grp, ws,
         |  CASE WHEN substr(md5('split-seed|' || CAST(grp AS VARCHAR)), 1, 2) < 'f0' THEN 'train'
         |       WHEN substr(md5('split-seed|' || CAST(grp AS VARCHAR)), 1, 2) < 'f8' THEN 'val'
         |       ELSE 'test' END AS split FROM asg),
         |crs AS (SELECT CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_cross_split_pairs
         |  FROM jp JOIN spl a ON jp.id_a = a.doc_id
         |  JOIN spl b ON jp.id_b = b.doc_id)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT grp) AS n_groups,
         |  CAST(sum(ws) AS BIGINT) AS n_tokens, n_cross_split_pairs
         |FROM spl CROSS JOIN crs
         |GROUP BY split, n_cross_split_pairs ORDER BY split""".stripMargin,

    // q118: q81's embedding pair closure + q110's per-cluster edge
    // count, over the materialized embedding pair table
    "q118_embed_pipeline" ->
      s"""WITH RECURSIVE ${embedGraphCtes("pairs", "0.35")},
         |${edgesCte("edges", "pairs")},
         |$CLOSURE_CTES,
         |${clusterEdgeRollup("pairs")}""".stripMargin,

    // q119: per-bigram p rounds to 6 dp → fixed-point micro-units →
    // integer-division per-doc mean; `//` (floor) == Spark `div`
    // (truncate) on the non-negative values here
    "q119_lm_quality" ->
      s"""WITH d AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
         |db AS (SELECT doc_id, source, unnest(list_transform(range(1, len(tk)),
         |  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM d WHERE len(tk) >= 2),
         |hb AS (SELECT doc_id, source, string_split(bg, ' ')[1] AS head,
         |  string_split(bg, ' ')[2] AS "next" FROM db),
         |cnt AS (SELECT head, "next", count(*) AS n FROM hb GROUP BY 1, 2),
         |hn AS (SELECT head, CAST(sum(n) AS BIGINT) AS head_n
         |  FROM cnt GROUP BY 1),
         |pd AS (SELECT doc_id, source, count(*) AS n_bi,
         |  CAST(sum(CAST(round(round(CAST(c.n AS DOUBLE)/h.head_n, 6)*1e6)
         |    AS BIGINT)) AS BIGINT) AS sum_fp
         |  FROM hb JOIN cnt c USING(head, "next") JOIN hn h USING(head)
         |  GROUP BY 1, 2),
         |m AS (SELECT doc_id, source, n_bi, sum_fp // n_bi AS mean_fp FROM pd)
         |SELECT source, count(*) AS n_docs,
         |CAST(sum(CASE WHEN mean_fp < 33000 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_low,
         |round(CAST(sum(mean_fp) AS DOUBLE)/count(*)/1e6, 6) AS avg_mean_p
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q120_pair_source_matrix" ->
      s"""${PAIR_CLOSURE_CTES},
         |jj AS (SELECT id_a, id_b,
         |  round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard
         |  FROM prs
         |  WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2),
         |sx AS (SELECT j.jaccard,
         |  least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b
         |  FROM jj j JOIN documents da ON j.id_a = da.doc_id
         |  JOIN documents db ON j.id_b = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |round(min(jaccard), 4) AS min_jaccard,
         |round(max(jaccard), 4) AS max_jaccard
         |FROM sx GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,

    // q121: 5-gram spans (distinct per doc, mirroring WordShingles);
    // coverage as floor-division basis points — `//` == Spark `div`
    // on the non-negative values here
    "q121_repeated_spans" ->
      s"""WITH tok AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
         |sh0 AS (SELECT doc_id, source,
         |  list_distinct(CASE WHEN len(tk) < 5 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)-3),
         |      i -> array_to_string(tk[i:i+4], ' ')) END) AS sh FROM tok),
         |ss AS (SELECT doc_id, source, sh, len(sh) AS n_sh
         |  FROM sh0 WHERE len(sh) > 0),
         |post AS (SELECT doc_id, source, n_sh, unnest(sh) AS shingle FROM ss),
         |dfb AS (SELECT shingle, count(*) AS df FROM post GROUP BY shingle),
         |pd AS (SELECT p.doc_id, p.source, p.n_sh,
         |  sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM post p JOIN dfb d ON p.shingle = d.shingle
         |  GROUP BY 1, 2, 3),
         |cv AS (SELECT source, (10000 * n_dup) // n_sh AS cov_bp FROM pd)
         |SELECT source, count(*) AS n_docs,
         |CAST(sum(CASE WHEN cov_bp >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_flagged,
         |round(CAST(sum(cov_bp) AS DOUBLE)/count(*)/1e4, 6) AS avg_coverage
         |FROM cv GROUP BY source ORDER BY source""".stripMargin,

    "q122_bpe_pairs" ->
      s"""WITH wf AS (SELECT w, count(*) AS f
         |  FROM (SELECT unnest($TOKS) AS w FROM documents) GROUP BY w),
         |pr AS (SELECT f, list_transform(range(1, length(w)),
         |  i -> substr(w, CAST(i AS INT), 2)) AS ps
         |  FROM wf WHERE length(w) >= 2),
         |px AS (SELECT unnest(ps) AS pair, f FROM pr)
         |SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM px
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // q123: thresholds as integer basis points; id_a < id_b in the
    // mined pairs, so DISTINCT id_b == keep-lowest-id drops
    "q123_retention_sweep" ->
      s"""${PAIR_CLOSURE_CTES},
         |jb AS (SELECT id_a, id_b,
         |  CAST(round(round(CAST(shared AS DOUBLE)/(na+nb-shared), 4)
         |    * 10000) AS INT) AS bp
         |  FROM prs
         |  WHERE round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) >= 0.2),
         |th AS (SELECT unnest([2000, 3000, 4000, 5000, 6000, 7000,
         |  8000, 9000]) AS threshold_bp),
         |e AS (SELECT t.threshold_bp, j.id_a, j.id_b
         |  FROM jb j JOIN th t ON j.bp >= t.threshold_bp),
         |${retentionSweep("documents")}""".stripMargin,

    "q124_training_order" ->
      """WITH s AS (SELECT doc_id, source,
        |  md5('order|' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |r AS (SELECT doc_id, source, row_number() OVER (
        |  PARTITION BY source ORDER BY h, doc_id) AS position FROM s)
        |SELECT position, source, doc_id FROM r
        |ORDER BY position, source LIMIT 24""".stripMargin,

    // q125: quality fixed-point mirrors q95's score CTE; per-lang
    // top-50 by (q_fp desc, doc_id)
    "q125_quota_sample" ->
      s"""WITH d AS (SELECT doc_id, lang, $TOKS AS toks FROM documents),
         |m AS (SELECT doc_id, lang, len(toks) AS n,
         |  CAST(len(list_filter(toks, x -> list_contains(['the','a'], x))) AS DOUBLE) AS stop_hits,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) AS uniq_cnt FROM d),
         |q AS (SELECT doc_id, lang, n AS ws,
         |  CAST(round(round((CASE WHEN n=0 THEN 0.0 ELSE uniq_cnt/n END)*0.5
         |   + (1.0-(CASE WHEN n=0 THEN 0.0 ELSE stop_hits/n END))*0.3
         |   + least(CAST(n AS DOUBLE)/100.0, 1.0)*0.2, 4)*10000) AS BIGINT)
         |    AS q_fp FROM m),
         |r AS (SELECT lang, ws, q_fp, row_number() OVER (
         |  PARTITION BY lang ORDER BY q_fp DESC, doc_id) AS rn FROM q)
         |SELECT lang, count(*) AS n_avail,
         |CAST(sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_taken,
         |CAST(sum(CASE WHEN rn <= 50 THEN ws ELSE 0 END) AS BIGINT)
         |  AS taken_tokens,
         |round(CAST(sum(CASE WHEN rn <= 50 THEN q_fp ELSE 0 END) AS DOUBLE)
         |  / sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) / 1e4, 4)
         |  AS avg_q_taken
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // q126: the oracle builds the histogram ONE-SHOT from raw rows;
    // matching the engine's shard-then-cell-add build IS the
    // merge ≡ rebuild proof (q114 pattern). Integer rank arithmetic;
    // e-notation float literals (DuckDB decimal-literal gotcha)
    "q126_histogram_quantiles" ->
      """WITH b AS (SELECT event_type,
        |  least(49, CAST(floor(value/10) AS INT)) AS bin FROM events),
        |m AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |  FROM m GROUP BY 1),
        |cu AS (SELECT event_type, bin, c, sum(c) OVER (
        |  PARTITION BY event_type ORDER BY bin) AS cum FROM m),
        |p AS (SELECT unnest([50, 90, 99]) AS p_pct),
        |k AS (SELECT cu.event_type, cu.bin, cu.c, cu.cum, t.n, p.p_pct,
        |  (p.p_pct * t.n + 99) // 100 AS kk
        |  FROM cu JOIN t USING (event_type) CROSS JOIN p),
        |s AS (SELECT event_type, p_pct, n,
        |  round(bin*10 + 1.0e1*(kk - (cum - c))/c, 4) AS est_value
        |  FROM k WHERE cum - c < kk AND kk <= cum),
        |e AS (SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS e50,
        |  round(quantile_cont(value, 0.9), 4) AS e90,
        |  round(quantile_cont(value, 0.99), 4) AS e99
        |  FROM events GROUP BY 1)
        |SELECT s.event_type, s.p_pct, s.n, s.est_value,
        |CASE WHEN s.p_pct = 50 THEN e.e50 WHEN s.p_pct = 90 THEN e.e90
        |  ELSE e.e99 END AS exact_value
        |FROM s JOIN e USING (event_type)
        |ORDER BY s.event_type, s.p_pct""".stripMargin,

    // q127: text pair closure (jp) + q118's embedding mining, full
    // outer on the canonical (id_a, id_b) keys
    "q127_modality_agreement" ->
      s"""${PAIR_CLOSURE_CTES},
         |${embedGraphCtes("ep", "0.35")},
         |ag AS (SELECT
         |  CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_text_pairs,
         |  CAST(sum(CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_embed_pairs,
         |  CAST(sum(CASE WHEN t.id_a IS NOT NULL AND e.id_a IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |  FROM jp t FULL OUTER JOIN ep e
         |    ON t.id_a = e.id_a AND t.id_b = e.id_b)
         |SELECT n_text_pairs, n_embed_pairs, n_both,
         |round(CASE WHEN n_text_pairs + n_embed_pairs - n_both = 0 THEN 0.0e0
         |  ELSE CAST(n_both AS DOUBLE)/(n_text_pairs + n_embed_pairs - n_both)
         |  END, 4) AS pair_jaccard,
         |round(CASE WHEN n_embed_pairs = 0 THEN 0.0e0
         |  ELSE CAST(n_both AS DOUBLE)/n_embed_pairs END, 4) AS precision_embed,
         |round(CASE WHEN n_text_pairs = 0 THEN 0.0e0
         |  ELSE CAST(n_both AS DOUBLE)/n_text_pairs END, 4) AS recall_text
         |FROM ag""".stripMargin,

    // q128: the deletion cascade derives from jp (pairs) and lab
    // (CC labels) of the shared closure
    "q128_forget_cascade" ->
      s"""${PAIR_CLOSURE_CTES},
         |nf AS (SELECT CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_forgotten FROM documents),
         |ni AS (SELECT CAST(sum(CASE WHEN id_a % 97 = 0 OR id_b % 97 = 0
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_invalidated FROM jp),
         |af AS (SELECT DISTINCT cluster_id FROM lab WHERE doc_id % 97 = 0),
         |na AS (SELECT count(*) AS n_affected_clusters FROM af),
         |no AS (SELECT CAST(sum(CASE WHEN l.doc_id % 97 <> 0 THEN 1 ELSE 0
         |  END) AS BIGINT) AS n_orphaned_survivors
         |  FROM lab l JOIN af ON l.cluster_id = af.cluster_id)
         |SELECT n_forgotten, n_pairs_invalidated, n_affected_clusters,
         |n_orphaned_survivors
         |FROM nf CROSS JOIN ni CROSS JOIN na CROSS JOIN no""".stripMargin,

    // q129: vocab = top-256 tokens (count desc, token asc — a
    // deterministic cut); OOV measured on occurrences
    "q129_oov_rate" ->
      s"""WITH tok AS (SELECT source, unnest($TOKS) AS token FROM documents),
         |vc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token
         |  ORDER BY cnt DESC, token LIMIT 256)
         |SELECT t.source, count(*) AS n_tokens,
         |CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_oov,
         |round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |  AS DOUBLE)/count(*), 4) AS oov_rate
         |FROM tok t LEFT JOIN vc v ON t.token = v.token
         |GROUP BY t.source ORDER BY t.source""".stripMargin,

    // q130: exact cosine-threshold join (broadcast-gate regime of the
    // injected similarity-join operator) — the oracle is the literal
    // threshold join; the exec gates on the RAW sequential-fold
    // cosine, output rounds to 4 dp
    "q130_simjoin_exact" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 8),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |  list_dot_product(qv, e)
        |   /(sqrt(list_dot_product(qv, qv))*sqrt(list_dot_product(e, e)))
        |  AS sim
        |FROM q JOIN v ON query_id <> vec_id)
        |SELECT query_id, neighbor_id, round(sim, 4) AS sim FROM s
        |WHERE sim >= 0.35 ORDER BY query_id, neighbor_id""".stripMargin,

    // q131: banded-LSH regime, 8 bands x 8 bits
    "q131_simjoin_banded" -> bandedSimjoinSql(64, 8, 8, "0.35"),

    // q132: stream-stream LEFT OUTER interval join, replayed. Inner
    // matches are watermark-independent; a NULL row exists only for
    // unmatched purchases the final EFFECTIVE watermark has passed
    // (inclusive <=, measured: OuterProbeSpec-era probes). Effective =
    // min over the two watermark nodes, and because Catalyst pushes
    // the event-type filters BELOW the watermark operators, each node
    // tracks only ITS OWN subset's max event time (floored to ms —
    // EventTimeStats works in epoch millis) minus the 2-minute delay
    "q132_attribution_outer" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, value, ts
        |  FROM events),
        |wm AS (SELECT make_timestamp(
        |  (epoch_us(least(
        |    (SELECT max(ts) FROM ev WHERE event_type = 'purchase'),
        |    (SELECT max(ts) FROM ev WHERE event_type = 'view')))
        |   //1000)*1000) - INTERVAL 2 MINUTE AS w),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        |  FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
        |  FROM ev WHERE event_type = 'view'),
        |m AS (SELECT p.purchase_id, p.user_id, v.view_id, p.value
        |FROM p JOIN v ON p.user_id = v.v_user
        |  AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR AND v.v_ts < p.p_ts),
        |un AS (SELECT p.purchase_id, p.user_id,
        |  CAST(NULL AS BIGINT) AS view_id, p.value
        |FROM p
        |WHERE p.p_ts <= (SELECT w FROM wm)
        |  AND NOT EXISTS (SELECT 1 FROM m
        |    WHERE m.purchase_id = p.purchase_id))
        |SELECT purchase_id, user_id, view_id, value FROM (
        |  SELECT * FROM m UNION ALL SELECT * FROM un)
        |ORDER BY purchase_id, coalesce(view_id, -1)""".stripMargin,

    // q133: delta-of-the-cap maintenance must equal the full re-mine
    // over corpus ∪ incoming at the same (tight) df cap of 8
    "q133_delta_cap_pairs" ->
      s"""${SHINGLE_CTES},
         |post AS (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM ss),
         |keep AS (SELECT shingle FROM post GROUP BY shingle
         |  HAVING count(*) <= 8),
         |fp AS (SELECT p.doc_id, p.n_sh, p.shingle FROM post p
         |  JOIN keep k ON p.shingle = k.shingle),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.n_sh AS na, b.n_sh AS nb, count(*) AS shared
         |FROM fp a JOIN fp b ON a.shingle = b.shingle
         |  AND a.doc_id < b.doc_id
         |GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, shared, jaccard FROM (
         |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
         |round(CAST(shared AS DOUBLE)/(na+nb-shared), 4) AS jaccard
         |FROM pairs)
         |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin)

  /** q21's whole-corpus exact dedup, shared verbatim with q146: the
    * incremental merge's oracle is the full rebuild — that equality IS
    * the maintenance contract (the q41/q134/q138 pattern). */
  // lazy: defined below `all` textually, referenced during its init
  private lazy val EXACT_DEDUP_SQL =
    s"""WITH d AS (SELECT doc_id,
       |md5(array_to_string($TOKS, ' ')) AS fp FROM documents)
       |SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM d GROUP BY fp ORDER BY fp""".stripMargin

  private def semCos(a: String, b: String, dp: Int): String =
    s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), $dp)"

  /** SemDeDup oracle family shared CTEs: k=6 one-iteration k-means
    * fit over `fitFilter`-selected embeddings (q63's fixed-point
    * arithmetic) — yields `sv` (all vectors) and `c1` (the fitted
    * centroids). */
  private def semFitCtes(fitFilter: String): String =
    s"""sv AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
       |fitsrc AS (SELECT * FROM sv WHERE $fitFilter),
       |c0 AS (SELECT id AS cent_id, vv AS cv FROM fitsrc ORDER BY id LIMIT 6),
       |fa AS (SELECT id, vv, cent_id FROM (
       |  SELECT f.id, f.vv, c.cent_id,
       |  row_number() OVER (PARTITION BY f.id ORDER BY ${semCos("f.vv", "c.cv", 6)} DESC, c.cent_id) AS rk
       |  FROM fitsrc f CROSS JOIN c0 c) WHERE rk = 1),
       |${kmMeanCtes(1, "fa")}""".stripMargin

  /** Nearest-c1-centroid assignment of the `srcFilter` slice of `sv`
    * as CTE `out` (6-dp score, centroid-id tie-break). */
  private def semAssignCte(srcFilter: String, out: String): String =
    s"""$out AS (SELECT id, vv, cent_id FROM (
       |  SELECT s.id, s.vv, c.cent_id,
       |  row_number() OVER (PARTITION BY s.id ORDER BY ${semCos("s.vv", "c.cv", 6)} DESC, c.cent_id) AS rk
       |  FROM (SELECT * FROM sv WHERE $srcFilter) s CROSS JOIN c1 c) WHERE rk = 1)""".stripMargin

  /** q142/q143 shared: the 8-step BPE training trajectory as chained
    * CTEs. Step i counts adjacent symbol pairs of w(i-1) weighted by
    * word frequency (b_i = the arg-max with pair-string tie-break)
    * and rewrites the vocabulary with literal left-to-right
    * `replace` — mirroring [[graft.operators.Bpe.train]] exactly.
    * Every chain CTE is MATERIALIZED: DuckDB inlines CTEs by default
    * and each w_i is referenced twice (by p_{i+1} and w_{i+1}), so an
    * inlined chain re-evaluates exponentially (2^n vocabulary scans). */
  private def bpeCtes: String = {
    val n = 8
    val sb = new StringBuilder
    sb.append("vocab AS MATERIALIZED (SELECT word, count(*) AS freq FROM (")
      .append(s"SELECT unnest($TOKS) AS word FROM documents) GROUP BY word),\n")
    sb.append("w0 AS MATERIALIZED (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, freq FROM vocab)")
    for (i <- 1 to n) {
      sb.append(s",\np$i AS MATERIALIZED (SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM (")
        .append("SELECT unnest(list_transform(range(1, len(string_split(seq, ' '))), ")
        .append("j -> string_split(seq, ' ')[j] || ' ' || string_split(seq, ' ')[j+1])) AS pair, freq ")
        .append(s"FROM w${i - 1}) GROUP BY pair)")
      sb.append(s",\nb$i AS MATERIALIZED (SELECT pair, f FROM p$i ORDER BY f DESC, pair LIMIT 1)")
      sb.append(s",\nw$i AS MATERIALIZED (SELECT word, replace(seq, (SELECT pair FROM b$i), ")
        .append(s"replace((SELECT pair FROM b$i), ' ', '')) AS seq, freq FROM w${i - 1})")
    }
    sb.toString
  }

  /** Word-3-gram posting-list CTE chain over a doc subset CTE `src`
    * (single-line: interpolated into stripMargin blocks). */
  private def subsetPosting(src: String, out: String, idAlias: String,
      szAlias: String): String =
    s"${out}_tk AS (SELECT doc_id, " +
      TOKS.replace("text", s"$src.text") +
      s" AS tk FROM $src), " +
      s"${out}_sh AS (SELECT doc_id, sh, len(sh) AS n_sh FROM (" +
      s"SELECT doc_id, list_distinct(CASE WHEN len(tk) < 3 THEN []::VARCHAR[] " +
      "ELSE list_transform(range(1, len(tk)-1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh " +
      s"FROM ${out}_tk) WHERE len(sh) > 0), " +
      s"$out AS (SELECT doc_id AS $idAlias, n_sh AS $szAlias, unnest(sh) AS shingle FROM ${out}_sh)"
}
