package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Curation, Dedup, GraphOps, Multimodal, Packing, Quantize, Sampling, Similarity, Sketch, TextOps}

/** Verifiable wrappers over the training-data pipeline operators
  * (graft.operators): text analysis, dedup family, similarity search,
  * multimodal plumbing. DuckDB oracles replicate each algorithm exactly
  * (portable md5-based hashing, double-precision arithmetic), so even the
  * approximate operators are hash-checked, not just row-counted.
  */
object PipelineQueries {

  /** Shared DuckDB fragments: tokenized + shingled documents. */
  private val TOK =
    """tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
      |  generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
      |  FROM documents)""".stripMargin
  private val SHD =
    s"""$TOK,
      |sh0 AS (SELECT doc_id,
      |  w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS shingle,
      |  LEAD(w,2) OVER win IS NOT NULL AS complete
      |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE complete)""".stripMargin
  /** Bigram-LM scoring chain shared by t12 (scores) and t15 (the gate):
    * add-α smoothed NLL per token against corpus-trained unigram/bigram
    * counts, 6dp-rounded through DECIMAL so the per-doc mean is
    * order-independent and engine-exact. Ends in
    * `scored(doc_id, n_tokens, avg_nll)`.
    */
  private val LMS =
    s"""$TOK,
      |wt AS (SELECT doc_id, pos, w FROM tok WHERE w <> ''),
      |ug AS (SELECT w, COUNT(*) AS uc FROM wt GROUP BY w),
      |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM wt),
      |voc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM ug),
      |bg0 AS (SELECT doc_id, pos, w AS w1,
      |          LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |        FROM wt),
      |bgc AS (SELECT w1, w2, COUNT(*) AS bc FROM bg0
      |        WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |terms AS (
      |  SELECT b.doc_id,
      |    CAST(ROUND(-LN((COALESCE(c.bc, 0) + 0.5) /
      |      (COALESCE(u.uc, 0) + 0.5 * voc.v)), 6) AS DECIMAL(20,6)) AS nll
      |  FROM bg0 b
      |  LEFT JOIN ug u ON u.w = b.w1
      |  LEFT JOIN bgc c ON c.w1 = b.w1 AND c.w2 = b.w2
      |  CROSS JOIN voc
      |  WHERE b.w2 IS NOT NULL
      |  UNION ALL
      |  SELECT f.doc_id,
      |    CAST(ROUND(-LN((COALESCE(u.uc, 0) + 0.5) /
      |      (tot.t + 0.5 * voc.v)), 6) AS DECIMAL(20,6))
      |  FROM (SELECT doc_id, w FROM (
      |          SELECT doc_id, w,
      |            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |          FROM wt) x WHERE rn = 1) f
      |  LEFT JOIN ug u ON u.w = f.w
      |  CROSS JOIN tot CROSS JOIN voc),
      |per AS (SELECT doc_id, COUNT(*) AS n_terms, SUM(nll) AS total
      |        FROM terms GROUP BY doc_id),
      |scored AS (SELECT d.doc_id,
      |    COALESCE(CAST(p.n_terms AS BIGINT), 0) AS n_tokens,
      |    CASE WHEN p.n_terms > 0
      |      THEN ROUND(CAST(p.total AS DOUBLE) / p.n_terms, 6)
      |      ELSE 0.0 END AS avg_nll
      |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id)""".stripMargin

  private val ED =
    """ed AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |nrm AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM ed GROUP BY vec_id)""".stripMargin

  /** Exact brute-force cosine top-10 for query vectors vec_id < 5 — the
    * a01 oracle body and a09's ground-truth side (complete query, no final
    * ORDER BY, usable as a parenthesized subquery).
    */
  private val BF_TOPK =
    s"""WITH $ED,
      |q AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
      |dots AS (SELECT q.qid, x.vec_id AS nid, SUM(q.v*x.v) AS dot
      |         FROM q JOIN ed x ON q.i = x.i AND x.vec_id <> q.qid
      |         GROUP BY q.qid, x.vec_id),
      |sims AS (SELECT qid, nid, dot/(nq.nrm*nx.nrm) AS sim
      |         FROM dots
      |         JOIN nrm nq ON nq.vec_id = qid
      |         JOIN nrm nx ON nx.vec_id = nid),
      |ranked AS (SELECT qid, nid, sim,
      |             ROW_NUMBER() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, nid) AS rank
      |           FROM sims)
      |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(sim, 4) AS cos_sim
      |FROM ranked WHERE rank <= 10""".stripMargin

  /** Deterministic IVF replay (label cells, mean centroids, nProbe-of-10
    * cosine probes, exact re-score) top-10 for vec_id < 5 — the a02 oracle
    * body (at nProbe=2), a09's approximate side, and a10's sweep points.
    */
  private def ivfTopkSql(nProbe: Int): String =
    s"""WITH $ED,
      |cent AS (SELECT label, i, AVG(v) AS cv FROM ed GROUP BY label, i),
      |cnrm AS (SELECT label, SQRT(SUM(cv*cv)) AS cn FROM cent GROUP BY label),
      |q AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
      |qc AS (SELECT q.qid, c.label, SUM(q.v*c.cv) AS dot
      |       FROM q JOIN cent c ON q.i = c.i GROUP BY q.qid, c.label),
      |probed AS (SELECT qid, label FROM (
      |  SELECT qc.qid, qc.label,
      |    ROW_NUMBER() OVER (PARTITION BY qc.qid
      |      ORDER BY qc.dot/(n.nrm*cn.cn) DESC, qc.label) AS rn
      |  FROM qc
      |  JOIN nrm n ON n.vec_id = qc.qid
      |  JOIN cnrm cn ON cn.label = qc.label) t WHERE rn <= $nProbe),
      |cand AS (SELECT p.qid, e.vec_id AS nid, SUM(eq.v*e.v) AS dot
      |         FROM probed p
      |         JOIN ed e ON e.label = p.label AND e.vec_id <> p.qid
      |         JOIN ed eq ON eq.vec_id = p.qid AND eq.i = e.i
      |         GROUP BY p.qid, e.vec_id),
      |sims AS (SELECT qid, nid, dot/(nq.nrm*nn.nrm) AS sim
      |         FROM cand
      |         JOIN nrm nq ON nq.vec_id = qid
      |         JOIN nrm nn ON nn.vec_id = nid),
      |ranked AS (SELECT qid, nid, sim,
      |             ROW_NUMBER() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, nid) AS rank FROM sims)
      |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(sim, 4) AS cos_sim
      |FROM ranked WHERE rank <= 10""".stripMargin

  private val IVF_TOPK = ivfTopkSql(2)

  /** Brute-force top-10 over the FIRST `d` dimensions only — the
    * Matryoshka-truncation side of a20 (cosine over the prefix, norms
    * recomputed on the prefix).
    */
  private def bfTopkDimsSql(d: Int): String =
    s"""WITH edd AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |ed AS (SELECT * FROM edd WHERE i <= $d),
      |nrm AS (SELECT vec_id, SQRT(SUM(v*v)) AS nrm FROM ed GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
      |dots AS (SELECT q.qid, x.vec_id AS nid, SUM(q.v*x.v) AS dot
      |         FROM q JOIN ed x ON q.i = x.i AND x.vec_id <> q.qid
      |         GROUP BY q.qid, x.vec_id),
      |sims AS (SELECT qid, nid, dot/(nq.nrm*nx.nrm) AS sim
      |         FROM dots
      |         JOIN nrm nq ON nq.vec_id = qid
      |         JOIN nrm nx ON nx.vec_id = nid),
      |ranked AS (SELECT qid, nid, sim,
      |             ROW_NUMBER() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, nid) AS rank
      |           FROM sims)
      |SELECT qid, nid, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 10""".stripMargin

  /** LSH-banded k-NN graph replay over ALL corpus vectors, ending in
    * `ranked(qid, nid, sim, rank)` — the a08 oracle chain (signatures,
    * band buckets, a<b candidate join, exact re-score, mirror union,
    * per-vector rank), shared with a12's PageRank oracle. Composes after
    * [[ED]].
    */
  private val KNN_RANKED =
    """planes AS (SELECT pr.p, ir.i,
      |      CASE WHEN ascii(substring(md5(CAST(pr.p AS VARCHAR) || ':' ||
      |             CAST(ir.i AS VARCHAR)), 1, 1)) % 2 = 1
      |           THEN 1.0 ELSE -1.0 END AS s
      |    FROM (SELECT unnest(range(0, 64)) AS p) pr,
      |         (SELECT DISTINCT i FROM ed) ir),
      |proj AS (SELECT ed.vec_id, pl.p, SUM(ed.v * pl.s) AS dot
      |         FROM ed JOIN planes pl ON pl.i = ed.i GROUP BY ed.vec_id, pl.p),
      |sig AS (SELECT vec_id,
      |          string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
      |            ORDER BY p) AS bits
      |        FROM proj GROUP BY vec_id),
      |buckets AS (SELECT vec_id, b AS band, substring(bits, b*4+1, 4) AS bucket
      |            FROM sig, (SELECT unnest(range(0, 16)) AS b) bb),
      |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      |         FROM buckets x JOIN buckets y
      |           ON x.band = y.band AND x.bucket = y.bucket
      |              AND x.vec_id < y.vec_id),
      |dots AS (SELECT c.a, c.b, SUM(xa.v * xb.v) AS dot
      |         FROM cand c JOIN ed xa ON xa.vec_id = c.a
      |         JOIN ed xb ON xb.vec_id = c.b AND xb.i = xa.i
      |         GROUP BY c.a, c.b),
      |sims AS (SELECT a, b, dot/(na.nrm*nb.nrm) AS sim
      |         FROM dots
      |         JOIN nrm na ON na.vec_id = a
      |         JOIN nrm nb ON nb.vec_id = b),
      |directed AS (SELECT a AS qid, b AS nid, sim FROM sims
      |             UNION ALL
      |             SELECT b AS qid, a AS nid, sim FROM sims),
      |ranked AS (SELECT qid, nid, sim,
      |             ROW_NUMBER() OVER (PARTITION BY qid
      |               ORDER BY sim DESC, nid) AS rank FROM directed)""".stripMargin

  /** One damped-PageRank iteration `pr${i-1}` → `pr$i` as CTEs, mirroring
    * GraphOps.pageRank exactly: dangling mass `d$i` (rank on vertices with
    * no out-edges), contribution sums `c$i` through DECIMAL(38,18) (order
    * independent), then the teleport + damped update. Composes after the
    * `verts`/`nv`/`edges`/`odeg`/`pr0` CTEs in the a12 oracle.
    */
  /** One label-propagation iteration: labeled-neighbor votes over the knn
    * edges, per-vertex integer argmax (ties to smallest label), COALESCE
    * clamp of already-labeled vertices — `lb${i-1}` → `lb$i`.
    */
  private def labelPropIterSql(i: Int): String = {
    val prev = s"lb${i - 1}"
    s"""votes$i AS (SELECT e.src, l.lbl AS nlbl, COUNT(*) AS votes
       |  FROM edges e JOIN $prev l ON l.id = e.dst AND l.lbl IS NOT NULL
       |  GROUP BY e.src, l.lbl),
       |best$i AS (SELECT src AS id, nlbl FROM (
       |    SELECT src, nlbl, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY votes DESC, nlbl) AS rn FROM votes$i) t WHERE rn = 1),
       |lb$i AS (SELECT l.id, COALESCE(l.lbl, b.nlbl) AS lbl,
       |    COALESCE(l.origin,
       |      CASE WHEN b.nlbl IS NOT NULL THEN 'iter$i' END) AS origin
       |  FROM $prev l LEFT JOIN best$i b ON b.id = l.id)""".stripMargin
  }

  private def pageRankIterSql(i: Int): String =
    s"""d$i AS (SELECT COALESCE(CAST(SUM(CAST(p.pr AS DECIMAL(38,18)))
      |            AS DOUBLE), 0.0) AS dm
      |        FROM pr${i - 1} p LEFT JOIN odeg o ON o.src = p.id
      |        WHERE o.src IS NULL),
      |c$i AS (SELECT e.dst AS id,
      |          CAST(SUM(CAST(p.pr / o.od AS DECIMAL(38,18))) AS DOUBLE)
      |            AS mass
      |        FROM edges e
      |        JOIN pr${i - 1} p ON p.id = e.src
      |        JOIN odeg o ON o.src = e.src
      |        GROUP BY e.dst),
      |pr$i AS (SELECT v.id,
      |           (1.0 - 0.85)/(SELECT n FROM nv) +
      |             0.85*(COALESCE(c.mass, 0.0) +
      |               (SELECT dm FROM d$i)/(SELECT n FROM nv)) AS pr
      |         FROM verts v LEFT JOIN c$i c ON c.id = v.id)""".stripMargin

  /** Binary-quantization sign-bit packing + per-query Hamming distances
    * (composes after [[ED]]): `bits(vec_id, b)`, queries `q`, distances
    * `h(qid, nid, hamming)` — shared by qz03 and a11.
    */
  private val BQH =
    """bits AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << (i - 1))
      |             ELSE 0 END) AS BIGINT) AS b
      |  FROM ed WHERE i <= 62 GROUP BY vec_id),
      |q AS (SELECT vec_id AS qid, b AS qb FROM bits WHERE vec_id < 5),
      |h AS (SELECT q.qid, n.vec_id AS nid,
      |        bit_count(xor(q.qb, n.b)) AS hamming
      |      FROM q JOIN bits n ON n.vec_id <> q.qid)""".stripMargin

  /** Product-quantization codebook fit, composing after [[ED]]: 4 blocks
    * of 16 dims, seed codes = the 16 lowest vec_ids' sub-vectors,
    * L2-argmin assignment with ties to the lower code, one 6dp-rounded
    * centroid update, second assignment → `a2(vec_id, b, code, d2)` with
    * the final codebook in `c1(code, b, j, cv)`. Mirrors [[KM2]]'s shape
    * for the per-block fit the Spark side runs in
    * `Quantize.fitCodebooks`.
    */
  private val PQC =
    """edb AS (SELECT vec_id, (i-1)//16 AS b, (i-1)%16 AS j, v FROM ed),
      |c0 AS (SELECT vec_id AS code, b, j, v AS cv FROM edb WHERE vec_id < 16),
      |s1 AS (SELECT e.vec_id, e.b, c.code, SUM((e.v-c.cv)*(e.v-c.cv)) AS d2
      |       FROM edb e JOIN c0 c ON c.b = e.b AND c.j = e.j
      |       GROUP BY e.vec_id, e.b, c.code),
      |a1 AS (SELECT vec_id, b, code FROM (
      |         SELECT vec_id, b, code,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, b
      |             ORDER BY d2, code) AS rn
      |         FROM s1) t WHERE rn = 1),
      |c1 AS (SELECT a1.code, e.b, e.j, ROUND(AVG(e.v), 6) AS cv
      |       FROM a1 JOIN edb e ON e.vec_id = a1.vec_id AND e.b = a1.b
      |       GROUP BY a1.code, e.b, e.j),
      |s2 AS (SELECT e.vec_id, e.b, c.code, SUM((e.v-c.cv)*(e.v-c.cv)) AS d2
      |       FROM edb e JOIN c1 c ON c.b = e.b AND c.j = e.j
      |       GROUP BY e.vec_id, e.b, c.code),
      |a2 AS (SELECT vec_id, b, code, d2 FROM (
      |         SELECT vec_id, b, code, d2,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, b
      |             ORDER BY d2, code) AS rn
      |         FROM s2) t WHERE rn = 1)""".stripMargin

  /** The merges table of [[graft.functions.BpeOps.defaultMerges]] as a
    * DuckDB list literal `['l r', ...]` — rank = 1-based list position.
    */
  private val MG: String = graft.functions.BpeOps.defaultMerges
    .map { case (l, r) => s"'$l $r'" }.mkString("[", ",", "]")

  /** DuckDB replay of the merges-file BPE tokenizer as a recursive CTE.
    * Per (doc, word position): start from the word's code points, then each
    * recursion step splices the LEFTMOST occurrence of the best-ranked
    * adjacent pair — the stepwise form, equivalent to the engine's batch
    * greedy form for a valid merges file (see
    * [[graft.functions.BpeTable.tokenizeWordStepwise]]; BpeSpec pins the
    * equivalence). DuckDB's `list_position` returns 0 for a missing pair,
    * hence the `> 0` filters. Terminal states (no mergeable pair) fall out
    * of the recursion and are collected by `bfin`; `btoks` reassembles the
    * document's token stream in word order. Composes after WITH RECURSIVE.
    */
  private val BPE: String = bpeOver("documents")

  /** [[BPE]] parameterized on the source relation, so composed pipelines
    * can tokenize a survivor CTE instead of the whole table.
    */
  private def bpeOver(rel: String): String =
    s"""bw0 AS (SELECT doc_id, pos, w FROM (
       |   SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
       |          generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
       |   FROM $rel) t WHERE w <> ''),
       |binit AS (SELECT doc_id, pos,
       |   list_transform(range(1, length(w)+1),
       |     i -> substring(w, CAST(i AS INT), 1)) AS syms
       |   FROM bw0),
       |bpe AS (
       |  SELECT doc_id, pos, syms FROM binit
       |  UNION ALL
       |  SELECT doc_id, pos,
       |    list_concat(list_concat(
       |      list_slice(syms, 1, idx-1),
       |      [replace($MG[CAST(br AS INT)], ' ', '')]),
       |      list_slice(syms, idx+2, len(syms))) AS syms
       |  FROM (
       |    SELECT doc_id, pos, syms, br,
       |      list_position(list_transform(range(1, len(syms)),
       |        i -> list_position($MG, syms[i] || ' ' || syms[i+1])),
       |        CAST(br AS INT)) AS idx
       |    FROM (
       |      SELECT doc_id, pos, syms,
       |        list_aggregate(list_filter(list_transform(range(1, len(syms)),
       |          i -> list_position($MG, syms[i] || ' ' || syms[i+1])),
       |          x -> x > 0), 'min') AS br
       |      FROM bpe) t
       |    WHERE br IS NOT NULL) u
       |),
       |bfin AS (
       |  SELECT doc_id, pos, syms FROM bpe
       |  WHERE list_aggregate(list_filter(list_transform(range(1, len(syms)),
       |    i -> list_position($MG, syms[i] || ' ' || syms[i+1])),
       |    x -> x > 0), 'min') IS NULL
       |),
       |btoks AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS tk
       |          FROM bfin GROUP BY doc_id)""".stripMargin

  /** K-means replay (composes after [[ED]]): seed centroids = the k=8
    * lowest vec_ids (cluster id = seed vec_id), argmax-cosine assignment
    * with ties toward the lower cluster, centroid update rounded to 6dp
    * (killing summation-order noise, same as the Spark side), second
    * assignment → `a2(vec_id, cluster, sim)`.
    */
  private val KM2 =
    """c0 AS (SELECT vec_id AS cl, i, v AS cv FROM ed WHERE vec_id < 8),
      |c0n AS (SELECT cl, SQRT(SUM(cv*cv)) AS cn FROM c0 GROUP BY cl),
      |s1 AS (SELECT e.vec_id, c.cl, SUM(e.v*c.cv) AS dot
      |       FROM ed e JOIN c0 c ON e.i = c.i GROUP BY e.vec_id, c.cl),
      |a1 AS (SELECT vec_id, cl FROM (
      |         SELECT s1.vec_id, s1.cl,
      |           ROW_NUMBER() OVER (PARTITION BY s1.vec_id
      |             ORDER BY s1.dot/(n.nrm*c0n.cn) DESC, s1.cl) AS rn
      |         FROM s1 JOIN nrm n ON n.vec_id = s1.vec_id
      |         JOIN c0n ON c0n.cl = s1.cl) t WHERE rn = 1),
      |c1 AS (SELECT a1.cl, e.i, ROUND(AVG(e.v), 6) AS cv
      |       FROM a1 JOIN ed e ON e.vec_id = a1.vec_id GROUP BY a1.cl, e.i),
      |c1n AS (SELECT cl, SQRT(SUM(cv*cv)) AS cn FROM c1 GROUP BY cl),
      |s2 AS (SELECT e.vec_id, c.cl, SUM(e.v*c.cv) AS dot
      |       FROM ed e JOIN c1 c ON e.i = c.i GROUP BY e.vec_id, c.cl),
      |a2 AS (SELECT vec_id, cl AS cluster, sim FROM (
      |         SELECT s2.vec_id, s2.cl, s2.dot/(n.nrm*c1n.cn) AS sim,
      |           ROW_NUMBER() OVER (PARTITION BY s2.vec_id
      |             ORDER BY s2.dot/(n.nrm*c1n.cn) DESC, s2.cl) AS rn
      |         FROM s2 JOIN nrm n ON n.vec_id = s2.vec_id
      |         JOIN c1n ON c1n.cl = s2.cl) t WHERE rn = 1)""".stripMargin

  /** DuckDB replay of BPE TRAINING ([[TextOps.bpeTrain]]): the merge loop
    * unrolled as `k` generated stages over the top-`cap` word-type
    * histogram. Stage i: pair counts weighted by word frequency (`pc_i`),
    * deterministic argmax (`b_i`, count desc then pair asc), then a
    * recursive CTE (`r_i`) splicing the LEFTMOST occurrence of that one
    * pair per step until none remain (`st_i` keeps the occurrence-free
    * final states — splicing pair (l,r) cannot create a new (l,r)
    * adjacency, so sequential-leftmost equals the engine's batch
    * left-to-right merge). Every stage CTE is MATERIALIZED: DuckDB inlines
    * plain CTEs, and each stage references the previous twice, so the
    * un-hinted plan re-expands the whole prefix exponentially.
    */
  private def bpeTrainStages(k: Int, cap: Int): String = {
    val stages = (1 to k).map { i =>
      val p = s"st${i - 1}"
      s"""pc$i AS MATERIALIZED (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT syms[j] AS l, syms[j+1] AS r, freq
         |    FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS j FROM $p) t0) t1
         |    GROUP BY l, r),
         |  b$i AS MATERIALIZED (SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1),
         |  r$i AS (
         |    SELECT w, freq, syms FROM $p
         |    UNION ALL
         |    SELECT w, freq, list_concat(list_concat(
         |        list_slice(syms, 1, idx-1), [l || r]),
         |        list_slice(syms, idx+2, len(syms))) AS syms
         |    FROM (SELECT t.w, t.freq, t.syms, b.l, b.r,
         |            COALESCE(list_position(list_transform(range(1, len(t.syms)),
         |              i -> CASE WHEN t.syms[i] = b.l AND t.syms[i+1] = b.r
         |                   THEN 1 ELSE 0 END), 1), 0) AS idx
         |          FROM r$i t CROSS JOIN b$i b) u
         |    WHERE idx > 0),
         |  st$i AS MATERIALIZED (SELECT t.w, t.freq, t.syms FROM r$i t CROSS JOIN b$i b
         |    WHERE COALESCE(list_position(list_transform(range(1, len(t.syms)),
         |      i -> CASE WHEN t.syms[i] = b.l AND t.syms[i+1] = b.r
         |           THEN 1 ELSE 0 END), 1), 0) = 0)""".stripMargin
    }.mkString(",\n  ")
    val union = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, cnt AS pair_count FROM b$i")
      .mkString("\n      UNION ALL ")
    s"""wt0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents) t WHERE w <> '' GROUP BY w),
      wt AS MATERIALIZED (SELECT w, freq FROM wt0 ORDER BY freq DESC, w LIMIT $cap),
      st0 AS MATERIALIZED (SELECT w, freq, list_transform(range(1, length(w)+1),
          i -> substring(w, CAST(i AS INT), 1)) AS syms FROM wt),
      $stages,
      mg AS MATERIALIZED ($union)"""
  }

  /** The c05 logistic-regression training chain (2 unrolled full-batch GD
    * steps in micro-unit integer arithmetic — see Classifier's Scaladoc),
    * ending in `p3(doc_id, yu, pu)`: per-doc label and final sigmoid in
    * micro-units. Shared by c05 (scores) and c06 (preference pairs over
    * the learned scores).
    */
  private val C5LR =
    s"""$TOK,
      |feat AS (SELECT DISTINCT doc_id,
      |    ('0x' || substring(md5(w), 1, 4))::BIGINT % 32 AS b
      |  FROM tok WHERE w <> ''),
      |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS yu
      |        FROM documents),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |g1 AS (SELECT doc_id, 500000 - yu AS gu FROM lab),
      |gb1 AS (SELECT f.b, SUM(g.gu) AS gs FROM feat f
      |        JOIN g1 g ON g.doc_id = f.doc_id GROUP BY f.b),
      |w1 AS (SELECT b, 0 - CAST(ROUND(0.5 * gs / nn.n, 0) AS BIGINT) AS wu
      |       FROM gb1 CROSS JOIN nn),
      |b1 AS (SELECT 0 - CAST(ROUND(0.5 * (SELECT SUM(gu) FROM g1) /
      |         (SELECT n FROM nn), 0) AS BIGINT) AS bu),
      |dot2 AS (SELECT f.doc_id, SUM(w.wu) AS du FROM feat f
      |         JOIN w1 w ON w.b = f.b GROUP BY f.doc_id),
      |m2 AS (SELECT l.doc_id, l.yu,
      |         CAST(COALESCE(d.du, 0) + b1.bu AS DOUBLE) / 1000000.0 AS m
      |       FROM lab l LEFT JOIN dot2 d ON d.doc_id = l.doc_id CROSS JOIN b1),
      |g2 AS (SELECT doc_id,
      |         CAST(ROUND(1.0 / (1.0 + EXP(-m)) * 1000000, 0) AS BIGINT) - yu AS gu
      |       FROM m2),
      |gb2 AS (SELECT f.b, SUM(g.gu) AS gs FROM feat f
      |        JOIN g2 g ON g.doc_id = f.doc_id GROUP BY f.b),
      |w2 AS (SELECT w1.b,
      |         w1.wu - CAST(ROUND(0.5 * gb2.gs / nn.n, 0) AS BIGINT) AS wu
      |       FROM w1 JOIN gb2 ON gb2.b = w1.b CROSS JOIN nn),
      |b2 AS (SELECT b1.bu - CAST(ROUND(0.5 * (SELECT SUM(gu) FROM g2) /
      |         (SELECT n FROM nn), 0) AS BIGINT) AS bu FROM b1),
      |dot3 AS (SELECT f.doc_id, SUM(w.wu) AS du FROM feat f
      |         JOIN w2 w ON w.b = f.b GROUP BY f.doc_id),
      |m3 AS (SELECT l.doc_id, l.yu,
      |         CAST(COALESCE(d.du, 0) + b2.bu AS DOUBLE) / 1000000.0 AS m
      |       FROM lab l LEFT JOIN dot3 d ON d.doc_id = l.doc_id CROSS JOIN b2),
      |p3 AS (SELECT doc_id, yu,
      |         CAST(ROUND(1.0 / (1.0 + EXP(-m)) * 1000000, 0) AS BIGINT) AS pu
      |       FROM m3)""".stripMargin

  /** MMR replay: exact top-`pool` relevance + 4dp pairwise sims, then one
    * generated (penalty → score → argmax → union) stage per greedy pick.
    * Stage s's score is `0.7·rel − (1.0−0.7)·max psim(c, selected)` with
    * the SAME literal arithmetic as the Spark side (both engines compute
    * 1.0−0.7 in doubles), ties by nid.
    */
  private def mmrSql(k: Int, pool: Int): String = {
    val steps = (2 to k).map { s =>
      s"""pen$s AS (SELECT p.qid, p.b AS nid, MAX(p.psim) AS pen
         |  FROM pr p JOIN sel${s - 1} sl ON sl.qid = p.qid AND sl.nid = p.a
         |  GROUP BY p.qid, p.b),
         |sc$s AS (SELECT c.qid, c.nid, c.rel,
         |    0.7 * c.rel - (1.0 - 0.7) * COALESCE(p.pen, 0.0) AS score
         |  FROM cand c
         |  LEFT JOIN pen$s p ON p.qid = c.qid AND p.nid = c.nid
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${s - 1} sl
         |                    WHERE sl.qid = c.qid AND sl.nid = c.nid)),
         |sel$s AS (SELECT * FROM sel${s - 1} UNION ALL
         |  SELECT qid, nid, $s AS rank, rel FROM (
         |    SELECT qid, nid, rel, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, nid) AS rn
         |    FROM sc$s) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""
    WITH $ED,
    q AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
    dots AS (SELECT q.qid, x.vec_id AS nid, SUM(q.v*x.v) AS dot
             FROM q JOIN ed x ON q.i = x.i AND x.vec_id <> q.qid
             GROUP BY q.qid, x.vec_id),
    sims AS (SELECT qid, nid, dot/(nq.nrm*nx.nrm) AS sim
             FROM dots
             JOIN nrm nq ON nq.vec_id = qid
             JOIN nrm nx ON nx.vec_id = nid),
    cand AS (SELECT qid, nid, ROUND(sim, 4) AS rel FROM (
               SELECT qid, nid, sim, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY sim DESC, nid) AS rnk
               FROM sims) t WHERE rnk <= $pool),
    pr AS (SELECT ca.qid, ca.nid AS a, cb.nid AS b,
             ROUND(SUM(ea.v*eb.v) / (na.nrm*nb.nrm), 4) AS psim
           FROM cand ca
           JOIN cand cb ON cb.qid = ca.qid AND cb.nid <> ca.nid
           JOIN ed ea ON ea.vec_id = ca.nid
           JOIN ed eb ON eb.vec_id = cb.nid AND eb.i = ea.i
           JOIN nrm na ON na.vec_id = ca.nid
           JOIN nrm nb ON nb.vec_id = cb.nid
           GROUP BY ca.qid, ca.nid, cb.nid, na.nrm, nb.nrm),
    sel1 AS (SELECT qid, nid, 1 AS rank, rel FROM (
              SELECT qid, nid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY rel DESC, nid) AS rn
              FROM cand) t WHERE rn = 1),
    $steps
    SELECT qid, nid, CAST(rank AS BIGINT) AS rank, rel AS cos_sim
    FROM sel$k ORDER BY qid, rank"""
  }

  private def bpeTrainSql(k: Int, cap: Int): String =
    s"""
    WITH RECURSIVE
      ${bpeTrainStages(k, cap)}
    SELECT rank, lhs, rhs, pair_count FROM mg ORDER BY rank"""

  /** Train-then-apply replay: the [[bpeTrainStages]] chain learns the
    * merges, `mgl` packs them rank-ordered into the same `['l r', ...]`
    * list shape the static-file BPE oracle uses, and the apply recursion
    * (the [[BPE]] stepwise splice, with the list carried as a column
    * because it is DATA here, not a literal) tokenizes the corpus with
    * what was just learned.
    */
  private def bpeTrainApplySql(k: Int, cap: Int): String =
    s"""
    WITH RECURSIVE
      ${bpeTrainStages(k, cap)},
      mgl AS MATERIALIZED (SELECT list(lhs || ' ' || rhs ORDER BY rank) AS m FROM mg),
      aw0 AS (SELECT doc_id, pos, w FROM (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
                generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
         FROM documents) t WHERE w <> ''),
      ainit AS (SELECT doc_id, pos, list_transform(range(1, length(w)+1),
          i -> substring(w, CAST(i AS INT), 1)) AS syms, m
         FROM aw0 CROSS JOIN mgl),
      abpe AS (
        SELECT doc_id, pos, syms, m FROM ainit
        UNION ALL
        SELECT doc_id, pos,
          list_concat(list_concat(
            list_slice(syms, 1, idx-1),
            [replace(m[CAST(br AS INT)], ' ', '')]),
            list_slice(syms, idx+2, len(syms))) AS syms, m
        FROM (
          SELECT doc_id, pos, syms, m, br,
            list_position(list_transform(range(1, len(syms)),
              i -> list_position(m, syms[i] || ' ' || syms[i+1])),
              CAST(br AS INT)) AS idx
          FROM (
            SELECT doc_id, pos, syms, m,
              list_aggregate(list_filter(list_transform(range(1, len(syms)),
                i -> list_position(m, syms[i] || ' ' || syms[i+1])),
                x -> x > 0), 'min') AS br
            FROM abpe) t
          WHERE br IS NOT NULL) u
      ),
      afin AS (
        SELECT doc_id, pos, syms FROM abpe
        WHERE list_aggregate(list_filter(list_transform(range(1, len(syms)),
          i -> list_position(m, syms[i] || ' ' || syms[i+1])),
          x -> x > 0), 'min') IS NULL
      ),
      atoks AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS tk
                FROM afin GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(COALESCE(len(t.tk), 0) AS BIGINT) AS n_tokens,
      md5(COALESCE(array_to_string(t.tk, ' '), '')) AS token_digest
    FROM documents d LEFT JOIN atoks t ON t.doc_id = d.doc_id
    ORDER BY d.doc_id"""

  val queries: Seq[QueryDef] = Seq(

    // ---------------- text analysis ----------------
    QueryDef("t01_token_stats", (s, d) =>
      TextOps.tokenStats(Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some("""
      SELECT doc_id,
        CAST(LENGTH(text) AS BIGINT) AS n_chars,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
          AS type_token_ratio,
        CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS avg_token_len
      FROM (SELECT doc_id, text,
              string_split_regex(trim(text), '\s+') AS toks FROM documents) t
      ORDER BY doc_id""")),

    QueryDef("t02_quality_score", (s, d) =>
      TextOps.qualityScore(Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some(raw"""
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(toks, x -> x IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) *
          (1.0 - CAST(len(list_filter(toks, x -> x IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE)) AS quality_score
      FROM (SELECT doc_id,
              string_split_regex(trim(text), '\s+') AS toks FROM documents) t
      ORDER BY doc_id""")),

    QueryDef("t03_lang_id", (s, d) =>
      TextOps.langId(s, Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some(s"""
      WITH $TOK,
      markers(cand_lang, w) AS (VALUES
        ${TextOps.langMarkers.map { case (l, w) => s"('$l','$w')" }.mkString(",")}),
      scores AS (SELECT t.doc_id, m.cand_lang, COUNT(*) AS score
                 FROM tok t JOIN markers m ON t.w = m.w
                 GROUP BY t.doc_id, m.cand_lang),
      best AS (SELECT doc_id, cand_lang AS pred0,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, cand_lang) AS rn
               FROM scores)
      SELECT d.doc_id, COALESCE(b.pred0, 'und') AS pred_lang, d.lang AS actual_lang
      FROM documents d
      LEFT JOIN (SELECT doc_id, pred0 FROM best WHERE rn = 1) b USING (doc_id)
      ORDER BY d.doc_id""")),

    QueryDef("t04_fingerprint", (s, d) =>
      Tables.load(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some("""
      SELECT doc_id, MD5(LOWER(REGEXP_REPLACE(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id""")),

    // REAL merges-file BPE (not the former whitespace-piece approximation):
    // the greedy lowest-rank merge loop over the broadcast merges table,
    // oracle-replayed merge by merge as a recursive CTE, with the md5 of
    // the exact token stream hash-checked — both engines must produce
    // byte-identical subword tokens, not just matching counts.
    QueryDef("t05_bpe_tokens", (s, d) =>
      TextOps.bpeTokenStats(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""
      WITH RECURSIVE $BPE
      SELECT d.doc_id,
        CAST(COALESCE(w.nw, 0) AS BIGINT) AS n_words,
        CAST(COALESCE(len(t.tk), 0) AS BIGINT) AS n_tokens,
        CAST(COALESCE(len(list_distinct(t.tk)), 0) AS BIGINT) AS n_distinct_tokens,
        md5(COALESCE(array_to_string(t.tk, ' '), '')) AS token_digest
      FROM documents d
      LEFT JOIN btoks t ON t.doc_id = d.doc_id
      LEFT JOIN (SELECT doc_id, COUNT(*) AS nw FROM bw0 GROUP BY doc_id) w
        ON w.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // winnowing = the rolling-hash fingerprint (MOSS): min k-gram hash per
    // sliding window. The oracle replays k-gram hashing, window minima,
    // dedup/sort and the digest — list ops mirror the Spark array exprs.
    QueryDef("t06_winnowing", (s, d) =>
      TextOps.winnowingFingerprints(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some("""
      WITH n AS (SELECT doc_id,
             lower(REGEXP_REPLACE(trim(text), '\s+', ' ', 'g')) AS norm
           FROM documents),
      kg AS (SELECT doc_id,
               list_transform(range(1, GREATEST(length(norm) - 8 + 1, 0) + 1),
                 i -> md5(substring(norm, CAST(i AS INT), 8))) AS kh
             FROM n),
      wn AS (SELECT doc_id, kh,
               CASE WHEN len(kh) = 0 THEN kh
                    WHEN len(kh) < 4 THEN [list_aggregate(kh, 'min')]
                    ELSE list_transform(range(1, len(kh) - 4 + 2),
                      j -> list_aggregate(list_slice(kh, CAST(j AS INT),
                             CAST(j + 3 AS INT)), 'min')) END AS wins
             FROM kg),
      fp AS (SELECT doc_id, kh,
               list_sort(list_distinct(wins)) AS fps FROM wn)
      SELECT doc_id,
        CAST(len(kh) AS BIGINT) AS n_kgrams,
        CAST(len(fps) AS BIGINT) AS n_fingerprints,
        md5(array_to_string(fps, ',')) AS fp_digest
      FROM fp ORDER BY doc_id""")),

    // CCNet-style LM quality score (Wenzek et al. 2020): add-α bigram
    // model fit on the corpus itself, documents ranked by mean -ln P per
    // token. Each per-term -ln P rounds to 6dp and sums as DECIMAL (exact,
    // summation-order-proof), so the oracle replays the whole model —
    // counts, smoothing, scoring — and hash-matches the doubles.
    QueryDef("t12_lm_score", (s, d) =>
      TextOps.lmScore(Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some(s"""
      WITH $LMS
      SELECT doc_id, n_tokens, avg_nll FROM scored
      ORDER BY doc_id"""), headline = true),

    // Perplexity gate, VERIFICATION shape: t12's scores turned into the
    // curation decision — drop the worst-perplexity decile against the
    // corpus-trained bigram LM via an exact rank filter (PERCENT_RANK
    // over avg_nll), identical in both engines with no
    // quantile-interpolation ambiguity. exact=true is the explicit
    // oracle-verification override; t15b runs the production default.
    QueryDef("t15_perplexity_gate", (s, d) =>
      TextOps.perplexityGate(Tables.load(s, d, "documents"), 0.9,
        exact = true)
        .orderBy(col("doc_id")),
      Some(s"""
      WITH $LMS,
      ranked AS (SELECT doc_id, n_tokens, avg_nll,
          PERCENT_RANK() OVER (ORDER BY avg_nll) AS pr FROM scored)
      SELECT doc_id, n_tokens, avg_nll FROM ranked
      WHERE pr <= 0.9 ORDER BY doc_id""")),

    // Perplexity gate, PRODUCTION (100 TB) shape — the library default:
    // ONE approx_percentile scalar aggregation broadcast back as a
    // threshold filter, no global sort anywhere. Below `accuracy`
    // retained samples the Greenwald–Khanna summary is lossless and
    // returns exactly the value at rank CEIL(q·n) — so at oracle scale
    // the production path is oracle-checkable to the row: the oracle
    // recomputes that same rank's value with ROW_NUMBER and filters by
    // it. At 100 TB the identical plan runs with a bounded (n/accuracy
    // ranks) cut-point band, spec-pinned in OperatorsSpec.
    QueryDef("t15b_perplexity_gate_approx", (s, d) =>
      TextOps.perplexityGate(Tables.load(s, d, "documents"), 0.9)
        .orderBy(col("doc_id")),
      Some(s"""
      WITH $LMS,
      ranked AS (SELECT doc_id, n_tokens, avg_nll,
          ROW_NUMBER() OVER (ORDER BY avg_nll) AS rn,
          COUNT(*) OVER () AS n FROM scored),
      thr AS (SELECT avg_nll AS t FROM ranked
              WHERE rn = CAST(CEIL(0.9 * n) AS BIGINT) LIMIT 1)
      SELECT doc_id, n_tokens, avg_nll FROM scored, thr
      WHERE avg_nll <= t ORDER BY doc_id""")),

    // N-gram novelty: fraction of a doc's distinct shingles unseen
    // anywhere else — the diversity-selection complement of the dup
    // operators. Exact int/int double division, so the scores hash-match.
    QueryDef("t16_novelty", (s, d) =>
      TextOps.noveltyScore(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""
      WITH $SHD,
      df AS (SELECT shingle, COUNT(*) AS df FROM shd GROUP BY shingle),
      per AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
               SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
              FROM shd s JOIN df ON df.shingle = s.shingle
              GROUP BY s.doc_id)
      SELECT d.doc_id,
        COALESCE(CAST(p.n_shingles AS BIGINT), 0) AS n_shingles,
        COALESCE(CAST(p.n_unique AS BIGINT), 0) AS n_unique,
        CASE WHEN p.n_shingles > 0
          THEN CAST(p.n_unique AS DOUBLE) / p.n_shingles
          ELSE 0.0 END AS novelty
      FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // t19: Flesch reading-ease — regex-structural counts (vowel-group
    // syllables, terminal-punctuation sentences) through the classic
    // formula in plain left-associated double math; fully engine-exact
    // (the one text score here with no transcendental anywhere).
    QueryDef("t19_readability", (s, d) =>
      TextOps.readability(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(raw"""
      WITH c AS (SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
            w -> w <> '')) AS BIGINT) AS n_words,
          GREATEST(CAST(1 AS BIGINT),
            CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
            AS n_sentences,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
            AS n_syllables
        FROM documents)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        CASE WHEN n_words > 0
          THEN ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
               - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
          ELSE 0.0 END AS flesch
      FROM c ORDER BY doc_id""")),

    // t18: vocabulary coverage / OOV rate — the tokenizer-eval dial.
    // Top-20 vocabulary (of the corpus's 31 distinct words, so the cut
    // genuinely bites at sf0.01) by (count DESC, word) total order; the
    // oracle replays the histogram cut and the per-doc occurrence counts.
    QueryDef("t18_vocab_coverage", (s, d) =>
      TextOps.vocabCoverage(Tables.load(s, d, "documents"), vocabSize = 20)
        .orderBy(col("doc_id")),
      Some(s"""
      WITH $TOK,
      wt AS (SELECT doc_id, w FROM tok WHERE w <> ''),
      vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM wt
                GROUP BY w ORDER BY c DESC, w LIMIT 20) t),
      per AS (SELECT t.doc_id, COUNT(*) AS n_tokens, COUNT(v.w) AS n_in
              FROM wt t LEFT JOIN vocab v ON v.w = t.w GROUP BY t.doc_id)
      SELECT d.doc_id,
        COALESCE(CAST(p.n_tokens AS BIGINT), 0) AS n_tokens,
        COALESCE(CAST(p.n_tokens - p.n_in AS BIGINT), 0) AS n_oov,
        CASE WHEN p.n_tokens > 0
          THEN CAST(p.n_tokens - p.n_in AS DOUBLE) / p.n_tokens
          ELSE 0.0 END AS oov_rate
      FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // f07: COUNT-MIN sketch — the mergeable heavy-hitter estimator next
    // to f06's HLL: d×w counter grid (KBs at any corpus size), one
    // (j,bucket)-keyed shuffle whose map-side partial agg IS the
    // per-partition sketch merge. Estimates MIN over d cells and can
    // only over-count; probed on the exact top-20 words so the oracle
    // checks every cell hash, every estimate, and the never-under
    // invariant.
    QueryDef("f07_count_min", (s, d) => {
      val words = Tables.load(s, d, "documents")
        .select(explode(TextOps.tokens(lower(trim(col("text"))))).as("w"))
        .filter(col("w") =!= "")
      val sketch = Sketch.countMin(words, col("w"))
      val top = words.groupBy(col("w")).agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("w")).limit(20)
        .withColumnRenamed("w", "k")
      Sketch.cmEstimate(sketch, top.select(col("k")))
        .join(top, Seq("k"))
        .select(col("k").as("w"), col("exact"), col("est"),
          (col("est") >= col("exact")).as("never_under"))
        .orderBy(col("w"))
    }, Some("""
      WITH tok AS (SELECT unnest(list_filter(
          string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        FROM documents),
      jj AS (SELECT unnest(range(0, 4)) AS j),
      cells AS (SELECT j,
          ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || w), 1, 4))
            ::BIGINT % 256 AS bucket,
          COUNT(*) AS cnt
        FROM tok, jj GROUP BY 1, 2),
      topw AS (SELECT w, COUNT(*) AS exact FROM tok GROUP BY w
               ORDER BY exact DESC, w LIMIT 20),
      est AS (SELECT t.w, t.exact, MIN(c.cnt) AS est
        FROM topw t
        CROSS JOIN jj
        JOIN cells c ON c.j = jj.j AND c.bucket =
          ('0x' || substring(md5(CAST(jj.j AS VARCHAR) || ':' || t.w), 1, 4))
            ::BIGINT % 256
        GROUP BY t.w, t.exact)
      SELECT w, CAST(exact AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
        est >= exact AS never_under
      FROM est ORDER BY w""")),

    // c08: tokenizer FERTILITY by language — BPE tokens per whitespace
    // word, the tokenizer-fit diagnostic behind vocab rebalancing. The
    // oracle replays the full merge-loop BPE per word (the t05/t11
    // machinery), so the fertility ratio is checked against a true
    // re-tokenization, not a count heuristic.
    QueryDef("c08_token_fertility", (s, d) =>
      TextOps.tokenFertility(Tables.load(s, d, "documents"))
        .orderBy(col("lang")),
      Some(s"""
      WITH RECURSIVE $BPE,
      per AS (SELECT d.doc_id, d.lang,
          len(list_filter(string_split_regex(trim(d.text), '\\s+'),
            x -> x <> '')) AS nw,
          COALESCE(len(b.tk), 0) AS nt
        FROM documents d LEFT JOIN btoks b ON b.doc_id = d.doc_id)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nw) AS BIGINT) AS n_words,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(nt) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) AS fertility
      FROM per GROUP BY lang ORDER BY lang""")),

    // t20: Zipf power-law fit — OLS of ln(freq) on ln(rank) over the
    // top-500 word types, a one-row corpus health statistic. The corpus
    // contributes one partial-agg histogram shuffle; the fit folds ≤ 500
    // points. Both engines sum every OLS term through DECIMAL(38,18)
    // (order-independent) and ROUND(...,4) absorbs ln() ulps.
    QueryDef("t20_zipf_fit", (s, d) =>
      TextOps.zipfFit(Tables.load(s, d, "documents")),
      Some("""
      WITH tok AS (SELECT unnest(list_filter(
          string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS w
        FROM documents),
      hist AS (SELECT w, COUNT(*) AS freq FROM tok GROUP BY w),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                CAST(SUM(freq) AS BIGINT) AS n_tokens FROM hist),
      top AS (SELECT w, freq, ROW_NUMBER() OVER
                (ORDER BY freq DESC, w) AS rank
              FROM hist ORDER BY freq DESC, w LIMIT 500),
      pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
                ln(CAST(freq AS DOUBLE)) AS y FROM top),
      s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
        CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
        FROM pts)
      SELECT tot.n_types, tot.n_tokens, CAST(s.k AS BIGINT) AS k_fit,
        ROUND((s.k * s.sxy - s.sx * s.sy) /
              (s.k * s.sxx - s.sx * s.sx), 4) AS slope,
        ROUND((s.sy - s.sx * ((s.k * s.sxy - s.sx * s.sy) /
              (s.k * s.sxx - s.sx * s.sx))) / s.k, 4) AS intercept,
        ROUND(((s.k * s.sxy - s.sx * s.sy) * (s.k * s.sxy - s.sx * s.sy)) /
              ((s.k * s.sxx - s.sx * s.sx) *
               (s.k * s.syy - s.sy * s.sy)), 4) AS r2
      FROM tot CROSS JOIN s""")),

    // BPE tokenizer TRAINING (not just apply): learn the first n merges
    // from the corpus word histogram. The oracle unrolls the merge loop as
    // n generated stages — pair counts, deterministic argmax, leftmost
    // splice recursion per stage — over the same capped histogram.
    QueryDef("t13_bpe_train", (s, d) =>
      TextOps.bpeTrain(Tables.load(s, d, "documents")).orderBy(col("rank")),
      Some(bpeTrainSql(12, 4000))),

    // Train-then-apply composition: tokenize the corpus with the merges
    // file LEARNED by t13 (not the static default file) — the learned
    // artifact drives the engine's greedy apply expression; the digest
    // forces byte-identical token streams, so both the training replay
    // and the apply replay must agree end to end.
    QueryDef("t14_bpe_train_apply", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val learned = TextOps.bpeTrain(docs).collect()
        .map(r => s"${r.getString(1)} ${r.getString(2)}").mkString("\n")
      graft.functions.NativeFunctions.register(s)
      val tk = TextOps.bpeTokens(col("text"), learned)
      docs.select(col("doc_id"),
          size(tk).cast("long").as("n_tokens"),
          md5(array_join(tk, " ")).as("token_digest"))
        .orderBy(col("doc_id"))
    }, Some(bpeTrainApplySql(12, 4000))),

    // ---------------- dedup family ----------------
    QueryDef("d01_dedup_exact", (s, d) =>
      Dedup.exact(Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some("""
      SELECT doc_id,
        MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canonical_id,
        COUNT(*) OVER (PARTITION BY MD5(text)) AS group_size
      FROM documents ORDER BY doc_id""")),

    QueryDef("d02_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(Tables.load(s, d, "documents"))
        .orderBy(col("jaccard").desc, col("a"), col("b")).limit(100),
      Some(s"""
      WITH $SHD,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM shd x JOIN shd y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id)
      SELECT p.a, p.b,
        CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) AS jaccard
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.a
      JOIN sizes sb ON sb.doc_id = p.b
      ORDER BY jaccard DESC, a, b LIMIT 100"""), headline = true),

    // d02b exercises the hot-shingle cap the 100 TB story depends on
    // (shingles shared by more docs than the cap are dropped from candidate
    // generation; sizes still count them, so jaccard is a lower bound). The
    // cap of 5 provably bites at sf0.01: 29 shingles have doc-freq > 5.
    QueryDef("d02b_ngram_jaccard_capped", (s, d) =>
      Dedup.ngramJaccardPairs(Tables.load(s, d, "documents"), maxDocFreq = 5)
        .orderBy(col("jaccard").desc, col("a"), col("b")).limit(100),
      Some(s"""
      WITH $SHD,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      hot AS (SELECT shingle FROM shd GROUP BY shingle HAVING COUNT(*) > 5),
      shj AS (SELECT doc_id, shingle FROM shd
              WHERE shingle NOT IN (SELECT shingle FROM hot)),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM shj x JOIN shj y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id)
      SELECT p.a, p.b,
        CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) AS jaccard
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.a
      JOIN sizes sb ON sb.doc_id = p.b
      ORDER BY jaccard DESC, a, b LIMIT 100"""), headline = true),

    // d13: directed containment (Broder's resemblance-vs-containment
    // split) — catches the short-doc-quoted-in-long-doc duplicates whose
    // Jaccard is tiny; ordering by max_cont surfaces exactly the pairs
    // d02's ranking buries. Same machinery, asymmetric denominators.
    QueryDef("d13_containment", (s, d) =>
      Dedup.containmentPairs(Tables.load(s, d, "documents"))
        .orderBy(col("max_cont").desc, col("a"), col("b")).limit(100),
      Some(s"""
      WITH $SHD,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM shd x JOIN shd y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id)
      SELECT p.a, p.b,
        CAST(p.inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a_in_b,
        CAST(p.inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b_in_a,
        GREATEST(CAST(p.inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
                 CAST(p.inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) AS max_cont
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.a
      JOIN sizes sb ON sb.doc_id = p.b
      ORDER BY max_cont DESC, a, b LIMIT 100""")),

    // d14: FREQUENCY-BASED SEGMENT EXCISION (the CCNet paragraph-dedup /
    // boilerplate-removal shape): 8-word segments cut in-row, exact
    // occurrence count across the corpus (one hashed-string shuffle with
    // map-side partial agg), segments appearing >2 times stripped via a
    // left-anti join against the over-threshold set, documents
    // reassembled in segment order. The planted exact/near duplicates in
    // the corpus make their segments frequent, so the oracle exercises
    // real excision, not a no-op. A doc whose every segment is
    // boilerplate survives as empty text (dropping is caller policy).
    QueryDef("d14_frequent_segments", (s, d) =>
      Dedup.stripFrequentSegments(Tables.load(s, d, "documents"),
          segWords = 8, maxDf = 2L)
        .orderBy(col("doc_id")),
      Some("""
      WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      segs AS (
        SELECT doc_id, CAST(i // 8 AS BIGINT) AS sid,
          array_to_string(w[i + 1 : least(i + 8, len(w))], ' ') AS seg
        FROM ws, UNNEST(generate_series(0, len(w) - 1, 8)) AS t(i)),
      freq AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(*) > 2),
      kept AS (SELECT doc_id, sid, seg FROM segs
               WHERE seg NOT IN (SELECT seg FROM freq)),
      reassembled AS (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY sid) AS text_clean,
          COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id),
      totals AS (SELECT doc_id,
          CAST((len(w) + 7) // 8 AS BIGINT) AS n_segs FROM ws)
      SELECT t.doc_id, COALESCE(r.text_clean, '') AS text_clean,
        t.n_segs, t.n_segs - COALESCE(r.n_kept, 0) AS n_removed
      FROM totals t LEFT JOIN reassembled r ON r.doc_id = t.doc_id
      ORDER BY t.doc_id""")),

    // d13b: containment under the d02b hot-shingle cap — the production
    // path (the sf1 soak shows uncapped containment is quadratic-output
    // like d02, by construction; the cap makes it flat, as d02b proves).
    // Sizes still count capped shingles, so containment stays a lower
    // bound — replayed.
    QueryDef("d13b_containment_capped", (s, d) =>
      Dedup.containmentPairs(Tables.load(s, d, "documents"), maxDocFreq = 5)
        .orderBy(col("max_cont").desc, col("a"), col("b")).limit(100),
      Some(s"""
      WITH $SHD,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      hot AS (SELECT shingle FROM shd GROUP BY shingle HAVING COUNT(*) > 5),
      shj AS (SELECT doc_id, shingle FROM shd
              WHERE shingle NOT IN (SELECT shingle FROM hot)),
      pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
                FROM shj x JOIN shj y
                  ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id)
      SELECT p.a, p.b,
        CAST(p.inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a_in_b,
        CAST(p.inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b_in_a,
        GREATEST(CAST(p.inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
                 CAST(p.inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) AS max_cont
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.a
      JOIN sizes sb ON sb.doc_id = p.b
      ORDER BY max_cont DESC, a, b LIMIT 100""")),

    // d09: per-POSITION duplicated-span stats (Lee et al.'s ExactSubstr at
    // n-gram granularity) — the per-span complement to d02's per-pair
    // Jaccard. Spark joins on 8-byte positional shingle keys; the oracle
    // rebuilds every position's gram with the same LEAD windows as SHD
    // (without the DISTINCT — within-doc repeats count) and string-compares.
    QueryDef("d09_dup_ngram_spans", (s, d) =>
      Dedup.duplicatedNgramSpans(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""
      WITH $TOK,
      sh0 AS (SELECT doc_id,
        w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS g,
        LEAD(w,2) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      sha AS (SELECT doc_id, g FROM sh0 WHERE complete),
      cnt AS (SELECT g, COUNT(*) AS c FROM sha GROUP BY g HAVING COUNT(*) >= 2),
      dup AS (SELECT s.doc_id, COUNT(*) AS n_dup FROM sha s
              JOIN cnt ON s.g = cnt.g GROUP BY s.doc_id),
      tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM sha GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(CAST(t.n_ngrams AS BIGINT), 0) AS n_ngrams,
        COALESCE(CAST(u.n_dup AS BIGINT), 0) AS n_dup,
        CASE WHEN t.n_ngrams > 0
          THEN COALESCE(CAST(u.n_dup AS DOUBLE), 0.0) / t.n_ngrams
          ELSE 0.0 END AS dup_frac
      FROM documents d
      LEFT JOIN tot t ON t.doc_id = d.doc_id
      LEFT JOIN dup u ON u.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // d10: the spans themselves, as (doc_id, start, end) token extents —
    // the cut-list a pipeline feeds to an excision pass (d09 gives the
    // per-doc fraction; this gives WHERE to cut). The oracle rebuilds the
    // duplicated positions with the same LEAD windows as d09, then replays
    // the gaps-and-islands merge (LAG flag + running-sum island id) and
    // the per-extent aggregate.
    QueryDef("d10_dup_span_extents", (s, d) =>
      Dedup.duplicatedSpanExtents(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id"), col("span_id")),
      Some(s"""
      WITH $TOK,
      sh0 AS (SELECT doc_id, pos - 1 AS pos,
        w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS g,
        LEAD(w,2) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      sha AS (SELECT doc_id, pos, g FROM sh0 WHERE complete),
      cnt AS (SELECT g FROM sha GROUP BY g HAVING COUNT(*) >= 2),
      dup AS (SELECT s.doc_id, s.pos FROM sha s JOIN cnt ON s.g = cnt.g),
      flagged AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER w <= 3 THEN 0 ELSE 1 END AS new_span
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      spans AS (SELECT doc_id, pos,
          SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) - 1 AS span_id
        FROM flagged)
      SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
        CAST(MIN(pos) AS BIGINT) AS start_pos,
        CAST(MAX(pos) + 2 AS BIGINT) AS end_pos,
        COUNT(*) AS n_positions
      FROM spans GROUP BY doc_id, span_id
      ORDER BY doc_id, span_id""")),

    // d11: apply d10's cut-list — remove every token inside a duplicated
    // extent and digest the cleaned text. The oracle rebuilds the extents
    // (same CTE as d10) and cuts via NOT EXISTS over positions, so both
    // engines must excise byte-identical token streams.
    QueryDef("d11_excise_spans", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      Dedup.exciseSpans(docs, Dedup.duplicatedSpanExtents(docs))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $TOK,
      sh0 AS (SELECT doc_id, pos - 1 AS pos,
        w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS g,
        LEAD(w,2) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      sha AS (SELECT doc_id, pos, g FROM sh0 WHERE complete),
      cnt AS (SELECT g FROM sha GROUP BY g HAVING COUNT(*) >= 2),
      dup AS (SELECT s.doc_id, s.pos FROM sha s JOIN cnt ON s.g = cnt.g),
      flagged AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER w <= 3 THEN 0 ELSE 1 END AS new_span
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      spans AS (SELECT doc_id, pos,
          SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS span_id
        FROM flagged),
      ext AS (SELECT doc_id, span_id, MIN(pos) AS start_pos,
               MAX(pos) + 2 AS end_pos
              FROM spans GROUP BY doc_id, span_id),
      kept AS (SELECT t.doc_id, t.pos, t.w FROM tok t
               WHERE NOT EXISTS (SELECT 1 FROM ext e
                 WHERE e.doc_id = t.doc_id
                   AND t.pos - 1 BETWEEN e.start_pos AND e.end_pos)),
      cln AS (SELECT doc_id,
               md5(string_agg(w, ' ' ORDER BY pos)) AS cleaned_md5,
               COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id),
      nt AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(nt.n_tokens AS BIGINT) AS n_tokens,
        CAST(nt.n_tokens - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
        COALESCE(c.cleaned_md5, md5('')) AS cleaned_md5
      FROM documents d
      JOIN nt ON nt.doc_id = d.doc_id
      LEFT JOIN cln c ON c.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    QueryDef("d03_minhash_lsh", (s, d) =>
      Dedup.minhashLshPairs(Tables.load(s, d, "documents"))
        .orderBy(col("est_jaccard").desc, col("a"), col("b")).limit(100),
      Some(s"""
      WITH $SHD,
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h,
                MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id)
      SELECT c.a, c.b,
        CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE) / 16.0
          AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a
      JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
      GROUP BY c.a, c.b
      ORDER BY est_jaccard DESC, a, b LIMIT 100"""), headline = true),

    // d07 is what a curation pipeline actually consumes from near-dup
    // detection: transitive CLUSTERS over the LSH pair graph (pairs alone
    // under-delete chains). The oracle replays the full pipeline — minhash,
    // banding, candidate join, jaccard estimate, then the connected
    // components as a recursive min-reachability closure.
    QueryDef("d07_dedup_clusters", (s, d) =>
      Dedup.clusters(Tables.load(s, d, "documents"), minEstJaccard = 0.5)
        .orderBy(col("doc_id")),
      Some(s"""
      WITH RECURSIVE $SHD,
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h,
                MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id),
      est AS (SELECT c.a, c.b,
                CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE) / 16.0
                  AS est_jaccard
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
              GROUP BY c.a, c.b),
      edges AS (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
      sym(src, dst) AS (SELECT a, b FROM edges UNION ALL
                        SELECT b, a FROM edges),
      reach(id, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.r FROM sym s JOIN reach r ON r.id = s.dst),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      asg AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
      SELECT doc_id, cluster_id,
        COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM asg ORDER BY doc_id"""), headline = true),

    QueryDef("d04_simhash", (s, d) =>
      Dedup.simhash(Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some("""
      WITH tokd AS (SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      bs AS (SELECT unnest(range(0, 16)) AS b),
      votes AS (SELECT doc_id, b,
                  SUM(CASE WHEN ascii(substring(md5(w), CAST(b+1 AS INT), 1)) % 2 = 1
                      THEN 1 ELSE -1 END) AS sv
                FROM tokd, bs GROUP BY doc_id, b)
      SELECT doc_id,
        string_agg(CASE WHEN sv >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // Incremental dedup: every ingestion day cleans a NEW batch against the
    // already-accepted corpus without re-comparing accepted×accepted. The
    // corpus split is a deterministic hash on doc_id (75% accepted / 25%
    // incoming), so both engines reconstruct the same two sides.
    QueryDef("d12_incremental_dedup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val isNew = Sampling.bucket16(col("doc_id")) >= (0.75 * 65536).toInt
      Dedup.incrementalExact(docs.filter(!isNew), docs.filter(isNew))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH flg AS (SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               >= CAST(0.75 * 65536 AS BIGINT) AS is_new
           FROM documents),
      newd AS (SELECT d.doc_id, md5(d.text) AS h FROM documents d
               JOIN flg f ON f.doc_id = d.doc_id WHERE f.is_new),
      oldh AS (SELECT DISTINCT md5(d.text) AS h FROM documents d
               JOIN flg f ON f.doc_id = d.doc_id WHERE NOT f.is_new),
      keep AS (SELECT h, MIN(doc_id) AS doc_id FROM newd GROUP BY h)
      SELECT k.doc_id, d.lang, d.source
      FROM keep k JOIN documents d ON d.doc_id = k.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM oldh o WHERE o.h = k.h)
      ORDER BY k.doc_id""")),

    // Near-dup flavor of the same shape: candidate pairs form ONLY in LSH
    // buckets holding an incoming doc — the accepted×accepted quadratic
    // mass never joins — and the accepted side enters as its PERSISTED
    // signature store (parquet staged here once, standing state in
    // production): the incremental path reads narrow signatures, never
    // accepted text. The oracle replays minhash, banding, the asymmetric
    // candidate join and the pairwise-greedy drop rule.
    QueryDef("d12b_incremental_lsh", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val isNew = Sampling.bucket16(col("doc_id")) >= (0.75 * 65536).toInt
      val sigDir = s"${SourceQueries.stage}/d12b_sig_store"
      Dedup.minhashStore(docs.filter(!isNew))
        .write.mode("overwrite").parquet(sigDir)
      Dedup.incrementalLshAgainstStore(Tables.read(s, sigDir),
          docs.filter(isNew))._1
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $SHD,
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h,
                MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      flg AS (SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               >= CAST(0.75 * 65536 AS BIGINT) AS is_new
           FROM documents),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x
               JOIN flg fx ON fx.doc_id = x.doc_id
               JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
                 AND x.doc_id <> y.doc_id
               JOIN flg fy ON fy.doc_id = y.doc_id
               WHERE fy.is_new AND (NOT fx.is_new OR x.doc_id < y.doc_id)),
      est AS (SELECT c.a, c.b,
                CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE) / 16.0
                  AS est_jaccard
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
              GROUP BY c.a, c.b),
      dropped AS (SELECT DISTINCT b AS doc_id FROM est
                  WHERE est_jaccard >= 0.5)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN flg f ON f.doc_id = d.doc_id
      WHERE f.is_new
        AND NOT EXISTS (SELECT 1 FROM dropped dr WHERE dr.doc_id = d.doc_id)
      ORDER BY d.doc_id"""), headline = true),

    // Streaming near-dup ingestion: the LSH flavor of e13's continuous
    // loop — doc_id-ordered slices arrive one micro-batch at a time and
    // each batch runs incrementalLsh against the accepted store, so a doc
    // DROPPED in an earlier batch can't veto a later near-dup (only
    // survivors can). The oracle unrolls the three stages over one shared
    // signature replay: stage-k survivors have no >=0.5 edge to an earlier
    // stage's SURVIVORS nor to a smaller-id doc of their own slice.
    QueryDef("e16_stream_ingest_lsh", (s, d) => {
      import org.apache.hadoop.fs.Path
      import org.apache.spark.sql.expressions.Window
      val conf = s.sparkContext.hadoopConfiguration
      val inDir = s"${SourceQueries.stage}/docs_ingest_lsh"
      val accDir = s"${SourceQueries.stage}/docs_accepted_lsh"
      val sigDir = s"${SourceQueries.stage}/docs_accepted_lsh_sig"
      val fsys = new Path(inDir).getFileSystem(conf)
      fsys.delete(new Path(inDir), true)
      fsys.delete(new Path(accDir), true)
      fsys.delete(new Path(sigDir), true)
      val nSlices = 3
      val sliced = Tables.load(s, d, "documents").withColumn("__slice",
          ntile(nSlices).over(Window.orderBy(col("doc_id"))))
        .localCheckpoint(true)
      var seen = Set.empty[String]
      (1 to nSlices).foreach { k =>
        sliced.filter(col("__slice") === k).drop("__slice")
          .coalesce(1).write.mode("append").parquet(inDir)
        val now = fsys.listStatus(new Path(inDir)).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        now.filterNot(p => seen(p.toString)).foreach(p =>
          fsys.setTimes(p, 1100000000000L + k * 60000L, -1))
        seen = now.map(_.toString).toSet
      }
      val schema = Tables.schema(s, inDir)
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // per-batch cost is O(batch + collisions): the accepted state
          // enters as the persisted SIGNATURE store, and each batch's
          // survivor signatures are appended so no accepted doc is ever
          // re-shingled — accepted text is written once and never re-read.
          // BOTH outputs commit through the Delta write path's idempotent
          // epochs (epoch = the micro-batch id): foreachBatch delivery is
          // at-least-once, and a replay finds each table independently
          // skipping an epoch it already committed — a crash BETWEEN the
          // two appends heals on the retry (the accepted append no-ops,
          // the signature append recomputes against the UNCHANGED
          // pre-batch store and lands), so the store can never silently
          // desync from the accepted corpus. The log also pins the
          // store's file list when the plan reads it, so appending to
          // the very table the plan scans is snapshot-clean, not a race
          // against the directory listing.
          val acceptedSig =
            if (new java.io.File(sigDir, "_delta_log").isDirectory)
              graft.sources.DeltaLog.read(s, sigDir)
            else Dedup.minhashStore(batch.limit(0))
          val (survivors, survivorSig) =
            Dedup.incrementalLshAgainstStore(acceptedSig, batch)
          graft.sources.DeltaWrite.appendIdempotent(
            survivors, accDir, "e16-acc", batchId)
          graft.sources.DeltaWrite.appendIdempotent(
            survivorSig, sigDir, "e16-sig", batchId)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.sources.DeltaLog.read(s, accDir)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $SHD,
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h,
                MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id),
      est AS (SELECT c.a, c.b,
                CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE) / 16.0
                  AS ej
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
              GROUP BY c.a, c.b),
      ep AS (SELECT a, b FROM est WHERE ej >= 0.5),
      sym AS (SELECT a AS u, b AS v FROM ep
              UNION ALL SELECT b, a FROM ep),
      sl AS (SELECT doc_id, NTILE(3) OVER (ORDER BY doc_id) AS k
             FROM documents),
      s1 AS (SELECT d.doc_id FROM sl d WHERE d.k = 1 AND NOT EXISTS (
              SELECT 1 FROM sym e JOIN sl x ON x.doc_id = e.v
              WHERE e.u = d.doc_id AND x.k = 1 AND x.doc_id < d.doc_id)),
      s2 AS (SELECT d.doc_id FROM sl d WHERE d.k = 2 AND NOT EXISTS (
              SELECT 1 FROM sym e WHERE e.u = d.doc_id AND (
                EXISTS (SELECT 1 FROM s1 WHERE s1.doc_id = e.v)
                OR EXISTS (SELECT 1 FROM sl x WHERE x.doc_id = e.v
                           AND x.k = 2 AND x.doc_id < d.doc_id)))),
      s3 AS (SELECT d.doc_id FROM sl d WHERE d.k = 3 AND NOT EXISTS (
              SELECT 1 FROM sym e WHERE e.u = d.doc_id AND (
                EXISTS (SELECT 1 FROM s1 WHERE s1.doc_id = e.v)
                OR EXISTS (SELECT 1 FROM s2 WHERE s2.doc_id = e.v)
                OR EXISTS (SELECT 1 FROM sl x WHERE x.doc_id = e.v
                           AND x.k = 3 AND x.doc_id < d.doc_id)))),
      surv AS (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2
               UNION ALL SELECT doc_id FROM s3)
      SELECT sv.doc_id, dd.source
      FROM surv sv JOIN documents dd ON dd.doc_id = sv.doc_id
      ORDER BY sv.doc_id""")),

    // maxRows is the explicit opt-in to the O(N^2) baseline: test-scale
    // embeddings are ~2k vectors; anything corpus-sized must go through d06.
    QueryDef("d05_embed_neardup", (s, d) =>
      Similarity.nearDupPairs(Tables.load(s, d, "embeddings"), 0.3, maxRows = 10000L)
        .orderBy(col("cos_sim").desc, col("a"), col("b")).limit(200),
      Some(s"""
      WITH $ED,
      dots AS (SELECT x.vec_id AS a, y.vec_id AS b, SUM(x.v*y.v) AS dot
               FROM ed x JOIN ed y ON x.i = y.i AND x.vec_id < y.vec_id
               GROUP BY x.vec_id, y.vec_id)
      SELECT d.a, d.b, ROUND(d.dot/(na.nrm*nb.nrm), 4) AS cos_sim
      FROM dots d
      JOIN nrm na ON na.vec_id = d.a
      JOIN nrm nb ON nb.vec_id = d.b
      WHERE d.dot/(na.nrm*nb.nrm) > 0.3
      ORDER BY cos_sim DESC, a, b LIMIT 200""")),

    // d06 is the scale path d05 baselines: hyperplane-LSH bucketing instead
    // of all-pairs. The oracle replays the exact md5-derived planes, sign
    // bits, banding and bucket join, so the approximate pipeline itself is
    // hash-checked end to end. 64 planes in 16 4-bit bands: the band curve
    // that holds recall >=0.9 down to the corpus's true-pair cosines
    // (OperatorsSpec measures it against the exact baseline).
    QueryDef("d06_embed_lsh", (s, d) =>
      // dim=64 is fixture metadata (TESTDATA embeddings are 64-d at every
      // sf) — passing it skips the per-invocation first-row probe job
      Similarity.nearDupPairsLsh(Tables.load(s, d, "embeddings"), 0.35, dim = 64)
        .orderBy(col("cos_sim").desc, col("a"), col("b")),
      Some(s"""
      WITH $ED,
      planes AS (SELECT pr.p, ir.i,
            CASE WHEN ascii(substring(md5(CAST(pr.p AS VARCHAR) || ':' ||
                   CAST(ir.i AS VARCHAR)), 1, 1)) % 2 = 1
                 THEN 1.0 ELSE -1.0 END AS s
          FROM (SELECT unnest(range(0, 64)) AS p) pr,
               (SELECT DISTINCT i FROM ed) ir),
      proj AS (SELECT ed.vec_id, pl.p, SUM(ed.v * pl.s) AS dot
               FROM ed JOIN planes pl ON pl.i = ed.i GROUP BY ed.vec_id, pl.p),
      sig AS (SELECT vec_id,
                string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
                  ORDER BY p) AS bits
              FROM proj GROUP BY vec_id),
      buckets AS (SELECT vec_id, b AS band, substring(bits, b*4+1, 4) AS bucket
                  FROM sig, (SELECT unnest(range(0, 16)) AS b) bb),
      cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket
                    AND x.vec_id < y.vec_id),
      dots AS (SELECT c.a, c.b, SUM(xa.v * xb.v) AS dot
               FROM cand c JOIN ed xa ON xa.vec_id = c.a
               JOIN ed xb ON xb.vec_id = c.b AND xb.i = xa.i
               GROUP BY c.a, c.b)
      SELECT d.a, d.b, ROUND(d.dot/(na.nrm*nb.nrm), 4) AS cos_sim
      FROM dots d
      JOIN nrm na ON na.vec_id = d.a
      JOIN nrm nb ON nb.vec_id = d.b
      WHERE d.dot/(na.nrm*nb.nrm) > 0.35
      ORDER BY cos_sim DESC, a, b"""), headline = true),

    // d06 with the hot-bucket guard engaged (maxBucketSize = 30): cells
    // holding more vectors than the cap are excluded from candidate
    // generation on both join sides — the skew gate that bounds the bucket
    // self-join's intermediate at corpus scale. The oracle replays the
    // exact drop rule (HAVING COUNT(*) <= 30 per (band, bucket)), so the
    // recall trade is hash-checked, not hand-waved.
    QueryDef("d06b_embed_lsh_capped", (s, d) =>
      Similarity.nearDupPairsLsh(Tables.load(s, d, "embeddings"), 0.35,
          dim = 64, maxBucketSize = 30)
        .orderBy(col("cos_sim").desc, col("a"), col("b")),
      Some(s"""
      WITH $ED,
      planes AS (SELECT pr.p, ir.i,
            CASE WHEN ascii(substring(md5(CAST(pr.p AS VARCHAR) || ':' ||
                   CAST(ir.i AS VARCHAR)), 1, 1)) % 2 = 1
                 THEN 1.0 ELSE -1.0 END AS s
          FROM (SELECT unnest(range(0, 64)) AS p) pr,
               (SELECT DISTINCT i FROM ed) ir),
      proj AS (SELECT ed.vec_id, pl.p, SUM(ed.v * pl.s) AS dot
               FROM ed JOIN planes pl ON pl.i = ed.i GROUP BY ed.vec_id, pl.p),
      sig AS (SELECT vec_id,
                string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
                  ORDER BY p) AS bits
              FROM proj GROUP BY vec_id),
      buckets AS (SELECT vec_id, b AS band, substring(bits, b*4+1, 4) AS bucket
                  FROM sig, (SELECT unnest(range(0, 16)) AS b) bb),
      cold AS (SELECT band, bucket FROM buckets
               GROUP BY band, bucket HAVING COUNT(*) <= 30),
      jb AS (SELECT bk.vec_id, bk.band, bk.bucket FROM buckets bk
             JOIN cold cd ON cd.band = bk.band AND cd.bucket = bk.bucket),
      cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
               FROM jb x JOIN jb y
                 ON x.band = y.band AND x.bucket = y.bucket
                    AND x.vec_id < y.vec_id),
      dots AS (SELECT c.a, c.b, SUM(xa.v * xb.v) AS dot
               FROM cand c JOIN ed xa ON xa.vec_id = c.a
               JOIN ed xb ON xb.vec_id = c.b AND xb.i = xa.i
               GROUP BY c.a, c.b)
      SELECT d.a, d.b, ROUND(d.dot/(na.nrm*nb.nrm), 4) AS cos_sim
      FROM dots d
      JOIN nrm na ON na.vec_id = d.a
      JOIN nrm nb ON nb.vec_id = d.b
      WHERE d.dot/(na.nrm*nb.nrm) > 0.35
      ORDER BY cos_sim DESC, a, b"""), headline = true),

    // ---------------- similarity search ----------------
    QueryDef("a01_ann_bruteforce", (s, d) =>
      Similarity.bruteForceTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 10)
        .orderBy(col("qid"), col("rank")),
      Some(s"$BF_TOPK ORDER BY qid, rank"), headline = true),

    // a19: HARD-NEGATIVE MINING — per anchor, the top-5 most-similar
    // vectors with a DIFFERENT label, the contrastive-training data op
    // (random negatives don't move the loss; hard ones do). The rounded
    // ≤0.99 cosine band excludes near-identical different-label vectors
    // (presumed mislabeled duplicates — the false-negative trap). Same
    // broadcast-anchors + bounded-heap pass as a01; the oracle replays
    // the full cosine ranking with the label exclusion and band edge.
    QueryDef("a19_hard_negatives", (s, d) =>
      Similarity.hardNegatives(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 5)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      labels AS (SELECT vec_id, label FROM embeddings),
      q AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
      dots AS (SELECT q.qid, x.vec_id AS nid, SUM(q.v*x.v) AS dot
               FROM q JOIN ed x ON q.i = x.i AND x.vec_id <> q.qid
               GROUP BY q.qid, x.vec_id),
      sims AS (SELECT qid, nid, dot/(nq.nrm*nx.nrm) AS sim
               FROM dots
               JOIN nrm nq ON nq.vec_id = qid
               JOIN nrm nx ON nx.vec_id = nid),
      neg AS (SELECT s.qid, s.nid, s.sim, la.label AS anchor_label,
                ln.label AS neg_label
              FROM sims s
              JOIN labels la ON la.vec_id = s.qid
              JOIN labels ln ON ln.vec_id = s.nid
              WHERE la.label <> ln.label AND ROUND(s.sim, 4) <= 0.99),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim DESC, nid) AS rank FROM neg)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank,
        ROUND(sim, 4) AS cos_sim, anchor_label, neg_label
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // IVF is approximate w.r.t. exact ANN (probes 2 of 10 cells), but its
    // construction is fully deterministic — label cells, mean centroids,
    // cosine probe ranking — so the whole pipeline is SQL-expressible and
    // hash-checked, not just row-counted.
    QueryDef("a02_ann_ivf", (s, d) =>
      Similarity.ivfTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 10, 2)
        .orderBy(col("qid"), col("rank")),
      Some(s"$IVF_TOPK ORDER BY qid, rank")),

    // a15: index PERSISTENCE lifecycle — fit the IVF coarse index once,
    // write it (cells × dim doubles: kilobytes at any corpus size), and
    // search from the loaded artifact with zero fit cost. The oracle is
    // a02's full replay: the persisted search must return bit-identical
    // results to the fit-inline one (centroid doubles round-trip parquet
    // exactly), which is precisely the property an index file must have.
    QueryDef("a15_ivf_persisted", (s, d) => {
      val idx = s"${graft.queries.SourceQueries.stage}/ivf_index"
      val emb = Tables.load(s, d, "embeddings")
      Similarity.saveIvfIndex(emb, idx)
      Similarity.ivfTopKFromIndex(emb, idx, col("vec_id") < 5, 10, 2)
        .orderBy(col("qid"), col("rank"))
    }, Some(s"$IVF_TOPK ORDER BY qid, rank")),

    // Recall evaluation: the metric an index tuning loop actually reads —
    // per-query overlap of the approximate (IVF, 2-of-10 probes) top-10
    // with the exact top-10. Both sides replay in SQL, so the recall
    // numbers themselves are hash-checked, and the Spark side is one
    // broadcast-sized join of two k-row-per-query results.
    QueryDef("a09_ann_recall", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, col("vec_id") < 5, 10),
          Similarity.ivfTopK(emb, col("vec_id") < 5, 10, 2), 10)
        .orderBy(col("qid"))
    }, Some(s"""
      SELECT ex.qid, CAST(COUNT(ap.nid) AS BIGINT) AS n_hits,
        ROUND(COUNT(ap.nid) / 10.0, 4) AS recall_at_10
      FROM ($BF_TOPK) ex LEFT JOIN ($IVF_TOPK) ap
        ON ap.qid = ex.qid AND ap.nid = ex.nid
      GROUP BY ex.qid ORDER BY ex.qid""")),

    // a20: MATRYOSHKA truncation-recall sweep — "can I store the first
    // d dims and keep my neighbors?", the adoption question for
    // MRL-style embeddings (truncating the vector is the cheapest
    // compression there is: no codebooks, no re-encode). Exact search
    // over the 16/32/64-dim prefixes, recall@10 against the full-dim
    // ground truth (computed once, checkpointed); dims=64 is the
    // recall=1.0 sanity anchor baked into the hash. Same broadcast +
    // bounded-heap passes as a01 — at scale each sweep point is one
    // codes-narrow corpus scan.
    QueryDef("a20_matryoshka_recall", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5, 10)
        .localCheckpoint(true)
      Seq(16, 32, 64).map { dd =>
        val trunc = emb.withColumn("embedding",
          slice(col("embedding"), 1, dd))
        Similarity.recallAtK(exact,
            Similarity.bruteForceTopK(trunc, col("vec_id") < 5, 10), 10)
          .withColumn("dims", lit(dd.toLong))
      }.reduce(_ unionByName _)
        .select(col("dims"), col("qid"), col("n_hits"), col("recall_at_10"))
        .orderBy(col("dims"), col("qid"))
    }, Some(Seq(16, 32, 64).map(dd => s"""
      SELECT CAST($dd AS BIGINT) AS dims, ex.qid,
        CAST(COUNT(ap.nid) AS BIGINT) AS n_hits,
        ROUND(COUNT(ap.nid) / 10.0, 4) AS recall_at_10
      FROM ($BF_TOPK) ex LEFT JOIN (${bfTopkDimsSql(dd)}) ap
        ON ap.qid = ex.qid AND ap.nid = ex.nid
      GROUP BY ex.qid""").mkString(" UNION ALL ") +
      " ORDER BY dims, qid")),

    // Recall SWEEP: the tuning curve itself — recall@10 at nProbe 1/2/4
    // in one result. This is the query an index operator runs before
    // picking the probe budget; monotonicity in nProbe falls out of the
    // hash-checked numbers. The exact side is computed once and
    // checkpointed; each sweep point reuses it.
    QueryDef("a10_recall_sweep", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5, 10)
        .localCheckpoint(true)
      Seq(1, 2, 4).map { np =>
        Similarity.recallAtK(exact,
            Similarity.ivfTopK(emb, col("vec_id") < 5, 10, np), 10)
          .withColumn("nprobe", lit(np.toLong))
      }.reduce(_ unionByName _)
        .select(col("nprobe"), col("qid"), col("n_hits"),
          col("recall_at_10"))
        .orderBy(col("nprobe"), col("qid"))
    }, Some(Seq(1, 2, 4).map(np => s"""
      SELECT CAST($np AS BIGINT) AS nprobe, ex.qid,
        CAST(COUNT(ap.nid) AS BIGINT) AS n_hits,
        ROUND(COUNT(ap.nid) / 10.0, 4) AS recall_at_10
      FROM ($BF_TOPK) ex LEFT JOIN (${ivfTopkSql(np)}) ap
        ON ap.qid = ex.qid AND ap.nid = ex.nid
      GROUP BY ex.qid""").mkString(" UNION ALL ") +
      " ORDER BY nprobe, qid")),

    // a03 completes the search family: hyperplane-LSH bucket probing as
    // the no-training coarse index (vs a02's centroid cells). The oracle
    // replays signatures, band buckets, the query-corpus bucket join, the
    // exact re-score and the rank — approximate results, exactly checked.
    QueryDef("a03_ann_lsh", (s, d) =>
      Similarity.lshTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 10, dim = 64)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      planes AS (SELECT pr.p, ir.i,
            CASE WHEN ascii(substring(md5(CAST(pr.p AS VARCHAR) || ':' ||
                   CAST(ir.i AS VARCHAR)), 1, 1)) % 2 = 1
                 THEN 1.0 ELSE -1.0 END AS s
          FROM (SELECT unnest(range(0, 64)) AS p) pr,
               (SELECT DISTINCT i FROM ed) ir),
      proj AS (SELECT ed.vec_id, pl.p, SUM(ed.v * pl.s) AS dot
               FROM ed JOIN planes pl ON pl.i = ed.i GROUP BY ed.vec_id, pl.p),
      sig AS (SELECT vec_id,
                string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
                  ORDER BY p) AS bits
              FROM proj GROUP BY vec_id),
      buckets AS (SELECT vec_id, b AS band, substring(bits, b*4+1, 4) AS bucket
                  FROM sig, (SELECT unnest(range(0, 16)) AS b) bb),
      cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
               FROM buckets q JOIN buckets c
                 ON q.band = c.band AND q.bucket = c.bucket
                    AND q.vec_id < 5 AND c.vec_id <> q.vec_id),
      dots AS (SELECT cd.qid, cd.nid, SUM(eq.v * en.v) AS dot
               FROM cand cd
               JOIN ed eq ON eq.vec_id = cd.qid
               JOIN ed en ON en.vec_id = cd.nid AND en.i = eq.i
               GROUP BY cd.qid, cd.nid),
      sims AS (SELECT qid, nid, dot/(nq.nrm*nn.nrm) AS sim
               FROM dots
               JOIN nrm nq ON nq.vec_id = qid
               JOIN nrm nn ON nn.vec_id = nid),
      ranked AS (SELECT qid, nid, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY sim DESC, nid) AS rank FROM sims)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(sim, 4) AS cos_sim
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""")),

    // a08: k-NN GRAPH — top-k neighbors for EVERY corpus vector via the
    // banded-LSH candidate self-join (never all-pairs), each undirected
    // pair scored once and mirrored. The oracle replays signatures, band
    // buckets, the a<b candidate join, the exact re-score, the mirror
    // union, and the per-vector rank.
    QueryDef("a08_knn_graph", (s, d) =>
      Similarity.knnGraph(Tables.load(s, d, "embeddings"), k = 5, dim = 64)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      $KNN_RANKED
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(sim, 4) AS cos_sim
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // a12: PAGERANK over the k-NN similarity graph — graph-signal scoring
    // for curation (prototypical vs outlier vectors). The oracle replays
    // a08's full knn-graph chain, then three exact damped-PageRank
    // iterations with dangling-mass redistribution; contribution sums go
    // through DECIMAL(38,18) on both sides so the iterate is
    // order-independent and engine-exact.
    QueryDef("a12_pagerank", (s, d) =>
      GraphOps.knnPageRank(Tables.load(s, d, "embeddings"), k = 5, dim = 64)
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      $KNN_RANKED,
      verts AS (SELECT DISTINCT vec_id AS id FROM embeddings),
      nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
      edges AS (SELECT qid AS src, nid AS dst FROM ranked WHERE rank <= 5),
      odeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od
               FROM edges GROUP BY src),
      pr0 AS (SELECT id, 1.0/(SELECT n FROM nv) AS pr FROM verts),
      ${pageRankIterSql(1)},
      ${pageRankIterSql(2)},
      ${pageRankIterSql(3)}
      SELECT CAST(id AS BIGINT) AS vec_id, ROUND(pr, 9) AS pagerank
      FROM pr3 ORDER BY vec_id""")),

    // a16b: the PRODUCTION form of a16 — the same triangle census over
    // the knn graph built with d06b's hot-bucket cap (buckets holding
    // > 30 vectors are excluded from candidate generation), which is
    // what bounds the LSH self-join at corpus scale: a16 uncapped soaks
    // super-linear at sf1 exactly like d06 (the candidate stage, not the
    // wedge join, is the quadratic demonstration). The oracle replays
    // the capped chain end to end, so the recall trade is hash-checked.
    QueryDef("a16b_triangle_capped", (s, d) =>
      GraphOps.knnTriangles(Tables.load(s, d, "embeddings"), k = 5,
          dim = 64, maxBucketSize = 30)
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      planes AS (SELECT pr.p, ir.i,
            CASE WHEN ascii(substring(md5(CAST(pr.p AS VARCHAR) || ':' ||
                   CAST(ir.i AS VARCHAR)), 1, 1)) % 2 = 1
                 THEN 1.0 ELSE -1.0 END AS s
          FROM (SELECT unnest(range(0, 64)) AS p) pr,
               (SELECT DISTINCT i FROM ed) ir),
      proj AS (SELECT ed.vec_id, pl.p, SUM(ed.v * pl.s) AS dot
               FROM ed JOIN planes pl ON pl.i = ed.i GROUP BY ed.vec_id, pl.p),
      sig AS (SELECT vec_id,
                string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
                  ORDER BY p) AS bits
              FROM proj GROUP BY vec_id),
      buckets AS (SELECT vec_id, b AS band, substring(bits, b*4+1, 4) AS bucket
                  FROM sig, (SELECT unnest(range(0, 16)) AS b) bb),
      cold AS (SELECT band, bucket FROM buckets
               GROUP BY band, bucket HAVING COUNT(*) <= 30),
      jb AS (SELECT bk.vec_id, bk.band, bk.bucket FROM buckets bk
             JOIN cold cd ON cd.band = bk.band AND cd.bucket = bk.bucket),
      cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
               FROM jb x JOIN jb y
                 ON x.band = y.band AND x.bucket = y.bucket
                    AND x.vec_id < y.vec_id),
      dots AS (SELECT c.a, c.b, SUM(xa.v * xb.v) AS dot
               FROM cand c JOIN ed xa ON xa.vec_id = c.a
               JOIN ed xb ON xb.vec_id = c.b AND xb.i = xa.i
               GROUP BY c.a, c.b),
      sims AS (SELECT a, b, dot/(na.nrm*nb.nrm) AS sim
               FROM dots
               JOIN nrm na ON na.vec_id = a
               JOIN nrm nb ON nb.vec_id = b),
      directed AS (SELECT a AS qid, b AS nid, sim FROM sims
                   UNION ALL
                   SELECT b AS qid, a AS nid, sim FROM sims),
      ranked AS (SELECT qid, nid, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY sim DESC, nid) AS rank
                 FROM directed),
      edges AS (SELECT qid AS src, nid AS dst FROM ranked WHERE rank <= 5),
      und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
              FROM edges WHERE src <> dst),
      degs AS (SELECT id, COUNT(*) AS degree FROM
                 (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
               GROUP BY id),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      perv AS (SELECT id, COUNT(*) AS triangles FROM
                 (SELECT x AS id FROM tri UNION ALL
                  SELECT y AS id FROM tri UNION ALL
                  SELECT z AS id FROM tri)
               GROUP BY id)
      SELECT CAST(v.vec_id AS BIGINT) AS vec_id,
        CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
        CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
        CASE WHEN COALESCE(d.degree, 0) >= 2
          THEN 2.0 * CAST(COALESCE(p.triangles, 0) AS DOUBLE) /
               (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))
          ELSE 0.0 END AS clustering
      FROM (SELECT DISTINCT vec_id FROM embeddings) v
      LEFT JOIN degs d ON d.id = v.vec_id
      LEFT JOIN perv p ON p.id = v.vec_id
      ORDER BY vec_id""")),

    // a16: TRIANGLE COUNT + local clustering coefficient over the same
    // knn graph — community density next to a12's centrality (triangle-
    // dense neighborhoods = near-duplicate cliques). Spark uses the
    // degree-oriented wedge join (each triangle found once at its
    // order-lowest vertex, out-degree capped at O(√E)); the oracle
    // replays the knn chain then counts id-ordered (a<b<c) closed
    // triples — different algorithm, identical census, so the
    // orientation argument itself is what's being checked.
    QueryDef("a16_triangle_count", (s, d) =>
      GraphOps.knnTriangles(Tables.load(s, d, "embeddings"), k = 5, dim = 64)
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      $KNN_RANKED,
      edges AS (SELECT qid AS src, nid AS dst FROM ranked WHERE rank <= 5),
      und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
              FROM edges WHERE src <> dst),
      degs AS (SELECT id, COUNT(*) AS degree FROM
                 (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
               GROUP BY id),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      perv AS (SELECT id, COUNT(*) AS triangles FROM
                 (SELECT x AS id FROM tri UNION ALL
                  SELECT y AS id FROM tri UNION ALL
                  SELECT z AS id FROM tri)
               GROUP BY id)
      SELECT CAST(v.vec_id AS BIGINT) AS vec_id,
        CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
        CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
        CASE WHEN COALESCE(d.degree, 0) >= 2
          THEN 2.0 * CAST(COALESCE(p.triangles, 0) AS DOUBLE) /
               (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))
          ELSE 0.0 END AS clustering
      FROM (SELECT DISTINCT vec_id FROM embeddings) v
      LEFT JOIN degs d ON d.id = v.vec_id
      LEFT JOIN perv p ON p.id = v.vec_id
      ORDER BY vec_id""")),

    // a17: semi-supervised LABEL PROPAGATION over the knn graph — a thin
    // seed set (every 5th vector keeps its label) spreads through
    // similarity structure with clamped seeds, integer majority votes and
    // smallest-label ties; `origin` records the provenance tier. The
    // oracle replays a08's knn chain then both iterations.
    QueryDef("a17_label_prop", (s, d) =>
      GraphOps.knnLabelPropagate(Tables.load(s, d, "embeddings"),
          col("vec_id") % 5 === 0, k = 5, dim = 64)
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      $KNN_RANKED,
      edges AS (SELECT qid AS src, nid AS dst FROM ranked WHERE rank <= 5),
      lb0 AS (SELECT vec_id AS id,
                CASE WHEN vec_id % 5 = 0 THEN CAST(label AS BIGINT) END AS lbl,
                CASE WHEN vec_id % 5 = 0 THEN 'seed' END AS origin
              FROM embeddings),
      ${labelPropIterSql(1)},
      ${labelPropIterSql(2)}
      SELECT id AS vec_id, lbl AS label, origin FROM lb2
      ORDER BY vec_id""")),

    // a07: PRE-filtered IVF search (tombstones/ACLs/metadata constraints) —
    // the predicate rides inside the pruned cell join, so excluded vectors
    // are never scored and top-k fills from eligible vectors only (a
    // post-filter would come up short whenever a winner is excluded). The
    // oracle replays a02's IVF pipeline with the same filter in its
    // candidate stage.
    QueryDef("a07_ann_filtered", (s, d) =>
      Similarity.ivfTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 10, 2,
          candidateFilter = col("vec_id") % 3 =!= 0)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      cent AS (SELECT label, i, AVG(v) AS cv FROM ed GROUP BY label, i),
      cnrm AS (SELECT label, SQRT(SUM(cv*cv)) AS cn FROM cent GROUP BY label),
      q AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
      qc AS (SELECT q.qid, c.label, SUM(q.v*c.cv) AS dot
             FROM q JOIN cent c ON q.i = c.i GROUP BY q.qid, c.label),
      probed AS (SELECT qid, label FROM (
        SELECT qc.qid, qc.label,
          ROW_NUMBER() OVER (PARTITION BY qc.qid
            ORDER BY qc.dot/(n.nrm*cn.cn) DESC, qc.label) AS rn
        FROM qc
        JOIN nrm n ON n.vec_id = qc.qid
        JOIN cnrm cn ON cn.label = qc.label) t WHERE rn <= 2),
      cand AS (SELECT p.qid, e.vec_id AS nid, SUM(eq.v*e.v) AS dot
               FROM probed p
               JOIN ed e ON e.label = p.label AND e.vec_id <> p.qid
                 AND e.vec_id % 3 <> 0
               JOIN ed eq ON eq.vec_id = p.qid AND eq.i = e.i
               GROUP BY p.qid, e.vec_id),
      sims AS (SELECT qid, nid, dot/(nq.nrm*nn.nrm) AS sim
               FROM cand
               JOIN nrm nq ON nq.vec_id = qid
               JOIN nrm nn ON nn.vec_id = nid),
      ranked AS (SELECT qid, nid, sim,
                   ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY sim DESC, nid) AS rank FROM sims)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(sim, 4) AS cos_sim
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""")),

    // ---------------- sampling / screening ----------------
    // Deterministic hash sampling (reproducible across engines — the
    // oracle replays the same md5 bucket), the selection stage after
    // cleaning/dedup in a corpus pipeline.
    QueryDef("smp01_hash_sample", (s, d) =>
      Sampling.hashBernoulli(Tables.load(s, d, "documents"), col("doc_id"), 0.25)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
      Some("""
      SELECT doc_id, lang FROM documents
      WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            < 0.25 * 65536
      ORDER BY doc_id""")),

    // per-language rebalancing: downsample the dominant language, keep
    // the rest at higher rates — a broadcast rates join + narrow filter
    QueryDef("smp02_stratified", (s, d) =>
      Sampling.stratified(Tables.load(s, d, "documents"), col("lang"),
          col("doc_id"),
          Map("en" -> 0.1, "zh" -> 0.5, "es" -> 0.5, "de" -> 1.0, "fr" -> 0.25))
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
      Some("""
      WITH rates(lang2, rate) AS (VALUES
        ('en', 0.1), ('zh', 0.5), ('es', 0.5), ('de', 1.0), ('fr', 0.25))
      SELECT d.doc_id, d.lang FROM documents d
      JOIN rates r ON d.lang = r.lang2
      WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
            < r.rate * 65536
      ORDER BY d.doc_id""")),

    // benchmark-contamination screen: docs whose normalized fingerprint
    // matches the held-out set (here: every 10th doc stands in for an
    // eval set) are flagged — including exact-duplicate texts of them
    QueryDef("cnt01_contamination", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
        .select(TextOps.fingerprint(col("text")).as("fp"))
      Sampling.contaminationScreen(docs, TextOps.fingerprint(col("text")), bench)
        .select(col("doc_id"), col("contaminated")).orderBy(col("doc_id"))
    }, Some(raw"""
      WITH fps AS (SELECT doc_id,
          MD5(LOWER(REGEXP_REPLACE(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents),
      bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0)
      SELECT f.doc_id, (b.fp IS NOT NULL) AS contaminated
      FROM fps f LEFT JOIN bench b ON f.fp = b.fp
      ORDER BY f.doc_id""")),

    // n-gram collision decontamination (GPT-3's method): documents sharing
    // ANY 3-gram with the eval set (every 10th doc, as cnt01) are flagged,
    // with collision counts and fractions — catches the PARTIAL leakage
    // (eval text quoted inside a larger page) that cnt01's whole-document
    // fingerprint misses. The oracle rebuilds distinct grams per doc with
    // the same LEAD windows as SHD and replays the bench-set join.
    QueryDef("cnt02_ngram_contamination", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      Sampling.ngramContaminationScreen(docs,
          docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $SHD,
      bench AS (SELECT DISTINCT shingle FROM shd WHERE doc_id % 10 = 0),
      per AS (SELECT s.doc_id, COUNT(*) AS n_grams,
               COUNT(b.shingle) AS n_contaminated
              FROM shd s LEFT JOIN bench b ON b.shingle = s.shingle
              GROUP BY s.doc_id)
      SELECT d.doc_id,
        COALESCE(CAST(p.n_grams AS BIGINT), 0) AS n_grams,
        COALESCE(CAST(p.n_contaminated AS BIGINT), 0) AS n_contaminated,
        CASE WHEN p.n_grams > 0
          THEN COALESCE(CAST(p.n_contaminated AS DOUBLE), 0.0) / p.n_grams
          ELSE 0.0 END AS contamination_frac,
        COALESCE(p.n_contaminated, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // Bloom-gated n-gram decontamination: same exact semantics as cnt02
    // (at 5-grams) computed through the can't-broadcast path — a Bloom
    // runtime filter gates the corpus gram stream BEFORE the exact
    // shuffle join, so shuffle volume is collisions + fpp·clean grams.
    // The oracle is the plain exact screen: the bloom is a prefilter the
    // exact join corrects, so fpp never reaches the answer.
    QueryDef("cnt03_bloom_decontaminate", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      Sampling.bloomNgramDecontaminate(docs,
          docs.filter(col("doc_id") % 10 === 0), n = 5)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $TOK,
      sh5 AS (SELECT doc_id,
          w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win ||
            ' ' || LEAD(w,3) OVER win || ' ' || LEAD(w,4) OVER win AS shingle,
          LEAD(w,4) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      shd5 AS (SELECT DISTINCT doc_id, shingle FROM sh5 WHERE complete),
      bench AS (SELECT DISTINCT shingle FROM shd5 WHERE doc_id % 10 = 0),
      per AS (SELECT s.doc_id, COUNT(*) AS n_grams,
               COUNT(b.shingle) AS n_contaminated
              FROM shd5 s LEFT JOIN bench b ON b.shingle = s.shingle
              GROUP BY s.doc_id)
      SELECT d.doc_id,
        COALESCE(CAST(p.n_grams AS BIGINT), 0) AS n_grams,
        COALESCE(CAST(p.n_contaminated AS BIGINT), 0) AS n_contaminated,
        CASE WHEN p.n_grams > 0
          THEN COALESCE(CAST(p.n_contaminated AS DOUBLE), 0.0) / p.n_grams
          ELSE 0.0 END AS contamination_frac,
        COALESCE(p.n_contaminated, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
      ORDER BY d.doc_id"""), headline = true),

    // sequence packing: greedy token-budget fill per shard (training-batch
    // construction); shard-local running sums keep it embarrassingly
    // parallel — a global greedy pack would serialize on a total order.
    // Budgets are REAL BPE token counts (t05's tokenizer) — the unit the
    // training batch is actually sized in; the oracle replays the merge
    // loop before the packing window.
    QueryDef("pck01_sequence_packing", (s, d) =>
      Packing.packByBudget(Tables.load(s, d, "documents"), 512, 100)
        .orderBy(col("doc_id")),
      Some(s"""
      WITH RECURSIVE $BPE,
      t AS (SELECT d.doc_id,
          CAST(COALESCE(len(b.tk), 0) AS BIGINT) AS n_tokens,
          CAST(FLOOR(d.doc_id / 100.0) AS BIGINT) AS shard
        FROM documents d LEFT JOIN btoks b ON b.doc_id = d.doc_id)
      SELECT doc_id, n_tokens, shard,
        CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / 512.0) AS BIGINT) AS pack_id
      FROM t ORDER BY doc_id""")),

    // int8 embedding quantization (the 4x memory cut for corpus-scale
    // embedding stores): integer outputs hash exactly, so the affine map
    // itself is oracle-checked dimension by dimension
    QueryDef("qz01_embed_quantize", (s, d) =>
      Quantize.int8(Tables.load(s, d, "embeddings"))
        .select(col("vec_id"), posexplode(col("qvec")).as(Seq("i", "q")))
        .select(col("vec_id"), col("i").cast("long").as("i"), col("q"))
        .orderBy(col("vec_id"), col("i")),
      Some(s"""
      WITH $ED,
      st AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ed GROUP BY i)
      SELECT e.vec_id, CAST(e.i - 1 AS BIGINT) AS i,
        CAST(CASE WHEN st.mx = st.mn THEN 0
             ELSE ROUND((e.v - st.mn) * 255.0 / (st.mx - st.mn)) END AS BIGINT) AS q
      FROM ed e JOIN st ON st.i = e.i
      ORDER BY vec_id, i""")),

    // qz04: int4 + NIBBLE PACKING — 16-level affine quantization, two
    // codes per byte (64 float dims → 32 bytes, the memory-resident-index
    // cut). The oracle recomputes every packed storage byte (hi·16+lo
    // from the replayed affine map), so the bit layout itself is checked.
    QueryDef("qz04_int4_pack", (s, d) =>
      Quantize.int4Packed(Tables.load(s, d, "embeddings"))
        .orderBy(col("vec_id"), col("j")),
      Some(s"""
      WITH $ED,
      st AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ed GROUP BY i),
      q4 AS (SELECT e.vec_id, e.i,
          CAST(CASE WHEN st.mx = st.mn THEN 0
               ELSE ROUND((e.v - st.mn) * 15.0 / (st.mx - st.mn))
               END AS BIGINT) AS q
        FROM ed e JOIN st ON st.i = e.i)
      SELECT a.vec_id AS vec_id, CAST((a.i - 1) / 2 AS BIGINT) AS j,
        a.q * 16 + b.q AS b
      FROM q4 a JOIN q4 b ON b.vec_id = a.vec_id AND b.i = a.i + 1
      WHERE a.i % 2 = 1
      ORDER BY a.vec_id, j""")),

    // Product quantization: 4 blocks of 16 dims, 16 codes per block, 2
    // Lloyd iterations — the same deterministic k-means machinery as a04
    // (seed codes = lowest vec_ids, 6dp-rounded centroid update, ties to
    // the lower code), replayed block-parallel by the oracle. dim=64 is
    // fixture metadata, skipping the per-invocation probe job.
    // Higher-order array functions (transform/aggregate/filter/array_min/
    // max) as per-row vector arithmetic — the codegen'd HOF idiom that
    // keeps embedding math OUT of UDFs. All reductions fold the array in
    // order; 4dp rounding absorbs the oracle's reduction-order noise
    // exactly as the cosine oracles do.
    QueryDef("f04_array_functions", (s, d) =>
      Tables.load(s, d, "embeddings").select(col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + x.cast("double") * x.cast("double"))), 4)
            .as("l2_norm"),
          round(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + x.cast("double")) /
            size(col("embedding")).cast("double"), 4).as("mean_val"),
          round(array_max(col("embedding")).cast("double"), 4).as("max_val"),
          round(array_min(col("embedding")).cast("double"), 4).as("min_val"),
          size(filter(col("embedding"), x => x > lit(0f))).cast("long")
            .as("n_pos"))
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      stats AS (SELECT vec_id, COUNT(*) AS n_dims,
          ROUND(SQRT(SUM(v*v)), 4) AS l2_norm,
          ROUND(SUM(v)/COUNT(*), 4) AS mean_val,
          ROUND(MAX(v), 4) AS max_val, ROUND(MIN(v), 4) AS min_val,
          SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS n_pos
        FROM ed GROUP BY vec_id)
      SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, l2_norm, mean_val,
        max_val, min_val, CAST(n_pos AS BIGINT) AS n_pos
      FROM stats ORDER BY vec_id""")),

    // Binary quantization + Hamming search: sign bits packed into ONE
    // BIGINT per vector (8 bytes whatever the dimension), candidates by
    // XOR+popcount — the cheapest vector code a 100 TB embedding corpus
    // can carry. Pure integer arithmetic end to end, so the oracle replay
    // is bit-exact by construction.
    QueryDef("qz03_binary_quantize", (s, d) =>
      Quantize.binaryTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 10)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      $BQH,
      ranked AS (SELECT qid, nid, hamming,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY hamming, nid) AS rank FROM h)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank,
        CAST(hamming AS BIGINT) AS hamming
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""")),

    // The BQ production shape: Hamming candidates (top-50 over the 8-byte
    // codes), exact cosine re-rank to top-10 — the corpus pass never
    // touches floats; candidates×queries rows do.
    QueryDef("a11_bq_rerank", (s, d) =>
      Similarity.binaryRerankTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, 10, candidates = 50)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      $BQH,
      hranked AS (SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY hamming, nid) AS hrank FROM h),
      cand AS (SELECT qid, nid FROM hranked WHERE hrank <= 50),
      dots AS (SELECT c.qid, c.nid, SUM(eq.v*en.v) AS dot
               FROM cand c
               JOIN ed eq ON eq.vec_id = c.qid
               JOIN ed en ON en.vec_id = c.nid AND en.i = eq.i
               GROUP BY c.qid, c.nid),
      sims AS (SELECT qid, nid, dot/(nq.nrm*nn.nrm) AS sim
               FROM dots
               JOIN nrm nq ON nq.vec_id = qid
               JOIN nrm nn ON nn.vec_id = nid),
      ranked AS (SELECT qid, nid, sim,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY sim DESC, nid) AS rank FROM sims)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(sim, 4) AS cos_sim
      FROM ranked WHERE rank <= 10 ORDER BY qid, rank""")),

    // a14: k-NN majority-vote classification over the exact neighbor
    // lists — vote counts, tie-to-smallest-label argmax, and the
    // per-query accuracy flag all replayed (BF_TOPK as the first stage).
    QueryDef("a14_knn_classify", (s, d) =>
      Similarity.knnClassify(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, k = 10)
        .orderBy(col("qid")),
      Some(s"""
      WITH lv AS (SELECT vec_id, label FROM embeddings),
      votes AS (SELECT n.qid, l.label, COUNT(*) AS votes
                FROM ($BF_TOPK) n JOIN lv l ON l.vec_id = n.nid
                GROUP BY n.qid, l.label),
      win AS (SELECT qid, label, votes,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY votes DESC, label) AS rn
              FROM votes)
      SELECT w.qid, CAST(w.label AS BIGINT) AS predicted_label, w.votes,
        CAST(q.label AS BIGINT) AS true_label,
        w.label = q.label AS correct
      FROM win w JOIN lv q ON q.vec_id = w.qid
      WHERE w.rn = 1 ORDER BY w.qid""")),

    // a13: MMR diversified top-k (Carbonell & Goldstein) — the greedy
    // λ·relevance − (1−λ)·max-similarity-to-selected loop, unrolled in
    // the oracle as one penalty/score/argmax stage per pick over the
    // 4dp-rounded candidate and pairwise similarity relations. Everything
    // after the exact first stage is pool-bounded — the replay proves
    // selection-order exactness, like a12's PageRank iterations.
    QueryDef("a13_mmr", (s, d) =>
      Similarity.mmrTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, k = 5, pool = 20)
        .orderBy(col("qid"), col("rank")),
      Some(mmrSql(k = 5, pool = 20))),

    QueryDef("qz02_product_quantize", (s, d) =>
      Quantize.productQuantize(Tables.load(s, d, "embeddings"),
          m = 4, k = 16, iters = 2, dim = 64)
        .orderBy(col("vec_id"), col("block")),
      Some(s"""
      WITH $ED,
      $PQC
      SELECT vec_id, CAST(b AS BIGINT) AS block, code, ROUND(d2, 4) AS dist2
      FROM a2 ORDER BY vec_id, block""")),

    // PQ-ADC search with exact re-ranking (a05): queries first score the
    // corpus through its PQ codes alone — per-query m×k distance tables
    // (6dp-rounded, summed as exact DECIMAL so same-code vectors tie
    // exactly and break by nid in both engines, making the refine cutoff
    // replay bit-identically) — then the top-50 ADC survivors per query
    // are re-ranked by exact squared L2. Replayed end to end on top of
    // qz02's codebook CTE.
    QueryDef("a05_ann_pq", (s, d) =>
      Similarity.pqTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, k = 10, dim = 64)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      $PQC,
      dt AS (SELECT e.vec_id AS qid, c.b, c.code,
               CAST(ROUND(SUM((e.v - c.cv)*(e.v - c.cv)), 6)
                 AS DECIMAL(20,6)) AS dtv
             FROM edb e JOIN c1 c ON c.b = e.b AND c.j = e.j
             WHERE e.vec_id < 5
             GROUP BY e.vec_id, c.b, c.code),
      adc AS (SELECT d.qid, a.vec_id AS nid, SUM(d.dtv) AS adc
              FROM a2 a JOIN dt d ON d.b = a.b AND d.code = a.code
              WHERE a.vec_id <> d.qid
              GROUP BY d.qid, a.vec_id),
      rk AS (SELECT qid, nid FROM (
               SELECT qid, nid,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY adc, nid) AS rn
               FROM adc) t WHERE rn <= 50),
      ex AS (SELECT r.qid, r.nid, SUM((eq.v - en.v)*(eq.v - en.v)) AS d2
             FROM rk r
             JOIN ed eq ON eq.vec_id = r.qid
             JOIN ed en ON en.vec_id = r.nid AND en.i = eq.i
             GROUP BY r.qid, r.nid),
      rk2 AS (SELECT qid, nid, d2,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY d2, nid) AS rank
              FROM ex)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(d2, 4) AS dist2
      FROM rk2 WHERE rank <= 10 ORDER BY qid, rank""")),

    // IVF-PQ (IVFADC): a LEARNED coarse quantizer (deterministic L2
    // k-means = a 1-block codebook fit) prunes the corpus AND PQ codes
    // of the RESIDUALS (x - cell centroid) stand in for vectors inside
    // probed cells — a02's pruning composed with a05's code-only scan.
    // The oracle replays everything: the coarse fit
    // (seed/assign/update/assign), residual construction, the
    // residual-PQ fit, L2 cell probing, per-(query, cell) residual
    // distance tables summed as exact DECIMAL, and the exact re-rank of
    // the top-50 survivors.
    QueryDef("a06_ann_ivfpq", (s, d) =>
      Similarity.ivfPqTopK(Tables.load(s, d, "embeddings"),
          col("vec_id") < 5, k = 10, nProbe = 2, cells = 10, dim = 64)
        .orderBy(col("qid"), col("rank")),
      Some(s"""
      WITH $ED,
      kc0 AS (SELECT vec_id AS cl, i, v AS cv FROM ed WHERE vec_id < 10),
      ks1 AS (SELECT e.vec_id, c.cl, SUM((e.v-c.cv)*(e.v-c.cv)) AS d2
              FROM ed e JOIN kc0 c ON c.i = e.i GROUP BY e.vec_id, c.cl),
      ka1 AS (SELECT vec_id, cl FROM (
                SELECT vec_id, cl,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY d2, cl) AS rn
                FROM ks1) t WHERE rn = 1),
      kc1 AS (SELECT ka1.cl, e.i, ROUND(AVG(e.v), 6) AS cv
              FROM ka1 JOIN ed e ON e.vec_id = ka1.vec_id
              GROUP BY ka1.cl, e.i),
      ks2 AS (SELECT e.vec_id, c.cl, SUM((e.v-c.cv)*(e.v-c.cv)) AS d2
              FROM ed e JOIN kc1 c ON c.i = e.i GROUP BY e.vec_id, c.cl),
      ka2 AS (SELECT vec_id, cl FROM (
                SELECT vec_id, cl,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY d2, cl) AS rn
                FROM ks2) t WHERE rn = 1),
      rs AS (SELECT e.vec_id, a.cl AS label, e.i, e.v - c.cv AS rv
             FROM ed e
             JOIN ka2 a ON a.vec_id = e.vec_id
             JOIN kc1 c ON c.cl = a.cl AND c.i = e.i),
      rb AS (SELECT vec_id, label, (i-1)//16 AS b, (i-1)%16 AS j, rv AS v FROM rs),
      pc0 AS (SELECT vec_id AS code, b, j, v AS cv FROM rb WHERE vec_id < 16),
      ps1 AS (SELECT e.vec_id, e.b, c.code, SUM((e.v-c.cv)*(e.v-c.cv)) AS d2
              FROM rb e JOIN pc0 c ON c.b = e.b AND c.j = e.j
              GROUP BY e.vec_id, e.b, c.code),
      pa1 AS (SELECT vec_id, b, code FROM (
                SELECT vec_id, b, code,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, b
                    ORDER BY d2, code) AS rn
                FROM ps1) t WHERE rn = 1),
      pc1 AS (SELECT pa1.code, e.b, e.j, ROUND(AVG(e.v), 6) AS cv
              FROM pa1 JOIN rb e ON e.vec_id = pa1.vec_id AND e.b = pa1.b
              GROUP BY pa1.code, e.b, e.j),
      ps2 AS (SELECT e.vec_id, e.b, c.code, SUM((e.v-c.cv)*(e.v-c.cv)) AS d2
              FROM rb e JOIN pc1 c ON c.b = e.b AND c.j = e.j
              GROUP BY e.vec_id, e.b, c.code),
      pa2 AS (SELECT vec_id, b, code FROM (
                SELECT vec_id, b, code,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, b
                    ORDER BY d2, code) AS rn
                FROM ps2) t WHERE rn = 1),
      el AS (SELECT vec_id, cl AS label FROM ka2),
      qd AS (SELECT vec_id AS qid, i, v FROM ed WHERE vec_id < 5),
      qc AS (SELECT q.qid, c.cl AS label, SUM((q.v - c.cv)*(q.v - c.cv)) AS d2
             FROM qd q JOIN kc1 c ON c.i = q.i GROUP BY q.qid, c.cl),
      probed AS (SELECT qid, label FROM (
                   SELECT qid, label,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY d2, label) AS rn
                   FROM qc) t WHERE rn <= 2),
      qr AS (SELECT p.qid, p.label, (q.i-1)//16 AS b, (q.i-1)%16 AS j,
                    q.v - c.cv AS rv
             FROM probed p
             JOIN qd q ON q.qid = p.qid
             JOIN kc1 c ON c.cl = p.label AND c.i = q.i),
      dt AS (SELECT qr.qid, qr.label, qr.b, c.code,
               CAST(ROUND(SUM((qr.rv - c.cv)*(qr.rv - c.cv)), 6)
                 AS DECIMAL(20,6)) AS dtv
             FROM qr JOIN pc1 c ON c.b = qr.b AND c.j = qr.j
             GROUP BY qr.qid, qr.label, qr.b, c.code),
      adc AS (SELECT d.qid, a.vec_id AS nid, SUM(d.dtv) AS adc
              FROM pa2 a
              JOIN el l ON l.vec_id = a.vec_id
              JOIN dt d ON d.label = l.label AND d.b = a.b AND d.code = a.code
              WHERE a.vec_id <> d.qid
              GROUP BY d.qid, a.vec_id),
      srk AS (SELECT qid, nid FROM (
               SELECT qid, nid,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY adc, nid) AS rn
               FROM adc) t WHERE rn <= 50),
      ex AS (SELECT r.qid, r.nid, SUM((eq.v - en.v)*(eq.v - en.v)) AS d2
             FROM srk r
             JOIN ed eq ON eq.vec_id = r.qid
             JOIN ed en ON en.vec_id = r.nid AND en.i = eq.i
             GROUP BY r.qid, r.nid),
      rk2 AS (SELECT qid, nid, d2,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY d2, nid) AS rank
              FROM ex)
      SELECT qid, nid, CAST(rank AS BIGINT) AS rank, ROUND(d2, 4) AS dist2
      FROM rk2 WHERE rank <= 10 ORDER BY qid, rank""")),

    // ---------------- multimodal plumbing ----------------
    // REAL image decode (javax.imageio): the blobs are genuine PNG/BMP
    // containers with a deterministic pixel pattern (horizontal R
    // gradient base+x, constant G/B; dims derived from doc_id), and the
    // decoder reads them back through the actual codec — so the decoded
    // width/height/channels and per-channel pixel MEANS match the oracle
    // only if ImageIO really decompressed the pixels. mean_r of the
    // gradient = base + (w-1)/2 (exact .0/.5 halves, decimal-safe).
    QueryDef("m01_multimodal_features", (s, d) =>
      Multimodal.decodeImageFeatures(s,
          Multimodal.documentsAsImages(s, Tables.load(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"), col("n_frames"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id")),
      Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        CAST(8 + doc_id % 24 AS BIGINT) AS width,
        CAST(8 + (doc_id * 3) % 24 AS BIGINT) AS height,
        CAST(3 AS BIGINT) AS channels,
        CAST(1 AS BIGINT) AS n_frames,
        CAST(doc_id % 200 + (7 + doc_id % 24) / 2.0 AS DOUBLE) AS mean_r,
        CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
        CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
      FROM documents ORDER BY doc_id"""), headline = true),

    // Frame sampling over REAL multi-frame containers: each doc becomes
    // an animated GIF with 1 + doc_id%8 true frames; n_frames comes from
    // the GIF reader's frame count (getNumImages), then every 3rd frame
    // index is sampled — the explode-shaped plumbing of a video pipeline.
    QueryDef("m02_frame_sample", (s, d) =>
      Multimodal.frameSample(
          Multimodal.decodeImageFeatures(s,
            Multimodal.documentsAsGifs(s, Tables.load(s, d, "documents"))).toDF(),
          stride = 3)
        .orderBy(col("doc_id"), col("frame_idx")),
      Some("""
      SELECT doc_id, CAST(1 + doc_id % 8 AS BIGINT) AS n_frames,
        unnest(range(0, CAST(1 + doc_id % 8 AS BIGINT), 3)) AS frame_idx
      FROM documents ORDER BY doc_id, frame_idx""")),

    // REAL container-header parsing (not the stubbed decode): payloads
    // are built as genuine PNG/JPEG/WAV container bytes (format and
    // dimensions derived deterministically from doc_id), and the parser
    // reads them back by byte inspection alone — PNG IHDR big-endian
    // ints, a JPEG marker-segment walk past APP0 to the SOF, the RIFF
    // fmt chunk little-endian fields. The oracle recomputes the expected
    // metadata from doc_id, so the check passes only if the parse
    // correctly inverts the container encoding.
    QueryDef("m03_media_headers", (s, d) => {
      import s.implicits._
      val ids = Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val blob = (id % 3) match {
          case 0 => Multimodal.makePng(16 + id % 625, 16 + (id * 3) % 625)
          case 1 => Multimodal.makeJpeg(32 + id % 481, 32 + (id * 7) % 481)
          case _ => Multimodal.makeWav(8000 + (id % 5) * 8000, 1 + id % 2)
        }
        (id, blob)
      }).toDF("doc_id", "blob")
      Multimodal.headerScan(s, media).toDF().orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             ELSE 'wav' END AS format,
        CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 625
             WHEN 1 THEN 32 + doc_id % 481 ELSE 0 END AS BIGINT) AS width,
        CAST(CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 3) % 625
             WHEN 1 THEN 32 + (doc_id * 7) % 481 ELSE 0 END AS BIGINT) AS height,
        CAST(CASE doc_id % 3 WHEN 2 THEN 8000 + (doc_id % 5) * 8000
             ELSE 0 END AS BIGINT) AS sample_rate,
        CAST(CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 2
             ELSE 0 END AS BIGINT) AS channels
      FROM documents ORDER BY doc_id""")),

    // REAL MP4/ISO-BMFF box walk — the video leg of m03's container
    // family: each doc becomes a genuine 248-byte ISO-BMFF file (ftyp +
    // a free box the walker must skip + moov > mvhd/trak > tkhd, every
    // offset per 14496-12, all parameters derived from doc_id) and the
    // parser recovers brand/timescale/duration/dimensions by byte
    // inspection, recursing into container boxes and converting 16.16
    // fixed-point dims. The oracle predicts every field analytically —
    // including the floor-division milliseconds — so the check passes
    // only if the walk really inverts the box encoding.
    QueryDef("m07_mp4_headers", (s, d) => {
      import s.implicits._
      val ids = Tables.load(s, d, "documents")
        .select(col("doc_id").cast("long")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val brand = (id % 3) match {
          case 0 => "isom"; case 1 => "mp42"; case _ => "avc1"
        }
        (id, Multimodal.makeMp4(brand,
          timescale = 600 * (1 + id % 4),
          duration = 600 + (id * 37) % 100000,
          width = 160 + (id % 120) * 16,
          height = 90 + (id % 68) * 16))
      }).toDF("doc_id", "blob")
      Multimodal.mp4Scan(s, media).toDF().orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
             ELSE 'avc1' END AS brand,
        CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
        CAST((600 + (doc_id * 37) % 100000) * 1000
             // (600 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms,
        CAST(160 + (doc_id % 120) * 16 AS BIGINT) AS width,
        CAST(90 + (doc_id % 68) * 16 AS BIGINT) AS height,
        CAST(6 AS BIGINT) AS n_boxes
      FROM documents ORDER BY doc_id""")),

    // m08: REAL nearest-neighbor RESIZE over decoded pixels (the
    // normalize-to-model-input step): genuine PNG/BMP containers decode
    // through ImageIO, resample to 16×12 with integer floor arithmetic,
    // and the oracle predicts EVERY output pixel analytically from the
    // gradient generator (R = base + ⌊i·w/16⌋, G/B constant) — the digest
    // matches only if decode AND resample are both faithful.
    QueryDef("m08_image_resize", (s, d) =>
      Multimodal.imageResize(s,
          Multimodal.documentsAsImages(s, Tables.load(s, d, "documents")),
          outW = 16, outH = 12)
        .toDF()
        .select(col("doc_id"), col("src_w"), col("src_h"), col("out_w"),
          col("out_h"), md5(col("pixels")).as("pixel_digest"))
        .orderBy(col("doc_id")),
      Some("""
      WITH g AS (SELECT doc_id,
          8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h,
          doc_id % 200 AS base, (doc_id * 7) % 256 AS gg,
          (doc_id * 13) % 256 AS bb
        FROM documents),
      px AS (SELECT g.doc_id, jj.j, ii.i,
               g.base + (ii.i * g.w) // 16 AS r, g.gg, g.bb
             FROM g,
               (SELECT unnest(range(0, 16)) AS i) ii,
               (SELECT unnest(range(0, 12)) AS j) jj),
      ds AS (SELECT doc_id,
               md5(string_agg(r || ':' || gg || ':' || bb, ';'
                 ORDER BY j, i)) AS pixel_digest
             FROM px GROUP BY doc_id)
      SELECT g.doc_id, CAST(g.w AS BIGINT) AS src_w,
        CAST(g.h AS BIGINT) AS src_h, CAST(16 AS BIGINT) AS out_w,
        CAST(12 AS BIGINT) AS out_h, ds.pixel_digest
      FROM g JOIN ds ON ds.doc_id = g.doc_id
      ORDER BY g.doc_id""")),

    // REAL WAV PCM sample decode end to end: each doc becomes a complete
    // PCM WAV container (correct RIFF/fmt/data chunk sizes, 16-bit LE
    // samples alternating +a / -(a+2), all parameters derived from
    // doc_id), and decodeWav walks the chunks and reads the raw samples
    // back. The oracle recomputes rate/channels/sample count analytically
    // and mean_abs in closed form (a+1 for the alternation over an even
    // count) — values that only match if the sample bytes were really
    // extracted, not inferred from the header.
    QueryDef("m04_wav_stats", (s, d) =>
      Multimodal.decodeWavStats(s,
          Multimodal.documentsAsWavs(s, Tables.load(s, d, "documents")))
        .toDF().orderBy(col("doc_id")),
      Some("""
      SELECT doc_id,
        CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
        CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        CAST(16 + 2 * (doc_id % 16) AS BIGINT) AS n_samples,
        CAST(101 + doc_id % 200 AS DOUBLE) AS mean_abs
      FROM documents ORDER BY doc_id""")),

    // REAL audio feature extraction, not a stub: each doc becomes a pure
    // sine WAV at bin 1 + doc_id % 31 of a 64-sample frame, and the
    // operator must recover that bin by actually DFT-ing the decoded PCM.
    // The oracle predicts the bin arithmetically — 500 distinct tones,
    // each inverted exactly, or the hash breaks.
    // m06: image PERCEPTUAL HASH (aHash) over REAL decoded pixels — the
    // image near-dup key. The Spark side decodes every blob with ImageIO
    // and hashes the actual pixel grid; the oracle PREDICTS each block's
    // integer brightness sum analytically from the generator's gradient
    // (r = base+x, g/b constant) and replays the same pure-integer
    // compare (blockSum·w·h ≥ totalSum·blockPixels — no float anywhere),
    // so the two sides agree bit-for-bit only if the real decode is
    // faithful. Block x-range for bx is [⌈bx·w/8⌉, ⌈(bx+1)·w/8⌉) (the
    // preimage of ⌊x·8/w⌋ = bx), hence the (…+7)//8 ceilings.
    QueryDef("m06_image_phash", (s, d) =>
      Multimodal.imagePhash(s,
          Multimodal.documentsAsImages(s, Tables.load(s, d, "documents")))
        .orderBy(col("doc_id")),
      Some("""
      WITH img AS (SELECT doc_id,
          8 + doc_id % 24 AS w, 8 + (doc_id*3) % 24 AS h,
          (doc_id % 200) + ((doc_id*7) % 256) + ((doc_id*13) % 256) AS c
        FROM documents),
      blocks AS (SELECT doc_id, b, b % 8 AS bx, b // 8 AS by, w, h, c
                 FROM img, (SELECT unnest(range(0, 64)) AS b)),
      calc AS (SELECT doc_id, b, w, h, c,
          (bx*w + 7)//8 AS xlo, ((bx+1)*w + 7)//8 AS xhi,
          ((by+1)*h + 7)//8 - (by*h + 7)//8 AS ycnt
        FROM blocks),
      bitc AS (SELECT doc_id, b,
          CASE WHEN ycnt*((xhi-xlo)*c + ((xlo+xhi-1)*(xhi-xlo))//2) * (w*h)
                 >= (h*(w*c + (w*(w-1))//2)) * (ycnt*(xhi-xlo))
               THEN '1' ELSE '0' END AS bit
        FROM calc)
      SELECT doc_id, string_agg(bit, '' ORDER BY b) AS phash
      FROM bitc GROUP BY doc_id ORDER BY doc_id""")),

    QueryDef("m05_spectral_peak", (s, d) =>
      Multimodal.spectralPeak(s,
          Multimodal.documentsAsTones(s, Tables.load(s, d, "documents")))
        .toDF().orderBy(col("doc_id")),
      Some("""
      SELECT doc_id, CAST(64 AS BIGINT) AS n_samples,
        CAST(1 + doc_id % 31 AS BIGINT) AS dominant_bin
      FROM documents ORDER BY doc_id""")),

    // ---------------- end-to-end curation ----------------
    // quality filter -> exact dedup -> transitive near-dup cluster
    // representatives, composed; the oracle replays the whole chain (t02 +
    // d01 + d03 fragments + the d07 recursive closure over the
    // progressively filtered doc set).
    // Gopher-style repetition pre-filter: duplicate-word fraction and the
    // dominance of the most common word / 2-gram / 3-gram. All fractions
    // are exact int/int double divisions, so no rounding is needed for
    // engine parity.
    QueryDef("t07_repetition", (s, d) =>
      TextOps.repetitionStats(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(raw"""
      WITH ws AS (SELECT doc_id,
          list_filter(string_split_regex(lower(trim(text)), '\s+'),
            x -> x <> '') AS w
        FROM documents),
      tok AS (SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS t
              FROM ws),
      wc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
      base AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, MAX(c) AS mx
               FROM wc GROUP BY doc_id),
      bg0 AS (SELECT doc_id, t || ' ' || LEAD(t) OVER win AS g
              FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      bg AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS n FROM (
               SELECT doc_id, g, COUNT(*) AS c FROM bg0
               WHERE g IS NOT NULL GROUP BY doc_id, g) GROUP BY doc_id),
      tg0 AS (SELECT doc_id,
                t || ' ' || LEAD(t) OVER win || ' ' || LEAD(t, 2) OVER win AS g
              FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      tg AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS n FROM (
               SELECT doc_id, g, COUNT(*) AS c FROM tg0
               WHERE g IS NOT NULL GROUP BY doc_id, g) GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(CAST(b.n AS BIGINT), 0) AS n_words,
        COALESCE(CAST(b.nd AS BIGINT), 0) AS n_distinct_words,
        COALESCE(CAST(b.n - b.nd AS DOUBLE) / b.n, 0.0) AS dup_word_frac,
        COALESCE(CAST(b.mx AS DOUBLE) / b.n, 0.0) AS top_word_frac,
        COALESCE(CAST(bg.mx AS DOUBLE) / bg.n, 0.0) AS top_bigram_frac,
        COALESCE(CAST(tg.mx AS DOUBLE) / tg.n, 0.0) AS top_trigram_frac
      FROM documents d
      LEFT JOIN base b ON b.doc_id = d.doc_id
      LEFT JOIN bg ON bg.doc_id = d.doc_id
      LEFT JOIN tg ON tg.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    // PII redaction. The corpus text carries no PII-shaped content, so the
    // query derives a deterministic PII-bearing text from doc_id in BOTH
    // engines (same concat), then scrubs it — the redaction regexes and
    // staging are what is actually under test. Patterns are interpolated
    // from the operator's constants so the two engines share byte-identical
    // regexes.
    QueryDef("t08_pii_scrub", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val pii = docs.withColumn("pii_text", concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com from 10."), col("doc_id") % 256, lit(".0."),
        (col("doc_id") * 7) % 256, lit(" account "),
        col("doc_id") + 900000000L))
      TextOps.piiScrub(pii, col("pii_text"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_ids"),
          col("scrubbed"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH pii AS (SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        CAST((doc_id * 7) % 256 AS VARCHAR) || ' account ' ||
        CAST(doc_id + 900000000 AS VARCHAR) AS p
      FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(p, '${TextOps.emailPattern}')) AS BIGINT)
          AS n_emails,
        CAST(len(regexp_extract_all(p, '${TextOps.ipv4Pattern}')) AS BIGINT)
          AS n_ips,
        CAST(len(regexp_extract_all(p, '${TextOps.longNumberPattern}')) AS BIGINT)
          AS n_ids,
        regexp_replace(regexp_replace(regexp_replace(p,
          '${TextOps.emailPattern}', '<EMAIL>', 'g'),
          '${TextOps.ipv4Pattern}', '<IP>', 'g'),
          '${TextOps.longNumberPattern}', '<ID>', 'g') AS scrubbed
      FROM pii ORDER BY doc_id""")),

    // C4/Gopher-style rule filter. Thresholds picked to BITE on this
    // corpus (docs run ~25-80 words, mean word length ~4): the length and
    // stopword rules each fail a real subset, so `keep` is a genuine mix.
    // All measurements are exact int/int divisions — no rounding.
    QueryDef("t09_heuristic_filter", (s, d) =>
      TextOps.heuristicFilter(Tables.load(s, d, "documents"),
          minWords = 40, maxWords = 5000, minWordLen = 3.5,
          maxWordLen = 10.0, minUniqueRatio = 0.2, minStopwords = 2)
        .orderBy(col("doc_id")),
      Some(s"""
      WITH ws AS (SELECT doc_id,
        list_filter(string_split_regex(lower(trim(text)), '\\s+'),
          x -> x <> '') AS w FROM documents),
      m AS (SELECT doc_id, len(w) AS nw,
        CASE WHEN len(w) > 0 THEN
          CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
          ELSE 0.0 END AS mwl,
        CASE WHEN len(w) > 0 THEN
          CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
          ELSE 0.0 END AS ur,
        len(list_filter(list_distinct(w),
          x -> x IN (${TextOps.stopwords.map(w => s"'$w'").mkString(", ")})))
          AS ns
      FROM ws)
      SELECT doc_id, CAST(nw AS BIGINT) AS n_words, mwl AS mean_word_len,
        ur AS unique_ratio, CAST(ns AS BIGINT) AS n_stopwords,
        (nw < 40 OR nw > 5000) AS flag_len,
        (mwl < 3.5 OR mwl > 10.0) AS flag_word_len,
        (ur < 0.2) AS flag_repetitive,
        (ns < 2) AS flag_no_stop,
        (NOT (nw < 40 OR nw > 5000) AND NOT (mwl < 3.5 OR mwl > 10.0)
          AND NOT (ur < 0.2) AND NOT (ns < 2)) AS keep
      FROM m ORDER BY doc_id""")),

    // TF-IDF top-3 terms per document (smooth idf, raw-count tf). Ranking
    // uses the UNROUNDED score with the term string as total tie-break —
    // equal (tf, df) pairs produce bit-identical doubles in both engines,
    // so the rank is deterministic; the reported score rounds to 4dp.
    QueryDef("t10_tfidf_terms", (s, d) =>
      TextOps.tfidfTopTerms(Tables.load(s, d, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rank")),
      Some("""
      WITH tok AS (SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          x -> x <> '')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
             GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        CAST(tf.tf AS DOUBLE) *
          (ln((1.0 + n.n_docs) / (1.0 + CAST(df.df AS DOUBLE))) + 1.0)
          AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
      rk AS (SELECT *, ROW_NUMBER() OVER
               (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
             FROM scored)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
        CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        ROUND(tfidf, 4) AS tfidf
      FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // t17: BM25 relevance against a fixed query-term bag — retrieval
    // scoring over the corpus (Okapi k1=1.2 b=0.75). Only postings for the
    // query terms shuffle; df/avgdl/N ride broadcast. Both engines build
    // the damped-constant terms with the SAME floating-point operations
    // ((1.2 + 1.0), 0.75*dl/avgdl) so the doubles are bit-identical, and
    // the per-term contribution sum goes through DECIMAL(38,18).
    QueryDef("t17_bm25", (s, d) =>
      TextOps.bm25(Tables.load(s, d, "documents"),
          Seq("spark", "vector", "window"))
        .orderBy(col("doc_id")),
      Some("""
      WITH tok AS (SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          x -> x <> '')) AS term FROM documents),
      dlen AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok
               GROUP BY doc_id),
      hits AS (SELECT doc_id, term FROM tok
               WHERE term IN ('spark', 'vector', 'window')),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM hits
             GROUP BY doc_id, term),
      df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
             FROM (SELECT DISTINCT doc_id, term FROM hits) GROUP BY term),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) /
                    CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dlen),
      contrib AS (SELECT tf.doc_id,
          ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) *
            tf.tf * (1.2 + 1.0) /
            (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / st.avgdl)) AS c
        FROM tf JOIN df USING (term)
        JOIN dlen d ON d.doc_id = tf.doc_id
        CROSS JOIN stats st)
      SELECT doc_id,
        ROUND(CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE), 6) AS bm25
      FROM contrib GROUP BY doc_id ORDER BY doc_id""")),

    // a18: HYBRID retrieval — BM25 (t17's scorer) and vector cosine
    // (a01's ranker, one broadcast query embedding) fused by reciprocal
    // rank fusion, the standard score-free combiner of incomparable
    // retrievers. Both lists are bounded top-k cuts before the fusion
    // join, so the fuse runs over ≤ 100 rows however large the corpus;
    // ranks are integers and the RRF sum is two fixed-order double
    // divisions — engine-exact, no rounding. The oracle replays BOTH
    // retrieval chains and the fusion.
    QueryDef("a18_hybrid_rrf", (s, d) =>
      Similarity.hybridRrf(Tables.load(s, d, "documents"),
          Tables.load(s, d, "embeddings"),
          Seq("spark", "vector", "window"), queryVecId = 3L)
        .orderBy(col("rank")),
      Some(s"""
      WITH dtok AS (SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
          x -> x <> '')) AS term FROM documents),
      dlen AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM dtok
               GROUP BY doc_id),
      hits AS (SELECT doc_id, term FROM dtok
               WHERE term IN ('spark', 'vector', 'window')),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM hits
             GROUP BY doc_id, term),
      tdf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
              FROM (SELECT DISTINCT doc_id, term FROM hits) GROUP BY term),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) /
                    CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dlen),
      contrib AS (SELECT tf.doc_id,
          ln(1.0 + (st.n_docs - tdf.df + 0.5) / (tdf.df + 0.5)) *
            tf.tf * (1.2 + 1.0) /
            (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dd.dl / st.avgdl)) AS c
        FROM tf JOIN tdf USING (term)
        JOIN dlen dd ON dd.doc_id = tf.doc_id
        CROSS JOIN stats st),
      bscore AS (SELECT doc_id,
          CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE) AS bm25
        FROM contrib GROUP BY doc_id),
      lexr AS (SELECT doc_id, r_lex FROM (
          SELECT doc_id, ROW_NUMBER() OVER
            (ORDER BY bm25 DESC, doc_id) AS r_lex FROM bscore)
        WHERE r_lex <= 50),
      $ED,
      q AS (SELECT i, v FROM ed WHERE vec_id = 3),
      dots AS (SELECT x.vec_id AS nid, SUM(q.v * x.v) AS dot
               FROM q JOIN ed x ON q.i = x.i AND x.vec_id <> 3
               GROUP BY x.vec_id),
      sims AS (SELECT nid, dot / (nq.nrm * nx.nrm) AS sim
               FROM dots
               JOIN nrm nq ON nq.vec_id = 3
               JOIN nrm nx ON nx.vec_id = nid),
      vecr AS (SELECT doc_id, r_vec FROM (
          SELECT nid AS doc_id, ROW_NUMBER() OVER
            (ORDER BY sim DESC, nid) AS r_vec FROM sims)
        WHERE r_vec <= 50),
      fused AS (SELECT doc_id,
          CAST(r_lex AS BIGINT) AS r_lex, CAST(r_vec AS BIGINT) AS r_vec,
          COALESCE(1.0 / (60.0 + r_lex), 0.0) +
            COALESCE(1.0 / (60.0 + r_vec), 0.0) AS rrf
        FROM lexr FULL JOIN vecr USING (doc_id))
      SELECT CAST(doc_id AS BIGINT) AS doc_id, r_lex, r_vec, rrf,
        CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
      FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // Token-window chunking (64-token windows, 16-token overlap → step
    // 48) over REAL BPE tokens — the budget unit a training pipeline
    // actually packs against (t05's tokenizer; whitespace counts
    // under-count). The oracle replays the BPE merge loop, rebuilds every
    // window and md5s the exact space-joined token window, so both engines
    // must cut byte-identical subword windows, not just matching counts.
    QueryDef("t11_chunking", (s, d) =>
      TextOps.chunk(Tables.load(s, d, "documents"), chunkTokens = 64,
          overlapTokens = 16, tokensOf = TextOps.bpeTokens(_))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""
      WITH RECURSIVE $BPE,
      n AS (SELECT doc_id, tk, len(tk) AS n FROM btoks),
      starts AS (SELECT doc_id, tk, n,
                   unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 48.0) AS BIGINT))) AS i
                 FROM n)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        CAST(LEAST(64, n - i*48) AS BIGINT) AS n_tokens,
        md5(array_to_string(list_slice(tk, i*48 + 1, LEAST(i*48 + 64, n)), ' '))
          AS chunk_md5
      FROM starts ORDER BY doc_id, chunk_id"""), headline = true),

    // source mixing toward target weights inside a 10% budget: src0 gets
    // 4x the share of src2/src3, src1 2x; rates are capped at 1.0 (no
    // up-sampling). All arithmetic forced to DOUBLE on the oracle side so
    // the rate thresholds are bit-identical to Spark's.
    QueryDef("smp03_source_mix", (s, d) =>
      Sampling.sourceMix(Tables.load(s, d, "documents"), col("source"),
          col("doc_id"),
          Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
          budget = 0.1)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id")),
      Some("""
      WITH tgt(src, w) AS (VALUES
        ('src0', 4.0), ('src1', 2.0), ('src2', 1.0), ('src3', 1.0)),
      cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      tot AS (SELECT COUNT(*) AS total FROM documents),
      rates AS (SELECT t.src,
          LEAST(CAST(1.0 AS DOUBLE),
            CAST(0.1 AS DOUBLE) * tot.total * CAST(t.w AS DOUBLE) /
              (CAST(8.0 AS DOUBLE) * c.n)) AS rate
        FROM cnt c JOIN tgt t ON c.source = t.src CROSS JOIN tot)
      SELECT d.doc_id, d.source FROM documents d
      JOIN rates r ON d.source = r.src
      WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
            < r.rate * 65536
      ORDER BY d.doc_id""")),

    // temperature-scaled source mixing (multilingual τ-sampling): τ=0.5
    // flattens the source distribution toward uniform inside a 30% budget
    // — under-represented sources keep a larger relative share. The
    // oracle replays the exact rate arithmetic (shares, POWER, the
    // normalizer, the budget cap) and the hash selection.
    QueryDef("smp05_temperature_mix", (s, d) =>
      Sampling.temperatureMix(Tables.load(s, d, "documents"), col("source"),
          col("doc_id"), tau = 0.5, budget = 0.3)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id")),
      Some("""
      WITH cnt AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
                   FROM documents GROUP BY source),
      tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents),
      pw AS (SELECT source, n, total, POWER(n / total, 0.5) AS pt
             FROM cnt CROSS JOIN tot),
      z AS (SELECT SUM(pt) AS z FROM pw),
      rates AS (SELECT pw.source,
          LEAST(CAST(1.0 AS DOUBLE),
            CAST(0.3 AS DOUBLE) * pw.total * (pw.pt / z.z) / pw.n) AS rate
        FROM pw CROSS JOIN z)
      SELECT d.doc_id, d.source FROM documents d
      JOIN rates r ON d.source = r.source
      WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
            < r.rate * 65536
      ORDER BY d.doc_id""")),

    // deterministic train/val/test split: pure per-row hash arithmetic,
    // no shuffle; the bucket intervals partition [0, 65536) so splits are
    // provably disjoint and exhaustive, and membership is stable across
    // reruns/repartitioning (the property that keeps eval sets honest)
    QueryDef("smp06_split", (s, d) =>
      Sampling.split(Tables.load(s, d, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id")),
      Some("""
      SELECT doc_id, source,
        CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < 0.8 * 65536 THEN 'train'
             WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < CAST((0.8 + 0.1) * 65536 AS DOUBLE) THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""")),

    // importance-weighted sampling: keep probability proportional to doc
    // length (capped at 1) — the loss-/value-weighted selection shape,
    // same rerun-stable hash filter as smp01
    QueryDef("smp07_weighted_sample", (s, d) =>
      Sampling.weightedBernoulli(Tables.load(s, d, "documents"),
          col("doc_id"), col("n_chars"), scale = 1000.0)
        .select(col("doc_id"), col("n_chars"), col("source"))
        .orderBy(col("doc_id")),
      Some("""
      SELECT doc_id, n_chars, source FROM documents
      WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            < LEAST(1.0, CAST(n_chars AS DOUBLE) / 1000.0) * 65536
      ORDER BY doc_id""")),

    // data-constrained epoch mixing (Muennighoff et al. 2023): sources
    // whose budget share exceeds their size REPEAT up to 4 epochs; the
    // weights put src0 at the epoch cap (r=4), src1/src2 at fractional
    // repeats (r≈2.5/1.25), src3/src4 down-sampled (r≈0.625) — every
    // branch of the rule exercised. The oracle replays the whole rate
    // arithmetic and emits epochs via unnest(range(n_copies)).
    QueryDef("smp08_epoch_mix", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val total = docs.agg(sum(col("n_chars"))).first().getLong(0)
      Sampling.epochMix(docs, col("source"), col("doc_id"), col("n_chars"),
          targets = Map("src0" -> 8.0, "src1" -> 4.0, "src2" -> 2.0,
            "src3" -> 1.0, "src4" -> 1.0),
          budget = 0.5 * total, maxEpochs = 4)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }, Some("""
      WITH szs AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS sz
                   FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS t FROM documents),
      w AS (SELECT * FROM (VALUES ('src0', 8.0), ('src1', 4.0),
              ('src2', 2.0), ('src3', 1.0), ('src4', 1.0)) AS v(src, wt)),
      r AS (SELECT s.source,
              LEAST(4.0, (0.5 * tot.t) * w.wt / (16.0 * s.sz)) AS r
            FROM szs s JOIN w ON w.src = s.source CROSS JOIN tot),
      n AS (SELECT d.doc_id, d.source,
              CAST(FLOOR(r.r) AS BIGINT) +
              CASE WHEN ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                   < (r.r - FLOOR(r.r)) * 65536 THEN 1 ELSE 0 END AS ncopies
            FROM documents d JOIN r ON r.source = d.source)
      SELECT doc_id, source, unnest(range(ncopies)) AS epoch
      FROM n WHERE ncopies > 0 ORDER BY doc_id, epoch""")),

    // per-source cap: at most 10 docs per source, kept by hash order so
    // the capped subset is an unbiased deterministic sample of each source
    QueryDef("smp04_source_cap", (s, d) =>
      Sampling.capPerGroup(Tables.load(s, d, "documents"), col("source"),
          col("doc_id"), 10)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id")),
      Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT,
            doc_id) AS rn
        FROM documents) t WHERE rn <= 10 ORDER BY doc_id""")),

    // distributed Lloyd's k-means, 2 assignment passes: the oracle replays
    // seed centroids (k lowest vec_ids), the argmax-cosine assignment, the
    // 6dp-rounded centroid update and the final assignment — the whole
    // fixpoint is hash-checked, like a02's IVF replay
    QueryDef("a04_kmeans", (s, d) =>
      Similarity.kmeansAssign(Tables.load(s, d, "embeddings"), k = 8, iters = 2)
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      $KM2
      SELECT vec_id, cluster, ROUND(sim, 4) AS cos_sim FROM a2
      ORDER BY vec_id""")),

    // SemDeDup: k-means bounds the pair space, then within-cluster pairs
    // above the cosine threshold drop the higher vec_id (greedy
    // keep-earliest). The oracle replays clustering + pruning end to end.
    QueryDef("d08_semantic_dedup", (s, d) =>
      Similarity.semanticDedup(Tables.load(s, d, "embeddings"), k = 8,
          tau = 0.35, maxClusterSize = 100000)
        .orderBy(col("vec_id")),
      Some(s"""
      WITH $ED,
      $KM2,
      pr AS (SELECT x.vec_id AS a, y.vec_id AS b, SUM(ea.v*eb.v) AS dot
             FROM a2 x JOIN a2 y
               ON x.cluster = y.cluster AND x.vec_id < y.vec_id
             JOIN ed ea ON ea.vec_id = x.vec_id
             JOIN ed eb ON eb.vec_id = y.vec_id AND eb.i = ea.i
             GROUP BY x.vec_id, y.vec_id),
      dropped AS (SELECT DISTINCT p.b FROM pr p
                  JOIN nrm na ON na.vec_id = p.a
                  JOIN nrm nb ON nb.vec_id = p.b
                  WHERE p.dot/(na.nrm*nb.nrm) > 0.35)
      SELECT vec_id, cluster, ROUND(sim, 4) AS cos_sim FROM a2
      WHERE vec_id NOT IN (SELECT b FROM dropped)
      ORDER BY vec_id""")),

    // Source-priority canonical selection: within an exact-duplicate
    // group keep the copy from the most-trusted source (src0 > src1 >
    // src2 > src3), ties on doc_id — the multi-crawl curation rule that
    // plain exact dedup (keep-lowest-id) gets wrong when a better
    // provenance copy has a higher id.
    QueryDef("c02_canonical_source", (s, d) =>
      Curation.canonicalBySource(Tables.load(s, d, "documents"),
          Map("src0" -> 0, "src1" -> 1, "src2" -> 2, "src3" -> 3))
        .orderBy(col("doc_id")),
      Some("""
      WITH ranked AS (SELECT doc_id, source, md5(text) AS h,
          CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1
                      WHEN 'src2' THEN 2 WHEN 'src3' THEN 3
                      ELSE 999 END AS src_rank
        FROM documents),
      win AS (SELECT doc_id, source,
          FIRST_VALUE(doc_id) OVER
            (PARTITION BY h ORDER BY src_rank, doc_id) AS canonical_id,
          COUNT(*) OVER (PARTITION BY h) AS group_size
        FROM ranked)
      SELECT doc_id, source, canonical_id,
        CAST(group_size AS BIGINT) AS group_size,
        doc_id = canonical_id AS keep
      FROM win ORDER BY doc_id""")),

    QueryDef("c01_curation", (s, d) =>
      Curation.curate(Tables.load(s, d, "documents")).orderBy(col("doc_id")),
      Some(raw"""
      WITH RECURSIVE q0 AS (SELECT doc_id, text,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
      qual AS (SELECT doc_id, text,
          LEAST(CAST(len(toks) AS DOUBLE)/100.0, 1.0) *
            (1.0 - CAST(len(list_filter(toks, x -> x IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) AS quality
        FROM q0),
      kept0 AS (SELECT doc_id, text FROM qual WHERE quality >= 0.3),
      exact AS (SELECT doc_id, text,
          MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canonical_id FROM kept0),
      kept1 AS (SELECT doc_id, text FROM exact WHERE doc_id = canonical_id),
      tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos FROM kept1),
      sh0 AS (SELECT doc_id,
        w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS shingle,
        LEAD(w,2) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      shd AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE complete),
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h, MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
      est AS (SELECT c.a, c.b,
                CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE)/16.0 AS ej
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
              GROUP BY c.a, c.b),
      edges AS (SELECT a, b FROM est WHERE ej >= 0.75),
      sym(src, dst) AS (SELECT a, b FROM edges UNION ALL
                        SELECT b, a FROM edges),
      reach(id, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.r FROM sym s JOIN reach r ON r.id = s.dst),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
      SELECT k.doc_id, 'kept' AS status FROM kept1 k
      LEFT JOIN comp c ON c.id = k.doc_id
      WHERE c.id IS NULL OR c.cluster_id = k.doc_id
      ORDER BY k.doc_id"""), headline = true),

    // Quality-aware canonical selection: c01's chain, but the near-dup
    // cluster representative is the highest-QUALITY member (ties to min
    // doc_id) — what production pipelines actually keep from a dup group.
    // The oracle replays the whole chain and swaps the rep rule to a
    // quality-ordered window.
    QueryDef("c04_curation_keep_best", (s, d) =>
      Curation.curateKeepBest(Tables.load(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(raw"""
      WITH RECURSIVE q0 AS (SELECT doc_id, text,
          string_split_regex(trim(text), '\s+') AS toks FROM documents),
      qual AS (SELECT doc_id, text,
          LEAST(CAST(len(toks) AS DOUBLE)/100.0, 1.0) *
            (1.0 - CAST(len(list_filter(toks, x -> x IN (${TextOps.stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) AS quality
        FROM q0),
      kept0 AS (SELECT doc_id, text FROM qual WHERE quality >= 0.3),
      exact AS (SELECT doc_id, text,
          MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canonical_id FROM kept0),
      kept1 AS (SELECT doc_id, text FROM exact WHERE doc_id = canonical_id),
      tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
        generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos FROM kept1),
      sh0 AS (SELECT doc_id,
        w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS shingle,
        LEAD(w,2) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      shd AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE complete),
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h, MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
      est AS (SELECT c.a, c.b,
                CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE)/16.0 AS ej
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
              GROUP BY c.a, c.b),
      edges AS (SELECT a, b FROM est WHERE ej >= 0.75),
      sym(src, dst) AS (SELECT a, b FROM edges UNION ALL
                        SELECT b, a FROM edges),
      reach(id, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.r FROM sym s JOIN reach r ON r.id = s.dst),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      asg AS (SELECT k.doc_id, COALESCE(c.cluster_id, k.doc_id) AS cluster_id
              FROM kept1 k LEFT JOIN comp c ON c.id = k.doc_id),
      rep AS (SELECT doc_id, cluster_id FROM (
          SELECT a.doc_id, a.cluster_id,
            ROW_NUMBER() OVER (PARTITION BY a.cluster_id
              ORDER BY q.quality DESC, a.doc_id) AS rn
          FROM asg a JOIN qual q ON q.doc_id = a.doc_id) t WHERE rn = 1)
      SELECT r.doc_id, r.cluster_id, q.quality AS quality_score
      FROM rep r JOIN qual q ON q.doc_id = r.doc_id
      ORDER BY r.doc_id""")),

    // c05: TRAINED quality/domain classifier (the GPT-3 appendix-A shape:
    // logistic regression over hashed bag-of-words, curated-vs-crawl
    // labels — here lang='en' as the target domain). The entire 2-step
    // full-batch GD loop runs in micro-unit integer arithmetic, so the
    // oracle replays training end to end: iter-1 closed form (w=0 →
    // p=0.5), gradient sums as exact BIGINTs, the one EXP per step
    // re-quantized to integers immediately. Scores and decisions of the
    // LEARNED model are hash-checked, not just its output schema.
    QueryDef("c05_quality_classifier", (s, d) =>
      graft.operators.Classifier.trainScore(
          Tables.load(s, d, "documents"), col("lang") === "en")
        .orderBy(col("doc_id")),
      Some(s"""
      WITH $C5LR
      SELECT doc_id, CAST(yu / 1000000 AS BIGINT) AS label,
        CAST(pu AS DOUBLE) / 1000000 AS score,
        pu >= 500000 AS predicted
      FROM p3 ORDER BY doc_id"""), headline = true),

    // c06: preference-PAIR construction (the DPO/RLHF data shape): within
    // each source, the trained classifier's best-scoring doc becomes
    // `chosen` and the worst `rejected`, ties to the lower doc_id; the
    // margin rides along for downstream filtering. The oracle replays the
    // WHOLE c05 training chain and then both argmax windows — composition
    // over a LEARNED artifact, like t14's train→apply.
    QueryDef("c06_preference_pairs", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, d, "documents")
      val scored = graft.operators.Classifier
        .trainScore(docs, col("lang") === "en")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("doc_id"), col("score"))
      def pick(w: org.apache.spark.sql.expressions.WindowSpec,
          tag: String) =
        scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("source"), col("doc_id").as(s"${tag}_doc"),
            col("score").as(s"${tag}_score"))
      val chosen = pick(Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id")), "chosen")
      val rejected = pick(Window.partitionBy(col("source"))
        .orderBy(col("score").asc, col("doc_id")), "rejected")
      chosen.join(rejected, "source")
        .select(col("source"), col("chosen_doc"), col("chosen_score"),
          col("rejected_doc"), col("rejected_score"),
          round(col("chosen_score") - col("rejected_score"), 6).as("margin"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH $C5LR
      , sc AS (SELECT p.doc_id, d.source,
                 CAST(p.pu AS DOUBLE) / 1000000 AS score
               FROM p3 p JOIN documents d ON d.doc_id = p.doc_id),
      best AS (SELECT source, doc_id, score FROM (
                 SELECT source, doc_id, score, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY score DESC, doc_id) AS rn
                 FROM sc) t WHERE rn = 1),
      worst AS (SELECT source, doc_id, score FROM (
                 SELECT source, doc_id, score, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY score ASC, doc_id) AS rn
                 FROM sc) t WHERE rn = 1)
      SELECT b.source, b.doc_id AS chosen_doc, b.score AS chosen_score,
        w.doc_id AS rejected_doc, w.score AS rejected_score,
        ROUND(b.score - w.score, 6) AS margin
      FROM best b JOIN worst w ON w.source = b.source
      ORDER BY b.source""")),

    // c07: corpus HEALTH REPORT — the per-source dashboard a curation team
    // reads before touching dials: volume, exact-dup rate (distinct text
    // digests), size, and language-mix entropy (−Σ p·ln p, 6dp-rounded
    // DECIMAL terms so the sum is order-independent), plus an ALL rollup.
    // Pure composition of corpus aggregates: two map-side-combined
    // groupBys and a 20-row join — nothing corpus-sized survives stage 1.
    QueryDef("c07_corpus_report", (s, d) => {
      val base = Tables.load(s, d, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          md5(col("text")).as("h"))
      def report(src: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
        val keyed = base.withColumn("scope", src)
        val per = keyed.groupBy(col("scope")).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique"),
          sum(col("n_chars")).as("chars"))
        val ent = keyed.groupBy(col("scope"), col("lang"))
          .agg(count(lit(1)).as("nl"))
          .join(per.select(col("scope"), col("n_docs")), "scope")
          .select(col("scope"),
            (col("nl").cast("double") / col("n_docs")).as("p"))
          .select(col("scope"),
            round(-col("p") * log(col("p")), 6).cast("decimal(20,6)").as("t"))
          .groupBy(col("scope")).agg(sum(col("t")).cast("double").as("lang_entropy"))
        per.join(ent, "scope")
          .select(col("scope"), col("n_docs"), col("n_unique"),
            ((col("n_docs") - col("n_unique")).cast("double") /
              col("n_docs")).as("dup_frac"),
            (col("chars").cast("double") / col("n_docs")).as("mean_chars"),
            col("lang_entropy"))
      }
      report(col("source")).union(report(lit("ALL"))).orderBy(col("scope"))
    }, Some("""
      WITH base AS (SELECT source, lang, n_chars, md5(text) AS h
                    FROM documents),
      scoped AS (SELECT source AS scope, lang, n_chars, h FROM base
                 UNION ALL
                 SELECT 'ALL', lang, n_chars, h FROM base),
      per AS (SELECT scope, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
                SUM(n_chars) AS chars
              FROM scoped GROUP BY scope),
      ent AS (SELECT l.scope,
                CAST(SUM(CAST(ROUND(-(CAST(l.nl AS DOUBLE) / p.n_docs) *
                  LN(CAST(l.nl AS DOUBLE) / p.n_docs), 6) AS DECIMAL(20,6)))
                  AS DOUBLE) AS lang_entropy
              FROM (SELECT scope, lang, COUNT(*) AS nl
                    FROM scoped GROUP BY scope, lang) l
              JOIN per p ON p.scope = l.scope
              GROUP BY l.scope)
      SELECT p.scope, p.n_docs, p.n_unique,
        CAST(p.n_docs - p.n_unique AS DOUBLE) / p.n_docs AS dup_frac,
        CAST(p.chars AS DOUBLE) / p.n_docs AS mean_chars,
        e.lang_entropy
      FROM per p JOIN ent e ON e.scope = p.scope
      ORDER BY p.scope""")),

    // The COMPLETE pretraining pipeline composed as one operator:
    // heuristic filter -> exact dedup -> transitive MinHash near-dup
    // representatives -> benchmark 3-gram decontamination (fraction
    // threshold) -> source temperature mix (rates over the CLEANED
    // corpus) -> real-BPE shard-local sequence packing. The oracle
    // replays every stage over the progressively-filtered survivor sets
    // — stage composition (schema drift, boundary determinism) is
    // exactly what this checks that the per-stage queries can't.
    QueryDef("c03_pretrain_pipeline", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      Curation.pretrainPipeline(docs, docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE
      ws AS (SELECT doc_id,
        list_filter(string_split_regex(lower(trim(text)), '\\s+'),
          x -> x <> '') AS w FROM documents),
      hf AS (SELECT doc_id, len(w) AS nw,
        CASE WHEN len(w) > 0 THEN
          CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
          ELSE 0.0 END AS mwl,
        CASE WHEN len(w) > 0 THEN
          CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
          ELSE 0.0 END AS ur,
        len(list_filter(list_distinct(w),
          x -> x IN (${TextOps.stopwords.map(w => s"'$w'").mkString(", ")})))
          AS ns
        FROM ws),
      kept0 AS (SELECT d.doc_id, d.text, d.source
        FROM documents d JOIN hf f ON f.doc_id = d.doc_id
        WHERE NOT (f.nw < 40 OR f.nw > 5000)
          AND NOT (f.mwl < 3.5 OR f.mwl > 10.0)
          AND NOT (f.ur < 0.2) AND NOT (f.ns < 2)),
      exact AS (SELECT doc_id, text, source,
          MIN(doc_id) OVER (PARTITION BY MD5(text)) AS canonical_id
        FROM kept0),
      kept1 AS (SELECT doc_id, text, source FROM exact
        WHERE doc_id = canonical_id),
      tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
        generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
        FROM kept1),
      sh0 AS (SELECT doc_id,
        w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win AS shingle,
        LEAD(w,2) OVER win IS NOT NULL AS complete
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      shd AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE complete),
      hs AS (SELECT unnest(range(0, 16)) AS h),
      sig AS (SELECT doc_id, h, MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              FROM shd, hs GROUP BY doc_id, h),
      buckets AS (SELECT doc_id, h % 4 AS band,
                    MD5(string_agg(mh, ',' ORDER BY h)) AS bucket
                  FROM sig GROUP BY doc_id, h % 4),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM buckets x JOIN buckets y
                 ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
      est AS (SELECT c.a, c.b,
                CAST(COUNT(CASE WHEN sa.mh = sb.mh THEN 1 END) AS DOUBLE)/16.0 AS ej
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b AND sb.h = sa.h
              GROUP BY c.a, c.b),
      edges AS (SELECT a, b FROM est WHERE ej >= 0.75),
      sym(src, dst) AS (SELECT a, b FROM edges UNION ALL
                        SELECT b, a FROM edges),
      reach(id, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.r FROM sym s JOIN reach r ON r.id = s.dst),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      kept2 AS (SELECT k.doc_id, k.text, k.source FROM kept1 k
        LEFT JOIN comp c ON c.id = k.doc_id
        WHERE c.id IS NULL OR c.cluster_id = k.doc_id),
      btok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
        generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
        FROM documents WHERE doc_id % 10 = 0),
      bsh0 AS (SELECT doc_id,
        w || ' ' || LEAD(w,1) OVER bwin || ' ' || LEAD(w,2) OVER bwin AS shingle,
        LEAD(w,2) OVER bwin IS NOT NULL AS complete
        FROM btok WINDOW bwin AS (PARTITION BY doc_id ORDER BY pos)),
      bench AS (SELECT DISTINCT shingle FROM bsh0 WHERE complete),
      csh AS (SELECT s.doc_id, s.shingle FROM shd s
              JOIN kept2 k ON k.doc_id = s.doc_id),
      per AS (SELECT s.doc_id, COUNT(*) AS n_grams, COUNT(b.shingle) AS n_cont
              FROM csh s LEFT JOIN bench b ON b.shingle = s.shingle
              GROUP BY s.doc_id),
      kept3 AS (SELECT k.doc_id, k.text, k.source FROM kept2 k
        LEFT JOIN per p ON p.doc_id = k.doc_id
        WHERE (CASE WHEN COALESCE(p.n_grams, 0) > 0
               THEN CAST(p.n_cont AS DOUBLE) / p.n_grams
               ELSE 0.0 END) <= 0.2),
      cnt AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
              FROM kept3 GROUP BY source),
      tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM kept3),
      pw AS (SELECT source, n, total, POWER(n / total, 0.5) AS pt
             FROM cnt CROSS JOIN tot),
      z AS (SELECT SUM(pt) AS z FROM pw),
      rates AS (SELECT pw.source,
          LEAST(CAST(1.0 AS DOUBLE),
            CAST(0.5 AS DOUBLE) * pw.total * (pw.pt / z.z) / pw.n) AS rate
        FROM pw CROSS JOIN z),
      kept4 AS (SELECT k.doc_id, k.text, k.source FROM kept3 k
        JOIN rates r ON k.source = r.source
        WHERE ('0x' || substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4))::BIGINT
              < r.rate * 65536),
      ${bpeOver("kept4")},
      manifest AS (SELECT k.doc_id, k.source,
          CAST(COALESCE(len(b.tk), 0) AS BIGINT) AS n_tokens,
          CAST(FLOOR(k.doc_id / 100.0) AS BIGINT) AS shard
        FROM kept4 k LEFT JOIN btoks b ON b.doc_id = k.doc_id)
      SELECT doc_id, source, n_tokens, shard,
        CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / 512.0) AS BIGINT) AS pack_id
      FROM manifest ORDER BY doc_id"""), headline = true)
  )
}
