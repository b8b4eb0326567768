package graft

/** DuckDB oracle SQL for the training-data-pipeline queries (dedup /
  * similarity / text analysis / multimodal). Mirrors graft.pipeline.*
  * exactly; the portable 60-bit hash is the top 60 bits of md5(s)
  *   Spark : graft.functions.Hash60 (TextOps.hash60), bit-equal to
  *           conv(substring(md5(s),1,15),16,10)::long
  *   DuckDB: CAST('0x' || substr(md5(s),1,15) AS BIGINT)
  */
object PipelineSql {

  /** Distinct word 3-gram shingles per document (matches TextOps.shingles). */
  val SHINGLES3: String =
    """w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
      |  FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)
      |)""".stripMargin

  private def h60(e: String): String = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Hash-spread deterministic k-means seed CTE — MUST mirror
    * `Ann.seedSelect` exactly (same md5 seed key, same (key, id) sort, cid
    * = dense rank in that order). First-n-by-id seeding degenerates on
    * corpora with correlated/duplicated id prefixes — see the r10 note on
    * `Ann.seedSelect`. */
  private def kmeansC0(nlist: Int): String =
    s"""c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY _sk, vec_id) AS BIGINT) - 1 AS cid,
       |         v AS cv
       |  FROM (SELECT vec_id, v, ${h60("'kmseed:' || CAST(vec_id AS VARCHAR)")} AS _sk
       |        FROM e ORDER BY _sk, vec_id LIMIT $nlist)),
       |""".stripMargin

  val dedupExact: String =
    """WITH h AS MATERIALIZED (SELECT doc_id, md5(text) AS grp FROM documents),
      |g AS MATERIALIZED (SELECT grp, count(*) AS grp_size, min(doc_id) AS canonical
      |                   FROM h GROUP BY 1)
      |SELECT h.doc_id, h.grp, g.grp_size, h.doc_id = g.canonical AS is_canonical
      |FROM h JOIN g USING (grp)""".stripMargin

  def minhashSelect(k: Int): String =
    (0 until k).map(j => s"min(${h60(s"s || '#$j'")}) AS mh$j").mkString(", ")

  def minhash(k: Int): String =
    s"""WITH $SHINGLES3
       |SELECT doc_id, ${minhashSelect(k)} FROM sh GROUP BY doc_id""".stripMargin

  def lshPairs(bands: Int, rowsPerBand: Int, threshold: Double): String = {
    val k = bands * rowsPerBand
    val bandKeys = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => s"CAST(mh$j AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bk FROM mh"
    }.mkString(" UNION ALL ")
    s"""WITH $SHINGLES3,
       |mh AS MATERIALIZED (SELECT doc_id, ${minhashSelect(k)} FROM sh GROUP BY doc_id),
       |bk AS MATERIALIZED ($bandKeys),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
       |),
       |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
       |  GROUP BY 1, 2
       |)
       |SELECT c.id_a, c.id_b,
       |  round(coalesce(i.i, 0) * 1.0 / (ca.n_sh + cb.n_sh - coalesce(i.i, 0)), 6) AS jaccard
       |FROM cand c
       |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |JOIN cnt ca ON ca.doc_id = c.id_a JOIN cnt cb ON cb.doc_id = c.id_b
       |WHERE round(coalesce(i.i, 0) * 1.0 / (ca.n_sh + cb.n_sh - coalesce(i.i, 0)), 6) >= $threshold""".stripMargin
  }

  /** Candidates-only LSH oracle (no Jaccard verification): the pair set
    * sharing at least one band key — the batch mirror of the STREAMING
    * candidate miner `GraphStream.streamingLshCandidates`, whose emitted
    * set is micro-batch-split-invariant and canonicalized (id_a < id_b). */
  def lshCandidates(bands: Int, rowsPerBand: Int): String = {
    val k = bands * rowsPerBand
    val bandKeys = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => s"CAST(mh$j AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bk FROM mh"
    }.mkString(" UNION ALL ")
    s"""WITH $SHINGLES3,
       |mh AS MATERIALIZED (SELECT doc_id, ${minhashSelect(k)} FROM sh GROUP BY doc_id),
       |bk AS MATERIALIZED ($bandKeys)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bk a JOIN bk b
       |  ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id""".stripMargin
  }

  /** Edit-distance rescoring oracle: the lshPairs candidate CTEs, then
    * levenshtein over the pair texts (identical classic DP metric in both
    * engines). */
  def editDistancePairs(bands: Int, rowsPerBand: Int): String = {
    val k = bands * rowsPerBand
    val bandKeys = (0 until bands).map { b =>
      val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => s"CAST(mh$j AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bk FROM mh"
    }.mkString(" UNION ALL ")
    s"""WITH $SHINGLES3,
       |mh AS MATERIALIZED (SELECT doc_id, ${minhashSelect(k)} FROM sh GROUP BY doc_id),
       |bk AS MATERIALIZED ($bandKeys),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
       |)
       |SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
       |  round(1.0 - levenshtein(da.text, db.text)
       |        / CAST(greatest(len(da.text), len(db.text)) AS DOUBLE), 6) AS edit_sim
       |FROM cand c
       |JOIN documents da ON da.doc_id = c.id_a
       |JOIN documents db ON db.doc_id = c.id_b""".stripMargin
  }

  def ngramJaccardPairs(threshold: Double): String =
    s"""WITH $SHINGLES3,
       |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS MATERIALIZED (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b, round(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
       |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
       |WHERE round(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= $threshold""".stripMargin

  /** DF-capped variant: candidates mined from shingles with document
    * frequency ≤ cap, exact Jaccard over the full shingle sets for the
    * surviving pairs — same two-phase semantics as the Spark side. */
  def ngramJaccardPairsCapped(threshold: Double, maxDf: Int): String =
    s"""WITH $SHINGLES3,
       |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |dft AS MATERIALIZED (SELECT s, count(*) AS df FROM sh GROUP BY 1),
       |rare AS MATERIALIZED (
       |  SELECT sh.doc_id, sh.s FROM sh JOIN dft USING (s) WHERE dft.df <= $maxDf
       |),
       |hub AS MATERIALIZED (
       |  SELECT sh.doc_id, sh.s FROM sh JOIN dft USING (s) WHERE dft.df > $maxDf
       |),
       |rinter AS MATERIALIZED (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS ri
       |  FROM rare x JOIN rare y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |),
       |hinter AS MATERIALIZED (
       |  SELECT r.id_a, r.id_b, count(*) AS hi
       |  FROM rinter r
       |  JOIN hub a ON a.doc_id = r.id_a
       |  JOIN hub b ON b.doc_id = r.id_b AND b.s = a.s
       |  GROUP BY 1, 2
       |),
       |inter AS MATERIALIZED (
       |  SELECT r.id_a, r.id_b, r.ri + coalesce(h.hi, 0) AS i
       |  FROM rinter r LEFT JOIN hinter h ON h.id_a = r.id_a AND h.id_b = r.id_b
       |)
       |SELECT id_a, id_b, round(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
       |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
       |WHERE round(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= $threshold""".stripMargin

  def simhash(bits: Int): String =
    s"""WITH tf AS MATERIALIZED (
       |  SELECT doc_id, t, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  GROUP BY 1, 2
       |),
       |c AS MATERIALIZED (
       |  SELECT doc_id, bit,
       |    CASE WHEN (${h60("t")} >> bit) & 1 = 1 THEN tf ELSE -tf END AS c
       |  FROM tf, unnest(generate_series(0, ${bits - 1})) AS b(bit)
       |),
       |s AS MATERIALIZED (SELECT doc_id, bit, sum(c) AS s FROM c GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
       |    AS simhash
       |FROM s GROUP BY 1""".stripMargin

  /** Shared CTE chain for duplicated-span mining (mirrors
    * Dedup.duplicateSpans): k-token windows with 0-based positions, 60-bit
    * window hashes, cross-document dup filter (min≠max doc), and the
    * lag/running-sum gaps-and-islands merge of overlapping-or-touching
    * windows. */
  private def dupSpanCtes(k: Int): String =
    s"""w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |win AS MATERIALIZED (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         ${h60(s"array_to_string(ws[i:i+${k - 1}], ' ')")} AS h
       |  FROM w, unnest(generate_series(1, len(ws) - ${k - 1})) AS t(i)
       |),
       |dup AS MATERIALIZED (SELECT h FROM win GROUP BY h HAVING min(doc_id) <> max(doc_id)),
       |mk AS MATERIALIZED (SELECT doc_id, pos FROM win JOIN dup USING (h)),
       |flg AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $k
       |         THEN 1 ELSE 0 END AS f
       |  FROM mk
       |),
       |isl AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |    sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM flg
       |),
       |spans AS MATERIALIZED (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + ${k - 1} AS span_end,
       |         count(*) AS n_windows
       |  FROM isl GROUP BY doc_id, island
       |)""".stripMargin

  def duplicateSpans(k: Int): String =
    s"""WITH ${dupSpanCtes(k)}
       |SELECT doc_id, span_start, span_end,
       |       span_end - span_start + 1 AS span_len, n_windows
       |FROM spans""".stripMargin

  def removeDuplicateSpans(k: Int): String =
    s"""WITH ${dupSpanCtes(k)},
       |tok AS MATERIALIZED (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, ws[i] AS wd
       |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
       |),
       |kept AS MATERIALIZED (
       |  SELECT t.doc_id, t.idx, t.wd
       |  FROM tok t
       |  LEFT JOIN spans s ON s.doc_id = t.doc_id AND t.idx BETWEEN s.span_start AND s.span_end
       |  WHERE s.doc_id IS NULL
       |),
       |ag AS MATERIALIZED (
       |  SELECT doc_id, string_agg(wd, ' ' ORDER BY idx) AS clean_text,
       |         count(*) AS n_kept
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT w.doc_id, coalesce(a.clean_text, '') AS clean_text,
       |       coalesce(a.n_kept, 0) AS n_tokens_kept,
       |       len(w.ws) - coalesce(a.n_kept, 0) AS n_tokens_removed
       |FROM w LEFT JOIN ag a USING (doc_id)""".stripMargin

  val EMB_NORM: String =
    """e AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)""".stripMargin

  def embedDup(threshold: Double): String =
    s"""WITH $EMB_NORM
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $threshold""".stripMargin

  /** LSH-bucketed embedding dedup: the hyperplane p's component at 0-based
    * index i is hash60('p{p}:' || i) % 2001 - 1000 (identical to the Spark
    * side's plane construction); docs sharing the full sign signature are
    * the only pairs compared. */
  def embedDupLsh(threshold: Double, planes: Int): String = {
    val sigExpr = (0 until planes).map { p =>
      val plane = s"list_transform(generate_series(0, len(v) - 1), " +
        s"i -> CAST(${h60(s"'p$p:' || CAST(i AS VARCHAR)")} % 2001 - 1000 AS DOUBLE))"
      s"(CASE WHEN list_dot_product(v, $plane) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH $EMB_NORM,
       |sg AS MATERIALIZED (SELECT vec_id, v, nrm, $sigExpr AS sig FROM e)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
       |FROM sg a JOIN sg b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $threshold""".stripMargin
  }

  /** Exact IVF oracle: unrolls `Ann.kmeansCentroids` — deterministic
    * hash-spread init (`kmeansC0`, cid = rank in seed-key order), `iters`
    * Lloyd rounds of argmax-dot assignment (ties → lowest cid) and
    * per-dimension avg update — then the `nprobe` bucket probe and exact
    * in-bucket ranking, all in DuckDB SQL. `dim` is the embedding width
    * (the per-dimension avg list is unrolled). Empty centroids drop out of
    * the GROUP BY on both sides identically. */
  def annIvf(nQueries: Int, k: Int, nlist: Int, nprobe: Int, iters: Int,
             dim: Int): String = {
    val avgList = "[" + (1 to dim).map(i => s"avg(v[$i])").mkString(", ") + "]"
    def assign(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    val b = new StringBuilder
    b ++= s"WITH $EMB_NORM,\n"
    b ++= kmeansC0(nlist)
    for (i <- 1 to iters) {
      b ++= assign(s"c${i - 1}", s"a$i") + ",\n"
      b ++= s"c$i AS MATERIALIZED (SELECT cid, $avgList AS cv FROM a$i GROUP BY cid),\n"
    }
    b ++= assign(s"c$iters", "bucketed") + ",\n"
    b ++= s"""q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
             |                   WHERE vec_id < $nQueries),
             |qp AS MATERIALIZED (
             |  SELECT query_id, qv, qn, cid FROM (
             |    SELECT q.query_id, q.qv, q.qn, c.cid,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cid) AS rn
             |    FROM q CROSS JOIN c$iters c) t WHERE rn <= $nprobe),
             |scored AS MATERIALIZED (
             |  SELECT qp.query_id, b.vec_id AS neighbor_id,
             |    round(list_dot_product(b.v, qp.qv) / (eb.nrm * qp.qn), 6) AS cosine
             |  FROM bucketed b
             |  JOIN qp ON b.cid = qp.cid AND b.vec_id <> qp.query_id
             |  JOIN e eb ON eb.vec_id = b.vec_id),
             |ranked AS MATERIALIZED (
             |  SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM scored
             |)
             |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
             |FROM ranked WHERE rank <= $k""".stripMargin
    b.toString
  }

  /** Eval-set decontamination oracle: mirrors `Dedup.decontaminate` — the
    * eval set is documents matching `evalPred`, the corpus the rest;
    * every corpus doc scored by the fraction of its distinct word n-grams
    * appearing anywhere in the eval set. Integer `/` is float division in
    * DuckDB, matching the Spark side's explicit double cast; the 6-dp
    * round on the REPORTED fraction (contamination tested unrounded) is
    * the q_lr_classify cross-engine float convention. */
  def decontaminate(n: Int, maxFraction: Double, evalPred: String): String =
    s"""WITH ev AS MATERIALIZED (SELECT * FROM documents WHERE $evalPred),
       |w_ev AS (SELECT string_split(text, ' ') AS ws FROM ev),
       |eg AS MATERIALIZED (
       |  SELECT DISTINCT array_to_string(ws[i:i+${n - 1}], ' ') AS s
       |  FROM w_ev, unnest(generate_series(1, len(ws) - ${n - 1})) AS t(i)),
       |corp AS MATERIALIZED (SELECT * FROM documents WHERE NOT ($evalPred)),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corp),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+${n - 1}], ' ') AS s
       |  FROM w, unnest(generate_series(1, len(ws) - ${n - 1})) AS t(i)),
       |sc AS MATERIALIZED (
       |  SELECT sh.doc_id, count(*) AS ngrams, count(eg.s) AS hit_ngrams
       |  FROM sh LEFT JOIN eg ON sh.s = eg.s GROUP BY 1)
       |SELECT c.doc_id,
       |  coalesce(sc.ngrams, 0) AS ngrams,
       |  coalesce(sc.hit_ngrams, 0) AS hit_ngrams,
       |  round(coalesce(CASE WHEN sc.ngrams > 0 THEN sc.hit_ngrams / sc.ngrams END, 0.0), 6) AS hit_frac,
       |  coalesce(CASE WHEN sc.ngrams > 0 THEN sc.hit_ngrams / sc.ngrams END, 0.0) > $maxFraction AS contaminated
       |FROM corp c LEFT JOIN sc ON c.doc_id = sc.doc_id""".stripMargin

  /** Incremental-dedup oracle: corpus = even doc_ids, batch = odd (the
    * gated query's split); exact hit by md5, near hit by shared minhash
    * band key (same hash family / band construction as lshPairs). */
  def incrementalDedup(bands: Int, rowsPerBand: Int): String = {
    val k = bands * rowsPerBand
    def side(alias: String, pred: String): String =
      s"""${alias} AS MATERIALIZED (SELECT * FROM documents WHERE $pred),
         |w_$alias AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM $alias),
         |sh_$alias AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
         |  FROM w_$alias, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
         |mh_$alias AS MATERIALIZED (SELECT doc_id, ${minhashSelect(k)} FROM sh_$alias GROUP BY doc_id),
         |bk_$alias AS MATERIALIZED (${(0 until bands).map { b =>
             val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
               .map(j => s"CAST(mh$j AS VARCHAR)").mkString(" || '_' || ")
             s"SELECT doc_id, $b AS band, md5($key) AS bk FROM mh_$alias"
           }.mkString(" UNION ALL ")})""".stripMargin
    s"""WITH ${side("corp", "doc_id % 2 = 0")},
       |${side("bat", "doc_id % 2 = 1")},
       |eh AS MATERIALIZED (
       |  SELECT DISTINCT b.doc_id FROM bat b JOIN corp c ON md5(b.text) = md5(c.text)),
       |nh AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id FROM bk_bat a
       |  JOIN bk_corp c ON a.band = c.band AND a.bk = c.bk)
       |SELECT bat.doc_id,
       |  eh.doc_id IS NOT NULL AS exact_dup,
       |  nh.doc_id IS NOT NULL AS near_dup,
       |  eh.doc_id IS NULL AND nh.doc_id IS NULL AS keep
       |FROM bat
       |LEFT JOIN eh ON eh.doc_id = bat.doc_id
       |LEFT JOIN nh ON nh.doc_id = bat.doc_id""".stripMargin
  }

  /** Exact SemDeDup oracle: unrolls `Ann.kmeansCentroids` +
    * `Dedup.embeddingDupPairsIvf` — deterministic k-means (same unroll as
    * annIvf: hash-spread `kmeansC0` init, argmax-dot assignment with lowest-cid
    * tie-break, per-dim avg updates), then exact cosine within each
    * cluster only. */
  def embedDupIvf(threshold: Double, nlist: Int, iters: Int, dim: Int): String = {
    val avgList = "[" + (1 to dim).map(i => s"avg(v[$i])").mkString(", ") + "]"
    def assign(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT e.vec_id, e.v, e.nrm, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    val b = new StringBuilder
    b ++= s"WITH $EMB_NORM,\n"
    b ++= kmeansC0(nlist)
    for (i <- 1 to iters) {
      b ++= assign(s"c${i - 1}", s"a$i") + ",\n"
      b ++= s"c$i AS MATERIALIZED (SELECT cid, $avgList AS cv FROM a$i GROUP BY cid),\n"
    }
    b ++= assign(s"c$iters", "bucketed") + "\n"
    b ++= s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
             |FROM bucketed a JOIN bucketed b ON a.cid = b.cid AND a.vec_id < b.vec_id
             |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $threshold""".stripMargin
    b.toString
  }

  /** Composed corpus-curation oracle (VERDICT r10 item #8) — the full
    * chain in one statement, each stage the already-gated SQL re-sourced
    * onto the previous stage's survivors:
    * LSH near-dup pairs → WCC cluster resolve → keep-longest-per-cluster →
    * SemDeDup (k-means-bucketed cosine, trained on the SURVIVORS) → WCC
    * resolve again, keep canonical → cluster-balanced sample (k-means
    * trained on the twice-deduped set) → shard placement + manifest.
    * The manifest checksums make the gate end-to-end-sensitive: one wrong
    * survivor at any stage flips a shard's bit_xor. */
  def curationE2e(bands: Int, rowsPerBand: Int, lshThreshold: Double,
                  semThreshold: Double, nlist: Int, iters: Int, dim: Int,
                  perCluster: Int, nShards: Int): String = {
    val avgList = "[" + (1 to dim).map(i => s"avg(v[$i])").mkString(", ") + "]"
    def seed(src: String, cname: String): String =
      s"""$cname AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY _sk, vec_id) AS BIGINT) - 1 AS cid,
         |         v AS cv
         |  FROM (SELECT vec_id, v, ${h60("'kmseed:' || CAST(vec_id AS VARCHAR)")} AS _sk
         |        FROM $src ORDER BY _sk, vec_id LIMIT $nlist))""".stripMargin
    def assign(src: String, cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT s.vec_id, s.v, s.nrm, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_dot_product(s.v, c.cv) DESC, c.cid) AS rn
         |    FROM $src s CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    def kmeans(src: String, pfx: String): String = {
      val b = new StringBuilder
      b ++= seed(src, s"${pfx}c0") + ",\n"
      for (i <- 1 to iters) {
        b ++= assign(src, s"${pfx}c${i - 1}", s"${pfx}a$i") + ",\n"
        b ++= s"${pfx}c$i AS MATERIALIZED (SELECT cid, $avgList AS cv FROM ${pfx}a$i GROUP BY cid),\n"
      }
      b ++= assign(src, s"${pfx}c$iters", s"${pfx}bucketed")
      b.toString
    }
    s"""WITH RECURSIVE
       |pr AS MATERIALIZED (${lshPairs(bands, rowsPerBand, lshThreshold)}),
       |sym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pr UNION SELECT id_b, id_a FROM pr),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
       |),
       |clus AS MATERIALIZED (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
       |tokc AS MATERIALIZED (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
       |kb AS MATERIALIZED (
       |  SELECT cluster, doc_id,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM clus JOIN tokc USING (doc_id)),
       |kept1 AS MATERIALIZED (SELECT doc_id FROM kb WHERE rn = 1),
       |e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings JOIN kept1 ON kept1.doc_id = embeddings.vec_id
       |),
       |${kmeans("e", "s")},
       |sem AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sbucketed a JOIN sbucketed b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $semThreshold
       |),
       |sym2 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM sem UNION SELECT id_b, id_a FROM sem),
       |reach2(a, b) AS (
       |  SELECT vec_id, vec_id FROM e
       |  UNION
       |  SELECT r.a, s.b FROM reach2 r JOIN sym2 s ON s.a = r.b
       |),
       |kept2 AS MATERIALIZED (
       |  SELECT a AS vec_id FROM reach2 GROUP BY a HAVING a = min(b)),
       |e2 AS MATERIALIZED (SELECT vec_id, v, nrm FROM e JOIN kept2 USING (vec_id)),
       |${kmeans("e2", "t")},
       |spri AS MATERIALIZED (SELECT vec_id, cid,
       |  ${h60("concat_ws('|', 'csample', vec_id, 42)")} AS pri FROM tbucketed),
       |sampled AS MATERIALIZED (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (PARTITION BY cid ORDER BY pri, vec_id) AS rn
       |    FROM spri) WHERE rn <= $perCluster),
       |p AS MATERIALIZED (
       |  SELECT d.doc_id, ${h60("concat_ws('|', 'shard', d.doc_id, 42)")} AS pri,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents d JOIN sampled ON sampled.vec_id = d.doc_id
       |),
       |placed AS MATERIALIZED (
       |  SELECT doc_id, pri % $nShards AS shard, n_toks,
       |         CAST(row_number() OVER (PARTITION BY pri % $nShards
       |                                 ORDER BY pri, doc_id) - 1 AS BIGINT) AS pos
       |  FROM p
       |)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |       bit_xor(${h60("concat_ws(':', doc_id, pos)")}) AS checksum
       |FROM placed GROUP BY shard""".stripMargin
  }

  /** Exact oracle for `Ann.knnGraph`: the identical k-means unroll as
    * [[embedDupIvf]], then per-vector top-k among SAME-CELL neighbors. */
  def knnGraph(k: Int, nlist: Int, iters: Int, dim: Int): String = {
    val avgList = "[" + (1 to dim).map(i => s"avg(v[$i])").mkString(", ") + "]"
    def assign(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, nrm, cid FROM (
         |    SELECT e.vec_id, e.v, e.nrm, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    val b = new StringBuilder
    b ++= s"WITH $EMB_NORM,\n"
    b ++= kmeansC0(nlist)
    for (i <- 1 to iters) {
      b ++= assign(s"c${i - 1}", s"a$i") + ",\n"
      b ++= s"c$i AS MATERIALIZED (SELECT cid, $avgList AS cv FROM a$i GROUP BY cid),\n"
    }
    b ++= assign(s"c$iters", "bucketed") + ",\n"
    b ++= s"""ranked AS MATERIALIZED (
             |  SELECT a.vec_id, b.vec_id AS neighbor_id,
             |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine,
             |    row_number() OVER (PARTITION BY a.vec_id
             |      ORDER BY round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) DESC,
             |               b.vec_id) AS rank
             |  FROM bucketed a JOIN bucketed b
             |    ON a.cid = b.cid AND a.vec_id <> b.vec_id)
             |SELECT vec_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
             |FROM ranked WHERE rank <= $k""".stripMargin
    b.toString
  }

  /** Oracle for `q_knn_components`: the [[knnGraph]] unroll, symmetrized
    * into an undirected edge set, then `rounds` unrolled min-label WCC
    * iterations over ALL vec_ids (isolated vectors keep their own id;
    * extra rounds past the fixpoint are idempotent). */
  def knnComponents(k: Int, nlist: Int, iters: Int, dim: Int, rounds: Int): String = {
    val base = knnGraph(k, nlist, iters, dim)
    val b = new StringBuilder
    // reuse the knn unroll as a prefix: strip its final SELECT into a CTE.
    // The marker is coupled to knnGraph's final SELECT wording — fail loud
    // if a rewording ever breaks it (idx -1 would silently corrupt the SQL)
    val idx = base.lastIndexOf("SELECT vec_id, neighbor_id")
    require(idx >= 0,
      "knnComponents: knnGraph's final SELECT marker not found — update the marker")
    b ++= base.substring(0, idx)
    b ++= s""",knn AS MATERIALIZED (
             |  SELECT vec_id AS src, neighbor_id AS dst FROM ranked WHERE rank <= $k),
             |sym AS MATERIALIZED (
             |  SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
             |l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS component FROM e),
             |""".stripMargin
    for (i <- 1 to rounds) {
      b ++= s"""l$i AS MATERIALIZED (
               |  SELECT v.id, least(v.component, coalesce(m.nbr_min, v.component)) AS component
               |  FROM l${i - 1} v LEFT JOIN (
               |    SELECT u.dst AS id, min(p.component) AS nbr_min
               |    FROM sym u JOIN l${i - 1} p ON p.id = u.src GROUP BY 1
               |  ) m ON m.id = v.id
               |)""".stripMargin
      b ++= (if (i < rounds) ",\n" else "\n")
    }
    b ++= s"SELECT id AS vec_id, component FROM l$rounds"
    b.toString
  }

  /** Exact PQ-ADC oracle: unrolls `Ann.pqTopK` — per-subspace k-means
    * (hash-spread seed init mirroring `Ann.seedSelect`, argmin-L2 assignment with
    * lowest-cid tie-break, per-dim avg updates, `iters` rounds), the
    * pivoted per-vector code row, the per-query subspace dot-product
    * lookup table, and the fixed-subspace-order approximate-dot sum.
    * `dim` is the embedding width; subvector width = dim / m. */
  def annPq(nQueries: Int, k: Int, m: Int, ksub: Int, iters: Int, dim: Int): String = {
    val dsub = dim / m
    val avgList = "[" + (1 to dsub).map(i => s"avg(sv[$i])").mkString(", ") + "]"
    def assign(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, sub, sv, cid FROM (
         |    SELECT s.vec_id, s.sub, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
         |                 + list_dot_product(c.cv, c.cv) ASC, c.cid) AS rn
         |    FROM sv s JOIN $cents c ON c.sub = s.sub) t WHERE rn = 1)""".stripMargin
    val b = new StringBuilder
    b ++= s"WITH $EMB_NORM,\n"
    b ++= s"""sv AS MATERIALIZED (
             |  SELECT vec_id, s AS sub, v[s*$dsub+1 : s*$dsub+$dsub] AS sv
             |  FROM e, unnest(generate_series(0, ${m - 1})) AS t(s)),
             |seeds AS MATERIALIZED (
             |  SELECT vec_id, _sk FROM (
             |    SELECT vec_id, ${h60("'kmseed:' || CAST(vec_id AS VARCHAR)")} AS _sk
             |    FROM e ORDER BY _sk, vec_id LIMIT $ksub)),
             |c0 AS MATERIALIZED (
             |  SELECT sub, CAST(row_number() OVER (PARTITION BY sub ORDER BY s._sk, sv.vec_id) AS BIGINT) - 1 AS cid,
             |         sv AS cv
             |  FROM sv JOIN seeds s ON s.vec_id = sv.vec_id),
             |""".stripMargin
    for (i <- 1 to iters) {
      b ++= assign(s"c${i - 1}", s"a$i") + ",\n"
      b ++= s"c$i AS MATERIALIZED (SELECT sub, cid, $avgList AS cv FROM a$i GROUP BY sub, cid),\n"
    }
    b ++= assign(s"c$iters", "codes") + ",\n"
    val codeCols = (0 until m).map(s => s"max(CASE WHEN sub = $s THEN cid END) AS c$s").mkString(", ")
    val pivJoins = (0 until m).map { s =>
      if (s == 0) s"JOIN lut l0 ON l0.sub = 0 AND l0.cid = cw.c0"
      else s"JOIN lut l$s ON l$s.sub = $s AND l$s.cid = cw.c$s AND l$s.query_id = l0.query_id"
    }.mkString("\n  ")
    val pCols = (0 until m).map(s => s"l$s.p AS p$s").mkString(", ")
    val adot = (0 until m).map(s => s"p$s").mkString(" + ")
    b ++= s"""cw AS MATERIALIZED (SELECT vec_id, $codeCols FROM codes GROUP BY vec_id),
             |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
             |qsv AS MATERIALIZED (
             |  SELECT query_id, s AS sub, qv[s*$dsub+1 : s*$dsub+$dsub] AS qsv
             |  FROM q, unnest(generate_series(0, ${m - 1})) AS t(s)),
             |lut AS MATERIALIZED (
             |  SELECT s.query_id, s.sub, c.cid, list_dot_product(s.qsv, c.cv) AS p
             |  FROM qsv s JOIN c$iters c ON c.sub = s.sub),
             |piv AS MATERIALIZED (
             |  SELECT l0.query_id, cw.vec_id AS neighbor_id, $pCols
             |  FROM cw
             |  $pivJoins),
             |sc AS MATERIALIZED (
             |  SELECT query_id, neighbor_id, round($adot, 6) AS adot
             |  FROM piv WHERE neighbor_id <> query_id),
             |ranked AS MATERIALIZED (
             |  SELECT query_id, neighbor_id, adot,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY adot DESC, neighbor_id) AS rank
             |  FROM sc)
             |SELECT query_id, neighbor_id, adot, CAST(rank AS BIGINT) AS rank
             |FROM ranked WHERE rank <= $k""".stripMargin
    b.toString
  }

  /** Exact IVF-PQ oracle: unrolls `Ann.ivfPqTopK` — the coarse k-means
    * (same unroll as annIvf), per-vector RESIDUALS against the final
    * coarse centroids, a shared per-subspace residual codebook (hash-seed
    * init, argmin-L2 assignment, avg updates), the pivoted code row with
    * its coarse cell id, the per-query nprobe cell probe carrying the
    * coarse dot term, the residual-codebook lookup table, and the ADC sum
    * cdot + p0 + … + p{m−1} in fixed left-to-right order. */
  def annIvfPq(nQueries: Int, k: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
               itersCoarse: Int, itersPq: Int, dim: Int): String = {
    val dsub = dim / m
    val avgList = "[" + (1 to dim).map(i => s"avg(v[$i])").mkString(", ") + "]"
    val avgSubList = "[" + (1 to dsub).map(i => s"avg(sv[$i])").mkString(", ") + "]"
    def assignCoarse(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    def assignPq(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, cid, sub, sv, pcid FROM (
         |    SELECT s.vec_id, s.cid, s.sub, s.sv, c.pcid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
         |                 + list_dot_product(c.cv, c.cv) ASC, c.pcid) AS rn
         |    FROM rsv s JOIN $cents c ON c.sub = s.sub) t WHERE rn = 1)""".stripMargin
    val b = new StringBuilder
    b ++= s"WITH $EMB_NORM,\n"
    b ++= kmeansC0(nlist)
    for (i <- 1 to itersCoarse) {
      b ++= assignCoarse(s"c${i - 1}", s"a$i") + ",\n"
      b ++= s"c$i AS MATERIALIZED (SELECT cid, $avgList AS cv FROM a$i GROUP BY cid),\n"
    }
    b ++= assignCoarse(s"c$itersCoarse", "bucketed") + ",\n"
    b ++= s"""rres AS MATERIALIZED (
             |  SELECT b.vec_id, b.cid,
             |    list_transform(generate_series(1, $dim), i -> b.v[i] - c.cv[i]) AS rv
             |  FROM bucketed b JOIN c$itersCoarse c ON c.cid = b.cid),
             |rsv AS MATERIALIZED (
             |  SELECT vec_id, cid, s AS sub, rv[s*$dsub+1 : s*$dsub+$dsub] AS sv
             |  FROM rres, unnest(generate_series(0, ${m - 1})) AS t(s)),
             |pseeds AS MATERIALIZED (
             |  SELECT vec_id, _sk FROM (
             |    SELECT vec_id, ${h60("'kmseed:' || CAST(vec_id AS VARCHAR)")} AS _sk
             |    FROM e ORDER BY _sk, vec_id LIMIT $ksub)),
             |p0 AS MATERIALIZED (
             |  SELECT rsv.sub, CAST(row_number() OVER (PARTITION BY rsv.sub ORDER BY s._sk, rsv.vec_id) AS BIGINT) - 1 AS pcid,
             |         rsv.sv AS cv
             |  FROM rsv JOIN pseeds s ON s.vec_id = rsv.vec_id),
             |""".stripMargin
    for (i <- 1 to itersPq) {
      b ++= assignPq(s"p${i - 1}", s"pa$i") + ",\n"
      b ++= s"p$i AS MATERIALIZED (SELECT sub, pcid, $avgSubList AS cv FROM pa$i GROUP BY sub, pcid),\n"
    }
    b ++= assignPq(s"p$itersPq", "pcodes") + ",\n"
    val codeCols = (0 until m).map(s => s"max(CASE WHEN sub = $s THEN pcid END) AS c$s").mkString(", ")
    val pivJoins = (0 until m).map { s =>
      s"JOIN lut l$s ON l$s.query_id = qp.query_id AND l$s.sub = $s AND l$s.pcid = cw.c$s"
    }.mkString("\n  ")
    val pCols = (0 until m).map(s => s"l$s.p AS p$s").mkString(", ")
    val adot = "cdot + " + (0 until m).map(s => s"p$s").mkString(" + ")
    b ++= s"""cw AS MATERIALIZED (
             |  SELECT vec_id, max(cid) AS cid, $codeCols FROM pcodes GROUP BY vec_id),
             |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
             |qp AS MATERIALIZED (
             |  SELECT query_id, cid, cdot FROM (
             |    SELECT q.query_id, c.cid, list_dot_product(q.qv, c.cv) AS cdot,
             |      row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cid) AS rn
             |    FROM q CROSS JOIN c$itersCoarse c) t WHERE rn <= $nprobe),
             |qsv AS MATERIALIZED (
             |  SELECT query_id, s AS sub, qv[s*$dsub+1 : s*$dsub+$dsub] AS qsv
             |  FROM q, unnest(generate_series(0, ${m - 1})) AS t(s)),
             |lut AS MATERIALIZED (
             |  SELECT s.query_id, s.sub, c.pcid, list_dot_product(s.qsv, c.cv) AS p
             |  FROM qsv s JOIN p$itersPq c ON c.sub = s.sub),
             |piv AS MATERIALIZED (
             |  SELECT qp.query_id, cw.vec_id AS neighbor_id, qp.cdot, $pCols
             |  FROM cw
             |  JOIN qp ON qp.cid = cw.cid
             |  $pivJoins),
             |sc AS MATERIALIZED (
             |  SELECT query_id, neighbor_id, round($adot, 6) AS adot
             |  FROM piv WHERE neighbor_id <> query_id),
             |ranked AS MATERIALIZED (
             |  SELECT query_id, neighbor_id, adot,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY adot DESC, neighbor_id) AS rank
             |  FROM sc)
             |SELECT query_id, neighbor_id, adot, CAST(rank AS BIGINT) AS rank
             |FROM ranked WHERE rank <= $k""".stripMargin
    b.toString
  }

  def annTopK(nQueries: Int, k: Int): String =
    s"""WITH $EMB_NORM,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
       |                   WHERE vec_id < $nQueries),
       |scored AS MATERIALIZED (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 6) AS cosine
       |  FROM e JOIN q ON e.vec_id <> q.query_id
       |),
       |ranked AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** k-round unroll of the greedy MMR selection (Ann.mmrSelect): s{t}
    * picks round t's argmax (ties → lowest vec_id), r{t} carries the
    * running max-similarity-to-selected column forward. `(1.0 - λ)` is
    * written as the subtraction, not a pre-simplified literal, so DuckDB
    * computes the exact same double the Spark side does. */
  def mmrSelect(k: Int, lambda: Double = 0.7): String = {
    val lam = lambda.toString
    val sb = new StringBuilder
    sb ++= s"""WITH $EMB_NORM,
       |q AS MATERIALIZED (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0),
       |r0 AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, e.nrm,
       |    list_dot_product(e.v, q.qv) / (e.nrm * q.qn) AS rel, 0.0 AS ms
       |  FROM e, q WHERE e.vec_id <> 0),
       |""".stripMargin
    for (t <- 1 to k) {
      sb ++= s"""s$t AS MATERIALIZED (
         |  SELECT vec_id, v, nrm, rel, $lam*rel - (1.0-$lam)*ms AS score
         |  FROM r${t - 1} ORDER BY $lam*rel - (1.0-$lam)*ms DESC, vec_id LIMIT 1),
         |""".stripMargin
      if (t < k) {
        val msExpr =
          if (t == 1) "list_dot_product(r.v, s.v) / (r.nrm * s.nrm)"
          else "greatest(r.ms, list_dot_product(r.v, s.v) / (r.nrm * s.nrm))"
        sb ++= s"""r$t AS MATERIALIZED (
           |  SELECT r.vec_id, r.v, r.nrm, r.rel, $msExpr AS ms
           |  FROM r${t - 1} r, s$t s WHERE r.vec_id <> s.vec_id),
           |""".stripMargin
      }
    }
    // drop the trailing ",\n" of the last CTE
    sb.setLength(sb.length - 2)
    sb ++= "\n"
    sb ++= (1 to k).map(t =>
      s"SELECT vec_id, CAST($t AS BIGINT) AS rank, round(rel, 6) AS relevance, " +
        s"round(score, 6) AS mmr_score FROM s$t")
      .mkString("", "\nUNION ALL\n", "")
    sb.toString
  }

  private val BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  val tokenCounts: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |  CAST(len(regexp_extract_all(text, '$BPE_RE')) AS BIGINT) AS n_bpe_ish
       |FROM documents""".stripMargin

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  private def hitRatio(lang: String): String = {
    val sw = graft.pipeline.TextAnalysis.StopWords(lang)
    s"len(list_filter(ws, w -> w IN (${inList(sw)}))) / CAST(len(ws) AS DOUBLE)"
  }

  val quality: String =
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
       |f AS (SELECT doc_id,
       |  CAST(len(ws) AS DOUBLE) AS n,
       |  len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS ttr,
       |  ${hitRatio("en")} AS stopr,
       |  list_sum(list_transform(ws, w -> len(w))) / CAST(len(ws) AS DOUBLE) AS meanlen,
       |  len(regexp_extract_all(text, '[.,;:!?]')) / CAST(length(text) AS DOUBLE) AS punctr
       |  FROM w)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  round(ttr, 6) AS type_token_ratio,
       |  round(stopr, 6) AS stopword_ratio,
       |  round(meanlen, 6) AS mean_token_len,
       |  round(punctr, 6) AS punct_ratio,
       |  round(least(n / 200.0, 1.0) * 0.3 + ttr * 0.3 + least(stopr * 4.0, 1.0) * 0.2
       |        + CASE WHEN meanlen BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 6) AS quality
       |FROM f""".stripMargin

  /** Shared CTE computing the blended quality score per (doc_id, source) —
    * the same formula as `quality`, reused by the percentile-filter and
    * curriculum oracles. Yields a relation `qv(doc_id, source, quality)`. */
  private val qualityCte: String =
    s"""w AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
       |f AS (SELECT doc_id, source,
       |  CAST(len(ws) AS DOUBLE) AS n,
       |  len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS ttr,
       |  ${hitRatio("en")} AS stopr,
       |  list_sum(list_transform(ws, w -> len(w))) / CAST(len(ws) AS DOUBLE) AS meanlen
       |  FROM w),
       |qv AS (SELECT doc_id, source,
       |  round(least(n / 200.0, 1.0) * 0.3 + ttr * 0.3 + least(stopr * 4.0, 1.0) * 0.2
       |        + CASE WHEN meanlen BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 6) AS quality
       |  FROM f)""".stripMargin

  def qualityFilter(minPct: Double): String =
    s"""WITH $qualityCte,
       |r AS (SELECT doc_id, source, quality,
       |  percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id) AS pr
       |  FROM qv)
       |SELECT doc_id, source, quality FROM r WHERE pr >= $minPct""".stripMargin

  def curriculum(phases: Int): String =
    s"""WITH $qualityCte
       |SELECT doc_id, source,
       |  CAST(ntile($phases) OVER (PARTITION BY source ORDER BY quality, doc_id) AS BIGINT) AS phase
       |FROM qv""".stripMargin

  def vocab(topK: Int): String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |)
       |SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
       |FROM w GROUP BY 1 ORDER BY n_occ DESC, word LIMIT $topK""".stripMargin

  def tfidf(k: Int): String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
       |),
       |tf AS MATERIALIZED (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
       |dfq AS MATERIALIZED (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |s AS (SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
       |        tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS s
       |      FROM tf JOIN dfq USING (word) CROSS JOIN n),
       |r AS (SELECT doc_id, word, tf, df, s,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, word) AS rn
       |      FROM s)
       |SELECT doc_id, word, tf, df, round(s, 6) AS tf_idf FROM r WHERE rn <= $k""".stripMargin

  val tokenEntropy: String =
    """WITH w AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |),
      |cnt AS MATERIALIZED (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
      |n AS MATERIALIZED (SELECT doc_id, sum(c) AS n_tokens FROM cnt GROUP BY 1)
      |SELECT cnt.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
      |  round(-sum(cnt.c / CAST(n.n_tokens AS DOUBLE)
      |             * log2(cnt.c / CAST(n.n_tokens AS DOUBLE))), 6) AS entropy
      |FROM cnt JOIN n ON n.doc_id = cnt.doc_id
      |GROUP BY 1, 2""".stripMargin

  /** PMI collocation oracle: the same skip-gram pair frame, integral
    * counts, and exact-ratio ranking (ln only on the reported column). */
  def pmiPairs(window: Int, minCount: Int, topK: Int): String =
    s"""WITH w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, i, ws[i] AS w
       |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
       |),
       |pairs AS MATERIALIZED (
       |  SELECT least(a.w, b.w) AS w_a, greatest(a.w, b.w) AS w_b
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
       |   AND b.i > a.i AND b.i <= a.i + $window
       |),
       |cab AS MATERIALIZED (
       |  SELECT w_a, w_b, count(*) AS n_pair FROM pairs GROUP BY 1, 2
       |  HAVING count(*) >= $minCount
       |),
       |cw AS MATERIALIZED (SELECT w, count(*) AS cw FROM pos GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM pos) AS t_tok,
       |               (SELECT count(*) FROM pairs) AS t_pair),
       |scored AS MATERIALIZED (
       |  SELECT cab.w_a, cab.w_b, cab.n_pair,
       |    (CAST(cab.n_pair AS DOUBLE) * tot.t_tok * tot.t_tok)
       |      / (CAST(tot.t_pair AS DOUBLE) * ca.cw * cb.cw) AS r
       |  FROM cab
       |  JOIN cw ca ON ca.w = cab.w_a
       |  JOIN cw cb ON cb.w = cab.w_b
       |  CROSS JOIN tot
       |)
       |SELECT w_a, w_b, n_pair, round(ln(r), 6) AS pmi
       |FROM scored ORDER BY r DESC, w_a, w_b LIMIT $topK""".stripMargin

  /** Corpus-trained bigram-LM scoring oracle: identical add-k-smoothed
    * conditional probabilities and per-document mean log-prob. */
  def bigramLm(k: Double): String =
    s"""WITH w AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, i, ws[i] AS w
       |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
       |),
       |big AS MATERIALIZED (
       |  SELECT a.doc_id, a.w AS wa, b.w AS wb
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |),
       |c2 AS MATERIALIZED (SELECT wa, wb, count(*) AS c2 FROM big GROUP BY 1, 2),
       |c1 AS MATERIALIZED (SELECT wa, count(*) AS c1 FROM big GROUP BY 1),
       |vn AS (SELECT count(DISTINCT w) AS v FROM pos)
       |SELECT big.doc_id, count(*) AS n_bigrams,
       |  round(avg(ln((c2.c2 + $k) / (c1.c1 + $k * vn.v))), 6) AS lm_score
       |FROM big
       |JOIN c2 ON c2.wa = big.wa AND c2.wb = big.wb
       |JOIN c1 ON c1.wa = big.wa
       |CROSS JOIN vn
       |GROUP BY 1""".stripMargin

  /** Hard-negative oracle: the annTopK ranking restricted to label-
    * mismatched (query, corpus) pairs. */
  def hardNegatives(nQueries: Int, k: Int): String =
    s"""WITH $EMB_NORM,
       |lab AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS l FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qn, lab.l AS ql
       |  FROM e JOIN lab ON lab.vec_id = e.vec_id WHERE e.vec_id < $nQueries),
       |scored AS MATERIALIZED (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 6) AS cosine
       |  FROM e JOIN lab nl ON nl.vec_id = e.vec_id
       |  JOIN q ON e.vec_id <> q.query_id AND nl.l <> q.ql),
       |ranked AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Multinomial Naive Bayes classifier oracle — exact mirror of
    * `Classifier.nbTrainScore` (train on even doc_ids, label = lang,
    * Laplace α, top-`maxVocab` vocabulary, score the full corpus, argmax
    * with the (round(score,9) desc, label asc) tie-break). */
  def nbClassify(alpha: Double, maxVocab: Int): String =
    s"""WITH tr AS MATERIALIZED (
       |  SELECT lang AS label, string_split(text, ' ') AS ws
       |  FROM documents WHERE doc_id % 2 = 0),
       |tok AS MATERIALIZED (SELECT label, unnest(ws) AS w FROM tr),
       |vocab AS MATERIALIZED (
       |  SELECT w FROM (SELECT w, count(*) AS cv FROM tok GROUP BY 1
       |                 ORDER BY cv DESC, w LIMIT $maxVocab)),
       |vs AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
       |counts AS MATERIALIZED (
       |  SELECT label, w, count(*) AS c FROM tok JOIN vocab USING (w)
       |  GROUP BY 1, 2),
       |tot AS MATERIALIZED (SELECT label, sum(c) AS tot FROM counts GROUP BY 1),
       |dense AS MATERIALIZED (
       |  SELECT t.label, v.w,
       |    ln((coalesce(c.c, 0) + $alpha) / (t.tot + $alpha * (SELECT v FROM vs))) AS log_lik
       |  FROM tot t CROSS JOIN vocab v
       |  LEFT JOIN counts c ON c.label = t.label AND c.w = v.w),
       |nd AS MATERIALIZED (
       |  SELECT lang AS label, count(*) AS nd FROM documents
       |  WHERE doc_id % 2 = 0 GROUP BY 1),
       |ndall AS MATERIALIZED (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents WHERE doc_id % 2 = 0),
       |stats AS MATERIALIZED (
       |  SELECT nd.label, ln(nd.nd / (SELECT n FROM ndall)) AS log_prior,
       |         ln($alpha / (t.tot + $alpha * (SELECT v FROM vs))) AS log_default
       |  FROM nd JOIN tot t ON t.label = nd.label),
       |dt AS MATERIALIZED (
       |  SELECT doc_id, w, count(*) AS cw
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |seen AS MATERIALIZED (
       |  SELECT dt.doc_id, d.label, sum(dt.cw * d.log_lik) AS s_seen
       |  FROM dt JOIN dense d ON d.w = dt.w GROUP BY 1, 2),
       |oov AS MATERIALIZED (
       |  SELECT doc_id, sum(cw) AS n_oov FROM dt
       |  WHERE w NOT IN (SELECT w FROM vocab) GROUP BY 1),
       |scored AS MATERIALIZED (
       |  SELECT b.doc_id, s.label,
       |    s.log_prior + coalesce(sn.s_seen, 0) + coalesce(o.n_oov, 0) * s.log_default AS score
       |  FROM (SELECT doc_id FROM documents) b
       |  CROSS JOIN stats s
       |  LEFT JOIN seen sn ON sn.doc_id = b.doc_id AND sn.label = s.label
       |  LEFT JOIN oov o ON o.doc_id = b.doc_id),
       |ranked AS (
       |  SELECT doc_id, label, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY round(score, 9) DESC, label) AS rn
       |  FROM scored)
       |SELECT doc_id, label AS pred_label, round(score, 6) AS score
       |FROM ranked WHERE rn = 1""".stripMargin

  /** Per-source corpus datasheet oracle: same blended quality, exact
    * ranked-element median. */
  val sourceStats: String =
    s"""WITH w AS (SELECT doc_id, source, n_chars, text, string_split(text, ' ') AS ws FROM documents),
       |f AS (SELECT doc_id, source, n_chars,
       |  CAST(len(ws) AS BIGINT) AS n_tok,
       |  CAST(len(ws) AS DOUBLE) AS n,
       |  len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS ttr,
       |  ${hitRatio("en")} AS stopr,
       |  list_sum(list_transform(ws, w -> len(w))) / CAST(len(ws) AS DOUBLE) AS meanlen
       |  FROM w),
       |base AS MATERIALIZED (SELECT doc_id, source, n_chars, n_tok,
       |  round(least(n / 200.0, 1.0) * 0.3 + ttr * 0.3 + least(stopr * 4.0, 1.0) * 0.2
       |        + CASE WHEN meanlen BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 6) AS q
       |  FROM f),
       |ag AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       round(avg(q), 6) AS mean_quality FROM base GROUP BY 1),
       |r AS (SELECT source, n_chars,
       |      row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY source) AS nn FROM base)
       |SELECT ag.source, ag.n_docs, ag.n_tokens, ag.mean_quality,
       |       CAST(r.n_chars AS BIGINT) AS median_chars
       |FROM ag JOIN r ON r.source = ag.source AND r.rn = (r.nn + 1) // 2""".stripMargin

  /** Cross-source shared-n-gram duplication matrix oracle. */
  def crossSourceDup(n: Int): String =
    s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT source, array_to_string(ws[i:i+${n - 1}], ' ') AS s
       |  FROM w, unnest(generate_series(1, len(ws) - ${n - 1})) AS t(i)
       |)
       |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** BPE training CTE chain: (distinct word, freq) table, then per round a
    * pair count, a deterministic argmax (freq desc, l, r), and the same
    * single-scan `/l/r/` → `/lr/` replace the Spark trainer applies.
    * Yields CTEs `b1..bN` (the winning merges) and `w0..wN` (the evolving
    * word table). */
  private def bpeCtes(nMerges: Int): String = {
    val b = new StringBuilder
    b ++= """wrd AS MATERIALIZED (
            |  SELECT w, count(*) AS n
            |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            |  WHERE w NOT LIKE '%/%' AND len(w) > 0 GROUP BY 1),
            |w0 AS MATERIALIZED (
            |  SELECT '/' || array_to_string(string_split(w, ''), '/') || '/' AS seq, n
            |  FROM wrd),
            |""".stripMargin
    for (i <- 1 to nMerges) {
      b ++= s"""t$i AS MATERIALIZED (
               |  SELECT seq, n, list_filter(string_split(seq, '/'), x -> x <> '') AS toks
               |  FROM w${i - 1}),
               |p$i AS MATERIALIZED (
               |  SELECT toks[i] AS l, toks[i + 1] AS r, sum(n) AS freq
               |  FROM t$i, unnest(generate_series(1, len(toks) - 1)) AS u(i)
               |  GROUP BY 1, 2),
               |b$i AS MATERIALIZED (SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1),
               |w$i AS MATERIALIZED (
               |  SELECT replace(seq,
               |           '/' || (SELECT l FROM b$i) || '/' || (SELECT r FROM b$i) || '/',
               |           '/' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '/') AS seq, n
               |  FROM w${i - 1})""".stripMargin
      b ++= ",\n"
    }
    b.dropRight(2).toString
  }

  /** BPE merge-table oracle (rank, left, right, n_occ). */
  def bpeTrain(nMerges: Int): String = {
    val rows = (1 to nMerges).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right",
         |       CAST(freq AS BIGINT) AS n_occ FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"WITH ${bpeCtes(nMerges)}\n$rows"
  }

  /** Post-BPE per-document subword counts: replay the learned merges over
    * every document's words with the same single-scan replace. */
  def bpeTokenCount(nMerges: Int): String = {
    val b = new StringBuilder
    b ++= s"WITH ${bpeCtes(nMerges)},\n"
    b ++= """d0 AS MATERIALIZED (
            |  SELECT doc_id, '/' || array_to_string(string_split(w, ''), '/') || '/' AS seq
            |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
            |  WHERE w NOT LIKE '%/%' AND len(w) > 0),
            |""".stripMargin
    for (i <- 1 to nMerges) {
      b ++= s"""d$i AS MATERIALIZED (
               |  SELECT doc_id, replace(seq,
               |           '/' || (SELECT l FROM b$i) || '/' || (SELECT r FROM b$i) || '/',
               |           '/' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '/') AS seq
               |  FROM d${i - 1}),
               |""".stripMargin
    }
    b ++= s"""final AS (
             |  SELECT doc_id, len(list_filter(string_split(seq, '/'), x -> x <> '')) AS k
             |  FROM d$nMerges)
             |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_subwords FROM final GROUP BY 1""".stripMargin
    b.toString
  }

  /** Cluster-balanced sampling oracle: the identical deterministic k-means
    * unroll as `embedDupIvf` / `annIvf`, then the top-`perCluster`
    * md5-priority rows per cluster. */
  def clusterSample(nlist: Int, perCluster: Int, iters: Int, dim: Int): String = {
    val avgList = "[" + (1 to dim).map(i => s"avg(v[$i])").mkString(", ") + "]"
    def assign(cents: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
    val b = new StringBuilder
    b ++= s"WITH $EMB_NORM,\n"
    b ++= kmeansC0(nlist)
    for (i <- 1 to iters) {
      b ++= assign(s"c${i - 1}", s"a$i") + ",\n"
      b ++= s"c$i AS MATERIALIZED (SELECT cid, $avgList AS cv FROM a$i GROUP BY cid),\n"
    }
    b ++= assign(s"c$iters", "bucketed") + ",\n"
    b ++= s"""pri AS (SELECT vec_id, cid,
             |  CAST('0x' || substr(md5(concat_ws('|', 'csample', vec_id, 42)), 1, 15) AS BIGINT) AS pri
             |  FROM bucketed),
             |r AS (SELECT vec_id, cid,
             |  row_number() OVER (PARTITION BY cid ORDER BY pri, vec_id) AS rn FROM pri)
             |SELECT vec_id, cid FROM r WHERE rn <= $perCluster""".stripMargin
    b.toString
  }

  /** k-NN majority-vote oracle: the `annTopK` exact ranking joined back to
    * the labels, argmax vote per query (votes desc, label asc). */
  /** Logistic-regression probe oracle: the EXACT unroll of
    * `Classifier.lrTrainScore` — teacher target y = (v · v_first > 0),
    * bias feature appended, `iters` full-batch GD steps at rate `lr`,
    * prob rounded to 6 dp, pred decided on the rounded prob. Per-step
    * weight lists are built with `list(... ORDER BY j)` so the dot
    * products accumulate in the same index order as VecDot. */
  def lrClassify(iters: Int, lr: Double): String = {
    val b = new StringBuilder
    b ++= s"""WITH raw AS MATERIALIZED (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |u AS (SELECT v AS uv FROM raw ORDER BY vec_id LIMIT 1),
             |e AS MATERIALIZED (
             |  SELECT vec_id, list_append(v, 1.0) AS xf,
             |    CASE WHEN list_dot_product(v, (SELECT uv FROM u)) > 0
             |         THEN 1.0 ELSE 0.0 END AS y
             |  FROM raw),
             |tr AS MATERIALIZED (SELECT xf, y FROM e WHERE vec_id % 2 = 0),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tr),
             |g1 AS MATERIALIZED (
             |  SELECT j, sum((0.5 - y) * xf[j]) AS g
             |  FROM tr, unnest(generate_series(1, len(xf))) AS t(j) GROUP BY j),
             |w1 AS MATERIALIZED (
             |  SELECT list(-$lr * g / (SELECT n FROM n) ORDER BY j) AS w FROM g1),
             |""".stripMargin
    for (i <- 2 to iters) {
      b ++= s"""s$i AS (
               |  SELECT xf, y,
               |    1.0/(1.0 + exp(-list_dot_product(xf, (SELECT w FROM w${i - 1})))) AS sig
               |  FROM tr),
               |g$i AS MATERIALIZED (
               |  SELECT j, sum((sig - y) * xf[j]) AS g
               |  FROM s$i, unnest(generate_series(1, len(xf))) AS t(j) GROUP BY j),
               |w$i AS MATERIALIZED (
               |  SELECT list(wj - $lr * g / (SELECT n FROM n) ORDER BY j) AS w
               |  FROM (SELECT j, g, (SELECT w FROM w${i - 1})[j] AS wj FROM g$i)),
               |""".stripMargin
    }
    b ++= s"""scored AS (
             |  SELECT vec_id,
             |    round(1.0/(1.0 + exp(-list_dot_product(xf, (SELECT w FROM w$iters)))), 6) AS prob
             |  FROM e)
             |SELECT vec_id, prob, CAST(prob >= 0.5 AS BIGINT) AS pred FROM scored""".stripMargin
    b.toString
  }

  def knnClassify(nQueries: Int, k: Int): String =
    s"""WITH $EMB_NORM,
       |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
       |                   WHERE vec_id < $nQueries),
       |scored AS MATERIALIZED (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 6) AS cosine
       |  FROM e JOIN q ON e.vec_id <> q.query_id),
       |ranked AS MATERIALIZED (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored),
       |votes AS (
       |  SELECT r.query_id, CAST(emb.label AS BIGINT) AS nlabel, count(*) AS n_votes
       |  FROM ranked r JOIN embeddings emb ON emb.vec_id = r.neighbor_id
       |  WHERE r.rank <= $k GROUP BY 1, 2),
       |best AS (
       |  SELECT query_id, nlabel, n_votes,
       |    row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, nlabel) AS rn
       |  FROM votes)
       |SELECT query_id, nlabel AS pred_label, n_votes FROM best WHERE rn = 1""".stripMargin

  val langId: String = {
    val langs = graft.pipeline.TextAnalysis.StopWords.keys.toSeq.sorted
    val scoreCols = langs.map(l => s"round(${hitRatio(l)}, 6) AS s_$l").mkString(",\n  ")
    val mx = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val pick = langs.map(l => s"WHEN s_$l = $mx THEN '$l'").mkString(" ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sc AS (SELECT doc_id,
       |  $scoreCols
       |  FROM w)
       |SELECT doc_id,
       |  CASE WHEN $mx <= 0 THEN 'und' $pick END AS lang_pred,
       |  round($mx, 6) AS lang_score
       |FROM sc""".stripMargin
  }

  /** Sliding-window chunker oracle: starts every `stride` tokens (1-based
    * in DuckDB list arithmetic, 0-based ids/offsets in the output),
    * trailing partial chunk kept — `TextAnalysis.chunkDocs` exactly. */
  def chunkDocs(window: Int, stride: Int): String =
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |SELECT doc_id,
       |  CAST((i - 1) // $stride AS BIGINT) AS chunk_id,
       |  CAST(i - 1 AS BIGINT) AS start_tok,
       |  CAST(least(len(ws) - (i - 1), $window) AS BIGINT) AS n_tok,
       |  array_to_string(ws[i:i+${window - 1}], ' ') AS chunk_text
       |FROM wd, unnest(generate_series(1, len(ws), $stride)) AS t(i)""".stripMargin

  def fingerprints(n: Int, w: Int): String =
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, i, ${h60(s"array_to_string(ws[i:i+${n - 1}], ' ')")} AS h
       |  FROM wd, unnest(generate_series(1, len(ws) - ${n - 1})) AS t(i)
       |)
       |SELECT DISTINCT doc_id,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY i
       |               ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp
       |FROM g""".stripMargin

  val mediaMeta: String =
    """SELECT doc_id, 'txt' AS format,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  md5(text) AS digest
      |FROM documents""".stripMargin

  /** Byte-histogram "decode" oracle: 16 bins over the utf-8 payload (the
    * documents are ASCII, so codepoint = byte). */
  val mediaDecode: String =
    """WITH ch AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
      |),
      |b AS MATERIALIZED (
      |  SELECT doc_id, ascii(c) // 16 AS bin, count(*) AS n FROM ch GROUP BY 1, 2
      |),
      |d AS MATERIALIZED (
      |  SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE) AS nb FROM documents
      |)
      |SELECT d.doc_id, t.bin, round(coalesce(b.n, 0) / d.nb, 6) AS ratio
      |FROM d CROSS JOIN unnest(generate_series(0, 15)) AS t(bin)
      |LEFT JOIN b ON b.doc_id = d.doc_id AND b.bin = t.bin""".stripMargin

  def frameSample(frameBytes: Int, stride: Int): String = {
    val step = frameBytes * stride
    s"""WITH d AS (SELECT doc_id,
       |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents)
       |SELECT doc_id, t.frame_id, t.frame_id * $step AS offset,
       |  least($frameBytes, n_bytes - t.frame_id * $step) AS frame_len
       |FROM d,
       |  unnest(generate_series(0, greatest(CAST(ceil(n_bytes / $step.0) AS BIGINT) - 1, 0)))
       |    AS t(frame_id)""".stripMargin
  }

  /** Sessionization oracle: the identical gaps-and-islands window over
    * exact epoch-microsecond timestamps, rolled up per (user, session). */
  def sessionStats(gapSeconds: Long): String = {
    val gapUs = gapSeconds * 1000000L
    s"""WITH e AS MATERIALIZED (
       |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
       |),
       |f AS MATERIALIZED (
       |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |                 OR ts_us - lag(ts_us) OVER w > $gapUs THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |),
       |g AS MATERIALIZED (
       |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM f
       |)
       |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(min(ts_us) AS BIGINT) AS start_us,
       |       CAST(max(ts_us) AS BIGINT) AS end_us,
       |       round(sum(value), 6) AS sum_value
       |FROM g GROUP BY 1, 2""".stripMargin
  }

  /** Strict-order funnel oracle: chained conditional min aggregations. */
  def funnel(steps: Seq[String]): String = {
    val b = new StringBuilder
    b ++= """WITH e AS MATERIALIZED (
            |  SELECT user_id, event_type AS et, epoch_us(ts) AS ts_us FROM events
            |),
            |u AS MATERIALIZED (SELECT DISTINCT user_id FROM e),
            |""".stripMargin
    for ((step, i) <- steps.zipWithIndex) {
      val prev = if (i == 0) "" else s"JOIN s${i - 1} USING (user_id)"
      val gate = if (i == 0) "" else s"AND ts_us > t_${steps(i - 1)}"
      b ++= s"""s$i AS MATERIALIZED (
               |  SELECT e.user_id, min(ts_us) AS t_$step FROM e $prev
               |  WHERE et = '$step' $gate GROUP BY 1
               |),
               |""".stripMargin
    }
    b.setLength(b.length - 2)
    val stage = steps.map(s => s"(CASE WHEN t_$s IS NOT NULL THEN 1 ELSE 0 END)")
      .mkString(" + ")
    b ++= s"""
      |SELECT u.user_id, ${steps.map(s => s"t_$s").mkString(", ")},
      |       CAST($stage AS BIGINT) AS stage
      |FROM u ${steps.indices.map(i => s"LEFT JOIN s$i USING (user_id)").mkString(" ")}""".stripMargin
    b.toString
  }

  /** Weekly retention-cohort oracle: engine-exact integer week arithmetic. */
  val retention: String =
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events
      |),
      |c AS MATERIALIZED (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM e JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Writer-path e2e oracle: exact-dedup canonical survivors → Gopher keep
    * → shard placement → per-shard manifest, each stage the already-gated
    * SQL composed. */
  def writerE2e(minWords: Int, nShards: Int,
                stopWords: Seq[String] = TextAnalysisStops,
                minStopHits: Int = 2): String =
    s"""WITH h AS MATERIALIZED (SELECT doc_id, md5(text) AS grp FROM documents),
       |canon AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM h GROUP BY grp),
       |gq AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |           CAST(len(ws) AS BIGINT) AS n_words,
       |           round(list_sum(list_transform(ws, x -> len(x)))
       |                 / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
       |           round((len(text) - len(replace(text, '#', ''))
       |                  + CAST(floor((len(text) - len(replace(text, '...', ''))) / 3.0) AS BIGINT))
       |                 / CAST(len(ws) AS DOUBLE), 6) AS symbol_ratio,
       |           round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
       |                 / CAST(len(ws) AS DOUBLE), 6) AS alpha_word_ratio,
       |           CAST(len(list_filter(${stopWords.map(w => s"'$w'").mkString("[", ", ", "]")},
       |                sw -> list_contains(ws, sw))) AS BIGINT) AS stop_hits
       |    FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
       |  ) WHERE n_words BETWEEN $minWords AND 100000
       |      AND mean_word_len BETWEEN 3.0 AND 10.0
       |      AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8 AND stop_hits >= $minStopHits
       |),
       |sel AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN canon USING (doc_id) JOIN gq USING (doc_id)
       |),
       |p AS MATERIALIZED (
       |  SELECT doc_id, ${h60("concat_ws('|', 'shard', doc_id, 42)")} AS pri,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM sel
       |),
       |placed AS MATERIALIZED (
       |  SELECT doc_id, pri % $nShards AS shard, n_toks,
       |         CAST(row_number() OVER (PARTITION BY pri % $nShards
       |                                 ORDER BY pri, doc_id) - 1 AS BIGINT) AS pos
       |  FROM p
       |)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |       bit_xor(${h60("concat_ws(':', doc_id, pos)")}) AS checksum
       |FROM placed GROUP BY shard""".stripMargin

  /** Gopher rule-battery oracle: the identical per-rule arithmetic over
    * string_split tokens; verdicts compare the same 6-dp-rounded ratios. */
  def gopherRules(minWords: Int, maxWords: Int,
                  stopWords: Seq[String] = TextAnalysisStops,
                  minStopHits: Int = 2): String = {
    val stops = stopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
       |),
       |m AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(len(ws) AS BIGINT) AS n_words,
       |         round(list_sum(list_transform(ws, x -> len(x)))
       |               / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
       |         round((len(text) - len(replace(text, '#', ''))
       |                + CAST(floor((len(text) - len(replace(text, '...', ''))) / 3.0) AS BIGINT))
       |               / CAST(len(ws) AS DOUBLE), 6) AS symbol_ratio,
       |         round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
       |               / CAST(len(ws) AS DOUBLE), 6) AS alpha_word_ratio,
       |         CAST(len(list_filter($stops, sw -> list_contains(ws, sw))) AS BIGINT) AS stop_hits
       |  FROM w
       |)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
       |       stop_hits,
       |       n_words BETWEEN $minWords AND $maxWords AS r_wordcount,
       |       mean_word_len BETWEEN 3.0 AND 10.0 AS r_meanlen,
       |       symbol_ratio <= 0.1 AS r_symbol,
       |       alpha_word_ratio >= 0.8 AS r_alpha,
       |       stop_hits >= $minStopHits AS r_stopwords,
       |       (n_words BETWEEN $minWords AND $maxWords)
       |         AND (mean_word_len BETWEEN 3.0 AND 10.0)
       |         AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8
       |         AND stop_hits >= $minStopHits AS keep
       |FROM m""".stripMargin
  }

  private val TextAnalysisStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Shard-manifest oracle: the q_shard placement, then per shard a count,
    * a token total, and a bit_xor fold of the per-placement 60-bit hash
    * (order-insensitive, so no string_agg ordering is involved). */
  def shardManifest(nShards: Int): String =
    s"""WITH p AS MATERIALIZED (
       |  SELECT doc_id, ${h60("concat_ws('|', 'shard', doc_id, 42)")} AS pri,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents
       |),
       |placed AS MATERIALIZED (
       |  SELECT doc_id, pri % $nShards AS shard, n_toks,
       |         CAST(row_number() OVER (PARTITION BY pri % $nShards
       |                                 ORDER BY pri, doc_id) - 1 AS BIGINT) AS pos
       |  FROM p
       |)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |       bit_xor(${h60("concat_ws(':', doc_id, pos)")}) AS checksum
       |FROM placed GROUP BY shard""".stripMargin

  /** DSIR importance-weight oracle: add-one-smoothed unigram log-likelihood
    * ratio of the target-language slice vs the raw corpus, summed per doc. */
  def dsir(targetLang: String): String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
       |),
       |wn AS MATERIALIZED (SELECT * FROM w WHERE len(w) > 0),
       |vocab AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS DOUBLE) AS c_r,
       |         CAST(count(*) FILTER (WHERE lang = '$targetLang') AS DOUBLE) AS c_t
       |  FROM wn GROUP BY w
       |),
       |st AS MATERIALIZED (
       |  SELECT sum(c_r) AS n_r, sum(c_t) AS n_t,
       |         CAST(count(*) AS DOUBLE) AS v FROM vocab
       |),
       |scored AS (
       |  SELECT doc_id,
       |         round(sum(ln((vc.c_t + 1.0) / (st.n_t + st.v))
       |                   - ln((vc.c_r + 1.0) / (st.n_r + st.v))), 6) AS dsir_logw
       |  FROM wn JOIN vocab vc USING (w) CROSS JOIN st
       |  GROUP BY doc_id
       |)
       |SELECT doc_id, dsir_logw, dsir_logw > 0.0 AS selected FROM scored""".stripMargin

  /** Tokenizer-fertility oracle: replays the bpeTokenCount merge chain and
    * aggregates subwords-per-word per language. */
  def fertility(nMerges: Int): String = {
    val b = new StringBuilder
    b ++= s"WITH ${bpeCtes(nMerges)},\n"
    b ++= """d0 AS MATERIALIZED (
            |  SELECT doc_id, '/' || array_to_string(string_split(w, ''), '/') || '/' AS seq
            |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
            |  WHERE w NOT LIKE '%/%' AND len(w) > 0),
            |""".stripMargin
    for (i <- 1 to nMerges) {
      b ++= s"""d$i AS MATERIALIZED (
               |  SELECT doc_id, replace(seq,
               |           '/' || (SELECT l FROM b$i) || '/' || (SELECT r FROM b$i) || '/',
               |           '/' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '/') AS seq
               |  FROM d${i - 1}),
               |""".stripMargin
    }
    b ++= s"""per_doc AS MATERIALIZED (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             |         CAST(sum(len(list_filter(string_split(seq, '/'), x -> x <> ''))) AS BIGINT) AS n_subwords
             |  FROM d$nMerges GROUP BY doc_id),
             |lng AS (SELECT doc_id, lang FROM documents)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_words) AS BIGINT) AS n_words,
             |       CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
             |       round(sum(n_subwords) / CAST(sum(n_words) AS DOUBLE), 6) AS fertility
             |FROM per_doc JOIN lng USING (doc_id) GROUP BY lang""".stripMargin
    b.toString
  }
}
