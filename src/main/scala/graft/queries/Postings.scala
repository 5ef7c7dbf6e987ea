package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** THE posting builder — the single tokenize/tf/dl implementation behind
  * every retrieval query (t10/t11 batch, t12/t13 step-loop, q88/q89
  * streaming CDC) and the single SQL-mirror generator behind their DuckDB
  * oracles (VERDICT r13 #3: five hand-kept copies of this logic meant one
  * drifted copy would trigger a hash-mismatch hunt across five queries).
  *
  * Corpus contract: single-space-separated text; tf is the exact per-
  * (doc, term) token count; dl is the doc's total token count. The SQL
  * mirrors MUST stay expression-for-expression equivalent to `build` —
  * the oracle gate compares result hashes bit-for-bit.
  */
object Postings {

  /** SCAN-PARALLELISM floor for CPU-heavy narrow derivations (r17, measured:
    * the driver testdata ships each table as ONE parquet file, so a scan is
    * one task and everything fused into it — tokenize + explode + the
    * groupBy's partial aggregation — ran on ONE core: 86 s of the 100 s
    * t13 rep on the r17 box was a single-task job). When the upstream scan
    * has fewer partitions than the session's configured parallelism,
    * repartition the (skinny, pre-explode) doc rows first so the heavy
    * map side runs wide; when the source is already wide — the real-corpus
    * case, where shuffling raw text would be the mistake — this is the
    * identity. Round-robin repartition keeps Z-set semantics untouched
    * (row-preserving; Spark's sort-before-repartition makes the assignment
    * deterministic under retry). */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    // df.rdd forces a physical-plan conversion on the driver to read the
    // partition count — fine at the current call sites (once per corpus
    // BUILD, never per step); if this ever moves into a per-step path,
    // thread the width from the source instead of probing the plan
    // (VERDICT r17 minor #5).
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** The standing query-term set shared by t11/t13/q89 and their oracles. */
  val QueryTerms: Seq[String] = Seq("spark", "query", "merge", "window")

  /** The concurrent standing query sets served by t14's shared retrieval
    * index (MultiBm25State). qa is t11/t13's set (a cross-check against the
    * single-query path); qc shares "merge" with qa — a posting whose floor
    * crosses must fan out to BOTH queries through the (query_id, term)
    * dimension. */
  val MultiQuerySets: Seq[(String, Seq[String])] = Seq(
    "qa" -> QueryTerms,
    "qb" -> Seq("join", "hash", "sort", "scan"),
    "qc" -> Seq("data", "stream", "table", "merge"),
    "qd" -> Seq("vector", "batch", "dup", "filter"))

  /** The target vocabulary of t15's incremental PMI association state —
    * the PMI analog of [[QueryTerms]]: the pair universe is C(|U|,2) = 28
    * pairs over these eight. */
  val PmiTerms: Seq[String] = Seq(
    "spark", "query", "merge", "window", "join", "hash", "stream", "batch")

  /** The centroid dimension of t16's incremental cosine assignment state
    * ([[graft.incremental.CosineState]]) — four topic prototypes in the
    * weighted space (fixed integer components, NOT re-weighted by idf —
    * the state's screen-soundness invariant). Supports overlap ("window" /
    * "merge" / "join" appear in two centroids each) so a crossed term fans
    * out across assignments, and their union U is drawn from the same word
    * pool as [[QueryTerms]]/[[PmiTerms]]. */
  val CosineCentroids: Seq[(String, Seq[(String, Long)])] = Seq(
    "c_engine" -> Seq("spark" -> 3L, "query" -> 2L, "merge" -> 2L,
      "window" -> 1L),
    "c_stream" -> Seq("stream" -> 3L, "batch" -> 2L, "window" -> 2L,
      "join" -> 1L),
    "c_store" -> Seq("table" -> 3L, "scan" -> 2L, "hash" -> 2L,
      "data" -> 1L, "merge" -> 1L),
    "c_vector" -> Seq("vector" -> 3L, "filter" -> 2L, "dup" -> 2L,
      "sort" -> 1L, "join" -> 1L))

  /** Distinct-term presence rows of a documents frame — the PmiState step
    * input: one (doc_id, term) row per DISTINCT term of the doc (presence,
    * not tf; `array_distinct` makes the per-doc uniqueness structural).
    * A CDC weight column `w` rides through like [[build]]'s. */
  def distinctTerms(docs: DataFrame): DataFrame = {
    val hasW = docs.columns.contains("w")
    val dims = Seq(col("doc_id")) ++ (if (hasW) Seq(col("w")) else Nil)
    spread(docs).select(dims :+
      explode(array_distinct(split(col("text"), " "))).as("term"): _*)
  }

  /** Full DuckDB oracle for t15's incremental PMI association score:
    * per-doc sum of the quantized exp-PMI surrogate
    * floor((N·c_ab)/(c_a·c_b)·1e4) over the doc's target-term pairs, with
    * N/c_a/c_ab over the `pred`-surviving corpus. The one division, one
    * multiply, one floor sequence is shared token-for-token with
    * PmiState.pq (exact-and-portable while N·c_ab < 2^53 — see the
    * state's numeric envelope). */
  def pmiOracleSql(pred: String, terms: Seq[String] = PmiTerms): String = {
    val inList = terms.map("'" + _ + "'").mkString(", ")
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE $pred),
         consts AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base),
         ut AS (
           SELECT DISTINCT doc_id, term FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM base)
           WHERE term IN ($inList)),
         ca AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY 1),
         pr AS (
           SELECT a.doc_id, a.term AS ta, b.term AS tb
           FROM ut a JOIN ut b ON a.doc_id = b.doc_id AND a.term < b.term),
         cab AS (
           SELECT ta, tb, CAST(count(*) AS BIGINT) AS cab
           FROM pr GROUP BY 1, 2),
         sc AS (
           SELECT p.doc_id,
             CAST(FLOOR(CAST(c.n_docs * x.cab AS DOUBLE)
               / CAST(ca1.c * ca2.c AS DOUBLE) * 1e4) AS BIGINT) AS pq
           FROM pr p JOIN cab x ON p.ta = x.ta AND p.tb = x.tb
           JOIN ca ca1 ON ca1.term = p.ta
           JOIN ca ca2 ON ca2.term = p.tb
           CROSS JOIN consts c)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(pq) AS BIGINT) AS score_q
         FROM sc GROUP BY 1"""
  }

  /** Full DuckDB oracle for t16's incremental cosine assignment: per-doc
    * best centroid by quantized tf-idf cosine over the `pred`-surviving
    * corpus. The quantized idf LEAST((idfGrid·N) // df, idfGrid·idfCap) is
    * exact BIGINT arithmetic shared token-for-token with CosineState.iqOf
    * (DuckDB's `//` is floor division, = Math.floorDiv on positives), and
    * the cosine's one-division/two-sqrt/one-multiply IEEE sequence is the
    * state's rescore expression verbatim. Every sum is a BIGINT small
    * enough to cast to DOUBLE value-exactly (the state's numeric
    * envelope), so the committed cos_q is bit-portable. */
  def cosineTop1OracleSql(pred: String,
                          cents: Seq[(String, Seq[(String, Long)])] = CosineCentroids,
                          idfGrid: Long = 64L, idfCap: Long = 64L,
                          /** Output quantization grid — must equal the
                            * state's `grid` ctor param (ADVICE r16: this
                            * was a hard-coded 1e6 while CosineState took a
                            * parameter — a non-default-grid state would
                            * silently mismatch this oracle). */
                          grid: Double = 1e6): String = {
    val uterms = cents.flatMap(_._2.map(_._1)).distinct
    val inList = uterms.map("'" + _ + "'").mkString(", ")
    val centVals = cents.flatMap { case (cid, ts) =>
      ts.map { case (t, w) => s"('$cid', '$t', CAST($w AS BIGINT))" }
    }.mkString(", ")
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE $pred),
         consts AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM base)
           WHERE term IN ($inList)
           GROUP BY 1, 2),
         dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         iq AS (
           SELECT term,
             LEAST(($idfGrid * c.n_docs) // df, ${idfGrid * idfCap}) AS iq
           FROM dft CROSS JOIN consts c),
         cent(cid, term, cw) AS (VALUES $centVals),
         nc AS (SELECT cid, CAST(sum(cw * cw) AS BIGINT) AS nc2
                FROM cent GROUP BY 1),
         dv AS (SELECT doc_id, term, tf * iq AS dvq
                FROM tf JOIN iq USING (term)),
         nd AS (SELECT doc_id, CAST(sum(dvq * dvq) AS BIGINT) AS nd2
                FROM dv GROUP BY 1),
         dt AS (
           SELECT dv.doc_id, cent.cid, CAST(sum(dv.dvq * cent.cw) AS BIGINT)
             AS dot
           FROM dv JOIN cent USING (term) GROUP BY 1, 2),
         sc AS (
           SELECT dt.doc_id, dt.cid,
             CAST(FLOOR(CAST(dt.dot AS DOUBLE)
               / (SQRT(CAST(nd.nd2 AS DOUBLE)) * SQRT(CAST(nc.nc2 AS DOUBLE)))
               * $grid) AS BIGINT) AS cos_q
           FROM dt JOIN nd USING (doc_id) JOIN nc USING (cid)),
         r AS (
           SELECT *, row_number() OVER
             (PARTITION BY doc_id ORDER BY cos_q DESC, cid ASC) AS rn
           FROM sc)
         SELECT doc_id, cid, cos_q FROM r WHERE rn = 1"""
  }

  /** Term-frequency postings of a documents frame. `docs` must carry
    * (doc_id, text) and MAY carry a CDC weight column `w` (constant per doc
    * within a delta — a doc's full posting set ships at one polarity);
    * every carried dimension rides the grouping. Output columns:
    * doc_id[, dl][, w], term, tf.
    *
    * `termFilter`: optional pre-aggregation restriction on `term` (the
    * query-restricted batch path, t11). Filtering before vs after the
    * groupBy is equivalent for a term-keyed predicate; before is cheaper —
    * the non-matching postings never shuffle. */
  def build(docs: DataFrame, withDl: Boolean,
            termFilter: Option[Column] = None): DataFrame = {
    val hasW = docs.columns.contains("w")
    val t = split(col("text"), " ")
    val dims = Seq(col("doc_id")) ++
      (if (withDl) Seq(size(t).as("dl")) else Nil) ++
      (if (hasW) Seq(col("w")) else Nil)
    val exploded = spread(docs).select(dims :+ explode(t).as("term"): _*)
    val filtered = termFilter.fold(exploded)(exploded.where)
    val gcols = Seq("doc_id") ++ (if (withDl) Seq("dl") else Nil) ++
      (if (hasW) Seq("w") else Nil) :+ "term"
    filtered.groupBy(gcols.map(col): _*).agg(count(lit(1)).as("tf"))
  }

  /** `build`'s posting columns in the screened states' order:
    * (doc_id, term, tf[, dl]). */
  def postingCols(withDl: Boolean): Seq[Column] =
    (Seq("doc_id", "term", "tf") ++ (if (withDl) Seq("dl") else Nil)).map(col)

  /** The corpus constants of the BM25 surrogate — N docs and T total
    * tokens — over the (possibly restricted) documents frame; broadcast by
    * callers. Matches the `consts` CTE of `bm25Top10OracleSql`. */
  def corpusConsts(docs: DataFrame): DataFrame =
    spread(docs).agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("t_toks"))

  /** SQL mirror (DuckDB) of `build(withDl = false)`: the `tok`/`tf` CTE
    * pair over `documents` restricted by `pred` (use "TRUE" for the full
    * corpus). */
  def tfSqlCtes(pred: String): String =
    s"""tok AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE $pred),
           tf AS (
             SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2)"""

  /** Full DuckDB oracle for the t12/q88 incremental TF-IDF top-term answer:
    * batch top-term per doc over the `pred`-surviving corpus with the
    * N-free quantized score floor(tf·C/df). The raw-quotient floor is exact
    * under tf·C < 2^53 (see TfIdfState.scoreQ's precision note), which is
    * why the oracle may keep the plain form. */
  def tfidfTop1OracleSql(pred: String, c: Long = 10000L): String =
    s"""WITH ${tfSqlCtes(pred)},
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         sc AS (
           SELECT tf.doc_id, tf.term, tf.tf,
             CAST(FLOOR(CAST(tf.tf * $c AS DOUBLE) / df.df) AS BIGINT)
               AS score_q
           FROM tf JOIN df USING (term)),
         r AS (
           SELECT *, row_number() OVER
             (PARTITION BY doc_id ORDER BY score_q DESC, term ASC) AS rn
           FROM sc)
         SELECT doc_id, term, tf, score_q FROM r WHERE rn = 1"""

  /** Full DuckDB oracle for t14's multi-query BM25-surrogate: per-query
    * top-10 over the `pred`-surviving corpus, with df/N/T SHARED across
    * queries (df is per TERM over the union-restricted postings — exactly
    * the sharing MultiBm25State maintains) and the per-posting sq fanned
    * out to queries through the (query_id, term) VALUES dimension. Same
    * IEEE sequence as [[graft.functions.Bm25.sq]]. */
  def multiBm25OracleSql(pred: String,
                         qsets: Seq[(String, Seq[String])]): String = {
    val uterms = qsets.flatMap(_._2).distinct
    val inList = uterms.map("'" + _ + "'").mkString(", ")
    val qtVals = qsets.flatMap { case (q, ts) =>
      ts.map(t => s"('$q', '$t')") }.mkString(", ")
    s"""WITH base AS (
           SELECT doc_id, len(string_split(text, ' ')) AS dl, text
           FROM documents WHERE $pred),
         consts AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_toks FROM base),
         qt(query_id, term) AS (VALUES $qtVals),
         tf AS (
           SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
             SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term
             FROM base)
           WHERE term IN ($inList)
           GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT q.query_id, f.doc_id,
             CAST(FLOOR(
               (CAST(2 * c.n_docs - 2 * d.df + 1 AS DOUBLE)
                 / CAST(2 * d.df + 1 AS DOUBLE))
               * (CAST(44 * c.t_toks * f.tf AS DOUBLE)
                 / CAST(20 * c.t_toks * f.tf + 6 * c.t_toks
                        + 18 * f.dl * c.n_docs AS DOUBLE))
               * 1e6) AS BIGINT) AS sq
           FROM tf f JOIN dft d USING (term) JOIN qt q USING (term)
           CROSS JOIN consts c),
         tot AS (
           SELECT query_id, doc_id, CAST(sum(sq) AS BIGINT) AS score_q
           FROM scored GROUP BY 1, 2)
         SELECT query_id, doc_id, score_q, rnk FROM (
           SELECT query_id, doc_id, score_q,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score_q DESC, doc_id) AS rnk
           FROM tot)
         WHERE rnk <= 10"""
  }

  /** Full DuckDB oracle for the t11/t13/q89 BM25-surrogate top-10: the
    * same factor-by-factor IEEE sequence as [[graft.functions.Bm25.sq]]
    * (two BIGINT ratios cast to DOUBLE, multiplied left-assoc, ×1e6,
    * floor), sq quantized BEFORE the per-doc BIGINT sum. */
  def bm25Top10OracleSql(pred: String): String = {
    val inList = QueryTerms.map("'" + _ + "'").mkString(", ")
    s"""WITH base AS (
           SELECT doc_id, len(string_split(text, ' ')) AS dl, text
           FROM documents WHERE $pred),
         consts AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_toks FROM base),
         tf AS (
           SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
             SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term
             FROM base)
           WHERE term IN ($inList)
           GROUP BY 1, 2, 3),
         dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT f.doc_id,
             CAST(FLOOR(
               (CAST(2 * c.n_docs - 2 * d.df + 1 AS DOUBLE)
                 / CAST(2 * d.df + 1 AS DOUBLE))
               * (CAST(44 * c.t_toks * f.tf AS DOUBLE)
                 / CAST(20 * c.t_toks * f.tf + 6 * c.t_toks
                        + 18 * f.dl * c.n_docs AS DOUBLE))
               * 1e6) AS BIGINT) AS sq
           FROM tf f JOIN dft d USING (term) CROSS JOIN consts c),
         tot AS (
           SELECT doc_id, CAST(sum(sq) AS BIGINT) AS score_q
           FROM scored GROUP BY 1)
         SELECT doc_id, score_q, rnk FROM (
           SELECT doc_id, score_q,
             row_number() OVER (ORDER BY score_q DESC, doc_id) AS rnk
           FROM tot)
         WHERE rnk <= 10"""
  }
}
