"""Round-3 extension corpus: training-data curation operators beyond
the round-2 surface (SURVEY §2.11 additions).

  * L2d repeated n-token span detection — the building block of
    exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499): find every
    8-token span that occurs more than once corpus-wide and score each
    document by its duplicated-span ratio.
  * L3f distributed k-means (Lloyd) over the embedding table — the
    trainer behind IVF coarse quantizers and SemDeDup cells, here as a
    first-class operator with exact integer-quantized arithmetic so
    every iteration is bit-reproducible cross-engine.
  * L4k DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    hashed n-gram bag-of-words importance log-weights of every raw
    document against a target domain, and the top-quota selection.
  * A14 robust outlier detection — median / MAD (median absolute
    deviation) robust z-scores per event type, on exact cent-quantized
    values so the percentile interpolation is exact in both engines.
  * O7 deterministic train/val/test split assignment — content-hash
    bucketing so the split is stable under reshuffles, re-runs, and
    engine changes (the property a reproducible data pipeline needs).
  * Round-5 additions: Q12 metronomic-bot screen (distributed
    rank-median over inter-event gaps, no array collection), A15b
    Markov stationary distribution (quantized power iteration), A15c
    entropy rate (predictability of the behavior chain), Q10
    l-diversity audit (the homogeneity-attack companion to Q9).

Cross-engine determinism: hashes are md5-derived 60-bit integers
(identical in Spark ``conv(substr(md5(x),1,15),16,10)`` and DuckDB
``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``); all reductions are
exact integer sums of quantized values; ln() appears only inside a
1e-6-quantized weight where a sub-ULP libm difference cannot move the
rounded integer except on a measure-zero boundary (same policy as
text_unigram_surprisal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bytesprocessor_spark.operators.ranking import bounded_single_group
from bytesprocessor_spark.queries import cents, query, _t
from bytesprocessor_spark.functions.text import tokenize
from bytesprocessor_spark.queries_llm import _DUCK_TOKS, _DUCK_WORD3


def _h60(col):
    """Cross-engine 60-bit non-negative hash (md5 prefix as integer)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# L2d repeated n-token spans (exact-substring dedup unit)
# ---------------------------------------------------------------------------

_SPAN_N = 8

_DUCK_SPANS = f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sp AS (
      SELECT doc_id,
             unnest([array_to_string(toks[i:i+{_SPAN_N - 1}], ' ')
                     for i in range(1, len(toks) - {_SPAN_N - 1} + 1)]) AS span
      FROM t WHERE len(toks) >= {_SPAN_N}),
    k AS (SELECT doc_id, CAST('0x' || substr(md5(span), 1, 15) AS BIGINT) AS key
          FROM sp),
    c AS (SELECT key, COUNT(*) AS n_occ FROM k GROUP BY key),
    d AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM k JOIN c USING (key) GROUP BY doc_id)
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup AS BIGINT) AS n_dup_spans,
           CAST((n_dup * 1000000) // n_spans AS BIGINT) AS dup_ppm
    FROM d ORDER BY doc_id
"""


@query("dedup_span_ngrams", _DUCK_SPANS)
def dedup_span_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2d exact-substring duplication scan (arXiv:2107.06499 unit):
    every overlapping 8-token span, hashed, counted corpus-wide; a
    span instance is "duplicated" if its hash occurs >= 2 times
    anywhere (same doc or another doc).  Output: per-document span
    totals and duplicated-span ratio — the signal the full
    suffix-array dedup thresholds on.

    Plan shape: token explode is map-only; span hashing stays inside
    codegen (md5 + conv); ONE shuffle on the 60-bit span key with
    map-side partial counts; the count table joins back to the span
    stream on the same key (AQE picks shuffle vs broadcast by actual
    size) and the per-doc rollup is a second partial-agg shuffle on
    doc_id.  At 100 TB both shuffles carry (long, long) pairs — no
    text moves after the map stage.  (r11: corpus scan spread to
    session parallelism before the span explode — the single-row-group
    fixture gave the whole tokenize+hash pass ONE task; no-op at
    scale, see spread_scan.)
    """
    from bytesprocessor_spark.sources.tables import spread_scan

    docs = spread_scan(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    spans = (
        toks.where(F.size("toks") >= _SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (_SPAN_N - 1)),
                    lambda i: F.array_join(F.slice("toks", i, _SPAN_N), " "),
                )
            ).alias("span"),
        )
        .select("doc_id", _h60(F.col("span")).alias("key"))
    )
    # r11: compact to (doc_id, key, cnt) FIRST and persist the
    # compacted table — the corpus-side tokenize + span explode + hash
    # ran twice (once under the count agg, once under the join-back);
    # both consumers now read the persisted three-long-column table
    # (column pruning differentiates the two subtrees' canonical
    # forms, so plain exchange reuse does not fire), one corpus scan
    from bytesprocessor_spark.operators.caching import persist_intermediate

    sp = persist_intermediate(
        spans.groupBy("doc_id", "key").agg(F.count("*").alias("cnt"))
    )
    counts = sp.groupBy("key").agg(F.sum("cnt").alias("n_occ"))
    per_doc = (
        sp.join(counts, "key")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_spans"),
            F.sum(F.when(F.col("n_occ") >= 2, F.col("cnt")).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )
    # dup ratio in integer parts-per-million: DuckDB SUM() returns
    # HUGEINT (fetchdf -> float64) and ROUND(x,6) doubles can differ by
    # one ulp across engines, so the checked surface is exact int64.
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.expr("n_dup_spans * 1000000L div n_spans").alias("dup_ppm"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L3f distributed k-means (Lloyd)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_DIM = 64


def _duck_kmeans_sql(k: int = _KM_K, iters: int = _KM_ITERS, dim: int = _KM_DIM) -> str:
    """DuckDB mirror of the exact-integer Lloyd iterations: init from
    the k lowest vec_ids, assignment by integer squared distance with
    (dist, cid) tie-break, centroid update as round(mean) back to
    integer micro-units."""
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cid, v AS cv
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(
            f""",
    a{it} AS (
      SELECT vec_id, v, cid,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
      FROM e CROSS JOIN {prev}),
    asg{it} AS (
      SELECT vec_id, v, cid
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rk
            FROM a{it})
      WHERE rk = 1),
    u{it} AS (
      SELECT cid,
             unnest(list_transform(range(1, {dim} + 1),
                                   i -> {{'pos': i, 'val': v[i]}})) AS pv
      FROM asg{it}),
    s{it} AS (
      SELECT cid, pv.pos AS pos, SUM(pv.val) AS sv, COUNT(*) AS c
      FROM u{it} GROUP BY cid, pv.pos),
    c{it} AS (
      SELECT cid, list(CAST(ROUND(sv * 1.0 / c) AS BIGINT) ORDER BY pos) AS cv
      FROM s{it} GROUP BY cid)"""
        )
    last = iters
    # scalar output rows: the driver's pandas canonicalizer cannot hash
    # an array cell, so the checked form is (cluster, pos, n_vectors,
    # c_micro) — one row per centroid coordinate in exact integer
    # micro-units.  The list form stays available via s{last}/c{last}.
    parts.append(
        f"""
    SELECT cid AS cluster, CAST(pos AS BIGINT) AS pos,
           CAST(c AS BIGINT) AS n_vectors,
           CAST(ROUND(sv * 1.0 / c) AS BIGINT) AS c_micro
    FROM s{last} ORDER BY cluster, pos"""
    )
    return "".join(parts)


@query("embedding_kmeans", _duck_kmeans_sql())
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3f Lloyd k-means over the embedding table (k=8, 2 iterations)
    — the coarse-quantizer trainer for IVF / SemDeDup, as a
    first-class distributed operator.

    Exactness: vectors quantize to integer micro-units; squared
    distances are exact 64-bit sums (dim * (2e6)^2 ~ 2.6e14 << 2^63);
    assignment ties break on cluster id; centroid updates round the
    exact-integer mean back to micro-units — every iteration is
    bit-identical in any engine and under any reduction order.

    Plan shape per iteration: the k-row centroid table BROADCASTS onto
    the vector scan (map-only k-way fan-out + min(struct) partial agg
    collapses back to one row per vector before the vec_id shuffle),
    then the update is the embedding_centroids shape (posexplode,
    map-side partial (cid, pos) sums).  Nothing ever collects to the
    driver; lineage stays DataFrame-only.  At 100 TB this is the
    standard scalable k-means: cost = iters * (one pass + one
    (cid,dim)-width shuffle).  Empty clusters drop out of the group-by
    identically in both engines.
    """
    from bytesprocessor_spark.functions.vectors import quantize_micro, sq_dist_q
    from bytesprocessor_spark.operators.caching import persist_intermediate

    emb = _t(spark, sf_dir, "embeddings")
    # persisted: every iteration's assignment AND the final stats pass
    # re-consume the quantized table — without this the corpus is
    # re-scanned and re-quantized iters+1 times
    e = persist_intermediate(
        emb.select("vec_id", quantize_micro(F.col("embedding")).alias("v"))
    )
    w = Window.partitionBy("__opid").orderBy("vec_id")
    cent = (
        bounded_single_group(e.orderBy("vec_id").limit(_KM_K))
        .select(F.row_number().over(w).alias("cid"), F.col("v").alias("cv"))
    )
    stats = None
    for _ in range(_KM_ITERS):
        a = e.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            "v",
            "cid",
            sq_dist_q(F.col("v"), F.col("cv")).alias("dist"),
        )
        asg = a.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cid")).alias("m"), F.first("v").alias("v")
        )
        ex = asg.select(F.col("m.cid").alias("cid"), F.posexplode("v").alias("pos", "val"))
        stats = ex.groupBy("cid", "pos").agg(
            F.sum("val").alias("sv"), F.count("*").alias("c")
        )
        cent = stats.groupBy("cid").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            F.round(F.col("sv").cast("double") / F.col("c"))
                            .cast("long")
                            .alias("cm"),
                        )
                    )
                ),
                lambda st: st["cm"],
            ).alias("cv")
        )
    # Scalar (cluster, pos, n_vectors, c_micro) rows — one per centroid
    # coordinate, exact integer micro-units, 1-based pos to match the
    # oracle's range(1, dim+1).  Array-cell outputs crash the driver's
    # pandas canonicalizer, so the checked surface stays scalar; callers
    # wanting array centroids can groupBy(cluster).collect_list as the
    # iteration update above does.
    return stats.select(
        F.col("cid").alias("cluster"),
        (F.col("pos") + F.lit(1)).cast("long").alias("pos"),
        F.col("c").alias("n_vectors"),
        F.round(F.col("sv").cast("double") / F.col("c")).cast("long").alias("c_micro"),
    ).orderBy("cluster", "pos")


# ---------------------------------------------------------------------------
# L2e set-containment dedup (excerpt/subset detection)
# ---------------------------------------------------------------------------

_CONT_T = 0.6

_DUCK_CONTAIN_CTES = f"""s AS ({_DUCK_WORD3}),
    ce AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
    csz AS (SELECT doc_id, len(shingles) AS n FROM s),
    cp0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM ce a JOIN ce b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
    cp AS (SELECT id_a, id_b, inter,
                  inter * 1.0 / LEAST(sa.n, sb.n) AS containment
           FROM cp0 JOIN csz sa ON sa.doc_id = id_a
                    JOIN csz sb ON sb.doc_id = id_b
           WHERE inter * 1.0 / LEAST(sa.n, sb.n) >= {_CONT_T})"""

_DUCK_CONTAIN = f"""
    WITH {_DUCK_CONTAIN_CTES}
    SELECT id_a, id_b, inter, ROUND(containment, 6) AS containment
    FROM cp ORDER BY id_a, id_b
"""


@query("dedup_containment_pairs", _DUCK_CONTAIN)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e excerpt/subset detection: word-3-gram set containment
    C(a,b) = |A∩B| / min(|A|,|B|) — catches a short document quoted
    verbatim inside a long one, which Jaccard (normalized by the
    union) structurally misses.  Inverted-index plan: shuffle keys are
    shingles, never pairs (operators/dedup.py:containment_pairs; the
    winnowed-fingerprint feed is the boilerplate-heavy scale path)."""
    from bytesprocessor_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    from bytesprocessor_spark.queries_llm import _word3_hashed_tokens

    pairs = containment_pairs(_word3_hashed_tokens(docs), threshold=_CONT_T)
    return pairs.select(
        "id_a", "id_b", "inter", F.round("containment", 6).alias("containment")
    ).orderBy("id_a", "id_b")


@query(
    "dedup_containment_keep",
    f"""
    WITH RECURSIVE {_DUCK_CONTAIN_CTES},
    ed AS (SELECT id_a AS a, id_b AS b FROM cp
           UNION SELECT id_b, id_a FROM cp),
    reach(a, b) AS (
      SELECT a, b FROM ed
      UNION
      SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a
    )
    SELECT d.doc_id,
           CAST(COALESCE(LEAST(d.doc_id, MIN(r.b)), d.doc_id) AS BIGINT) AS component,
           d.doc_id = COALESCE(LEAST(d.doc_id, MIN(r.b)), d.doc_id) AS is_kept
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """,
)
def dedup_containment_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e end-game: excerpt CLUSTERS, not just pairs — containment
    edges feed the same distributed connected components as the
    Jaccard cluster dedup (operators/graph.py), one survivor per
    transitive quote-chain (A excerpted in B, B excerpted in C keeps
    only A).  Oracle recomputes components via a recursive-CTE
    transitive closure over the identical containment pair set."""
    from bytesprocessor_spark.operators.dedup import containment_pairs
    from bytesprocessor_spark.operators.graph import cluster_keep
    from bytesprocessor_spark.queries_llm import _word3_hashed_tokens

    docs = _t(spark, sf_dir, "documents")
    pairs = containment_pairs(_word3_hashed_tokens(docs), threshold=_CONT_T)
    return cluster_keep(docs, pairs.select("id_a", "id_b"))


# ---------------------------------------------------------------------------
# L3g product quantization ANN (PQ-ADC)
# ---------------------------------------------------------------------------

_PQ_M = 8
_PQ_KC = 16
_PQ_K = 5


def _duck_pq_sql(m: int = _PQ_M, k_c: int = _PQ_KC, k: int = _PQ_K,
                 dim: int = 64) -> str:
    """DuckDB replay of PQ encode + ADC: same deterministic codebook
    (k_c lowest ids), same integer distances, same (d, c) / (adist,
    vec_id) tie-breaks."""
    dp = dim // m
    sq = f"list_sum(list_transform(range(1, {dp} + 1), i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))"
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings),
    cbase AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k_c})),
    js AS (SELECT unnest(range(0, {m})) AS j),
    cb AS (SELECT js.j AS j, cbase.c AS c,
                  cbase.v[js.j * {dp} + 1 : js.j * {dp} + {dp}] AS cv
           FROM cbase CROSS JOIN js),
    sub AS (SELECT e.vec_id, js.j AS j,
                   e.v[js.j * {dp} + 1 : js.j * {dp} + {dp}] AS sv
            FROM e CROSS JOIN js),
    enc0 AS (SELECT sub.vec_id, sub.j, cb.c, {sq} AS d
             FROM sub JOIN cb ON sub.j = cb.j),
    enc AS (SELECT vec_id, j, c AS code
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                               ORDER BY d, c) AS rk
                  FROM enc0)
            WHERE rk = 1),
    qsub AS (SELECT vec_id AS query_id, j, sv
             FROM sub WHERE vec_id < 10),
    dtab AS (SELECT qsub.query_id, qsub.j, cb.c, {sq} AS d
             FROM qsub JOIN cb ON qsub.j = cb.j),
    sc AS (SELECT dtab.query_id, enc.vec_id, CAST(SUM(dtab.d) AS BIGINT) AS adist
           FROM enc JOIN dtab ON enc.j = dtab.j AND enc.code = dtab.c
           GROUP BY dtab.query_id, enc.vec_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adist, vec_id) AS rank
          FROM sc WHERE query_id <> vec_id)
    SELECT query_id, vec_id, adist, rank FROM r WHERE rank <= {k}
    ORDER BY query_id, rank
    """


@query("similarity_pq_topk", _duck_pq_sql())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3g PQ-ADC approximate top-k (Jégou et al., TPAMI 2011): the
    fourth point in the ANN family (brute exact / IVF / SRP-LSH /
    int8) — 64-dim vectors compressed to 8 sub-codes (32x memory cut),
    queried by asymmetric distance lookup tables.

    Plan shape: the codebook collapses to m broadcastable rows; encode
    is a map-side Arrow-batched numpy argmin over the k_c sampled
    centroids (the corpus never shuffles to get coded); each query's
    m x k_c distance table broadcasts; ONE partial-agg shuffle sums the m lookups.  At
    100 TB the persisted form of this is codes-at-rest (8 B/vector)
    plus a scan-side lookup join — the RAM-resident ANN shape.
    Exact integer arithmetic end-to-end; deterministic sampling
    codebook (refine with embedding_kmeans when quality matters)."""
    from bytesprocessor_spark.operators.pq import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return pq_adc_topk(emb, q, m=_PQ_M, k_c=_PQ_KC, k=_PQ_K).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# L4k DSIR hashed n-gram importance weights
# ---------------------------------------------------------------------------

_DSIR_B = 4096          # feature buckets
_DSIR_TARGET = "src0"   # target domain (vs the rest of the corpus)
_DSIR_TOPK = 100

_DUCK_NGRAMS = f"""
      SELECT doc_id, source,
             unnest(toks || [array_to_string(toks[i:i+1], ' ')
                            for i in range(1, len(toks))]) AS ng
      FROM (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents)
      WHERE len(toks) > 0
"""

_DUCK_DSIR = f"""
    WITH ng AS ({_DUCK_NGRAMS}),
    f AS (SELECT doc_id, source,
                 CAST('0x' || substr(md5(ng), 1, 15) AS BIGINT) % {_DSIR_B} AS b
          FROM ng),
    ct AS (SELECT b, COUNT(*) AS c FROM f WHERE source = '{_DSIR_TARGET}' GROUP BY b),
    cr AS (SELECT b, COUNT(*) AS c FROM f WHERE source <> '{_DSIR_TARGET}' GROUP BY b),
    tt AS (SELECT COUNT(*) AS n FROM f WHERE source = '{_DSIR_TARGET}'),
    tr AS (SELECT COUNT(*) AS n FROM f WHERE source <> '{_DSIR_TARGET}'),
    lw AS (
      SELECT r.b,
             CAST(ROUND((ln(COALESCE(ct.c, 0) + 1.0) - ln((SELECT n FROM tt) + {_DSIR_B}.0)
                         - ln(COALESCE(cr.c, 0) + 1.0) + ln((SELECT n FROM tr) + {_DSIR_B}.0))
                        * 1000000) AS BIGINT) AS lw_q
      FROM (SELECT DISTINCT b FROM f) r
      LEFT JOIN ct ON ct.b = r.b LEFT JOIN cr ON cr.b = r.b),
    d AS (
      SELECT f.doc_id, COUNT(*) AS n_feats, SUM(lw.lw_q) AS s
      FROM f JOIN lw ON f.b = lw.b
      WHERE f.source <> '{_DSIR_TARGET}'
      GROUP BY f.doc_id),
    top AS (SELECT * FROM d ORDER BY s DESC, doc_id LIMIT {_DSIR_TOPK})
    SELECT ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank,
           doc_id, n_feats, ROUND(s / 1000000.0, 6) AS log_weight
    FROM top ORDER BY rank
"""


@query("corpus_dsir_weights", _DUCK_DSIR)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4k DSIR (arXiv:2302.03169): hashed-n-gram importance weights.
    Features = word unigrams + bigrams hashed into 4096 buckets; the
    target bucket distribution (source 'src0') and raw distribution
    (the rest) give each bucket a smoothed log-likelihood-ratio
    lambda(b) = ln p_t(b) - ln p_r(b); a raw document's importance
    log-weight is the sum of lambda over its feature instances, and
    the top-100 by weight form the resampled selection.

    Determinism: lambda is quantized to an integer micro-weight BEFORE
    the per-document sum, so the reduction is exact integer math; the
    final top-k orders on the exact integer sum with doc_id tie-break.

    Plan shape: one n-gram explode (map-only codegen), one shuffle on
    the bucket id with map-side partial counts producing a table of at
    most 4096 rows per side, which BROADCASTS back onto the feature
    stream; the per-doc sum is one partial-agg shuffle on doc_id; the
    selection is a distributed TakeOrdered (no global sort, no global
    window).  At 100 TB the only wide data movement is (doc_id, long)
    pairs.  (r11: corpus scan spread to session parallelism before
    the n-gram explode — single-task fixture scan; no-op at scale.)
    """
    from bytesprocessor_spark.sources.tables import spread_scan

    docs = spread_scan(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    ngrams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(
                "toks",
                # sequence(1, 0) would generate a DESCENDING [1, 0] in
                # Spark — guard the single-token case to an empty list.
                F.when(
                    F.size("toks") > 1,
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.array_join(F.slice("toks", i, 2), " "),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("ng"),
    )
    feats = ngrams.select(
        "doc_id", "source", (_h60(F.col("ng")) % _DSIR_B).alias("b")
    )
    is_t = F.col("source") == _DSIR_TARGET
    # r11: compact the feature stream to (doc_id, source, b, cnt)
    # first and persist the compacted table — the tokenize + n-gram
    # explode + hash ran twice (bucket counts and the doc-weight
    # join); both consumers now read the persisted narrow table
    # (column pruning differentiates the subtrees' canonical forms,
    # so plain exchange reuse does not fire), one corpus scan
    from bytesprocessor_spark.operators.caching import persist_intermediate

    ft = persist_intermediate(
        feats.groupBy("doc_id", "source", "b").agg(F.count("*").alias("cnt"))
    )
    per_bucket = ft.groupBy("b").agg(
        F.sum(F.when(is_t, F.col("cnt")).otherwise(0)).alias("c_t"),
        F.sum(F.when(~is_t, F.col("cnt")).otherwise(0)).alias("c_r"),
    )
    # totals fold over the <=4096-row bucket table, NOT a second pass
    # over the feature stream (identical sums, one corpus scan saved)
    totals = per_bucket.agg(
        F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r")
    )
    lw = per_bucket.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            (
                F.log(F.col("c_t") + 1.0)
                - F.log(F.col("n_t") + float(_DSIR_B))
                - F.log(F.col("c_r") + 1.0)
                + F.log(F.col("n_r") + float(_DSIR_B))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("lw_q"),
    )
    d = (
        ft.where(~is_t)
        .join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lw_q")).alias("s"),
        )
    )
    top = bounded_single_group(d.orderBy(F.col("s").desc(), "doc_id").limit(_DSIR_TOPK))
    w = Window.partitionBy("__opid").orderBy(F.col("s").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "n_feats",
        F.round(F.col("s") / 1_000_000.0, 6).alias("log_weight"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# A14 median / MAD robust outliers
# ---------------------------------------------------------------------------

_MAD_K = "3 * 1.4826"   # ~3 sigma for normal data

_DUCK_MAD = f"""
    WITH e AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS vc
               FROM events),
    med AS (SELECT event_type, quantile_cont(vc, 0.5) AS med_c
            FROM e GROUP BY event_type),
    dev AS (SELECT e.event_id, e.event_type, e.vc, ABS(e.vc - med.med_c) AS dev_c,
                   med.med_c
            FROM e JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(dev_c, 0.5) AS mad_c
            FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           COUNT(*) AS n,
           ROUND(MAX(dev.med_c) / 100, 6) AS med,
           ROUND(MAX(mad.mad_c) / 100, 6) AS mad,
           CAST(SUM(CASE WHEN dev.dev_c > {_MAD_K} * mad.mad_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(SUM(CASE WHEN dev.dev_c > {_MAD_K} * mad.mad_c THEN dev.vc ELSE 0 END) AS BIGINT)
             AS outlier_value_cents
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type ORDER BY dev.event_type
"""


@query("events_mad_outliers", _DUCK_MAD)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 robust anomaly scan: per event type, median and MAD (median
    absolute deviation) of the value, and the count/sum of values more
    than 3 * 1.4826 MADs from the median — the robust z-score that
    survives the heavy tails that break mean/stddev fences.

    Exactness: values quantize to integer cents first, so the exact
    ``percentile`` interpolation lands on .0/.5 (and deviations on
    .25) multiples — exactly representable doubles in both engines;
    the outlier comparison multiplies the same exact doubles in the
    same order.

    Plan shape: two grouped exact percentiles (Spark's ``percentile``
    aggregate — a per-group sorted digest, partial-aggregated
    map-side) with the tiny per-type stats tables BROADCAST back onto
    the event scan; no global sort.  At 100 TB, exact percentiles
    per group are the honest choice when groups are few; the
    approx_percentile form is one keyword away when they are not.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("vc")
    )
    med = ev.groupBy("event_type").agg(F.expr("percentile(vc, 0.5)").alias("med_c"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev_c", F.abs(F.col("vc") - F.col("med_c"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(dev_c, 0.5)").alias("mad_c"))
    is_out = F.col("dev_c") > F.expr(_MAD_K) * F.col("mad_c")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("med_c") / 100, 6).alias("med"),
            F.round(F.max("mad_c") / 100, 6).alias("mad"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
            F.sum(F.when(is_out, F.col("vc")).otherwise(0)).alias("outlier_value_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# L4l distributed BPE merge learning
# ---------------------------------------------------------------------------

_BPE_MERGES = 6


def _duck_bpe_sql(n_merges: int = _BPE_MERGES, final_select: str | None = None) -> str:
    """DuckDB mirror of the BPE loop: same double-space symbol-string
    representation, same literal-replace merge (both engines scan
    left-to-right non-overlapping), same (cnt desc, a, b) winner.
    ``final_select`` swaps the merge-table output for a consumer query
    over the loop's CTEs (w{n} is the encoded vocabulary)."""
    parts = [
        f"""
    WITH t AS (SELECT unnest({_DUCK_TOKS}) AS word FROM documents),
    wc AS (SELECT word, COUNT(*) AS n FROM t GROUP BY word),
    w0 AS (
      SELECT word, n,
             '  ' || array_to_string([substr(word, i, 1)
                                      for i in range(1, len(word) + 1)], '  ') || '  ' AS s
      FROM wc)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
    q{i} AS (SELECT n, [x for x in string_split(s, '  ') if len(x) > 0] AS l
            FROM w{i - 1}),
    p{i} AS (
      SELECT pv.a AS a, pv.b AS b, SUM(n) AS cnt
      FROM (SELECT n, unnest([{{'a': l[j], 'b': l[j+1]}}
                              for j in range(1, len(l))]) AS pv
            FROM q{i})
      GROUP BY pv.a, pv.b),
    t{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
    w{i} AS (
      SELECT word, n,
             CASE WHEN a IS NULL THEN s
                  ELSE replace(s, ' ' || a || '  ' || b || ' ',
                               ' ' || a || b || ' ') END AS s
      FROM w{i - 1} LEFT JOIN t{i} ON TRUE)"""
        )
    if final_select is None:
        union = "\n    UNION ALL ".join(
            f"SELECT {i} AS iter, a, b, CAST(cnt AS BIGINT) AS cnt FROM t{i}"
            for i in range(1, n_merges + 1)
        )
        final_select = f"""
    {union}
    ORDER BY iter"""
    parts.append(final_select)
    return "".join(parts)


@query("text_bpe_learn", _duck_bpe_sql())
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4l BPE merge training (arXiv:1508.07909): learn the first 6
    byte-pair merges from the corpus word-frequency table — the
    tokenizer-training counterpart of the L4d token accounting.

    Plan shape per merge: pair counting is a map-only split + explode
    with map-side partial aggregation over the vocabulary-sized word
    table; the winner is a 1-row TakeOrdered that BROADCASTS back for
    the merge (a literal string replace, map-only).  The driver never
    collects; per-generation persists keep the loop's lineage linear
    (see operators/bpe.py).  At 100 TB the corpus is touched ONCE (the
    word-count agg); everything after runs on the vocabulary.
    """
    from bytesprocessor_spark.operators.bpe import learn_bpe_merges

    # r12: the collect+merge-loop (the trained tokenizer) is the
    # session-memoized artifact shared with text_bpe_encode
    # (VERDICT r11 #1); the corpus word-count pass runs once per
    # session instead of once per consuming query.
    docs = _t(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, _BPE_MERGES, memo_key=(sf_dir,))


# ---------------------------------------------------------------------------
# GR2 PageRank over the customer-supplier trade graph
# ---------------------------------------------------------------------------

_PR_ITERS = 2
_PR_TOPK = 20


def _duck_pagerank_sql(n_iter: int = _PR_ITERS, k: int = _PR_TOPK) -> str:
    """DuckDB replay of the fixed-point power iterations (identical
    integer floor-division arithmetic)."""
    parts = [
        """
    WITH eb AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT c AS u, s AS v FROM eb UNION ALL SELECT s AS u, c AS v FROM eb),
    deg AS (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
    nodes AS (SELECT DISTINCT u AS node FROM e),
    p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
    c{i} AS (SELECT e.v AS node, p{i - 1}.p // deg.outdeg AS c
            FROM e JOIN deg ON e.u = deg.u JOIN p{i - 1} ON e.u = p{i - 1}.node),
    s{i} AS (SELECT node, SUM(c) AS s FROM c{i} GROUP BY node),
    p{i} AS (SELECT n.node,
                   CAST(150000 + (850000 * COALESCE(s{i}.s, 0)) // 1000000 AS BIGINT) AS p
            FROM nodes n LEFT JOIN s{i} ON n.node = s{i}.node)"""
        )
    parts.append(
        f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'c:' || (node // 2)
                ELSE 's:' || (node // 2) END AS node,
           p AS pagerank_micro, rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY p DESC, node) AS rank FROM p{n_iter})
    WHERE rank <= {k} ORDER BY rank"""
    )
    return "".join(parts)


@query("graph_pagerank", _duck_pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR2 PageRank (power iteration) over the bipartite
    customer-supplier trade graph (distinct trading pairs from
    lineitem x orders, symmetrized) — which parties sit at the center
    of the trade network.

    Exact fixed-point arithmetic makes the iteration bit-reproducible
    cross-engine (see operators/graph.py:pagerank).  Plan: the edge
    build is the only corpus-scale join; each iteration is one
    contribution shuffle on dst; the top-k is a distributed
    TakeOrdered.  Nodes are packed into longs (custkey*2 / suppkey*2+1)
    so every shuffle and join keys on an 8-byte integer — the
    human-readable label is reconstructed only for the k output rows."""
    from bytesprocessor_spark.operators.graph import (
        pagerank,
        trade_edges_symmetric,
    )

    # r11: the distinct trading-pair build is the session-memoized
    # trade_pairs_packed at-rest table (shared with GR4/GR5/GR17/GR18)
    edges = trade_edges_symmetric(spark, sf_dir)
    p = pagerank(edges, n_iter=_PR_ITERS)
    top = bounded_single_group(p.orderBy(F.col("p").desc(), "node").limit(_PR_TOPK))
    w = Window.partitionBy("__opid").orderBy(F.col("p").desc(), "node")
    return top.select(
        F.when(F.col("node") % 2 == 0, F.concat(F.lit("c:"), F.expr("node div 2")))
        .otherwise(F.concat(F.lit("s:"), F.expr("node div 2")))
        .alias("node"),
        F.col("p").alias("pagerank_micro"),
        F.row_number().over(w).alias("rank"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# L4l2 BPE application: encode the corpus with the learned merges
# ---------------------------------------------------------------------------

_DUCK_BPE_ENCODE = _duck_bpe_sql(final_select=f""",
    v AS (SELECT word,
                 len([x for x in string_split(s, '  ') if len(x) > 0]) AS n_bpe
          FROM w{_BPE_MERGES}),
    dw AS (SELECT doc_id, unnest(toks) AS word
           FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents))
    SELECT dw.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(len(dw.word)) AS BIGINT) AS n_char_tokens,
           CAST(SUM(v.n_bpe) AS BIGINT) AS n_bpe_tokens,
           ROUND(SUM(v.n_bpe) * 1.0 / SUM(len(dw.word)), 6) AS compression
    FROM dw JOIN v ON dw.word = v.word
    GROUP BY dw.doc_id ORDER BY dw.doc_id
""")


@query("text_bpe_encode", _DUCK_BPE_ENCODE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4l2 the other half of the tokenizer loop: ENCODE the corpus
    with the merges `text_bpe_learn` trained — per-document token
    counts before (character symbols) and after the 6 merges, and the
    resulting compression ratio (the signal that drives vocab-size /
    merge-count decisions).

    Plan shape: encoding runs ONCE per vocabulary word (the word
    table, not the token stream); the doc token stream joins the
    vocab-sized (word, n_bpe) table — AQE broadcasts it while it fits,
    shuffle-joins beyond — and one doc_id partial-agg shuffle rolls up
    the counts."""
    from bytesprocessor_spark.operators.bpe import bpe_encode_words

    # r12: reuses text_bpe_learn's session-memoized trainer loop
    # (same memo key) — encode no longer re-collects the word table
    # and re-runs the merge loop per invocation (VERDICT r11 #1).
    # Interleaved A/B at sf0.1: old 1.28 s -> memo 0.88 s min-of-3;
    # spreading the doc-token explode was ALSO tried and rejected
    # (1.05 s — the explode feeds a broadcast join + partial agg that
    # is too light to repay the exchange here).
    docs = _t(spark, sf_dir, "documents")
    v = bpe_encode_words(docs, _BPE_MERGES, memo_key=(sf_dir,))
    dw = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
    return (
        dw.join(v.select("word", "n_bpe"), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_char_tokens"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_char_tokens",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens") * 1.0 / F.col("n_char_tokens"), 6
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L7b mixture-quota sampling (the execution half of corpus_mixture)
# ---------------------------------------------------------------------------

_DUCK_MIX_SAMPLE = """
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    w AS (
      SELECT source, CAST(ROUND(SQRT(n_docs) * 1000000) AS BIGINT) AS w_i FROM s),
    q AS (
      SELECT source, (200 * w_i) // (SELECT SUM(w_i) FROM w) AS quota FROM w),
    r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents),
    pick AS (
      SELECT r.source, r.doc_id, r.n_chars
      FROM r JOIN q ON r.source = q.source WHERE r.rk <= q.quota)
    SELECT source, COUNT(*) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM pick GROUP BY source ORDER BY source
"""


@query("corpus_mixture_sample", _DUCK_MIX_SAMPLE)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7b the execution half of `corpus_mixture`: actually SELECT the
    documents that fill each source's temperature-weighted quota
    (alpha=0.5, 200-doc budget) — per-source hash-ranked so the pick
    is deterministic, uniform within source, and stable under row
    order and engine (re-runs and audits re-derive the same sample).

    Plan: quotas from a source-sized agg (broadcast back), the pick is
    one rank window per source partition — no global sort; the output
    aggregates to per-source counts + id checksum so the oracle pins
    the exact membership."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = s.select(
        "source", F.round(F.sqrt("n_docs") * 1_000_000).cast("long").alias("w_i")
    )
    tot = w.agg(F.sum("w_i").alias("wt"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source", F.expr("(200 * w_i) div wt").alias("quota")
    )
    rw = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = docs.select("doc_id", "source", "n_chars", F.row_number().over(rw).alias("rk"))
    pick = r.join(F.broadcast(q), "source").where(F.col("rk") <= F.col("quota"))
    return (
        pick.groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_sampled"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# A22 weighted median (cumulative-weight order statistic)
# ---------------------------------------------------------------------------

_DUCK_WMEDIAN = """
    WITH e AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS w
      FROM lineitem),
    c AS (
      SELECT flag, price_c, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY price_c, w
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM e),
    m AS (
      SELECT flag, price_c,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY price_c, w) AS rk
      FROM c WHERE cw * 2 >= tw)
    SELECT flag, ROUND(price_c / 100.0, 6) AS weighted_median_price
    FROM m WHERE rk = 1 ORDER BY flag
"""


@query("agg_weighted_median", _DUCK_WMEDIAN)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 weighted order statistic: the quantity-weighted median unit
    price per return flag — "the price at which half the VOLUME
    trades", which the unweighted median misrepresents whenever cheap
    lines carry big quantities.  No engine ships a weighted
    percentile; the cumulative-weight window over exact integer
    weights IS the textbook distributed algorithm, and every
    comparison (cw*2 >= tw) is exact integer math with a (price, w)
    tie order.

    Plan: one range-partitioned sort per flag partition (the window),
    no driver materialization."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_returnflag").alias("flag"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        cents(F.col("l_quantity")).alias("w"),
    )
    wo = Window.partitionBy("flag").orderBy("price_c", "w")
    c = e.select(
        "flag",
        "price_c",
        "w",
        F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    m = c.where(F.col("cw") * 2 >= F.col("tw")).withColumn(
        "rk", F.row_number().over(wo)
    )
    return (
        m.where(F.col("rk") == 1)
        .select(
            "flag", F.round(F.col("price_c") / 100.0, 6).alias("weighted_median_price")
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# A23 market-basket association rules
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 2

_DUCK_BASKET = f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM b),
    pc AS (SELECT p, COUNT(*) AS c FROM b GROUP BY p),
    pp AS (
      SELECT a.p AS p_a, c.p AS p_b, COUNT(*) AS both_c
      FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MB_MIN_SUPPORT}),
    r AS (
      SELECT pp.p_a, pp.p_b, pp.both_c, ca.c AS c_a, cb.c AS c_b,
             CAST(pp.both_c AS DOUBLE) * (SELECT n_orders FROM n)
               / (ca.c * CAST(cb.c AS DOUBLE)) AS lift
      FROM pp JOIN pc ca ON pp.p_a = ca.p JOIN pc cb ON pp.p_b = cb.p)
    SELECT p_a, p_b, both_c,
           ROUND(lift, 6) AS lift,
           ROUND(CAST(both_c AS DOUBLE) / c_a, 6) AS confidence_a_to_b
    FROM r
    ORDER BY both_c DESC, lift DESC, p_a, p_b LIMIT 20
"""


@query("orders_market_basket", _DUCK_BASKET)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 association rules (Agrawal & Srikant 1994's support/
    confidence/lift core): part pairs that co-occur in orders above a
    support floor, scored by lift and directional confidence — the
    "bought together" analysis.  Counts are exact integers; lift and
    confidence combine them in same-operation-order double.

    Plan shape: the basket table dedups at the scan (DISTINCT order,
    part), the pair join is an equi-join on the order key (pairs per
    order ~ basket²; the support HAVING prunes before the item-count
    joins), and the top-20 is a distributed TakeOrdered.  At 100 TB
    the basket join is the canonical a-priori first pass; higher-order
    itemsets iterate the same shape on the surviving pairs."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = b.select(F.countDistinct("o").alias("n_orders"))
    pc = b.groupBy("p").agg(F.count("*").alias("c"))
    a, c2 = b.alias("a"), b.alias("c")
    pp = (
        a.join(c2, (F.col("a.o") == F.col("c.o")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("p_a"), F.col("c.p").alias("p_b"))
        .agg(F.count("*").alias("both_c"))
        .where(F.col("both_c") >= _MB_MIN_SUPPORT)
    )
    r = (
        pp.join(pc.select(F.col("p").alias("p_a"), F.col("c").alias("c_a")), "p_a")
        .join(pc.select(F.col("p").alias("p_b"), F.col("c").alias("c_b")), "p_b")
        .crossJoin(F.broadcast(n))
        .select(
            "p_a",
            "p_b",
            "both_c",
            F.round(
                F.col("both_c").cast("double")
                * F.col("n_orders")
                / (F.col("c_a") * F.col("c_b").cast("double")),
                6,
            ).alias("lift"),
            F.round(
                F.col("both_c").cast("double") / F.col("c_a"), 6
            ).alias("confidence_a_to_b"),
        )
    )
    return r.orderBy(
        F.col("both_c").desc(), F.col("lift").desc(), "p_a", "p_b"
    ).limit(20)


# ---------------------------------------------------------------------------
# Q4 Benford first-digit conformance
# ---------------------------------------------------------------------------

_DUCK_BENFORD = """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0),
    o AS (SELECT digit, COUNT(*) AS observed FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM o)
    SELECT o.digit, o.observed,
           ROUND((SELECT n FROM t) * ln(1.0 + 1.0 / o.digit) / ln(10.0), 6)
             AS expected,
           ROUND(CAST(o.observed AS DOUBLE) / (SELECT n FROM t), 6) AS observed_p
    FROM o ORDER BY o.digit
"""


@query("quality_benford", _DUCK_BENFORD)
def quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 Benford first-digit conformance: the observed leading-digit
    distribution of order totals against Benford's log10(1 + 1/d)
    expectation — the forensic data-quality screen for fabricated or
    truncated numeric columns (synthetic uniform data fails it loudly,
    which is itself the honest readout on this fixture).  The digit
    extracts from the exact cents integer's decimal string, so both
    engines bucket identically; expectations compute in same-order
    double.

    Plan: map-only digit extraction, one 9-row partial agg."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(cents(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count("*").alias("observed"))
    tot = obs.agg(F.sum("observed").alias("n"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "observed",
            F.round(
                F.col("n") * F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 6
            ).alias("expected"),
            F.round(F.col("observed").cast("double") / F.col("n"), 6).alias(
                "observed_p"
            ),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# A21 CUSUM change-point scan
# ---------------------------------------------------------------------------

_DUCK_CUSUM = """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s, COUNT(*) AS n
      FROM events GROUP BY event_type, day),
    g AS (
      SELECT event_type, CAST(SUM(s) AS BIGINT) AS st, CAST(SUM(n) AS BIGINT) AS nt
      FROM d GROUP BY event_type),
    dev AS (
      SELECT d.event_type, d.day,
             CAST(ROUND((CAST(d.s AS DOUBLE) / d.n
                         - CAST(g.st AS DOUBLE) / g.nt) * 1000000) AS BIGINT)
               AS dev_q
      FROM d JOIN g ON d.event_type = g.event_type),
    c AS (
      SELECT event_type, day,
             SUM(dev_q) OVER (PARTITION BY event_type ORDER BY day) AS cusum
      FROM dev),
    r AS (
      SELECT event_type, day, ABS(cusum) AS a,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(cusum) DESC, day) AS rk
      FROM c)
    SELECT event_type,
           ROUND(a / 100000000.0, 6) AS max_cusum_dollars,
           strftime(day, '%Y-%m-%d') AS changepoint_day
    FROM r WHERE rk = 1 ORDER BY event_type
"""


@query("events_cusum", _DUCK_CUSUM)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 CUSUM change-point scan (Page 1954): per event type, the
    cumulative sum of daily-mean deviations from the global mean peaks
    at the most likely level-shift day — the classic "when did this
    metric change" statistic.  Daily deviations quantize to integer
    micro-dollars BEFORE the prefix sum, so the running cumulative is
    exact integer math in day order (float prefix sums drift) and the
    argmax day ties break on the date.

    Plan shape: one (type, day) partial agg over the corpus, the
    global means broadcast back, one day-ordered window per type
    partition on the tiny daily table."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(cents(F.col("value"))).alias("s"), F.count("*").alias("n")
    )
    g = d.groupBy("event_type").agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt")
    )
    dev = d.join(F.broadcast(g), "event_type").select(
        "event_type",
        "day",
        F.round(
            (
                F.col("s").cast("double") / F.col("n")
                - F.col("st").cast("double") / F.col("nt")
            )
            * 1_000_000
        )
        .cast("long")
        .alias("dev_q"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    c = dev.withColumn("cusum", F.sum("dev_q").over(w))
    rw = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        c.withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.round(F.abs(F.col("cusum")) / 100_000_000.0, 6).alias(
                "max_cusum_dollars"
            ),
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A20 cross-metric correlation matrix
# ---------------------------------------------------------------------------

_DUCK_CORRM = """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY day, event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS k,
             SUM(a.n) AS sa, SUM(b.n) AS sb,
             SUM(a.n * b.n) AS sab,
             SUM(a.n * a.n) AS saa, SUM(b.n * b.n) AS sbb
      FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, k,
           ROUND((CAST(k AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                 / (SQRT(GREATEST(CAST(k AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa, 0))
                    * SQRT(GREATEST(CAST(k AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb, 0))), 6)
             AS pearson_r
    FROM p ORDER BY type_a, type_b
"""


@query("events_correlation_matrix", _DUCK_CORRM)
def events_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 cross-metric co-movement: pairwise Pearson correlation of
    daily event volumes between every pair of event types — the
    metric-health matrix behind "did signups drop WITH traffic or
    against it".  Daily counts are exact integers, every moment (k,
    Σa, Σb, Σab, Σa², Σb²) is an exact integer sum, and the final r
    combines them in same-operation-order double — bit-identical
    cross-engine without quantizing anything.

    Plan shape: one (day, type) partial-agg shuffle over the corpus,
    then the day-keyed self-join runs on the tiny daily table and the
    pair moments collapse to types²/2 rows."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    a = d.select("day", F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    b = d.select("day", F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    p = (
        a.join(b, "day")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("k"),
            F.sum("na").alias("sa"),
            F.sum("nb").alias("sb"),
            F.sum(F.col("na") * F.col("nb")).alias("sab"),
            F.sum(F.col("na") * F.col("na")).alias("saa"),
            F.sum(F.col("nb") * F.col("nb")).alias("sbb"),
        )
    )
    kd = F.col("k").cast("double")
    sad, sbd = F.col("sa").cast("double"), F.col("sb").cast("double")
    num = kd * F.col("sab") - sad * F.col("sb")
    den = F.sqrt(F.greatest(kd * F.col("saa") - sad * F.col("sa"), F.lit(0.0))) * F.sqrt(
        F.greatest(kd * F.col("sbb") - sbd * F.col("sb"), F.lit(0.0))
    )
    return p.select(
        "type_a", "type_b", "k", F.round(num / den, 6).alias("pearson_r")
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# A19 seasonal profile + residual anomaly count
# ---------------------------------------------------------------------------

_DUCK_SEASON = """
    WITH e AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hr,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events),
    prof AS (
      SELECT event_type, hr, COUNT(*) AS n, SUM(vc) AS s, SUM(vc * vc) AS ss
      FROM e GROUP BY event_type, hr),
    stats AS (
      SELECT event_type, hr, n,
             CAST(s AS DOUBLE) / n AS mu,
             SQRT(GREATEST((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1), 0)) AS sd
      FROM prof),
    r AS (
      SELECT e.event_type, e.hr,
             CASE WHEN stats.sd > 0
                  AND ABS(e.vc - stats.mu) > 3 * stats.sd THEN 1 ELSE 0 END AS is_anom
      FROM e JOIN stats ON e.event_type = stats.event_type AND e.hr = stats.hr)
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(is_anom) AS BIGINT) AS n_anomalies,
           COUNT(DISTINCT hr) AS n_hours
    FROM r GROUP BY event_type ORDER BY event_type
"""


@query("events_seasonality", _DUCK_SEASON)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 seasonal-baseline anomaly scan: the per-(type, hour-of-day)
    mean/stddev profile is the seasonal expectation; events more than
    3 sigma from THEIR OWN hour's baseline count as anomalies (a flat
    global fence flags every rush hour instead).  Moments accumulate
    as exact integers; mu/sd derive in same-order double; the fence
    compares the same doubles on both engines.

    Plan: one (type, hour) partial-agg shuffle builds the 24x5-row
    profile, which BROADCASTS back onto the event scan; one final
    rollup."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type", F.hour("ts").alias("hr"), cents(F.col("value")).alias("vc")
    )
    prof = e.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"), F.sum("vc").alias("s"), F.sum(F.col("vc") * F.col("vc")).alias("ss")
    )
    mu = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1),
            F.lit(0.0),
        )
    )
    stats = prof.select("event_type", "hr", "n", mu.alias("mu"), sd.alias("sd"))
    r = e.join(F.broadcast(stats), ["event_type", "hr"]).select(
        "event_type",
        "hr",
        F.when(
            (F.col("sd") > 0) & (F.abs(F.col("vc") - F.col("mu")) > 3 * F.col("sd")), 1
        ).otherwise(0).alias("is_anom"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_anom").alias("n_anomalies"),
            F.countDistinct("hr").alias("n_hours"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# L4m PMI collocation detection
# ---------------------------------------------------------------------------

_DUCK_COLLOC = f"""
    WITH flat AS (
      SELECT doc_id, t.w AS w, t.i AS i
      FROM (SELECT doc_id,
                   unnest([{{'w': l[i], 'i': i}}
                           for i in range(1, len(l) + 1)]) AS t
            FROM (SELECT doc_id, {_DUCK_TOKS} AS l FROM documents))),
    uni AS (SELECT w, COUNT(*) AS c FROM flat GROUP BY w),
    tot AS (SELECT COUNT(*) AS n FROM flat),
    bg AS (
      SELECT w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM flat),
    bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg WHERE w2 IS NOT NULL
            GROUP BY w1, w2),
    pmi AS (
      SELECT bgc.w1, bgc.w2, bgc.cb,
             CAST(ROUND(ln(CAST(bgc.cb AS DOUBLE) * (SELECT n FROM tot)
                           / (u1.c * CAST(u2.c AS DOUBLE))) * 1000000) AS BIGINT)
               AS pmi_micro
      FROM bgc JOIN uni u1 ON bgc.w1 = u1.w JOIN uni u2 ON bgc.w2 = u2.w
      WHERE bgc.cb >= 5)
    SELECT w1, w2, cb, pmi_micro
    FROM pmi ORDER BY pmi_micro DESC, w1, w2 LIMIT 20
"""


@query("text_collocations", _DUCK_COLLOC)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4m collocation detection (Church & Hanks 1990): adjacent word
    pairs whose pointwise mutual information ln(p(a,b)/(p(a)p(b))) is
    highest — the classic signal for multiword expressions and
    domain vocabulary.  PMI quantizes to integer micro-units so the
    top-k ranks on exact integers (with (w1, w2) tie-break); a
    min-count floor kills the unstable singleton tail.

    Plan: one bigram window per doc partition, one bigram-key
    partial-agg shuffle; the vocabulary-sized unigram table broadcasts
    back; the top-20 is a distributed TakeOrdered."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "w")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        "w", F.lead("w").over(w).alias("w2")
    ).where(F.col("w2").isNotNull())
    bgc = bg.groupBy(F.col("w").alias("w1"), "w2").agg(F.count("*").alias("cb"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("n"))
    pmi = (
        bgc.where(F.col("cb") >= 5)
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "cb",
            F.round(
                F.log(
                    F.col("cb").cast("double") * F.col("n")
                    / (F.col("c1") * F.col("c2").cast("double"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return pmi.orderBy(F.col("pmi_micro").desc(), "w1", "w2").limit(20)


# ---------------------------------------------------------------------------
# A18 hash-split A/B comparison (Welch statistic from exact moments)
# ---------------------------------------------------------------------------

_DUCK_AB = """
    WITH e AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2
               AS grp,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events),
    m AS (
      SELECT event_type, grp, COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS ss
      FROM e GROUP BY event_type, grp),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) / a.n AS mean_a,
             CAST(b.s AS DOUBLE) / b.n AS mean_b,
             GREATEST((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) * a.s / a.n) / (a.n - 1), 0) AS var_a,
             GREATEST((CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) * b.s / b.n) / (b.n - 1), 0) AS var_b
      FROM (SELECT * FROM m WHERE grp = 0) a
      JOIN (SELECT * FROM m WHERE grp = 1) b USING (event_type))
    SELECT event_type, n_a, n_b,
           ROUND(mean_a / 100, 6) AS mean_a_dollars,
           ROUND(mean_b / 100, 6) AS mean_b_dollars,
           ROUND((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b), 6) AS welch_t
    FROM w ORDER BY event_type
"""


@query("events_ab_test", _DUCK_AB)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 experimentation readout: users hash-split 50/50 (md5 of the
    user id — deterministic, engine-independent assignment, the same
    split any service in the stack would compute), then per event type
    the Welch t statistic of the value difference from the classical
    moments (n, Σy, Σy²) accumulated as EXACT integers; the final
    mean/variance/t combination runs in same-operation-order double.
    Under a null split |t| should hover near 0 — the pipeline's
    A/A-test sanity check comes free.

    Plan: one partial-agg shuffle on (type, group); everything after
    operates on 2 rows per type."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (_h60(F.col("user_id").cast("string")) % 2).alias("grp"),
        cents(F.col("value")).alias("y"),
    )
    m = e.groupBy("event_type", "grp").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )
    a = m.where(F.col("grp") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = m.where(F.col("grp") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    j = a.join(b, "event_type")
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    var_a = F.greatest(
        (
            F.col("ss_a").cast("double")
            - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")
        )
        / (F.col("n_a") - 1),
        F.lit(0.0),
    )
    var_b = F.greatest(
        (
            F.col("ss_b").cast("double")
            - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")
        )
        / (F.col("n_b") - 1),
        F.lit(0.0),
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a / 100, 6).alias("mean_a_dollars"),
        F.round(mean_b / 100, 6).alias("mean_b_dollars"),
        F.round(
            (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")), 6
        ).alias("welch_t"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A17 multi-touch attribution (purchase credit over preceding views)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_S = 3600

_DUCK_ATTR = f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT event_id AS view_id, user_id, ts
      FROM events WHERE event_type = 'view'),
    t AS (
      SELECT p.purchase_id, p.value_c, v.view_id
      FROM p JOIN v
        ON p.user_id = v.user_id
       AND v.ts >= p.ts - INTERVAL {_ATTR_WINDOW_S} SECONDS
       AND v.ts < p.ts)
    SELECT purchase_id,
           COUNT(*) AS n_touches,
           MIN(view_id) AS first_touch_id,
           MAX(view_id) AS last_touch_id,
           (MAX(value_c) * 1000) // COUNT(*) AS credit_per_touch_millicents
    FROM t GROUP BY purchase_id, value_c ORDER BY purchase_id
"""


@query("events_attribution", _DUCK_ATTR)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 linear multi-touch attribution: each purchase splits its
    value evenly across the user's view events in the preceding hour
    (integer millicent credit — exact division, no float fan-out).

    Plan shape: the purchase/view split prunes at the scan
    (event_type pushdown), the touch join is an equi-join on user_id
    with the time band as a residual predicate — the J6 range-join
    family's shape; at 100 TB both sides bucket by user and the state
    is bounded by the 1-hour window.  One partial-agg shuffle rolls up
    per purchase."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        cents(F.col("value")).alias("value_c"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    t = p.join(v, "user_id").where(
        (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_ATTR_WINDOW_S} SECONDS"))
        & (F.col("v_ts") < F.col("p_ts"))
    )
    return (
        t.groupBy("purchase_id", "value_c")
        .agg(
            F.count("*").alias("n_touches"),
            F.min("view_id").alias("first_touch_id"),
            F.max("view_id").alias("last_touch_id"),
        )
        .select(
            "purchase_id",
            "n_touches",
            "first_touch_id",
            "last_touch_id",
            F.expr("(value_c * 1000) div n_touches").alias(
                "credit_per_touch_millicents"
            ),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# A16 per-group linear trend (exact-moment least squares)
# ---------------------------------------------------------------------------

_DUCK_TREND = """
    WITH e AS (
      SELECT event_type,
             (epoch_ms(ts) // 1000 - 1704067200) // 60 AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM e GROUP BY event_type),
    d AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
             CAST(sxx AS DOUBLE) AS sxxd
      FROM m)
    SELECT event_type, n,
           ROUND((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * 1440, 6)
             AS slope_cents_per_day,
           ROUND((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd)
                 / nd / 100, 6) AS intercept_dollars
    FROM d ORDER BY event_type
"""


@query("events_linear_trend", _DUCK_TREND)
def events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 least-squares trend per event type: is the metric drifting,
    and from what baseline?  Slope/intercept come from the five
    classical moments (n, Σx, Σy, Σxy, Σx²) accumulated as EXACT
    integers — minute-granular x re-based to the window start keeps
    Σx² int64-safe to ~1e9 rows per group, and the built-in
    REGR_SLOPE aggregates are float-accumulating / engine-divergent,
    which is why the moments are explicit.  The final slope/intercept
    combination runs in double over the exact moments with the SAME
    operation order in both engines, so the output is bit-identical
    even where a moment exceeds 2^53 (the long->double rounding is
    deterministic and shared).

    Plan: one partial-agg shuffle (five sums per group), arithmetic on
    the 5-row result — the textbook scalable regression."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr("(unix_timestamp(ts) - 1704067200) div 60").alias("x"),
        cents(F.col("value")).alias("y"),
    )
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd, sxd = F.col("n").cast("double"), F.col("sx").cast("double")
    syd, sxyd, sxxd = (
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return m.select(
        "event_type",
        "n",
        F.round(slope * 1440, 6).alias("slope_cents_per_day"),
        F.round((syd - slope * sxd) / nd / 100, 6).alias("intercept_dollars"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A15 Markov transition matrix over the event stream
# ---------------------------------------------------------------------------

_DUCK_MARKOV = """
    WITH o AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    t AS (SELECT prev, event_type AS next, COUNT(*) AS n
          FROM o WHERE prev IS NOT NULL GROUP BY prev, next),
    s AS (SELECT prev, SUM(n) AS tot FROM t GROUP BY prev)
    SELECT t.prev, t.next, t.n,
           CAST((1000000 * t.n) // s.tot AS BIGINT) AS p_micro
    FROM t JOIN s ON t.prev = s.prev
    ORDER BY t.prev, t.next
"""


def markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (prev, next, n) transition-count matrix of the
    user behavior chain — the K²-bounded (K = event-type vocabulary)
    corpus statistic the whole A15 family reads: A15's matrix readout,
    A15b's stationary vector, A15c's entropy rate.  r11: each of the
    three entries ran the corpus-scale lag window + pair aggregate
    itself; at the design point the chain counts are a standing ingest
    statistic maintained beside the corpus, so the memo reproduces
    that at-rest shape in-session (the supplier_pair_weights device)
    and one session pays the window shuffle once."""
    from bytesprocessor_spark.operators.caching import memo

    def build() -> DataFrame:
        ev = _t(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        o = ev.select(
            "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
        ).where(F.col("prev").isNotNull())
        return o.groupBy("prev", F.col("event_type").alias("next")).agg(
            F.count("*").alias("n")
        )

    return memo(spark, ("markov_t", sf_dir), build)


def _markov_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev, next, p_micro) quantized row probabilities over the
    memoized transition counts — K² rows, no corpus work."""
    t = markov_transition_counts(spark, sf_dir)
    s = t.groupBy("prev").agg(F.sum("n").alias("tot"))
    return t.join(s, "prev").select(
        "prev", "next", F.expr("(1000000 * n) div tot").alias("p_micro")
    )


def _markov_pi_rows(p_rows) -> list[tuple]:
    """The {_MARKOV_ITERS}-step quantized power iteration v <- vP on a
    LOCALIZED K²-row matrix, in pure Python int arithmetic — the exact
    trajectory the Spark broadcast-join unrolling walked (products of
    positive int64s, per-state exact sums, floor division by 1e6 after
    each sum: Python ``//`` == Spark ``div`` on positives), so the
    result is bit-identical by construction.  r11: the lazy 10-deep
    nested-broadcast plan billed ~10 broadcast stages of scheduling
    latency per run for 25 rows of actual data; the matrix is
    entity-bounded (event-type vocabulary squared), which is exactly
    the k-row-localize posture the ktruss round stats use."""
    states = sorted({r["prev"] for r in p_rows})
    k = len(states)
    v = {st: 1_000_000 // k for st in states}
    for _ in range(_MARKOV_ITERS):
        acc: dict = {}
        for r in p_rows:
            pv = v.get(r["prev"])
            if pv is not None:
                acc[r["next"]] = acc.get(r["next"], 0) + pv * r["p_micro"]
        v = {st: s_ // 1_000_000 for st, s_ in acc.items()}
    return sorted(v.items())


def _markov_pi_literal(spark: SparkSession, vi: list[tuple]) -> DataFrame:
    """K-row (state, pi_ppm) literal frame, built JVM-side (explode of
    a struct-array literal — a createDataFrame would plan as a Python
    RDD scan, the r10 worker spin-up tax)."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(st).alias("state"),
                            F.lit(int(val)).cast("long").alias("pi_ppm"),
                        )
                        for st, val in vi
                    ]
                )
            ).alias("s")
        )
        .select("s.state", "s.pi_ppm")
    )


@query("events_markov_transitions", _DUCK_MARKOV)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 first-order Markov chain of user behavior: per-user
    event sequences (ordered by ts with event_id tiebreak) yield
    (prev -> next) transition counts and integer-quantized row
    probabilities — the input to next-action prediction, anomaly
    scoring, and simulated-session generation.

    Plan: one window shuffle on user_id (lag), one partial-agg shuffle
    on the transition pair; the per-prev normalizer joins a
    states²-sized table.  Probability is (1e6 * n) div total — exact
    integer division, no float ordering hazard."""
    # r11: the lag window + pair agg is the session-memoized
    # transition-count matrix shared with A15b/A15c
    t = markov_transition_counts(spark, sf_dir)
    s = t.groupBy("prev").agg(F.sum("n").alias("tot"))
    return (
        t.join(s, "prev")
        .select(
            "prev",
            "next",
            "n",
            F.expr("(1000000 * n) div tot").alias("p_micro"),
        )
        .orderBy("prev", "next")
    )


# ---------------------------------------------------------------------------
# S11 snapshot diff (the audit twin of MERGE)
# ---------------------------------------------------------------------------

_DIFF_CUT = "1996-01-01"

_DUCK_DIFF = f"""
    WITH old AS (
      SELECT o_orderkey AS k, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderdate < DATE '{_DIFF_CUT}'),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders
      WHERE o_orderdate < DATE '{_DIFF_CUT}' AND o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey AS k, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderdate >= DATE '{_DIFF_CUT}' AND o_orderkey % 5 = 0),
    oldh AS (SELECT k, md5(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                           || '|' || o_orderstatus) AS h FROM old),
    newh AS (SELECT k, md5(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                           || '|' || o_orderstatus) AS h FROM new),
    d AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'added'
                  WHEN n.k IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM oldh o FULL OUTER JOIN newh n ON o.k = n.k)
    SELECT change, COUNT(*) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY change ORDER BY change
"""


@query("snapshot_diff_orders", _DUCK_DIFF)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 snapshot diff — the audit twin of MERGE: classify every key
    across two table versions as added / removed / changed / unchanged
    by comparing row content hashes, and checksum the keys per class.
    (The two "snapshots" are derived deterministically from orders:
    the new version drops every third old row, uplifts every seventh
    key's price 10%, and adds a sample of post-cutoff rows — so all
    four classes are non-empty.)

    Plan: content hash is computed in the scan projection (cents-exact
    price so both engines hash identical bytes), ONE full outer
    shuffle join on the key, then a 4-row rollup.  At 100 TB this is
    the standard CDC-validation shape: hash in place, join on key,
    never move full rows."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit(_DIFF_CUT).cast("date")
    old = o.where(F.col("o_orderdate") < cut).select(
        F.col("o_orderkey").alias("k"), "o_totalprice", "o_orderstatus"
    )
    new = (
        o.where((F.col("o_orderdate") < cut) & (F.col("o_orderkey") % 3 != 0))
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionAll(
            o.where((F.col("o_orderdate") >= cut) & (F.col("o_orderkey") % 5 == 0)).select(
                F.col("o_orderkey").alias("k"), "o_totalprice", "o_orderstatus"
            )
        )
    )

    def _h(df):
        return df.select(
            "k",
            F.md5(
                F.concat(
                    F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                    F.lit("|"),
                    F.col("o_orderstatus"),
                )
            ).alias("h"),
        )

    oh, nh = _h(old).alias("o"), _h(new).alias("n")
    d = oh.join(nh, F.col("o.k") == F.col("n.k"), "full_outer").select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return (
        d.groupBy("change")
        .agg(F.count("*").alias("n_rows"), F.sum("k").alias("key_checksum"))
        .orderBy("change")
    )


# ---------------------------------------------------------------------------
# O7 deterministic train/val/test split
# ---------------------------------------------------------------------------

_DUCK_SPLIT = """
    WITH b AS (
      SELECT source, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               AS bucket
      FROM documents)
    SELECT source,
           CAST(SUM(CASE WHEN bucket < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN bucket >= 90 AND bucket < 95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_val,
           CAST(SUM(CASE WHEN bucket >= 95 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN bucket < 90 THEN n_chars ELSE 0 END) AS BIGINT)
             AS train_chars
    FROM b GROUP BY source ORDER BY source
"""


@query("corpus_split_assign", _DUCK_SPLIT)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 deterministic split assignment: md5(doc_id) mod 100 buckets
    into 90/5/5 train/val/test — stable across runs, engines, cluster
    sizes, and row order (the property random() splits lack, and the
    reason eval-set leakage audits can re-derive membership from the
    id alone).  Map-only bucketing + one partial-agg shuffle on
    source."""
    docs = _t(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        "n_chars",
        (_h60(F.col("doc_id").cast("string")) % 100).alias("bucket"),
    )
    return (
        b.groupBy("source")
        .agg(
            F.sum(F.when(F.col("bucket") < 90, 1).otherwise(0)).alias("n_train"),
            F.sum(
                F.when((F.col("bucket") >= 90) & (F.col("bucket") < 95), 1).otherwise(0)
            ).alias("n_val"),
            F.sum(F.when(F.col("bucket") >= 95, 1).otherwise(0)).alias("n_test"),
            F.sum(F.when(F.col("bucket") < 90, F.col("n_chars")).otherwise(0)).alias(
                "train_chars"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q9: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

@query(
    "privacy_k_anonymity",
    """
    WITH g AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             COUNT(*) AS k
      FROM customer GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(k) AS BIGINT) AS total FROM g)
    SELECT CASE WHEN k = 1 THEN 'k=1' WHEN k < 5 THEN 'k=2-4'
                WHEN k < 10 THEN 'k=5-9' ELSE 'k>=10' END AS k_bucket,
           COUNT(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(SUM(k) * 1000000 // MAX(tot.total) AS BIGINT) AS rows_ppm,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k
    FROM g CROSS JOIN tot
    GROUP BY 1 ORDER BY 1
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 k-anonymity audit: group sizes over the quasi-identifier
    tuple (market segment, nation, $1000 account-balance band) bucketed
    into the re-identification risk bands a privacy review reads —
    k=1 rows are unique under the quasi-identifiers (directly
    re-identifiable), k<5 is the usual suppression threshold.  The
    rows_ppm column is the share of the table that each risk band
    holds, in exact ppm integer arithmetic.

    This is the privacy-side gate a training-data pipeline runs before
    releasing a tabular extract, sibling to the PII scrub (L4e) that
    gates free text.  Plan shape: one hash aggregate on the
    quasi-identifier tuple (map-side partials absorb the heavy scan),
    a 1-row total broadcast back, and a 4-row final aggregate —
    nothing here scales with anything but the group count.

    Determinism: the balance band is integer floor division over exact
    cents (never a double divide near a band boundary), and every
    output column is exact integer math."""
    c = _t(spark, sf_dir, "customer")
    g = (
        c.select(
            "c_mktsegment",
            "c_nationkey",
            F.expr(
                "CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000"
            ).alias("bal_band"),
        )
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(F.count("*").alias("k"))
    )
    tot = g.agg(F.sum("k").cast("long").alias("total"))
    bucket = (
        F.when(F.col("k") == 1, "k=1")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 10, "k=5-9")
        .otherwise("k>=10")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy(bucket.alias("k_bucket"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
            F.expr("CAST(SUM(k) * 1000000 div MAX(total) AS BIGINT)").alias("rows_ppm"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Q10: l-diversity audit (companion to Q9 k-anonymity)
# ---------------------------------------------------------------------------

@query(
    "privacy_l_diversity",
    """
    WITH g AS (
      SELECT c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             COUNT(*) AS k,
             COUNT(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(k) AS BIGINT) AS total FROM g)
    SELECT CASE WHEN l = 1 THEN 'l=1' WHEN l = 2 THEN 'l=2'
                ELSE 'l>=3' END AS l_bucket,
           COUNT(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(SUM(k) * 1000000 // MAX(tot.total) AS BIGINT) AS rows_ppm,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(MAX(l) AS BIGINT) AS max_l
    FROM g CROSS JOIN tot
    GROUP BY 1 ORDER BY 1
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 l-diversity audit (Machanavajjhala et al. ICDE'06): Q9's
    k-anonymity counts how many rows SHARE a quasi-identifier tuple;
    this counts how many DISTINCT sensitive values each group holds —
    a group can be k-anonymous yet leak the sensitive attribute
    outright when every member shares it (l=1, homogeneity attack).
    Quasi-identifiers here are (nation, $1000 balance band); the
    sensitive attribute is the market segment.  Groups bucket into
    l=1 (attribute disclosure), l=2 (50% guess), l>=3.

    Plan shape: one hash aggregate on (QI tuple, sensitive) collapsed
    to a distinct count per QI group (Spark plans COUNT(DISTINCT) via
    expand + two partial aggs — both key-bounded), a 1-row total
    broadcast back, 3-row final agg.  Exact integer math throughout
    (cents band floor-div, ppm shares)."""
    c = _t(spark, sf_dir, "customer")
    g = (
        c.select(
            "c_nationkey",
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000").alias(
                "bal_band"
            ),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count("*").alias("k"),
            F.countDistinct("c_mktsegment").alias("l"),
        )
    )
    tot = g.agg(F.sum("k").cast("long").alias("total"))
    bucket = (
        F.when(F.col("l") == 1, "l=1")
        .when(F.col("l") == 2, "l=2")
        .otherwise("l>=3")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy(bucket.alias("l_bucket"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
            F.expr("CAST(SUM(k) * 1000000 div MAX(total) AS BIGINT)").alias("rows_ppm"),
            F.min("l").cast("long").alias("min_l"),
            F.max("l").cast("long").alias("max_l"),
        )
        .orderBy("l_bucket")
    )


# ---------------------------------------------------------------------------
# Q14: t-closeness audit (companion to Q9 k-anonymity / Q10 l-diversity)
# ---------------------------------------------------------------------------

@query(
    "privacy_t_closeness",
    """
    WITH cell AS (
      SELECT c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
             c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3
    ),
    grp AS (
      SELECT c_nationkey, bal_band, CAST(SUM(c) AS BIGINT) AS k
      FROM cell GROUP BY 1, 2
    ),
    gd AS (
      SELECT c_mktsegment, CAST(SUM(c) AS BIGINT) AS g FROM cell GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cell),
    tvd AS (
      SELECT cell.c_nationkey, cell.bal_band, MAX(grp.k) AS k,
             CAST(SUM(GREATEST(cell.c * 1000000 // grp.k
                               - gd.g * 1000000 // tot.total, 0))
                  AS BIGINT) AS tvd_ppm
      FROM cell
      JOIN grp ON cell.c_nationkey = grp.c_nationkey
              AND cell.bal_band = grp.bal_band
      JOIN gd ON cell.c_mktsegment = gd.c_mktsegment
      CROSS JOIN tot
      GROUP BY 1, 2
    )
    SELECT CASE WHEN tvd_ppm <= 100000 THEN 't<=0.10'
                WHEN tvd_ppm <= 200000 THEN '0.10<t<=0.20'
                ELSE 't>0.20' END AS t_bucket,
           COUNT(*) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(tvd_ppm) AS BIGINT) AS min_tvd_ppm,
           CAST(MAX(tvd_ppm) AS BIGINT) AS max_tvd_ppm
    FROM tvd GROUP BY 1 ORDER BY 1
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 t-closeness audit (Li et al. ICDE'07), completing the
    Q9/Q10 privacy trio: a group can be k-anonymous AND l-diverse yet
    still leak — when its sensitive-value DISTRIBUTION differs sharply
    from the table's, membership alone shifts an attacker's prior
    (skewness attack).  Per quasi-identifier group (nation, $1000
    balance band) this measures the total-variation distance between
    the group's market-segment distribution and the global one, then
    buckets groups by the released-data thresholds a review applies
    (t<=0.10 releasable, 0.10-0.20 review, >0.20 suppress).

    Determinism: TVD is computed in its positive-part form
    sum_s max(p_g(s) - p(s), 0) over SEGMENTS PRESENT in the group —
    absent segments have p_g = 0 and contribute nothing — so the whole
    metric is exact floor-division ppm integer arithmetic; no double
    ever forms.

    Plan shape: one (QI, sensitive) hash aggregate absorbs the scan;
    group totals and the 5-row global distribution derive from it
    (grp re-aggregates the cell table, never the base table); the
    global side and the 1-row total broadcast back; final agg is
    3 rows.  Everything after the first aggregate is bounded by the
    group count, not the row count."""
    c = _t(spark, sf_dir, "customer")
    cell = (
        c.select(
            "c_nationkey",
            F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000").alias(
                "bal_band"
            ),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band", "c_mktsegment")
        .agg(F.count("*").cast("long").alias("c"))
    )
    grp = cell.groupBy("c_nationkey", "bal_band").agg(
        F.sum("c").cast("long").alias("k")
    )
    glob = cell.groupBy("c_mktsegment").agg(F.sum("c").cast("long").alias("g"))
    tot = cell.agg(F.sum("c").cast("long").alias("total"))
    tvd = (
        cell.join(grp, ["c_nationkey", "bal_band"])
        .join(F.broadcast(glob), "c_mktsegment")
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.max("k").alias("k"),
            F.sum(
                F.greatest(
                    F.expr("c * 1000000 div k - g * 1000000 div total"),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("tvd_ppm"),
        )
    )
    bucket = (
        F.when(F.col("tvd_ppm") <= 100000, "t<=0.10")
        .when(F.col("tvd_ppm") <= 200000, "0.10<t<=0.20")
        .otherwise("t>0.20")
    )
    return (
        tvd.groupBy(bucket.alias("t_bucket"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
            F.min("tvd_ppm").cast("long").alias("min_tvd_ppm"),
            F.max("tvd_ppm").cast("long").alias("max_tvd_ppm"),
        )
        .orderBy("t_bucket")
    )


# ---------------------------------------------------------------------------
# Q12: metronomic-user (bot) screen over inter-event gaps
# ---------------------------------------------------------------------------

_BOT_MIN_GAPS = 5
_BOT_TOPK = 20


@query(
    "events_bot_score",
    f"""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) // 1000 AS t,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS seq
      FROM events
    ),
    g AS (
      SELECT user_id, seq,
             t - LAG(t) OVER (PARTITION BY user_id
                              ORDER BY seq) AS gap_s
      FROM e
      QUALIFY gap_s IS NOT NULL
    ),
    n AS (SELECT user_id, COUNT(*) AS n_gaps FROM g GROUP BY user_id),
    r1 AS (
      SELECT g.user_id, g.gap_s, n.n_gaps,
             ROW_NUMBER() OVER (PARTITION BY g.user_id
                                ORDER BY g.gap_s, g.seq) AS rn
      FROM g JOIN n USING (user_id)
    ),
    med AS (
      SELECT user_id, n_gaps, CAST(gap_s AS BIGINT) AS med_gap_s
      FROM r1 WHERE rn = (n_gaps + 1) // 2
    ),
    r2 AS (
      SELECT g.user_id, abs(g.gap_s - med.med_gap_s) AS d,
             ROW_NUMBER() OVER (PARTITION BY g.user_id
                                ORDER BY abs(g.gap_s - med.med_gap_s), g.seq) AS rn
      FROM g JOIN med USING (user_id)
    ),
    mad AS (
      SELECT r2.user_id, CAST(r2.d AS BIGINT) AS mad_gap_s
      FROM r2 JOIN med USING (user_id)
      WHERE r2.rn = (med.n_gaps + 1) // 2
    )
    SELECT med.user_id, CAST(med.n_gaps AS BIGINT) AS n_gaps,
           med.med_gap_s, mad.mad_gap_s,
           CAST(mad.mad_gap_s * 1000000 // GREATEST(med.med_gap_s, 1) AS BIGINT)
             AS regularity_ppm
    FROM med JOIN mad USING (user_id)
    WHERE med.n_gaps >= {_BOT_MIN_GAPS}
    ORDER BY regularity_ppm, med.user_id
    LIMIT {_BOT_TOPK}
    """,
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 metronomic-user screen: per user, the median and MAD of
    inter-event gaps in whole seconds; regularity = MAD/median in ppm.
    Humans are bursty (high MAD relative to median); schedulers,
    crawlers, and replay bots fire on near-constant intervals
    (regularity -> 0) — the behavioral filter a training-data pipeline
    runs so synthetic traffic doesn't become training text.  Output is
    the {_BOT_TOPK} most metronomic users with >= {_BOT_MIN_GAPS}
    gaps, most-suspicious first.

    Determinism: epoch-second integers end-to-end; both median and
    MAD are the LOWER median selected BY RANK (row_number with seq
    tiebreaks), never an interpolating percentile — so there is no
    float anywhere until the final ppm ratio, which is integer
    division.

    Plan shape: fully distributed rank-median — NO per-user array
    collection (the skew-safe alternative to collect_list medians):
    one user_id exchange feeds the sequence/gap windows, the median
    and MAD are each one more rank-window pass over the gaps table,
    all shuffles keyed on user_id.  Hot users cost O(their events),
    never memory."""
    ev = _t(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.row_number().over(ws).alias("seq"),
    )
    wg = Window.partitionBy("user_id").orderBy("seq")
    g = (
        e.withColumn("gap_s", F.col("t") - F.lag("t").over(wg))
        .where(F.col("gap_s").isNotNull())
        .select("user_id", "seq", "gap_s")
    )
    n = g.groupBy("user_id").agg(F.count("*").alias("n_gaps"))
    w1 = Window.partitionBy("user_id").orderBy("gap_s", "seq")
    r1 = g.join(n, "user_id").withColumn("rn", F.row_number().over(w1))
    med = (
        r1.where(F.col("rn") == F.expr("(n_gaps + 1) div 2"))
        .select("user_id", "n_gaps", F.col("gap_s").cast("long").alias("med_gap_s"))
    )
    w2 = Window.partitionBy("user_id").orderBy(F.abs(F.col("gap_s") - F.col("med_gap_s")), "seq")
    r2 = (
        g.join(med, "user_id")
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == F.expr("(n_gaps + 1) div 2"))
        .select(
            "user_id",
            F.abs(F.col("gap_s") - F.col("med_gap_s")).cast("long").alias("mad_gap_s"),
        )
    )
    return (
        med.join(r2, "user_id")
        .where(F.col("n_gaps") >= _BOT_MIN_GAPS)
        .select(
            "user_id",
            F.col("n_gaps").cast("long").alias("n_gaps"),
            "med_gap_s",
            "mad_gap_s",
            F.expr("CAST(mad_gap_s * 1000000 div GREATEST(med_gap_s, 1) AS BIGINT)").alias(
                "regularity_ppm"
            ),
        )
        .orderBy("regularity_ppm", "user_id")
        .limit(_BOT_TOPK)
    )


# ---------------------------------------------------------------------------
# A15b: Markov stationary distribution (quantized power iteration)
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 10


@query(
    "events_markov_stationary",
    f"""
    WITH RECURSIVE o AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    t AS (SELECT prev, event_type AS next, COUNT(*) AS n
          FROM o WHERE prev IS NOT NULL GROUP BY prev, next),
    s AS (SELECT prev, SUM(n) AS tot FROM t GROUP BY prev),
    p AS (SELECT t.prev, t.next,
                 CAST((1000000 * t.n) // s.tot AS BIGINT) AS p_micro
          FROM t JOIN s ON t.prev = s.prev),
    states AS (SELECT DISTINCT prev AS state FROM p),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    v0 AS (SELECT state, CAST(1000000 // k AS BIGINT) AS v
           FROM states CROSS JOIN k),
    it AS (
      SELECT 0 AS i, state, v FROM v0
      UNION ALL
      SELECT it.i + 1, p.next AS state,
             CAST(SUM(it.v * p.p_micro) // 1000000 AS BIGINT) AS v
      FROM it JOIN p ON p.prev = it.state
      WHERE it.i < {_MARKOV_ITERS}
      GROUP BY it.i, p.next
    )
    SELECT state, v AS pi_ppm
    FROM it WHERE i = {_MARKOV_ITERS}
    ORDER BY state
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15b stationary distribution of the A15 behavior chain: where a
    user session settles in the long run, computed by {_MARKOV_ITERS}
    quantized power-iteration steps v <- v P from uniform — the
    equilibrium readout (compare against the EMPIRICAL event mix to
    see whether observed traffic is still in a transient).

    Determinism: the fixed point is defined IN the quantized space —
    each step is exact int64 products of ppm vectors and ppm rows,
    re-quantized by integer division AFTER each per-state sum, so both
    engines walk the identical integer trajectory (the iterative twin
    of the PSI/softmax idioms; float power iteration would diverge in
    ulps by iteration 3).

    Plan shape: the transition estimation is A15's plan (one lag
    window + one pair agg, session-memoized — the only corpus-scale
    work); the power iteration runs on the LOCALIZED K²-row matrix in
    exact Python int arithmetic (r11 — the lazily-unrolled
    {_MARKOV_ITERS}-deep broadcast-join chain billed ~a broadcast
    stage of scheduling latency per step for 25 rows of data; the
    k-row-localize device, same trajectory, bit-identical values),
    and the K-row result returns as a JVM literal frame.  DuckDB runs
    the same trajectory as a recursive CTE."""
    p_rows = _markov_p(spark, sf_dir).collect()  # K²-bounded localize
    vi = _markov_pi_rows(p_rows)
    return _markov_pi_literal(spark, vi).orderBy("state")


# ---------------------------------------------------------------------------
# A15c: Markov entropy rate (predictability of the behavior chain)
# ---------------------------------------------------------------------------

@query(
    "events_entropy_rate",
    f"""
    WITH RECURSIVE o AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    t AS (SELECT prev, event_type AS next, COUNT(*) AS n
          FROM o WHERE prev IS NOT NULL GROUP BY prev, next),
    s AS (SELECT prev, SUM(n) AS tot FROM t GROUP BY prev),
    p AS (SELECT t.prev, t.next,
                 CAST((1000000 * t.n) // s.tot AS BIGINT) AS p_micro
          FROM t JOIN s ON t.prev = s.prev),
    states AS (SELECT DISTINCT prev AS state FROM p),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    it AS (
      SELECT 0 AS i, state, CAST(1000000 // k AS BIGINT) AS v
      FROM states CROSS JOIN k
      UNION ALL
      SELECT it.i + 1, p.next AS state,
             CAST(SUM(it.v * p.p_micro) // 1000000 AS BIGINT) AS v
      FROM it JOIN p ON p.prev = it.state
      WHERE it.i < {_MARKOV_ITERS}
      GROUP BY it.i, p.next
    ),
    pi AS (SELECT state, v AS pi_ppm FROM it WHERE i = {_MARKOV_ITERS}),
    rowent AS (
      SELECT prev,
             CAST(-SUM(p_micro * CAST(ROUND(LN(CAST(p_micro AS DOUBLE) / 1000000)
                                            * 1000000) AS BIGINT)) // 1000000
                  AS BIGINT) AS h_micro
      FROM p WHERE p_micro > 0 GROUP BY prev
    )
    SELECT CAST(SUM(pi.pi_ppm * rowent.h_micro) // 1000000 AS BIGINT)
             AS entropy_rate_micronats,
           CAST((SELECT CAST(ROUND(LN(CAST(k AS DOUBLE)) * 1000000) AS BIGINT)
                 FROM k) AS BIGINT) AS max_entropy_micronats,
           CAST(SUM(pi.pi_ppm * rowent.h_micro) // 1000000 * 1000000
                // (SELECT GREATEST(CAST(ROUND(LN(CAST(k AS DOUBLE)) * 1000000)
                                         AS BIGINT), 1) FROM k) AS BIGINT)
             AS predictability_ppm
    FROM pi JOIN rowent ON pi.state = rowent.prev
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15c entropy rate of the behavior chain: H = sum over states of
    pi_i * H(row_i), the long-run bits-per-event of user behavior —
    the single number that says how PREDICTABLE traffic is (H near
    ln(K): users wander uniformly; H near 0: sessions are scripted
    paths — which, like Q12's metronomic timing, is a bot/synthetic
    signature on the TRANSITION axis).  Composes A15's quantized
    transition matrix with A15b's quantized stationary vector.

    Determinism: row entropies use the PSI idiom (micro-quantized ln,
    int64 pico sums scaled back); the pi weighting is one more exact
    integer dot product; the normalizing ln(K) is itself quantized.

    Plan shape: A15's corpus-scale work (lag window + pair agg,
    session-memoized), the A15b power iteration on the localized
    K²-row matrix (exact int trajectory, r11 — see
    events_markov_stationary), then K-row arithmetic; the LN row
    entropies stay Spark-side so the quantized-log values come from
    the same engine as before."""
    p = _markov_p(spark, sf_dir)
    p_rows = p.collect()  # K²-bounded localize (shared A15b device)
    v = _markov_pi_literal(spark, _markov_pi_rows(p_rows))
    k = p.select(F.col("prev").alias("state")).distinct().agg(
        F.count("*").cast("long").alias("k")
    )
    rowent = (
        p.where(F.col("p_micro") > 0)
        .groupBy("prev")
        .agg(
            F.expr(
                "CAST(-SUM(p_micro * CAST(ROUND(LN(CAST(p_micro AS DOUBLE) / 1000000)"
                " * 1000000) AS BIGINT)) div 1000000 AS BIGINT)"
            ).alias("h_micro")
        )
    )
    lnk = k.select(
        F.expr("CAST(ROUND(LN(CAST(k AS DOUBLE)) * 1000000) AS BIGINT)").alias("lnk")
    )
    return (
        F.broadcast(v)
        .join(rowent, F.col("state") == F.col("prev"))
        .crossJoin(F.broadcast(lnk))
        .agg(
            F.expr("CAST(SUM(pi_ppm * h_micro) div 1000000 AS BIGINT)").alias(
                "entropy_rate_micronats"
            ),
            F.max("lnk").alias("max_entropy_micronats"),
            F.expr(
                "CAST(SUM(pi_ppm * h_micro) div 1000000 * 1000000"
                " div GREATEST(MAX(lnk), 1) AS BIGINT)"
            ).alias("predictability_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# A38: sequential probability ratio test (SPRT) over daily conversions
# ---------------------------------------------------------------------------

# H0: purchase share = 4%; H1: = 5%.  Wald boundaries for
# alpha = beta = 0.05: ln((1-beta)/alpha) = ln 19, ln(beta/(1-alpha)).
_SPRT_P0, _SPRT_P1 = "0.04", "0.05"
_SPRT_A = "LN(19.0)"          # upper (accept H1)
_SPRT_B = "LN(1.0 / 19.0)"    # lower (accept H0)


@query(
    "events_sprt",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT day, n, x,
             x * CAST(ROUND(LN({_SPRT_P1} / {_SPRT_P0}) * 1000000) AS BIGINT)
             + (n - x) * CAST(ROUND(LN((1 - {_SPRT_P1}) / (1 - {_SPRT_P0}))
                                    * 1000000) AS BIGINT) AS llr_day
      FROM d
    ),
    s AS (
      SELECT day, n, x,
             CAST(SUM(llr_day) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS llr_micro
      FROM c
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_events,
           x AS n_conversions, llr_micro,
           CASE WHEN llr_micro >= CAST(ROUND({_SPRT_A} * 1000000) AS BIGINT)
                  THEN 'accept_h1'
                WHEN llr_micro <= CAST(ROUND({_SPRT_B} * 1000000) AS BIGINT)
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM s ORDER BY day
    """,
)
def events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38 Wald sequential probability ratio test: the cumulative
    log-likelihood ratio of the daily purchase share under H1 (5%)
    vs H0 (4%), read against the ln(19) Wald boundaries
    (alpha = beta = 0.05) — the SEQUENTIAL experimentation readout
    that stops as soon as the evidence crosses a boundary, where
    A18's fixed-horizon Welch test must wait out its full sample
    (peeking at a fixed-horizon test inflates alpha; SPRT is the
    design built to be peeked at).

    Determinism: the two per-observation log-likelihood increments
    are CONSTANTS quantized once to integer micro-nats, so each day's
    contribution is x*c1 + (n-x)*c2 in exact int64 and the running sum
    is a cumulative window over exact integers; the boundaries are
    quantized the same way.  Nothing floats between days.

    Plan shape: one (day) hash agg absorbs the scan; the cumulative
    window runs over the CALENDAR-BOUNDED day table; decisions are
    codegen CASE on integers."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    c1 = f"CAST(ROUND(LN({_SPRT_P1} / {_SPRT_P0}) * 1000000) AS BIGINT)"
    c2 = (
        f"CAST(ROUND(LN((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})) * 1000000) AS BIGINT)"
    )
    c = bounded_single_group(
        d.withColumn("llr_day", F.expr(f"x * {c1} + (n - x) * {c2}"))
    )  # calendar-bounded day table
    wc = (
        Window.partitionBy("__opid")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = c.withColumn("llr_micro", F.sum("llr_day").over(wc).cast("long"))
    ub = f"CAST(ROUND({_SPRT_A} * 1000000) AS BIGINT)"
    lb = f"CAST(ROUND({_SPRT_B} * 1000000) AS BIGINT)"
    return s.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_events"),
        F.col("x").alias("n_conversions"),
        "llr_micro",
        F.expr(
            f"CASE WHEN llr_micro >= {ub} THEN 'accept_h1'"
            f" WHEN llr_micro <= {lb} THEN 'accept_h0'"
            " ELSE 'continue' END"
        ).alias("decision"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# A40: Mann-Whitney U test (weekend vs weekday purchase values)
# ---------------------------------------------------------------------------

@query(
    "events_mann_whitney",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN ISODOW(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END AS wk,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT event_type, v,
             CAST(SUM(wk) AS BIGINT) AS p,
             CAST(COUNT(*) - SUM(wk) AS BIGINT) AS n
      FROM e GROUP BY event_type, v
    ),
    c AS (
      SELECT event_type, p, n,
             COALESCE(CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS cumn
      FROM s
    ),
    t AS (
      SELECT event_type,
             CAST(SUM(p * (2 * cumn + n)) AS BIGINT) AS two_u,
             CAST(SUM(p) AS BIGINT) AS m,
             CAST(SUM(n) AS BIGINT) AS n
      FROM c GROUP BY event_type
    )
    SELECT event_type, m AS n_weekend, n AS n_weekday, two_u,
           CAST(ROUND((CAST(two_u AS DOUBLE) - CAST(m AS DOUBLE) * CAST(n AS DOUBLE))
                      / SQRT(CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
                             * (CAST(m AS DOUBLE) + CAST(n AS DOUBLE) + 1.0) / 3.0)
                      * 1000000) AS BIGINT) AS z_micro,
           ABS(CAST(ROUND((CAST(two_u AS DOUBLE)
                           - CAST(m AS DOUBLE) * CAST(n AS DOUBLE))
                      / SQRT(CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
                             * (CAST(m AS DOUBLE) + CAST(n AS DOUBLE) + 1.0) / 3.0)
                      * 1000000) AS BIGINT)) >= 1959964 AS significant_5pct
    FROM t ORDER BY event_type
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40 Mann-Whitney U test: does the weekend purchase-value
    distribution differ from the weekday one, per event type?  The
    NONPARAMETRIC two-sample location test (no normality assumption —
    the right tool for skewed revenue values where A18's Welch t-test
    leans on CLT), built on the same tie-aware integer rank-sum
    identity as EV1's AUC: 2U = sum p_s (2 cumn_s + n_s) over the
    distinct-value table.  The normal approximation
    z = (U - mn/2) / sqrt(mn(m+n+1)/12) folds as (2U - mn) /
    sqrt(mn(m+n+1)/3) — one pinned double tree over exact int64
    moments (the Gini idiom), micro-quantized; the 5% flag compares
    |z_micro| to the quantized 1.959964 critical value, so the
    decision is an integer comparison.

    Plan shape: one (type, value) partial agg bounded by the quantized
    value domain; the prefix window partitions BY TYPE; K-row readout.
    int64 bound: 2U <= 2mn — same envelope as EV1."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.when(F.weekday(F.col("ts").cast("date")) + 1 >= 6, 1)
        .otherwise(0)
        .alias("wk"),
        cents(F.col("value")).alias("v"),
    )
    s = e.groupBy("event_type", "v").agg(
        F.sum("wk").cast("long").alias("p"),
        (F.count("*") - F.sum("wk")).cast("long").alias("n"),
    )
    wc = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = s.select(
        "event_type",
        "p",
        "n",
        F.coalesce(F.sum("n").over(wc), F.lit(0)).cast("long").alias("cumn"),
    )
    t = c.groupBy("event_type").agg(
        F.sum(F.col("p") * (2 * F.col("cumn") + F.col("n")))
        .cast("long")
        .alias("two_u"),
        F.sum("p").cast("long").alias("m"),
        F.sum("n").cast("long").alias("n"),
    )
    md, nd = F.col("m").cast("double"), F.col("n").cast("double")
    z = (F.col("two_u").cast("double") - md * nd) / F.sqrt(
        md * nd * (md + nd + 1.0) / 3.0
    )
    z_micro = F.round(z * 1000000).cast("long")
    return t.select(
        "event_type",
        F.col("m").alias("n_weekend"),
        F.col("n").alias("n_weekday"),
        "two_u",
        z_micro.alias("z_micro"),
        (F.abs(z_micro) >= 1959964).alias("significant_5pct"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A41: chi-square independence test (event type x weekend)
# ---------------------------------------------------------------------------

@query(
    "events_chi_square",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN ISODOW(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END AS wk
      FROM events
    ),
    o AS (SELECT event_type, wk, CAST(COUNT(*) AS BIGINT) AS obs
          FROM e GROUP BY event_type, wk),
    rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS row_n FROM o GROUP BY event_type),
    ct AS (SELECT wk, CAST(SUM(obs) AS BIGINT) AS col_n FROM o GROUP BY wk),
    tt AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM o),
    cells AS (
      SELECT o.event_type, o.wk, o.obs, rt.row_n, ct.col_n, tt.total,
             CAST(ROUND((CAST(o.obs AS DOUBLE)
                         - CAST(rt.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE)
                           / CAST(tt.total AS DOUBLE))
                        * (CAST(o.obs AS DOUBLE)
                           - CAST(rt.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE)
                             / CAST(tt.total AS DOUBLE))
                        / (CAST(rt.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE)
                           / CAST(tt.total AS DOUBLE))
                        * 1000000) AS BIGINT) AS contrib_micro
      FROM o JOIN rt USING (event_type) JOIN ct USING (wk) CROSS JOIN tt
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT event_type) - 1 AS BIGINT) AS dof,
           CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro,
           CAST(SUM(contrib_micro) AS BIGINT) >= 9487729 AS significant_5pct
    FROM cells
    """,
)
def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41 chi-square test of independence between event type and
    weekend/weekday — the NOMINAL-axis companion to A40's ordinal
    rank test: is the traffic MIX different on weekends, regardless of
    values?  chi2 = sum (O-E)^2/E over the K x 2 contingency table
    with E = row*col/total.

    Determinism: observed counts and all marginals are exact int64;
    each cell's contribution is ONE pinned double tree over those
    exact integers, micro-quantized BEFORE the sum (the BM25/PSI
    idiom), so the statistic is an exact integer sum; the 5% flag
    compares against the quantized chi2 critical value for
    dof = K-1 (9.487729 at K=5) — an integer comparison.

    Plan shape: one (type, weekend) hash agg collapses the corpus to
    2K cells; marginals are K- and 2-row aggregates of those cells
    broadcast back; a 1-row readout."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.when(F.weekday(F.col("ts").cast("date")) + 1 >= 6, 1)
        .otherwise(0)
        .alias("wk"),
    )
    o = e.groupBy("event_type", "wk").agg(F.count("*").cast("long").alias("obs"))
    rt = o.groupBy("event_type").agg(F.sum("obs").cast("long").alias("row_n"))
    ct = o.groupBy("wk").agg(F.sum("obs").cast("long").alias("col_n"))
    tt = o.agg(F.sum("obs").cast("long").alias("total"))
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("total").cast("double")
    )
    contrib = F.round(
        (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp)
        / exp
        * 1000000
    ).cast("long")
    cells = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "wk")
        .crossJoin(F.broadcast(tt))
        .select("event_type", contrib.alias("contrib_micro"))
    )
    return cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        (F.countDistinct("event_type") - 1).cast("long").alias("dof"),
        F.sum("contrib_micro").cast("long").alias("chi2_micro"),
        (F.sum("contrib_micro").cast("long") >= 9487729).alias("significant_5pct"),
    )


# ---------------------------------------------------------------------------
# A43: A/B power analysis (minimum detectable effect)
# ---------------------------------------------------------------------------

# z_{alpha/2} at 5% two-sided and z_beta at 80% power
_POWER_ZA = "1.959964"
_POWER_ZB = "0.841621"


@query(
    "events_power_analysis",
    f"""
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(s1 * 100 // n AS BIGINT) AS mean_centicents,
           CAST(ROUND((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                AS BIGINT) AS var_cents2,
           CAST(ROUND(({_POWER_ZA} + {_POWER_ZB})
                      * SQRT(2.0
                             * ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                             / (CAST(n AS DOUBLE) / 2.0))
                      * 1000) AS BIGINT) AS mde_millicents,
           CAST(ROUND(({_POWER_ZA} + {_POWER_ZB})
                      * SQRT(2.0
                             * ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                             / (CAST(n AS DOUBLE) / 2.0))
                      / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * 1000000) AS BIGINT) AS mde_relative_ppm
    FROM m ORDER BY event_type
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43 experiment power analysis: the minimum detectable effect on
    mean value per event type if the OBSERVED population were split
    into two equal arms — MDE = (z_a/2 + z_b) * sqrt(2 sigma^2 / (n/2))
    at 5% two-sided / 80% power.  The DESIGN-side member of the
    experimentation toolkit (A18 Welch runs the test, A38 SPRT runs it
    sequentially, A30 CUPED shrinks sigma; this row says whether the
    experiment is worth running at all — an MDE of 40% of the mean
    means the planned test cannot see a 5% lift).

    Determinism: n/s1/s2 are exact int64 moments; the variance and
    MDE are ONE pinned double tree over those moments (Bessel form
    n*s2 - s1^2 over n(n-1) — the A16/Gini idiom), milli-cent and ppm
    quantized; the z constants are shared literals.

    Plan shape: one partial agg to K rows; everything else is K-row
    arithmetic."""
    ev = _t(spark, sf_dir, "events")
    v = cents(F.col("value"))
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(v * v).cast("long").alias("s2"),
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    var = (nd * s2d - s1d * s1d) / (nd * (nd - 1.0))
    zsum = float(_POWER_ZA) + float(_POWER_ZB)
    mde = zsum * F.sqrt(2.0 * var / (nd / 2.0))
    return m.select(
        "event_type",
        "n",
        F.expr("CAST(s1 * 100 div n AS BIGINT)").alias("mean_centicents"),
        F.round(var).cast("long").alias("var_cents2"),
        F.round(mde * 1000).cast("long").alias("mde_millicents"),
        F.round(mde / (s1d / nd) * 1000000).cast("long").alias("mde_relative_ppm"),
    ).orderBy("event_type")
