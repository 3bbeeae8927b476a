"""Deduplication operators (SURVEY §2.11 L1-L2).

Exact dedup is a hash group-by; near-dup comes in three flavors —
MinHash+LSH (band/bucket join), SimHash (Hamming-bucketed 64-bit
sketch), and exact n-gram Jaccard via an inverted-index token join.
Everything is built-in expressions + equi-joins: the LSH band join is
the classic shuffle-on-band-hash plan that scales linearly with corpus
size, unlike the O(n²) pair comparison it replaces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bytesprocessor_spark.functions.text import char_ngrams

# Intermediates feeding both sides of a self-join must be cached or
# their whole lineage runs twice; see operators/caching.py for the
# shared registry and release discipline.
from bytesprocessor_spark.operators.caching import persist_intermediate as _persist


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup on a content hash: keep the lowest id per hash.
    ONE shuffle on the 256-bit hash (hash first so the shuffle key is
    fixed-width regardless of document size): row_number over
    (partition by hash, order by id) keeps the surviving row in place —
    the groupBy(min)+semi-join formulation costs a second shuffle for
    the join-back."""
    from pyspark.sql import Window

    t = F.col(text_col)
    if normalize:
        t = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    h = F.sha2(t.cast("string"), 256)
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def content_hash(text_col, normalize: bool = True):
    """The shared dedup identity: sha256 of (optionally whitespace/case
    normalized) text — fixed-width shuffle/join key.  NULL text hashes
    as the empty string (explicit policy: a NULL sha2 key would never
    equi-join, so NULL-text rows would silently bypass every dedup)."""
    t = F.coalesce(text_col, F.lit(""))
    if normalize:
        t = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    return F.sha2(t.cast("string"), 256)


def incremental_exact_dedup(
    delta: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Ingest-time dedup: keep only delta rows whose content is (a) not
    already in the existing corpus and (b) unique within the delta
    (lowest id wins) — the batch shape of continuously deduplicating a
    growing lake without ever re-scanning old data against itself.

    Two hash-key operations: one anti-join delta-hash vs corpus-hash
    (the corpus side reduces to DISTINCT hashes — fixed-width, far
    smaller than the corpus; at 100 TB this hash set is the natural
    thing to PERSIST between ingests, bucketed by hash, so each new
    delta joins against it shuffle-free), then the L1 within-delta
    keep.  Never shuffles document text — only 32-byte hashes."""
    h = content_hash(F.col(text_col), normalize)
    corpus_hashes = corpus.select(h.alias("__h")).distinct()
    fresh = (
        delta.withColumn("__h", h)
        .join(corpus_hashes, "__h", "left_anti")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


_MERSENNE = (1 << 31) - 1  # 2^31-1, the classic universal-hash modulus


def _hash_family(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine hash family (a_i, b_i): h_i(x) = (a_i*x +
    b_i) mod (2^31-1).  Parameters derive from an md5 counter so they
    are stable across sessions/engines; a_i != 0.  With x < 2^31 and
    a_i < 2^31 the product stays < 2^62 — no long overflow under ANSI
    mode."""
    import hashlib

    params = []
    for i in range(num_hashes):
        h = hashlib.md5(f"minhash:{seed}:{i}".encode()).digest()
        a = int.from_bytes(h[:4], "big") % (_MERSENNE - 1) + 1
        b = int.from_bytes(h[4:8], "big") % _MERSENNE
        params.append((a, b))
    return params


def hashed_shingle_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
) -> DataFrame:
    """(id, h) token table: one row per char-shingle OCCURRENCE, h =
    xxhash64 of the lowercased shingle.  Deliberately built from
    explode(sequence) + substring + xxhash64 — scalar expressions that
    stay inside whole-stage codegen — rather than array higher-order
    functions, which are interpreted (no codegen, no CSE) and measured
    ~4× slower on this feed.  Duplicates are kept: MIN-based minhash
    is multiset-invariant, and set consumers dedup with collect_set.
    This is the shared feed of the MinHash family: one
    :func:`minhash_profile_table` aggregate turns it into signatures
    and shingle sets.

    The corpus is spread to session parallelism BEFORE the shingle
    explode (r11, :func:`~bytesprocessor_spark.sources.tables.spread_scan`):
    a single-row-group parquet fixture is one unsplittable scan task,
    which serialized the entire ~25M-shingle × 126-hash feed onto one
    core; the keyed exchange moves only the raw documents (tiny next
    to the hash work) and is a no-op when the scan is already wide."""
    from bytesprocessor_spark.sources.tables import spread_scan

    t = F.lower(F.col(text_col))
    return (
        spread_scan(df, id_col).select(F.col(id_col).alias("id"), t.alias("__t"))
        .select(
            "id",
            "__t",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("__t") - (shingle_size - 1), F.lit(1)),
                )
            ).alias("__i"),
        )
        .select(
            "id",
            F.xxhash64(F.col("__t").substr(F.col("__i"), F.lit(shingle_size))).alias("h"),
        )
    )


def minhash_profile_table(
    tokens: DataFrame,
    num_hashes: int,
) -> DataFrame:
    """(id, m0..m{num_hashes-1}, sh): the minhash signature AND the
    exact shingle-hash set in ONE aggregation pass over a
    :func:`hashed_shingle_tokens` feed — the one MinHash aggregate.
    The signature feeds the banded candidate join, the set feeds the
    exact-Jaccard verify; a consumer that reads only the signature (a
    band table) gets the collect_set pruned out of the aggregate.

    The signature is num_hashes codegen'd ``min(pmod(a_i*h31 + b_i,
    p))`` aggregates over the per-doc token rows (h31 = the 64-bit
    token hash folded to 31 bits so the affine products can't overflow
    a long under ANSI mode).  Plan-shape rationale: the expression-only
    alternatives are all interpreted — higher-order functions get
    neither whole-stage codegen nor common-subexpression elimination
    (a projected-column form even gets inlined by CollapseProject into
    every reference site, re-running the shingle pipeline 128×;
    measured 9× slower end-to-end).  The explode/agg form keeps the
    entire ~100M-op hash family inside compiled code at the cost of
    one shuffle on the doc id, which partial (map-side) aggregation
    collapses to one row per doc and partition."""
    h31 = F.pmod(F.col("h"), F.lit(_MERSENNE))
    aggs = [
        F.min(F.pmod(F.lit(a) * h31 + F.lit(b), F.lit(_MERSENNE))).alias(f"m{i}")
        for i, (a, b) in enumerate(_hash_family(num_hashes))
    ]
    aggs.append(F.collect_set("h").alias("sh"))
    return tokens.groupBy("id").agg(*aggs)


def _doc_profile(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int, num_hashes: int
) -> DataFrame:
    """Persisted :func:`minhash_profile_table` of a document frame: it
    feeds both a band table and the verify's sets, so the tokens are
    aggregated once."""
    tokens = hashed_shingle_tokens(df, text_col, id_col, shingle_size)
    return _persist(minhash_profile_table(tokens, num_hashes))


def _band_explode(profile: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bh) LSH bucket table from a
    :func:`minhash_profile_table`: one row per band, each carrying the
    xxhash64 of that band's signature slice (hashed DIRECTLY over the
    long columns — the concat_ws string form materializes ~20 chars ×
    bands per row just to throw them away).

    This is the PERSISTABLE artifact of MinHash-LSH: at 100 TB the
    corpus's band table is written once at ingest
    (:func:`write_neardup_index`) and every near-dup query — self-join
    (:func:`minhash_lsh_pairs`) or delta-vs-corpus admission — is an
    equi-join against it, never a corpus re-shingle."""
    rows = num_hashes // bands
    return profile.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[f"m{b * rows + r}" for r in range(rows)]).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def _scored(
    pairs: DataFrame, c: Column, n_a: Column, n_b: Column, threshold: float, a: str, b: str
) -> DataFrame:
    """(a, b, jaccard) from the overlap ``c`` and the set sizes
    ``n_a``/``n_b`` of each pair: J = c / (n_a + n_b - c) in doubles,
    kept at >= threshold.  The one Jaccard formula, so the count join
    and the candidate verify give the same doubles for the same pair."""
    inter_n = c.cast("double")
    union_n = (n_a + n_b).cast("double") - inter_n
    return (
        pairs.withColumn("jaccard", inter_n / union_n)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select(a, b, "jaccard")
    )


def jaccard_verify(
    pairs: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """The exact verify of LSH-then-verify: join the proposed ``(a, b)``
    pairs to the ``(id, sh)`` shingle-hash sets of each side (a
    :func:`minhash_profile_table`, or the index's stored sets) and
    score each pair with one array_intersect — work proportional to
    the pair count, not to shingle co-occurrence.  Returns (a, b,
    jaccard) for pairs at or above ``threshold``.

    The overlap is the output of a one-element ``explode``: a Generate
    the threshold filter cannot be pushed below, so the optimizer
    cannot inline the array_intersect into the join condition (twice,
    once per use in the formula) and again into each later projection
    of ``jaccard``."""
    paired = (
        pairs.select(a, b)
        .join(sets_a.select(F.col("id").alias(a), F.col("sh").alias("sh_a")), a)
        .join(sets_b.select(F.col("id").alias(b), F.col("sh").alias("sh_b")), b)
    )
    counted = paired.withColumn(
        "c", F.explode(F.array(F.size(F.array_intersect("sh_a", "sh_b"))))
    )
    return _scored(counted, F.col("c"), F.size("sh_a"), F.size("sh_b"), threshold, a, b)


def _admit(
    corpus_bands: DataFrame,
    corpus_sets: DataFrame,
    delta_profile: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """(corpus_id, delta_id, jaccard): the delta's bands equi-join the
    corpus band table on (band, bh), and only the colliding pairs are
    verified against the corpus sets."""
    db = _band_explode(delta_profile, num_hashes, bands)
    cand = (
        corpus_bands.alias("c")
        .join(
            db.alias("d"),
            (F.col("c.band") == F.col("d.band")) & (F.col("c.bh") == F.col("d.bh")),
        )
        .select(F.col("c.id").alias("corpus_id"), F.col("d.id").alias("delta_id"))
        .distinct()
    )
    return jaccard_verify(cand, corpus_sets, delta_profile, threshold, "corpus_id", "delta_id")


def write_neardup_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 126,
    bands: int = 21,
    shingle_size: int = 5,
) -> None:
    """Persist the corpus's near-dup index: ``<path>/bands`` — the
    (id, band, bh) LSH bucket table, written bucketed-by-nothing but
    sorted within files by (band, bh) so the admission join's shuffle
    reads collate — and ``<path>/shingles`` — the per-doc shingle-hash
    sets the exact-Jaccard verify intersects.  Both come from one
    profile aggregation.  Built at ingest, this is what makes
    batch/stream admission O(delta): the 100 TB corpus text is never
    touched again (both tables are fixed-width longs, ~1-2% of corpus
    bytes)."""
    prof = _doc_profile(corpus, text_col, id_col, shingle_size, num_hashes)
    _band_explode(prof, num_hashes, bands).sortWithinPartitions("band", "bh").write.mode(
        "overwrite"
    ).parquet(f"{path}/bands")
    prof.select("id", "sh").write.mode("overwrite").parquet(f"{path}/shingles")


def neardup_admit_against_index(
    spark,
    index_path: str,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 126,
    bands: int = 21,
    shingle_size: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """Admission of a delta batch against a PERSISTED
    :func:`write_neardup_index`: shingle + sign ONLY the delta, join
    its bands against the stored bucket table, verify the colliding
    pairs against the stored shingle sets — the corpus document text
    is provably absent from the plan (pytest-pinned).  Returns
    (corpus_id, delta_id, jaccard) like
    :func:`incremental_minhash_dedup`, whose in-flow result it matches
    row-for-row."""
    return _admit(
        spark.read.parquet(f"{index_path}/bands"),
        spark.read.parquet(f"{index_path}/shingles"),
        _doc_profile(delta, text_col, id_col, shingle_size, num_hashes),
        num_hashes,
        bands,
        threshold,
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 126,
    bands: int = 21,
    shingle_size: int = 5,
    threshold: float = 0.9,
    corpus_profile: DataFrame | None = None,
    delta_profile: DataFrame | None = None,
) -> DataFrame:
    """Near-dup ADMISSION for a delta batch against an existing corpus
    — the incremental form of LSH-then-verify (the near-dup sibling of
    :func:`incremental_exact_dedup`): band buckets for the delta docs
    equi-join the corpus band table, and only the colliding
    (corpus, delta) pairs are verified with exact shingle Jaccard.

    Plan shape: each side's :func:`minhash_profile_table` gives its
    band table and its shingle sets.  Here the corpus profile is built
    in-flow unless ``corpus_profile`` passes a prebuilt one, but at
    the design point it is PERSISTED at ingest
    (:func:`write_neardup_index`), so admitting a batch costs O(delta)
    compute plus one (band, bh) equi-join and |candidates| array
    intersections — the 100 TB corpus is never re-read, exactly like
    the exact-hash incremental row
    (:func:`neardup_admit_against_index`).  ``delta_profile`` likewise
    skips the delta's shingle and aggregate passes.  Band geometry
    keeps the miss probability for J >= 0.9 pairs at (1-0.9^6)^21 ~
    1.3e-7.

    Returns (corpus_id, delta_id, jaccard) for verified pairs at or
    above ``threshold``, one row per admitted duplicate relation.
    """
    if corpus_profile is None:
        corpus_profile = _doc_profile(corpus, text_col, id_col, shingle_size, num_hashes)
    if delta_profile is None:
        delta_profile = _doc_profile(delta, text_col, id_col, shingle_size, num_hashes)
    return _admit(
        _band_explode(corpus_profile, num_hashes, bands),
        corpus_profile,
        delta_profile,
        num_hashes,
        bands,
        threshold,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 126,
    bands: int = 21,
    shingle_size: int = 5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash + banded LSH.

    Plan shape: token explode -> signature hash-agg -> explode to
    ``bands`` rows -> shuffle on (band, band_hash) -> self-join within
    buckets.  At 100 TB the bucket join's key space is uniform by
    construction (hash values), so no skew.

    Band geometry: a pair with Jaccard J collides in one band with
    probability J^(num_hashes/bands); the default 21 bands × 6 rows
    gives miss probability (1-J^6)^21 ≈ 1.3e-7 at J=0.9 while
    admitting only ~28% of J=0.5 pairs — the 4-row config admits 87%
    of them, a ~30× larger candidate set on template-heavy corpora
    for the same recall.

    ``signatures``: optional pre-built (persisted)
    :func:`minhash_profile_table` of ``df`` — skips the shingle and
    aggregate passes entirely.  Returns distinct (id_a < id_b)
    candidate pairs; :func:`jaccard_verify` scores them.
    """
    if signatures is None:
        tokens = hashed_shingle_tokens(df, text_col, id_col, shingle_size)
        signatures = minhash_profile_table(tokens, num_hashes)
    # The banded table feeds BOTH sides of the bucket self-join; persist
    # so the signature pipeline (the expensive part) runs once, not twice.
    banded = _persist(_band_explode(signatures, num_hashes, bands))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def exact_jaccard_pairs(tokens: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact shingle Jaccard pairs >= threshold from an (id, h) token
    table (:func:`hashed_shingle_tokens`, or any other hashed feed such
    as word 3-grams).

    Shared-shingle count join: a persisted (id, h, n) table of distinct
    shingle hashes and set sizes joins itself on ``h`` under the length
    filter, and ``count()`` per pair is |A∩B|.  No per-pair set
    operation runs, but the join emits one row per shared shingle per
    pair (0.98M rows, 1.29M before the length filter, on the 5k-doc
    word-3 benchmark corpus at t = 0.5); high thresholds at scale go
    through :func:`minhash_lsh_pairs` candidates and
    :func:`jaccard_verify` instead.

    Shingle identity is the 64-bit token hash (set ops on fixed-width
    longs beat strings severalfold; a collision among ~1e6 distinct
    shingles has P ≈ n²/2⁶⁵ — negligible).  Returns (id_a, id_b,
    jaccard), id_a < id_b.
    """
    sh = tokens.groupBy("id").agg(F.collect_set("h").alias("sh"))
    t = float(threshold)
    # One row per distinct (doc, shingle) with the doc's set size; it
    # feeds both sides of the self-join, so persist it.
    toks = _persist(sh.select("id", F.explode("sh").alias("h"), F.size("sh").alias("n")))
    a = toks.select(F.col("id").alias("id_a"), "h", F.col("n").alias("n_a"))
    b = toks.select(F.col("id").alias("id_b"), "h", F.col("n").alias("n_b"))
    # Length filter: J >= t needs each set size >= t times the other.
    # t*n in floats can round UP past an integer (0.28*25 ->
    # 7.000000000000001) and drop a pair whose J is exactly t; the
    # epsilon, below one ulp of any realistic t*n, keeps it exact.
    eps = F.lit(1e-9)
    pairs = (
        a.join(b, "h")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.col("n_a") * t - eps)
            & (F.col("n_a") >= F.col("n_b") * t - eps)
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("c"))
    )
    return _scored(pairs, F.col("c"), F.col("n_a"), F.col("n_b"), t, "id_a", "id_b")


def _block_pair_scores(
    base: DataFrame, n_blocks: int, quantize: bool, threshold: float
) -> DataFrame:
    """Exact all-pairs cosine as a block-partitioned cogrouped GEMM —
    the standard distributed layout for a dense pair scan (join-grid a
    la Okcan & Riedewald SIGMOD'11 1-Bucket / block-wise matrix
    product):

      row -> block b = id mod B; every unordered block pair (i <= j)
      is one cogroup key; the left side replicates a row to keys
      (b, j >= b), the right side to (i <= b, b).  Each task gets two
      ~n/B vector blocks, multiplies them as ONE numpy matmul, and
      emits only the qualifying pairs.

    O(n²) work (exactness at an arbitrary threshold requires it), but:
    one shuffle of n*B rows (replication ~B/2 per side — pick B ~
    sqrt(2*parallelism)), no nested-loop join, no corpus broadcast, no
    per-pair row ever materialized in the engine.  With quantize=True
    all arithmetic is exact-integer in doubles, so the scores are
    bit-identical to any other engine's (the DuckDB oracle gate)."""
    from bytesprocessor_spark.functions.vectors import to_matrix

    blk = F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
    left = base.withColumn("__bi", blk).withColumn(
        "__bj", F.explode(F.sequence(F.col("__bi"), F.lit(n_blocks - 1)))
    )
    # Distinct column names on the right side: a self-cogroup reuses the
    # left plan's expression ids, and the analyzer's attribute dedup
    # then prunes the right side's data columns out of the Arrow batch
    # (observed as KeyError in the UDF).  Fresh aliases force fresh
    # attributes.
    rbase = base.select(F.col("id").alias("rid"), F.col("v").alias("rv"))
    rblk = F.pmod(F.col("rid"), F.lit(n_blocks)).cast("int")
    right = rbase.withColumn("__bj", rblk).withColumn(
        "__bi", F.explode(F.sequence(F.lit(0), F.col("__bj")))
    )
    thr = float(threshold)

    def score(key, l, r):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "sim": np.array([], dtype=np.float64),
            }
        )
        if len(l) == 0 or len(r) == 0:
            return empty
        ids_l = l["id"].to_numpy(dtype=np.int64)
        ids_r = r["rid"].to_numpy(dtype=np.int64)
        A = to_matrix(l["v"], quantize)
        B = to_matrix(r["rv"], quantize)
        S = (A @ B.T) / (
            np.sqrt(np.einsum("ij,ij->i", A, A))[:, None]
            * np.sqrt(np.einsum("ij,ij->i", B, B))[None, :]
        )
        mask = S >= thr
        if key[0] == key[1]:
            # within-block square: keep the upper triangle by id order
            mask &= ids_l[:, None] < ids_r[None, :]
        ii, jj = np.nonzero(mask)
        ia, ib = ids_l[ii], ids_r[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "sim": S[ii, jj],
            }
        )

    return (
        left.groupBy("__bi", "__bj")
        .cogroup(right.groupBy("__bi", "__bj"))
        .applyInPandas(score, "id_a long, id_b long, sim double")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    candidates: DataFrame | None = None,
    quantize: bool = False,
    n_blocks: int = 32,
) -> DataFrame:
    """Embedding-cosine near-dup pairs >= threshold (SURVEY §2.11 L2,
    the vector-space complement of the text-shingle detectors).

    Without ``candidates``: exact all-pairs via the block-partitioned
    cogrouped GEMM in :func:`_block_pair_scores` — O(n²) work spread
    evenly over B(B+1)/2 cogroup keys, scored as per-task numpy
    matmuls.  Use as the verifier / small-side scanner; the linear-
    scaling scanner is the LSH-prefiltered form below.

    With ``candidates`` (LSH-then-verify, the 100 TB path): SRP-LSH
    proposes same-bucket pairs (``operators.similarity.
    srp_candidate_pairs``), only those are joined back to vectors and
    verified by a vectorized Arrow cosine — shuffle keys are LSH
    buckets and pair ids, never the full pair space.

    Why Arrow/numpy and not built-in expressions: the array HOFs
    (aggregate/zip_with) are interpreted, and unrolled scalar chains
    break Janino — both measured slower by 5-20x than the Arrow batch
    path on 64-dim vectors.  ``quantize`` rounds components to 1e-6
    fixed-point so every product/partial sum is an exact integer and
    the cosine is bit-identical across engines (DuckDB-oracle mode).
    Returns (id_a, id_b, sim) with id_a < id_b.
    """
    from bytesprocessor_spark.functions.vectors import cosine_pairs_udf

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if candidates is not None:
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("__v_a"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("__v_b"))
        paired = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
        return (
            paired.withColumn("sim", cosine_pairs_udf(quantize)(F.col("__v_a"), F.col("__v_b")))
            .where(F.col("sim") >= F.lit(float(threshold)))
            .select("id_a", "id_b", "sim")
        )
    return _block_pair_scores(base, n_blocks, quantize, threshold)


def embedding_dedup_keep(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    candidates: DataFrame | None = None,
    quantize: bool = False,
    n_blocks: int = 32,
) -> DataFrame:
    """Greedy keep-lowest-id embedding dedup: drop every vector that has
    a near-duplicate (cosine >= threshold) with a smaller id — the
    standard single-pass survivor rule (each dropped row names a kept
    or earlier-dropped witness; transitive chains collapse to the
    smallest id reachable).  Implemented as pairs -> left-anti join on
    the larger id, so the only shuffles are the pair scan and one
    fixed-width anti join."""
    pairs = embedding_cosine_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        candidates=candidates, quantize=quantize, n_blocks=n_blocks,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_cells: int = 32,
    quantize: bool = False,
    centroids: list | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-bounded near-dup pairs (Abbas et al.
    2023, arXiv:2303.09540): coarse-cluster the embeddings, then score
    pairs only WITHIN a cluster — semantic duplicates are by definition
    cosine-close, so they land in the same Voronoi cell and the pair
    space shrinks from O(n²) to O(Σ|cell|²).

    Plan shape: one Arrow-GEMM map-only cell assignment (reusing the
    IVF coarse quantizer, ``operators.similarity``), one shuffle on the
    int cell id for the self-join, vectorized pair cosine on the
    within-cell pairs.  At 100 TB pick n_cells ~ n/target_cell_size so
    each cell's pair block fits one task; cells are independent, so the
    scan parallelizes perfectly and no executor ever sees the corpus.

    ``quantize`` fixed-points vectors (1e-6) so assignment and scores
    are bit-identical across engines (the DuckDB oracle re-derives the
    same sampled centroids from the data — no literals needed).
    Returns (id_a, id_b, sim) with id_a < id_b, sim >= threshold.
    """
    from bytesprocessor_spark.functions.vectors import cosine_pairs_udf
    from bytesprocessor_spark.operators.similarity import (
        ivf_assign_udf,
        sample_centroids,
    )

    if centroids is None:
        centroids = sample_centroids(
            df, n_cells, id_col=id_col, vec_col=vec_col, quantize=quantize
        )
    # vectors stay RAW in the plan; the assignment GEMM and the pair
    # cosine quantize them batch-wise when quantize=True (r11: the
    # corpus-wide interpreted F.transform fixed-pointing was the
    # slowest expression in this plan — guide §4.2, vectorize in the
    # batch).  Identical rounding, bit-identical scores.
    assigned = _persist(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")).withColumn(
            "cell", ivf_assign_udf(centroids, quantize=quantize)(F.col("__v"))
        )
    )
    a = assigned.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"), "cell")
    b = assigned.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"), "cell")
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_pairs_udf(quantize)(F.col("__va"), F.col("__vb")))
        .where(F.col("sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "sim")
    )


def semantic_dedup_keep(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_cells: int = 32,
    quantize: bool = False,
    centroids: list | None = None,
) -> DataFrame:
    """SemDeDup survivor set: greedy keep-lowest-id over the
    cluster-bounded pair graph (same survivor rule as
    :func:`embedding_dedup_keep`, with the pair scan restricted to
    same-cell pairs — the approximation SemDeDup trades for linear
    scaling; cross-cell near-dups at the Voronoi boundary are the
    recall loss, bounded by cluster granularity)."""
    pairs = semantic_dedup_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        n_cells=n_cells, quantize=quantize, centroids=centroids,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def simhash_sketch_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 4,
    n_blocks: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, sh) SimHash sketch table: per shingle take a 64-bit hash,
    sum signed contributions per bit position, sign -> bit, stored as
    ``n_blocks`` block values (array<long>) — the form the pigeonhole
    join needs, with no 64-bit sign/overflow concerns under ANSI mode.

    ``hash_mode``:
      * ``"xxhash64"`` (default) — 64 bits, the fast JVM-native path.
      * ``"md5"`` — 60 bits from the first 15 hex chars of md5(shingle)
        (stays inside a signed long); md5 is identical in every engine,
        so this mode is the DuckDB-oracle-checkable form.

    The codegen formulation (same rationale as the minhash aggregate):
    shingles explode to one row each, the per-bit signed sums run as
    n_bits compiled SUM(CASE) aggregates with map-side partial
    aggregation, and blocks pack from the agg row.  Measured ~10x
    faster than an array-HOF (aggregate + zip_with) form on
    corpus-scale feeds (interpreted HOFs get no codegen/CSE); one
    shuffle on the doc id.  The groupBy folds duplicate ids into one
    combined sketch (the pair join downstream is keyed by id, so
    duplicate-id inputs are ill-defined for it either way; dedup ids
    first).
    """
    if hash_mode == "xxhash64":
        n_bits, hasher = 64, F.xxhash64
    elif hash_mode == "md5":
        n_bits = 60
        hasher = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")  # noqa: E731
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    if n_bits % n_blocks:
        raise ValueError(
            f"n_blocks={n_blocks} must divide the {n_bits}-bit sketch "
            "(a remainder would silently drop high bits from every block)"
        )
    width = n_bits // n_blocks
    # explode_outer: a NULL-text doc keeps one (id, NULL-shingle) row
    # instead of vanishing from the output (plain explode drops it).
    # md5(NULL) is NULL (sums go -1 -> all-zero sketch), while
    # xxhash64(NULL) returns the seed 42, so that mode sketches the
    # bits of 42.
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(char_ngrams(F.col(text_col), shingle_size)).alias("__s"),
    ).select("id", hasher(F.col("__s")).alias("__h"))
    aggs = [
        F.sum(
            F.when(F.getbit(F.col("__h"), F.lit(j)) == 1, F.lit(1)).otherwise(F.lit(-1)).cast("long")
        ).alias(f"c{j}")
        for j in range(n_bits)
    ]
    counts = toks.groupBy("id").agg(*aggs)
    blocks = []
    for b in range(n_blocks):
        val = F.lit(0).cast("long")
        for j in range(width):
            bit = (
                F.when(F.col(f"c{b * width + j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            )
            val = val * 2 + bit
        blocks.append(val)
    return counts.select("id", F.array(*blocks).alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: any pair within ``max_hamming <
    n_blocks`` bits must agree exactly on at least one block
    (pigeonhole) — equi-join per block index+value, then verify the
    exact Hamming distance over all blocks.  Sketches come from the
    aggregated (codegen) formulation."""
    sk = simhash_sketch_table(
        df, text_col=text_col, id_col=id_col, n_blocks=n_blocks, hash_mode=hash_mode
    )
    return block_hamming_pairs(sk, max_hamming)


def block_hamming_pairs(sk: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole Hamming join over any (id, sh: array<long>) sketch
    table (SimHash, image aHash, ...): pairs within ``max_hamming <
    n_blocks`` bits must agree exactly on >= 1 block, so the candidate
    join is a block-value equi-join (shuffle key (blk, value)); the
    exact Hamming over all blocks verifies.  Returns
    (id_a, id_b, hamming) with id_a < id_b."""
    blocked = sk.select(
        "id",
        "sh",
        F.posexplode("sh").alias("blk", "bv"),
    )
    blocked = _persist(blocked)  # feeds both sides of the pigeonhole self-join
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("sh_a"), F.col("sh_b"), lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def containment_pairs(
    tokens: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact set-containment pairs from an (id, h) shingle token
    table: C(a, b) = |A∩B| / min(|A|, |B|) >= threshold — the
    excerpt/subset signal Jaccard misses (a short doc fully quoted
    inside a long one has tiny Jaccard but containment 1.0).

    Plan: distinct (id, shingle) -> inverted-index self-join on the
    shingle hash (shuffle keys are shingles, never pairs) -> pair
    intersection counts via partial agg -> two size joins.  No prefix
    filter exists for containment (a contained doc may share ALL its
    shingles), so hub shingles are the scale hazard here; for corpora
    with heavy boilerplate, feed winnowed fingerprints
    (functions/text.py:winnow_fingerprints) instead of raw shingles —
    same join, ~2/(w+1) of the tokens.  Returns (id_a, id_b, inter,
    containment), id_a < id_b.
    """
    e = tokens.select("id", "h").distinct()
    sz = e.groupBy("id").agg(F.count("*").alias("n"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sz.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    cont = F.col("inter") * 1.0 / F.least("na", "nb")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .where(cont >= F.lit(float(threshold)))
        .select("id_a", "id_b", "inter", cont.alias("containment"))
    )
