"""Dedup operator semantics (SURVEY §2.11 L1-L2) on hand-built corpora
with known duplicate structure."""

from __future__ import annotations

import functools
import random
import re

import pytest

from bytesprocessor_spark.operators.dedup import (
    exact_dedup,
    exact_jaccard_pairs,
    hashed_shingle_tokens,
    jaccard_verify,
    minhash_lsh_pairs,
    minhash_profile_table,
    simhash_near_dup_pairs,
    simhash_sketch_table,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit: near-duplicate
FAR = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution and shuffles"
)

DOCS = [
    (0, BASE),
    (1, BASE),                      # exact dup of 0
    (2, "  " + BASE.upper() + " "), # normalized dup of 0
    (3, NEAR),                      # near dup of 0
    (4, FAR),
    (5, "tiny"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs_df):
    kept = sorted(r.doc_id for r in exact_dedup(docs_df).collect())
    # 0,1,2 collapse (case/whitespace normalization) -> keep 0
    assert kept == [0, 3, 4, 5]


def test_exact_dedup_no_normalize(docs_df):
    kept = sorted(r.doc_id for r in exact_dedup(docs_df, normalize=False).collect())
    assert kept == [0, 2, 3, 4, 5]  # only the byte-identical pair collapses


def test_exact_jaccard_pairs(docs_df):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in exact_jaccard_pairs(hashed_shingle_tokens(docs_df), threshold=0.6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.6 <= pairs[(0, 3)] < 1.0
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_minhash_candidates_contain_true_dups(docs_df):
    cands = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs_df).collect()}
    assert (0, 1) in cands and (0, 2 if False else 1) in cands
    assert (0, 3) in cands or (1, 3) in cands  # near-dup bucketed together
    assert (0, 4) not in cands and (4, 5) not in cands


def test_minhash_then_verify_equals_exact(docs_df):
    toks = hashed_shingle_tokens(docs_df)
    prof = minhash_profile_table(toks, 126)
    cands = minhash_lsh_pairs(docs_df, signatures=prof)
    verified = {
        (r.id_a, r.id_b) for r in jaccard_verify(cands, prof, prof, threshold=0.8).collect()
    }
    direct = {(r.id_a, r.id_b) for r in exact_jaccard_pairs(toks, threshold=0.8).collect()}
    assert verified == direct


# Boundary pairs (size_a, size_b, t) whose Jaccard is exactly t: B's
# shingles are a prefix of A's, so J = size_b / size_a.  At 0.28 and
# 0.56 the float product t*size_a rounds UP past size_b
# (0.28*25 = 7.000000000000001), so a length filter without its
# epsilon drops these pairs.
_BOUNDARY = [(5, 3, 0.6), (10, 7, 0.7), (25, 7, 0.28), (25, 14, 0.56)]
_THRESHOLDS = sorted({0.3, 0.5, 0.6, 0.7, 0.9} | {t for _, _, t in _BOUNDARY})


def _word3_set(text):
    w = [x for x in re.split(r"[^a-z0-9]+", text.lower()) if x]
    if len(w) < 3:
        return {" ".join(w)} if w else set()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def _char5_set(text):
    t = text.lower()
    return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}


def _brute_jaccard(docs, shingles, t):
    sets = {i: shingles(s) for i, s in docs}
    sets = {i: s for i, s in sets.items() if s}
    out = {}
    for a in sets:
        for b in sets:
            if a < b:
                c = len(sets[a] & sets[b])
                j = float(c) / (float(len(sets[a]) + len(sets[b])) - float(c))
                if j >= t:
                    out[(a, b)] = j
    return out


def test_exact_jaccard_pairs_match_brute_force(spark):
    """The count join over both shingle feeds, and the candidate verify
    over every id_a < id_b pair with sets from the minhash profile, at
    every threshold, boundary pairs with J exactly t included, against
    a brute-force Python Jaccard — the jaccard doubles must be equal,
    not close.  All cases run as one union and one collect."""
    from pyspark.sql import functions as F

    import bytesprocessor_spark.queries  # noqa: F401 (loads queries_llm's import cycle in order)
    from bytesprocessor_spark.queries_llm import _word3_hashed_tokens

    rng = random.Random(11)
    word_docs = [
        (i, " ".join(rng.choice(["ab", "abc", "bcd", "cd", "d"]) for _ in range(rng.randint(1, 9))))
        for i in range(40)
    ]
    char_docs = [(i, "".join(rng.choice("ab c") for _ in range(rng.randint(3, 16)))) for i in range(40)]
    for g, (na, nb, _) in enumerate(_BOUNDARY):
        words = [f"g{g}w{k}" for k in range(na + 2)]
        word_docs += [(100 + 2 * g, " ".join(words)), (101 + 2 * g, " ".join(words[: nb + 2]))]
        chars = "".join(chr(0x4E00 + 100 * g + k) for k in range(na + 4))
        char_docs += [(100 + 2 * g, chars), (101 + 2 * g, chars[: nb + 4])]

    def count_join(tokens):
        return lambda t: exact_jaccard_pairs(tokens, threshold=t)

    def verify_all_pairs(tokens):
        prof = minhash_profile_table(tokens, 1)
        ids = prof.select("id")
        cands = ids.toDF("id_a").crossJoin(ids.toDF("id_b")).where("id_a < id_b")
        return lambda t: jaccard_verify(cands, prof, prof, threshold=t)

    feeds = {
        "word3": (word_docs, _word3_set, _word3_hashed_tokens, count_join),
        "char5": (char_docs, _char5_set, hashed_shingle_tokens, count_join),
        "char5_verify": (char_docs, _char5_set, hashed_shingle_tokens, verify_all_pairs),
    }
    parts, want = [], {}
    for feed, (docs, shingles, tokenize, scorer) in feeds.items():
        pairs_at = scorer(tokenize(spark.createDataFrame(docs, "doc_id long, text string")))
        for t in _THRESHOLDS:
            want[(feed, t)] = _brute_jaccard(docs, shingles, t)
            parts.append(pairs_at(t).select(F.lit(feed).alias("feed"), F.lit(t).alias("t"), "*"))
    got = {k: {} for k in want}
    for r in functools.reduce(lambda x, y: x.unionByName(y), parts).collect():
        got[(r.feed, r.t)][(r.id_a, r.id_b)] = r.jaccard

    for g, (na, nb, t) in enumerate(_BOUNDARY):
        for feed in feeds:
            assert want[(feed, t)][(100 + 2 * g, 101 + 2 * g)] == nb / na
    assert all(want[k] for k in want if k[1] <= 0.5)
    assert got == want


def test_simhash_sketch_properties(docs_df):
    rows = simhash_sketch_table(docs_df).collect()
    by_id = {r.id: r.sh for r in rows}
    assert all(len(v) == 4 for v in by_id.values())
    assert all(0 <= b < 2**16 for v in by_id.values() for b in v)
    assert by_id[0] == by_id[1]  # identical text -> identical sketch
    ham = lambda x, y: sum(bin(a ^ b).count("1") for a, b in zip(x, y))  # noqa: E731
    assert ham(by_id[0], by_id[3]) < ham(by_id[0], by_id[4])


def test_simhash_near_dup_pairs(docs_df):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dup_pairs(docs_df, max_hamming=6).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 3) in pairs
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_embedding_cosine_pairs_geometry(spark):
    """Constructed geometry: (0,1) nearly parallel, 2 orthogonal,
    3 antiparallel — only (0,1) crosses a 0.9 threshold."""
    from bytesprocessor_spark.operators.dedup import embedding_cosine_pairs

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_cosine_pairs(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 1)]
    assert pairs[0].sim > 0.99


def test_embedding_dedup_keep_greedy_chain(spark):
    """Chain 0~1, 1~2 with 0!~2: greedy keep-lowest-id drops every
    vector with a smaller-id near-dup -> survivors {0, 3}."""
    from bytesprocessor_spark.operators.dedup import embedding_dedup_keep

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.4359]),   # cos(0,1) ~ 0.90
            (2, [0.62, 0.7846]),  # cos(1,2) ~ 0.90, cos(0,2) ~ 0.62
            (3, [0.0, 1.0]),      # cos(2,3) ~ 0.78 < threshold
        ],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(r.vec_id for r in embedding_dedup_keep(df, threshold=0.85).collect())
    assert kept == [0, 3]


def test_embedding_pairs_lsh_prefilter_subset(spark):
    """LSH-prefiltered pairs must be a subset of exact pairs at the
    same threshold (verify step re-scores every candidate)."""
    from bytesprocessor_spark.operators.dedup import embedding_cosine_pairs
    from bytesprocessor_spark.operators.similarity import _lsh_tables
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tagged = _lsh_tables(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("__v")),
        "__v", 64, 4, 8,
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(emb, threshold=0.4).collect()
    }
    filtered = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(emb, threshold=0.4, candidates=cands).collect()
    }
    assert filtered <= exact
    assert len(filtered) > 0


def test_srp_candidates_recall_on_planted_dups(spark):
    """SRP-LSH's operating regime: true duplicates (cosine >= ~0.95,
    e.g. re-crawls / boilerplate copies with embedding jitter) must be
    recalled near-totally.  100 base vectors + 30 planted near-dups;
    the LSH-prefiltered pairs must recover >= 90% of planted pairs
    (default 6 planes x 10 tables => expected recall ~0.99 at
    cos 0.95)."""
    import random

    from bytesprocessor_spark.operators.dedup import embedding_cosine_pairs
    from bytesprocessor_spark.operators.similarity import srp_candidate_pairs

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(100):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    planted = []
    for j in range(30):
        base_id = j * 3
        dup = [x + rng.gauss(0, 0.02) for x in rows[base_id][1]]
        rows.append((1000 + j, dup))
        planted.append((base_id, 1000 + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cands = srp_candidate_pairs(df, dim=dim)
    got = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, threshold=0.9, candidates=cands
        ).collect()
    }
    recalled = sum(1 for p in planted if p in got)
    assert recalled >= 27, f"recall {recalled}/30 below 90%"


def test_srp_prefiltered_subset_of_exact(spark):
    """LSH-prefiltered pairs are a subset of exact pairs at the same
    threshold (the verify step re-scores every candidate exactly)."""
    from bytesprocessor_spark.operators.dedup import embedding_cosine_pairs
    from bytesprocessor_spark.operators.similarity import srp_candidate_pairs
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cands = srp_candidate_pairs(emb, dim=64)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(emb, threshold=0.4, quantize=True).collect()
    }
    filtered = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            emb, threshold=0.4, candidates=cands, quantize=True
        ).collect()
    }
    assert filtered <= exact
    assert len(filtered) > 0


def test_semantic_dedup_recall_and_subset(spark):
    """SemDeDup's cluster-bounded pair scan: (a) planted near-dups
    (cosine ~0.999 — jittered copies land in the same Voronoi cell) are
    recalled near-totally; (b) the pair set is a subset of the exact
    all-pairs scan at the same threshold (the cell bound only removes
    pairs, never invents them); (c) keep-set = corpus minus dropped
    larger ids."""
    import random

    from bytesprocessor_spark.operators.dedup import (
        embedding_cosine_pairs,
        semantic_dedup_keep,
        semantic_dedup_pairs,
    )

    rng = random.Random(11)
    dim = 64
    rows = []
    for i in range(200):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    planted = []
    for j in range(40):
        base_id = j * 4
        dup = [x + rng.gauss(0, 0.02) for x in rows[base_id][1]]
        rows.append((1000 + j, dup))
        planted.append((base_id, 1000 + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(df, threshold=0.9, n_cells=16).collect()
    }
    recalled = sum(1 for p in planted if p in pairs)
    assert recalled >= 36, f"recall {recalled}/40 below 90%"

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(df, threshold=0.9).collect()
    }
    assert pairs <= exact

    kept = {r.vec_id for r in semantic_dedup_keep(df, threshold=0.9, n_cells=16).collect()}
    dropped = {b for (_, b) in pairs}
    assert kept == {i for (i, _) in rows} - dropped


def test_connected_components_topologies(spark):
    """Chain, triangle, and an isolated pair: min-label propagation
    must find the transitive component, which per-pair rules miss."""
    from bytesprocessor_spark.operators.graph import cluster_keep, connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                   # pair
        "src long, dst long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]], "doc_id long")
    kept = cluster_keep(docs, edges, pair_a="src", pair_b="dst")
    survivors = sorted(r.doc_id for r in kept.collect() if r.is_kept)
    assert survivors == [1, 10, 20, 99]  # one per cluster + the singleton


def test_pack_sequences_invariants(spark):
    """Packing invariants: offsets are an exact prefix sum per
    (stratum, shard) in hash order, sequence ids are monotone, and a
    sequence never starts past the budget boundary it was cut at."""
    from bytesprocessor_spark.operators.packing import pack_sequences

    rows = [(i, "s%d" % (i % 3), 7 + (i * 13) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = pack_sequences(
        df, "n_tokens", id_col="doc_id", budget=100, stratum="source", n_shards=2
    ).collect()
    import hashlib

    by_part = {}
    for r in out:
        by_part.setdefault((r.source, r.shard), []).append(r)
    assert len(by_part) == 6  # 3 strata x 2 shards
    for part in by_part.values():
        part.sort(key=lambda r: (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id))
        run = 0
        prev_seq = 0
        for r in part:
            assert r.seq_tokens_before == run            # exact prefix sum
            assert r.seq_id == run // 100                # contiguous-fill rule
            assert r.seq_id >= prev_seq                  # monotone
            prev_seq = r.seq_id
            run += r.n_tokens


def test_round2_operators_handle_empty_input(spark, tmp_path):
    """Empty partitions are routine at scale (filter-heavy pipelines);
    the round-2 operators must degrade to empty output, not throw."""
    from bytesprocessor_spark.operators.merge import merge_upsert
    from bytesprocessor_spark.operators.packing import pack_sequences
    from bytesprocessor_spark.sources.layout import quantize, zorder_write

    empty = spark.createDataFrame([], "doc_id long, source string, n_tokens long")
    assert pack_sequences(empty, "n_tokens", id_col="doc_id", budget=100).count() == 0

    tgt = spark.createDataFrame([(1, "a")], "id long, v string")
    src = spark.createDataFrame([], "id long, v string")
    merged = sorted((r.id, r.v) for r in merge_upsert(tgt, src, ["id"]).collect())
    assert merged == [(1, "a")]

    e2 = spark.createDataFrame([], "x long, y long")
    zorder_write(e2, str(tmp_path / "z"), [quantize("x", 0, 64), quantize("y", 0, 64)], n_files=2)
    assert spark.read.parquet(str(tmp_path / "z")).count() == 0


def test_round3_operators_handle_empty_input(spark, tmp_path):
    """Round-3 operators must degrade to empty output on empty input,
    not throw — empty partitions are routine at scale."""
    from bytesprocessor_spark.operators.dedup import (
        semantic_dedup_keep,
        semantic_dedup_pairs,
        simhash_near_dup_pairs,
    )
    from bytesprocessor_spark.operators.similarity import srp_topk_q

    # centroid sampling on an empty corpus yields zero cells; the pair
    # scan and survivor set must both be empty
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup_pairs(empty_emb, n_cells=4).count() == 0
    assert semantic_dedup_keep(empty_emb, n_cells=4).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert simhash_near_dup_pairs(empty_docs, hash_mode="md5").count() == 0

    some = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    empty_q = spark.createDataFrame([], "query_id long, embedding array<float>")
    assert srp_topk_q(some, empty_q, dim=8).count() == 0


def test_incremental_dedup_against_corpus(spark):
    """Ingest-time dedup: delta rows already present in the corpus (by
    normalized content) are dropped, within-delta dups keep lowest id,
    genuinely new rows survive."""
    from bytesprocessor_spark.operators.dedup import incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(0, "existing document one"), (1, "existing document two")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, "  EXISTING document one "),   # dup of corpus (normalized)
            (11, "brand new document"),
            (12, "brand new document"),          # within-delta dup of 11
            (13, "another new document"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in incremental_exact_dedup(delta, corpus).collect())
    assert kept == [11, 13]


def test_incremental_dedup_null_text_policy(spark):
    """NULL text hashes as the empty string: a NULL-text delta row
    dedups against a NULL/empty-text corpus row instead of silently
    bypassing the anti-join on a NULL key."""
    from bytesprocessor_spark.operators.dedup import incremental_exact_dedup

    corpus = spark.createDataFrame([(0, None)], "doc_id long, text string")
    delta = spark.createDataFrame(
        [(10, None), (11, ""), (12, "real content")], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in incremental_exact_dedup(delta, corpus).collect())
    assert kept == [12]
