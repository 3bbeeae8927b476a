"""Corpus-wide hazard-class sweeps (VERDICT r9 #2).

Three latent-divergence classes surfaced by round-9 ADVICE, each an
instance of a pattern that can silently disagree between Spark and the
DuckDB oracle on out-of-fixture data even while every fixture run is
green.  The round-9 fixes landed per-instance; these tests pin each
CLASS across the whole 400+-entry registry, the same way test_plans.py
pins plan-shape classes:

(a) floor-vs-trunc division drift.  Spark ``div`` and DuckDB ``//``
    both truncate toward zero, so a div<->// pairing is ALWAYS
    cross-engine consistent, negatives included.  The hazard is a
    MIXED pairing — Spark ``floor(x/k)`` against oracle ``//`` (or the
    reverse) — which agrees only while the dividend is non-negative.
    The croston/eoq/risk-pooling/cv2_adi week-bucketing bugs were this
    class (epoch-relative day counts go negative for pre-1995 dates).

(b) literal iteration caps in oracle replay SQL.  An oracle
    ``range(1, N)`` with a hard-coded N silently truncates the replay
    when the data-driven iteration count exceeds N (the round-8
    Viterbi bug).  Caps must derive from ``len(...)`` of the actual
    data, or be design constants shared with the Spark side.

(c) float partial-sum accumulation.  ``SUM`` over double values is
    partition-order dependent; the registry discipline is exact
    int64/decimal accumulation with ONE double conversion after the
    aggregate (the round-8 ``_dyadic`` fix).  The hazard pattern is a
    double cast INSIDE the sum; cast-AFTER-sum is the sanctioned form.

Each sweep recomputes the hazard-site inventory from live sources, so
any new registry entry that reintroduces a class member fails here
until it is either rewritten or explicitly audited into the allowlist
with a justification.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

import pytest

from bytesprocessor_spark.queries import ORACLE, QUERIES


@functools.lru_cache(maxsize=None)
def _file_functions(path: str) -> dict[str, str]:
    """Source of each top-level function in ``path``, decorators
    included, from one fresh parse of the file as it is on disk (a
    later def of a name wins, as at import).  Line numbers and text
    come from the same read, so editing a module while the suite runs
    cannot pair one with the other."""
    text = Path(path).read_text()
    lines = text.splitlines(keepends=True)
    out = {}
    for node in ast.parse(text).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            out[node.name] = "".join(lines[start - 1 : node.end_lineno])
    return out


def _source(name: str) -> str:
    """Function source with docstrings and # comments stripped, so the
    hazard scans see only code (prose like 'a GREATEST(.,1) floor'
    must not trip the floor-division detector)."""
    fn = QUERIES[name]
    src = _file_functions(fn.__code__.co_filename).get(fn.__name__, "")
    src = re.sub(r'"""(?:[^"]|"(?!""))*"""', "", src, flags=re.S)
    src = re.sub(r"#[^\n]*", "", src)
    return src


# ---------------------------------------------------------------------------
# class (a): floor-vs-trunc division drift
# ---------------------------------------------------------------------------

# Entries where BOTH a floor-division and a trunc-division token appear
# (on either side) — audited by hand; every pairing is per-subexpression
# consistent, and every trunc dividend is provably non-negative.
_MIXED_DIV_ALLOWLIST = {
    # floor((n+1)/2) vs (n+1)//2 — n is a row count >= 1, floor == trunc
    "agg_approx_percentile",
    # floor(log2(greatest(x,1))) paired FLOOR<->FLOOR on both sides;
    # the trunc pair is chars*1e6 div src_chars on non-negative counts
    "corpus_length_profile",
    # age = max(ts) - ts >= 0 by construction (reference frame is the
    # data max), so age div 7 == age // 7; log2 bucket is FLOOR<->FLOOR
    "events_decayed_engagement",
    # FLOOR(ratio*1e9) paired FLOOR<->FLOOR; div 1000 on weights >= 0
    "orders_ipf_raking",
    # FLOOR(EPOCH(ts)) paired FLOOR<->FLOOR; SUM(dt) div COUNT on
    # dt = second-minus-first purchase gap >= 0
    "events_time_to_second",
    # week bucketing is FLOOR<->FLOOR (the r9 ADVICE fix); the trunc
    # pair divides by GREATEST(sigma_sum,1) with sigma sums >= 0
    "part_risk_pooling",
    # driver-side eigensolve (r11 localize): every division is tdiv(),
    # an explicit trunc-toward-zero matching Spark div / DuckDB // on
    # decimals for BOTH signs; math.floor appears only inside the
    # floor(x+0.5)/ceil(x-0.5) round-half-away idiom (== F.round ==
    # DuckDB ROUND), never as a division
    "embedding_pca_power",
    # minute bucket is floor(dt/60) <-> FLOOR(dt/60.0) on dt >= 0; the
    # Spark-only `p_sec div TOL` is an internal candidate-bucketing
    # device (±1 neighbor probes cover both rounding directions) whose
    # output never reaches the result — final nearest-match semantics
    # are re-checked exactly
    "asof_nearest_events",
}


def _oracle_has_floor_div(sql: str) -> bool:
    return bool(re.search(r"FLOOR\s*\(", sql, re.IGNORECASE))


def _oracle_has_trunc_div(sql: str) -> bool:
    return "//" in sql


def _spark_has_floor_div(src: str) -> bool:
    return bool(re.search(r"F\.floor\s*\(|[^_a-zA-Z]floor\s*\(", src))


def _spark_has_trunc_div(src: str) -> bool:
    return bool(re.search(r"\bdiv\b", src))


def test_no_mixed_floor_trunc_pairs():
    """Any entry mixing floor- and trunc-division tokens across the two
    engines must be in the audited allowlist."""
    offenders = []
    for name in QUERIES:
        sql = ORACLE.get(name, "")
        src = _source(name)
        if not sql or not src:
            continue
        spark_floor = _spark_has_floor_div(src)
        spark_trunc = _spark_has_trunc_div(src)
        oracle_floor = _oracle_has_floor_div(sql)
        oracle_trunc = _oracle_has_trunc_div(sql)
        mixed = (spark_floor and oracle_trunc and not spark_trunc) or (
            spark_trunc and oracle_floor and not spark_floor
        ) or (spark_floor and spark_trunc and (oracle_floor != oracle_trunc))
        both_both = spark_floor and spark_trunc and oracle_floor and oracle_trunc
        if (mixed or both_both) and name not in _MIXED_DIV_ALLOWLIST:
            offenders.append(name)
    assert not offenders, (
        f"unaudited floor/trunc division mix in {offenders}: align both "
        "sides (Spark div <-> DuckDB //, or FLOOR on both) or audit the "
        "dividend sign and extend _MIXED_DIV_ALLOWLIST"
    )


def test_allowlist_entries_still_mixed():
    """Keep the allowlist honest: drop entries that no longer mix."""
    stale = []
    for name in _MIXED_DIV_ALLOWLIST:
        sql = ORACLE.get(name, "")
        src = _source(name)
        floors = _spark_has_floor_div(src) or _oracle_has_floor_div(sql)
        truncs = _spark_has_trunc_div(src) or _oracle_has_trunc_div(sql)
        if not (floors and truncs):
            stale.append(name)
    assert not stale, f"allowlist entries no longer mixed: {stale}"


def test_no_trunc_div_on_date_diff_in_oracles():
    """Epoch-relative day counts go negative on out-of-fixture dates,
    so DATE_DIFF must never feed DuckDB's truncating ``//`` — the
    croston class.  Explicit FLOOR (matching Spark's floor) required."""
    offenders = []
    for name, sql in ORACLE.items():
        # DATE_DIFF as the DIVIDEND of // (a divisor position is fine:
        # ordered date pairs give positive divisors, and sign of the
        # quotient then tracks the dividend identically in both engines
        # because Spark div also truncates)
        flat = re.sub(r"\s+", " ", sql)
        for m in re.finditer(
            r"DATE_DIFF\s*\([^)]*\)\s*(?:AS\s+\w+\s*)?//", flat, re.I
        ):
            if "FLOOR" not in flat[max(0, m.start() - 40) : m.start()].upper():
                offenders.append((name, m.group(0)[:80]))
    assert not offenders, f"trunc-div on DATE_DIFF in oracles: {offenders}"


def test_date_diff_modulo_paired():
    """``DATE_DIFF % k`` is sign-consistent across engines ONLY because
    both use C-style truncating remainder — which requires the Spark
    side to use ``%`` too, never ``pmod``.  Pin the pairing."""
    for name, sql in ORACLE.items():
        flat = re.sub(r"\s+", " ", sql)
        if re.search(r"DATE_DIFF\([^)]*\)\s*%", flat):
            src = _source(name)
            assert "pmod" not in src, (
                f"{name}: oracle uses DATE_DIFF %% (truncating remainder) "
                "but Spark side uses pmod (floored) — signs diverge on "
                "pre-epoch dates"
            )


def test_spark_div_has_oracle_trunc_counterpart():
    """The tukey-fence subclass: Spark ``div`` (truncating) paired
    with plain ``/`` on the oracle side is DOUBLE division in DuckDB
    — a half-unit fence the Spark side truncates away.  Every entry
    whose Spark source uses ``div`` must have at least one ``//`` in
    its oracle, or be allowlisted as an internal-only device."""
    allow = {
        # `p_sec div TOL` is candidate bucketing only — the oracle has
        # no counterpart because the final nearest-match semantics are
        # recomputed exactly (see _MIXED_DIV_ALLOWLIST)
        "asof_nearest_events",
    }
    offenders = []
    for name, sql in ORACLE.items():
        src = _source(name)
        if re.search(r"\bdiv\b", src) and "//" not in sql and name not in allow:
            offenders.append(name)
    assert not offenders, (
        f"Spark div without an oracle // counterpart in {offenders}: "
        "the oracle side is probably doing double division"
    )


# ---------------------------------------------------------------------------
# class (b): literal iteration caps in oracle replay SQL
# ---------------------------------------------------------------------------

# range(...) sites whose bounds are literal integers, audited: each is a
# DESIGN constant of the operator (not a data property), and the Spark
# side iterates the same constant — usually via the same shared Python
# module constant interpolated into both f-strings.
_ORACLE_RANGE_LITERAL_ALLOWLIST = {
    "multimodal_image_ann": "16 ANN probe dims: shared _ANN_DIMS design constant",
    "eval_err_at_k": "K=20 cutoff: ERR@20 is the metric definition",
    "eval_permutation_test": "200 permutations: pinned resample count on both sides",
    "embedding_kmeans": "dim 64: fixture contract pinned by test_fixture_embedding_dim",
    "similarity_hard_negatives": "dim 64: fixture contract (see dim test)",
    "similarity_pq_topk": "m=8 subspaces of dim 64: PQ geometry constant",
    "udtf_chunk_ranges": "15 chunks: operator's declared chunk count",
    "events_holt_winters": "seasonal period 7: model constant on both sides",
    "join_bloom_prune": "1058 = ceil(65536/62) Bloom words: shared _BLOOM_WORDS",
    "events_rolling_distinct": "7-day rolling window: operator definition",
    "events_bootstrap_ci": "50 bootstrap resamples: pinned on both sides",
    "eval_pr_curve": "11 thresholds (0.0..1.0 by 0.1): metric definition",
    "multimodal_video_frames": "4 sampled frames: operator definition",
    "quality_benford_digit2": "10 second digits 0..9: the digit domain",
}


def test_oracle_range_literal_caps_audited():
    """Every ``range(lo, hi)`` in oracle SQL with a literal hi must be a
    design constant (allowlisted), not a data-size stand-in — the
    Viterbi-replay class.  Data-driven bounds (len(...), GREATEST(len,
    ...), column refs) pass automatically."""
    offenders = []
    for name, sql in ORACLE.items():
        for m in re.finditer(r"\brange\(\s*(-?\d+)\s*(?:,\s*([^)].*?))?\)", sql):
            hi = m.group(2) if m.group(2) is not None else m.group(1)
            if re.fullmatch(r"-?\d+(\s*\+\s*\d+)?", hi.strip()):
                if name not in _ORACLE_RANGE_LITERAL_ALLOWLIST:
                    offenders.append((name, m.group(0)[:60]))
    assert not offenders, (
        f"unaudited literal range() caps in oracles: {offenders} — derive "
        "the bound from len(...) or audit it as a design constant"
    )


def test_range_allowlist_entries_still_literal():
    stale = []
    for name in _ORACLE_RANGE_LITERAL_ALLOWLIST:
        sql = ORACLE.get(name)
        if sql is None or not re.search(r"\brange\(", sql):
            stale.append(name)
    assert not stale, f"range-cap allowlist entries without range(): {stale}"


def test_fixture_embedding_dim():
    """The dim-64 literals in the embedding-family oracles encode the
    fixture contract; fire loudly if the fixture ever changes shape."""
    import duckdb

    from tests.conftest import SF_DIR

    (dim,) = duckdb.sql(
        f"SELECT len(embedding) FROM '{SF_DIR}/embeddings.parquet' LIMIT 1"
    ).fetchone()
    assert dim == 64, (
        f"embeddings fixture dim changed to {dim}: the dim-64 design "
        "constants in embedding_kmeans/similarity_* oracles must follow"
    )


# ---------------------------------------------------------------------------
# class (c): float partial-sum accumulation
# ---------------------------------------------------------------------------

_SPARK_SUM_DOUBLE = re.compile(
    r"F\.sum\(\s*(?:F\.col\(\"[^\"]+\"\)|[\w.]+)\s*\.cast\(\"double\"\)"
)
_ORACLE_SUM_DOUBLE = re.compile(r"SUM\s*\(\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)", re.I)


def test_no_double_cast_inside_spark_sums():
    """cast INSIDE F.sum = partition-order-dependent float accumulation.
    The sanctioned form is F.sum(int_col).cast('double')."""
    offenders = []
    for name in QUERIES:
        src = _source(name)
        if _SPARK_SUM_DOUBLE.search(src):
            offenders.append(name)
    assert not offenders, (
        f"double cast inside F.sum in {offenders}: accumulate exact "
        "(int64/decimal), cast once after the aggregate"
    )


def test_no_double_cast_inside_oracle_sums():
    offenders = []
    for name, sql in ORACLE.items():
        if _ORACLE_SUM_DOUBLE.search(sql):
            offenders.append(name)
    assert not offenders, (
        f"SUM(CAST(.. AS DOUBLE)) in oracles {offenders}: sum exact, "
        "convert after"
    )


def test_no_sum_of_plain_double_exprs_in_oracles():
    """Catch the expr-level variant: SUM over a '/'-division (double in
    DuckDB) — exact registries divide AFTER summing."""
    offenders = []
    for name, sql in ORACLE.items():
        flat = re.sub(r"\s+", " ", sql)
        for m in re.finditer(r"SUM\s*\(([^()]*(?:\([^()]*\))?[^()]*)\)", flat, re.I):
            inner = m.group(1)
            # a bare '/' inside SUM is double division in DuckDB unless
            # the operand re-quantizes via ROUND/FLOOR/CAST-to-int
            if re.search(r"(?<!/)/(?!/)", inner) and not re.search(
                r"ROUND|FLOOR|CEIL|AS\s+BIGINT|AS\s+HUGEINT|AS\s+INTEGER|//",
                inner,
                re.I,
            ):
                offenders.append((name, inner.strip()[:70]))
    allow = {
        # audited: division by an exact power of two of an integer —
        # every quotient is exactly representable, order-independent
        name
        for name, frag in offenders
        if re.search(r"/\s*(2|4|8|16|32|64|128|256)(\.0)?\s*$", frag)
    }
    offenders = [(n, f) for n, f in offenders if n not in allow]
    assert not offenders, (
        f"float division inside oracle SUM in {offenders}: sum exact "
        "integers, divide once after the aggregate"
    )
