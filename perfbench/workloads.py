"""The three benchmark workloads.

Each workload knows how to set itself up on a session (inputs plus a
warm-up), run one timed job (a list of timed ops), check its outputs
outside the timing, and, in the traced run, time each engine layer by
calling into it from here.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import fixtures
from harness import dir_size, median, noop

# Registry entries per query workload, with the lake tables each reads.
LAKE_SQL = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q7_volume_shipping": ("supplier", "lineitem", "orders", "customer", "nation"),
    "join_inner": ("lineitem", "orders"),
    "agg_rollup": ("lineitem",),
    "window_rank": ("customer",),
}
LLM_CURATION = {
    "dedup_jaccard_pairs": ("documents",),
    "dedup_minhash_verified": ("documents",),
    "dedup_exact_keep": ("documents",),
    "similarity_topk": ("embeddings",),
    "text_tfidf_topterms": ("documents",),
}

# Spark job group of the traced run's layer probes; the op groups of the
# traced job are ``perfbench-traced/<op>``, so no probe job falls under them.
PROBE_GROUP = "perfbench-probe"

PCAP_PACKETS = 100_000
WARMUP_PACKETS = 20_000
SPOT_CHECK_ROWS = 32


class Workload:
    name = ""
    nominal_job_s = 1.0  # one job's time on the reference host; sets the job count

    def __init__(self, work: str, seed: int, tracer, split_packets: int):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.split_packets = split_packets

    def prepare(self, spark) -> None:
        """Set-up after the session starts: write the seeded inputs, then
        run the warm-up action."""
        raise NotImplementedError

    def ops(self, spark, group: str | None = None):
        """The ops of one job as (name, call) pairs.  With ``group`` set,
        each op runs under its own Spark job group ``<group>/<name>``."""
        raise NotImplementedError

    def check_job(self, spark) -> list[str]:
        """Output problems of the last job (empty when correct)."""
        return []

    def check_run(self) -> dict[str, list[str]]:
        """Output problems per op name, checked once per run."""
        return {}

    def sizes(self) -> dict[str, float]:
        """Per-job input records, input bytes and output bytes."""
        raise NotImplementedError

    def layers(self, spark, traced_job_s: float) -> dict[str, float]:
        """Per-layer metrics for the traced run."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# pcap_etl
# --------------------------------------------------------------------------

class PcapEtl(Workload):
    """``pipeline.process_pcap`` on a seeded 100k-packet capture."""

    name = "pcap_etl"
    nominal_job_s = 15.0

    def prepare(self, spark) -> None:
        self.capture = fixtures.make_capture(os.path.join(self.work, "capture.pcap"), self.seed, PCAP_PACKETS)
        warm = fixtures.make_capture(os.path.join(self.work, "warm.pcap"), self.seed, WARMUP_PACKETS)
        self._process(spark, warm, os.path.join(self.work, "warm_out"))

    def _attacks(self, m):
        from bytesprocessor_spark.operators.labeling import AttackSpec

        return (AttackSpec(m.attack_start, m.attack_end, "attack", (fixtures.ATTACKER,), (fixtures.VICTIM,)),)

    def _process(self, spark, cap, out_dir):
        from bytesprocessor_spark.pipeline import process_pcap

        m = cap.manifest
        return process_pcap(
            spark, cap.path, out_dir, attacks=self._attacks(m),
            ranges=((m.range_start, m.range_end),), split_packets=self.split_packets,
        )

    def ops(self, spark, group=None):
        def call():
            if group:
                spark.sparkContext.setJobGroup(f"{group}/process_pcap", "process_pcap")
            with self.tracer.span("pipeline.process_pcap"):
                self.out = self._process(spark, self.capture, os.path.join(self.work, "out"))

        return [("process_pcap", call)]

    def check_job(self, spark) -> list[str]:
        return check_pcap_output(spark, self.capture, *self.out, self.seed)

    def sizes(self):
        out_bytes = sum(dir_size(d)[0] for d in self.out)
        m = self.capture.manifest
        return {"records": m.records, "in_bytes": m.capture_bytes, "out_bytes": out_bytes}

    def layers(self, spark, traced_job_s):
        return pcap_layers(spark, self, traced_job_s)


def _read_ts(ts: float) -> float:
    """The timestamp a reader recovers from ``write_pcap``'s µs fields."""
    sec = int(ts)
    usec = int(round((ts - sec) * 1e6))
    if usec >= 1_000_000:
        sec, usec = sec + 1, 0
    return sec + usec / 1e6


def check_pcap_output(spark, cap, data_dir, adv_dir, seed) -> list[str]:
    """Compare the sinks with the capture manifest and spot-check that a
    seeded sample of feature vectors equals the generator's anonymized
    bytes / 255, zero-padded to 1525."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    m = cap.manifest
    problems = []
    data = pq.read_table(data_dir, columns=["label", "is_forward"])
    adv = pq.read_table(adv_dir, columns=["is_forward"])
    got = {
        "in_range_rows": data.num_rows,
        "attack_rows": pc.sum(pc.not_equal(data["label"], "benign")).as_py() or 0,
        "forward_rows": pc.sum(data["is_forward"]).as_py() or 0,
        "adversarial_rows": adv.num_rows,
    }
    want = {
        "in_range_rows": m.in_range_rows,
        "attack_rows": m.attack_rows,
        "forward_rows": m.forward_rows,
        "adversarial_rows": m.forward_rows,
    }
    problems += [f"{k}: got {got[k]} want {want[k]}" for k in want if got[k] != want[k]]
    if adv.num_rows and not pc.all(adv["is_forward"]).as_py():
        problems.append("adversarial sink holds non-forward rows")

    in_range = (cap.ts > m.range_start) & (cap.ts < m.range_end)
    candidates = np.flatnonzero(in_range & ((cap.kind == 0) | (cap.kind == 1)))
    rng = np.random.default_rng([seed, 0x5C07])
    sample = rng.choice(candidates, size=min(SPOT_CHECK_ROWS, len(candidates)), replace=False)
    by_ts = {_read_ts(float(cap.ts[i])): i for i in sample}
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(data_dir)
        .where(F.col("timestamp").isin(list(by_ts)))
        .select("timestamp", "features")
        .collect()
    )
    if len(rows) != len(by_ts):
        problems.append(f"feature spot-check: found {len(rows)} of {len(by_ts)} sampled rows")
    for r in rows:
        want_f = fixtures.expected_features(cap.anon[by_ts[r["timestamp"]]])
        if not np.array_equal(np.asarray(r["features"], dtype=np.float32), want_f):
            problems.append(f"feature mismatch at ts={r['timestamp']!r}")
    return problems


def pcap_layers(spark, wl: PcapEtl, traced_job_s: float) -> dict[str, float]:
    """Prefix subtraction over the pipeline's own layers: each step adds
    one layer to the previous step's plan and forces it; the layer's time
    is the difference.  Index and featurize kernel are also timed by
    direct driver-side calls."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bytesprocessor_spark.functions.bytes import features_matrix
    from bytesprocessor_spark.operators.labeling import extract_ranges, label_attacks
    from bytesprocessor_spark.sources.pcap import index_capture_chunks, iter_pcap_records, read_pcap

    cap, tr, sp = wl.capture, wl.tracer, wl.split_packets
    m = cap.manifest
    ranges = ((m.range_start, m.range_end),)
    out = os.path.join(wl.work, "layers")
    shutil.rmtree(out, ignore_errors=True)
    sc = spark.sparkContext
    res: dict[str, float] = {}

    def step(name, df):
        sc.setJobGroup(f"{PROBE_GROUP}/{name}", name)
        t0 = time.perf_counter()
        with tr.span(name):
            noop(df)
        return time.perf_counter() - t0

    tr.job = "layers"
    t0 = time.perf_counter()
    with tr.span("sources.pcap.index") as c:
        chunks = list(index_capture_chunks(cap.path, sp))
        c["chunks"] = len(chunks)
    res["sources.pcap.index_s"] = time.perf_counter() - t0
    res["sources.pcap.chunks"] = len(chunks)
    with open(cap.path, "rb") as f:
        res["sources.pcap.records"] = sum(1 for _ in iter_pcap_records(f.read()))

    o_parse = Observation("parse")
    parsed = read_pcap(spark, cap.path, split_packets=sp).observe(o_parse, F.count(F.lit(1)).alias("n"))
    t_parse = step("sources.pcap.parse", parsed)
    rows_out = o_parse.get["n"]
    o_filter = Observation("filter")
    filtered = extract_ranges(read_pcap(spark, cap.path, split_packets=sp, ranges=ranges), ranges)
    t_filter = step("sources.pcap.filter", filtered.observe(o_filter, F.count(F.lit(1)).alias("n")))
    featured = extract_ranges(
        read_pcap(spark, cap.path, split_packets=sp, ranges=ranges, features=True), ranges
    ).drop("payload")
    t_feat = step("functions.bytes.featurize", featured)
    o_label = Observation("label")
    labeled = label_attacks(featured, wl._attacks(m)).observe(
        o_label,
        F.sum(F.when(F.col("label") != "benign", 1).otherwise(0)).alias("attack"),
        F.sum(F.col("is_forward").cast("int")).alias("forward"),
    )
    t_label = step("operators.labeling.label", labeled)
    data_dir, adv_dir = os.path.join(out, "data"), os.path.join(out, "adversarial")
    sc.setJobGroup(f"{PROBE_GROUP}/pipeline.data_sink", "data sink")
    t0 = time.perf_counter()
    with tr.span("pipeline.data_sink"):
        label_attacks(featured, wl._attacks(m)).write.mode("overwrite").parquet(data_dir)
    t_data = time.perf_counter() - t0
    sc.setJobGroup(f"{PROBE_GROUP}/pipeline.adv_sink", "adversarial sink")
    t0 = time.perf_counter()
    with tr.span("pipeline.adv_sink"):
        spark.read.parquet(data_dir).filter(F.col("is_forward")).write.mode("overwrite").parquet(adv_dir)
    t_adv = time.perf_counter() - t0

    res["sources.pcap.parse_s"] = t_parse - res["sources.pcap.index_s"]
    res["sources.pcap.rows_out"] = rows_out
    res["sources.pcap.drop_ratio"] = (res["sources.pcap.records"] - rows_out) / res["sources.pcap.records"]
    res["sources.pcap.filter_s"] = t_filter - t_parse
    res["sources.pcap.filter_keep_ratio"] = o_filter.get["n"] / rows_out
    res["functions.bytes.featurize_s"] = t_feat - t_filter
    res["operators.labeling.label_s"] = t_label - t_feat
    res["operators.labeling.attack_rows"] = o_label.get["attack"]
    res["operators.labeling.forward_rows"] = o_label.get["forward"]
    res["pipeline.data_sink_s"] = t_data - t_label
    mb, files = dir_size(data_dir)
    res["pipeline.data_sink_mb"] = mb / 2**20
    res["pipeline.data_sink_files"] = files
    res["pipeline.adv_sink_s"] = t_adv
    res["pipeline.adv_sink_mb"] = dir_size(adv_dir)[0] / 2**20
    res["pipeline.residual_s"] = traced_job_s - (t_data + t_adv)

    payloads = pd.Series([p for p in cap.anon if p is not None][:4096])
    kernel = []
    for _ in range(5):
        t0 = time.perf_counter()
        with tr.span("functions.bytes.features_matrix"):
            pa.array(pd.Series(features_matrix(payloads)), type=pa.list_(pa.float32()))
        kernel.append(time.perf_counter() - t0)
    res["functions.bytes.kernel_us_per_row"] = median(kernel) / len(payloads) * 1e6
    return res


# --------------------------------------------------------------------------
# lake_sql / llm_curation
# --------------------------------------------------------------------------

class RegistryWorkload(Workload):
    """Registry entries over the seeded lake, each forced with ``noop``."""

    entries: dict[str, tuple[str, ...]] = {}

    @property
    def lake(self) -> str:
        return os.path.join(self.work, "lake")

    def prepare(self, spark) -> None:
        from bytesprocessor_spark.queries import QUERIES

        tables = sorted({t for ts in self.entries.values() for t in ts})
        self.file_bytes = fixtures.make_lake(self.lake, self.seed, tables)
        # the warm-up runs every entry once and keeps its result for the
        # output check, which compares it with DuckDB after the timing
        self.results = {name: QUERIES[name](spark, self.lake).toPandas() for name in self.entries}

    def ops(self, spark, group=None):
        from bytesprocessor_spark.queries import QUERIES

        def op(name):
            def call():
                if group:
                    spark.sparkContext.setJobGroup(f"{group}/{name}", name)
                with self.tracer.span("queries.build", entry=name):
                    df = QUERIES[name](spark, self.lake)
                with self.tracer.span("queries.exec", entry=name):
                    noop(df)

            return name, call

        return [op(name) for name in self.entries]

    def check_run(self) -> dict[str, list[str]]:
        return check_registry(self.lake, self.results)

    def sizes(self):
        import pyarrow as pa

        return {
            "records": sum(fixtures.LAKE_ROWS[t] for ts in self.entries.values() for t in ts),
            "in_bytes": sum(self.file_bytes[t] for ts in self.entries.values() for t in ts),
            "out_bytes": sum(pa.Table.from_pandas(p, preserve_index=False).nbytes for p in self.results.values()),
        }

    def layers(self, spark, traced_job_s):
        return registry_layers(spark, self)


class LakeSql(RegistryWorkload):
    name = "lake_sql"
    nominal_job_s = 6.0
    entries = LAKE_SQL


class LlmCuration(RegistryWorkload):
    name = "llm_curation"
    nominal_job_s = 9.0
    entries = LLM_CURATION


def check_registry(lake: str, results: dict) -> dict[str, list[str]]:
    """Each entry's Spark result against its ``queries.ORACLE`` SQL run by
    DuckDB over the same parquet, with the repository's oracle-gate
    canonicalization and comparison.  The one exception is
    ``dedup_minhash_verified``: its oracle is a char-5-gram self-join that
    DuckDB needs about 160 s for on this corpus (4 cores), past one run's
    budget, so its exact pair set comes from :func:`char5_jaccard_pairs`,
    which computes the same definition (the benchmark's tests check that
    the two agree)."""
    import duckdb

    from bytesprocessor_spark.queries import ORACLE
    from tools.check_oracle import _pdf_rows, compare

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(lake)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(lake, f)}')")
        out = {}
        for name, pdf in results.items():
            s_cols, s_rows = _pdf_rows(pdf)
            if name == "dedup_minhash_verified":
                want = char5_jaccard_pairs(con.execute("SELECT doc_id, text FROM documents").fetchdf(), 0.9)
            else:
                want = con.execute(ORACLE[name]).fetchdf()
            d_cols, d_rows = _pdf_rows(want)
            out[name] = compare(name, s_cols, s_rows, d_cols, d_rows)
        return out
    finally:
        con.close()


def char5_jaccard_pairs(docs, threshold: float):
    """``(id_a, id_b)`` with ``id_a < id_b`` for every pair of documents
    whose sets of distinct 5-character substrings of the lowercased text
    (a text shorter than 5 characters is its own one substring) have
    Jaccard similarity >= ``threshold``: the pair set of
    ``dedup_minhash_verified``'s oracle SQL, from one dense 0/1
    document x substring matrix and its set-intersection product."""
    import pandas as pd

    index: dict[str, int] = {}
    rows, cols = [], []
    for r, text in enumerate(docs["text"]):
        t = text.lower()
        for g in {t[i : i + 5] for i in range(max(len(t) - 4, 1))}:
            rows.append(r)
            cols.append(index.setdefault(g, len(index)))
    x = np.zeros((len(docs), len(index)), dtype=np.float32)
    x[rows, cols] = 1.0
    sizes = x.sum(axis=1).astype(np.int64)
    order = np.argsort(sizes, kind="stable")
    x, sizes = x[order], sizes[order]
    ids = docs["doc_id"].to_numpy(dtype=np.int64)[order]
    num, den = round(threshold * 100), 100  # the threshold as an exact fraction
    pairs = []
    for lo in range(0, len(ids), 512):
        hi = min(lo + 512, len(ids))
        # Jaccard >= t needs the smaller set to hold at least t x the larger
        # one, so a row meets only columns within its size range stretched
        # by t (widened by one to stay clear of rounding)
        c_lo = np.searchsorted(sizes, sizes[lo] * num // den - 1, "left")
        c_hi = np.searchsorted(sizes, sizes[hi - 1] * den // num + 1, "right")
        inter = np.rint(x[lo:hi] @ x[c_lo:c_hi].T).astype(np.int64)  # exact: counts are far below 2**24
        union = sizes[lo:hi, None] + sizes[None, c_lo:c_hi] - inter
        a, b = np.nonzero((den * inter >= num * union) & (ids[lo:hi, None] < ids[None, c_lo:c_hi]))
        pairs.append(np.stack([ids[lo + a], ids[c_lo + b]], axis=1))
    both = np.concatenate(pairs) if pairs else np.zeros((0, 2), dtype=np.int64)
    return pd.DataFrame({"id_a": both[:, 0], "id_b": both[:, 1]})


def registry_layers(spark, wl: RegistryWorkload) -> dict[str, float]:
    """Per-op build/exec split and per-entry times from the traced job's
    spans, table scans, and (llm_curation) the LSH candidate stage."""
    from bytesprocessor_spark.sources.tables import load_table

    tr = wl.tracer
    traced = [s for s in tr.spans if s.job == "traced"]
    res: dict[str, float] = {}
    res["queries.build_s"] = median([s.end - s.start for s in traced if s.name == "queries.build"])
    res["queries.exec_s"] = median([s.end - s.start for s in traced if s.name == "queries.exec"])
    for name in wl.entries:
        res[f"queries.{name}_s"] = sum(s.end - s.start for s in traced if s.counts.get("entry") == name)

    tables = sorted({t for ts in wl.entries.values() for t in ts})
    tr.job = "layers"
    t0 = time.perf_counter()
    for t in tables:
        spark.sparkContext.setJobGroup(f"{PROBE_GROUP}/sources.tables.scan/{t}", t)
        with tr.span("sources.tables.scan", table=t):
            noop(load_table(spark, wl.lake, t))
    res["sources.tables.scan_s"] = time.perf_counter() - t0
    res["sources.tables.scan_mb"] = sum(wl.file_bytes[t] for t in tables) / 2**20

    if "dedup_minhash_verified" in wl.entries:
        from bytesprocessor_spark.operators.dedup import minhash_lsh_pairs
        from bytesprocessor_spark.queries_llm import mhv_profile5

        docs = load_table(spark, wl.lake, "documents")
        spark.sparkContext.setJobGroup(f"{PROBE_GROUP}/operators.dedup.minhash_lsh_pairs", "LSH candidates")
        with tr.span("operators.dedup.minhash_lsh_pairs") as c:
            cands = minhash_lsh_pairs(
                docs, num_hashes=126, bands=21, shingle_size=5, signatures=mhv_profile5(spark, wl.lake)
            ).count()
            c["candidates"] = cands
        verified = len(wl.results["dedup_minhash_verified"])
        res["operators.dedup.lsh_candidates"] = cands
        res["operators.dedup.lsh_precision"] = verified / cands if cands else 0.0
    return res


WORKLOADS = {w.name: w for w in (PcapEtl, LakeSql, LlmCuration)}
