"""The benchmark's workloads: each a closed loop with one client.

One process makes one call at a time and starts the next only when the
previous one has returned. A workload has three phases:

- `warm_up`: every operation of a pass runs once, untimed (charged to
  set-up), and its outputs are checked;
- `run_pass`: one timed pass; every call is an `Op` with its own wall time;
- the checks of the timed outputs, after the pass, outside its wall time.

A traced run (`Harness` given a tracer) runs the same phases with spans
around every layer call and Spark's status-store counts per call (see
spans.py).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import lifecycle_data as ld
import spans as tr

# the project's reference tables, kept under perfbench/data (see README.md)
TABLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# the flagship query: what `__spark_entry__.entry()` runs, on the sf0.001 tables
ENTRY_KEY = "freq_variant"
ENTRY_DIR = os.path.join(TABLE_DIR, "sf0.001")
CATALOG_DIR = os.path.join(TABLE_DIR, "sf0.1")

# catalog family -> its keys in the pass; README.md says why this set and
# not bench.py's 62 headline keys
CATALOG_KEYS = {
    "freq": ["freq_variant", "freq_gnomad_style"],
    "join": ["join_interval"],
    "agg": ["agg_sum"],
    "tpch": ["tpch_q1"],
    "dedup": ["dedup_minhash"],
    "sim": ["sim_topk"],
    "text": ["text_ngrams"],
    "stream": ["stream_tumbling"],
    "emb": ["emb_pca_power"],
    "graph": ["graph_jaccard"],
    "merge": ["merge_upsert"],
    "store": ["store_compaction_plan"],
}

# annotate() query sets: one named query, and several whose per-query plans
# the current annotate_keys nests into each other
QUERIES = {
    "q1": {"ALL": "*"},
    "q3": {"ALL": "*", "PUB": "public", "POC": "pooled or covered"},
}


@dataclass
class Op:
    name: str
    kind: str
    wall: float
    ok: bool
    counts: dict = field(default_factory=dict)


class Harness:
    """Shared by the workloads: the session, the op log, tracing."""

    def __init__(self, spark, tracer: tr.Tracer | None):
        self.spark = spark
        self.tracer = tracer
        self.counts = tr.SparkCounts(spark) if tracer else None
        self.ops: list[Op] = []
        self.calls = 0  # every call, untimed warm-up and checks included
        self.failures: list[str] = []  # every error and mismatch, in order
        # traced runs: plan-node counts of the last collected frame per phase
        self.plans: dict[str, dict] = {}

    def call(self, name: str, kind: str, fn, *args, record: bool = True):
        """One closed-loop call under its own job group; returns fn's result."""
        self.calls += 1
        group = f"op{self.calls}"
        self.spark.sparkContext.setJobGroup(group, name)
        ok, result = True, None
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.span(name, "bench", kind=kind) as span:
                    result = fn(*args)
            else:
                result = fn(*args)
        except Exception as ex:  # a failed op is counted, not fatal
            ok = False
            self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
        wall = time.perf_counter() - t0
        counts = self.counts.group(group, self.tracer, span["id"]) if self.tracer else {}
        if record:
            self.ops.append(Op(name, kind, wall, ok, counts))
        return result

    def fail(self, msg: str) -> None:
        """An output that failed its check."""
        self.failures.append(msg)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_entry(h: Harness, sf_dir: str) -> float:
    """The flagship query as the session's first query; returns its wall."""
    from varda_spark.catalog import REGISTRY
    from varda_spark.session import configure

    def entry():
        configure(h.spark)
        noop(REGISTRY[ENTRY_KEY].fn(h.spark, sf_dir))

    t0 = time.perf_counter()
    h.call("entry", "entry", entry, record=False)
    return time.perf_counter() - t0


# ---- lifecycle -----------------------------------------------------------

class Lifecycle:
    """create_sample -> import_variation -> import_coverage -> activate_sample
    per sample, then frequency() and annotate() with 1 and 3 named queries."""

    name = "lifecycle"

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed

    def prepare(self) -> None:
        base = os.path.join(self.data_dir, "lifecycle", f"seed{self.seed}")
        self.samples, self.query = ld.generate(self.seed, os.path.join(base, "timed"))
        # warm-up inputs: one genotyped sample with a BED and the pooled one
        warm, self.warm_query = ld.generate(self.seed, os.path.join(base, "warm"), n_samples=1,
                                            n_records=300, n_regions=10, n_query=60)
        self.warm_samples = warm
        for s in self.samples + self.warm_samples:
            ld.load(s)
        self.input_bytes = sum(os.path.getsize(p) for s in self.samples
                               for p in (s.vcf, s.bed) if p)
        self.entry_dir = ENTRY_DIR

    def warm_up(self, h: Harness) -> None:
        self._pass(h, self.warm_samples, self.warm_query, "warm", record=False)

    def run_pass(self, h: Harness, i: int, after=None) -> dict:
        return self._pass(h, self.samples, self.query, f"pass{i}", record=True, after=after)

    def _pass(self, h: Harness, samples, query, tag: str, record: bool, after=None) -> dict:
        """One pass over a fresh warehouse; `after(info)` runs, untimed,
        before the warehouse is removed."""
        from varda_spark.api import VardaWarehouse

        root = os.path.join(self.data_dir, "wh", f"{os.getpid()}-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        wh = VardaWarehouse(h.spark, root)
        t0 = time.perf_counter()
        for s in samples:
            sid = h.call("create_sample", "sample_update",
                         lambda s=s: wh.create_sample(s.name, pool_size=s.pool_size,
                                                      public=s.public), record=record)
            rows = h.call("import_variation", "import_vcf", wh.import_variation, sid, s.vcf,
                          record=record)
            if rows is not None and rows != s.obs_rows:
                h.fail(f"import_variation {s.name}: {rows} rows, expected {s.obs_rows}")
            if s.bed:
                rows = h.call("import_coverage", "import_bed", wh.import_coverage, sid, s.bed,
                              record=record)
                if rows is not None and rows != s.bed_rows:
                    h.fail(f"import_coverage {s.name}: {rows} rows, expected {s.bed_rows}")
            h.call("activate_sample", "sample_update", wh.activate_sample, sid, record=record)
        results = {"frequency": h.call("frequency", "frequency",
                                       lambda: self._collect(h, wh.frequency(), "frequency"),
                                       record=record)}
        for qname, named in QUERIES.items():
            results[qname] = h.call(
                f"annotate_{qname}", f"annotate_{qname}",
                lambda q=named, n=qname: self._collect(h, wh.annotate(query, q), f"annotate_{n}"),
                record=record)
        info = {"wall": time.perf_counter() - t0, "storage": _du(root)}
        self._verify(h, samples, query, results, tag)
        if after:
            after(info)
        shutil.rmtree(root, ignore_errors=True)
        return info

    @staticmethod
    def _collect(h: Harness, df, phase: str):
        """The result rows; traced runs time build / plan / exec apart."""
        if h.tracer is None:
            return df.collect()
        with h.tracer.span(f"{phase}.plan", "spark"):
            df._jdf.queryExecution().executedPlan()
        with h.tracer.span(f"{phase}.exec", "spark"):
            rows = df.collect()
        h.plans[phase] = tr.plan_counts(df, {"observation_scans": "observations",
                                             "sample_dim_scans": "samples"})
        return rows

    def _verify(self, h: Harness, samples, query, results, tag: str) -> None:
        freq = results.get("frequency")
        if freq is not None:
            want = ld.reference_frequency(samples, ld.all_keys(samples))
            got = {(r.chromosome, r.position, r.reference, r.observed): (r.vn, r.vc, r.vf)
                   for r in freq}
            _compare(h, f"{tag} frequency", got, want, with_vc=True)
        keys = ld.query_keys(query)
        for qname, queries in QUERIES.items():
            rows = results.get(qname)
            if rows is None:
                continue
            for name, expr in queries.items():
                want = ld.reference_frequency(samples, keys, expr)
                got = {(r.chromosome, r.position, r.reference, r.observed):
                       (r[f"{name}_vn"], None, r[f"{name}_vf"]) for r in rows}
                _compare(h, f"{tag} annotate_{qname}[{name}]", got, want, with_vc=False)


def _compare(h: Harness, what: str, got: dict, want: dict, with_vc: bool) -> None:
    if set(got) != set(want):
        h.fail(f"{what}: {len(set(got) ^ set(want))} keys differ "
               f"({len(got)} returned, {len(want)} expected)")
        return
    for key, (vn, vc, vf) in want.items():
        gvn, gvc, gvf = got[key]
        gvf = 0.0 if gvf is None else gvf
        if with_vc:
            vc_ok = gvc == vc
        else:  # annotate carries VN and VF; VC = VF * VN wherever VN > 0
            vc_ok = vn == 0 or round(gvf * gvn) == vc
        if gvn != vn or not vc_ok or abs(gvf - vf) > 1e-12 * max(1.0, abs(vf)):
            h.fail(f"{what}: {key} got vn={gvn} vc={gvc} vf={gvf}, want {vn} {vc} {vf}")
            return


def _du(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---- catalog -------------------------------------------------------------

class Catalog:
    """Every key of CATALOG_KEYS once per pass, in a seed-shuffled order, to
    the noop sink; outputs checked against the DuckDB oracle in warm-up."""

    name = "catalog_sf0.1"

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        self.keys = [k for ks in CATALOG_KEYS.values() for k in ks]
        self.family = {k: f for f, ks in CATALOG_KEYS.items() for k in ks}

    def prepare(self) -> None:
        self.sf_dir, self.entry_dir = CATALOG_DIR, ENTRY_DIR
        self.oracle = _oracle_results(self.sf_dir, os.path.join(self.data_dir, "oracle", "sf0.1"),
                                      self.keys)

    def warm_up(self, h: Harness) -> None:
        from varda_spark.catalog import REGISTRY

        path = list(sys.path)
        import check_oracle  # prepends a fixed checkout path to sys.path

        sys.path[:] = path

        for key in self.keys:
            pdf = h.call(key, "verify", lambda k=key: REGISTRY[k].fn(h.spark, self.sf_dir).toPandas(),
                         record=False)
            if pdf is None:
                continue
            want = self.oracle.get(key)
            if want is None:
                if len(pdf) == 0:
                    h.fail(f"{key}: no rows and no oracle to compare with")
                continue
            verdict = check_oracle.compare(key, pdf, want)
            if verdict != "EXACT":
                h.fail(f"{key}: oracle {verdict}")

    def run_pass(self, h: Harness, i: int, after=None) -> dict:
        from varda_spark.catalog import REGISTRY

        order = list(self.keys)
        random.Random(self.seed * 1000 + i).shuffle(order)
        t0 = time.perf_counter()
        for key in order:
            h.call(key, self.family[key], self._one, h, REGISTRY[key].fn, key)
        info = {"wall": time.perf_counter() - t0}
        if after:
            after(info)
        return info

    def _one(self, h: Harness, fn, key: str) -> None:
        if h.tracer is None:
            noop(fn(h.spark, self.sf_dir))
            return
        with h.tracer.span(f"{key}.build", "catalog"):
            df = fn(h.spark, self.sf_dir)
        with h.tracer.span(f"{key}.plan", "spark"):
            df._jdf.queryExecution().executedPlan()
        with h.tracer.span(f"{key}.exec", "spark"):
            noop(df)


def _oracle_results(sf_dir: str, cache: str, keys: list[str]) -> dict:
    """DuckDB twin results per key over `sf_dir`, computed once into `cache`."""
    import duckdb
    import pandas as pd

    from varda_spark.catalog import REGISTRY

    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for key in keys:
        sql = REGISTRY[key].sql
        if sql is None:
            continue
        path = os.path.join(cache, f"{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            con.sql(sql).df().to_pickle(path + ".tmp")
            os.rename(path + ".tmp", path)
        out[key] = pd.read_pickle(path)
    return out


WORKLOADS = {w.name: w for w in (Lifecycle, Catalog)}


def median(values):
    return statistics.median(values) if values else 0.0
