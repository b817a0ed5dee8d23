"""Per-layer metrics of a traced run, from its spans and Spark's counts.

Every metric in `METRICS` is reported by every workload; a layer the
workload does not call reads 0 there (the lifecycle calls no catalog key,
the catalog calls no `VardaWarehouse` method). Times and counts are per
timed pass (median over passes) unless the name says per call.
"""

from __future__ import annotations

import os
import statistics
import time

import spans as sp
from workloads import CATALOG_KEYS, QUERIES, Lifecycle, noop

LAYER_NAMES = ["session", "api", "sources", "expressions", "annotate", "frequency",
               "operators.interval", "operators.binning", "operators.merge", "catalog",
               "catalog.operators", "spark", "bench"]
SPARK_COUNTS = ["executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes"]


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "ratio" in name or "_per_" in name:
        return "ratio"
    return "bytes" if "bytes" in name else "count"


METRICS = (
    ["session.get_spark_s", "session.entry_cold_s", "session.warmup_s"]
    + [f"api.{m}_s" for m in ("create_sample", "import_variation", "import_coverage",
                              "activate_sample")]
    + ["api.import_variation.jobs", "api.import_variation.input_bytes",
       "api.import_variation.input_per_vcf_byte", "api.import_coverage.jobs",
       "api.sample_update.jobs", "api.files_written", "api.bytes_written",
       "api.storage_bytes_per_input_byte"]
    + ["sources.read_vcf_s", "sources.read_bed_s", "sources.read_table_s", "sources.input_bytes"]
    + ["expressions.compile_selection_s"]
    + [f"annotate_{q}.{m}" for q in QUERIES
       for m in ("build_s", "plan_s", "exec_s", "jobs", "stages", "observation_scans")]
    + [f"frequency.{m}" for m in ("build_s", "plan_s", "exec_s", "jobs", "broadcast_exchanges",
                                  "sample_dim_scans", "shuffle_bytes")]
    + ["operators.interval.build_s", "operators.interval.match_ratio",
       "operators.merge.merge_upsert_s"]
    + [f"catalog.{f}.wall_s" for f in CATALOG_KEYS]
    + ["catalog.build_s", "catalog.plan_s", "catalog.exec_s", "catalog.jobs", "catalog.stages",
       "catalog.tasks"]
    + [f"spark.{c}" for c in SPARK_COUNTS] + ["spark.cached_bytes_end", "spark.slot_busy_ratio"]
    + [f"self.{layer}_s" for layer in LAYER_NAMES]
    + ["trace.pass_wall_s", "host.peak_rss_mb"]
)


def after_pass(wl, h, tracer) -> dict:
    """Traced-only measurements made after a timed pass, outside its wall."""
    out = {"cached_bytes_end": h.counts.cached_bytes()}
    out["interval"] = _interval_ratio(tracer.captured.get("operators.interval.interval_join", []))
    if isinstance(wl, Lifecycle):
        from varda_spark.sources.bed import read_bed
        from varda_spark.sources.vcf import read_vcf

        def parse(reader, path):
            t0 = time.perf_counter()
            noop(reader(h.spark, path))
            return time.perf_counter() - t0

        out["read_vcf_s"] = [parse(read_vcf, s.vcf) for s in wl.samples]
        out["read_bed_s"] = [parse(read_bed, s.bed) for s in wl.samples if s.bed]
    return out


def _interval_ratio(calls: list) -> tuple[int, int]:
    """(rows kept by the range predicate, candidate rows of the bin equi-join)
    summed over every `interval_join` call recorded in the pass.

    Kept rows are the operator's own binned inner join; candidates are the
    equi-join on (chromosome, bin) of the same binning helpers, without the
    range predicate. Each (point, interval) pair shares exactly one bin, so
    kept <= candidates."""
    from pyspark.sql import functions as F

    from varda_spark.operators.binning import point_bins, with_bin
    from varda_spark.operators.interval import interval_join

    interval_join = getattr(interval_join, "__wrapped__", interval_join)  # no span, no capture
    kept = cand = 0
    for args, kw in calls:
        points, ivs = args[0], args[1]
        kept += interval_join(points, ivs, **{**kw, "how": "inner", "strategy": "binned"}).count()
        pc, pp = kw.get("point_chrom", "chromosome"), kw.get("point_pos", "position")
        ic, ib, ie = (kw.get("ival_chrom", "chromosome"), kw.get("ival_begin", "begin"),
                      kw.get("ival_end", "end"))
        pts = points.select(F.col(pc).alias("_pc"), F.explode(point_bins(pp)).alias("_bin"))
        iv = with_bin(ivs.select(F.col(ic).alias("_ic"), F.col(ib).alias("_ib"),
                                 F.col(ie).alias("_ie")), "_ib", "_ie", out="_ibin")
        cand += pts.join(iv, (F.col("_pc") == F.col("_ic")) & (F.col("_bin") == F.col("_ibin"))).count()
    return kept, cand


def _union(intervals) -> float:
    total, hi = 0.0, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(wl, h, passes, cpus, get_spark_s, entry_s, warm_s, rss_mb) -> dict:
    spans = h.tracer.spans
    for s in spans:
        if s["end"] is None:
            s["end"] = time.time()
    selft = sp.self_times(spans)
    n = len(passes)
    window = [(p["start"], p["end"]) for p in passes]

    def timed(s):
        return any(lo <= s["start"] and s["end"] <= hi for lo, hi in window)

    in_pass = [s for s in spans if timed(s)]
    by_name: dict[str, list] = {}
    for s in in_pass:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):  # per-call durations
        return [s["end"] - s["start"] for s in by_name.get(name, [])]

    def per_pass(total):
        return total / n if n else 0.0

    ops = h.ops
    m = {k: 0.0 for k in METRICS}
    m["session.get_spark_s"] = get_spark_s
    m["session.entry_cold_s"] = entry_s
    m["session.warmup_s"] = warm_s
    m["trace.pass_wall_s"] = _med(p["wall"] for p in passes)
    m["host.peak_rss_mb"] = rss_mb

    def op_counts(*names):
        return [op.counts for op in ops if op.name in names]

    if isinstance(wl, Lifecycle):
        for api in ("create_sample", "import_variation", "import_coverage", "activate_sample"):
            m[f"api.{api}_s"] = _med(op.wall for op in ops if op.name == api)
        iv = op_counts("import_variation")
        m["api.import_variation.jobs"] = _med(c["jobs"] for c in iv)
        m["api.import_variation.input_bytes"] = _med(c["input_bytes"] for c in iv)
        vcf_bytes = n * sum(os.path.getsize(s.vcf) for s in wl.samples)
        m["api.import_variation.input_per_vcf_byte"] = sum(c["input_bytes"] for c in iv) / vcf_bytes
        m["api.import_coverage.jobs"] = _med(c["jobs"] for c in op_counts("import_coverage"))
        m["api.sample_update.jobs"] = _med(
            c["jobs"] for c in op_counts("create_sample", "activate_sample"))
        m["api.files_written"] = _med(p["storage"][0] for p in passes)
        m["api.bytes_written"] = _med(p["storage"][1] for p in passes)
        m["api.storage_bytes_per_input_byte"] = m["api.bytes_written"] / wl.input_bytes
        m["sources.read_vcf_s"] = _med(t for p in passes for t in p["read_vcf_s"])
        m["sources.read_bed_s"] = _med(t for p in passes for t in p["read_bed_s"])
        for phase in ["frequency"] + [f"annotate_{q}" for q in QUERIES]:
            api = "api.VardaWarehouse.frequency" if phase == "frequency" else "api.VardaWarehouse.annotate"
            op_ids = {s["id"] for s in by_name.get(phase, [])}
            build = [s["end"] - s["start"] for s in by_name.get(api, []) if s["parent"] in op_ids]
            c = op_counts(phase)
            m[f"{phase}.build_s"] = _med(build)
            m[f"{phase}.plan_s"] = _med(dur(f"{phase}.plan"))
            m[f"{phase}.exec_s"] = _med(dur(f"{phase}.exec"))
            m[f"{phase}.jobs"] = _med(x["jobs"] for x in c)
            plan = h.plans.get(phase, {})
            if phase == "frequency":
                m["frequency.broadcast_exchanges"] = plan.get("broadcast_exchanges", 0)
                m["frequency.sample_dim_scans"] = plan.get("sample_dim_scans", 0)
                m["frequency.shuffle_bytes"] = _med(x["shuffle_write_bytes"] for x in c)
            else:
                m[f"{phase}.stages"] = _med(x["stages"] for x in c)
                m[f"{phase}.observation_scans"] = plan.get("observation_scans", 0)
    else:
        fam_wall: dict[str, float] = {}
        for op in ops:
            fam_wall[op.kind] = fam_wall.get(op.kind, 0.0) + op.wall
        for fam, total in fam_wall.items():
            m[f"catalog.{fam}.wall_s"] = per_pass(total)
        keys = [k for ks in CATALOG_KEYS.values() for k in ks]
        plan = per_pass(sum(sum(dur(f"{k}.plan")) for k in keys))
        execute = per_pass(sum(sum(dur(f"{k}.exec")) for k in keys))
        m["catalog.build_s"] = per_pass(sum(sum(dur(f"{k}.build")) for k in keys))
        m["catalog.plan_s"] = plan
        # the noop write plans the query again: its planning is taken as
        # the forced planning just before it
        m["catalog.exec_s"] = max(execute - plan, 0.0)
        for c in ("jobs", "stages", "tasks"):
            m[f"catalog.{c}"] = per_pass(sum(op.counts[c] for op in ops))

    m["sources.read_table_s"] = per_pass(sum(dur("sources.tables.read_table")))
    m["sources.input_bytes"] = per_pass(sum(op.counts["input_bytes"] for op in ops))
    m["expressions.compile_selection_s"] = per_pass(sum(dur("expressions.compile_selection")))
    m["operators.interval.build_s"] = per_pass(sum(dur("operators.interval.interval_join")))
    kept = sum(p["interval"][0] for p in passes)
    cand = sum(p["interval"][1] for p in passes)
    m["operators.interval.match_ratio"] = kept / cand if cand else 0.0
    m["operators.merge.merge_upsert_s"] = per_pass(sum(dur("operators.merge.merge_upsert")))
    for c in SPARK_COUNTS:
        m[f"spark.{c}"] = per_pass(sum(op.counts[c] for op in ops))
    m["spark.cached_bytes_end"] = _med(p["cached_bytes_end"] for p in passes)
    busy = sum(p["wall"] for p in passes) * cpus
    m["spark.slot_busy_ratio"] = sum(op.counts["executor_run_s"] for op in ops) / busy
    for layer in LAYER_NAMES:
        if layer == "session":  # set-up work: the whole run, not per pass
            m["self.session_s"] = sum(selft[s["id"]] for s in spans if s["layer"] == layer)
        elif layer == "spark":  # concurrent jobs: wall time covered, not a sum
            m["self.spark_s"] = per_pass(_union([(s["start"], s["end"]) for s in in_pass
                                                 if s["layer"] == "spark"]))
        else:
            m[f"self.{layer}_s"] = per_pass(
                sum(selft[s["id"]] for s in in_pass if s["layer"] == layer))
    return {k: (float(v), _unit(k)) for k, v in m.items()}
