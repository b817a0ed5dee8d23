"""Tests of the benchmark's inputs: the lifecycle generator, its pure-Python
reference and the copies of the reference tables.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import lifecycle_data as ld  # noqa: E402


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_gives_byte_identical_files(tmp_path):
    ld.generate(7, str(tmp_path / "a"))
    ld.generate(7, str(tmp_path / "b"))
    ld.generate(8, str(tmp_path / "c"))
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b")
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert mismatch  # another seed, other inputs


def test_generator_covers_the_frequency_cases(tmp_path):
    samples, query = ld.generate(3, str(tmp_path), n_samples=3, n_records=500, n_regions=40)
    for s in samples:
        ld.load(s)
    genotyped, pooled = samples[:-1], samples[-1]
    # BED for the first and third of every three genotyped samples only
    assert [s.bed is not None for s in genotyped] == [True, False, True]
    # pooled sample: site-only VCF with per-ALT support in INFO
    with open(pooled.vcf) as fh:
        body = [line for line in fh if not line.startswith("##")]
    assert body[0].rstrip("\n").split("\t")[-1] == "INFO"
    assert all("SF_SUPPORT=" in line for line in body[1:])
    assert pooled.pool_size > 1 and pooled.bed is None
    # multi-ALT records, and indels whose keys normalize to an empty allele
    with open(genotyped[0].vcf) as fh:
        records = [line.split("\t") for line in fh if not line.startswith("#")]
    assert any("," in r[4] for r in records)
    assert any("" in (k[2], k[3]) for k in genotyped[0].support)
    chroms = {line.split("\t")[0] for s in genotyped for line in open(s.vcf)
              if not line.startswith("#")}
    assert any(c.startswith("chr") for c in chroms) and any(c in ld.CHROMS for c in chroms)
    # overlapping regions within one sample's BED
    with open(genotyped[0].bed) as fh:
        rows = [line.split("\t") for line in fh if not line.startswith("track")]
    rows = [(c, int(s), int(e)) for c, s, e in rows]
    assert any(a[0] == b[0] and b[1] < a[2] for a, b in zip(rows, rows[1:]))
    assert query.endswith("query.vcf") and ld.query_keys(query)


def test_overlapping_regions_count_a_sample_once(tmp_path):
    vcf, bed = tmp_path / "s.vcf", tmp_path / "s.bed"
    vcf.write_text(ld.HEADER + ld.COLUMNS + "\tFORMAT\tS\n1\t60\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\n")
    bed.write_text("1\t10\t100\n1\t50\t150\n")
    s = ld.load(ld.Sample("S", 1, True, str(vcf), str(bed)))
    assert ld.reference_frequency([s], [("1", 60, "A", "G")]) == {("1", 60, "A", "G"): (1, 1, 1.0)}


def test_reference_matches_the_hand_worked_lifecycle_example(tmp_path):
    """The example of tests/test_api.py::test_full_lifecycle, by hand."""
    head = ld.HEADER + ld.COLUMNS + "\tFORMAT\t"
    va, vb, bed = tmp_path / "a.vcf", tmp_path / "b.vcf", tmp_path / "a.bed"
    va.write_text(head + "NA1\nchr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\n"
                  "chr1\t300\t.\tC\tT\t50\tPASS\t.\tGT\t1/1\n")
    vb.write_text(head + "NB1\nchr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t1/1\n")
    bed.write_text("chr1\t50\t200\n")
    a = ld.load(ld.Sample("A", 1, True, str(va), str(bed)))
    b = ld.load(ld.Sample("B", 1, False, str(vb)))
    assert (a.obs_rows, a.bed_rows, b.obs_rows) == (2, 1, 1)
    keys = ld.all_keys([a, b])
    f = {k[1]: v for k, v in ld.reference_frequency([a, b], keys).items()}
    assert f[100] == (2, 2, 1.0)  # both cover 100, both carry A>G
    assert f[300] == (1, 1, 1.0)  # only B's genome-wide pool at 300
    fp = {k[1]: v[:2] for k, v in ld.reference_frequency([a, b], keys, "public").items()}
    assert fp[100] == (1, 1) and fp[300] == (0, 1)


def test_reference_tables_are_complete_and_unchanged():
    import hashlib

    import pyarrow.parquet as pq
    import workloads

    data = os.path.join(os.path.dirname(HERE), "data")
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    for d in (workloads.CATALOG_DIR, workloads.ENTRY_DIR):
        for t in workloads.TABLES:
            path = os.path.join(d, f"{t}.parquet")
            with open(path, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            assert sums[os.path.relpath(path, data)] == digest
    rows = pq.ParquetFile(os.path.join(workloads.CATALOG_DIR, "lineitem.parquet")).metadata.num_rows
    assert rows == 600_000


def test_benchmark_json_names_every_reported_metric():
    import layers

    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == layers.METRICS
    assert [m["unit"] for m in bench["per_layer"]] == [layers._unit(n) for n in layers.METRICS]
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "pass_wall_s"}
