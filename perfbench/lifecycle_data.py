"""Seeded inputs for the `lifecycle` workload and their pure-Python answers.

`generate(seed, out_dir, ...)` writes per-sample VCFs, one pooled site-only
VCF (allele support in INFO ``SF_SUPPORT``), BED coverage files for the
first of every three per-sample VCFs and the third, and one query VCF to
annotate. The same seed
gives byte-identical files: every byte comes from one `random.Random(seed)`
stream, consumed in a fixed order.

The inputs cover the cases the frequency definition distinguishes:
multi-ALT records (one observation per ALT), indels that normalize by a
prefix trim, chromosome names with and without the ``chr`` prefix,
overlapping BED regions of one sample (that sample counts once in VN) and
samples with no coverage profile (they count everywhere).

`load(spec)` parses the written files back, without Spark, and
`reference_frequency` computes VN/VC/VF from them, so the benchmark can
check every value the program returns.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass, field

CHROMS = ("1", "2", "X")
CHROM_LEN = 2_000_000
BASES = "ACGT"
HEADER = "##fileformat=VCFv4.2\n"
COLUMNS = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"


@dataclass
class Sample:
    name: str
    pool_size: int
    public: bool
    vcf: str
    bed: str | None = None
    # filled by load(): normalized (chromosome, position, reference,
    # observed) -> support, observation row count, BED row count, and
    # chromosome -> (begins, ends) of merged 1-based closed intervals
    support: dict = field(default_factory=dict)
    obs_rows: int = 0
    bed_rows: int = 0
    covered: dict = field(default_factory=dict)


def normalize(chrom: str, pos: int, ref: str, alt: str) -> tuple:
    """Suffix-then-prefix allele trim and ``chr`` strip (varda's key)."""
    if chrom.lower().startswith("chr"):
        chrom = chrom[3:]
    while ref and alt and ref[-1] == alt[-1]:
        ref, alt = ref[:-1], alt[:-1]
    while ref and alt and ref[0] == alt[0]:
        ref, alt = ref[1:], alt[1:]
        pos += 1
    return chrom, pos, ref, alt


def _sites(rng: random.Random, n_sites: int) -> list:
    """Distinct variant sites: (chrom, pos, ref, [alts])."""
    loci = set()
    while len(loci) < n_sites:
        loci.add((rng.choice(CHROMS), rng.randint(1, CHROM_LEN)))
    out = []
    for chrom, pos in sorted(loci, key=lambda s: (CHROMS.index(s[0]), s[1])):
        ref = rng.choice(BASES)
        kind = rng.random()
        if kind < 0.15:  # multi-ALT SNV
            alts = rng.sample([b for b in BASES if b != ref], 2)
        elif kind < 0.22:  # deletion REF=XY ALT=X -> prefix-trims to Y>''
            ref = ref + rng.choice(BASES)
            alts = [ref[0]]
        elif kind < 0.28:  # insertion REF=X ALT=XY -> prefix-trims to ''>Y
            alts = [ref + rng.choice(BASES)]
        else:
            alts = [rng.choice([b for b in BASES if b != ref])]
        out.append((chrom, pos, ref, alts))
    return out


def _chrom_name(rng: random.Random, chrom: str) -> str:
    return ("chr" + chrom) if rng.random() < 0.5 else chrom


def generate(
    seed: int,
    out_dir: str,
    *,
    n_samples: int = 2,
    n_records: int = 4_000,
    n_regions: int = 80,
    n_query: int = 800,
) -> tuple[list, str]:
    """Write the inputs under `out_dir`; return (samples, query VCF path).

    Samples are the `n_samples` genotyped ones, then the pooled one."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    sites = _sites(rng, 2 * n_records)
    samples = []
    for i in range(n_samples):
        s = Sample(f"S{i:02d}", 1, i % 2 == 0, os.path.join(out_dir, f"S{i:02d}.vcf"))
        prefix = {c: _chrom_name(rng, c) for c in CHROMS}
        lines = [HEADER, f"{COLUMNS}\tFORMAT\t{s.name}\n"]
        for idx in sorted(rng.sample(range(len(sites)), n_records)):
            chrom, pos, ref, alts = sites[idx]
            gts = ["1/2", "0/1", "0/2", "2/2"] if len(alts) == 2 else ["0/1", "0/1", "1/1"]
            lines.append(
                f"{prefix[chrom]}\t{pos}\t.\t{ref}\t{','.join(alts)}\t50\tPASS\t.\tGT\t{rng.choice(gts)}\n"
            )
        _write(s.vcf, lines)
        if i % 3 != 1:
            s.bed = os.path.join(out_dir, f"S{i:02d}.bed")
            _write(s.bed, _bed_lines(rng, n_regions))
        samples.append(s)

    pooled = Sample("POOL", 40, True, os.path.join(out_dir, "POOL.vcf"))
    lines = [HEADER, COLUMNS + "\n"]
    for idx in sorted(rng.sample(range(len(sites)), n_records)):
        chrom, pos, ref, alts = sites[idx]
        counts = ",".join(str(rng.randint(1, 9)) for _ in alts)
        lines.append(f"{chrom}\t{pos}\t.\t{ref}\t{','.join(alts)}\t50\tPASS\tSF_SUPPORT={counts};DP=60\n")
    _write(pooled.vcf, lines)
    samples.append(pooled)

    # query VCF: half known sites, half fresh ones (mostly unobserved keys)
    query = os.path.join(out_dir, "query.vcf")
    picked = [sites[j] for j in rng.sample(range(len(sites)), n_query // 2)]
    picked += _sites(rng, n_query - len(picked))
    picked.sort(key=lambda s: (CHROMS.index(s[0]), s[1]))
    lines = [HEADER, COLUMNS + "\n"]
    for chrom, pos, ref, alts in picked:
        lines.append(f"{_chrom_name(rng, chrom)}\t{pos}\t.\t{ref}\t{','.join(alts)}\t50\tPASS\t.\n")
    _write(query, lines)
    return samples, query


def _bed_lines(rng: random.Random, n_regions: int) -> list:
    """BED regions of one sample; about a tenth overlap another region."""
    rows = []
    for _ in range(n_regions):
        chrom = rng.choice(CHROMS)
        start = rng.randint(0, CHROM_LEN - 20_000)
        rows.append((chrom, start, start + rng.randint(500, 20_000)))
        if rng.random() < 0.1:  # overlapping twin region
            s2 = start + rng.randint(0, 400)
            rows.append((chrom, s2, s2 + rng.randint(500, 20_000)))
    rows.sort(key=lambda r: (CHROMS.index(r[0]), r[1], r[2]))
    return ["track name=coverage\n"] + [f"chr{c}\t{s}\t{e}\n" for c, s, e in rows]


def _write(path: str, lines: list) -> None:
    with open(path, "w") as fh:
        fh.writelines(lines)


# ---- reference: parse the files back, no Spark ---------------------------

def read_vcf_records(path: str):
    """Yield (key, support) per observation row the VCF defines."""
    n_samples = 0
    with open(path) as fh:
        for line in fh:
            if line.startswith("#CHROM"):
                n_samples = max(len(line.rstrip("\n").split("\t")) - 9, 0)
            if line.startswith("#"):
                continue
            f = line.rstrip("\n").split("\t")
            alts = f[4].split(",")
            if n_samples:
                for gt in f[9:]:
                    called = {int(a) for a in gt.split(":")[0].replace("|", "/").split("/") if a not in ("0", ".")}
                    for a in sorted(called):
                        yield normalize(f[0], int(f[1]), f[3], alts[a - 1]), 1
            else:
                info = dict(kv.split("=", 1) for kv in f[7].split(";") if "=" in kv)
                counts = info["SF_SUPPORT"].split(",") if "SF_SUPPORT" in info else []
                for i, alt in enumerate(alts):
                    yield normalize(f[0], int(f[1]), f[3], alt), int(counts[i]) if i < len(counts) else 1


def load(sample: Sample) -> Sample:
    """Fill `support`, `obs_rows`, `bed_rows` and `covered` from the files."""
    for key, sup in read_vcf_records(sample.vcf):
        sample.support[key] = sample.support.get(key, 0) + sup
        sample.obs_rows += 1
    if sample.bed is None:
        return sample
    rows = []
    with open(sample.bed) as fh:
        for line in fh:
            if line.startswith(("#", "track")):
                continue
            c, s, e = line.split("\t")[:3]
            rows.append((normalize(c, 0, "", "")[0], int(s), int(e)))
    sample.bed_rows = len(rows)
    for c, s, e in sorted(rows):  # BED [s, e) -> 1-based closed [s+1, e], merged
        begins, ends = sample.covered.setdefault(c, ([], []))
        if ends and s + 1 <= ends[-1] + 1:
            ends[-1] = max(ends[-1], e)
        else:
            begins.append(s + 1)
            ends.append(e)
    return sample


def query_keys(path: str) -> list:
    return sorted({key for key, _ in read_vcf_records(path)})


def is_covered(sample: Sample, chrom: str, pos: int) -> bool:
    if sample.bed is None:
        return True
    begins, ends = sample.covered.get(chrom, ((), ()))
    i = bisect.bisect_right(begins, pos) - 1
    return i >= 0 and ends[i] >= pos


SELECTIONS = {
    "*": lambda s: True,
    "public": lambda s: s.public,
    "pooled or covered": lambda s: s.pool_size > 1 or s.bed is not None,
}


def reference_frequency(samples: list, keys, selection: str = "*") -> dict:
    """key -> (vn, vc, vf) over the selected samples, all of them active."""
    chosen = [s for s in samples if SELECTIONS[selection](s)]
    out = {}
    for key in keys:
        vn = sum(s.pool_size for s in chosen if is_covered(s, key[0], key[1]))
        vc = sum(s.support.get(key, 0) for s in chosen)
        out[key] = (vn, vc, vc / vn if vn > 0 else 0.0)
    return out


def all_keys(samples: list) -> list:
    return sorted({k for s in samples for k in s.support})
