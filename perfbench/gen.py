"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + numpy + pyarrow: the program under test
only ever sees the files these functions write.  The VCF and document
generators also return the facts the checks need (expected row counts,
region counts, the duplicate share).
"""

from __future__ import annotations

import datetime as dt
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# TPC-H-ish star schema (the tables the measured registry queries and
# their DuckDB twins read; see TESTDATA.md)
# --------------------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    days = rng.integers(0, (end - start).days + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(choices, idx) -> pa.Array:
    return pa.array(choices, pa.string()).take(pa.array(idx))


def write_tables(out_dir: str, seed: int, n_orders: int) -> None:
    """Write every fixture table under `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, n_orders // 10)
    n_supp = max(20, n_orders // 150)
    n_part = max(100, n_orders * 2 // 15)
    n_line = n_orders * 4

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(P_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _dates(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_orders)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": _dates(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })


# --------------------------------------------------------------------------
# VCF inputs
# --------------------------------------------------------------------------
VCF_HEADER = """##fileformat=VCFv4.2
##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele freq">
##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">
##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP membership">
##contig=<ID=chr1,length=248956422>
##contig=<ID=chr2,length=242193529>
##contig=<ID=chr3,length=198295559>
##contig=<ID=chr4,length=190214555>
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
"""
VCF_CHROMS = ["chr1", "chr2", "chr3", "chr4"]
POS_STEP = 100  # one site per 100 bp; normalisation shifts pos by < 20
BASES = "ACGT"


def _strs(values) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _join(*cols, sep: str) -> pa.Array:
    """Element-wise join; plain strings broadcast."""
    return pc.binary_join_element_wise(*cols, sep)


def _alleles(a, b, multi) -> pa.Array:
    """"a" or "a,b" per row."""
    return pc.if_else(multi, _join(_strs(a), _strs(b), sep=","), _strs(a))


# every base string of length 0-5, grouped by length
KMERS = [""] + [
    "".join(BASES[(i >> (2 * j)) & 3] for j in range(n))
    for n in range(1, 6) for i in range(4 ** n)
]
KMER_START = np.array([0] + [sum(4 ** j for j in range(n)) for n in range(1, 6)])


def vcf_body(
    rng, n_sites: int, site0: int, multi_share: float, indel_share: float,
    bad_share: float,
) -> tuple[bytes, dict]:
    """Body lines for `n_sites` sites numbered from `site0`, built column
    by column (numpy draws, pyarrow string kernels) so set-up stays cheap
    at hundreds of thousands of sites.  Returns the bytes and the facts a
    correct load must reproduce: decomposed rows kept, malformed rows, and
    the (chromosome index, base position, ALT count) of every kept site.

    A site is an SNV, an insertion of 1-5 bases or a deletion of 1-4 bases
    down to the anchor base; a seeded share carries a second, SNV ALT and
    a seeded share is truncated below eight columns."""
    sites = np.arange(site0, site0 + n_sites)
    chrom = sites % len(VCF_CHROMS)
    base_pos = (sites // len(VCF_CHROMS) + 1) * POS_STEP
    pos = base_pos + rng.integers(0, 10, n_sites)
    bad = rng.random(n_sites) < bad_share
    indel = rng.random(n_sites) < indel_share
    deletion = indel & (rng.random(n_sites) < 0.5)
    multi = rng.random(n_sites) < multi_share
    r0 = rng.integers(0, 4, n_sites)
    shift1 = rng.integers(1, 4, n_sites)
    shift2 = (shift1 - 1 + rng.integers(1, 3, n_sites)) % 3 + 1  # != shift1
    # the bases a deletion removes or an insertion adds
    ext_len = np.where(deletion, rng.integers(1, 5, n_sites),
                       np.where(indel, rng.integers(1, 6, n_sites), 0))
    ext = KMER_START[ext_len] + rng.integers(0, 4 ** 5, n_sites) % (4 ** ext_len)
    anchor = _pick(list(BASES), r0)
    extended = _join(anchor, _pick(KMERS, ext), sep="")
    indel, deletion, multi = pa.array(indel), pa.array(deletion), pa.array(multi)
    ref = pc.if_else(deletion, extended, anchor)
    alt1 = pc.if_else(
        indel,
        pc.if_else(deletion, anchor, extended),
        _pick(list(BASES), (r0 + shift1) % 4),
    )
    alts = pc.if_else(multi, _join(alt1, _pick(list(BASES), (r0 + shift2) % 4), sep=","), alt1)
    af = np.round(rng.uniform(0.001, 0.5, (n_sites, 2)), 3)
    ac = rng.integers(1, 200, (n_sites, 2))
    info = _join(
        _join("DP", _strs(rng.integers(5, 500, n_sites)), sep="="),
        _join("AF", _alleles(af[:, 0], af[:, 1], multi), sep="="),
        _join("AC", _alleles(ac[:, 0], ac[:, 1], multi), sep="="),
        sep=";",
    )
    info = pc.if_else(pa.array(rng.random(n_sites) < 0.3), _join(info, "DB", sep=";"), info)
    rsid = pc.if_else(pa.array(rng.random(n_sites) < 0.5), _join("rs", _strs(sites), sep=""), ".")
    qual = _strs(np.round(rng.uniform(10, 99, n_sites), 1))
    chrom_s = _pick(VCF_CHROMS, chrom)
    pos_s = _strs(pos)
    lines = pc.if_else(
        pa.array(bad),
        _join(chrom_s, pos_s, ".", "A", sep="\t"),  # truncated: < 8 columns
        _join(chrom_s, pos_s, rsid, ref, alts, qual, "PASS", info, sep="\t"),
    )
    lines = _join(lines, "", sep="\n")  # newline-terminated
    _valid, offsets, data = lines.buffers()
    offsets = np.frombuffer(offsets, np.int32)[lines.offset:lines.offset + len(lines) + 1]
    body = data.to_pybytes()[offsets[0]:offsets[-1]]
    keep = ~bad
    n_alt = 1 + multi.to_numpy(zero_copy_only=False)[keep]
    return body, {
        "rows": int(n_alt.sum()),
        "bad": int(bad.sum()),
        "sites": (chrom[keep], base_pos[keep], n_alt),
    }


def write_bgzf(path: str, data: bytes, payload: int = 0xFF00) -> None:
    """BGZF: independent gzip members with the BC extra subfield, then
    the standard empty EOF block.  Level 1 keeps set-up cheap."""
    def block(chunk: bytes) -> bytes:
        co = zlib.compressobj(1, zlib.DEFLATED, -15)
        cdata = co.compress(chunk) + co.flush()
        bsize = 18 + len(cdata) + 8 - 1
        head = struct.pack(
            "<4BI2BH2BHH", 31, 139, 8, 4, 0, 0, 255, 6, 66, 67, 2, bsize
        )
        return head + cdata + struct.pack("<II", zlib.crc32(chunk), len(chunk))

    with open(path, "wb") as fh:
        for i in range(0, len(data), payload):
            fh.write(block(data[i:i + payload]))
        fh.write(block(b""))


def write_vcfs(
    out_dir: str, seed: int, shard_sites: list[int], gz_sites: int
) -> list[dict]:
    """Plain-text shards plus one monolithic BGZF `.vcf.gz`, each with its
    own content.  The seed sets the multiallelic, indel and malformed
    shares; sizes are fixed so every seed does the same amount of work."""
    rng = np.random.default_rng(seed)
    shares = {
        "multi_share": float(rng.uniform(0.05, 0.15)),
        "indel_share": float(rng.uniform(0.10, 0.25)),
        "bad_share": float(rng.uniform(0.002, 0.01)),
    }
    os.makedirs(out_dir, exist_ok=True)
    files, site0 = [], 0
    sizes = [(n, False) for n in shard_sites] + [(gz_sites, True)]
    for i, (n, gz) in enumerate(sizes):
        body, facts = vcf_body(rng, n, site0, **shares)
        site0 += n
        data = VCF_HEADER.encode() + body
        path = os.path.join(out_dir, f"part{i}.vcf" + (".gz" if gz else ""))
        if gz:
            write_bgzf(path, data)
        else:
            with open(path, "wb") as fh:
                fh.write(data)
        files.append({"path": path, "n_lines": n, "gz": gz, **facts})
    return files


def region_windows(rng, files: list[dict], n: int, width_sites: int) -> list[dict]:
    """`n` region queries with boundaries between sites, each with the
    decomposed row count the loaded files hold inside it."""
    out = []
    n_sites = sum(f["n_lines"] for f in files)
    per_chrom = n_sites // len(VCF_CHROMS)
    for _ in range(n):
        c = int(rng.integers(0, len(VCF_CHROMS)))
        k0 = int(rng.integers(0, max(1, per_chrom - width_sites)))
        start = k0 * POS_STEP + POS_STEP // 2
        end = start + width_sites * POS_STEP
        want = 0
        for f in files:
            chrom, base_pos, n_alt = f["sites"]
            inside = (chrom == c) & (base_pos > start) & (base_pos < end)
            want += int(n_alt[inside].sum())
        out.append({"chrom": VCF_CHROMS[c], "start": start, "end": end, "rows": want})
    return out


# --------------------------------------------------------------------------
# dedup stream: micro-batches with planted near- and exact duplicates
# --------------------------------------------------------------------------
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value window"
).split()


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def near_copy(rng, text: str) -> str:
    """One substituted word in a >= 60-word doc: shingle Jaccard >= 0.9."""
    words = text.split()
    i = int(rng.integers(0, len(words)))
    words[i] = "zz" + words[i]
    return " ".join(words)


def dedup_batch(seed: int, size: int) -> tuple[list[tuple[int, str]], dict]:
    """One batch of (doc_id, text).  Base docs are 60-90 random words over
    the fixture vocabulary (pairwise Jaccard near 0); a seeded share of
    the batch re-sends an earlier doc verbatim (with extra spaces: the
    exact gate) or as a one-word edit (the near-dup gate)."""
    rng = np.random.default_rng(seed)
    share = float(rng.uniform(0.1, 0.3))
    batch: list[tuple[int, str]] = []
    for doc_id in range(size):
        if batch and rng.random() < share:
            src = batch[int(rng.integers(0, len(batch)))][1]
            if rng.random() < 0.3:
                text = "  " + src.replace(" ", "  ", 3)
            else:
                text = near_copy(rng, src)
        else:
            text = _text(rng, int(rng.integers(60, 91)))
        batch.append((doc_id, text))
    # ids are offered in a seeded order, not ascending
    return [batch[i] for i in rng.permutation(size)], {"dup_share": share}
