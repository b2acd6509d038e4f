"""vcf_ingest: seeded synthetic VCFs loaded into a fresh VariantStore
through `read_vcf(normalize=True)` -> `VariantStore.load`.

Set-up ends with a warm-up, counted in `setup_s`: a small `.vcf.gz` read
through `read_vcf(normalize=True)` with every column materialised.  The
first load in a session costs about 13 s more than later ones (Python
workers, code generation, the BGZF path), so the measured sequence is
what a loader session pays per file.  The
sequence builds a fresh store from two plain-text shards and one
monolithic BGZF `.vcf.gz` (distinct content per file), then runs a
same-content reload (the hash-skip path), a `force=True` reload of a shard
(delete_batch + append) and region reads, checking every count against
what the generator wrote.

Sizes: in a warm session a load costs about 3 s whatever its size, plus
about 18 us per decomposed row, about 10 us of it normalisation.  The
`.vcf.gz` is large enough that per-row work is most of its load; the
shards are small enough that the run fits its budget (see README.md).
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np

import gen

SHARD_SITES = [10_000, 10_000]  # plain-text shards
GZ_SITES = 200_000  # the monolithic BGZF file
WARM_UP_SITES = 2000
N_REGIONS = 5
REGION_SITES = 2000  # region width in sites of one chromosome


def setup(spark, root: str, seed: int) -> dict:
    files = gen.write_vcfs(os.path.join(root, "vcf"), seed, SHARD_SITES, GZ_SITES)
    regions = gen.region_windows(
        np.random.default_rng(seed + 1), files, N_REGIONS, REGION_SITES
    )
    for f in files:
        del f["sites"]  # only the region counts needed them
    return {"files": files, "regions": regions}


def warm_up(spark, root: str, seed: int) -> None:
    """Read a small `.vcf.gz` with every column materialised."""
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    f = gen.write_vcfs(root, seed, [], WARM_UP_SITES)[0]
    read_vcf(spark, f["path"], normalize=True).write.format("noop").mode("overwrite").save()


def _files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def run(spark, tr, st: dict, root: str) -> dict:
    from vcf_pg_loader_spark.sources.store import VariantStore
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    store = VariantStore(spark, os.path.join(root, "store"))
    if tr.enabled:  # time the delete half of the force reload
        delete = store.delete_batch

        def timed_delete(batch_id):
            with tr.span("store.delete_batch"):
                return delete(batch_id)

        store.delete_batch = timed_delete

    def load(f, **kw):
        with tr.span("store.load"):
            return store.load(read_vcf(spark, f["path"], normalize=True), f["path"], **kw)

    ops = []
    files = st["files"]
    for f in files:
        with tr.op("load", os.path.basename(f["path"]), rows=f["rows"], loaded=0) as rec:
            res = load(f)
            tr.stop_clock(rec)
            rec["loaded"] = res.variants_loaded
            rec["ok"] = not res.skipped and res.variants_loaded == f["rows"]
        ops.append(rec)
    with tr.op("reload", os.path.basename(files[0]["path"])) as rec:
        res = load(files[0])
        tr.stop_clock(rec)
        rec["ok"] = res.skipped
    ops.append(rec)
    shard = files[1]
    with tr.op("force_reload", os.path.basename(shard["path"]), rows=shard["rows"]) as rec:
        res = load(shard, force=True)
        tr.stop_clock(rec)
        rec["ok"] = (
            not res.skipped and res.variants_loaded == shard["rows"]
            and store.read().count() == sum(f["rows"] for f in files)
        )
    ops.append(rec)
    for r in st["regions"]:
        with tr.op("region_read", f"{r['chrom']}:{r['start']}-{r['end']}") as rec:
            with tr.span("store.region_read"):
                n = store.query_region(r["chrom"], r["start"], r["end"]).count()
            tr.stop_clock(rec)
            rec["ok"] = n == r["rows"]
        ops.append(rec)
    ops[-1]["store_files"], ops[-1]["store_bytes"] = _files_and_bytes(store.variants_path)

    # every operation that commits rows: the three loads and the force reload
    writes = [o for o in ops if o["kind"] in ("load", "force_reload")]
    reads = [o["wall_s"] for o in ops if o["kind"] == "region_read"]
    gz_load = ops[len(files) - 1]
    res = {
        "end_to_end": {
            "sequence_s": (sum(o["wall_s"] for o in ops), "s"),
            "op_mean_s": (gz_load["wall_s"], "s"),
            "read_p50_s": (median(reads), "s"),
        },
        "provenance": {
            "lines": sum(f["n_lines"] for f in files),
            "rows": sum(f["rows"] for f in files),
            "ingest_variants_per_s": (
                sum(o["rows"] for o in writes) / sum(o["wall_s"] for o in writes)
            ),
            "write_s": [(o["kind"], o["name"], o["wall_s"]) for o in writes],
            "reload_s": ops[len(files)]["wall_s"],
        },
        "measured_ops": ops,
    }
    if tr.enabled:
        res["layer_probe"] = _probe(spark, tr, st)
    return res


def _probe(spark, tr, st: dict) -> dict:
    """Traced runs only: the parse cost with and without normalisation on
    the same inputs (every column materialised, not a pruned count), the
    BGZF range scan on its own, and the content hash."""
    from vcf_pg_loader_spark.sources.bgzf import bgzf_text
    from vcf_pg_loader_spark.sources.store import compute_file_hash
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    out = {"parse_s": 0.0, "normalized_s": 0.0, "hash_s": 0.0, "lines_kept": 0}
    for f in st["files"]:
        with tr.op("probe_kept", os.path.basename(f["path"])) as rec:
            kept = read_vcf(spark, f["path"]).filter("alt_idx = 0").count()
            tr.stop_clock(rec)
            rec["ok"] = kept == f["n_lines"] - f["bad"]
        out["lines_kept"] += kept
        for key, norm in (("parse_s", False), ("normalized_s", True)):
            with tr.op("probe_parse", f"{os.path.basename(f['path'])}:{norm}") as rec:
                read_vcf(spark, f["path"], normalize=norm).write.format("noop").mode(
                    "overwrite"
                ).save()
            out[key] += rec["wall_s"]
        t = time.time()
        compute_file_hash(f["path"])
        out["hash_s"] += time.time() - t
    gz = st["files"][-1]["path"]
    with tr.op("probe_bgzf", os.path.basename(gz)) as rec:
        n_lines = bgzf_text(spark, gz).count()
        tr.stop_clock(rec)
        rec["ok"] = n_lines > st["files"][-1]["n_lines"]
    out["bgzf_scan_op"] = rec
    return out


def _kind(ops: list[dict], kind: str) -> list[dict]:
    return [o for o in ops if o["kind"] == kind]


def per_layer(tr, res: dict) -> dict:
    ops, probe, prov = res["measured_ops"], res["layer_probe"], res["provenance"]
    lines, rows, last = prov["lines"], prov["rows"], ops[-1]
    loads = _kind(ops, "load")
    return {
        "vcf.parse_s": (probe["parse_s"], "s"),
        "normalize.s": (probe["normalized_s"] - probe["parse_s"], "s"),
        "vcf.variants_in": (lines, "count"),
        "vcf.rows_out": (sum(o["loaded"] for o in loads), "count"),
        "vcf.rows_dropped": (lines - probe["lines_kept"], "count"),
        "vcf.bgzf_scan_tasks": (probe["bgzf_scan_op"].get("tasks", 0), "count"),
        "vcf.bgzf_scan_s": (probe["bgzf_scan_op"]["wall_s"], "s"),
        "store.hash_s": (probe["hash_s"], "s"),
        "store.load_s": (tr.span_s("store.load", loads), "s"),
        "store.skip_s": (prov["reload_s"], "s"),
        "store.delete_batch_s": (tr.span_s("store.delete_batch", ops), "s"),
        "store.force_reload_s": (_kind(ops, "force_reload")[0]["wall_s"], "s"),
        "store.region_read_s": (median(o["wall_s"] for o in _kind(ops, "region_read")), "s"),
        "store.bytes_per_variant": (last["store_bytes"] / rows, "bytes"),
        "store.files_written": (last["store_files"], "count"),
    }
