"""dedup_stream: a seeded document micro-batch with a seeded share of
planted exact and near duplicates, applied through
`NearDupIngestSink.apply_batch` on empty state.

The measured sequence is the apply, a served `read_corpus` read whose
doc ids must equal the reference admitted set, a replay of the same batch
id, which must leave the state untouched, three more served reads, and then
the batch pipeline `minhash_lsh_dedup -> connected_components ->
keep_canonical` over the same documents, which must keep the reference's
canonical ids.  The sink's gate against existing state (the admitted
corpus and its band index) is not exercised: as the package stands a
second batch costs another 20-25 s, which the run budget does not hold.

The reference is computed in set-up without the sink: a direct Python
walk of the admission rules for one batch on empty state (exact
fingerprint gate keeping the minimum id, then band collision + exact
Jaccard + connected components, keeping the minimum id), fed only by the
LSH band keys of each document.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
from statistics import median

import gen

BATCH_DOCS = 120
# a served read takes about 0.6 s, so read_p50_s is the median of several
N_READS = 4


def _params():
    from vcf_pg_loader_spark.queries.pipeline import (
        JACCARD_T, MINHASH_BANDS, MINHASH_K, NGRAM,
    )

    return NGRAM, MINHASH_K, MINHASH_BANDS, JACCARD_T


def _shingles(text: str, n: int) -> frozenset:
    toks = text.split(" ")
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _bands(sh: frozenset, k: int, nb: int) -> set:
    """LSH band keys of one shingle set, computed the way
    `operators.dedup.lsh_band_table` defines them (md5-derived 60-bit base
    hash per shingle, K arithmetic permutations, md5 of each band's
    values); only the permutation constants are read from the operator."""
    from vcf_pg_loader_spark.operators import dedup as D

    if not sh:
        return set()
    base = [int(hashlib.md5(("mh:" + x).encode()).hexdigest()[:15], 16) for x in sh]
    mask = (1 << 30) - 1
    mh = [
        min((a * (h >> 30) + b * (h & mask) + c) % D._MH_P for h in base)
        for a, b, c in D._MH_PARAMS[:k]
    ]
    r = k // nb
    return {
        (i, hashlib.md5("_".join(str(v) for v in mh[i * r:(i + 1) * r]).encode()).hexdigest())
        for i in range(nb)
    }


def _fp(text: str) -> str:
    return hashlib.md5(re.sub(" +", " ", text.strip(" ")).encode()).hexdigest()


def _similar(a: frozenset, b: frozenset, t: float) -> bool:
    inter = len(a & b)
    return inter > 0 and round(inter / (len(a) + len(b) - inter), 6) >= t


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        while self.parent.get(x, x) != x:
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _canonical(ids, sh, bands, t) -> set:
    """Ids that survive keep-min-id over the verified band-collision graph."""
    buckets: dict = {}
    for d in ids:
        for b in bands.get(d, ()):
            buckets.setdefault(b, []).append(d)
    uf = _UnionFind()
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if _similar(sh[a], sh[b], t):
                    uf.union(a, b)
    return {d for d in ids if uf.find(d) == d}


def reference(batch, sh, bands, t) -> list[int]:
    """Admitted doc ids of one batch on empty state, by the sink's
    admission rules."""
    first: dict = {}
    for d, x in sorted(batch):
        first.setdefault(_fp(x), d)
    return sorted(_canonical(list(first.values()), sh, bands, t))


def setup(spark, root: str, seed: int) -> dict:
    n, k, nb, t = _params()
    batch, facts = gen.dedup_batch(seed, BATCH_DOCS)
    sh = {d: _shingles(x, n) for d, x in batch}
    bands = {d: _bands(s, k, nb) for d, s in sh.items()}
    return {
        "batch": batch,
        "admitted": reference(batch, sh, bands, t),
        "canonical": _canonical([d for d, _x in batch], sh, bands, t),
        "dup_share": facts["dup_share"],
    }


def _state(path: str) -> tuple[list, int]:
    """(sorted file listing with sizes and mtimes, total bytes) of a dir."""
    listing, total = [], 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            s = os.stat(p)
            listing.append((p, s.st_size, s.st_mtime_ns))
            total += s.st_size
    return sorted(listing), total


@contextlib.contextmanager
def _capture(module, name: str, out: list):
    """Record what `module.name` returns while the block runs; the call
    itself is untouched and no action is added."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        res = orig(*args, **kwargs)
        out.append(res)
        return res

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


def _pipeline(tr, docs) -> dict:
    """The batch near-dup chain as a caller runs it.  Returns the kept
    ids, the components `stats`, the verified pairs and the candidate-pair
    frames `minhash_lsh_dedup` built (captured, not re-derived)."""
    from vcf_pg_loader_spark.operators import dedup as D

    n, k, nb, t = _params()
    stats: dict = {}
    cands: list = []
    with _capture(D, "lsh_candidate_pairs_capped", cands):
        with tr.span("dedup.minhash_lsh"):
            pairs = D.minhash_lsh_dedup(docs, "doc_id", "text", n, k, nb, t)
        # the first action: it runs the shingle, LSH and verify plan too
        with tr.span("dedup.cc"):
            cc = D.connected_components(pairs.select("d1", "d2"), "d1", "d2", stats=stats)
    with tr.span("dedup.keep"):
        kept = {r[0] for r in D.keep_canonical(docs, cc, "doc_id").select("doc_id").collect()}
    return {"kept": kept, "stats": stats, "pairs": pairs, "cands": [c[0] for c in cands]}


def _probe(spark, tr, docs, chain: dict) -> dict:
    """Traced runs only, after the measured sequence: the step figures
    the chain's single action graph does not separate - shingling on its
    own, the candidate count of the frames the measured call built (0 if
    it no longer builds any), and the components pass on the verified
    edges alone."""
    from vcf_pg_loader_spark.operators import dedup as D

    n = _params()[0]
    with tr.op("probe_shingles", "docs") as rec:
        D.shingles(docs, "doc_id", "text", n).count()
    out = {"shingles_s": rec["wall_s"]}
    with tr.op("probe_candidates", "docs"):
        out["candidates"] = sum(c.count() for c in chain["cands"])
    pairs = chain["pairs"].select("d1", "d2")
    edges = spark.createDataFrame(pairs.collect(), pairs.schema)
    with tr.op("probe_cc", "edges") as rec:
        D.connected_components(edges, "d1", "d2").count()
    out["cc_s"] = rec["wall_s"]
    return out


def _served(tr, sink, spark, st: dict, name: str) -> dict:
    with tr.op("read", name) as rec:
        with tr.span("sink.read"):
            ids = sorted(r[0] for r in sink.read_corpus(spark).select("doc_id").collect())
        tr.stop_clock(rec)
        rec["admitted"] = len(ids)
        rec["ok"] = ids == st["admitted"]
    return rec


def run(spark, tr, st: dict, root: str) -> dict:
    from vcf_pg_loader_spark.streaming.dedup_ingest import NearDupIngestSink

    target = os.path.join(root, "sink", "corpus_state")
    sink = NearDupIngestSink(target)
    batch = st["batch"]
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    ops = []
    with tr.op("apply", "batch0", docs=len(batch), state_bytes=0,
               text_bytes=sum(len(x.encode()) for _d, x in batch)) as rec:
        with tr.span("sink.apply"):
            sink.apply_batch(bdf, 0)
        tr.stop_clock(rec)
        before, rec["state_bytes"] = _state(target)
    ops.append(rec)
    ops.append(_served(tr, sink, spark, st, "after_apply"))
    with tr.op("replay", "batch0") as rec:
        sink.apply_batch(bdf, 0)
        tr.stop_clock(rec)
        rec["ok"] = _state(target)[0] == before
    ops.append(rec)
    for i in range(N_READS - 1):
        ops.append(_served(tr, sink, spark, st, f"after_replay{i}"))

    docs = spark.createDataFrame(batch, "doc_id long, text string")
    with tr.op("pipeline", f"{len(batch)}docs") as rec:
        chain = _pipeline(tr, docs)
        tr.stop_clock(rec)
        rec["ok"] = chain["kept"] == st["canonical"]
        rec["stats"] = chain["stats"]
    ops.append(rec)

    reads = [o["wall_s"] for o in ops if o["kind"] == "read"]
    res = {
        "end_to_end": {
            "sequence_s": (sum(o["wall_s"] for o in ops), "s"),
            "op_mean_s": (ops[0]["wall_s"], "s"),
            "read_p50_s": (median(reads), "s"),
        },
        "provenance": {
            "batch_docs": len(batch),
            "dup_share": st["dup_share"],
            "ingest_docs_per_s": len(batch) / ops[0]["wall_s"],
            "dedup_pipeline_s": rec["wall_s"],
        },
        "measured_ops": ops,
    }
    if tr.enabled:
        res["layer_probe"] = _probe(spark, tr, docs, chain)
    return res


def per_layer(tr, res: dict) -> dict:
    ops, probe = res["measured_ops"], res["layer_probe"]
    apply, pipeline = ops[0], ops[-1]
    reads = [o for o in ops if o["kind"] == "read"]
    admitted = reads[-1]["admitted"]
    cands = probe["candidates"]
    verified = pipeline["stats"].get("cc_edges", 0)
    return {
        "dedup.pipeline_s": (pipeline["wall_s"], "s"),
        "dedup.shingles_s": (probe["shingles_s"], "s"),
        "dedup.lsh_candidates": (cands, "count"),
        "dedup.verified_pairs": (verified, "count"),
        "dedup.lsh_precision": (verified / cands if cands else 0.0, "ratio"),
        "dedup.cc_s": (probe["cc_s"], "s"),
        "dedup.cc_iterations": (pipeline["stats"].get("cc_rounds", 0), "count"),
        "dedup.keep_s": (tr.span_s("dedup.keep", [pipeline]), "s"),
        "sink.apply_s": (apply["wall_s"], "s"),
        "sink.jobs_per_batch": (apply.get("jobs", 0), "count"),
        "sink.docs_admitted": (admitted, "count"),
        "sink.docs_rejected": (apply["docs"] - admitted, "count"),
        "sink.state_bytes": (apply["state_bytes"], "bytes"),
        "sink.bytes_written_per_input_byte": (
            apply["state_bytes"] / apply["text_bytes"], "ratio"
        ),
        "sink.read_s": (median([o["wall_s"] for o in reads]), "s"),
    }
