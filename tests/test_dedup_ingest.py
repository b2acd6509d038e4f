"""Streaming near-dup-gated ingest (streaming/dedup_ingest.py): exact
and near duplicates are rejected against everything already admitted,
first arrival wins, replays are no-ops, and the real streaming wiring
(file source, availableNow) produces the same admitted set as direct
batch application.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vcf_pg_loader_spark.streaming.dedup_ingest import NearDupIngestSink

BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu one two three four five six seven eight nine ten"
)
NEAR = BASE.rsplit(" ", 1)[0] + " eleven"  # one token differs -> J ~ 0.94
THIRD = (
    "genuinely distinct third document text mentioning vectors indexes "
    "bloom filters histograms quantiles retrieval scoring and nothing else "
    "that overlaps the other fixtures in any three token window at all"
)
OTHER = (
    "completely different content about query engines shuffles partitions "
    "and broadcast joins with nothing shared with the phonetic alphabet at "
    "all in any window of three consecutive tokens anywhere in this text"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# -- plain-Python walk of the sink's admission rules -------------------------
def _ref_shingles(text: str, n: int) -> frozenset:
    toks = text.split(" ")
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def _ref_bands(sh: frozenset, k: int, nb: int) -> set:
    """(band_id, band_key) rows of one shingle set, as lsh_band_table
    defines them: md5-derived 60-bit base hash per shingle, K arithmetic
    permutations, md5 of each band's "_"-joined values."""
    import hashlib

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
        (i, hashlib.md5("_".join(map(str, mh[i * r : (i + 1) * r])).encode()).hexdigest())
        for i in range(nb)
    }


def _ref_fp(text: str) -> str:
    import hashlib
    import re

    return hashlib.md5(re.sub(" +", " ", text.strip(" ")).encode()).hexdigest()


def _ref_near(a: frozenset, b: frozenset, t: float) -> bool:
    inter = len(a & b)
    return inter > 0 and round(inter / (len(a) + len(b) - inter), 6) >= t


def _ref_walk(sink, batches) -> tuple[set, dict]:
    """(admitted ids, {doc_id: band rows}) after applying `batches` in
    order: exact gate (min id per fingerprint, minus admitted
    fingerprints), then the near-dup gate against admitted docs (band
    collision + exact Jaccard), then the in-batch gate over the docs still
    alive (band collision + exact Jaccard + components, min id kept)."""
    n, k, nb, t = sink.ngram, sink.k, sink.bands, sink.threshold
    sh, bands, fps = {}, {}, set()
    for batch in batches:
        first: dict = {}
        for d, x in sorted(batch):
            first.setdefault(_ref_fp(x), d)
        texts = dict(batch)
        cand = sorted(d for f, d in first.items() if f not in fps)
        new_sh = {d: _ref_shingles(texts[d], n) for d in cand}
        new_bd = {d: _ref_bands(new_sh[d], k, nb) for d in cand}
        alive = [
            d
            for d in cand
            if not any(
                new_bd[d] & bands[o] and _ref_near(new_sh[d], sh[o], t)
                for o in bands
            )
        ]
        root = {d: d for d in alive}

        def find(x):
            while root[x] != x:
                x = root[x]
            return x

        for i, a in enumerate(alive):
            for b in alive[i + 1 :]:
                if new_bd[a] & new_bd[b] and _ref_near(new_sh[a], new_sh[b], t):
                    ra, rb = find(a), find(b)
                    root[max(ra, rb)] = min(ra, rb)
        for d in alive:
            if find(d) == d:
                sh[d], bands[d] = new_sh[d], new_bd[d]
                fps.add(_ref_fp(texts[d]))
    return set(bands), bands


def _seeded_batches(seed: int) -> list[list[tuple[int, str]]]:
    """Two batches of 40-token documents with planted duplicates: exact
    copies (re-spaced) and one-word edits of earlier documents, within a
    batch and across the two."""
    import random

    rng = random.Random(seed)
    vocab = [f"v{i:03d}" for i in range(300)]

    def doc():
        return [rng.choice(vocab) for _ in range(40)]

    def edit(toks):
        toks = list(toks)
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        return toks

    def respace(toks):
        return "  " + "  ".join(toks) + " "

    b0 = [doc() for _ in range(16)]
    b0_rows = [(i, " ".join(x)) for i, x in enumerate(b0)]
    b0_rows += [(100, respace(b0[0])), (101, " ".join(edit(b0[1])))]
    b0_rows += [(102, " ".join(edit(b0[2]))), (103, respace(b0[3]))]
    b1 = [doc() for _ in range(12)]
    b1_rows = [(200 + i, " ".join(x)) for i, x in enumerate(b1)]
    # across batches: copies and edits of batch-0 docs
    b1_rows += [(300 + i, respace(b0[4 + i])) for i in range(3)]
    b1_rows += [(310 + i, " ".join(edit(b0[7 + i]))) for i in range(4)]
    # within batch 1, including a lower id than the original
    b1_rows += [(199, " ".join(edit(b1[0]))), (320, respace(b1[1]))]
    b1_rows += [(321, " ".join(edit(b1[2]))), (322, " ".join(edit(edit(b1[3]))))]
    return [b0_rows, b1_rows]


class TestNearDupIngest:
    def test_gates_and_first_arrival_wins(self, spark, tmp_path):
        sink = NearDupIngestSink(str(tmp_path / "corpus"))

        # batch 0: BASE + an exact copy + a near-dup + one genuine doc
        b0 = _df(
            spark,
            [(1, BASE), (2, BASE), (3, NEAR), (10, OTHER)],
        )
        sink.apply_batch(b0, 0)
        got0 = {r.doc_id for r in sink.read_corpus(spark).collect()}
        assert got0 == {1, 10}  # min-id canonical; copy and near-dup gone

        # batch 1: another exact copy, another near-dup, one new doc
        b1 = _df(
            spark,
            [(21, BASE), (22, NEAR), (30, THIRD)],
        )
        sink.apply_batch(b1, 1)
        got1 = {r.doc_id for r in sink.read_corpus(spark).collect()}
        assert 21 not in got1  # exact dup of admitted doc 1
        assert 22 not in got1  # near-dup of admitted doc 1 (cross-batch!)
        assert got1 == {1, 10, 30}

    def test_replay_is_noop(self, spark, tmp_path):
        sink = NearDupIngestSink(str(tmp_path / "corpus"))
        sink.apply_batch(_df(spark, [(1, BASE), (10, OTHER)]), 0)
        n1 = sink.read_corpus(spark).count()
        sink.apply_batch(_df(spark, [(1, BASE), (10, OTHER)]), 0)  # replay
        assert sink.read_corpus(spark).count() == n1

    def test_marker_recovery_no_double_admit(self, spark, tmp_path):
        import os

        sink = NearDupIngestSink(str(tmp_path / "corpus"))
        sink.apply_batch(_df(spark, [(1, BASE)]), 0)
        sink.apply_batch(_df(spark, [(10, OTHER)]), 1)
        n = sink.read_corpus(spark).count()
        os.remove(sink._ledger_path(1))  # crash before the ledger write
        sink.apply_batch(_df(spark, [(10, OTHER)]), 1)  # replay
        assert sink.read_corpus(spark).count() == n
        assert sink.applied(1)

    def test_band_index_matches_corpus(self, spark, tmp_path):
        """The swapped-together invariant: every admitted doc has band
        rows, every band row's doc is in the corpus."""
        sink = NearDupIngestSink(str(tmp_path / "corpus"))
        sink.apply_batch(_df(spark, [(1, BASE), (10, OTHER)]), 0)
        sink.apply_batch(_df(spark, [(30, THIRD)]), 1)
        corpus = {r.doc_id for r in sink.read_corpus(spark).collect()}
        bands = {
            r.doc_id for r in sink._table(spark, "bands").collect()
        }
        assert corpus == bands

    def test_apply_leaves_no_persisted_rdds(self, spark, tmp_path):
        """The sink owns every persist it makes: empty state, a batch on
        existing state, a ledger replay and a marker recovery leave no
        persisted RDD behind.  The check is on RDD ids, not the count:
        Spark's context cleaner may free an unreachable RDD that an
        earlier test persisted at any moment, which lowers the count."""
        import os

        jsc = spark.sparkContext._jsc
        sink = NearDupIngestSink(str(tmp_path / "corpus"))

        def apply(rows, batch_id):
            before = set(jsc.getPersistentRDDs().keys())
            sink.apply_batch(_df(spark, rows), batch_id)
            assert set(jsc.getPersistentRDDs().keys()) <= before

        apply([(1, BASE), (2, BASE), (3, NEAR), (10, OTHER)], 0)  # empty
        apply([(21, NEAR), (30, THIRD)], 1)  # existing state
        apply([(21, NEAR), (30, THIRD)], 1)  # ledger replay
        os.remove(sink._ledger_path(1))
        apply([(21, NEAR), (30, THIRD)], 1)  # marker recovery
        assert sink.applied(1)
        assert {r.doc_id for r in sink.read_corpus(spark).collect()} == {1, 10, 30}

    def test_existing_gate_rejects_in_batch_min_id(self, spark, tmp_path):
        """The existing-index gate rejects doc 21, the min id of the
        in-batch near-dup pair (21, 22); doc 22 is not a near-dup of any
        admitted doc, so it is admitted instead of losing to 21."""
        toks = [f"w{i:02d}" for i in range(42)]
        first = " ".join(toks)
        near_first = toks[:-1] + ["omega"]
        near_near = list(near_first)
        near_near[0], near_near[20] = "zeta", "zetb"
        near_first, near_near = " ".join(near_first), " ".join(near_near)

        sink = NearDupIngestSink(str(tmp_path / "corpus"))
        n, k, nb, t = sink.ngram, sink.k, sink.bands, sink.threshold
        sh = {x: _ref_shingles(x, n) for x in (first, near_first, near_near)}
        bd = {x: _ref_bands(sh[x], k, nb) for x in sh}
        # preconditions: 21 ~ 1 and 21 ~ 22 collide and verify; 22 and 1
        # collide but do not verify
        assert bd[near_first] & bd[first] and _ref_near(sh[near_first], sh[first], t)
        assert bd[near_near] & bd[near_first]
        assert _ref_near(sh[near_near], sh[near_first], t)
        assert not _ref_near(sh[near_near], sh[first], t)

        batches = [[(1, first)], [(21, near_first), (22, near_near)]]
        for i, rows in enumerate(batches):
            sink.apply_batch(_df(spark, rows), i)
        got = {r.doc_id for r in sink.read_corpus(spark).collect()}
        assert got == {1, 22} == _ref_walk(sink, batches)[0]

    def test_seeded_two_batches_match_python_walk(self, spark, tmp_path):
        """Planted exact and near duplicates within and across two
        batches: the admitted ids and every admitted doc's band rows
        equal a plain-Python walk of the admission rules."""
        batches = _seeded_batches(11)
        sink = NearDupIngestSink(str(tmp_path / "corpus"))
        want_ids, want_bands = _ref_walk(sink, batches)
        # the plants exercise every gate: exact and near duplicates are
        # rejected in both batches, and batch 1 loses docs to batch 0
        all_ids = {d for b in batches for d, _x in b}
        assert len(all_ids - want_ids) >= 8
        assert {300, 301, 302} <= all_ids - want_ids
        assert any(310 + i not in want_ids for i in range(4))

        for i, rows in enumerate(batches):
            sink.apply_batch(_df(spark, rows), i)
        got_ids = {r.doc_id for r in sink.read_corpus(spark).collect()}
        got_bands: dict = {}
        for r in sink._table(spark, "bands").collect():
            got_bands.setdefault(r.doc_id, set()).add((r.band_id, r.band_key))
        assert got_ids == want_ids
        assert got_bands == {d: b for d, b in want_bands.items() if b}

    def test_streaming_wiring_equals_direct(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.events import read_events_stream

        src = str(tmp_path / "in")
        rows0 = [(1, BASE), (2, BASE), (10, OTHER)]
        rows1 = [(21, NEAR), (30, THIRD)]
        schema = "doc_id bigint, text string"
        # one file per micro-batch
        _df(spark, rows0).coalesce(1).write.mode("append").parquet(src)
        _df(spark, rows1).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(schema).parquet(src)
        )
        sink = NearDupIngestSink(str(tmp_path / "corpus_stream"))
        (
            stream.writeStream.foreachBatch(sink.apply_batch)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        got = {r.doc_id for r in sink.read_corpus(spark).collect()}
        # admitted set: dedup within/across batches, first arrival wins
        assert 2 not in got and 21 not in got
        assert {1, 10, 30} <= got


class TestBM25IndexSink:
    def test_maintained_index_equals_fresh_build(self, spark, tmp_path):
        from vcf_pg_loader_spark.sources.bm25_index import BM25Index
        from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

        rows = [
            (1, "spark shuffle join shuffle broadcast"),
            (2, "broadcast join window sort"),
            (3, "spark spark merge window"),
            (4, "completely different vocabulary here tonight"),
        ]
        docs = _df(spark, rows)
        sink = BM25IndexSink(str(tmp_path / "idx"))
        sink.apply_batch(docs.filter(F.col("doc_id") <= 2), 0)
        sink.apply_batch(docs.filter(F.col("doc_id") > 2), 1)

        fresh = BM25Index(spark, str(tmp_path / "fresh"))
        fresh.build(docs)
        terms = ["spark", "join", "window"]
        got = sorted(
            map(tuple, sink.index(spark).search(terms, k=4).collect())
        )
        want = sorted(map(tuple, fresh.search(terms, k=4).collect()))
        assert got == want and len(want) > 0

    def test_replay_and_resent_docs_are_noops(self, spark, tmp_path):
        from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

        docs = _df(spark, [(1, "alpha beta gamma"), (2, "beta gamma delta")])
        sink = BM25IndexSink(str(tmp_path / "idx"))
        sink.apply_batch(docs, 0)
        n0 = sink._table(spark, "postings").count()
        sink.apply_batch(docs, 0)  # replayed batch id
        assert sink._table(spark, "postings").count() == n0
        sink.apply_batch(docs, 1)  # same docs, NEW batch id: doc-level gate
        assert sink._table(spark, "postings").count() == n0

    def test_postings_stay_bucket_partitioned(self, spark, tmp_path):
        import glob as g

        from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

        docs = _df(spark, [(i, f"word{i} common text here") for i in range(12)])
        sink = BM25IndexSink(str(tmp_path / "idx"))
        sink.apply_batch(docs, 0)
        assert g.glob(str(tmp_path / "idx" / "postings" / "bucket=*"))


def _emb_df(spark, vids):
    """Deterministic 8-dim vectors: direction = vid % 12 one-hot-ish with
    a vid-dependent secondary component; vids congruent mod 12 within
    {0..47} share a direction EXACTLY (cosine 1.0) — planted semantic
    dups, including cross-batch ones."""
    rows = []
    for vid in vids:
        d = vid % 12
        vec = [0.0] * 8
        vec[d % 8] = 1.0
        vec[(d + 3) % 8] += 0.25 * (d % 4)
        scale = 1.0 + (vid // 12) * 0.5  # parallel, different magnitude
        rows.append((vid, [x * scale for x in vec]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


class TestSemDeDupIngestSink:
    TAU = 0.9

    def _sink(self, tmp_path):
        from vcf_pg_loader_spark.streaming.dedup_ingest import SemDeDupIngestSink

        return SemDeDupIngestSink(
            str(tmp_path / "semdedup"), k_centroids=4, n_iter=2, tau=self.TAU
        )

    def test_maintained_equals_batch_semdedup_on_union(self, spark, tmp_path):
        """Two batches through the sink == one batch SemDeDup over the
        union computed with the sink's (bootstrap) centroids: same
        cluster table, same keep set — including components MERGED by a
        batch-2 vector similar to two previously-separate batch-1 docs."""
        from vcf_pg_loader_spark.operators import dedup as D
        from vcf_pg_loader_spark.operators import similarity as S

        sink = self._sink(tmp_path)
        b0, b1 = list(range(0, 30)), list(range(30, 48))
        sink.apply_batch(_emb_df(spark, b0), 0)
        sink.apply_batch(_emb_df(spark, b1), 1)

        maintained_keep = {r.vec_id for r in sink.keep(spark).collect()}
        maintained_cc = {
            (r.node, r.comp) for r in sink.clusters(spark).collect()
        }

        union = _emb_df(spark, b0 + b1)
        cents = sink.centroids(spark)
        assigned = S.ivf_assign(union, cents, kernel="exact")
        pairs = sink._sem_pairs(assigned, assigned, same=True)
        cc = D.connected_components(pairs, "d1", "d2")
        want_cc = {(r.node, r.comp) for r in cc.collect()}
        want_keep = {
            r.vec_id
            for r in D.keep_canonical(
                union.select("vec_id"), cc, "vec_id"
            ).collect()
        }
        assert maintained_cc == want_cc and len(want_cc) > 0
        assert maintained_keep == want_keep
        # cross-batch dups actually exist and were dropped
        dropped_from_b1 = set(b1) - maintained_keep
        assert dropped_from_b1  # batch-2 vectors lost to batch-1 canonicals

    def test_replay_is_noop(self, spark, tmp_path):
        import os

        sink = self._sink(tmp_path)
        sink.apply_batch(_emb_df(spark, range(0, 30)), 0)
        b1 = _emb_df(spark, range(30, 48))
        sink.apply_batch(b1, 1)
        keep1 = {r.vec_id for r in sink.keep(spark).collect()}
        n1 = sink._table(spark, "vectors").count()

        # ledger replay short-circuit
        sink.apply_batch(b1, 1)
        assert sink._table(spark, "vectors").count() == n1

        # crash-after-swap-before-ledger: marker finishes the bookkeeping
        os.remove(sink._ledger_path(1))
        sink.apply_batch(b1, 1)
        assert sink._table(spark, "vectors").count() == n1
        assert {r.vec_id for r in sink.keep(spark).collect()} == keep1
        assert sink.applied(1)

    def test_vectors_partitioned_by_cell(self, spark, tmp_path):
        import glob as g

        sink = self._sink(tmp_path)
        sink.apply_batch(_emb_df(spark, range(0, 30)), 0)
        cells = g.glob(str(tmp_path / "semdedup" / "vectors" / "cid=*"))
        assert len(cells) >= 2  # landing-cell pruning maps to directories


class TestBM25SinkEmptyDocs:
    def test_empty_text_doc_counts_toward_idf(self, spark, tmp_path):
        """A zero-token doc must land in doclens (dl=0) so n_docs — and
        thus idf and scores — match a fresh BM25Index over the same
        corpus (the build-side advisory fix, mirrored in maintenance),
        and so the idempotence gate stops re-admitting it."""
        from vcf_pg_loader_spark.sources.bm25_index import BM25Index
        from vcf_pg_loader_spark.streaming.dedup_ingest import BM25IndexSink

        rows0 = [(1, "spark shuffle join shuffle"), (2, "")]
        rows1 = [(3, "broadcast join"), (4, "   "), (5, "spark window"), (2, "")]
        sink = BM25IndexSink(str(tmp_path / "idx"))
        sink.apply_batch(_df(spark, rows0), 0)
        sink.apply_batch(_df(spark, rows1), 1)

        fresh = BM25Index(spark, str(tmp_path / "fresh"))
        fresh.build(_df(spark, [(1, "spark shuffle join shuffle"), (2, ""),
                                (3, "broadcast join"), (4, "   "),
                                (5, "spark window")]))
        served = sorted(
            map(tuple, sink.index(spark).search(["spark", "join"], k=5).collect())
        )
        want = sorted(
            map(tuple, fresh.search(["spark", "join"], k=5).collect())
        )
        assert served == want and len(served) == 3
        # doc 2 ingested once, counted once
        dl = sink._table(spark, "doclens")
        assert dl.filter(F.col("doc_id") == 2).count() == 1
        stats = sink._table(spark, "stats").first()
        assert stats.n_docs == 5
