"""The three benchmark workloads.

Each workload drives the public API from one thread, closed loop (the
next operation starts when the previous one has returned), and checks
every result against an exact NumPy reference (``oracle.py``). Inputs
come only from the seed. A workload exposes:

- ``prepare()``: untimed, once: the benchmark's own input files;
- ``setup(rep)``: one complete set-up of the program over those
  inputs; the runner repeats it and reports the median, so work moved
  into set-up shows in ``setup_s``;
- ``warmup()``: untimed operations that let the JVM compile and the
  Python workers start before timing;
- ``block()``: one stratified block of operations (a fixed mix, drawn
  in seeded order), so every run measures the same mix;
- ``final_checks()`` and ``report()``.

Sizes are part of each workload's definition (``SIZES``); ``smoke``
sizes run every check in a few seconds for the benchmark's own tests.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

import oracle

SIZES = {
    "search_online": {
        "full": {"dim": 384, "chunks": [8192, 2048, 1024] + [512] * 5},
        "smoke": {"dim": 16, "chunks": [128, 64, 32] + [32] * 5},
    },
    "ingest_mixed": {
        "full": {"dim": 384, "docs_per_store": 50, "collections": 6},
        "smoke": {"dim": 16, "docs_per_store": 5, "collections": 6},
    },
    "batch_build": {
        "full": {
            "n_vec": 20_000, "dim": 64, "clusters": 256, "n_cells": 64,
            "n_docs": 4_000, "pq_sample": 5_000, "pq_queries": 10,
        },
        "smoke": {
            "n_vec": 2_000, "dim": 16, "clusters": 32, "n_cells": 8,
            "n_docs": 400, "pq_sample": 1_000, "pq_queries": 2,
        },
    },
}

CHUNKS_PER_DOC = 4
TOP_K = 10


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q / 100 * len(s))) - 1))]


class Workload:
    """Shared operation bookkeeping: latencies per op kind, the failure
    ledger and, in the traced phase, the tracer's spans and job groups."""

    name = ""
    MIN_BLOCKS = 1

    def __init__(self, spark, work_dir: str, seed: int, smoke: bool):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.size = SIZES[self.name]["smoke" if smoke else "full"]
        self.checker = oracle.Checker()
        self.tracer = None
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.ops = 0
        self.layer: dict[str, float] = {}

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self, kind: str, run, check, timed: bool = True) -> None:
        """Time ``run()``; ``check(result)`` (untimed) returns None or a
        failure reason. Exceptions count as failures, never propagate.
        Set-up and warm-up steps pass ``timed=False``: checked and
        counted, but not operations of the measured phase."""
        scope = (
            self.tracer.op(self.spark.sparkContext, kind)
            if self.tracer
            else contextlib.nullcontext()
        )
        t0 = time.perf_counter()
        try:
            with scope:
                result = run()
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            self.checker.record(kind, f"raised {type(exc).__name__}: {exc}"[:300])
            self.ops += timed
            return
        if timed:
            self.lat[kind].append(time.perf_counter() - t0)
            self.ops += 1
        try:
            reason = check(result)
        except Exception as exc:  # noqa: BLE001
            reason = f"check raised {type(exc).__name__}: {exc}"[:300]
        self.checker.record(kind, reason)

    def prepare(self) -> None:
        pass

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _dir_stats(root: str) -> tuple[int, dict[str, int], int]:
    """(total bytes, parquet files per collection, parquet files)."""
    total, per_coll, files = 0, defaultdict(int), 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            if n.endswith(".parquet"):
                files += 1
                per_coll[os.path.basename(dirpath)] += 1
    return total, per_coll, files


# ---------------------------------------------------------------- search
class SearchOnline(Workload):
    """Read-only search traffic over a preloaded, collection-partitioned
    warehouse: 80% ``search`` on one collection, 20% ``multi_search``
    over three distinct collections, top_k=10."""

    name = "search_online"
    MIN_BLOCKS = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        dim, sizes = self.size["dim"], self.size["chunks"]
        rng = self.rng(0)
        self.names = [f"c{i}" for i in range(len(sizes))]
        self.mats = [rng.standard_normal((n, dim)) for n in sizes]
        self.block_rng = self.rng(1)

    def _document_table(self) -> pa.Table:
        """All collections in DOCUMENT_SCHEMA shape, built columnar."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

        schema = to_arrow_schema(DOCUMENT_SCHEMA)
        chunk_type = schema.field("chunks").type.value_type
        md_type = schema.field("metadata").type
        tables = []
        for name, mat in zip(self.names, self.mats):
            n, dim = mat.shape
            n_docs = n // CHUNKS_PER_DOC
            doc = np.repeat(np.arange(n_docs), CHUNKS_PER_DOC)
            pos = np.tile(np.arange(1, CHUNKS_PER_DOC + 1), n_docs)
            emb = pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
                pa.array(mat.ravel()),
            )
            chunk_md = pa.StructArray.from_arrays(
                [pa.nulls(n, pa.string()),
                 pa.array([f"{name}-{d}.{p}" for d, p in zip(doc, pos)])],
                fields=list(md_type),
            )
            chunks = pa.StructArray.from_arrays(
                [pa.array([f"{name} chunk {d}.{p}" for d, p in zip(doc, pos)]),
                 emb, chunk_md, pa.array(np.zeros(n))],
                fields=list(chunk_type),
            )
            doc_md = pa.StructArray.from_arrays(
                [pa.nulls(n_docs, pa.string()),
                 pa.array([f"{name}-doc-{d}" for d in range(n_docs)])],
                fields=list(md_type),
            )
            tables.append(pa.Table.from_arrays(
                [pa.array([name] * n_docs),
                 pa.array([self.doc_id(name, d) for d in range(n_docs)]),
                 pa.array([f"{name} document {d}" for d in range(n_docs)]),
                 doc_md,
                 pa.ListArray.from_arrays(
                     pa.array(np.arange(0, n + 1, CHUNKS_PER_DOC, dtype=np.int32)),
                     chunks)],
                schema=schema,
            ))
        return pa.concat_tables(tables)

    @staticmethod
    def doc_id(name: str, d: int) -> str:
        # zero-padded, so string order is (collection, document) order
        return f"{name}-{d:07d}"

    def prepare(self) -> None:
        self.stage = self.fresh_dir("stage")
        papq.write_table(self._document_table(), os.path.join(self.stage, "part.parquet"))

    def setup(self, rep: int) -> None:
        from nebuia_vector_db_spark.engine import VectorEngine
        from nebuia_vector_db_spark.schemas import DOCUMENT_SCHEMA

        self.warehouse = self.fresh_dir(f"warehouse{rep}")
        self.engine = VectorEngine(self.spark, self.warehouse, dim=self.size["dim"])
        self.op(
            "setup.store_dataframe",
            lambda: self.engine.store_dataframe(
                self.spark.read.schema(DOCUMENT_SCHEMA).parquet(self.stage)
            ),
            lambda _: None,  # final_checks counts the rows
            timed=False,
        )
        if rep:
            shutil.rmtree(os.path.join(self.work_dir, f"warehouse{rep - 1}"))

    def warmup(self) -> None:
        rng = self.rng(2)
        for colls in [[c] for c in range(len(self.names))] + [[0, 1, 2], [3, 4, 5]]:
            self._search(rng, colls, timed=False)

    def _query(self, rng, colls: list[int]) -> np.ndarray:
        mat = self.mats[colls[rng.integers(len(colls))]]
        return mat[rng.integers(len(mat))] + 0.5 * rng.standard_normal(mat.shape[1])

    def _reference(self, colls: list[int], q: np.ndarray) -> list[tuple]:
        qn = oracle.normalize(q)
        sims = np.concatenate([oracle.seq_dot(self.mats[c], qn) for c in colls])
        coll_key = np.concatenate([np.full(len(self.mats[c]), c) for c in colls])
        row = np.concatenate([np.arange(len(self.mats[c])) for c in colls])
        idx = oracle.topk_order(sims, coll_key, row, k=TOP_K)
        return [
            ((self.doc_id(self.names[coll_key[i]], row[i] // CHUNKS_PER_DOC),
              int(row[i] % CHUNKS_PER_DOC) + 1, self.names[coll_key[i]]),
             float(sims[i]))
            for i in idx
        ]

    def _search(self, rng, colls: list[int], timed: bool = True) -> None:
        q = self._query(rng, colls)
        names = [self.names[c] for c in colls]
        kind = "search" if len(colls) == 1 else "multi_search"

        def run():
            if kind == "search":
                df = self.engine.search(names[0], q.tolist(), TOP_K)
            else:
                df = self.engine.multi_search(names, q.tolist(), TOP_K)
            with self.span(f"engine.{kind}.exec"):
                return df.collect()

        def check(rows):
            return self.check_search(colls, q, rows)

        self.op(kind if timed else f"warmup.{kind}", run, check, timed)

    def check_search(self, colls: list[int], q: np.ndarray, rows) -> str | None:
        got = [((r.doc_id, r.position, r.collection_name), r.similarity) for r in rows]
        return oracle.compare_topk(got, self._reference(colls, q))

    def block(self) -> None:
        """One collection-stratified block in seeded order: every
        collection searched once, plus two multi_searches over three
        distinct collections each, one of them including the largest
        collection, so that every block holds the same work."""
        rng = self.block_rng
        n = len(self.names)
        plan = [[c] for c in rng.permutation(n)]
        rest = (1 + rng.permutation(n - 1)).tolist()
        plan += [sorted([0] + rest[:2]), sorted(rest[2:5])]
        for i in rng.permutation(len(plan)):
            self._search(rng, plan[i])

    def final_checks(self) -> None:
        counts = dict(
            self.engine.chunks().groupBy("collection").count().collect()
        )
        for name, mat in zip(self.names, self.mats):
            got = counts.get(name, 0)
            self.checker.record(
                "row_count", None if got == len(mat) else f"{name}: {got} rows, want {len(mat)}"
            )
        _, per_coll, files = _dir_stats(self.warehouse)
        self.layer["storage.files_total"] = files
        self.layer["storage.files_per_collection_max"] = max(per_coll.values(), default=0)

    def report(self) -> dict:
        s, m = self.lat["search"], self.lat["multi_search"]
        return {
            "search_p50_ms": (statistics.median(s) * 1e3, "ms", len(s)),
            "search_p95_ms": (pct(s, 95) * 1e3, "ms", len(s)),
            "multi_search_p50_ms": (statistics.median(m) * 1e3, "ms", len(m)),
        }


# ---------------------------------------------------------------- ingest
class IngestMixed(Workload):
    """Writes beside reads, from an empty warehouse: rounds over six
    collections in seeded order; each store (50 documents x 4 chunks,
    reference-shaped dicts) is followed by a read-your-write search,
    and the last store of each round by ``delete_collection`` and a
    search that must come back empty."""

    name = "ingest_mixed"
    MIN_BLOCKS = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.names = [f"ing{i}" for i in range(self.size["collections"])]
        self.ledger: dict[str, list] = {n: [] for n in self.names}
        self.stores = 0
        self.round_rng = self.rng(1)
        self.store_bytes: list[int] = []

    def _documents(self, rng, tag: str) -> tuple[list[dict], list[tuple]]:
        """Reference wire-shaped documents plus their ledger rows
        ``(chunk_text, position, vector)``."""
        docs, rows = [], []
        dim = self.size["dim"]
        for d in range(self.size["docs_per_store"]):
            # unit-norm, as embedding models emit: the stored chunk is
            # then the unique top-1 for its own vector, which the
            # read-your-write check relies on
            vecs = rng.standard_normal((CHUNKS_PER_DOC, dim))
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            chunks = []
            for p, v in enumerate(vecs, start=1):
                text = f"{tag} doc {d} chunk {p}"
                chunks.append({
                    "text": text,
                    "embedding": {"vector": v.tolist()},
                    "metadata": {"source": {"doc": d}, "name": f"{tag}-{d}.{p}"},
                    "semantic_score": 0.5,
                })
                rows.append((text, p, v))
            docs.append({
                "text": f"{tag} document {d}",
                "metadata": {"source": {"batch": tag}, "name": f"{tag}-{d}"},
                "chunks": chunks,
            })
        return docs, rows

    def setup(self, rep: int) -> None:
        from nebuia_vector_db_spark.engine import VectorEngine

        self.warehouse = self.fresh_dir(f"warehouse{rep}")
        if rep:
            shutil.rmtree(os.path.join(self.work_dir, f"warehouse{rep - 1}"))
        self.engine = VectorEngine(self.spark, self.warehouse, dim=self.size["dim"])
        # the first store, search and delete of a session: what a
        # client pays before its first useful write
        docs, rows = self._documents(self.rng(2, rep), "warmup")
        text, _, v = rows[0]
        self.op("setup.store", lambda: self.engine.store("warmup", docs),
                lambda _: None, timed=False)
        self.op(
            "setup.search",
            lambda: self.engine.search("warmup", v.tolist(), 1).collect(),
            lambda got: None if [r.text for r in got] == [text]
            else f"read-your-write: top-1 {[r.text for r in got]!r}, want {text!r}",
            timed=False,
        )
        self.op("setup.delete", lambda: self.engine.delete_collection("warmup"),
                lambda _: None, timed=False)

    def warmup(self) -> None:
        pass  # set-up already stored, searched and deleted once

    def _reference(self, name: str, q: np.ndarray) -> list[tuple]:
        rows = self.ledger[name]
        if not rows:
            return []
        mat = np.stack([v for _, _, v in rows])
        sims = oracle.seq_dot(mat, oracle.normalize(q))
        # doc_id is minted by the engine, so ties would be ambiguous;
        # Gaussian vectors make an exact tie vanishingly unlikely
        idx = np.argsort(-sims, kind="stable")[:TOP_K]
        return [((rows[i][0], rows[i][1]), float(sims[i])) for i in idx]

    def _search(self, name: str, q: np.ndarray, expect_top: str | None) -> None:
        def run():
            df = self.engine.search(name, q.tolist(), TOP_K)
            with self.span("engine.search.exec"):
                return df.collect()

        def check(rows):
            got = [((r.text, r.position), r.similarity) for r in rows]
            if expect_top is not None and (not got or got[0][0][0] != expect_top):
                return f"read-your-write: top-1 {got[:1]!r}, want {expect_top!r}"
            return oracle.compare_topk(got, self._reference(name, q))

        self.op("search", run, check)

    def _store(self, name: str) -> None:
        tag = f"s{self.stores}"
        docs, rows = self._documents(self.rng(3, self.stores), tag)
        self.stores += 1
        before = _dir_stats(self.warehouse)[0] if self.tracer else 0

        def check(out):
            if not isinstance(out, dict) or "operation_id" not in out:
                return f"store returned {out!r}"
            return None

        self.op("store", lambda: self.engine.store(name, docs), check)
        self.ledger[name].extend(rows)
        if self.tracer:
            self.store_bytes.append(_dir_stats(self.warehouse)[0] - before)
        # read your write: search with a chunk of the batch just stored
        text, _, v = rows[self.rng(4, self.stores).integers(len(rows))]
        self._search(name, v, expect_top=text)

    def _delete(self, name: str) -> None:
        self.op(
            "delete",
            lambda: self.engine.delete_collection(name),
            lambda out: None if out.get("deleted") else f"delete returned {out!r}",
        )
        self.ledger[name] = []
        q = self.rng(5, self.stores).standard_normal(self.size["dim"])
        self._search(name, q, expect_top=None)

    def block(self) -> None:
        """One round: every collection stored into once, in seeded
        order; the round's last collection is then deleted."""
        order = [self.names[i] for i in self.round_rng.permutation(len(self.names))]
        for name in order:
            self._store(name)
        self._delete(order[-1])

    def final_checks(self) -> None:
        counts = dict(
            self.engine.chunks().groupBy("collection").count().collect()
        )
        for name in self.names:
            want, got = len(self.ledger[name]), counts.get(name, 0)
            self.checker.record(
                "row_count", None if got == want else f"{name}: {got} rows, want {want}"
            )
        total, per_coll, files = _dir_stats(self.warehouse)
        live = sum(
            len(t.encode()) + 8 * len(v) for rows in self.ledger.values() for t, _, v in rows
        )
        self.stored_ratio = total / max(live, 1)
        self.layer["storage.files_total"] = files
        self.layer["storage.files_per_collection_max"] = max(per_coll.values(), default=0)
        if self.store_bytes:
            self.layer["storage.bytes_per_store"] = statistics.mean(self.store_bytes)

    def report(self) -> dict:
        s, st = self.lat["search"], self.lat["store"]
        return {
            "search_p50_ms": (statistics.median(s) * 1e3, "ms", len(s)),
            "store_p50_ms": (statistics.median(st) * 1e3, "ms", len(st)),
            "store_chunks_per_s": (
                len(st) * self.size["docs_per_store"] * CHUNKS_PER_DOC / sum(st),
                "chunks/s", len(st),
            ),
            "stored_bytes_per_user_byte": (self.stored_ratio, "ratio", 1),
        }


# ----------------------------------------------------------------- batch
class BatchBuild(Workload):
    """Offline index and dedup builds over inputs written once in
    set-up: per cycle an MLlib IVF build, an IVF probe of held-out
    queries, IVF-PQ train + encode, PQ searches and a MinHash-LSH
    near-duplicate join."""

    name = "batch_build"
    N_CELLS_PROBED = 8
    WORDS = 40
    VOCAB = 50_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        sz = self.size
        rng = self.rng(0)
        dim, c = sz["dim"], sz["clusters"]
        centers = rng.standard_normal((c, dim))
        # decaying per-dimension noise: a spectrum like real embeddings,
        # which gives PQ codes resolution inside a cluster
        scale = np.exp(-np.arange(dim) / (dim / 4))
        self.x = centers[rng.integers(0, c, sz["n_vec"])] + rng.standard_normal(
            (sz["n_vec"], dim)) * scale
        self.queries = centers[rng.integers(0, c, 32)] + rng.standard_normal((32, dim)) * scale
        self.sample = self.x[rng.choice(sz["n_vec"], sz["pq_sample"], replace=False)]
        # documents: random 40-word texts; each planted pair differs in
        # one middle word (Jaccard 35/41 on 3-shingles)
        words = rng.integers(0, self.VOCAB, (sz["n_docs"], self.WORDS))
        ids = rng.permutation(sz["n_docs"])
        n_pairs = sz["n_docs"] // 40
        for p in range(n_pairs):
            a, b = ids[2 * p], ids[2 * p + 1]
            words[b] = words[a]
            words[b, self.WORDS // 2] = (words[a, self.WORDS // 2] + 1) % self.VOCAB
        self.planted = {tuple(sorted((int(ids[2 * p]), int(ids[2 * p + 1])))) for p in range(n_pairs)}
        self.texts = [" ".join(f"w{w}" for w in row) for row in words]
        self.exact_topk = [self._exact(q) for q in self.queries]
        self.pq_recall: list[float] = []

    def _exact(self, q: np.ndarray) -> list[int]:
        sims = self.x @ oracle.normalize(q)
        return oracle.topk_order(sims, np.arange(len(sims)), k=TOP_K).tolist()

    def prepare(self) -> None:
        d = self.inputs = self.fresh_dir("inputs")
        papq.write_table(pa.table({
            "vec_id": pa.array(np.arange(len(self.x))),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, self.x.size + 1, self.x.shape[1], dtype=np.int32)),
                pa.array(self.x.ravel())),
        }), os.path.join(d, "vectors.parquet"))
        papq.write_table(pa.table({
            "doc_id": pa.array(np.arange(len(self.texts))),
            "text": pa.array(self.texts),
        }), os.path.join(d, "docs.parquet"))

    def setup(self, rep: int) -> None:
        want = (len(self.x), len(self.texts))

        def load():
            if rep:
                self.vecs.unpersist()
                self.docs.unpersist()
            self.vecs = self.spark.read.parquet(os.path.join(self.inputs, "vectors.parquet")).cache()
            self.docs = self.spark.read.parquet(os.path.join(self.inputs, "docs.parquet")).cache()
            return self.vecs.count(), self.docs.count()

        self.op("setup.load", load,
                lambda got: None if got == want else f"loaded {got} rows, want {want}",
                timed=False)

    def warmup(self) -> None:
        """None: a build job runs once in its session, so the measured
        cycle pays the session's first MLlib fit, Arrow kernels and
        shuffle join, as such a job does."""

    def block(self) -> None:
        from nebuia_vector_db_spark.operators import ann, dedup, pq
        from nebuia_vector_db_spark.operators.textvec import release_cached_relations

        sz = self.size
        n = sz["n_vec"]
        state: dict = {}

        def ivf_build():
            idx = ann.build_ivf_index(self.vecs, n_cells=sz["n_cells"], max_iter=10)
            idx.assigned = idx.assigned.cache()
            state["idx"] = idx
            return idx.assigned.count()

        self.op("ivf_build", ivf_build, lambda rows: self._check_ivf_build(state["idx"], rows))
        idx = state.get("idx")
        if idx is None:
            return

        def ivf_search():
            qdf = self.spark.createDataFrame(
                [(i, q.tolist()) for i, q in enumerate(self.queries)],
                "query_id long, query_vec array<double>",
            )
            return idx.search_batch(
                qdf, TOP_K, self.N_CELLS_PROBED, tie_cols=["vec_id"]
            ).select("query_id", "vec_id", "similarity").collect()

        self.op("ivf_search", ivf_search,
                lambda rows: self.check_ivf_search(idx.centroids, self.cells, rows))

        def pq_build():
            books = pq.train_pq(
                idx.assigned, m=8, k=256, sample=sz["pq_sample"],
                cell_centroids=idx.centroids, sample_matrix=self.sample,
            )
            with self.span("pq.encode_pq"):
                enc = pq.encode_pq(idx.assigned, books, cell_centroids=idx.centroids)
                enc.codes = enc.codes.cache()
                state["pq"] = enc
                return enc.codes.count()

        self.op("pq_build", pq_build,
                lambda rows: None if rows == n else f"encode_pq returned {rows} rows, want {n}")
        enc = state.get("pq")
        if enc is not None:
            codes = enc.codes.toPandas()
            for qi in range(sz["pq_queries"]):
                q = self.queries[qi]

                def pq_search(q=q):
                    return enc.search(self.vecs, q.tolist(), TOP_K, tie_cols=["vec_id"]).collect()

                self.op("pq_search", pq_search,
                        lambda rows, q=q, qi=qi: self._check_pq(enc, codes, q, qi, rows))
            enc.codes.unpersist()

        def minhash():
            return dedup.minhash_lsh_pairs(self.docs, threshold=0.8).collect()

        self.op("dedup", minhash, self.check_pairs)
        release_cached_relations()
        idx.assigned.unpersist()

    def signature_probe(self) -> None:
        """Traced runs only: materialize the MinHash signatures alone,
        the part of the dedup build the pair join hides."""
        from nebuia_vector_db_spark.operators import dedup

        with self.span("dedup.minhash_signatures"):
            dedup.minhash_signatures(self.docs).write.format("noop").mode("overwrite").save()

    def _check_ivf_build(self, idx, rows) -> str | None:
        n = self.size["n_vec"]
        pdf = idx.assigned.select("vec_id", "ivf_cell").toPandas()
        self.cells = np.full(n, -1)
        self.cells[pdf["vec_id"].to_numpy()] = pdf["ivf_cell"].to_numpy()
        if rows != n:
            return f"{rows} rows assigned, want {n}"
        return self.check_assignment(idx.centroids, self.cells)

    def check_assignment(self, centroids: np.ndarray, cells: np.ndarray) -> str | None:
        """Every vector sits in the cell of its nearest centroid (L2),
        the cell KMeans' transform defines."""
        if cells.min() < 0 or cells.max() >= len(centroids):
            return f"cell ids span {cells.min()}..{cells.max()}, want 0..{len(centroids) - 1}"
        xx, cc = (self.x**2).sum(1), (centroids**2).sum(1)
        d2 = xx[:, None] - 2 * self.x @ centroids.T + cc[None, :]
        gap = d2[np.arange(len(cells)), cells] - d2.min(1)
        bad = np.flatnonzero(gap > 1e-9 * (xx + cc[cells]))
        if bad.size:
            return (f"{bad.size} vectors outside their nearest cell, e.g. "
                    f"vec_id {bad[0]} in cell {cells[bad[0]]}")
        return None

    def ivf_reference(self, centroids: np.ndarray, cells: np.ndarray,
                      q: np.ndarray) -> tuple[np.ndarray, list[tuple]]:
        """(probed cells, exact top-k over their vectors): the index
        probes the ``N_CELLS_PROBED`` cells whose centroids have the
        largest dot(q/||q||, centroid) and scores their vectors like
        the engine, ties by ``vec_id``."""
        qn = oracle.normalize(q)
        probed = np.argsort(-(centroids @ qn), kind="stable")[: self.N_CELLS_PROBED]
        cand = np.flatnonzero(np.isin(cells, probed))  # row index == vec_id
        sims = oracle.seq_dot(self.x[cand], qn)
        return probed, [(int(cand[i]), float(sims[i]))
                        for i in oracle.topk_order(sims, cand, k=TOP_K)]

    def check_ivf_search(self, centroids: np.ndarray, cells: np.ndarray, rows) -> str | None:
        """Each query's rows equal the exact top-k over its probed
        cells; recall@k against the exact top-k over all vectors meets
        the floor."""
        got = defaultdict(list)
        for r in rows:
            got[r.query_id].append((r.vec_id, r.similarity))
        probed_all, recall, reason = set(), [], None
        for qi, q in enumerate(self.queries):
            probed, want = self.ivf_reference(centroids, cells, q)
            probed_all.update(probed.tolist())
            mine = sorted(got.get(qi, []), key=lambda t: (-t[1], t[0]))
            diff = oracle.compare_topk(mine, want)
            if diff and reason is None:
                reason = f"query {qi}: {diff}"
            recall.append(len({v for v, _ in mine} & set(self.exact_topk[qi])) / TOP_K)
        self.layer["ann.recall_at_10_nprobe8"] = statistics.mean(recall)
        self.layer["ann.cells_probed_frac"] = len(probed_all) / len(centroids)
        # twice what probing cells at random finds: the rows are checked
        # exactly above, so the floor only catches an index that routes
        # no better than chance; the recall itself is reported
        floor = min(1.0, 2 * self.N_CELLS_PROBED / len(centroids))
        if reason is None and statistics.mean(recall) < floor:
            reason = f"IVF recall@10 {statistics.mean(recall):.3f} < floor {floor:.3f}"
        return reason

    def _check_pq(self, enc, codes, q, qi, rows) -> str | None:
        """ADC reference over the collected codes: cell term plus one
        table lookup per subspace, in the kernel's accumulation order."""
        qn = oracle.normalize(q)
        books = enc.codebooks
        m, _, dsub = books.shape
        table = np.stack([books[s] @ qn[s * dsub:(s + 1) * dsub] for s in range(m)])
        code_mat = np.stack(codes["codes"].to_numpy()).astype(np.int64)
        score = np.zeros(len(code_mat))
        for s in range(m):
            score += table[s][code_mat[:, s]]
        score += (enc.cell_centroids @ qn)[codes["ivf_cell"].to_numpy().astype(np.int64)]
        ids = codes["vec_id"].to_numpy()
        idx = oracle.topk_order(score, ids, k=TOP_K)
        want = [(int(ids[i]), float(score[i])) for i in idx]
        got = [(r.vec_id, r.adc_score) for r in rows]
        self.pq_recall.append(len({g for g, _ in got} & set(self.exact_topk[qi])) / TOP_K)
        return oracle.compare_topk(got, want)

    def check_pairs(self, rows) -> str | None:
        got = {tuple(sorted((r.doc_a, r.doc_b))): r.jaccard for r in rows}
        self.layer["dedup.pairs_returned"] = len(got)
        self.layer["dedup.planted_pairs_recall"] = len(self.planted & got.keys()) / max(len(self.planted), 1)
        missing = self.planted - got.keys()
        if missing:
            return f"{len(missing)} planted pairs missing, e.g. {sorted(missing)[:3]}"
        for (a, b), j in got.items():
            exact = oracle.jaccard(oracle.shingle_set(self.texts[a]), oracle.shingle_set(self.texts[b]))
            if exact < 0.8 or abs(exact - j) > 1e-12:
                return f"pair {(a, b)}: jaccard {j}, exact {exact}"
        return None

    def final_checks(self) -> None:
        pass  # every build is checked inside its cycle

    def report(self) -> dict:
        lat = self.lat
        pq_build = lat["pq_build"]
        return {
            "search_p50_ms": (statistics.median(lat["pq_search"]) * 1e3, "ms", len(lat["pq_search"])),
            "ivf_build_s": (statistics.median(lat["ivf_build"]), "s", len(lat["ivf_build"])),
            "pq_build_s": (statistics.median(pq_build), "s", len(pq_build)),
            "dedup_s": (statistics.median(lat["dedup"]), "s", len(lat["dedup"])),
            "pq_recall_at_10": (statistics.mean(self.pq_recall), "ratio", len(self.pq_recall)),
        }


WORKLOADS = {w.name: w for w in (SearchOnline, IngestMixed, BatchBuild)}
