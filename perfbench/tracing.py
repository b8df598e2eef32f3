"""Traced-run mode: spans, py4j round-trip counts and Spark job groups
recorded at module boundaries, from the benchmark's side only.

``Tracer.install`` wraps the public functions the workloads call (the
engine routes, the vector helpers the engine calls, PySpark's
``createDataFrame`` and ``DataFrameWriter.parquet``, and the
ann/pq/dedup operators) by replacing the module or class attribute
for the traced half of the run; the package itself is unchanged.
Calls that only build a lazy DataFrame get a ``.build`` span; the
workloads add spans around the ``collect`` or materialization.
Each wrapped call becomes a span with a parent span and the id of the
benchmark operation that caused it. Spans stay in memory and are
written out once, when the run ends.

py4j round trips are counted by command type on the gateway client;
py4j's memory-release commands (``m``) are left out because Python's
garbage collector decides when they are sent. Every operation runs in
its own Spark job group, read back through ``statusTracker`` after the
run for jobs, stages and tasks per operation.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j: collections.Counter = collections.Counter()
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._paused = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def py4j_total(self) -> int:
        return sum(self.py4j.values())

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op_id,
            "name": name,
            "py4j0": self.py4j_total(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_total() - rec.pop("py4j0")
            self._stack.pop()

    @contextlib.contextmanager
    def paused(self):
        """Leave the tracer's own JVM calls out of the py4j counts."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextlib.contextmanager
    def op(self, sc, kind: str):
        """One benchmark operation: a job group plus a root span."""
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        with self.paused():
            sc.setJobGroup(group, kind)
        self.ops.append({"id": op_id, "kind": kind, "group": group})
        self._op_id = op_id
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op_id = None
            with self.paused():
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # --------------------------------------------------------- wrappers
    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def count_py4j(self, gateway_client) -> None:
        original = gateway_client.send_command

        def send_command(command, *args, **kwargs):
            if not self._paused and not command.startswith("m"):
                self.py4j[command[:1]] += 1
            return original(command, *args, **kwargs)

        self._patches.append((gateway_client, "send_command", None))
        gateway_client.send_command = send_command

    def install(self) -> None:
        """Wrap the public calls of every layer the workloads reach."""
        from pyspark.sql import DataFrameWriter, SparkSession

        from nebuia_vector_db_spark import engine
        from nebuia_vector_db_spark.operators import ann, dedup, pq

        for attr in ("search", "multi_search"):
            self.wrap(engine.VectorEngine, attr, f"engine.{attr}.build")
        self.wrap(engine.VectorEngine, "store", "engine.store")
        self.wrap(engine.VectorEngine, "delete_collection", "engine.delete_collection")
        self.wrap(engine, "normalize_query", "vector.normalize_query")
        self.wrap(engine, "dot", "vector.dot")
        self.wrap(SparkSession, "createDataFrame", "spark.createDataFrame")
        self.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
        self.wrap(ann, "build_ivf_index", "ann.build_ivf_index")
        self.wrap(pq, "train_pq", "pq.train_pq")
        self.wrap(pq, "encode_pq", "pq.encode_pq.build")
        self.wrap(pq.PQIndex, "search", "pq.search.build")
        self.wrap(dedup, "minhash_signatures", "dedup.minhash_signatures.build")
        self.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs.build")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    # ------------------------------------------------------- read-back
    def job_stats(self, spark) -> None:
        """Jobs, stages, tasks and failed tasks per operation."""
        sc = spark.sparkContext
        with self.paused():
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty()
            except Exception:  # private API; fall back to a grace period
                time.sleep(1.0)
            tracker = sc.statusTracker()
            for op in self.ops:
                jobs = tracker.getJobIdsForGroup(op["group"])
                stages = set()
                for job in jobs:
                    info = tracker.getJobInfo(job)
                    if info is not None:
                        stages.update(info.stageIds)
                tasks = failed = ran = 0
                for stage in stages:
                    info = tracker.getStageInfo(stage)
                    if info is not None:  # None: skipped, reused shuffle output
                        ran += 1
                        tasks += info.numTasks
                        failed += info.numFailedTasks
                op.update(jobs=len(jobs), stages=ran, tasks=tasks, failed_tasks=failed)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def py4j_counts(self, name: str) -> list[int]:
        return [s["py4j"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        children: dict[int, list[dict]] = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {
                "id": s["id"],
                "parent": s["parent"],
                "op": s["op"],
                "name": s["name"],
                "start_ms": round((s["start"] - t0) * 1e3, 3),
                "dur_ms": round((s["end"] - s["start"]) * 1e3, 3),
                "self_ms": round(selfs[s["id"]] * 1e3, 3),
                "py4j": s["py4j"],
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(
                {"spans": spans, "ops": self.ops, "py4j_by_command": dict(self.py4j)},
                fh,
            )
