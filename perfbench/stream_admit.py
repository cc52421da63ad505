"""``stream_admit``: a closed-loop drain of ``run_near_dup_stream``.

One client delivers one JSONL file of ~500 arrivals into the inbox and
waits for ``run_near_dup_stream(available_now=True)`` to admit it, one
micro-batch per file. The warm-up admits file 0 and clusters the
tables, so the timed batches scan a non-empty, compacted band index.
Compaction runs every ``COMPACT_EVERY`` batches; the loop runs whole
rounds of that many batches, so every run has the same share of
compacting batches.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

from sentinel_spark.sources.store import ParquetTable
from sentinel_spark.streaming.near_dup_stream import run_near_dup_stream

import inputs

# Compaction every 2 batches instead of the default 8: at ~5 s per
# batch, a run that fits the benchmark's time budget drains 2 files,
# and the write side (compaction) has to fire in every timed round.
COMPACT_EVERY = 2
MAX_FILES = 48


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


class StoreProbe:
    """Spans and counts around ``ParquetTable``'s public read, merge and
    compaction calls, installed on the class for a traced run only (the
    stream opens its tables inside its micro-batch function)."""

    METHODS = ("read_pruned", "merge_insert_not_matched", "compact")

    def __init__(self, tracer):
        self.tracer = tracer
        self.saved = {}
        self.counts = {"scan_files": 0, "manifest_files": 0, "bytes_written": 0,
                       "commits": 0, "compact_ms": 0.0}

    def __enter__(self):
        for m in self.METHODS:
            self.saved[m] = getattr(ParquetTable, m)
            setattr(ParquetTable, m, self._wrap(m, self.saved[m]))
        return self

    def __exit__(self, *exc):
        for m, fn in self.saved.items():
            setattr(ParquetTable, m, fn)

    def _wrap(self, name, fn):
        probe = self

        def wrapped(table, *args, **kwargs):
            with probe.tracer.span(f"sources.store.{name}", layer="sources.store"):
                if name == "read_pruned":
                    df = fn(table, *args, **kwargs)
                    probe.counts["scan_files"] += len(df.inputFiles())
                    probe.counts["manifest_files"] += table.report()["n_files"]
                    return df
                before, v0 = _files(table.path), table.report()["version"] if table.exists() else -1
                t0 = time.perf_counter()
                out = fn(table, *args, **kwargs)
                if name == "compact":
                    probe.counts["compact_ms"] += (time.perf_counter() - t0) * 1000.0
                after = _files(table.path)
                probe.counts["bytes_written"] += sum(s for p, s in after.items() if p not in before)
                probe.counts["commits"] += table.report()["version"] != v0
                return out

        return wrapped


class StreamAdmit:
    round_len = COMPACT_EVERY
    min_rounds = 1  # one compacting and one plain batch per run

    def __init__(self, seed: int, work_dir: str):
        self.dir = work_dir
        self.arrivals = inputs.make_arrivals(seed, MAX_FILES)
        self.input_bytes = 0
        self.n_files = 0  # files admitted into the current corpus
        self.probe = None
        self.store_report: dict = {}

    def _tables(self, spark):
        c = self.corpus
        return (ParquetTable(spark, f"{c}/docs"),
                ParquetTable(spark, f"{c}/index", bloom_stats_cols=["band_key"]),
                ParquetTable(spark, f"{c}/rejects"))

    def _admit(self, spark, tracer, name: str, request: str) -> dict:
        """Deliver one file and drain it; returns the batch's progress."""
        with tracer.span("request", layer="streaming.near_dup_stream", request=request):
            with tracer.span("action"):
                q = run_near_dup_stream(spark, self.inbox, self.corpus, compact_every=COMPACT_EVERY,
                                        max_files_per_trigger=1)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != 1:
            raise RuntimeError(f"{name}: expected one micro-batch, got {len(progress)}")
        return progress[0]

    def _deliver(self, i: int, name: str | None = None) -> None:
        self.input_bytes += self.arrivals.write_file(i, os.path.join(self.inbox, name or f"f{i:04d}.jsonl"))

    def prepare(self, spark, tracer, i: int) -> None:
        """A fresh inbox and corpus location with file 0 delivered."""
        if i:
            shutil.rmtree(f"{self.dir}/inbox{i - 1}")
        self.corpus, self.inbox = f"{self.dir}/corpus{i}", f"{self.dir}/inbox{i}"
        os.makedirs(self.inbox)
        self.input_bytes, self.n_files = 0, 1
        self._deliver(0)

    def warm_up(self, spark, tracer) -> None:
        """Admit file 0, then compact the docs table and band_key-cluster
        the index, as the stream's own maintenance does."""
        self._admit(spark, tracer, "f0000", "warmup")
        docs_t, index_t, _ = self._tables(spark)
        with tracer.span("request", layer="sources.store", request="warmup.compact"):
            docs_t.compact()
            index_t.compact(cluster_by=["band_key"])

    def run(self, spark, tracer, seconds: float, min_ops: int) -> list[dict]:
        ops = []
        t_start = time.perf_counter()
        while len(ops) < min_ops or time.perf_counter() - t_start < seconds:
            # store counts cover the first round only, so they repeat exactly
            first = tracer.enabled and not ops
            with StoreProbe(tracer) if first else nullcontext() as probe:
                self.probe = probe or self.probe
                for _ in range(COMPACT_EVERY):
                    ops.append(self._batch(spark, tracer, f"b{len(ops)}"))
        docs_t, index_t, rejects_t = self._tables(spark)
        total = sum(t.report()["total_bytes"] for t in (docs_t, index_t, rejects_t))
        self.store_report = {
            "bytes_per_input_byte": total / self.input_bytes,
            "index_avg_overlap": index_t.report(columns=["band_key"])["columns"]["band_key"]["avg_overlap"],
        }
        return ops

    def _batch(self, spark, tracer, request: str) -> dict:
        f = self.n_files
        if f >= MAX_FILES:
            raise RuntimeError(f"arrival backlog of {MAX_FILES} files exhausted")
        self._deliver(f)
        t0 = time.perf_counter()
        prog = self._admit(spark, tracer, f"f{f:04d}", request)
        ms = (time.perf_counter() - t0) * 1000.0
        self.n_files += 1
        d = prog["durationMs"]
        kind = "compacting" if (f + 1) % COMPACT_EVERY == 0 else "plain"  # batch id == f
        return {"ms": ms, "items": len(self.arrivals.files[f]), "file": f, "kind": kind,
                "trigger_ms": d["triggerExecution"], "add_batch_ms": d["addBatch"],
                "planning_ms": d["queryPlanning"]}

    def latency_ms(self, op: dict) -> float:
        # the batch latency a stream user sees: triggerExecution
        return op["trigger_ms"]

    def check(self, spark, ops: list[dict]) -> list[bool]:
        """Per timed batch: its arrivals are split between admitted and
        rejected (each exactly once) and its exact copies are rejected;
        replaying the last file inserts nothing (charged to the last
        batch)."""
        docs_t, index_t, rejects_t = self._tables(spark)
        admitted = [r[0] for r in docs_t.read().select("doc_id").collect()]
        rejected = [r[0] for r in rejects_t.read().select("doc_id").collect()]
        adm, rej = set(admitted), set(rejected)
        dup_rows = len(admitted) != len(adm) or len(rejected) != len(rej)
        ok = []
        for op in ops:
            ids = {d for d, _ in self.arrivals.files[op["file"]]}
            good = (not dup_rows and ids <= adm | rej and not ids & adm & rej
                    and not (ids & self.arrivals.exact_copies) & adm)
            ok.append(good)
        counts = [t.read().count() for t in (docs_t, index_t, rejects_t)]
        self._deliver(ops[-1]["file"], "replay.jsonl")
        run_near_dup_stream(spark, self.inbox, self.corpus, compact_every=COMPACT_EVERY,
                            max_files_per_trigger=1)
        ok[-1] = ok[-1] and counts == [t.read().count() for t in (docs_t, index_t, rejects_t)]
        n = sum(len(self.arrivals.files[op["file"]]) for op in ops)
        self.reject_frac = sum(len({d for d, _ in self.arrivals.files[op["file"]]} & rej) for op in ops) / n
        return ok

    def layer_metrics(self, counted_ops: list[dict], tot, per_layer) -> dict:
        n = max(1, len(counted_ops))
        c = self.probe.counts
        return {
            "spark.plan_ms": sum(o["planning_ms"] for o in counted_ops) / n,
            "streaming.near_dup_stream.add_batch_ms": sum(o["add_batch_ms"] for o in counted_ops) / n,
            "streaming.near_dup_stream.trigger_overhead_ms":
                sum(o["trigger_ms"] - o["add_batch_ms"] for o in counted_ops) / n,
            "streaming.near_dup_stream.jobs_per_batch": tot["jobs"] / n,
            "streaming.near_dup_stream.reject_frac": self.reject_frac,
            "sources.store.jobs": per_layer["sources.store"]["jobs"] / n,
            "sources.store.executor_cpu_ms": per_layer["sources.store"]["executor_cpu_ms"] / n,
            "sources.store.scan_files": c["scan_files"] / n,
            "sources.store.manifest_files": c["manifest_files"] / n,
            "sources.store.scan_keep_frac": c["scan_files"] / max(1, c["manifest_files"]),
            "sources.store.bytes_written": c["bytes_written"] / n,
            "sources.store.commits": c["commits"] / n,
            "sources.store.compact_ms": c["compact_ms"] / n,
            "sources.store.index_avg_overlap": self.store_report["index_avg_overlap"],
            "sources.store.bytes_per_input_byte": self.store_report["bytes_per_input_byte"],
        }
