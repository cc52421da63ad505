"""``corpus_build``: the README corpus recipe, one build per operation.

Each operation runs ``build_training_corpus`` over the seeded corpus
(quality → exact → near-dup → decontam against the operation's eval
split → budgeted mixture → redact → shard export) and collects
its funnel and shard manifest, as a user reads them. Every operation
decontaminates against its own seed-drawn eval split, so no two builds
of a run see the same inputs. The export is checked after the timed
region.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from sentinel_spark.cache import release
from sentinel_spark.pipelines import build_training_corpus
from sentinel_spark.sources.export import validate_export
from sentinel_spark.sources.tables import load_table

import inputs
from tracing import CallProbe

MAX_BUILDS = 8  # eval splits: one for the warm-up, the rest for timed builds
# src0 is capped below its cleaned size, so the mixture stage cuts it
BUDGETS = {"src0": 4_000, "src1": 10**9, "src2": 10**9, "src3": 10**9}
# concat export: a handful of shards. The recipe's default pack mode
# bins every hash bucket separately (~200 shards at this size) and
# costs as much again as the rest of the build.
SHARD_TOKENS = 8192
STAGES = ("in", "quality", "exact", "neardup", "clean", "final")
# the functions build_training_corpus calls in each layer it uses; a
# traced run spans them (CallProbe)
CALLS = {
    "functions.text": ("fingerprint", "gopher_pass", "token_count"),
    "functions.dedup": ("exact_dup_groups", "minhash_sig_array", "minhash_pairs_from_sigs",
                        "verify_pairs_jaccard"),
    "functions.cluster": ("dedup_clusters",),
    "functions.decontam": ("ngram_md5_array", "contamination_from_ngram_md5"),
    "functions.sampling": ("mixture_sample",),
    "functions.pii": ("redact_pii",),
    "sources.export": ("export_training_shards",),
}
# the layers whose jobs, CPU and shuffle writes the traced run reports
LAYERS = ("pipelines", *CALLS)


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, hidden and marker files excluded."""
    n = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class CorpusBuild:
    round_len = 1
    min_rounds = 1

    def __init__(self, seed: int, work_dir: str):
        self.dir = f"{work_dir}/corpus"
        self.paths = inputs.write_corpus(seed, self.dir, MAX_BUILDS)
        self.n_docs = inputs.CORPUS_BASE * inputs.CORPUS_REPLICAS
        self.done: list[dict] = []

    def prepare(self, spark, tracer, i: int) -> None:
        """Open the corpus and the eval splits."""
        with tracer.span("request", layer="sources.tables", request=f"prepare{i}"):
            with tracer.span("build"):
                self.docs = load_table(spark, self.dir, "documents")
                self.evals = spark.read.parquet(self.paths["evals"])

    def warm_up(self, spark, tracer) -> None:
        self._build(spark, tracer, 0, "warmup")

    def _build(self, spark, tracer, split: int, request: str) -> dict:
        out = f"{self.dir}/out{split}"
        evals = self.evals.where(F.col("split") == split).select("doc_id", "text")
        with tracer.span("request", layer="pipelines", request=request):
            with tracer.span("build"):
                res = build_training_corpus(
                    self.docs, evals, out, source_col="source", budgets=BUDGETS, redact=True,
                    export_mode="concat", shard_tokens=SHARD_TOKENS)
            with tracer.span("action"):
                funnel = res.funnel.collect()[0].asDict()
                manifest = [r.asDict() for r in res.export.manifest.collect()]
            release(res.selected)
            release(res.funnel)
        return {"out": out, "funnel": funnel, "manifest": manifest}

    def run(self, spark, tracer, seconds: float, min_ops: int) -> list[dict]:
        ops = []
        t_start = time.perf_counter()
        with CallProbe(tracer, CALLS) if tracer.enabled else nullcontext():
            while len(ops) < min_ops or time.perf_counter() - t_start < seconds:
                split = len(ops) + 1
                if split >= MAX_BUILDS:
                    raise RuntimeError(f"only {MAX_BUILDS - 1} eval splits for timed builds")
                t0 = time.perf_counter()
                res = self._build(spark, tracer, split, f"b{len(ops)}")
                ops.append({"ms": (time.perf_counter() - t0) * 1000.0, "items": self.n_docs,
                            "kind": "build", "funnel": res["funnel"]})
                self.done.append(res)
        return ops

    def latency_ms(self, op: dict) -> float:
        return op["ms"]

    def check(self, spark, ops: list[dict]) -> list[bool]:
        """Per build: ``validate_export`` passes, the funnel never grows
        from stage to stage, and the manifest's docs and tokens equal the
        funnel's final counts."""
        ok = []
        for res in self.done:
            f, man = res["funnel"], res["manifest"]
            report = validate_export(spark, res["out"], token_col="n_tok", order_col="doc_id").collect()
            docs = [f[f"docs_{s}"] for s in STAGES]
            toks = [f[f"tokens_{s}"] for s in STAGES]
            ok.append(bool(report) and all(r.ok for r in report)
                      and all(a >= b for a, b in zip(docs, docs[1:]))
                      and all(a >= b for a, b in zip(toks, toks[1:]))
                      and docs[0] == self.n_docs and docs[-1] > 0
                      and sum(m["n_docs"] for m in man) == f["docs_final"]
                      and sum(m["n_tokens"] for m in man) == f["tokens_final"])
        return ok

    def layer_metrics(self, counted_ops: list[dict], tot, per_layer) -> dict:
        n = max(1, len(counted_ops))
        out = {}
        for layer in LAYERS:
            for k in ("jobs", "executor_cpu_ms", "shuffle_write_bytes"):
                out[f"{layer}.{k}"] = per_layer[layer][k] / n
        for layer in CALLS:
            out[f"{layer}.call_ms"] = per_layer[layer]["call_ms"] / n
        files, size = _tree(self.done[0]["out"])
        out["sources.export.files"] = files
        out["sources.export.bytes_written"] = size
        return out
