"""Seeded input generators for the benchmark workloads.

Everything the program sees is made here from ``--seed``: the same seed
gives byte-identical files, another seed gives other files.

* QC tables: ``orders`` / ``lineitem`` parquet with the shapes of the
  sf0.1 star schema (150k / ~600k rows over 15k customer keys), the
  tables Sentinel's reference queries run over (orders ~ runs,
  lineitem ~ samples / read groups, o_custkey ~ uploaderId).
* QC parameters: per query kind, the user id, selector values, fields,
  limits and shuffle seed, drawn from one seeded stream.
* Arrival files for streaming admission: the sf0.1 document shape
  (30-word vocabulary, 10-100 tokens) in seeded order, with ~20%
  one-token near-dup edits of earlier arrivals and ~5% exact copies of
  base documents from earlier files, ~500 documents per JSONL file.
* Corpus-build inputs: 1,000 documents (250 base documents of the same
  shape, expanded with token-permutation replicas) and seed-drawn eval
  splits for decontamination.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_PART = 20_000
N_SUPP = 1_000
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# Integer-valued metric fields. l_extendedprice is left out of the
# aggregations: with ~600k distinct values its exact median alone takes
# seconds, which would drown the per-query fixed cost qc_query measures.
METRIC_FIELDS = ("l_quantity", "l_discount", "l_tax")
EPOCH_1992 = np.datetime64("1992-01-01", "us")
DAY_US = 86_400 * 1_000_000

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOCS_PER_FILE = 500
NEAR_DUP_FRAC = 0.20
EXACT_COPY_FRAC = 0.05

CORPUS_BASE = 250
CORPUS_REPLICAS = 4  # 1,000 documents
CORPUS_SOURCES = 4
EVAL_DOCS = 40


def write_qc_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write the QC tables under ``out_dir``; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng(seed)
    odate = EPOCH_1992 + r.integers(0, 2405, N_ORDERS) * np.timedelta64(DAY_US, "us")
    orders = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[r.choice(3, N_ORDERS, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(r.uniform(800.0, 500_000.0, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, N_ORDERS)],
    })
    lines = r.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = r.integers(1, 51, n).astype(np.float64)
    ship = odate[okey] + r.integers(1, 122, n) * np.timedelta64(DAY_US, "us")
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, N_PART, n, dtype=np.int64),
        "l_suppkey": r.integers(0, N_SUPP, n, dtype=np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    paths = {}
    for name, t in (("orders", orders), ("lineitem", lineitem)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name], compression="snappy")
    return paths


def qc_params(rnd: random.Random, kind: str) -> dict:
    """Draw one query's parameters for ``kind`` from ``rnd``. The seed
    picks values, not amounts of work: field counts are fixed per kind."""
    pick = rnd.choice
    if kind == "dp_time_sorted":
        return {"flags": sorted(rnd.sample(["A", "N", "R"], rnd.randint(1, 2))),
                "max_qty": rnd.randint(10, 50), "limit": pick([50, 100, 200])}
    if kind == "dp_shuffle":
        return {"flag": pick(["A", "N", "R"]), "shuffle_seed": rnd.randint(0, 10**6),
                "limit": pick([50, 100, 200])}
    if kind == "dp_label_masked":
        return {"min_qty": rnd.randint(30, 50), "user": rnd.randrange(N_SUPP),
                "limit": pick([50, 100, 200])}
    if kind == "dp_ownership":
        return {"user": rnd.randrange(N_CUSTOMER), "hidden_status": pick(["F", "O"]),
                "limit": 100}
    if kind == "id_lookup":
        return {"ids": sorted(rnd.sample(range(N_ORDERS), rnd.randint(4, 16)))}
    if kind == "selector_algebra":
        return {"status": pick(["O", "F"]), "custs": sorted(rnd.sample(range(N_CUSTOMER), 25)),
                "not_priority": pick(PRIORITIES)}
    if kind == "agg_stats":
        return {"fields": rnd.sample(METRIC_FIELDS, 2), "linestatus": pick(["F", "O"])}
    if kind == "agg_stats_grouped":
        return {"fields": rnd.sample(METRIC_FIELDS, 2),
                "group_by": pick(["l_returnflag", "l_linestatus"])}
    if kind == "fragment_stats":
        f = rnd.sample(METRIC_FIELDS, 3)
        return {"read1": f[0], "read2": f[1], "frag": f[2], "lib_type": pick(["paired", None])}
    if kind == "pipeline_rollup":
        return {"pipeline": pick(["o_orderstatus", "o_orderpriority"]),
                "deleted_mod": pick([7, 11, 13, 97])}
    if kind == "unit_labels_join":
        return {"custs": sorted(rnd.sample(range(N_CUSTOMER), 20))}
    if kind == "render_records":
        return {"custs": sorted(rnd.sample(range(N_CUSTOMER), 20)),
                "notes_mod": rnd.randint(2, 5), "tags_mod": rnd.randint(2, 5)}
    if kind == "label_patch":
        return {"custs": sorted(rnd.sample(range(N_CUSTOMER), 20)),
                "rename_mod": rnd.randint(2, 10), "drop_mod": rnd.randint(2, 10),
                "new_name": f"renamed-{rnd.randrange(1000)}",
                "tag": pick(["reviewed", "qc", "owner"]), "tag_value": str(rnd.randrange(100))}
    raise KeyError(kind)


@dataclass
class Arrivals:
    files: list[list[tuple[int, str]]]  # per JSONL file: (doc_id, text)
    exact_copies: set[int]  # ids whose text copies an earlier file's base doc
    near_dups: set[int]  # ids that are one-token edits of an earlier arrival

    def write_file(self, i: int, path: str) -> int:
        """Write arrival file ``i`` as JSONL at ``path``; returns its bytes."""
        with open(path, "w") as fh:
            for doc_id, text in self.files[i]:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        return os.path.getsize(path)


def make_arrivals(seed: int, n_files: int) -> Arrivals:
    r = random.Random(f"{seed}/arrivals")
    texts: list[str] = []
    base_before_file: list[int] = []  # indexes of base docs in earlier files
    files, copies, near = [], set(), set()
    for f in range(n_files):
        cur, base_here = [], []
        for _ in range(DOCS_PER_FILE):
            doc_id = len(texts)
            u = r.random()
            if u < NEAR_DUP_FRAC and texts:
                toks = texts[r.randrange(len(texts))].split()
                pos = r.randrange(len(toks))
                toks[pos] = r.choice([w for w in VOCAB if w != toks[pos]])
                text = " ".join(toks)
                near.add(doc_id)
            elif u < NEAR_DUP_FRAC + EXACT_COPY_FRAC and base_before_file:
                text = texts[r.choice(base_before_file)]
                copies.add(doc_id)
            else:
                text = " ".join(r.choice(VOCAB) for _ in range(r.randint(10, 100)))
                base_here.append(doc_id)
            texts.append(text)
            cur.append((doc_id, text))
        base_before_file.extend(base_here)
        files.append(cur)
    return Arrivals(files, copies, near)


def _permute(text: str, r: int) -> str:
    """Replica ``r`` of a document: a pseudo-random permutation of its
    own tokens seeded by its content, so identical texts permute
    identically (exact-duplicate clusters replicate with the corpus)
    while the replica's n-grams are new."""
    toks = text.split()
    random.Random(hashlib.md5(f"{text}/{r}".encode()).hexdigest()).shuffle(toks)
    return " ".join(toks)


def write_corpus(seed: int, out_dir: str, n_splits: int) -> dict[str, str]:
    """Write the corpus-build inputs under ``out_dir``; returns name → path.

    * ``documents``: ``CORPUS_BASE`` base documents of the sf0.1 document
      shape over ``CORPUS_SOURCES`` sources (~10% exact copies and ~10%
      one-token edits of earlier documents), expanded ``CORPUS_REPLICAS``
      times with token-permutation replicas at ``doc_id + r * 10**7``.
    * ``evals``: ``n_splits`` seed-drawn eval splits (``split`` column),
      half copied from corpus documents and half fresh, for decontam.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = random.Random(f"{seed}/corpus")
    base: list[tuple[int, str, str]] = []
    for i in range(CORPUS_BASE):
        u = r.random()
        if u < 0.1 and base:
            text = r.choice(base)[2]
        elif u < 0.2 and base:
            toks = r.choice(base)[2].split()
            pos = r.randrange(len(toks))
            toks[pos] = r.choice([w for w in VOCAB if w != toks[pos]])
            text = " ".join(toks)
        else:
            text = " ".join(r.choice(VOCAB) for _ in range(r.randint(10, 100)))
        base.append((i, f"src{r.randrange(CORPUS_SOURCES)}", text))
    docs = base + [(i + rep * 10**7, src, _permute(text, rep))
                   for rep in range(1, CORPUS_REPLICAS) for i, src, text in base]
    evals = []
    for s in range(n_splits):
        for j in range(EVAL_DOCS):
            text = (r.choice(docs)[2] if j % 2 == 0
                    else " ".join(r.choice(VOCAB) for _ in range(r.randint(20, 60))))
            evals.append((s, 10**9 + s * EVAL_DOCS + j, text))
    tables = {
        "documents": pa.table({"doc_id": [d[0] for d in docs], "source": [d[1] for d in docs],
                          "text": [d[2] for d in docs]}),
        "evals": pa.table({"split": [e[0] for e in evals], "doc_id": [e[1] for e in evals],
                           "text": [e[2] for e in evals]}),
    }
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name], compression="snappy")
    return paths
