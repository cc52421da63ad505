"""The generators are functions of the seed alone: the same seed gives
byte-identical inputs, another seed gives other inputs."""

import random

import inputs
from qc_query import draw_round


def _bytes(paths: dict) -> dict:
    out = {}
    for name, p in paths.items():
        with open(p, "rb") as fh:
            out[name] = fh.read()
    return out


def test_qc_tables_depend_only_on_seed(tmp_path):
    a = _bytes(inputs.write_qc_tables(7, str(tmp_path / "a")))
    b = _bytes(inputs.write_qc_tables(7, str(tmp_path / "b")))
    c = _bytes(inputs.write_qc_tables(8, str(tmp_path / "c")))
    assert a == b
    assert all(a[n] != c[n] for n in a)


def test_qc_params_depend_only_on_seed():
    def draw(seed):
        rnd = random.Random(f"{seed}/timed")
        return [draw_round(rnd) for _ in range(3)]

    assert draw(1) == draw(1)
    assert draw(1) != draw(2)


def _arrival_bytes(seed, out_dir, n_files=3):
    out_dir.mkdir()
    arr = inputs.make_arrivals(seed, n_files)
    out = []
    for i in range(n_files):
        p = out_dir / f"{i}.jsonl"
        arr.write_file(i, str(p))
        out.append(p.read_bytes())
    return out


def test_arrivals_depend_only_on_seed(tmp_path):
    a = _arrival_bytes(3, tmp_path / "a")
    assert a == _arrival_bytes(3, tmp_path / "b")
    assert all(x != y for x, y in zip(a, _arrival_bytes(4, tmp_path / "c")))


def test_arrivals_inject_near_dups_and_exact_copies():
    arr = inputs.make_arrivals(5, 8)
    docs = [d for f in arr.files for d in f]
    n = len(docs)
    assert n == 8 * inputs.DOCS_PER_FILE
    assert 0.15 < len(arr.near_dups) / n < 0.25
    assert 0.03 < len(arr.exact_copies) / n < 0.07
    text = dict(docs)
    first_of_text = {}
    for doc_id, t in docs:
        first_of_text.setdefault(t, doc_id)
    for doc_id in arr.exact_copies:
        src = first_of_text[text[doc_id]]
        # the copied document arrived in an earlier file
        assert src // inputs.DOCS_PER_FILE < doc_id // inputs.DOCS_PER_FILE
    for doc_id in list(arr.near_dups)[:50]:
        toks = text[doc_id].split()
        assert any(
            len(t.split()) == len(toks) and sum(x != y for x, y in zip(t.split(), toks)) == 1
            for d, t in docs[:doc_id]
        )


def test_corpus_depends_only_on_seed(tmp_path):
    a = _bytes(inputs.write_corpus(7, str(tmp_path / "a"), 3))
    b = _bytes(inputs.write_corpus(7, str(tmp_path / "b"), 3))
    c = _bytes(inputs.write_corpus(8, str(tmp_path / "c"), 3))
    assert a == b
    assert all(a[n] != c[n] for n in a)


def test_corpus_replicas_permute_their_base_document(tmp_path):
    import pyarrow.parquet as pq

    paths = inputs.write_corpus(3, str(tmp_path), 2)
    docs = pq.read_table(paths["documents"]).to_pylist()
    assert len(docs) == inputs.CORPUS_BASE * inputs.CORPUS_REPLICAS
    by_id = {d["doc_id"]: d for d in docs}
    for i in range(inputs.CORPUS_BASE):
        base = by_id[i]
        for r in range(1, inputs.CORPUS_REPLICAS):
            rep = by_id[i + r * 10**7]
            assert rep["source"] == base["source"]
            assert sorted(rep["text"].split()) == sorted(base["text"].split())
    texts = [by_id[i]["text"] for i in range(inputs.CORPUS_BASE)]
    assert len(set(texts)) < len(texts)  # exact copies among the base documents
    evals = pq.read_table(paths["evals"]).to_pylist()
    assert sorted({e["split"] for e in evals}) == [0, 1]
    corpus_texts = {d["text"] for d in docs}
    assert any(e["text"] in corpus_texts for e in evals)  # contaminated eval documents
