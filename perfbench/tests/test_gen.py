"""The input generator is deterministic in its seed.

    python3 -m pytest perfbench/tests
"""

import os
import pathlib

import pytest

from perfbench import gen


def _files(d: str) -> dict[str, bytes]:
    root = pathlib.Path(d, "documents.parquet")
    return {p.name: p.read_bytes() for p in sorted(root.iterdir())}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a = gen.input_dir(str(tmp_path / "a"), workload, 7)
    b = gen.input_dir(str(tmp_path / "b"), workload, 7)
    c = gen.input_dir(str(tmp_path / "c"), workload, 8)
    assert len(_files(a)) == gen.N_FILES
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_cached_input_is_reused(tmp_path):
    a = gen.input_dir(str(tmp_path), "index_wiki", 3)
    stamp = os.stat(os.path.join(a, "documents.parquet", "part-00000.parquet")).st_mtime_ns
    assert gen.input_dir(str(tmp_path), "index_wiki", 3) == a
    assert os.stat(os.path.join(a, "documents.parquet", "part-00000.parquet")).st_mtime_ns == stamp


def test_pagerank_n_stays_in_band():
    ns = {gen.n_docs("pagerank_wiki", s) for s in range(500)}
    assert min(ns) == 4900 and max(ns) == 5100


def test_documents_follow_the_measured_shape():
    t = gen.documents("index_wiki", 5).to_pydict()
    assert t["doc_id"] == list(range(gen.INDEX_DOCS))
    assert t["n_chars"] == [len(x) for x in t["text"]]
    words = set(gen.vocabulary())
    originals = [x.split() for x in t["text"] if not x.endswith(" " + gen.DUP_MARKER)]
    assert {w for toks in originals for w in toks} == words
    assert min(map(len, originals)) >= gen.MIN_TOKENS
    assert max(map(len, originals)) <= gen.MAX_TOKENS
    # every copy is an original plus the marker
    copies = [x for x in t["text"] if x.endswith(" " + gen.DUP_MARKER)]
    assert len(copies) == round(gen.INDEX_DOCS * gen.DUP_SHARE)
    texts = set(t["text"])
    assert all(c[: -len(gen.DUP_MARKER) - 1] in texts for c in copies)
