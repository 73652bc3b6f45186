"""Golden micro-corpus PageRank tests (FIXTURES.md §2).

5 pages: A →[[B]],[[B]],[[C]] (duplicate link); B →[[A]],[[Ghost]]
(phantom); C → self-loop [[C]]; D → no text tag; E → text, no links.
Hand-computed after 1 iteration (rank₀ = 0.2):
A = 0.15 + 0.85·(0.2/2) = 0.235
B = 0.15 + 0.85·(2·0.2/3) = 0.263333…
C = 0.15 + 0.85·(0.2/3 + 0.2/1) = 0.376666…
D = E = 0.15; Ghost absent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_using_mapreduce_spark.operators.pagerank import (
    count_n,
    edges,
    link_graph,
    pagerank,
    pagerank_until,
    parse_corpus,
    personalized_pagerank,
    ranking,
    top_k,
    weighted_pagerank,
)

CORPUS = [
    ('<title>A</title><id>1</id><text x="p">[[B]] [[B]] [[C]]</text>',),
    ('<title>B</title><id>2</id><text x="p">[[A]] [[Ghost]]</text>',),
    ('<title>C</title><id>3</id><text x="p">[[C]]</text>',),
    ("<title>D</title><id>4</id><revision></revision>",),
    ('<title>E</title><id>5</id><text x="p">no links here</text>',),
]


@pytest.fixture(scope="module")
def pages(spark):
    return parse_corpus(spark.createDataFrame(CORPUS, "raw string"))


def test_parse(pages):
    got = {r["title"]: r["links"] for r in pages.collect()}
    assert got == {
        "A": ["B", "B", "C"],
        "B": ["A", "Ghost"],
        "C": ["C"],
        "D": [],
        "E": [],
    }


def test_count_n(pages):
    assert count_n(pages) == 5


def test_edges_duplicates_and_outdeg(pages):
    got = sorted(tuple(r) for r in edges(pages).collect())
    assert got == [
        ("A", 3, "B"),
        ("A", 3, "B"),
        ("A", 3, "C"),
        ("B", 2, "A"),
        ("B", 2, "Ghost"),
        ("C", 1, "C"),
    ]


def test_link_graph_initial_rank(pages):
    lg = link_graph(pages, 5)
    assert {r["rank"] for r in lg.collect()} == {0.2}


def test_one_iteration_golden(pages):
    got = {r["title"]: r["rank"] for r in pagerank(pages, iterations=1).collect()}
    assert got["A"] == pytest.approx(0.235, abs=1e-12)
    assert got["B"] == pytest.approx(0.15 + 0.85 * (2 * 0.2 / 3), abs=1e-12)
    assert got["C"] == pytest.approx(0.15 + 0.85 * (0.2 / 3 + 0.2), abs=1e-12)
    assert got["D"] == pytest.approx(0.15, abs=1e-12)
    assert got["E"] == pytest.approx(0.15, abs=1e-12)
    assert "Ghost" not in got  # phantom dropped (README.md:66)


def _py_pagerank(iters):
    """Driver-side reimplementation for cross-checking >1 iteration."""
    links = {"A": ["B", "B", "C"], "B": ["A", "Ghost"], "C": ["C"], "D": [], "E": []}
    ranks = {t: 0.2 for t in links}
    for _ in range(iters):
        mass = {t: 0.0 for t in links}
        for src, outs in links.items():
            for dst in outs:
                if dst in mass:
                    mass[dst] += ranks[src] / len(outs)
        ranks = {t: 0.15 + 0.85 * mass[t] for t in links}
    return ranks


@pytest.mark.parametrize("iters", [2, 10])
def test_multi_iteration_matches_reference_recurrence(pages, iters):
    got = {r["title"]: r["rank"] for r in pagerank(pages, iterations=iters).collect()}
    want = _py_pagerank(iters)
    for t, v in want.items():
        assert got[t] == pytest.approx(v, rel=1e-12), t


def test_ranking_order_and_position(pages):
    ranks = pagerank(pages, iterations=1)
    rows = ranking(ranks, with_position=True).collect()
    assert [r["title"] for r in rows] == ["C", "B", "A", "D", "E"]  # D<E tie→title
    assert [r["pos"] for r in rows] == [1, 2, 3, 4, 5]
    assert [r["title"] for r in top_k(ranks, 2).collect()] == ["C", "B"]


def test_rank_floor_invariant(pages):
    """Every surviving page has rank ≥ 1-d (SURVEY.md §5.2)."""
    ranks = pagerank(pages, iterations=10)
    assert ranks.where(F.col("rank") < 0.15 - 1e-12).count() == 0


def test_pagerank_until_converges_and_matches_fixed(pages):
    out = pagerank_until(pages, tol=2e-3, max_iterations=60)
    iters = out.first()["iterations"]
    assert 0 < iters < 60  # actually converged, not capped
    got = {r["title"]: r["rank"] for r in out.collect()}
    want = {r["title"]: r["rank"] for r in pagerank(pages, iterations=iters).collect()}
    assert got.keys() == want.keys()
    for t in want:
        assert abs(got[t] - want[t]) < 1e-12


@pytest.mark.parametrize(
    "run, columns",
    [
        (lambda p: pagerank(p, iterations=3), ["title", "rank"]),
        (lambda p: weighted_pagerank(p, iterations=3), ["title", "rank"]),
        # a seed set that is not in the (empty) corpus
        (
            lambda p: personalized_pagerank(p, ["missing"], iterations=3),
            ["title", "rank"],
        ),
        (
            lambda p: pagerank_until(p, tol=1e-3, max_iterations=5),
            ["title", "rank", "iterations"],
        ),
    ],
    ids=["pagerank", "weighted_pagerank", "personalized_pagerank", "pagerank_until"],
)
def test_pagerank_family_empty_corpus_yields_empty(spark, run, columns):
    empty = spark.createDataFrame([], "title string, links array<string>")
    out = run(empty)
    assert out.columns == columns
    assert out.count() == 0


def test_personalized_pagerank_chain_golden(spark):
    chain = spark.createDataFrame(
        [("a", ["b"]), ("b", ["c"]), ("c", [])],
        "title string, links array<string>",
    )
    # seed {a}: r0 = (1,0,0); r_{k+1}(a) = 0.15, others get 0.85*inflow
    got = {
        r["title"]: r["rank"]
        for r in personalized_pagerank(chain, ["a"], iterations=2).collect()
    }
    assert got["a"] == pytest.approx(0.15)
    assert got["b"] == pytest.approx(0.85 * 0.15)
    assert got["c"] == pytest.approx(0.85 * 0.85)


def test_personalized_pagerank_unreachable_is_zero(spark):
    g = spark.createDataFrame(
        [("a", ["b"]), ("b", []), ("z", ["a"])],  # z unreachable FROM {a,b}
        "title string, links array<string>",
    )
    got = {
        r["title"]: r["rank"]
        for r in personalized_pagerank(g, ["a"], iterations=5).collect()
    }
    assert got["z"] == 0.0
    assert got["a"] > 0 and got["b"] > 0
    with pytest.raises(ValueError):
        personalized_pagerank(g, [])


def test_personalized_pagerank_broadcast_seed_path(spark):
    """Above SEED_ISIN_MAX the seed set rides a broadcast join instead
    of a plan literal: identical ranks to the isin path on the same
    seeds, and the operator's own plan shows the broadcast attach."""
    from pagerank_using_mapreduce_spark.sources.tables import load_table
    from pagerank_using_mapreduce_spark.sources.wikicorpus import wiki_corpus

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pages = parse_corpus(wiki_corpus(docs, docs.count())).persist()
    seeds = [
        r["title"]
        for r in pages.select("title").orderBy("title").limit(100).collect()
    ]
    assert len(seeds) == 100  # > SEED_ISIN_MAX -> broadcast path
    # zero rounds: the initial ranks read the persisted title relation,
    # whose cached plan carries the seed attach
    attach = personalized_pagerank(pages, seeds, iterations=0, seed_isin_max=0)
    assert "BroadcastHashJoin" in attach._jdf.queryExecution().toString()
    via_broadcast = personalized_pagerank(pages, seeds, iterations=3)
    via_isin = personalized_pagerank(
        pages, seeds, iterations=3, seed_isin_max=1000
    )
    got = {r["title"]: r["rank"] for r in via_broadcast.collect()}
    want = {r["title"]: r["rank"] for r in via_isin.collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[t] - want[t]) < 1e-12 for t in want)
    pages.unpersist()


def test_pagerank_reliable_checkpoint_dir(spark, request):
    """A session checkpoint dir switches localCheckpoint -> reliable
    checkpoint(): same ranks, and RDD checkpoint files actually land in
    the dir."""
    import os

    from pagerank_using_mapreduce_spark.sources.tables import load_table
    from pagerank_using_mapreduce_spark.sources.wikicorpus import wiki_corpus

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pages = parse_corpus(wiki_corpus(docs, docs.count())).persist()
    want = {r["title"]: r["rank"]
            for r in pagerank(pages, iterations=6).collect()}
    ckpt = request.getfixturevalue("reliable_checkpoints")
    reliable = pagerank(pages, iterations=6)
    got = {r["title"]: r["rank"] for r in reliable.collect()}
    # checkpoint files were written under the dir
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs]
    assert files, "no reliable checkpoint files written"
    assert got == want
    pages.unpersist()


# ---------------------------------------------------------------------------
# Edge-weighted PageRank
# ---------------------------------------------------------------------------


def test_weighted_pagerank_golden_one_iteration(spark):
    """a links to 'b' (len 1 -> w=2) and 'ccc' (len 3 -> w=4), wout=6:
    b = 0.15 + 0.85*(1/3 * 2/6);  ccc = 0.15 + 0.85*(1/3 * 4/6)."""

    g = spark.createDataFrame(
        [("a", ["b", "ccc"]), ("b", []), ("ccc", [])],
        "title string, links array<string>",
    )
    out = {r["title"]: r["rank"] for r in weighted_pagerank(g, iterations=1).collect()}
    assert out["a"] == pytest.approx(0.15)
    assert out["b"] == pytest.approx(0.15 + 0.85 * (1 / 3) * (2 / 6))
    assert out["ccc"] == pytest.approx(0.15 + 0.85 * (1 / 3) * (4 / 6))


def test_weighted_pagerank_equal_weights_match_plain(spark):
    """When every link target has the same derived weight (all one
    char -> w=2, no phantoms — the golden corpus's 'Ghost' is len 5,
    weight 1, so it would NOT qualify), the weighted split collapses
    to 1/outdeg and the result must equal plain pagerank."""

    g = spark.createDataFrame(
        [("a", ["b", "c"]), ("b", ["a"]), ("c", ["c", "a"])],
        "title string, links array<string>",
    )
    want = {r["title"]: r["rank"] for r in pagerank(g, iterations=5).collect()}
    got = {
        r["title"]: r["rank"]
        for r in weighted_pagerank(g, iterations=5).collect()
    }
    assert set(got) == set(want)
    for t in want:
        assert got[t] == pytest.approx(want[t], rel=1e-12), t


def test_warm_start_equals_straight_run(pages):
    """Resuming from iteration-k ranks reproduces the uninterrupted
    run: warm-start 2+3 == straight 5, exactly (same float ops)."""
    prior = pagerank(pages, iterations=2)
    resumed = {
        r["title"]: r["rank"]
        for r in pagerank(pages, iterations=3, init_ranks=prior).collect()
    }
    straight = {
        r["title"]: r["rank"] for r in pagerank(pages, iterations=5).collect()
    }
    assert set(resumed) == set(straight)
    for t in straight:
        assert resumed[t] == pytest.approx(straight[t], rel=1e-12), t
