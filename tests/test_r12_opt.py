"""Focused tests for the round-12 optimization changes: reliable
checkpoints (a session setting) in every lineage-truncating loop and
the scale.iterate loop that carries them, the aggregate-based setsim
prefix, measured-size streaming state partitions, and the keyed-default
in undirected_edges."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _pages(spark):
    from pagerank_using_mapreduce_spark.operators.pagerank import (
        parse_corpus,
    )
    from pagerank_using_mapreduce_spark.sources.tables import load_table
    from pagerank_using_mapreduce_spark.sources.wikicorpus import wiki_corpus

    docs = load_table(spark, SF, "documents")
    return parse_corpus(wiki_corpus(docs, docs.count()))


def _ckpt_files(d: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs]


def _checkpoint_file(df):
    rdd = df._jdf.queryExecution().logical().rdd()
    return rdd.getCheckpointFile()


def test_truncate_lineage_switch(spark, request):
    """truncate_lineage: a localCheckpoint (no file) by default; a
    reliable checkpoint whose files land in the session's checkpoint
    dir once one is set."""
    from pagerank_using_mapreduce_spark.operators.scale import (
        truncate_lineage,
    )

    df = spark.range(100).select(F.col("id").alias("x"))
    local = truncate_lineage(df, eager=True)
    assert local.count() == 100
    assert not _checkpoint_file(local).isDefined()
    d = request.getfixturevalue("reliable_checkpoints")
    reliable = truncate_lineage(df, eager=True)
    assert reliable.count() == 100
    assert _checkpoint_file(reliable).isDefined()
    assert _ckpt_files(d), "no reliable checkpoint files written"


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


_PAIRS = [(1, 2), (2, 3), (5, 6)]


def _cluster_pairs(pages, **kw):
    from pagerank_using_mapreduce_spark.operators.dedup import cluster_pairs

    spark = pages.sparkSession
    docs = spark.createDataFrame(
        [(i, "t") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(_PAIRS, "doc_a long, doc_b long")
    return cluster_pairs(docs, pairs, **kw)


def _graph_loop(name, **fixed):
    def run(pages, **kw):
        from pagerank_using_mapreduce_spark.operators import graph

        return getattr(graph, name)(pages, **fixed, **kw)

    return run


def _truss(pages, **kw):
    from pagerank_using_mapreduce_spark.operators.graph import (
        cocitation_edges,
        truss_edges,
    )

    return truss_edges(cocitation_edges(pages), **kw)


_SEEDS = ["doc_1", "doc_2", "doc_3"]
RELIABLE_LOOPS = {
    "hits": _graph_loop("hits", iterations=5),
    "connected_components": _graph_loop("connected_components", iterations=3),
    "connected_components_until": _graph_loop("connected_components_until"),
    "connected_components_star": _graph_loop("connected_components_star"),
    "label_propagation": _graph_loop("label_propagation", rounds=2),
    "bfs_depths": _graph_loop("bfs_depths", sources=_SEEDS, iterations=3),
    "sssp_dists": _graph_loop("sssp_dists", sources=_SEEDS, iterations=3),
    "bfs_depths_labeled": _graph_loop(
        "bfs_depths_labeled", sources=_SEEDS, iterations=3
    ),
    "kcore_survivors": _graph_loop("kcore_survivors", rounds=3),
    "kcore_until": _graph_loop("kcore_until"),
    "truss_edges": _truss,
    "cluster_pairs": _cluster_pairs,
}


@pytest.fixture(scope="module")
def sf_pages(spark):
    pages = _pages(spark).persist()
    yield pages
    pages.unpersist()


def _rdd_dirs(d: str) -> list[str]:
    return [x for _, dn, _ in os.walk(d) for x in dn if x.startswith("rdd-")]


@pytest.mark.parametrize("name", sorted(RELIABLE_LOOPS))
def test_loop_reliable_checkpoint_dir(sf_pages, request, name):
    """Every loop on a session with a checkpoint dir: identical output
    to the default path, and only the last round or two on disk — each
    superseded round's reliable checkpoint is deleted."""
    run = RELIABLE_LOOPS[name]
    want = _rows(run(sf_pages))
    d = request.getfixturevalue("reliable_checkpoints")
    # hold the frame: checkpoints are reclaimed once unreferenced
    out = run(sf_pages)
    assert _rows(out) == want
    assert _ckpt_files(d), "no reliable checkpoint files written"
    assert len(_rdd_dirs(d)) <= 2
    if name == "cluster_pairs":
        assert want == {
            (0, 0, True), (1, 1, True), (2, 1, False), (3, 1, False),
            (4, 4, True), (5, 5, True), (6, 5, False), (7, 7, True),
        }


def test_iterate_reclaims_superseded_checkpoints_and_resumes(
    sf_pages, request
):
    """A reliable loop leaves only its last round on disk, and a loop
    resumed from round k's checkpointed state matches the straight run
    exactly (the i3_warm_start 4+6 ≡ 10 proof, reliable path)."""
    from pagerank_using_mapreduce_spark.operators.pagerank import pagerank

    straight = sorted(pagerank(sf_pages, iterations=10).collect())
    d = request.getfixturevalue("reliable_checkpoints")
    ranks = pagerank(sf_pages, iterations=10)
    assert ranks.count() == len(straight)
    assert len(_rdd_dirs(d)) == 1
    assert sorted(ranks.collect()) == straight

    round4 = pagerank(sf_pages, iterations=4)
    before = set(_rdd_dirs(d))
    assert len(before) == 2
    resumed = pagerank(sf_pages, iterations=6, init_ranks=round4)
    assert sorted(resumed.collect()) == straight
    # round 4's state is the caller's: the resumed loop never deletes it
    assert round4.count() == len(straight)
    after = set(_rdd_dirs(d))
    assert before < after and len(after) == 3


def test_iterate_stop_rule_and_flat_state(spark):
    """scale.iterate on a toy step: the stop rule ends the loop after
    the first round that leaves its measure unchanged, and the returned
    state's plan is one checkpoint leaf."""
    from pagerank_using_mapreduce_spark.operators.scale import (
        iterate,
        unchanged,
    )

    state = spark.range(5).select(F.col("id").alias("x"))

    def step(df):
        return df.select(F.least(F.col("x") + 1, F.lit(7)).alias("x"))

    def top(df):
        return df.agg(F.max("x")).first()[0]

    # max x: 5, 6, 7, 7 -> unchanged in round 4
    out, rounds_run = iterate(
        state, step, rounds=10, stop=unchanged(top, top(state))
    )
    assert rounds_run == 4
    assert sorted(r["x"] for r in out.collect()) == [4, 5, 6, 7, 7]
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LogicalRDD" and plan.children().isEmpty()
    assert iterate(state, step, rounds=0) == (state, 0)


def test_setsim_prefix_aggregate_matches_window_reference(spark):
    """The r12 aggregate-based prefix (collect_list + sort_array +
    slice) must emit exactly the rows of the r08-r11 two-window
    formulation: same (doc_id, shingle, df, sz) set."""
    from pyspark.sql import Window

    from pagerank_using_mapreduce_spark.operators.dedup import (
        _setsim_prefix,
        shingles,
    )
    from pagerank_using_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    num, den = 7, 10
    pref = _setsim_prefix(docs, 3, num, den).collect()
    got = {
        (r["doc_id"], r["shingle"], r["df"], r["sz"]) for r in pref
    }
    # pos is the 1-based rank in the doc's (df, shingle) order: dense
    # from 1 per doc, never beyond the prefix length
    by_doc: dict = {}
    for r in pref:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        poss = sorted(r["pos"] for r in rows)
        assert poss == list(range(1, len(rows) + 1))
        ordered = sorted(rows, key=lambda r: (r["df"], r["shingle"]))
        assert [r["pos"] for r in ordered] == poss

    # reference: the old window formulation, inline
    s = shingles(docs, 3)
    dfreq = s.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = (
        s.join(dfreq, "shingle")
        .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
    )
    want = {
        tuple(r)
        for r in ranked.where(
            F.col("rk")
            <= F.col("sz")
            - F.floor((F.lit(num) * F.col("sz") + (den - 1)) / den)
            + 1
        )
        .select("doc_id", "shingle", "df", "sz")
        .collect()
    }
    assert got == want and got


def test_setsim_positional_filter_complete(spark):
    """The PPJoin positional filter prunes candidate entries but the
    final pair set must equal the filter-free truth: every unordered
    pair with Jaccard >= t, computed here by the brute-force full
    inverted index (the oracle's formulation), at BOTH the x108
    threshold (7/10) and the x116 audit threshold (1/2)."""
    from pagerank_using_mapreduce_spark.operators.dedup import (
        setsim_join,
        shingles,
    )
    from pagerank_using_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    s = shingles(docs, 3).persist()
    sz = s.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        s.alias("a")
        .join(s.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    full = (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
    )
    for num, den in [(7, 10), (1, 2)]:
        want = {
            (r["doc_a"], r["doc_b"])
            for r in full.where(
                F.lit(den) * F.col("inter")
                >= F.lit(num) * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).collect()
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in setsim_join(docs, num=num, den=den).collect()
        }
        assert got == want, f"t={num}/{den}"
    s.unpersist()


def test_setsim_prefix_no_window_in_plan(spark):
    """Structural pin for the r12 change: the prefix relation plans no
    Window operator (the old shape planted two per instance)."""
    from pagerank_using_mapreduce_spark.operators.dedup import (
        _setsim_prefix,
    )
    from pagerank_using_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = (
        _setsim_prefix(docs, 3, 7, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_undirected_edges_key_without_partitions_defaults(spark):
    """ADVICE r11: key without num_partitions used to reach
    repartition(None, key) — a TypeError; now defaults to the conf
    width with the identical pair set."""
    from pagerank_using_mapreduce_spark.operators.graph import (
        undirected_edges,
    )

    pages = spark.createDataFrame(
        [("a", ["b"]), ("b", ["a", "c"]), ("c", [])],
        "title string, links array<string>",
    )
    got = {tuple(r) for r in undirected_edges(pages, key="src").collect()}
    want = {tuple(r) for r in undirected_edges(pages).collect()}
    assert got == want


def test_measured_state_partitions_and_scoped_conf(spark):
    """measured_state_partitions sizes from the parquet row count and
    clamps to the conf; run_available_now restores the session conf
    and produces the identical drained rows."""
    from pagerank_using_mapreduce_spark.streaming.events import (
        hourly_rollup_stream,
        measured_state_partitions,
        read_event_stream,
        run_available_now,
        stage_table_dir,
    )

    d = stage_table_dir(SF)
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = measured_state_partitions(spark, d)
    assert n is not None and 1 <= n <= shuffle
    assert measured_state_partitions(spark, "/nonexistent/dir") is None

    before = spark.conf.get("spark.sql.shuffle.partitions")
    drained = run_available_now(
        hourly_rollup_stream(read_event_stream(spark, d)),
        "t_r12_state_parts",
        output_mode="complete",
        state_partitions=n,
    )
    rows = {tuple(r) for r in drained.collect()}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    d2 = stage_table_dir(SF)
    default = run_available_now(
        hourly_rollup_stream(read_event_stream(spark, d2)),
        "t_r12_state_parts_default",
        output_mode="complete",
    )
    assert {tuple(r) for r in default.collect()} == rows


def test_hits_signature_dropped_dead_cadence_param(spark):
    """hits' checkpoint_every was dead once every round truncated its
    lineage, so the parameter is gone; checkpoint_dir went with it now
    that reliable checkpoints are a session setting."""
    import inspect

    from pagerank_using_mapreduce_spark.operators.graph import hits

    params = inspect.signature(hits).parameters
    assert "checkpoint_every" not in params
    assert "checkpoint_dir" not in params


LOOP_FAMILY = [
    # (module, function, positional parameters)
    ("pagerank", "pagerank", 1),
    ("pagerank", "weighted_pagerank", 1),
    ("pagerank", "personalized_pagerank", 2),
    ("pagerank", "pagerank_until", 1),
    ("graph", "hits", 1),
    ("graph", "connected_components", 1),
    ("graph", "connected_components_until", 1),
    ("graph", "connected_components_star", 1),
    ("graph", "bfs_depths", 2),
    ("graph", "bfs_depths_frontier", 2),
    ("graph", "bfs_depths_labeled", 2),
    ("graph", "sssp_dists", 2),
    ("graph", "landmark_closeness", 2),
    ("graph", "kcore_survivors", 1),
    ("graph", "kcore_until", 1),
    ("graph", "label_propagation", 1),
    ("graph", "truss_edges", 1),
    ("graph", "cocitation_edges", 1),
    ("dedup", "cluster_pairs", 2),
    ("dedup", "dedup_clusters", 1),
]


@pytest.mark.parametrize(
    "module,name,positional", LOOP_FAMILY, ids=[f for _, f, _ in LOOP_FAMILY]
)
def test_loop_knobs_are_keyword_only(module, name, positional):
    """Every knob after the data arguments is keyword-only, and no loop
    takes a durability knob: reliable checkpoints are a session
    setting, and per-round truncation leaves no cadence to tune."""
    import importlib
    import inspect

    fn = getattr(
        importlib.import_module(
            f"pagerank_using_mapreduce_spark.operators.{module}"
        ),
        name,
    )
    with pytest.raises(TypeError):
        fn(*[None] * positional, 10)
    params = inspect.signature(fn).parameters
    assert not {"checkpoint_dir", "checkpoint_every"} & params.keys()
