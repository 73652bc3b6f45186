"""Focused tests for the round-12 optimization changes: reliable
checkpoint_dir threading through every lineage-truncating loop, the
aggregate-based setsim prefix, measured-size streaming state
partitions, and the keyed-default in undirected_edges."""

from __future__ import annotations

import os

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


def test_truncate_lineage_switch(spark, tmp_path):
    """truncate_lineage: default is a localCheckpoint (no files);
    with a dir, a reliable checkpoint whose files land in the dir."""
    from pagerank_using_mapreduce_spark.operators.scale import (
        truncate_lineage,
    )

    df = spark.range(100).select(F.col("id").alias("x"))
    local = truncate_lineage(df, None, eager=True)
    assert local.count() == 100
    d = str(tmp_path / "tl")
    reliable = truncate_lineage(df, d, eager=True)
    assert reliable.count() == 100
    assert _ckpt_files(d), "no reliable checkpoint files written"


def test_truncate_lineage_sets_checkpoint_dir_once(spark, tmp_path):
    """Every setCheckpointDir call creates a fresh UUID subdirectory;
    repeated reliable truncations into one dir must reuse the first."""
    from pagerank_using_mapreduce_spark.operators.scale import (
        truncate_lineage,
    )

    d = str(tmp_path / "once")
    df = spark.range(10)
    for ckpt in (d, d, d + "/"):
        assert truncate_lineage(df, ckpt, eager=True).count() == 10
    assert len(os.listdir(d)) == 1


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """connected_components with checkpoint_dir: identical labels to
    the default path, and checkpoint files land in the dir (the lazy
    per-round reliable checkpoints materialize under the final
    action)."""
    from pagerank_using_mapreduce_spark.operators.graph import (
        connected_components,
    )

    pages = _pages(spark).persist()
    d = str(tmp_path / "cc")
    want = {
        (r["title"], r["component"])
        for r in connected_components(pages, iterations=3).collect()
    }
    # hold the frame: checkpoints are reclaimed once unreferenced
    out = connected_components(pages, iterations=3, checkpoint_dir=d)
    got = {(r["title"], r["component"]) for r in out.collect()}
    assert got == want
    assert _ckpt_files(d), "no reliable checkpoint files written"
    pages.unpersist()


def test_kcore_and_truss_reliable_checkpoint_dir(spark, tmp_path):
    """kcore_until (eager per-round) and truss_edges (eager per-round)
    with checkpoint_dir: identical outputs, files in the dir."""
    from pagerank_using_mapreduce_spark.operators.graph import (
        cocitation_edges,
        kcore_until,
        truss_edges,
    )

    pages = _pages(spark).persist()
    d1 = str(tmp_path / "kcore")
    want = {r["title"] for r in kcore_until(pages).collect()}
    out = kcore_until(pages, checkpoint_dir=d1)  # held, see cc test
    got = {r["title"] for r in out.collect()}
    assert got == want
    assert _ckpt_files(d1)

    d2 = str(tmp_path / "truss")
    edges_ab = cocitation_edges(pages)
    want_t = {
        (r["a"], r["b"], r["support"])
        for r in truss_edges(edges_ab).collect()
    }
    out_t = truss_edges(edges_ab, checkpoint_dir=d2)
    got_t = {(r["a"], r["b"], r["support"]) for r in out_t.collect()}
    assert got_t == want_t
    assert _ckpt_files(d2)
    pages.unpersist()


def test_cluster_pairs_reliable_checkpoint_dir(spark, tmp_path):
    """cluster_pairs with checkpoint_dir: identical closure, files in
    the dir."""
    from pagerank_using_mapreduce_spark.operators.dedup import (
        cluster_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "t") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    d = str(tmp_path / "cp")
    want = {
        (r["doc_id"], r["canonical_id"])
        for r in cluster_pairs(docs, pairs).collect()
    }
    out = cluster_pairs(docs, pairs, checkpoint_dir=d)  # held, see cc test
    got = {(r["doc_id"], r["canonical_id"]) for r in out.collect()}
    assert got == want == {
        (0, 0), (1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7)
    }
    assert _ckpt_files(d)


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
    """ADVICE r11: hits' checkpoint_every was silently dead after the
    per-iteration truncation landed — the parameter is gone, replaced
    by checkpoint_dir."""
    import inspect

    from pagerank_using_mapreduce_spark.operators.graph import hits

    params = inspect.signature(hits).parameters
    assert "checkpoint_every" not in params
    assert "checkpoint_dir" in params


def test_loop_knobs_are_keyword_only(spark):
    """hits(pages, 10, "/tmp/x") used to bind the dir positionally;
    the knobs after ``pages`` are keyword-only now."""
    import pytest

    from pagerank_using_mapreduce_spark.operators.graph import hits
    from pagerank_using_mapreduce_spark.operators.pagerank import pagerank

    pages = spark.createDataFrame([], "title string, links array<string>")
    with pytest.raises(TypeError):
        hits(pages, 10, "/tmp/x")
    with pytest.raises(TypeError):
        pagerank(pages, 5, 10)
