"""Dump the TRUE per-round `.explain("formatted")` plans for the
iterative loop family (pagerank / cc / hits / truss).

Usage: python tools/dump_round_plans.py <outdir> [--round=K] [--suffix=]

The loop operators truncate lineage every round, so the frame they
RETURN explains to a flat leaf — "Exchange count 0" in that dump is
truncation, not shuffle removal (VERDICT r11 §what's-wrong #5).  The
honest structural evidence is the plan of ROUND K ITSELF: state built
by running K-1 real rounds through the operators' own extracted round
builders (pagerank._rank_round, graph._cc_round / _hits_pull /
_truss_round — the loops call the same functions), then the round-K
expression captured BEFORE its truncation.  A healthy loop shows the same small plan at every K; a
broken one shows the plan doubling/tripling with K.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from pagerank_using_mapreduce_spark.operators.graph import (  # noqa: E402
    _cc_round,
    _cc_stage,
    _hits_pull,
    _hits_stage,
    _truss_round,
    cocitation_edges,
)
from pagerank_using_mapreduce_spark.operators.pagerank import (  # noqa: E402
    DAMPING,
    _iterate,
    _rank_round,
    _stage,
    parse_corpus,
)
from pagerank_using_mapreduce_spark.operators.scale import (  # noqa: E402
    adaptive_partitions,
)
from pagerank_using_mapreduce_spark.session import get_spark  # noqa: E402
from pagerank_using_mapreduce_spark.sources.tables import (  # noqa: E402
    load_table,
)
from pagerank_using_mapreduce_spark.sources.wikicorpus import (  # noqa: E402
    wiki_corpus,
)
from tools.dump_plans import plan_text, shape_summary  # noqa: E402


def _pages(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return parse_corpus(wiki_corpus(docs, docs.count()))


def main() -> int:
    outdir = sys.argv[1]
    k = 3
    suffix = ""
    for a in sys.argv[2:]:
        if a.startswith("--round="):
            k = int(a.split("=", 1)[1])
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="dump_round_plans")
    pages = _pages(spark, sf_dir)

    def dump(name: str, df) -> None:
        plan = plan_text(spark, df)
        path = os.path.join(outdir, f"{name}_round{k}{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- per-round plan: {name}, round {k}\n")
            f.write(f"-- sf_dir: {sf_dir}\n")
            f.write(f"-- shape: {shape_summary(plan)}\n\n")
            f.write(plan)
        print(f"{name} round {k}: {shape_summary(plan)}")

    # ---- pagerank: K-1 real rounds through the operator's own loop,
    # then round K un-truncated
    titles_p, e_p, n_p = _stage(pages)
    ranks = titles_p.select("title", F.lit(1.0 / n_p).alias("rank"))
    contrib = F.col("r.rank") / F.col("e.outdeg")
    teleport = F.lit(1.0 - DAMPING)
    ranks, _ = _iterate(
        titles_p, e_p, ranks, contrib, teleport, DAMPING, k - 1, None
    )
    dump(
        "i1_pagerank10",
        _rank_round(titles_p, e_p, ranks, contrib, teleport, DAMPING),
    )

    # ---- cc: K-1 real rounds (lazy-truncated, materialized by a
    # count, exactly the operator's shape), then round K un-truncated
    titles, sym = _cc_stage(pages)
    labels = titles.select("title", F.col("title").alias("component"))
    for _ in range(k - 1):
        labels = _cc_round(sym, labels).localCheckpoint(eager=False)
        labels.count()  # the loop's fingerprint action stands in
    dump("cc_components", _cc_round(sym, labels))

    # ---- hits: K-1 real double-pull iterations, then iteration K
    titles_h, e_src, e_dst, n = _hits_stage(pages)
    auth = titles_h.select("title", F.lit(1.0 / n).alias("score"))
    for _ in range(k - 1):
        hub = _hits_pull(e_dst, auth, "src", "dst")
        auth = _hits_pull(e_src, hub, "dst", "src").localCheckpoint(
            eager=False
        )
        auth.count()  # the loop's norm action stands in
    dump("g4_hits", _hits_pull(e_src, _hits_pull(e_dst, auth, "src", "dst"), "dst", "src"))

    # ---- truss: K-1 real peel rounds (eager-truncated, the
    # operator's own shape), then round K un-truncated
    e = cocitation_edges(pages)
    e = e.select("a", "b").persist()
    parts = adaptive_partitions(spark, e.count())
    for _ in range(k - 1):
        nxt, oriented = _truss_round(e, 4, parts)
        nxt = nxt.localCheckpoint(eager=True)
        e.unpersist()
        oriented.unpersist()
        e = nxt
    peeled, _o = _truss_round(e, 4, parts)
    dump("g13_truss_edges", peeled)

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
