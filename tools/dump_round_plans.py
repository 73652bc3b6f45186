"""Dump the TRUE per-round `.explain("formatted")` plans for the
iterative loop family (pagerank / cc / hits / bfs / truss).

Usage: python tools/dump_round_plans.py <outdir> [--round=K] [--suffix=]

The loop operators truncate lineage every round, so the frame they
RETURN explains to a flat leaf — "Exchange count 0" in that dump is
truncation, not shuffle removal (VERDICT r11 §what's-wrong #5).  The
honest structural evidence is the plan of ROUND K ITSELF: state built
by running K-1 real rounds of the operators' own round functions
(pagerank._rank_round, graph._cc_round / _hits_pull / _relax_round /
_truss_round) through scale.iterate — the loops run the same
functions through the same loop — then the round-K expression
captured BEFORE its truncation.  A healthy loop shows the same small
plan at every K; a broken one shows the plan doubling/tripling with K.
"""

from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pagerank_using_mapreduce_spark.operators.graph import (  # noqa: E402
    _cc_round,
    _cc_stage,
    _hits_pull,
    _hits_stage,
    _relax_round,
    _truss_round,
    cocitation_edges,
    valid_edges,
)
from pagerank_using_mapreduce_spark.operators.pagerank import (  # noqa: E402
    DAMPING,
    _rank_round,
    _stage,
    parse_corpus,
)
from pagerank_using_mapreduce_spark.operators.scale import (  # noqa: E402
    cache,
    iterate,
    staged,
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

    def warm(state, step, **kw):
        """Round K's plan over the state after K-1 real rounds."""
        return step(iterate(state, step, rounds=k - 1, **kw)[0])

    # ---- pagerank
    titles, e, n = _stage(pages)
    ranks = titles.select("title", F.lit(1.0 / n).alias("rank"))
    contrib = F.col("r.rank") / F.col("e.outdeg")
    teleport = F.lit(1.0 - DAMPING)
    rank_step = partial(_rank_round, titles, e, contrib, teleport, DAMPING)
    dump("i1_pagerank10", warm(ranks, rank_step))

    # ---- cc
    titles, sym = _cc_stage(pages)
    labels = titles.select("title", F.col("title").alias("component"))
    dump("cc_components", warm(labels, partial(_cc_round, sym)))

    # ---- hits: the double pull; the loop's per-round norm, a literal
    # rescale over the truncated leaf, is left out
    titles, e_src, e_dst, n = _hits_stage(pages)
    auth = titles.select("title", F.lit(1.0 / n).alias("score"))
    dump(
        "g4_hits",
        warm(
            auth,
            lambda a: _hits_pull(
                e_src, _hits_pull(e_dst, a, "src", "dst"), "dst", "src"
            ),
        ),
    )

    # ---- bfs: the min-plus relax round shared with sssp / landmarks
    first = pages.select("title").orderBy("title").limit(3).collect()
    seeds = [r["title"] for r in first]
    with staged(pages) as (p, parts, _):
        (e,) = cache(valid_edges(p).repartition(parts, "src"))
        depths = (
            p.select("title")
            .where(F.col("title").isin(*seeds))
            .select("title", F.lit(0).cast("long").alias("depth"))
        )
        dump(
            "g5_bfs_depths",
            warm(depths, partial(_relax_round, e, F.col("d.depth") + 1)),
        )

    # ---- truss: eager rounds, the operator's own truncation
    with staged(cocitation_edges(pages).select("a", "b")) as (e, parts, _):
        dump(
            "g13_truss_edges",
            warm(e, lambda x: _truss_round(x, 4, parts)[0], eager=True),
        )

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
