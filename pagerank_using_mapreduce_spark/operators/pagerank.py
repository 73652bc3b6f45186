"""PageRank: the reference's 13-job MapReduce pipeline as one declarative
Spark program.

Reference shape (PageRankAlgorithm.java:60-136): ① count N → ② parse
link graph → ③ 10× rank iterations → ④ global sort, with 13 full HDFS
materializations and no combiners.  Here: the corpus is parsed once and
persisted; N is a plain action; each iteration is `join → partial+final
aggregate → left join`; the static adjacency is persisted and
hash-partitioned once instead of being re-shipped through every shuffle
(the reference's "^"+links passthrough, PageRankAlgorithm.java:334,
381-383, moves the full link structure through the network 10 times).

Semantics preserved exactly (SURVEY.md §7.4):
- un-normalized Brin-Page recurrence ``new = (1-d) + d·Σ rank/outdeg``
  (PageRankAlgorithm.java:356-361,395) — teleport NOT divided by N;
- phantom link targets dropped every iteration (the "!" existence
  marker, PageRankAlgorithm.java:330,376-379) — expressed as the join
  direction: new ranks are computed FROM the pages relation;
- duplicate links each count toward outdegree and contribution
  (PageRankAlgorithm.java:336-340) — ``collect_list``/``explode``,
  never ``collect_set``/``array_distinct``;
- dangling pages keep receiving the (1-d) baseline but contribute
  nothing (mass leaks, no renormalization);
- fixed iteration count, no convergence test (PageRankAlgorithm.java:98).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textops import extract_links, extract_text_full, extract_title
from .scale import cache, iterate, staged, truncate_lineage

DAMPING = 0.85
ITERATIONS = 10


def parse_corpus(corpus: DataFrame) -> DataFrame:
    """corpus(raw) → pages(title, links array<string>).

    The reference's LinkGraphMapper + LinkGraphReducer (PageRankAlgorithm
    .java:207-315) minus the rank column (added by :func:`link_graph`).
    The groupBy mirrors the reducer's concatenation of per-mapper link
    lists for a repeated title (PageRankAlgorithm.java:298-314);
    duplicates inside a page are preserved.
    """
    parsed = (
        corpus.where(F.length("raw") > 0)  # F1
        .select(
            extract_title("raw").alias("title"),
            extract_links(extract_text_full("raw")).alias("links"),
        )
        .where(F.col("title") != "")  # F2/F4
    )
    return parsed.groupBy("title").agg(
        # F.filter: guard against empty-string targets, the one artifact
        # of the reference's multi-line-doc path (SURVEY.md §7.4.2).
        F.filter(F.flatten(F.collect_list("links")), lambda x: x != "").alias("links")
    )


def count_n(pages: DataFrame) -> int:
    """A1: N = number of distinct page titles.  The reference burns a
    whole MapReduce job + a counter for this (PageRankAlgorithm.java:
    146-201); here it is one action over the already-parsed corpus
    (titles are distinct post-groupBy)."""
    return pages.count()


def link_graph(pages: DataFrame, n: int) -> DataFrame:
    """A2+A3: attach the initial rank 1/N (PageRankAlgorithm.java:300-304)."""
    return pages.select("title", F.lit(1.0 / n).alias("rank"), "links")


def edges(pages: DataFrame) -> DataFrame:
    """J2 prep: one row per link *occurrence* (duplicates preserved),
    with the source outdegree (PageRankAlgorithm.java:336-340).

    outdeg is computed before the explode so each occurrence carries
    the full duplicate-counting degree.
    """
    return (
        pages.where(F.size("links") > 0)
        .select(
            F.col("title").alias("src"),
            F.size("links").alias("outdeg"),
            F.explode("links").alias("dst"),
        )
    )


def _stage(pages, n=None, mark_seeds=None, weigh=None):
    """Stage the static relations once (scale.staged) → (titles, e, n):
    ``titles`` hash-partitioned on title and ``e`` (:func:`edges`) on
    src, both persisted, so each round shuffles only the small
    (title, rank) relation, never the adjacency.  ``mark_seeds`` maps
    the title relation before partitioning (the is_seed flag);
    ``weigh`` maps the partitioned edges (a co-partitioned per-source
    total — built before the repartition it would add an Exchange)."""
    with staged(pages, n) as (p, parts, n):
        titles = p.select("title")
        if mark_seeds is not None:
            titles = mark_seeds(titles)
        e = edges(p).repartition(parts, "src")
        if weigh is not None:
            e = weigh(e)
        titles, e = cache(titles.repartition(parts, "title"), e)
    return titles, e, n


def _empty(titles: DataFrame, *extra) -> DataFrame:
    """Empty corpus: the reference would divide by zero building 1/N
    ranks (PageRankAlgorithm.java:302); return no rows instead."""
    rank = F.lit(0.0).alias("rank")
    return titles.select("title", rank, *extra).where(F.lit(False))


def _rank_round(titles, e, contrib, teleport, damping, ranks) -> DataFrame:
    """One round, ``join → partial+final sum → left join``: ``contrib``
    (over aliases ``e``/``r``) is summed per target with map-side
    partials; the left join FROM ``titles`` (alias ``t``) is the
    valid-page gate (F3) — phantom targets never survive, linkless pages
    keep the ``teleport`` baseline via coalesce (the reducer's sum=0
    path).  Also called by tools/dump_round_plans.py."""
    contribs = (
        e.alias("e")
        .join(ranks.alias("r"), F.col("e.src") == F.col("r.title"))
        .select(F.col("e.dst").alias("dst"), contrib.alias("contrib"))
    )
    mass = contribs.groupBy("dst").agg(F.sum("contrib").alias("mass"))
    return (
        titles.alias("t")
        .join(mass.alias("m"), F.col("t.title") == F.col("m.dst"), "left")
        .select(
            F.col("t.title").alias("title"),
            (
                teleport
                + F.lit(damping) * F.coalesce(F.col("m.mass"), F.lit(0.0))
            ).alias("rank"),
        )
    )


def pagerank(
    pages: DataFrame,
    *,
    n: int | None = None,
    iterations: int = ITERATIONS,
    damping: float = DAMPING,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """I1 + J1/J2 + A4/A5: the full fixed-point loop → (title, rank).

    Scale notes (target: 1000-executor cluster, edges ≫ memory):
    - the static relations (titles, edges) are hash-partitioned on the
      join key once and persisted (:func:`_stage`), so per-iteration
      joins only shuffle the small (title, rank) relation;
    - lineage is truncated every round (scale.iterate): a lazy
      ``localCheckpoint`` by default, so the plan depth stays O(1) and
      no round pays a dedicated materialization job.  Lazy is not
      deferred: under AQE the truncation runs each round's shuffle
      stages when it is called (at sf0.1 on ``local[4]``: 50 jobs
      while this function runs, 2 on the ``count()`` after it).  On a
      session with a checkpoint dir each round is written as a
      RELIABLE checkpoint (restart durability on a cluster), which
      computes the round a second time, and the superseded round's
      files are deleted;
    - ``init_ranks`` (a (title, rank) DataFrame) WARM-STARTS the loop
      from a prior state instead of uniform 1/N — the restart path: a
      100 TB job killed at iteration k resumes from its checkpointed
      ranks and the remaining iterations produce exactly what the
      uninterrupted run would have (the recurrence only depends on the
      current rank vector).  Proven through the hash gate: warm-start
      4+6 ≡ straight 10 (`i3_warm_start`).
    """
    titles, e, n = _stage(pages, n)
    if n == 0:
        return _empty(titles)
    if init_ranks is not None:
        ranks = init_ranks.select("title", "rank")
    else:
        ranks = titles.select("title", F.lit(1.0 / n).alias("rank"))
    contrib = F.col("r.rank") / F.col("e.outdeg")
    teleport = F.lit(1.0 - damping)
    step = partial(_rank_round, titles, e, contrib, teleport, damping)
    return iterate(ranks, step, rounds=iterations)[0]


def weighted_pagerank(
    pages: DataFrame,
    *,
    n: int | None = None,
    iterations: int = ITERATIONS,
    damping: float = DAMPING,
) -> DataFrame:
    """Edge-weighted PageRank: a source splits its rank over out-edges
    proportionally to edge WEIGHT (w / Σw) instead of uniformly
    (1 / outdeg) — link strength (co-citation counts, anchor
    frequency) biases the walk.  Same un-normalized recurrence and
    phantom-gate semantics as :func:`pagerank`
    (PageRankAlgorithm.java:96-114 with the 1/outdeg split replaced).

    Weights are the deterministic 1..5 integers derived from the
    target title (operators/graph.py:edge_weight — same derivation as
    g8's SSSP so both engines agree bit-for-bit).  The per-source
    total rides the persisted static edge relation, computed ONCE by a
    co-partitioned self-aggregate before the loop: per-iteration cost
    is identical to the unweighted loop (one join + one partial-agg
    sum over the moving rank relation)."""
    from .graph import edge_weight

    def weigh(e: DataFrame) -> DataFrame:
        we = e.select("src", "dst", edge_weight(F.col("dst")).alias("w"))
        wtot = we.groupBy("src").agg(F.sum("w").alias("wout"))
        return we.join(wtot, "src")  # co-partitioned: no extra shuffle

    titles, e, n = _stage(pages, n, weigh=weigh)
    if n == 0:
        return _empty(titles)
    ranks = titles.select("title", F.lit(1.0 / n).alias("rank"))
    contrib = F.col("r.rank") * F.col("e.w") / F.col("e.wout")
    teleport = F.lit(1.0 - damping)
    step = partial(_rank_round, titles, e, contrib, teleport, damping)
    return iterate(ranks, step, rounds=iterations)[0]


SEED_ISIN_MAX = 64  # above this, seeds go cluster-side via broadcast join


def personalized_pagerank(
    pages: DataFrame,
    sources: list[str],
    *,
    iterations: int = ITERATIONS,
    damping: float = DAMPING,
    seed_isin_max: int = SEED_ISIN_MAX,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns only to ``sources``
    (uniformly), not to every page — relevance ranking *relative to a
    seed set* (query-biased ranking, related-page discovery).  An
    extension of the reference's global recurrence
    (PageRankAlgorithm.java:96-114): same un-normalized update with the
    constant (1-d) term replaced by ``(1-d)/|S|·[v ∈ S]``.

    Same scale skeleton as :func:`pagerank`.  Seed-set channel by size:
    up to ``seed_isin_max`` seeds fold into the plan as an ``isin``
    literal (S4 channel — zero extra joins); above that, the seeds
    become a DataFrame broadcast-joined onto the static title relation
    ONCE before the loop (an is_seed flag column rides the persisted
    relation, so the per-iteration plans are identical either way and a
    million-seed set never serializes into the query plan).
    """
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    spark = pages.sparkSession

    def mark_seeds(titles: DataFrame) -> DataFrame:
        if len(sources) <= seed_isin_max:
            return titles.select(
                "title", F.col("title").isin(*sources).alias("is_seed")
            )
        seeds_df = spark.createDataFrame(
            [(t,) for t in sources], "title string"
        ).withColumn("is_seed", F.lit(True))
        return titles.join(F.broadcast(seeds_df), "title", "left").select(
            "title", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
        )

    titles, e, n = _stage(pages, mark_seeds=mark_seeds)
    if n == 0:
        return _empty(titles)
    s = float(len(sources))
    init = F.when(F.col("is_seed"), F.lit(1.0 / s)).otherwise(F.lit(0.0))
    ranks = titles.select("title", init.alias("rank"))
    contrib = F.col("r.rank") / F.col("e.outdeg")
    teleport = F.when(
        F.col("t.is_seed"), F.lit((1.0 - damping) / s)
    ).otherwise(F.lit(0.0))
    step = partial(_rank_round, titles, e, contrib, teleport, damping)
    return iterate(ranks, step, rounds=iterations)[0]


def pagerank_until(
    pages: DataFrame,
    *,
    tol: float = 1e-6,
    max_iterations: int = 50,
    damping: float = DAMPING,
) -> DataFrame:
    """Convergence-terminated PageRank — an extension the reference
    deliberately lacks (fixed 10 rounds, README.md:70): iterate until
    ``max |Δrank| < tol`` or ``max_iterations``.

    The delta check is one extra action per iteration (a max over the
    joined old/new relation — small, same partitioning, no extra wide
    op on the adjacency).  Ranks are referenced twice per round (the
    contribution join and the delta join), which is why the per-round
    truncation matters most here: without it the analyzed plan doubles
    per round.  Returns (title, rank, iterations) with the iteration
    count that achieved convergence on every row.
    """
    titles, e, n = _stage(pages)
    if n == 0:
        return _empty(titles, F.lit(0).alias("iterations"))
    ranks = truncate_lineage(
        titles.select("title", F.lit(1.0 / n).alias("rank"))
    )
    contrib = F.col("r.rank") / F.col("e.outdeg")
    teleport = F.lit(1.0 - damping)

    def converged(old: DataFrame, new: DataFrame) -> bool:
        # one driver scalar per round: max |Δrank| over the old/new join
        return (
            new.alias("n")
            .join(old.alias("o"), "title")
            .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
            .first()["d"]
            < tol
        )

    step = partial(_rank_round, titles, e, contrib, teleport, damping)
    ranks, done = iterate(ranks, step, rounds=max_iterations, stop=converged)
    return ranks.select("title", "rank", F.lit(done).alias("iterations"))


def ranking(ranks: DataFrame, with_position: bool = False) -> DataFrame:
    """O1: global descending sort by rank, title as deterministic
    tiebreak (the reference's tie order is shuffle-arrival order,
    PageRankAlgorithm.java:432 — documented deviation, SURVEY.md §7.4.6).

    ``orderBy`` range-partitions after sampling → a parallel total sort,
    replacing the reference's single-reducer bottleneck
    (PageRankAlgorithm.java:117-129).  ``with_position`` adds a global
    row_number via the parallel offset operator (operators/ranking.py)
    — never a single-partition window.
    """
    if with_position:
        from .ranking import with_global_position

        return with_global_position(
            ranks, [F.desc("rank"), F.asc("title")]
        ).select("title", "rank", "pos")
    return ranks.orderBy(F.desc("rank"), F.asc("title"))


def top_k(ranks: DataFrame, k: int) -> DataFrame:
    """Natural extension (no LIMIT exists in the reference): TakeOrdered
    — per-partition top-k then merge, no global sort."""
    return ranks.orderBy(F.desc("rank"), F.asc("title")).limit(k)
